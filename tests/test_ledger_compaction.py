"""Crash consistency of ledger compaction: kill the compactor between
any two steps of the `ledger_compaction` commit protocol and the read
side must return the EXACT pre-compaction answer — in particular the
CMS counter sums and every ledger's n_rows, the quantities the old
write-then-delete sequence could silently double-count forever. Also
pins the heavy-hitter `max_batches_hint` precondition enforcement."""

from __future__ import annotations

from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from data_pipeline_project_using_telegram_and_aws_spark.operators.frequency import cms_ledger
from data_pipeline_project_using_telegram_and_aws_spark.streaming import ledger_compaction
from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
    _land,
    compact_stat_ledger,
    counts_so_far,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("item", T.StringType()),
    ]
)


def _chunk(spark, id_start, n):
    return spark.range(id_start, id_start + n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), 1000) / 10.0).alias("x"),
        F.when(F.col("id") % 5 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold_"), F.col("id")))
        .alias("item"),
    )


def _cms_fixture(spark, tmp_path):
    led = str(tmp_path / "cled")
    for bid, (s, n) in enumerate([(0, 1500), (4000, 1200), (9000, 900)]):
        _land(
            cms_ledger(_chunk(spark, s, n), "item", depth=4, width=256),
            bid,
            led,
        )
    items = spark.createDataFrame([("hot",)], "item string")

    def hot_est():
        return counts_so_far(spark, led, items, depth=4, width=256).collect()[
            0
        ]["est"]

    return led, hot_est


def test_hll_ledger_n_rows_survives_mid_compaction_crash(
    spark, tmp_path, monkeypatch
):
    """Same kill-between-steps check for the HLL ledger: the estimate
    was always union-idempotent, but n_rows is a sum and used to be
    double-countable in exactly the same window."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming import sketch_ledger as skl
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.sketch_ledger import (
        append_sketch_batch,
        compact_ledger,
        ledger_distinct_so_far,
    )

    led = str(tmp_path / "hll")
    for bid, (s, n) in enumerate([(0, 1000), (5000, 800), (9000, 600)]):
        append_sketch_batch(_chunk(spark, s, n), bid, led, "doc_id")
    before = ledger_distinct_so_far(spark, led).collect()[0]

    def boom(path, through):
        raise RuntimeError("injected crash before partition deletion")

    monkeypatch.setattr(skl, "delete_folded", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_ledger(spark, led, through_batch=1)
    monkeypatch.undo()

    after = ledger_distinct_so_far(spark, led).collect()[0]
    assert after["n_rows"] == before["n_rows"] == 2400
    assert after["distinct_est"] == before["distinct_est"]

    compact_ledger(spark, led, through_batch=2)
    final = ledger_distinct_so_far(spark, led).collect()[0]
    assert final["n_rows"] == 2400


def test_heavy_hitter_hint_is_enforced(spark, tmp_path):
    """A stream whose batch ids reach max_batches_hint fails loudly by
    default (the recall guarantee is broken, not degraded silently);
    warn mode keeps running with the bar lowered from that batch on."""
    from pyspark.errors import StreamingQueryException

    from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
        start_cms_ledger_stream_with_candidates,
    )

    src = tmp_path / "src"
    src.mkdir()
    for b in range(3):
        _chunk(spark, b * 10_000, 500).coalesce(1).write.parquet(
            str(src / f"b{b}.parquet")
        )

    with pytest.raises(StreamingQueryException, match="max_batches_hint"):
        start_cms_ledger_stream_with_candidates(
            spark, str(src) + "/*", SCHEMA,
            str(tmp_path / "led_f"), str(tmp_path / "cand_f"), "item",
            phi=0.05, max_batches_hint=2, depth=4, width=256,
            checkpoint_dir=str(tmp_path / "ck_f"), max_files_per_trigger=1,
        ).awaitTermination(180)

    # warn mode: all three batches land, including the post-hint one
    start_cms_ledger_stream_with_candidates(
        spark, str(src) + "/*", SCHEMA,
        str(tmp_path / "led_w"), str(tmp_path / "cand_w"), "item",
        phi=0.05, max_batches_hint=2, depth=4, width=256,
        checkpoint_dir=str(tmp_path / "ck_w"), max_files_per_trigger=1,
        on_hint_exceeded="warn",
    ).awaitTermination(180)
    parts = {
        p.name for p in (tmp_path / "cand_w").glob("ingest_batch=*")
    }
    assert parts == {f"ingest_batch={b}" for b in range(3)}

    with pytest.raises(ValueError, match="fail | warn"):
        start_cms_ledger_stream_with_candidates(
            spark, str(src) + "/*", SCHEMA,
            str(tmp_path / "led_x"), str(tmp_path / "cand_x"), "item",
            phi=0.05, max_batches_hint=2, on_hint_exceeded="explode",
        )


def test_manifest_crash_between_commit_and_delete_never_double_counts(
    spark, tmp_path, monkeypatch
):
    """Post-commit crash: pointer moved, folded partitions still on
    disk. The manifest horizon must keep every reader from summing the
    folded mass twice — THE regression for the old write-then-delete
    hazard, under the commit model an object store can honor."""
    led, hot_est = _cms_fixture(spark, tmp_path)
    before = hot_est()

    import data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers as sl

    def boom(path, through):
        raise RuntimeError("injected crash before partition deletion")

    monkeypatch.setattr(sl, "delete_folded", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_stat_ledger(spark, led, 1, "cms")
    monkeypatch.undo()

    assert (Path(led) / ".baseline_v0").exists()
    assert ledger_compaction.compacted_through(led) == 1
    assert hot_est() == before

    # convergence: a later manifest compaction sweeps everything
    compact_stat_ledger(spark, led, 2, "cms")
    assert hot_est() == before
    assert not any(Path(led).glob("ingest_batch=*"))
    versions = [d.name for d in Path(led).glob(".baseline_v*")]
    assert versions == [".baseline_v1"]


def test_manifest_crash_before_commit_is_a_clean_rollback(
    spark, tmp_path, monkeypatch
):
    """Kill at the pointer replace: the versioned dir and tmp manifest
    are unreferenced garbage; reads are the exact pre-compaction
    answer and leave the garbage alone (a reader must never delete a
    live compactor's write); the retry sweeps + converges. With a
    prior baseline in place, the same kill keeps the OLD baseline and
    horizon live."""
    led, hot_est = _cms_fixture(spark, tmp_path)
    before = hot_est()

    def boom(src, dst):
        raise RuntimeError("injected crash at manifest replace")

    monkeypatch.setattr(ledger_compaction, "_replace", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_stat_ledger(spark, led, 1, "cms")
    monkeypatch.undo()

    assert (Path(led) / ".baseline_v0").exists()  # orphaned, unreferenced
    assert (Path(led) / "_baseline_manifest.tmp").exists()
    assert ledger_compaction.compacted_through(led) is None
    assert hot_est() == before
    assert (Path(led) / ".baseline_v0").exists()

    compact_stat_ledger(spark, led, 1, "cms")
    assert hot_est() == before
    assert not (Path(led) / "_baseline_manifest.tmp").exists()
    assert ledger_compaction.compacted_through(led) == 1

    monkeypatch.setattr(ledger_compaction, "_replace", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_stat_ledger(spark, led, 2, "cms")
    monkeypatch.undo()
    assert ledger_compaction.compacted_through(led) == 1
    assert hot_est() == before


_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 5)),
        st.tuples(
            st.just("compact"),
            st.sampled_from(
                ["none", "pre_commit", "post_replace", "post_commit"]
            ),
        ),
    ),
    min_size=2,
    max_size=5,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(_ops)
def test_manifest_compaction_model_check(spark, tmp_path_factory, ops):
    """Model check: under ANY interleaving of appends and compactions —
    each crashing at the pointer replace, right after the committed
    replace with zero cleanup, after commit before deletion, or not at
    all — the ledger's point estimates stay bit-identical to a shadow
    twin that received the same appends and was NEVER compacted.
    Counter-sum associativity makes the shadow the exact oracle; any
    double-count, drop, or horizon bug breaks the equality."""
    import data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers as sl

    tmp_path = tmp_path_factory.mktemp("mmodel")
    main, shadow = str(tmp_path / "main"), str(tmp_path / "shadow")
    items = spark.createDataFrame([("hot",), ("cold_3",)], "item string")

    def est(path):
        return sorted(
            (r["item"], r["est"])
            for r in counts_so_far(
                spark, path, items, depth=2, width=64
            ).collect()
        )

    real_replace = ledger_compaction._replace
    real_delete = sl.delete_folded
    next_batch = 0
    appended = False
    for op in ops:
        if op[0] == "append":
            chunk = _chunk(spark, op[1] * 1000, 120)
            rows = cms_ledger(chunk, "item", depth=2, width=64)
            _land(rows, next_batch, main)
            _land(rows, next_batch, shadow)
            next_batch += 1
            appended = True
        else:
            if not appended:
                continue
            crash = op[1]

            def flaky_replace(src, dst, _m=crash):
                if _m == "pre_commit":
                    raise RuntimeError("injected pre_commit")
                real_replace(src, dst)
                if _m == "post_replace":
                    raise RuntimeError("injected post_replace")

            def flaky_delete(path, through):
                raise RuntimeError("injected post_commit")

            ledger_compaction._replace = flaky_replace
            sl.delete_folded = (
                flaky_delete if crash == "post_commit" else real_delete
            )
            try:
                compact_stat_ledger(spark, main, next_batch - 1, "cms")
            except RuntimeError:
                pass
            finally:
                ledger_compaction._replace = real_replace
                sl.delete_folded = real_delete
        assert est(main) == est(shadow), (op, ops)

    # a final clean compaction converges and still agrees
    if appended:
        compact_stat_ledger(spark, main, next_batch - 1, "cms")
        assert est(main) == est(shadow), ops
        assert not any(Path(main).glob("ingest_batch=*")), ops
        assert len(list(Path(main).glob(".baseline_v*"))) == 1, ops
