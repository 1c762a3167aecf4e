"""Streaming quantile/CMS ledger maintenance: batch-parity of the
streamed ledgers, read-side merges matching single-pass builds, replay
idempotence via the ingest_batch partitions, and checkpointed resume
(new files only, no re-ingestion)."""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from data_pipeline_project_using_telegram_and_aws_spark.operators.frequency import (
    cms_ledger,
    estimate_counts,
)
from data_pipeline_project_using_telegram_and_aws_spark.operators.quantile_sketch import (
    ledger_quantiles,
    quantile_ledger,
)
from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
    counts_so_far,
    quantiles_so_far,
    start_cms_ledger_stream,
    start_quantile_ledger_stream,
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


def test_quantile_stream_matches_batch_build(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    led = str(tmp_path / "led")
    ckpt = str(tmp_path / "ckpt")
    _chunk(spark, 0, 2000).coalesce(1).write.parquet(str(src / "a.parquet"))
    _chunk(spark, 5000, 1500).coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    start_quantile_ledger_stream(
        spark, str(src) + "/*", SCHEMA, led, "x", "doc_id", k=128,
        checkpoint_dir=ckpt,
    ).awaitTermination(120)

    got = quantiles_so_far(spark, led, [0.5], k=128).collect()[0]
    full = _chunk(spark, 0, 2000).unionByName(_chunk(spark, 5000, 1500))
    want = ledger_quantiles(
        quantile_ledger(full, "x", "doc_id", k=128), [0.5]
    ).collect()[0]
    assert got["sample"] == want["sample"]  # bit-equal bottom-k
    assert got["q_0_5"] == want["q_0_5"]
    assert got["n_rows"] == want["n_rows"] == 3500

    # restart with nothing new: ledger unchanged (checkpoint resume)
    n_before = spark.read.parquet(led).count()
    start_quantile_ledger_stream(
        spark, str(src) + "/*", SCHEMA, led, "x", "doc_id", k=128,
        checkpoint_dir=ckpt,
    ).awaitTermination(120)
    assert spark.read.parquet(led).count() == n_before


def test_cms_stream_matches_batch_build(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    led = str(tmp_path / "led")
    ckpt = str(tmp_path / "ckpt")
    _chunk(spark, 0, 3000).coalesce(1).write.parquet(str(src / "a.parquet"))
    _chunk(spark, 9000, 2000).coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    start_cms_ledger_stream(
        spark, str(src) + "/*", SCHEMA, led, "item", depth=4, width=512,
        checkpoint_dir=ckpt,
    ).awaitTermination(120)

    items = spark.createDataFrame([("hot",)], "item string")
    got = counts_so_far(spark, led, items, depth=4, width=512).collect()[0]
    full = _chunk(spark, 0, 3000).unionByName(_chunk(spark, 9000, 2000))
    want = estimate_counts(
        cms_ledger(full, "item", depth=4, width=512), items,
        depth=4, width=512,
    ).collect()[0]
    assert got["est"] == want["est"]  # streamed merge == one pass
    assert got["est"] >= 1000  # 1/5 of 5000 rows, never undercounts


def _batches(ledger):
    return {
        r["ingest_batch"]
        for r in ledger.select("ingest_batch").distinct().collect()
    }


def test_compaction_preserves_answers(spark, tmp_path):
    """Folding old batch partitions into the -1 baseline changes no
    answer: quantile samples stay bit-identical (set-union merge is
    exact), CMS point estimates stay equal (counter sums); folded
    partitions disappear, the baseline appears."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.ledger_compaction import (
        compacted_through,
        read_ledger,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
        compact_stat_ledger,
    )

    qled = str(tmp_path / "q")
    cled = str(tmp_path / "c")
    for bid, (s, n) in enumerate([(0, 1500), (4000, 1200), (9000, 800)]):
        chunk = _chunk(spark, s, n)
        from data_pipeline_project_using_telegram_and_aws_spark.operators.quantile_sketch import (
            quantile_ledger,
        )
        from data_pipeline_project_using_telegram_and_aws_spark.operators.frequency import (
            cms_ledger,
        )
        from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
            _land,
        )

        _land(quantile_ledger(chunk, "x", "doc_id", k=64), bid, qled)
        _land(cms_ledger(chunk, "item", depth=4, width=256), bid, cled)

    items = spark.createDataFrame([("hot",)], "item string")
    q_before = quantiles_so_far(spark, qled, [0.5], k=64).collect()[0]
    c_before = counts_so_far(
        spark, cled, items, depth=4, width=256
    ).collect()[0]["est"]

    compact_stat_ledger(spark, qled, 1, "quantile", k=64)
    compact_stat_ledger(spark, cled, 1, "cms")

    q_after = quantiles_so_far(spark, qled, [0.5], k=64).collect()[0]
    c_after = counts_so_far(
        spark, cled, items, depth=4, width=256
    ).collect()[0]["est"]
    assert q_after["sample"] == q_before["sample"]
    assert q_after["n_rows"] == q_before["n_rows"]
    assert c_after == c_before

    for path in (qled, cled):
        assert compacted_through(path) == 1
        assert _batches(read_ledger(spark, path)) == {-1, 2}


def test_streamed_heavy_hitters_guaranteed_recall(spark, tmp_path):
    """The streamed harvest + merged CMS recovers every true all-time
    heavy hitter across batches — including one whose mass is SPREAD
    over batches (heavy overall, unremarkable per batch beyond the
    φ/hint bar) — and nothing reported undercounts."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
        heavy_hitters_so_far,
        start_cms_ledger_stream_with_candidates,
    )

    src = tmp_path / "src"
    src.mkdir()
    led = str(tmp_path / "led")
    cand = str(tmp_path / "cand")
    ckpt = str(tmp_path / "ck")
    for b in range(3):
        _chunk(spark, b * 10_000, 2000).coalesce(1).write.parquet(
            str(src / f"b{b}.parquet")
        )
    start_cms_ledger_stream_with_candidates(
        spark, str(src) + "/*", SCHEMA, led, cand, "item",
        phi=0.05, max_batches_hint=16, depth=4, width=1024,
        checkpoint_dir=ckpt,
    ).awaitTermination(180)

    got = {
        r["item"]: r["est"]
        for r in heavy_hitters_so_far(
            spark, led, cand, phi=0.05, depth=4, width=1024
        ).collect()
    }
    # truth: 'hot' is 1/5 of all 6000 rows = 20% — far above φ=5%
    full = (
        _chunk(spark, 0, 2000)
        .unionByName(_chunk(spark, 10_000, 2000))
        .unionByName(_chunk(spark, 20_000, 2000))
    )
    truth = {
        r["item"]: r["c"]
        for r in full.groupBy("item").agg(F.count("*").alias("c")).collect()
    }
    heavy = {k for k, c in truth.items() if c >= 0.05 * 6000}
    assert heavy == {"hot"}
    assert set(got) >= heavy  # guaranteed recall
    for item, est in got.items():
        assert est >= truth[item]  # one-sided


def test_candidate_compaction_preserves_heavy_hitters(spark, tmp_path):
    """Folding candidate partitions into the deduped baseline changes
    no heavy-hitter answer; folded partitions disappear; re-compacting
    is a no-op (set semantics)."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.ledger_compaction import (
        compacted_through,
        read_ledger,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
        compact_candidates,
        heavy_hitters_so_far,
        start_cms_ledger_stream_with_candidates,
    )

    src = tmp_path / "src"
    src.mkdir()
    led = str(tmp_path / "led")
    cand = str(tmp_path / "cand")
    for b in range(3):
        _chunk(spark, b * 10_000, 1500).coalesce(1).write.parquet(
            str(src / f"b{b}.parquet")
        )
    start_cms_ledger_stream_with_candidates(
        spark, str(src) + "/*", SCHEMA, led, cand, "item",
        phi=0.05, max_batches_hint=16, depth=4, width=512,
        checkpoint_dir=str(tmp_path / "ck"), max_files_per_trigger=1,
    ).awaitTermination(180)

    before = sorted(
        map(
            str,
            heavy_hitters_so_far(
                spark, led, cand, phi=0.05, depth=4, width=512
            ).collect(),
        )
    )
    compact_candidates(spark, cand, through_batch=1)
    after = sorted(
        map(
            str,
            heavy_hitters_so_far(
                spark, led, cand, phi=0.05, depth=4, width=512
            ).collect(),
        )
    )
    assert after == before
    assert compacted_through(cand) == 1
    assert _batches(read_ledger(spark, cand)) == {-1, 2}
    compact_candidates(spark, cand, through_batch=2)
    final = sorted(
        map(
            str,
            heavy_hitters_so_far(
                spark, led, cand, phi=0.05, depth=4, width=512
            ).collect(),
        )
    )
    assert final == before


def test_heavy_hitters_in_range_and_compaction_horizon(spark, tmp_path):
    """Recent-range heavy hitters: an item hot ONLY in the latest
    batch clears φ on the suffix while staying invisible all-time; a
    range reaching into compacted history raises instead of silently
    missing the folded mass; a range inside the unfolded suffix still
    answers after compaction."""
    import pytest

    from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
        _land,
        compact_candidates,
        compact_stat_ledger,
        heavy_hitters_in_range,
        heavy_hitters_so_far,
    )

    led, cand = str(tmp_path / "led"), str(tmp_path / "cand")
    phi = 0.3

    def batch_rows(items):
        return spark.createDataFrame(
            [(i, x) for i, x in enumerate(items)], "doc_id long, item string"
        )

    # batches 0/1: uniform cold items; batch 2: 'late' takes half
    batches = [
        [f"c{i}" for i in range(20)],
        [f"d{i}" for i in range(20)],
        ["late"] * 10 + [f"e{i}" for i in range(10)],
    ]
    for bid, items in enumerate(batches):
        b = batch_rows(items)
        _land(cms_ledger(b, "item", depth=4, width=512), bid, led)
        counts = b.groupBy("item").agg(F.count("*").alias("batch_count"))
        _land(
            counts.filter(F.col("batch_count") >= phi / 16 * len(items)),
            bid,
            cand,
        )

    alltime = {
        r["item"]
        for r in heavy_hitters_so_far(
            spark, led, cand, phi, depth=4, width=512
        ).collect()
    }
    assert "late" not in alltime  # 10/60 < 30%
    recent = {
        r["item"]: r["share_est"]
        for r in heavy_hitters_in_range(
            spark, led, cand, phi, since_batch=1, depth=4, width=512
        ).collect()
    }
    assert "late" in recent  # 10/20 = 50% of the suffix
    assert recent["late"] >= 0.5

    compact_stat_ledger(spark, led, 1, "cms")
    compact_candidates(spark, cand, 1)
    with pytest.raises(ValueError, match="compacted through batch 1"):
        heavy_hitters_in_range(
            spark, led, cand, phi, since_batch=0, depth=4, width=512
        )
    still = {
        r["item"]
        for r in heavy_hitters_in_range(
            spark, led, cand, phi, since_batch=1, depth=4, width=512
        ).collect()
    }
    assert "late" in still  # the unfolded suffix still answers


def test_range_reads_match_suffix_rebuilds(spark, tmp_path):
    """quantiles_in_range / counts_in_range / distinct_in_range equal
    a from-scratch build over only the suffix batches, and all three
    raise once the range reaches into compacted history."""
    import pytest

    from data_pipeline_project_using_telegram_and_aws_spark.operators.quantile_sketch import (
        ledger_quantiles,
        quantile_ledger,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.sketch_ledger import (
        append_sketch_batch,
        compact_ledger,
        distinct_in_range,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
        _land,
        compact_stat_ledger,
        counts_in_range,
        quantiles_in_range,
    )

    qled = str(tmp_path / "q")
    cled = str(tmp_path / "c")
    hled = str(tmp_path / "h")
    chunks = [(0, 900), (4000, 700), (9000, 500)]
    for bid, (s, n) in enumerate(chunks):
        ch = _chunk(spark, s, n)
        _land(quantile_ledger(ch, "x", "doc_id", k=64), bid, qled)
        _land(cms_ledger(ch, "item", depth=4, width=256), bid, cled)
        append_sketch_batch(ch, bid, hled, "doc_id")

    suffix = _chunk(spark, 4000, 700).unionByName(_chunk(spark, 9000, 500))
    q_want = ledger_quantiles(
        quantile_ledger(suffix, "x", "doc_id", k=64), [0.5]
    ).collect()[0]
    q_got = quantiles_in_range(
        spark, qled, [0.5], since_batch=0, k=64
    ).collect()[0]
    assert q_got["sample"] == q_want["sample"]
    assert q_got["n_rows"] == 1200

    items = spark.createDataFrame([("hot",)], "item string")
    c_want = estimate_counts(
        cms_ledger(suffix, "item", depth=4, width=256), items,
        depth=4, width=256,
    ).collect()[0]["est"]
    c_got = counts_in_range(
        spark, cled, items, since_batch=0, depth=4, width=256
    ).collect()[0]["est"]
    assert c_got == c_want

    d = distinct_in_range(spark, hled, since_batch=0).collect()[0]
    assert d["n_rows"] == 1200

    compact_stat_ledger(spark, qled, 0, "quantile", k=64)
    compact_stat_ledger(spark, cled, 0, "cms")
    compact_ledger(spark, hled, 0)
    # horizon: since_batch=-1 reaches the folded batch 0 -> raise
    with pytest.raises(ValueError, match="compacted through batch 0"):
        quantiles_in_range(spark, qled, [0.5], since_batch=-1, k=64)
    with pytest.raises(ValueError, match="compacted through batch 0"):
        counts_in_range(spark, cled, items, since_batch=-1)
    with pytest.raises(ValueError, match="compacted through batch 0"):
        distinct_in_range(spark, hled, since_batch=-1)
    # ranges inside the unfolded suffix still answer identically
    assert (
        quantiles_in_range(spark, qled, [0.5], since_batch=0, k=64)
        .collect()[0]["sample"]
        == q_want["sample"]
    )


_NGRAM_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _ngram_docs(spark, rows):
    return spark.createDataFrame(rows, _NGRAM_DOCS_SCHEMA)


def test_ngram_profile_stream_matches_batch_build(spark, tmp_path):
    """Streamed per-batch profiles sum-merge to EXACTLY the one-pass
    profile of the whole corpus (additive counters, no estimator), and
    the merged profile drives a DSIR ratio refresh identical to the
    batch path."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dsir import (
        dsir_log_ratios,
        hashed_ngram_profile,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
        profile_so_far,
        start_ngram_profile_ledger_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    led = str(tmp_path / "led")
    a = [(1, "spark shuffle exchange"), (2, "catalyst pushes filters")]
    b = [(3, "spark shuffle again"), (4, "pasta with garlic")]
    _ngram_docs(spark, a).coalesce(1).write.parquet(str(src / "a.parquet"))
    _ngram_docs(spark, b).coalesce(1).write.parquet(str(src / "b.parquet"))
    start_ngram_profile_ledger_stream(
        spark, str(src) + "/*", _NGRAM_DOCS_SCHEMA, led,
        n_buckets=128, checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination(120)

    got = {r.bucket: r.cnt for r in profile_so_far(spark, led).collect()}
    want = {
        r.bucket: r.cnt
        for r in hashed_ngram_profile(
            _ngram_docs(spark, a + b), n_buckets=128
        ).collect()
    }
    assert got == want

    tgt = hashed_ngram_profile(
        _ngram_docs(spark, [(9, "spark spark shuffle")]), n_buckets=128
    )
    streamed = {
        r.bucket: r.log_ratio
        for r in dsir_log_ratios(
            tgt, profile_so_far(spark, led), n_buckets=128
        ).collect()
    }
    batch = {
        r.bucket: r.log_ratio
        for r in dsir_log_ratios(
            tgt,
            hashed_ngram_profile(_ngram_docs(spark, a + b), n_buckets=128),
            n_buckets=128,
        ).collect()
    }
    assert streamed.keys() == batch.keys()
    for k in batch:
        assert abs(streamed[k] - batch[k]) < 1e-12


def test_ngram_profile_compaction_preserves_profile(spark, tmp_path):
    import pytest as _pytest

    from data_pipeline_project_using_telegram_and_aws_spark.streaming.stat_ledgers import (
        compact_stat_ledger,
        profile_in_range,
        profile_so_far,
        start_ngram_profile_ledger_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    led = str(tmp_path / "led")
    for i, text in enumerate(
        ["alpha beta gamma", "beta beta delta", "gamma alpha"]
    ):
        _ngram_docs(spark, [(i, text)]).coalesce(1).write.parquet(
            str(src / f"f{i}.parquet")
        )
    start_ngram_profile_ledger_stream(
        spark, str(src) + "/*", _NGRAM_DOCS_SCHEMA, led,
        n_buckets=64, checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination(120)

    before = {r.bucket: r.cnt for r in profile_so_far(spark, led).collect()}
    recent = {
        r.bucket: r.cnt for r in profile_in_range(spark, led, 0).collect()
    }
    compact_stat_ledger(spark, led, through_batch=0, kind="ngram")
    after = {r.bucket: r.cnt for r in profile_so_far(spark, led).collect()}
    assert after == before  # fold changes no read
    # the unfolded suffix still reads; a range needing batch 0 raises
    assert {
        r.bucket: r.cnt for r in profile_in_range(spark, led, 0).collect()
    } == recent
    with _pytest.raises(ValueError, match="profile_in_range"):
        profile_in_range(spark, led, -1).collect()
    with _pytest.raises(ValueError, match="quantile | cms | ngram"):
        compact_stat_ledger(spark, led, through_batch=1, kind="bogus")


def test_ks_baseline_vs_recent_over_streamed_ledger(spark, tmp_path):
    """The day-over-day shape check composed from maintained pieces:
    stream two batches into the quantile ledger (the second shifted),
    then KS baseline-slice vs recent-slice — drift flagged without
    ever re-reading the raw rows."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.drift import (
        ks_from_quantile_ledgers,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.quantile_sketch import (
        merge_quantile_ledger,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.ledger_compaction import (
        read_ledger,
    )

    src = tmp_path / "src"
    src.mkdir()
    led = str(tmp_path / "led")
    base = _chunk(spark, 0, 1500)
    shifted = _chunk(spark, 5000, 1500).withColumn(
        "x", F.col("x") + 1000.0
    )
    base.coalesce(1).write.parquet(str(src / "a.parquet"))
    start_quantile_ledger_stream(
        spark, str(src) + "/*", SCHEMA, led, "x", "doc_id", k=256,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination(120)
    shifted.coalesce(1).write.parquet(str(src / "b.parquet"))
    start_quantile_ledger_stream(
        spark, str(src) + "/*", SCHEMA, led, "x", "doc_id", k=256,
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination(120)

    ledger = read_ledger(spark, led)
    slice_of = lambda pred: merge_quantile_ledger(
        ledger.filter(pred).drop("ingest_batch"), k=256
    )
    batches = sorted(
        r.ingest_batch
        for r in ledger.select("ingest_batch").distinct().collect()
    )
    assert len(batches) == 2
    first, last = batches
    row = ks_from_quantile_ledgers(
        slice_of(F.col("ingest_batch") == first),
        slice_of(F.col("ingest_batch") == last),
    ).collect()[0]
    assert row.drifted is True and row.ks > 0.9
    # a no-shift control: baseline vs itself
    same = ks_from_quantile_ledgers(
        slice_of(F.col("ingest_batch") == first),
        slice_of(F.col("ingest_batch") == first),
    ).collect()[0]
    assert same.ks == 0.0 and same.drifted is False
