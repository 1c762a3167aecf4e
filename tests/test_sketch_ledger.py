"""Streaming sketch-ledger maintenance (streaming/sketch_ledger.py):
one sketch row per (batch × group), replay idempotence of the
partitioned layout, checkpointed resume, and read-side merge parity
with a batch-built ledger over the same data."""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from data_pipeline_project_using_telegram_and_aws_spark.operators.sketches import (
    hll_ledger,
)
from data_pipeline_project_using_telegram_and_aws_spark.streaming.sketch_ledger import (
    append_sketch_batch,
    ledger_distinct_so_far,
    start_sketch_ledger_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
    ]
)


def _day(spark, ids, source="web"):
    return spark.createDataFrame([(i, source) for i in ids], SCHEMA)


def test_append_replay_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "ledger")
    day0 = _day(spark, range(100))
    append_sketch_batch(day0, 0, path, "doc_id", by=["source"])
    once = spark.read.parquet(path).collect()
    # at-least-once re-delivery of the SAME batch id: rewrites, no dups
    append_sketch_batch(day0, 0, path, "doc_id", by=["source"])
    twice = spark.read.parquet(path).collect()
    assert len(once) == len(twice) == 1
    assert once[0]["distinct_est"] == twice[0]["distinct_est"]
    assert once[0]["n_rows"] == twice[0]["n_rows"] == 100


def test_ledger_grows_by_groups_and_merges_to_exactish_total(spark, tmp_path):
    path = str(tmp_path / "ledger")
    # two days with 50 overlapping ids: distinct total = 200
    append_sketch_batch(_day(spark, range(100)), 0, path, "doc_id")
    append_sketch_batch(_day(spark, range(50, 200)), 1, path, "doc_id")
    ledger = spark.read.parquet(path)
    assert ledger.count() == 2  # one row per batch, not per input row
    total = ledger_distinct_so_far(spark, path).collect()[0]
    assert abs(total["distinct_est"] - 200) <= 10
    assert total["n_rows"] == 250  # raw (non-distinct) deliveries


def test_stream_builds_ledger_and_resumes_from_checkpoint(spark, tmp_path):
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    path = str(tmp_path / "ledger")
    src.mkdir()
    _day(spark, range(100), "web").coalesce(1).write.parquet(str(src / "f0.parquet"))
    _day(spark, range(80, 160), "wiki").coalesce(1).write.parquet(str(src / "f1.parquet"))

    q = start_sketch_ledger_stream(
        spark,
        str(src) + "/*",
        SCHEMA,
        path,
        "doc_id",
        checkpoint_dir=ckpt,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    ledger = spark.read.parquet(path)
    assert ledger.select("ingest_batch").distinct().count() == 2
    total = ledger_distinct_so_far(spark, path).collect()[0]
    assert abs(total["distinct_est"] - 160) <= 8

    # restart on the same checkpoint with NO new file: nothing reprocessed
    q2 = start_sketch_ledger_stream(
        spark, str(src) + "/*", SCHEMA, path, "doc_id",
        checkpoint_dir=ckpt, max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(path).count() == 2

    # a third file arrives: exactly one new ledger row, total moves
    _day(spark, range(300, 350), "web").coalesce(1).write.parquet(str(src / "f2.parquet"))
    q3 = start_sketch_ledger_stream(
        spark, str(src) + "/*", SCHEMA, path, "doc_id",
        checkpoint_dir=ckpt, max_files_per_trigger=1,
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(path).count() == 3
    total = ledger_distinct_so_far(spark, path).collect()[0]
    assert abs(total["distinct_est"] - 210) <= 10


def test_stream_ledger_matches_batch_ledger(spark, tmp_path):
    """Read-side parity: the streamed ledger's merged estimate equals a
    batch hll_ledger + merge over the concatenated data (same union
    algebra, same bound)."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    path = str(tmp_path / "ledger")
    src.mkdir()
    a = _day(spark, range(0, 120), "web")
    b = _day(spark, range(60, 220), "wiki")
    a.coalesce(1).write.parquet(str(src / "a.parquet"))
    b.coalesce(1).write.parquet(str(src / "b.parquet"))
    q = start_sketch_ledger_stream(
        spark, str(src) + "/*", SCHEMA, path, "doc_id", by=["source"],
        checkpoint_dir=ckpt, max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    streamed = {
        r["source"]: r["distinct_est"]
        for r in ledger_distinct_so_far(spark, path, by=["source"]).collect()
    }
    exact = {
        r["source"]: r["n"]
        for r in a.unionByName(b)
        .groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    assert set(streamed) == set(exact)
    for s, n in exact.items():
        assert abs(streamed[s] - n) <= max(3, 0.05 * n)


def test_compact_ledger_folds_old_batches(spark, tmp_path):
    """Compaction: batches ≤ watermark fold into one baseline row per
    group (read back as ingest_batch = -1); newer partitions untouched;
    merged totals and n_rows unchanged; compacting twice is a no-op."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.ledger_compaction import (
        compacted_through,
        read_ledger,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.sketch_ledger import (
        compact_ledger,
    )

    path = str(tmp_path / "ledger")
    append_sketch_batch(_day(spark, range(100), "web"), 0, path, "doc_id", by=["source"])
    append_sketch_batch(_day(spark, range(50, 150), "wiki"), 1, path, "doc_id", by=["source"])
    append_sketch_batch(_day(spark, range(140, 180), "web"), 2, path, "doc_id", by=["source"])
    before = {
        r["source"]: (r["distinct_est"], r["n_rows"])
        for r in ledger_distinct_so_far(spark, path, by=["source"]).collect()
    }

    compact_ledger(spark, path, through_batch=1, by=["source"])
    assert compacted_through(path) == 1
    ledger = read_ledger(spark, path)
    batches = {r["ingest_batch"] for r in ledger.select("ingest_batch").distinct().collect()}
    assert batches == {-1, 2}
    # the baseline carries one row per group seen in batches 0-1
    assert ledger.filter("ingest_batch = -1").count() == 2
    after = {
        r["source"]: (r["distinct_est"], r["n_rows"])
        for r in ledger_distinct_so_far(spark, path, by=["source"]).collect()
    }
    assert after == before

    compact_ledger(spark, path, through_batch=1, by=["source"])  # no-op
    assert compacted_through(path) == 1
    assert {
        r["ingest_batch"]
        for r in read_ledger(spark, path).select("ingest_batch").distinct().collect()
    } == {-1, 2}
