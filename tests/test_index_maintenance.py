"""Streaming IVF index maintenance (streaming/index_maintenance.py):
replay idempotence of the partitioned+bucketed layout, checkpointed
resume across stream restarts, and query parity with the batch path."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from data_pipeline_project_using_telegram_and_aws_spark.operators.similarity import (
    ivf_topk_from_table,
)
from data_pipeline_project_using_telegram_and_aws_spark.streaming.index_maintenance import (
    start_index_maintenance_stream,
    upsert_index_batch,
)

DIMS = 8
SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _vec(seed: int) -> list:
    # deterministic spread over two obvious directions
    v = [0.0] * DIMS
    v[seed % 2] = 1.0
    v[2 + seed % 3] = 0.1 * (seed % 5)
    return v


def _vectors(spark, ids):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=_vec(i)) for i in ids], SCHEMA
    )


@pytest.fixture()
def centroids(spark):
    rows = [
        Row(centroid_id=0, cvec=[1.0] + [0.0] * (DIMS - 1)),
        Row(centroid_id=1, cvec=[0.0, 1.0] + [0.0] * (DIMS - 2)),
    ]
    return spark.createDataFrame(rows)


def test_upsert_replay_is_idempotent(spark, centroids, tmp_path):
    table = "ivf_maint_replay"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    batch = _vectors(spark, range(10))
    upsert_index_batch(batch, 0, table, centroids, buckets=4)
    assert spark.table(table).count() == 10
    # at-least-once re-delivery of the SAME batch id: rewrites, never dups
    upsert_index_batch(batch, 0, table, centroids, buckets=4)
    assert spark.table(table).count() == 10
    # a new batch id appends its own partition
    upsert_index_batch(_vectors(spark, range(10, 15)), 1, table, centroids, buckets=4)
    assert spark.table(table).count() == 15
    parts = {
        r.ingest_batch
        for r in spark.table(table).select("ingest_batch").distinct().collect()
    }
    assert parts == {0, 1}
    spark.sql(f"DROP TABLE {table}")


def test_stream_resumes_from_checkpoint(spark, centroids, tmp_path):
    table = "ivf_maint_stream"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    _vectors(spark, range(8)).write.parquet(str(src / "a"))

    q = start_index_maintenance_stream(
        spark, str(src) + "/*", SCHEMA, table, centroids, ckpt, buckets=4
    )
    q.awaitTermination(120)
    n1 = spark.table(table).count()
    assert n1 == 8

    # second wave of files; same checkpoint → only the NEW files process
    _vectors(spark, range(8, 20)).write.parquet(str(src / "b"))
    q = start_index_maintenance_stream(
        spark, str(src) + "/*", SCHEMA, table, centroids, ckpt, buckets=4
    )
    q.awaitTermination(120)
    assert spark.table(table).count() == 20
    # every vector indexed exactly once across the restarts
    ids = [r.vec_id for r in spark.table(table).select("vec_id").collect()]
    assert sorted(ids) == list(range(20))
    spark.sql(f"DROP TABLE {table}")


def test_maintained_table_serves_queries(spark, centroids, tmp_path):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.similarity import (
        ivf_topk,
    )

    table = "ivf_maint_query"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    upsert_index_batch(_vectors(spark, range(12)), 0, table, centroids, buckets=4)
    upsert_index_batch(_vectors(spark, range(12, 24)), 1, table, centroids, buckets=4)

    corpus = _vectors(spark, range(24))
    queries = corpus.filter(F.col("vec_id") < 3)
    got = ivf_topk_from_table(
        spark, table, queries, centroids, nprobe=1, k=3
    ).collect()
    want = ivf_topk(
        corpus, n_queries=3, nprobe=1, k=3, centroids=centroids
    ).collect()
    assert sorted((r.query_id, r.vec_id, r.cos_sim, r.ivf_rank) for r in got) == sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.ivf_rank) for r in want
    )
    spark.sql(f"DROP TABLE {table}")


def test_compaction_composes_with_maintained_index(spark, centroids, tmp_path):
    """After upserts, compact_bucketed_table restores the single-file-
    per-bucket layout (the ingest_batch partitions collapse into a plain
    column — correct ONLY in a maintenance window with the stream
    stopped and its checkpoint committed past every compacted batch,
    since a replayed batch id can no longer find its partition to
    overwrite); query results are unchanged."""
    from data_pipeline_project_using_telegram_and_aws_spark.sources.bucketing import (
        compact_bucketed_table,
    )

    table = "ivf_maint_compact"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    upsert_index_batch(_vectors(spark, range(12)), 0, table, centroids, buckets=4)
    upsert_index_batch(_vectors(spark, range(12, 24)), 1, table, centroids, buckets=4)
    queries = _vectors(spark, range(3))
    before = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.ivf_rank)
        for r in ivf_topk_from_table(
            spark, table, queries, centroids, nprobe=1, k=3
        ).collect()
    )
    compact_bucketed_table(spark, table)
    after = sorted(
        (r.query_id, r.vec_id, r.cos_sim, r.ivf_rank)
        for r in ivf_topk_from_table(
            spark, table, queries, centroids, nprobe=1, k=3
        ).collect()
    )
    assert before == after and len(after) > 0
    # ingest_batch survives as a plain column; rows intact
    assert spark.table(table).count() == 24
    assert "ingest_batch" in spark.table(table).columns
    spark.sql(f"DROP TABLE {table}")


def test_location_swap_refuses_partitioned_index(spark, centroids, tmp_path):
    """swap="location" moves only the table root while the catalog
    keeps the ingest_batch partitions, which would leave every query
    silently empty; on a partitioned table it must raise before
    writing anything, leaving the table answering as before."""
    from data_pipeline_project_using_telegram_and_aws_spark.sources.bucketing import (
        compact_bucketed_table,
    )

    table = "ivf_maint_loc"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    upsert_index_batch(_vectors(spark, range(12)), 0, table, centroids, buckets=4)
    upsert_index_batch(_vectors(spark, range(12, 24)), 1, table, centroids, buckets=4)
    queries = _vectors(spark, range(3))

    def topk():
        return sorted(
            (r.query_id, r.vec_id, r.cos_sim, r.ivf_rank)
            for r in ivf_topk_from_table(
                spark, table, queries, centroids, nprobe=1, k=3
            ).collect()
        )

    before = topk()
    location = spark.sql(f"DESCRIBE FORMATTED {table}").where(
        "col_name = 'Location'"
    ).collect()[0]["data_type"]
    with pytest.raises(ValueError, match="partitioned"):
        compact_bucketed_table(spark, table, swap="location")
    assert topk() == before and len(before) > 0
    assert spark.sql(f"DESCRIBE FORMATTED {table}").where(
        "col_name = 'Location'"
    ).collect()[0]["data_type"] == location
    assert not spark.catalog.tableExists(f"{table}__compacting")
    # nothing written: no version directory beside the table root
    assert not os.path.exists(urlparse(location).path + "__versions")
    spark.sql(f"DROP TABLE {table}")
