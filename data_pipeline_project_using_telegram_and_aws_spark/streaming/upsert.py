"""Streaming keyed upserts into plain parquet — MERGE semantics
without a lakehouse table format.

The trick that makes it scale: the target table is split into bucket
directories by ``bucket = pmod(xxhash64(key), n_buckets)``. A
micro-batch touches only the buckets its keys hash into, so the merge
reads + rewrites ``|affected buckets| / n_buckets`` of the table, not
all of it — at 100 TB with 10⁴ buckets, a batch touching 50 keys
rewrites ~50 bucket directories (file-sized), never the table. Inside
each affected bucket, keep-latest (`operators/snapshots.latest_snapshot`)
merges the existing rows with the batch.

Commit protocol: every bucket directory ``__bucket=N`` holds a
one-line ``_dir_manifest`` pointing at a ``.v{n}`` version dir — the
`sources/commit.py` pointer swap applied at BUCKET granularity (the
reference's storage is S3, where a directory rename is a non-atomic
copy-then-delete; `sources/lake.py`'s note). Bucket files carry plain
data columns: ``__bucket`` is never stored, it is recomputed from
``pmod(xxhash64(keys), n_buckets)`` wherever needed. A merge that
empties a bucket commits a zero-row version, so the empty table stays
readable with its schema. Atomicity is PER BUCKET: a crash mid-batch
can leave some affected buckets committed and others not — each
internally consistent — and the checkpoint's replay of the same batch
re-merges idempotently and re-commits every affected bucket (pinned
by the crash suite). Cross-bucket atomicity needs a table-level
pointer (an Iceberg-style manifest of manifests) — out of scope,
stated.

Replay contract: re-delivering a batch re-runs a merge whose winner
rule (highest ``seq_col``, deterministic tie-break) is IDEMPOTENT —
the same rows win again and the rewrite is a content-identical no-op.
That is a STRONGER replay story than the ledger/index appends (which
need the batch-id partition trick): upserts are naturally convergent.

Constraints, stated loudly:

- one upsert stream per target (concurrent writers to the same bucket
  race on read-merge-write; nothing serializes cross-job commits to
  one bucket) — fan-in belongs upstream, in the stream union;
- tombstones are applied, not retained: a delete removes the key from
  the stored bucket rather than storing a marker. Convergence then
  relies on the checkpoint's in-order batch replay (a crashed batch
  re-delivers ITSELF, never an older one), which Structured Streaming
  guarantees per query. Feeding the same target from ad-hoc batch jobs
  out of order voids the delete semantics — that path needs retained
  tombstones with a TTL, the documented extension.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.snapshots import latest_snapshot
from ..sources import commit as _commit


def _bucket_of(keys: list[str], n_buckets: int):
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
    ).cast("long")


def upsert_batch(
    batch: DataFrame,
    table_path: str,
    keys: list[str],
    seq_col: str,
    n_buckets: int = 64,
    delete_col: str | None = None,
    changefeed_path: str | None = None,
    batch_id: int = 0,
) -> None:
    """Merge one batch of keyed updates into the bucketed target:
    read the affected buckets through their pointers, merge, then land
    each affected bucket with `sources/commit.commit_dir`'s pointer
    swap. Creates the table on first write.

    ``changefeed_path``: additionally emit this batch's EFFECT as CDC
    rows — `operators/snapshots.snapshot_diff` of the affected buckets
    before vs after, labeled added/removed/changed with both sides'
    values — under an ``ingest_batch=<batch_id>`` partition (replay
    rewrites, the ledger pattern). Downstream consumers (cache
    invalidation, search-index sync, audit) subscribe to the feed
    instead of diffing snapshots themselves; the diff operand is
    bucket-scoped, exactly the data the merge already read."""
    spark = batch.sparkSession
    staged = batch.withColumn("__bucket", _bucket_of(keys, n_buckets))
    root = Path(table_path)
    affected = [
        r["__bucket"]
        for r in staged.select("__bucket").distinct().collect()
    ]
    paths = _bucket_paths(table_path, affected)
    if paths:
        # mergeSchema: buckets rewritten after a schema evolution carry
        # the new columns while untouched buckets don't — the union
        # schema is the table's real schema
        existing = (
            spark.read.option("mergeSchema", "true").parquet(*paths)
        )
    else:
        existing = spark.createDataFrame(
            [], staged.drop("__bucket", *(
                [delete_col] if delete_col and delete_col in
                staged.columns else []
            )).schema,
        )
    # union in the durable schema marker: columns no surviving FILE
    # carries (evolved-in by an all-tombstone batch) still exist — and
    # flow into merged, keeping the marker's record monotone
    existing = _union_marker_fields(
        existing, _schema_marker_fields(spark, table_path),
        exclude=("__bucket",),
    )
    # recompute the bucket from the keys — same hash, same types as
    # the writer used (types can't change: evolution is add-only)
    existing = existing.withColumn("__bucket", _bucket_of(keys, n_buckets))
    if delete_col is not None and delete_col not in existing.columns:
        # stored rows are post-tombstone survivors: not deleted
        existing = existing.withColumn(delete_col, F.lit(False))
    # schema evolution = ADDING columns (type changes are not
    # supported): align both sides to the union-by-name schema. A
    # column the batch doesn't carry is NULL on its rows — upserts are
    # FULL-row (the winning row replaces the old one wholesale), so an
    # evolved-away value nulls out rather than leaking through; old
    # rows show NULL for newly added columns.
    for c in staged.columns:
        if c not in existing.columns:
            existing = existing.withColumn(
                c, F.lit(None).cast(staged.schema[c].dataType)
            )
    for c in existing.columns:
        if c not in staged.columns:
            staged = staged.withColumn(
                c, F.lit(None).cast(existing.schema[c].dataType)
            )
    before = existing.drop("__bucket")
    if delete_col is not None:
        before = before.drop(delete_col)
    before = before.localCheckpoint(eager=True)
    merged = latest_snapshot(
        existing.unionByName(staged.select(*existing.columns)),
        keys,
        seq_col,
        delete_col,
    ).localCheckpoint(eager=True)  # cut lineage: we replace our input
    # ONE Spark job stages every affected bucket's new content; the
    # per-bucket pointer swaps then move staged dirs (driver-side
    # renames into fresh version dirs — pre-commit, torn-safe).
    # Sorted-by-key bucket files: parquet min/max stats prune row
    # groups inside a bucket, so `lookup` reads even less than 1/n.
    stage = root / ".stage"
    if stage.exists():
        shutil.rmtree(stage)  # a dead run's leftovers
    (
        merged.repartition("__bucket")
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(str(stage))
    )
    empty_schema = merged.drop("__bucket").schema
    for b in affected:
        src = stage / f"__bucket={b}"
        bd = str(root / f"__bucket={b}")
        if src.exists():

            def write_fn(target, _src=str(src)):
                os.replace(_src, target)

        elif not Path(bd).exists():
            continue  # tombstones for keys never stored: no dir to empty
        else:
            # the merge emptied this bucket: commit a zero-row version
            def write_fn(target):
                (
                    spark.createDataFrame([], empty_schema)
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(target)
                )

        _commit.commit_dir(bd, write_fn)
    if stage.exists():
        shutil.rmtree(stage)
    _write_schema_marker(spark, merged.schema, table_path)
    if changefeed_path is not None:
        _emit_changefeed(
            before, merged.drop("__bucket"), keys, changefeed_path,
            batch_id,
        )


def _bucket_paths(table_path: str, buckets=None) -> list[str]:
    """Resolved data directories of the given buckets (all when None),
    skipping crash husks (a bucket dir with no committed pointer — a
    run died before its first commit point; the next commit's sweep
    reclaims it)."""
    root = Path(table_path)
    dirs = (
        [root / f"__bucket={b}" for b in buckets]
        if buckets is not None
        else sorted(root.glob("__bucket=*"))
    )
    return [
        _commit.resolve_dir(str(bd))
        for bd in dirs
        if _commit.manifest(str(bd)) is not None
    ]


def _write_schema_marker(
    spark: SparkSession, schema, table_path: str
) -> None:
    """Persist the table's evolved schema as a zero-row parquet under
    ``<table>/_schema`` — an underscore path, so Spark's data listing
    (and partition discovery) never sees it. Needed because schema
    evolution must be MONOTONE over the table's life while the data
    files are not: a column introduced by a batch whose carrying rows
    were all merged away (tombstoned, or superseded before any rewrite
    of an untouched bucket) exists in no surviving file, yet the
    pinned contract says a column once introduced exists for every
    later row. Writers refresh it after every merge from the merged
    union schema (which itself unions the previous marker, so the
    record never narrows); readers union its fields in as NULL columns.
    Crash caveat: the marker is not part of any bucket's pointer
    swap, so a crash between the bucket commits and this refresh loses
    only columns carried by NO file — columns in any surviving file
    re-enter the marker at the next merge via the mergeSchema read."""
    (
        spark.createDataFrame([], schema)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(table_path, "_schema"))
    )


def _schema_marker_fields(spark: SparkSession, table_path: str) -> list:
    p = os.path.join(table_path, "_schema")
    if not os.path.exists(p):
        return []
    try:
        return list(spark.read.parquet(p).schema.fields)
    except Exception:
        # half-written marker after a crash: recoverable (docstring)
        return []


def _union_marker_fields(
    df: DataFrame, fields: list, exclude: tuple = ()
) -> DataFrame:
    for f in fields:
        if f.name not in df.columns and f.name not in exclude:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def _emit_changefeed(
    before: DataFrame,
    after: DataFrame,
    keys: list[str],
    changefeed_path: str,
    batch_id: int,
) -> None:
    from ..operators.snapshots import snapshot_diff

    spark = after.sparkSession
    feed = snapshot_diff(before, after, keys).withColumn(
        "ingest_batch", F.lit(int(batch_id))
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        feed.write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(changefeed_path)
    )


def start_upsert_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    table_path: str,
    keys: list[str],
    seq_col: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    delete_col: str | None = None,
    available_now: bool = True,
    changefeed_path: str | None = None,
) -> StreamingQuery:
    """File-source stream of keyed updates → bucket-local merges (and,
    with ``changefeed_path``, a per-batch CDC feed)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        upsert_batch(
            batch, table_path, keys, seq_col, n_buckets, delete_col,
            changefeed_path=changefeed_path, batch_id=batch_id,
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_current(spark: SparkSession, table_path: str) -> DataFrame:
    """The current state (bucket column dropped), read through each
    bucket's pointer. mergeSchema: after a schema evolution, untouched
    buckets lack the new columns — the union schema surfaces them as
    NULL there; the ``_schema`` marker adds columns no surviving file
    carries at all."""
    return _read_buckets(spark, table_path, _bucket_paths(table_path))


def _read_buckets(
    spark: SparkSession, table_path: str, paths: list[str]
) -> DataFrame:
    fields = [
        f for f in _schema_marker_fields(spark, table_path)
        if f.name != "__bucket"
    ]
    if not paths:
        return spark.createDataFrame([], StructType(fields))
    return _union_marker_fields(
        spark.read.option("mergeSchema", "true").parquet(*paths), fields
    )


def lookup(
    spark: SparkSession,
    table_path: str,
    keys: list[str],
    values: list,
    n_buckets: int = 64,
) -> DataFrame:
    """Point lookup: current row(s) for one key, reading ONE bucket
    directory — the read-side payoff of the bucket layout. The bucket
    id is recomputed from the key (same hash the writer used), so the
    scan touches 1/n_buckets of the table before any IO; the residual
    key equality prunes row groups inside the bucket via parquet
    stats."""
    if len(keys) != len(values):
        raise ValueError("lookup: one value per key column")
    # column types come from the schema marker (cheap: one zero-row
    # footer) — the data read below touches ONE bucket
    dtypes = {
        f.name: f.dataType.simpleString()
        for f in _schema_marker_fields(spark, table_path)
    }
    if not dtypes:
        dtypes = dict(read_current(spark, table_path).dtypes)
    # xxhash64 is TYPE-sensitive: hash the literals at the stored
    # column types or the bucket comes out different from the writer's
    b = F.pmod(
        F.xxhash64(
            *[
                F.lit(v).cast(dtypes[k])
                for k, v in zip(keys, values)
            ]
        ),
        F.lit(n_buckets),
    )
    bucket = spark.range(1).select(b.alias("b")).collect()[0]["b"]
    df = _read_buckets(
        spark, table_path, _bucket_paths(table_path, [int(bucket)])
    )
    for k, v in zip(keys, values):
        df = df.filter(F.col(k) == v)
    return df


def read_changefeed(
    spark: SparkSession, changefeed_path: str, since_batch: int | None = None
) -> DataFrame:
    """Consume the CDC feed: all change rows, or those after a
    consumer's cursor (``ingest_batch > since_batch`` — partition
    pruning makes the cursor read touch only new partitions)."""
    feed = spark.read.parquet(changefeed_path)
    if since_batch is not None:
        feed = feed.filter(F.col("ingest_batch") > since_batch)
    return feed
