"""Streaming maintenance of the HLL cardinality ledger: every
micro-batch reduces to one sketch row per group, appended under its own
``ingest_batch`` partition — "distinct documents/users so far" then
costs a ledger merge (`operators/sketches.merge_hll_ledger`), never a
rescan of history.

Replay safety is layered twice, which is why this shape is boringly
robust under at-least-once foreachBatch delivery:

1. **Partition idempotence** (same trick as
   `streaming/index_maintenance.py`): a batch lands under
   ``ingest_batch=<id>`` with dynamic partition overwrite, so a crashed
   batch re-delivering under its original id REWRITES its partition
   rather than duplicating rows.
2. **Algebraic idempotence**: even if a duplicate sketch row somehow
   survived, HLL union is idempotent — merging a day twice equals
   merging it once (pinned in `tests/test_sketches.py`). Counts
   (``n_rows``) are NOT union-idempotent, which is exactly why layer 1
   still matters for the row-count column.

Scale: each micro-batch does one partial-agg'd aggregation whose output
is (groups × ≤4 KB) — the ledger grows by rows-per-batch = group count,
independent of batch row volume, and the read side merges ledger rows
only. No state store, no watermark: the ledger IS the state, stored as
ordinary parquet any batch job can read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketches import hll_ledger, merge_hll_ledger
from .ledger_compaction import (
    commit_baseline,
    delete_folded,
    read_ledger,
    sweep_stragglers,
)


def append_sketch_batch(
    batch: DataFrame,
    batch_id: int,
    ledger_path: str,
    key_col: str,
    by: list[str] | None = None,
    lg_k: int = 12,
) -> None:
    """Reduce one micro-batch to its sketch rows and land them under
    ``ingest_batch=<batch_id>`` (dynamic overwrite ⇒ replay rewrites,
    never duplicates)."""
    spark = batch.sparkSession
    rows = hll_ledger(batch, key_col, by=by, lg_k=lg_k).withColumn(
        "ingest_batch", F.lit(int(batch_id))
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        rows.write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(ledger_path)
    )


def start_sketch_ledger_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    ledger_path: str,
    key_col: str,
    by: list[str] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-source stream → per-batch sketch rows in the ledger.
    ``available_now=True`` drains present files and stops (the testable
    trigger); the checkpoint carries source progress so a restart
    resumes at the next unprocessed file."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        append_sketch_batch(batch, batch_id, ledger_path, key_col, by)

    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ledger_distinct_so_far(
    spark: SparkSession,
    ledger_path: str,
    by: list[str] | None = None,
) -> DataFrame:
    """The read side: merge every batch's sketch rows down to ``by``
    groups (or one total row). Operand size = ledger rows, i.e. batches
    × groups — never the ingested data. Goes through
    `ledger_compaction.read_ledger` so a half-finished compaction can
    never double-count ``n_rows``."""
    return merge_hll_ledger(read_ledger(spark, ledger_path), by=by)


def distinct_in_range(
    spark: SparkSession,
    ledger_path: str,
    since_batch: int,
    by: list[str] | None = None,
) -> DataFrame:
    """Distinct estimates over RECENT history only (``ingest_batch >
    since_batch``) — "distinct users in the last N batches" — sketch
    union over the sliced partitions; the compaction-horizon contract
    of `ledger_compaction.require_unfolded_range` applies (folded
    batches have no partition left to slice, so the range raises
    rather than silently undercounting)."""
    from .ledger_compaction import require_unfolded_range

    require_unfolded_range(ledger_path, since_batch, "distinct_in_range")
    sliced = read_ledger(spark, ledger_path).filter(
        F.col("ingest_batch") > since_batch
    )
    return merge_hll_ledger(sliced, by=by)


def compact_ledger(
    spark: SparkSession,
    ledger_path: str,
    through_batch: int,
    by: list[str] | None = None,
) -> None:
    """Fold every ledger row with ``ingest_batch <= through_batch``
    into ONE baseline row per group (read back as ``ingest_batch =
    -1``), leaving newer batch partitions untouched — the ledger's
    lifecycle op for high-cardinality groups (per-user/per-domain
    ledgers where batches × groups eventually dwarfs groups).

    Union idempotence makes the ESTIMATE insensitive to when this runs,
    but the replay contract changes exactly the way
    `index_maintenance`'s table compaction documents: a batch id that
    was folded into the baseline no longer owns a partition, so an
    at-least-once re-delivery of it would DOUBLE-COUNT ``n_rows`` (the
    estimate still wouldn't move). Compact only in a maintenance
    window — stream stopped, checkpoint committed past
    ``through_batch`` — and the contract stays exact.

    Crash consistency: commits via `ledger_compaction` (versioned
    baseline, one atomic pointer replace, delete last), so a crash at
    ANY step leaves `ledger_distinct_so_far` reading the exact
    pre- or post-compaction answer — never a double-counted one."""
    sweep_stragglers(ledger_path)
    ledger = read_ledger(spark, ledger_path)
    fold = ledger.filter(
        (F.col("ingest_batch") >= 0)
        & (F.col("ingest_batch") <= through_batch)
    )
    if not fold.limit(1).count():
        return
    old = ledger.filter(F.col("ingest_batch") <= through_batch)
    baseline = merge_hll_ledger(old.drop("ingest_batch"), by=by)
    commit_baseline(baseline, ledger_path, through_batch)
    delete_folded(ledger_path, through_batch)
