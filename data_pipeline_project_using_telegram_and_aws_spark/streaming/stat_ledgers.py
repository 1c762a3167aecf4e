"""Streaming maintenance for the quantile and frequency ledgers — the
`sketch_ledger` pattern applied to `operators/quantile_sketch.py`
(bottom-k samples) and `operators/frequency.py` (count-min rows): each
micro-batch reduces to ledger rows under its own ``ingest_batch``
partition, and "token-length p95 so far" / "all-time count of domain X"
cost a ledger merge, never a rescan of history.

Replay safety, per ledger, stated precisely (the two layers
`streaming/sketch_ledger.py` documents):

- **quantile rows** get both layers: partition idempotence (dynamic
  overwrite rewrites a re-delivered batch's partition) AND algebraic
  idempotence of the sample merge (set union over (die, value) pairs —
  a duplicated ledger row merges to a no-op). The exact counters
  (n_rows/n_null) are sums and rely on layer 1 alone, same as the HLL
  ledger's n_rows.
- **count-min rows** have NO algebraic idempotence (counter addition
  double-counts), so they rely entirely on partition idempotence —
  which the ledger layout provides. The compaction caveat from
  `sketch_ledger.compact_ledger` therefore binds HARDER here: folding
  batch partitions into a baseline must only happen in a maintenance
  window with the checkpoint committed past the folded ids, or a
  replayed batch inflates counts (not just n_rows).

Scale: per batch, one keyed shuffle + rank window (quantile — see the
operator's plan note) or one partial-agg'd aggregation (CMS); ledger
growth per batch = groups × k structs, or ≤ groups × depth·width
counter rows — independent of batch row volume. The ledger IS the
state: plain parquet, no state store, readable by any batch job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.frequency import cms_ledger, merge_cms_ledger
from ..operators.quantile_sketch import (
    merge_quantile_ledger,
    quantile_ledger,
)
from .ledger_compaction import (
    commit_baseline,
    delete_folded,
    read_ledger,
    sweep_stragglers,
)


def _land(rows: DataFrame, batch_id: int, ledger_path: str) -> None:
    spark = rows.sparkSession
    stamped = rows.withColumn("ingest_batch", F.lit(int(batch_id)))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        stamped.write.mode("overwrite")
        .partitionBy("ingest_batch")
        .parquet(ledger_path)
    )


def _start(
    spark: SparkSession,
    source_dir: str,
    schema,
    sink,
    checkpoint_dir: str | None,
    available_now: bool,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    writer = stream.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_quantile_ledger_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    ledger_path: str,
    value_col: str,
    id_col: str,
    by: list[str] | None = None,
    k: int = 1024,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """File-source stream → per-batch bottom-k quantile rows in the
    ledger."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        _land(
            quantile_ledger(batch, value_col, id_col, by=by, k=k),
            batch_id,
            ledger_path,
        )

    return _start(
        spark, source_dir, schema, sink, checkpoint_dir, available_now
    )


def quantiles_so_far(
    spark: SparkSession,
    ledger_path: str,
    qs: list[float],
    by: list[str] | None = None,
    k: int = 1024,
) -> DataFrame:
    """The read side: merge every batch's sample rows down to ``by``
    groups and append ``q_<...>`` estimate columns. Ledger-sized
    operand only."""
    from ..operators.quantile_sketch import ledger_quantiles

    merged = merge_quantile_ledger(
        read_ledger(spark, ledger_path).drop("ingest_batch"), by=by, k=k
    )
    return ledger_quantiles(merged, qs)


def quantiles_in_range(
    spark: SparkSession,
    ledger_path: str,
    qs: list[float],
    since_batch: int,
    by: list[str] | None = None,
    k: int = 1024,
) -> DataFrame:
    """Quantiles over RECENT history only (``ingest_batch >
    since_batch``) — "p95 token length in the last N batches" — the
    same suffix-slicing as `heavy_hitters_in_range`, with the same
    compaction-horizon contract (`ledger_compaction.
    require_unfolded_range`): a range reaching into folded history
    raises. Estimate quality within the range is exactly the ledger's
    (bottom-k union over the sliced partitions is still an exact
    bottom-k of the range's rows)."""
    from ..operators.quantile_sketch import ledger_quantiles
    from .ledger_compaction import require_unfolded_range

    require_unfolded_range(ledger_path, since_batch, "quantiles_in_range")
    sliced = read_ledger(spark, ledger_path).filter(
        F.col("ingest_batch") > since_batch
    )
    merged = merge_quantile_ledger(
        sliced.drop("ingest_batch"), by=by, k=k
    )
    return ledger_quantiles(merged, qs)


def start_cms_ledger_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    ledger_path: str,
    item_col: str,
    by: list[str] | None = None,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 2048,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """File-source stream → per-batch count-min rows in the ledger."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        _land(
            cms_ledger(
                batch, item_col, by=by, weight_col=weight_col,
                depth=depth, width=width,
            ),
            batch_id,
            ledger_path,
        )

    return _start(
        spark, source_dir, schema, sink, checkpoint_dir, available_now
    )


def counts_so_far(
    spark: SparkSession,
    ledger_path: str,
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """The read side: merge every batch's counters and point-estimate
    the given items — one ledger-sized sum + one broadcast join."""
    from ..operators.frequency import estimate_counts

    merged = merge_cms_ledger(
        read_ledger(spark, ledger_path).drop("ingest_batch")
    )
    return estimate_counts(
        merged, items, item_col=item_col, depth=depth, width=width
    )


def counts_in_range(
    spark: SparkSession,
    ledger_path: str,
    items: DataFrame,
    since_batch: int,
    item_col: str = "item",
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point estimates over RECENT history only (``ingest_batch >
    since_batch``) — counter sums over the sliced partitions, horizon
    contract as `quantiles_in_range`."""
    from ..operators.frequency import estimate_counts
    from .ledger_compaction import require_unfolded_range

    require_unfolded_range(ledger_path, since_batch, "counts_in_range")
    sliced = read_ledger(spark, ledger_path).filter(
        F.col("ingest_batch") > since_batch
    )
    merged = merge_cms_ledger(sliced.drop("ingest_batch"))
    return estimate_counts(
        merged, items, item_col=item_col, depth=depth, width=width
    )


def start_ngram_profile_ledger_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    ledger_path: str,
    text_col: str = "text",
    n_buckets: int | None = None,
    salt: str = "dsir",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """File-source stream → per-batch hashed-n-gram profile rows
    (`operators/dsir.hashed_ngram_profile`) in the ledger: the
    raw-corpus side of DSIR maintained incrementally over a growing
    corpus. Counts are ADDITIVE, so unlike the sketch ledgers the
    merged read is exact — and like the cms ledger, re-delivery is
    handled by the ingest_batch partition overwrite (a replayed batch
    rewrites ITS partition, never double-lands). ``n_buckets``/``salt``
    define the feature space and must match the target profile's."""
    from ..operators.dsir import DEFAULT_N_BUCKETS, hashed_ngram_profile

    nb = DEFAULT_N_BUCKETS if n_buckets is None else int(n_buckets)

    def sink(batch: DataFrame, batch_id: int) -> None:
        _land(
            hashed_ngram_profile(
                batch, n_buckets=nb, text_col=text_col, salt=salt
            ),
            batch_id,
            ledger_path,
        )

    return _start(
        spark, source_dir, schema, sink, checkpoint_dir, available_now
    )


def profile_so_far(spark: SparkSession, ledger_path: str) -> DataFrame:
    """(bucket, cnt) — the exact profile of everything ingested so
    far: one ledger-sized sum (ledger rows ≤ batches × n_buckets).
    Feed it to `operators/dsir.dsir_log_ratios` as the raw side to
    refresh importance scoring against the corpus's current state."""
    from ..operators.dsir import merge_ngram_profiles

    return merge_ngram_profiles(
        read_ledger(spark, ledger_path).drop("ingest_batch")
    )


def profile_in_range(
    spark: SparkSession, ledger_path: str, since_batch: int
) -> DataFrame:
    """The profile of RECENT history only (``ingest_batch >
    since_batch``) — e.g. a drifted-raw-distribution probe against the
    all-time profile. Horizon contract as `counts_in_range`: raises if
    compaction folded any partition the range needs."""
    from ..operators.dsir import merge_ngram_profiles
    from .ledger_compaction import require_unfolded_range

    require_unfolded_range(ledger_path, since_batch, "profile_in_range")
    return merge_ngram_profiles(
        read_ledger(spark, ledger_path)
        .filter(F.col("ingest_batch") > since_batch)
        .drop("ingest_batch")
    )


def compact_stat_ledger(
    spark: SparkSession,
    ledger_path: str,
    through_batch: int,
    kind: str,
    by: list[str] | None = None,
    k: int = 1024,
) -> None:
    """Fold every ledger partition with ``ingest_batch <=
    through_batch`` into ONE baseline row set (read back as
    ``ingest_batch = -1``) — `sketch_ledger.compact_ledger` for these
    ledgers.
    ``kind``: ``"quantile"`` (bottom-k sample union — estimate
    provably unchanged), ``"cms"`` (counter sums), or ``"ngram"``
    (hashed-n-gram profile sums — exact, fold changes no read). The
    maintenance-window contract from the module docstring applies, and
    binds HARDER for cms and ngram: a batch id folded away no longer
    owns a partition, so an at-least-once re-delivery would
    double-count its counters — compact only with the stream stopped
    and the checkpoint committed past ``through_batch``.

    Crash consistency: commits via `ledger_compaction` (versioned
    baseline + horizon behind one atomic pointer replace, partition
    deletion LAST), and every read side here goes through
    `ledger_compaction.read_ledger`, which excludes already-folded
    partitions ≤ the committed horizon. For cms this is
    load-bearing correctness: the previous write-then-delete sequence
    had a crash window where the folded counters lived in BOTH the
    baseline and their surviving partitions and every later merge
    summed them twice, silently, forever."""
    if kind not in ("quantile", "cms", "ngram"):
        raise ValueError(
            "compact_stat_ledger: kind must be quantile | cms | ngram"
        )
    sweep_stragglers(ledger_path)
    ledger = read_ledger(spark, ledger_path)
    fold = ledger.filter(
        (F.col("ingest_batch") >= 0)
        & (F.col("ingest_batch") <= through_batch)
    )
    if not fold.limit(1).count():
        return
    old = ledger.filter(F.col("ingest_batch") <= through_batch).drop(
        "ingest_batch"
    )
    if kind == "quantile":
        baseline = merge_quantile_ledger(old, by=by, k=k)
    elif kind == "ngram":
        from ..operators.dsir import merge_ngram_profiles

        baseline = merge_ngram_profiles(old)
    else:
        baseline = merge_cms_ledger(old, by=by)
    commit_baseline(baseline, ledger_path, through_batch)
    delete_folded(ledger_path, through_batch)


def start_cms_ledger_stream_with_candidates(
    spark: SparkSession,
    source_dir: str,
    schema,
    ledger_path: str,
    candidates_path: str,
    item_col: str,
    phi: float,
    max_batches_hint: int = 64,
    weight_col: str | None = None,
    depth: int = 4,
    width: int = 2048,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    on_hint_exceeded: str = "fail",
) -> StreamingQuery:
    """CMS ledger stream that ALSO lands each batch's exact heavy-
    hitter candidates — the streamed form of
    `operators/frequency.heavy_hitters`'s per-day harvest, with the
    same pigeonhole recall guarantee transposed to batches: an item
    with all-time mass ≥ φ·N over ≤ ``max_batches_hint`` batches must
    clear the φ/max_batches_hint share in SOME batch, so harvesting
    above that bar per batch can never miss a true heavy hitter
    (the candidate set over-collects; precision is restored by the
    CMS score in :func:`heavy_hitters_so_far`). Candidate rows are
    (item, batch_count) under ``ingest_batch`` partitions — replay
    rewrites, like every ledger here.

    ``max_batches_hint`` is a PRECONDITION, and the sink enforces it:
    the pigeonhole argument needs the bar ≤ φ/B for the FINAL batch
    count B, so a stream that runs past the hint has already harvested
    its early batches at a bar that may sit above φ/B — a true heavy
    hitter whose mass was concentrated in those batches can be missed
    with no signal. ``on_hint_exceeded``:

    - ``"fail"`` (default): batch ids ≥ the hint raise, naming the
      recovery (re-harvest candidates from retained sources at the
      corrected bar into a fresh candidates path, or restart with a
      larger hint BEFORE the data arrives). Streaming-structural note:
      the raise fails the micro-batch before its checkpoint commit, so
      a restart re-fails — the stream stays down until reconfigured,
      which is the point of a broken precondition.
    - ``"warn"``: emit a loud ``RuntimeWarning`` once per offending
      batch and keep running with the bar lowered to φ/(batch_id+1)
      for CURRENT and later batches — best-effort recall from here on;
      the guarantee for items concentrated in pre-hint batches is
      already forfeit and the warning says so.
    """
    if on_hint_exceeded not in ("fail", "warn"):
        raise ValueError(
            "start_cms_ledger_stream_with_candidates: on_hint_exceeded "
            "must be fail | warn"
        )

    def sink(batch: DataFrame, batch_id: int) -> None:
        bar_batches = max_batches_hint
        if batch_id >= max_batches_hint:
            msg = (
                "start_cms_ledger_stream_with_candidates: batch id "
                f"{batch_id} reached max_batches_hint={max_batches_hint}; "
                "the per-batch harvest bar phi/max_batches_hint no longer "
                "guarantees recall (an item concentrated in earlier "
                "batches may have been missed)."
            )
            if on_hint_exceeded == "fail":
                raise RuntimeError(
                    msg
                    + " Restart with a larger hint before the data "
                    "arrives, or re-harvest candidates from retained "
                    "sources at the corrected bar into a fresh "
                    "candidates path."
                )
            import warnings

            warnings.warn(
                msg + " Continuing with the bar lowered to "
                f"phi/{batch_id + 1} from this batch on (best-effort).",
                RuntimeWarning,
                stacklevel=2,
            )
            bar_batches = batch_id + 1
        wcol = (
            F.col(weight_col).cast("long")
            if weight_col is not None
            else F.lit(1).cast("long")
        )
        slim = batch.select(
            F.col(item_col).cast("string").alias("item"),
            wcol.alias("__w"),
        )
        _land(
            cms_ledger(
                slim, "item", weight_col="__w", depth=depth, width=width
            ),
            batch_id,
            ledger_path,
        )
        counts = slim.groupBy("item").agg(F.sum("__w").alias("batch_count"))
        total = counts.agg(F.sum("batch_count").alias("m"))
        cands = (
            counts.crossJoin(F.broadcast(total))
            .filter(
                F.col("batch_count")
                >= F.col("m") * F.lit(phi / bar_batches)
            )
            .select("item", "batch_count")
        )
        _land(cands, batch_id, candidates_path)

    return _start(
        spark, source_dir, schema, sink, checkpoint_dir, available_now,
        max_files_per_trigger,
    )


def _score_heavy_hitters(
    spark: SparkSession,
    ledger: DataFrame,
    candidates: DataFrame,
    phi: float,
    depth: int,
    width: int,
) -> DataFrame:
    from ..operators.frequency import estimate_counts

    merged = merge_cms_ledger(ledger.drop("ingest_batch"))
    total = (
        merged.filter(F.col("r") == 0).agg(F.sum("cnt")).collect()[0][0]
        or 0
    )
    cands = candidates.select("item").distinct()
    return (
        estimate_counts(merged, cands, depth=depth, width=width)
        .filter(F.col("est") >= phi * total)
        .withColumn(
            "share_est", F.col("est") / F.lit(float(max(total, 1)))
        )
    )


def heavy_hitters_so_far(
    spark: SparkSession,
    ledger_path: str,
    candidates_path: str,
    phi: float,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """(item, est, share_est): all-time heavy hitters from the streamed
    state — the candidate union (bounded, see the harvest's bar)
    scored against the merged CMS, filtered at φ·N where N is the
    merged counter mass of any single depth row (each row of the
    sketch sums the whole stream). Ledger-sized work only."""
    return _score_heavy_hitters(
        spark,
        read_ledger(spark, ledger_path),
        read_ledger(spark, candidates_path),
        phi,
        depth,
        width,
    )


def heavy_hitters_in_range(
    spark: SparkSession,
    ledger_path: str,
    candidates_path: str,
    phi: float,
    since_batch: int,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Heavy hitters over RECENT history only (``ingest_batch >
    since_batch``) — "trending in the last N batches" — by the same
    candidate-union + merged-CMS scoring, sliced at read time. This is
    what the per-batch partition layout buys: any suffix of the stream
    re-merges without re-ingesting anything.

    Two contracts, stated loudly:

    - **Compaction horizon**: a batch folded into the baseline has no
      partition left to slice, so a range reaching into compacted
      history RAISES (an answer silently missing the folded mass would
      be worse than no answer). Keep the compaction horizon behind the
      longest window you query: compact through ``now − max_window``.
    - **Range recall**: the per-batch harvest bar is
      φ/``max_batches_hint``, so the pigeonhole guarantee holds for
      any range of ≤ ``max_batches_hint`` batches — same bound as the
      all-time read, applied to the suffix."""
    from .ledger_compaction import require_unfolded_range

    require_unfolded_range(
        ledger_path, since_batch, "heavy_hitters_in_range"
    )
    require_unfolded_range(
        candidates_path, since_batch, "heavy_hitters_in_range",
        "candidates",
    )
    recent = F.col("ingest_batch") > since_batch
    return _score_heavy_hitters(
        spark,
        read_ledger(spark, ledger_path).filter(recent),
        read_ledger(spark, candidates_path).filter(recent),
        phi,
        depth,
        width,
    )


def compact_candidates(
    spark: SparkSession,
    candidates_path: str,
    through_batch: int,
) -> None:
    """Fold old candidate partitions into one deduplicated baseline
    (read back as ``ingest_batch = -1``). The candidate union only
    matters as a SET (the CMS supplies the counts), so compaction is a
    distinct — idempotent, order-insensitive, answer-preserving — and the
    candidate store stays bounded by distinct-ever-candidates instead
    of growing per batch. Same maintenance-window contract as the
    ledgers it rides with (a folded batch id replayed would re-land
    its partition — harmless here: its items are already in the
    baseline and `heavy_hitters_so_far` reads the union distinctly).
    Commits via the same `ledger_compaction` protocol as the counter
    ledgers — here the union is a set, so a crash was never a
    correctness hazard, but one protocol for every ledger keeps the
    recovery story singular."""
    sweep_stragglers(candidates_path)
    ledger = read_ledger(spark, candidates_path)
    fold = ledger.filter(
        (F.col("ingest_batch") >= 0)
        & (F.col("ingest_batch") <= through_batch)
    )
    if not fold.limit(1).count():
        return
    baseline = (
        ledger.filter(F.col("ingest_batch") <= through_batch)
        .groupBy("item")
        .agg(F.max("batch_count").alias("batch_count"))
    )
    commit_baseline(baseline, candidates_path, through_batch)
    delete_folded(candidates_path, through_batch)
