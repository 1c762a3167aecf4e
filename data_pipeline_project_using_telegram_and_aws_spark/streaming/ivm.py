"""Incremental view maintenance over the upsert CDC changefeed:
keep a grouped aggregate (count + sums per group) current by applying
each batch's change rows as DELTAS — never rescanning the base table.

Why this exists at 100 TB: a dashboard aggregate over a keyed table
(`streaming/upsert.py`) recomputed per refresh costs a full scan +
shuffle of the table; the changefeed already names exactly which keys
changed and both sides of their values, so the aggregate can move by
|changes| work instead. This is textbook IVM for the
sum/count-measure, group-by-dimension view class:

    added   row ⇒ group(new):  count +1, sum += new.c
    removed row ⇒ group(old):  count −1, sum −= old.c
    changed row ⇒ group(old):  count −1, sum −= old.c   (then)
                  group(new):  count +1, sum += new.c

— the two-sided form handles a row MOVING groups (the case one-sided
delta rules silently corrupt). AVG and other derived measures come
from sum/count at read time; measures that are not self-maintainable
from deltas are handled by class: COUNT DISTINCT has a sketch-backed
twin here (:func:`refresh_distinct_view` — HLL union over the added
side, insert-only by contract), MIN/MAX under deletes stay out of
scope by design — use a ledger or recompute.

Consistency contract: the view carries a CURSOR (the highest
``ingest_batch`` applied, in an underscore-prefixed sidecar Spark's
readers ignore). ``refresh_grouped_view`` applies only feed partitions
above the cursor, so refreshing twice is a no-op and a crash between
write and cursor-advance re-applies one batch onto the PRE-apply view
(the write is atomic: view + cursor land together behind one pointer
swap of the view directory, `sources/commit.py`). Groups whose count
reaches zero leave the view. Equality with a from-scratch recompute
after any batch sequence is the pinned invariant.

Scale shape: deltas are |changefeed-slice|-sized; the view is
group-sized; the merge is one full-outer join between them. The base
table is never read.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.commit import commit_dir, resolve_dir
from .upsert import read_changefeed


def changefeed_deltas(
    feed: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    value_schema: str,
) -> DataFrame:
    """Reduce change rows to per-group (d_count, d_sum_<c>...) deltas.
    ``value_schema`` is the DDL of the packed value struct (the
    changefeed stores both sides as JSON)."""
    old_v = F.from_json("old_values", value_schema)
    new_v = F.from_json("new_values", value_schema)

    def side(v, keep_changes: list[str], sign: int) -> DataFrame:
        rows = feed.filter(F.col("change").isin(keep_changes)).select(
            *[v.getField(g).alias(g) for g in group_cols],
            F.lit(sign).cast("long").alias("d_count"),
            *[
                (F.coalesce(v.getField(c), F.lit(0.0)) * sign).alias(
                    f"d_sum_{c}"
                )
                for c in sum_cols
            ],
        )
        return rows

    both = side(old_v, ["removed", "changed"], -1).unionByName(
        side(new_v, ["added", "changed"], +1)
    )
    return both.groupBy(*group_cols).agg(
        F.sum("d_count").alias("d_count"),
        *[
            F.sum(f"d_sum_{c}").alias(f"d_sum_{c}")
            for c in sum_cols
        ],
    )


def read_view(spark: SparkSession, view_path: str) -> DataFrame:
    """Current view rows: (group..., n_rows, sum_<c>...), read through
    the view's commit pointer (`sources/commit.py`)."""
    return spark.read.parquet(resolve_dir(view_path))


def _cursor_path(view_path: str) -> Path:
    return Path(resolve_dir(view_path)) / "_cursor"


def _read_cursor(spark: SparkSession, view_path: str) -> int:
    p = _cursor_path(view_path)
    if not p.exists():
        return -1
    return spark.read.parquet(str(p)).collect()[0]["last_batch"]


def _swap_view(
    spark: SparkSession,
    view_path: str,
    rows: DataFrame,
    new_cursor: int,
) -> None:
    """Land view rows + cursor together via `sources/commit.commit_dir`:
    a fresh versioned dir, then one atomic pointer replace. Readers
    (:func:`read_view`, the cursor read) resolve the pointer, so a
    crash at ANY step leaves the previous view fully readable."""
    rows = rows.localCheckpoint(eager=True)  # cut lineage: we overwrite
    cursor_df = spark.createDataFrame(
        [(new_cursor,)], "last_batch long"
    ).localCheckpoint(eager=True)

    def write(target: str) -> None:
        # No coalesce(1) on the rows: a high-cardinality group column
        # makes the view itself large — keep the write's parallelism.
        rows.write.mode("overwrite").parquet(target)
        cursor_df.coalesce(1).write.mode("overwrite").parquet(
            str(Path(target) / "_cursor")
        )

    commit_dir(view_path, write)


def refresh_grouped_view(
    spark: SparkSession,
    changefeed_path: str,
    view_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    value_schema: str,
) -> int:
    """Apply every changefeed partition above the view's cursor;
    returns the number of batches applied. Idempotent: a second call
    with no new feed partitions is a no-op."""
    cursor = _read_cursor(spark, view_path)
    feed = read_changefeed(spark, changefeed_path, since_batch=cursor)
    top_row = feed.agg(F.max("ingest_batch").alias("m")).collect()[0]
    if top_row["m"] is None:
        return 0
    new_cursor = int(top_row["m"])
    n_batches = feed.select("ingest_batch").distinct().count()
    deltas = changefeed_deltas(feed, group_cols, sum_cols, value_schema)

    exists = Path(view_path).exists()
    if exists:
        current = read_view(spark, view_path)
    else:
        # bootstrap with the DELTAS' group-column types (they come out
        # of the value-schema JSON parse — string-typed guesses would
        # break the full-outer join on non-string groups)
        current = deltas.limit(0).select(
            *group_cols,
            F.lit(0).cast("long").alias("n_rows"),
            *[F.lit(0.0).alias(f"sum_{c}") for c in sum_cols],
        )
    # NULL-SAFE merge join: a null group key (a missing/null field in
    # the changefeed's JSON-parsed values) is a legitimate group —
    # groupBy puts all nulls in one group, so the view merge must too.
    # A plain equi-join never matches null=null, which would append a
    # fresh null-group row on EVERY refresh and permanently diverge
    # from the from-scratch-recompute invariant. eqNullSafe (<=>) is
    # still an equi-join to the planner — hash join, no cartesian.
    cur, d = current.alias("__cur"), deltas.alias("__d")
    cond = F.lit(True)
    for g in group_cols:
        cond = cond & F.col(f"__cur.{g}").eqNullSafe(F.col(f"__d.{g}"))
    merged = (
        cur.join(d, cond, "full_outer")
        .select(
            *[
                F.coalesce(F.col(f"__cur.{g}"), F.col(f"__d.{g}")).alias(g)
                for g in group_cols
            ],
            (
                F.coalesce(F.col("__cur.n_rows"), F.lit(0))
                + F.coalesce(F.col("__d.d_count"), F.lit(0))
            ).alias("n_rows"),
            *[
                (
                    F.coalesce(F.col(f"__cur.sum_{c}"), F.lit(0.0))
                    + F.coalesce(F.col(f"__d.d_sum_{c}"), F.lit(0.0))
                ).alias(f"sum_{c}")
                for c in sum_cols
            ],
        )
        .filter(F.col("n_rows") > 0)
    )
    # view rows + cursor land together or not at all
    _swap_view(spark, view_path, merged, new_cursor)
    return n_batches


def refresh_distinct_view(
    spark: SparkSession,
    changefeed_path: str,
    view_path: str,
    group_cols: list[str],
    key_col: str,
    value_schema: str,
    lg_k: int = 12,
) -> int:
    """Sketch-backed distinct-count IVM: maintain per-group HLL rows
    (sketch, n_rows, distinct_est) from the changefeed's ADDED side —
    the composition `refresh_grouped_view`'s docstring points to for
    the measure class it excludes (COUNT DISTINCT is not
    self-maintainable from deltas; a sketch union of inserts is).

    Contract, stated loudly: HLL union is associative and IDEMPOTENT,
    so a re-delivered batch unions the SKETCH (and therefore
    ``distinct_est``) to a no-op and insert-only feeds maintain the
    estimate within the sketch's published RSE forever. The
    idempotency claim is scoped to the sketch alone: ``n_rows`` is a
    SUM of added rows observed, so at-least-once upstream delivery
    (the same logical rows re-ingested under a NEW ingest_batch above
    the cursor) inflates it while the estimate stands still — read
    ``n_rows`` as rows-observed, not rows-distinct-contributing, and
    not a delivery-deduplicated count. But registers cannot be
    SUBTRACTED — a removal or change cannot be applied to a sketch —
    so a feed slice containing ``removed`` or ``changed`` rows raises,
    naming the recompute trigger: call :func:`rebuild_distinct_view`
    (one grouped scan of the current table, cursor stamped to the
    feed's frontier), then resume incremental refreshes above the
    rebuilt cursor. Estimates are bounds-stated, never bit-pinned
    (`operators/sketches.py` doctrine).

    Scale shape: one |changes|-sized aggregation + a ledger-sized
    null-safe merge; the base table is never read."""
    cursor = _read_cursor(spark, view_path)
    feed = read_changefeed(spark, changefeed_path, since_batch=cursor)
    top_row = feed.agg(
        F.max("ingest_batch").alias("m"),
        F.sum(
            F.when(F.col("change").isin("removed", "changed"), 1).otherwise(0)
        ).alias("bad"),
    ).collect()[0]
    if top_row["m"] is None:
        return 0
    if (top_row["bad"] or 0) > 0:
        raise ValueError(
            "refresh_distinct_view: the changefeed slice contains "
            f"{top_row['bad']} removed/changed rows - HLL registers "
            "cannot be subtracted. Recompute the view from scratch: "
            "rebuild_distinct_view(spark, table_path, changefeed_path, "
            "view_path, group_cols, key_col) - one grouped scan of the "
            "current table, cursor stamped to the feed's frontier - "
            "then resume incremental refreshes."
        )
    new_cursor = int(top_row["m"])
    n_batches = feed.select("ingest_batch").distinct().count()
    new_v = F.from_json("new_values", value_schema)
    # key_col resolves from the feed's top-level columns first (the
    # upsert KEYS ride there, outside the packed value struct — the
    # "distinct users per region" case), else from the value struct.
    key_expr = (
        F.col(key_col) if key_col in feed.columns
        else new_v.getField(key_col)
    )
    deltas = (
        feed.filter(F.col("change") == "added")
        .select(
            *[new_v.getField(g).alias(g) for g in group_cols],
            key_expr.cast("string").alias("__k"),
        )
        .groupBy(*group_cols)
        .agg(
            F.hll_sketch_agg("__k", lg_k).alias("sketch"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    if Path(view_path).exists():
        current = read_view(spark, view_path).select(
            *group_cols, "sketch", "n_rows"
        )
    else:
        current = deltas.limit(0)
    cur, d = current.alias("__cur"), deltas.alias("__d")
    cond = F.lit(True)
    for g in group_cols:
        cond = cond & F.col(f"__cur.{g}").eqNullSafe(F.col(f"__d.{g}"))
    cs, ds = F.col("__cur.sketch"), F.col("__d.sketch")
    merged = (
        cur.join(d, cond, "full_outer")
        .select(
            *[
                F.coalesce(F.col(f"__cur.{g}"), F.col(f"__d.{g}")).alias(g)
                for g in group_cols
            ],
            # union only when both sides exist; hll_union(null, x) is
            # not defined to pass through
            F.when(cs.isNull(), ds)
            .when(ds.isNull(), cs)
            .otherwise(F.hll_union(cs, ds, True))
            .alias("sketch"),
            (
                F.coalesce(F.col("__cur.n_rows"), F.lit(0))
                + F.coalesce(F.col("__d.n_rows"), F.lit(0))
            ).alias("n_rows"),
        )
        .withColumn("distinct_est", F.hll_sketch_estimate("sketch"))
    )
    _swap_view(spark, view_path, merged, new_cursor)
    return n_batches


def rebuild_distinct_view(
    spark: SparkSession,
    table_path: str,
    changefeed_path: str,
    view_path: str,
    group_cols: list[str],
    key_col: str,
    lg_k: int = 12,
) -> int:
    """The recompute path :func:`refresh_distinct_view`'s rejection
    names, as one public call: rebuild the per-group HLL view from the
    CURRENT table state (one grouped scan —
    ``operators.sketches.hll_ledger`` over ``upsert.read_current``)
    and stamp the cursor to the changefeed's frontier (its max
    ``ingest_batch``), so incremental refreshes resume cleanly above
    everything the rebuild already saw. Returns the stamped cursor.

    Use after any removal/change-bearing slice wedged the incremental
    path; the swap is the same atomic pointer swap every view write
    uses, so a crashed rebuild leaves the old view intact. After a
    rebuild, ``n_rows`` restarts as the CURRENT table's row count per
    group (the rows-observed ledger forgets pre-rebuild deliveries)."""
    from ..operators.sketches import hll_ledger
    from .upsert import read_current

    frontier = (
        read_changefeed(spark, changefeed_path)
        .agg(F.max("ingest_batch").alias("m"))
        .collect()[0]["m"]
    )
    new_cursor = -1 if frontier is None else int(frontier)
    view = hll_ledger(
        read_current(spark, table_path), key_col, by=group_cols, lg_k=lg_k
    )
    _swap_view(spark, view_path, view, new_cursor)
    return new_cursor
