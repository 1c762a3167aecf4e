"""Bucketed catalog tables — co-located fact-to-fact joins without a
shuffle.

Broadcast handles the small-dimension side of a star join; what it cannot
handle is the 100 TB fact-to-fact join (lineitem ⋈ orders on orderkey,
assignments ⋈ corpus on centroid_id, ...) where BOTH sides are too big to
broadcast. Spark's answer is bucketing: write each table hash-partitioned
into the same number of buckets on the join key
(``df.write.bucketBy(n, key).sortBy(key).saveAsTable(...)``). Two tables
bucketed the same way are *co-located by construction* — the sort-merge
join reads bucket i of each side in the same task and the Exchange (and,
with ``sortBy``, the per-task Sort) disappears from the physical plan.
Sort elision additionally needs one file per bucket (``write_bucketed``
guarantees it) and, since Spark 3.0, the reader flag
``spark.sql.legacy.bucketedTableScan.outputOrdering=true``; without the
flag the join is still shuffle-free and only the cheap per-task sort
remains.

At 100 TB this is the difference between re-shuffling ~100 TB per join
and shuffling it exactly once at write time, amortized over every
subsequent join/aggregation on that key. The same write also serves
``groupBy(key)`` aggregations shuffle-free. Bucket count is a real dial:
it bounds join parallelism (one task per bucket), so size it to
cluster cores × a small factor at the target scale — the 100 TB profile
wants thousands of buckets, tests use 8.

The reference pipeline keeps everything in unbucketed S3 prefixes and
lets Athena shuffle per query (ipynb:732-750 registers plain external
tables); this module is the engine's scale path beyond that design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    key: str | list[str],
    sorted_by: str | list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally per-bucket-sorted)
    catalog table. ``sorted_by`` defaults to the bucket key — sorted
    buckets let the sort-merge join skip its per-task Sort as well.
    ``path`` makes the table EXTERNAL at that location (the
    location-swap compaction writes its version dirs this way: the
    catalog entry can then be dropped without deleting the data)."""
    keys = [key] if isinstance(key, str) else list(key)
    sorts = (
        keys
        if sorted_by is None
        else [sorted_by]
        if isinstance(sorted_by, str)
        else list(sorted_by)
    )
    # one file per bucket: Spark only trusts the sortBy metadata (and
    # skips the join-side Sort) when a bucket is a single file — with
    # several writer tasks each bucket gets several files and the reader
    # must merge-sort them anyway. repartition on the bucket key uses the
    # same Murmur3 hash as the bucket spec, so task i holds exactly
    # bucket i's rows. At 100 TB keep this: writer parallelism then
    # equals bucket count, which the module docstring sizes in the
    # thousands anyway.
    df = df.repartition(buckets, *[df[k] for k in keys])
    if mode == "overwrite":
        _drop_table_and_location(df.sparkSession, table)
    writer = (
        df.write.mode(mode)
        .bucketBy(buckets, keys[0], *keys[1:])
        .sortBy(sorts[0], *sorts[1:])
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """Make an overwrite-mode ``saveAsTable`` idempotent across metastore
    lifetimes: a fresh (per-session Derby) metastore does not know the
    table, so ``mode("overwrite")`` alone raises LOCATION_ALREADY_EXISTS
    when a previous session's warehouse directory survives. Drop the
    catalog entry if present, then remove the orphan location through the
    Hadoop FS API (works for any filesystem, not just local disk).

    The delete target is resolved from the CATALOG while the table still
    exists (``DESCRIBE FORMATTED`` Location), never guessed — a guess of
    ``<warehouse>/<name>`` recursively deletes the wrong directory for a
    qualified name (``db.t`` lives at ``<warehouse>/db.db/t`` while plain
    ``t`` of the default db owns ``<warehouse>/t``) and for any table
    created with a custom LOCATION. Only when the catalog has no entry
    (the orphan-directory case this helper exists for) is the path
    derived from the warehouse layout, db-qualified; three-part names
    are refused rather than mis-derived."""
    jvm = spark._jvm
    location = None
    if spark.catalog.tableExists(table):
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        }
        location = desc.get("Location")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if location is not None:
        path = jvm.org.apache.hadoop.fs.Path(location)
    else:
        parts = table.lower().split(".")
        if len(parts) > 2:
            raise ValueError(
                f"cannot derive a warehouse path for 3-part name {table!r};"
                " drop its location manually or use db.table"
            )
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        db = parts[0] if len(parts) == 2 else "default"
        name = parts[-1]
        rel = name if db == "default" else f"{db}.db/{name}"
        path = jvm.org.apache.hadoop.fs.Path(warehouse, rel)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def bucket_spec(spark: SparkSession, table: str) -> tuple[int, list[str], list[str]]:
    """(n_buckets, bucket_cols, sort_cols) read from the catalog — the
    layout contract appends and compactions must reproduce."""
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    cols = [c.strip("` ") for c in desc["Bucket Columns"].strip("[]").split(",")]
    sorts = [c.strip("` ") for c in desc["Sort Columns"].strip("[]").split(",")]
    return int(desc["Num Buckets"]), cols, sorts


# indirection point: the location-swap commit statement, separable so
# crash-injection tests can kill the process "at the commit point"
def _commit_sql(spark: SparkSession, stmt: str) -> None:
    spark.sql(stmt)


def compact_bucketed_table(
    spark: SparkSession, table: str, swap: str = "rename"
) -> None:
    """Rewrite a bucketed table back to ONE file per bucket — the
    maintenance pass after incremental appends (each append adds a file
    per bucket; co-location survives but per-file sorted runs multiply,
    and the reader's sort-elision guarantee needs single-file buckets).

    Write-new-then-swap, never read-and-overwrite in place (a lazy scan
    of a location being overwritten reads its own destruction): the
    compacted copy lands under a scratch name with the same bucket spec,
    then two catalog renames swap it in. At 100 TB the same shape holds
    — the swap is metadata-only; the data rewrite is the price of
    restoring the layout, paid at compaction cadence, not query time.

    Two swap protocols (``swap=``; `sources/lake.py`'s
    filesystem-atomicity note says why both remain):

    - ``"rename"`` (default): two catalog renames. NOT atomic — between
      the renames the original name does not resolve, so run it in a
      maintenance window (a concurrent reader in that gap fails with
      TABLE_NOT_FOUND and should retry). A failure of the second rename
      rolls the backup rename back, so the table is always queryable
      under its original name after this function exits; the only
      non-recoverable window is a hard crash between the two renames,
      after which the data survives intact under
      ``<table>__precompact`` and needs one manual ``ALTER TABLE
      RENAME``.
    - ``"location"``: the manifest-pointer model with the CATALOG as
      the pointer store. The compacted copy lands in a fresh
      ``<location>__versions/v{n}`` directory as an EXTERNAL scratch
      table, then ONE ``ALTER TABLE ... SET LOCATION`` — a single
      atomic metastore update — makes it live. The table name resolves
      continuously (no reader window), a crash before the SET leaves
      the old data live, after it the new; unreferenced version dirs
      and the pre-migration managed directory are post-commit sweep
      targets, re-swept by the next compaction. The residual caveat is
      the one every swap shares: an in-flight lazy scan that resolved
      the OLD location keeps reading a directory the sweep is
      deleting — schedule compaction off the read path or delay the
      sweep by one cadence. Refuses a PARTITIONED table with
      ``ValueError`` before writing anything: ``SET LOCATION`` moves
      only the table root while the catalog keeps listing the old
      partitions, so every query would silently come back empty. Use
      ``"rename"`` there (it rewrites the partition column as a plain
      column)."""
    if swap == "location":
        _compact_swap_location(spark, table)
        return
    if swap != "rename":
        raise ValueError(
            f"compact_bucketed_table: swap must be rename | location, "
            f"got {swap!r}"
        )
    n, cols, sorts = bucket_spec(spark, table)
    scratch, backup = f"{table}__compacting", f"{table}__precompact"
    # read the FILES, not the table: a catalog read advertises the bucket
    # spec as its output partitioning, which lets Catalyst elide the
    # repartition inside write_bucketed while the bucketed scan itself
    # may be disabled as "unnecessary" — leaving one writer task per
    # FILE, i.e. exactly the multi-file layout compaction is fixing
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    df = spark.read.parquet(desc["Location"])
    write_bucketed(df, scratch, n, cols, sorts)
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {backup}")
    try:
        spark.sql(f"ALTER TABLE {scratch} RENAME TO {table}")
    except Exception:
        spark.sql(f"ALTER TABLE {backup} RENAME TO {table}")
        raise
    _drop_table_and_location(spark, backup)


_VERSIONS_SUFFIX = "__versions"


def _compact_swap_location(spark: SparkSession, table: str) -> None:
    """The ``swap="location"`` protocol of :func:`compact_bucketed_table`
    (docstring there). Steps: resolve the current location → pick the
    next ``v{n}`` under the versions root → bucketed write there as an
    EXTERNAL scratch table → ``SET LOCATION`` (commit point) → drop the
    scratch entry (external: data stays) → sweep superseded dirs."""
    import re

    parts = [
        c.name for c in spark.catalog.listColumns(table) if c.isPartition
    ]
    if parts:
        raise ValueError(
            f"compact_bucketed_table: swap='location' cannot compact "
            f"{table}, which is partitioned by {parts} - SET LOCATION "
            "moves only the table root, not its catalog partitions. "
            "Use swap='rename'."
        )
    n, cols, sorts = bucket_spec(spark, table)
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    cur_loc = desc["Location"].rstrip("/")
    m = re.search(rf"(.*){re.escape(_VERSIONS_SUFFIX)}/v\d+$", cur_loc)
    root = (
        m.group(1).rstrip("/") + _VERSIONS_SUFFIX
        if m
        else cur_loc + _VERSIONS_SUFFIX
    )
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root_path = jvm.org.apache.hadoop.fs.Path(root)
    fs = root_path.getFileSystem(hconf)
    scratch = f"{table}__compacting"
    # dead-run scratch preclean: drop the ENTRY only. A crashed
    # POST-commit run leaves a scratch entry pointing at the LIVE
    # location — deleting its data would destroy the table; a crashed
    # PRE-commit run's partial version dir is unreferenced and gets
    # swept below. (External tables keep their data on DROP; a managed
    # leftover from a crashed rename-mode run owns only scratch data.)
    spark.sql(f"DROP TABLE IF EXISTS {scratch}")
    versions = []
    if fs.exists(root_path):
        for st in fs.listStatus(root_path):
            name = st.getPath().getName()
            if re.fullmatch(r"v\d+", name):
                versions.append((int(name[1:]), st.getPath()))
    next_v = max((v for v, _ in versions), default=-1) + 1
    new_loc = f"{root}/v{next_v}"
    df = spark.read.parquet(cur_loc)
    write_bucketed(df, scratch, n, cols, sorts, path=new_loc)
    _commit_sql(
        spark, f"ALTER TABLE {table} SET LOCATION '{new_loc}'"
    )  # COMMIT POINT: one atomic metastore update
    spark.catalog.refreshTable(table)
    # post-commit cleanup, crash-safe (re-swept next compaction):
    # the scratch ENTRY (external, keeps the live data), superseded
    # version dirs, and on first migration the managed original dir
    spark.sql(f"DROP TABLE IF EXISTS {scratch}")
    for _, p in versions:
        fs.delete(p, True)
    if not m:  # first migration: the old managed directory
        old = jvm.org.apache.hadoop.fs.Path(cur_loc)
        if fs.exists(old):
            fs.delete(old, True)


def cojoined(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucket-count tables on their bucket keys. With both
    sides bucketed on the join key, Catalyst plans a SortMergeJoin whose
    inputs report the bucket spec as their output partitioning — no
    Exchange on either side (pin: tests/test_bucketing.py asserts the
    executed plan is exchange-free)."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, left[left_key] == right[right_key], how)


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the executed physical
    plan — the metric bucketing exists to drive to zero."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )
