"""The two lake zones (raw JSON / enriched Parquet) and the catalog layer.

Mirrors the reference's medallion layout (SURVEY.md §1.1):

- raw zone: one JSON document per message under
  ``raw/telegram/context_date={d}/`` (reference ipynb:330) — here written
  by Spark as JSON-lines files per partition directory, same layout
  semantics, engine-managed file counts.
- enriched zone: compacted Parquet under
  ``enriched/telegram/context_date={d}/`` (ipynb:596-597), registered as a
  partitioned external table (the Athena DDL, ipynb:732-750).

Improvements over the reference, deliberate (SURVEY §2.9 ST4): writes to
the enriched zone use *dynamic partition overwrite*, so re-running a day is
idempotent (the reference would duplicate output).

Filesystem-atomicity note, stated ONCE for every directory swap in
this repo. The reference's lake lives on S3, where a directory
``rename`` is a non-atomic per-object copy-then-delete — so no swap
here relies on one. Every swap site uses ONE protocol, the manifest
pointer: write the new content under a fresh version directory nothing
points at, then atomically replace a small pointer naming it (the
Iceberg/Delta commit model: a single-key PUT on S3/GCS, ``os.replace``
locally); readers resolve the pointer, never the directory name, and a
crash leaves either the old pointer or the new one. The sites:
`sources/commit.commit_dir`, the generic version (`streaming/ivm.py`
view commits, `streaming/upsert.py` per-bucket merges,
`operators/webdataset.py`'s ``commit="manifest"`` export), and
`streaming/ledger_compaction.commit_baseline`, which adds the folding
horizon ledgers need. Each is crash-injected in its tests. Partition
writes that go through Spark's own file committer (dynamic partition
overwrite of enriched days, ledger and changefeed batches, the shard
rewrite in `operators/packing.py`) are not swaps of this kind: on an
object store they need an object-store committer such as the S3A
magic committer, a deployment setting rather than engine code.

`sources/bucketing.compact_bucketed_table` is the one place where the
pointer store is the CATALOG, and it keeps two swaps.
``swap="location"`` is the pointer model: one atomic ``ALTER TABLE ...
SET LOCATION`` onto a fresh version directory, no reader window.
``swap="rename"`` (the default) is two catalog renames with a
TABLE_NOT_FOUND window between them, and on a managed table each
rename moves the warehouse directory — not atomic on an object store.
Both remain because ``SET LOCATION`` moves only the table root: a
PARTITIONED table (the IVF index tables of
`streaming/index_maintenance.py` are partitioned by ``ingest_batch``)
keeps its catalog partition entries, so the location swap refuses it,
and the rename swap, which rewrites the partition column as a plain
column, is the only one that runs there.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..schemas import RAW_UPDATE_SCHEMA

# The reference pins the pipeline clock to UTC-3 (ipynb:310:
# ``timezone(offset=timedelta(hours=-3))``): partition values are the
# *wall-clock date in Brasília time* of the arrival instant. The engine
# session stays in UTC; only the partition-value derivation shifts.
DEFAULT_INGEST_TZ = "-03:00"


def _tzinfo(tz: str) -> dt.tzinfo:
    """tzinfo from a fixed offset ("±HH:MM") or an IANA zone name."""
    if tz and tz[0] in "+-":
        h, m = tz[1:].split(":")
        delta = dt.timedelta(hours=int(h), minutes=int(m))
        return dt.timezone(-delta if tz[0] == "-" else delta)
    from zoneinfo import ZoneInfo

    return ZoneInfo(tz)


def arrival_date(ts: Column, tz: str = DEFAULT_INGEST_TZ) -> Column:
    """Arrival-date partition value: the wall-clock date in the pipeline
    ingest timezone of UTC instant ``ts``. An event arriving 01:00 UTC
    belongs to the *previous* day's partition under the default UTC-3."""
    return F.to_date(F.from_utc_timestamp(ts, tz))


def pipeline_today(tz: str = DEFAULT_INGEST_TZ) -> dt.date:
    """Driver-side twin of :func:`arrival_date` at now() — the reference's
    ``datetime.now(tzinfo=timezone(timedelta(hours=-3)))`` (ipynb:310)."""
    return dt.datetime.now(dt.timezone.utc).astimezone(_tzinfo(tz)).date()


class TelegramLake:
    """Paths + IO for one logical pipeline instance.

    ``ingest_tz`` is the pipeline clock for arrival-date partitioning,
    defaulting to the reference's fixed UTC-3; pass an IANA name (e.g.
    "America/Sao_Paulo") for DST-aware semantics instead.
    """

    def __init__(
        self,
        root: str,
        chat_id: int | None = None,
        ingest_tz: str = DEFAULT_INGEST_TZ,
    ):
        self.root = root.rstrip("/")
        self.raw_path = f"{self.root}/raw/telegram"
        self.enriched_path = f"{self.root}/enriched/telegram"
        self.chat_id = chat_id
        self.ingest_tz = ingest_tz
        self._registered: set[str] = set()

    def today(self) -> dt.date:
        """Current date on the pipeline clock (UTC-3 by default)."""
        return pipeline_today(self.ingest_tz)

    # --- raw zone ---------------------------------------------------------

    def write_raw(self, updates: DataFrame, ingest_batch: int | None = None) -> None:
        """Write updates into the raw zone, partitioned by arrival date.

        ``context_date`` is *processing time on the pipeline's UTC-3
        clock* (reference ipynb:310-311: the partition key is arrival date
        in ``timezone(-3h)``, event time is preserved separately in
        ``message.date`` — the two-timeline model, SURVEY §2.9 ST3).

        ``ingest_batch`` (a streaming micro-batch id) makes the write
        **replay-idempotent** for foreachBatch sinks: rows land under
        ``context_date={d}/ingest_batch={n}/`` and the dynamic-overwrite
        mode rewrites exactly the replayed batch's partitions — a
        re-delivered micro-batch cannot duplicate rows. (Spark's plain
        file sink gets this from its commit log; foreachBatch does not,
        so it must encode the batch id in the layout.) A raw root is
        owned by one mode: the two layouts differ in directory depth and
        must not be mixed under one prefix.
        """
        stamped = updates.withColumn(
            "context_date",
            arrival_date(F.current_timestamp(), self.ingest_tz),
        )
        if ingest_batch is None:
            stamped.write.mode("append").partitionBy("context_date").json(
                self.raw_path
            )
        else:
            (
                stamped.withColumn("ingest_batch", F.lit(int(ingest_batch)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("context_date", "ingest_batch")
                .json(self.raw_path)
            )

    def read_raw(self, spark: SparkSession, context_date: dt.date | str | None = None) -> DataFrame:
        """Read the raw zone; a date filter prunes to one partition
        (the S3-prefix listing at ipynb:572, done by Catalyst here).

        Which files are visible depends on the ingest route that owns the
        raw root. The plain file-sink route
        (``start_ingest_stream`` without a quarantine dir) keeps a commit
        log in ``raw/telegram/_spark_metadata``; Spark then lists only the
        files committed in that log, so files laid down beside it (a
        backfill copied into ``context_date=D/``, say) are invisible here.
        The quarantining route writes batch-keyed directories with no
        commit log, so every file under the root is read."""
        from pyspark.sql import types as T

        # fresh StructType each call — StructType.add mutates in place
        schema = T.StructType(
            list(RAW_UPDATE_SCHEMA.fields)
            + [T.StructField("context_date", T.DateType())]
        )
        df = spark.read.schema(schema).json(self.raw_path)
        if context_date is not None:
            df = df.filter(F.col("context_date") == F.lit(str(context_date)))
        return df

    # --- enriched zone ----------------------------------------------------

    def write_enriched(self, flat: DataFrame, files_per_partition: int = 1) -> None:
        """Write flattened rows, partitioned by ``context_date``, compacted.

        The default keeps the reference's 1-file-per-day invariant
        (ipynb:596: one compacted Parquet per partition). At 100 TB a single
        file per day serializes the write, so callers pass a
        ``files_per_partition`` sized from input bytes (SURVEY §7 risk 2).
        Dynamic partition overwrite makes day re-runs idempotent.
        """
        from ..operators.compaction import compact_by_partition

        compacted = compact_by_partition(
            flat, "context_date", files_per_partition=files_per_partition
        )
        (
            compacted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("context_date")
            .parquet(self.enriched_path)
        )
        # overwrite replaces files under any already-registered view; a temp
        # view freezes its file listing at registration time, so refresh the
        # path cache AND re-register views (the MSCK-REPAIR analogue)
        spark = flat.sparkSession
        spark.catalog.refreshByPath(self.enriched_path)
        for name in self._registered:
            self.read_enriched(spark).createOrReplaceTempView(name)

    def read_enriched(
        self, spark: SparkSession, merge_schema: bool = False
    ) -> DataFrame:
        """Read the enriched zone. ``merge_schema=True`` unions the
        footer schemas across partitions — the day the pipeline grows a
        column, partitions written before it lack the field, and the
        default single-footer read would either miss the new column or
        fail depending on which file Spark samples; merged reads return
        the union schema with NULLs for pre-evolution days (pinned in
        tests/test_etl_pipeline.py). Costs one footer read per file, so
        keep it off for schema-stable zones and on during migrations."""
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(self.enriched_path)

    def register_table(self, spark: SparkSession, name: str = "telegram") -> None:
        """Catalog layer (SURVEY §2.1 S9): expose the enriched zone as the
        ``telegram`` table — the Athena ``CREATE EXTERNAL TABLE`` +
        partition-discovery analogue. Partition discovery happens on read
        (Spark infers ``context_date=`` directories); a view keeps this
        zero-copy and always-fresh without a metastore dependency."""
        self.read_enriched(spark).createOrReplaceTempView(name)
        self._registered.add(name)

    def register_persistent_table(
        self, spark: SparkSession, name: str = "telegram"
    ) -> None:
        """Persistent variant of S9: a real *catalog* table over the
        enriched prefix — ``CREATE TABLE ... USING PARQUET ... LOCATION``
        plus ``MSCK REPAIR TABLE`` partition recovery, the exact analogue
        of the Athena external DDL + MSCK (reference ipynb:732-750).
        Unlike a temp view, the table is session-independent: any session
        sharing the catalog (and, with a metastore, any future process)
        sees it without re-registration."""
        from ..schemas import ENRICHED_SCHEMA

        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString().upper()}"
            for f in ENRICHED_SCHEMA.fields
            if f.name != "context_date"
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}, context_date DATE) "
            f"USING PARQUET PARTITIONED BY (context_date) "
            f"LOCATION '{self.enriched_path}'"
        )
        # external-location tables don't auto-discover partition dirs the
        # way path reads do — recover them (the MSCK step, ipynb:750)
        spark.sql(f"MSCK REPAIR TABLE {name}")
