"""SparkSession factory.

The engine runs on any SparkSession, but local runs (tests, bench) want a
consistent tuning profile: AQE on (runtime coalescing + skew-join handling),
UTC session timezone (the reference pipeline is timezone-sensitive — it
partitions by UTC-3 arrival date, ipynb:310 — so the engine pins the session
zone and converts explicitly), Arrow enabled for the Pandas-UDF paths.

Scale notes (100 TB / 1000 executors): everything here is per-session config
that holds on a real cluster — AQE coalesces the post-shuffle partition count
at runtime so a static ``spark.sql.shuffle.partitions`` of a few thousand is
safe; ``maxPartitionBytes`` keeps scan tasks ~128 MB; broadcast threshold is
left at default (10 MB) because the dimension tables we broadcast are tiny
and we mark them explicitly with ``broadcast()`` anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "data-pipeline-spark-engine"


def local_cores(default: str = "*") -> str:
    """The core count for a ``local[...]`` master: ``$SPARK_GRAFT_CPUS``
    when it is a positive integer, else ``default`` — an empty, zero,
    negative or non-numeric value would otherwise build a master such
    as ``local[]`` or ``local[0]`` that fails to start."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        return default
    return str(n) if n > 0 else default


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuning profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``, see :func:`local_cores`) when no active session exists.
    """
    cpus = local_cores()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # r13: the whole-stage-codegen compile cache defaults to 100
        # generated classes — this engine's 50-query registry compiles
        # ~280 distinct stages per bench sweep, so the LRU thrashed and
        # every query re-paid Janino compilation on every run (measured
        # ABBA on a 10-row interleaved sub-bench: codegen-heavy rows
        # q6/dd2/dd4 −20-30%, total −9%). 2000 entries ≈ ≤100 MB of
        # driver heap for generated classes; scale-neutral (it caches
        # generated CODE keyed by source text, never data or results,
        # and a production cluster running a query fleet wants the same
        # headroom). Static conf — must be set before session creation.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "2000"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
