"""Pipeline benchmark for the Telegram lake engine.

    python3 perfbench/run.py --workload telegram_daily --seed 1 --seconds 12 --trace 0

Runs one workload (or ``--workload all``) against the package in the
parent directory: generates seeded inputs, sets up a Spark session three
times (each set-up is session start plus a warm-up pass through the
workload's layers), measures, checks every output and prints a report
followed by one JSON line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics below; with
``--trace 1`` the run measures once untraced and once traced (spans plus a
Spark event log) and the metrics are the per-layer ones, including the
difference between the two as ``bench.trace_overhead_s``.

Everything the run writes stays under ``.bench_work/`` next to this
directory. See ``perfbench/README.md`` for what each metric means on each
workload and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

from spans import TASK_FIELDS, Tracer, attribute_event_log
from stats import cpu_seconds, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_msg": "ms",
    "op_cpu_s": "s",
    "bytes_per_msg": "B",
    "peak_rss_mb": "MB",
}

QUERIES = ["select_limit", "daily_count", "user_daily_count",
           "user_daily_avg_len", "hour_weekday_weeknum"]
PER_LAYER = {
    "session.get_spark_s": "s",
    "ingest.list_ms_p50": "ms",
    "ingest.add_batch_ms_p50": "ms",
    "ingest.trigger_ms_p50": "ms",
    "ingest.rows_per_batch_p50": "count",
    "ingest.batches": "count",
    "ingest.backlog_files_max": "count",
    "ingest.quarantined_rows": "count",
    "ingest.foreign_dropped_rows": "count",
    "ingest.drain_s": "s",
    "ingest.msgs_per_s": "1/s",
    "lake.raw_files": "count",
    "lake.enriched_files_per_day_max": "count",
    "lake.enriched_bytes": "B",
    "lake.register_s": "s",
    "etl.day_s_p50": "s",
    "etl.msgs_per_s": "1/s",
    "etl.shuffle_write_bytes": "B",
    "etl.spill_bytes": "B",
    "etl.gc_ms": "ms",
    **{f"query.{q}.{part}_s": "s" for q in QUERIES for part in ("build", "exec")},
    "curation.build_s": "s",
    "curation.exec_s": "s",
    "curation.shuffle_write_bytes": "B",
    "curation.ledger_rows.exact_dedup": "count",
    "curation.ledger_rows.near_dedup": "count",
    "curation.ledger_rows.quality": "count",
    "dedup.candidate_pairs": "count",
    "dedup.candidate_yield": "ratio",
    "bench.gen_lag_s": "s",
    "bench.trace_overhead_s": "s",
}

SETUPS = 3
# CPU seconds one calibration round costs at the reference speed, the speed
# the CPU metrics are scaled to (about this host's speed when quiet)
CALIBRATION_REF_S = 1.0
CALIBRATION_ROUNDS = 2  # before and again after the measurement


class Ctx:
    """What a workload reports besides its metrics: operations attempted,
    and those that failed or gave a wrong result."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.pids = [os.getpid()]

    def cpu(self) -> float:
        """CPU seconds used so far by this process and the driver JVM."""
        return cpu_seconds(self.pids)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM, like the driver JVM, writes no perf-data
    # file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def _start_session(work: str, event_log: str | None):
    """``get_spark`` with every Spark and JVM scratch path inside ``work``;
    returns the session and the seconds ``get_spark`` took."""
    from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # compiler threads stay alive, so their CPU can be told apart from
        # the program's (stats.cpu_seconds leaves it out); a fixed heap
        # keeps G1 from sizing it differently from run to run; no perf-data
        # file, which the JVM would write under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads -Xms2g"
            " -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    took = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, took


def _calibration_round(spark, ctx: Ctx) -> float:
    """CPU seconds of one fixed task that runs none of the package's code:
    ``Arrays.parallelSort`` of 8M seeded longs in the driver JVM. Other
    guests on a shared host slow it as they slow the workload, so CPU
    metrics are scaled by it to the reference speed."""
    jvm = spark._jvm
    c0 = ctx.cpu()
    jvm.java.util.Arrays.parallelSort(jvm.java.util.Random(42).longs(8_000_000).toArray())
    return ctx.cpu() - c0


def _stop_jvm() -> None:
    """End the driver JVM PySpark launched and wait for it: it exits when its
    standard input closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _workload(name: str, seed: int, work: str):
    if name == "telegram_daily":
        from daily import Daily as W
    elif name == "chat_curation":
        from curation import Curation as W
    else:
        from webhook import Webhook as W
    return W(seed, work)


def run(name: str, seed: int, seconds: int, trace: bool) -> dict:
    work = os.path.join(ROOT, ".bench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    wl = _workload(name, seed, work)
    ctx = Ctx()
    off = Tracer(False)
    spark, setups, setup_cpu, get_spark_s, untraced = None, [], [], [], None
    try:
        for i in range(SETUPS):
            traced_session = trace and i == SETUPS - 1
            if traced_session:
                # the untraced half of a traced run, on a warm plain session
                untraced = wl.measure(spark, off, ctx, seconds)
            if spark is not None:
                spark.stop()
            t0, c0 = time.perf_counter(), ctx.cpu()
            spark, took = _start_session(work, os.path.join(work, "eventlog") if traced_session else None)
            ctx.pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
            wl.warm_up(spark, off, ctx, i)
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(ctx.cpu() - c0)
            get_spark_s.append(took)
        tracer = Tracer(trace)
        tracer.spark = spark if trace else None
        for _ in range(2):  # JIT-compile the sort first
            _calibration_round(spark, ctx)
        calibration = [_calibration_round(spark, ctx) for _ in range(CALIBRATION_ROUNDS)]
        result = wl.measure(spark, tracer, ctx, seconds)
        calibration += [_calibration_round(spark, ctx) for _ in range(CALIBRATION_ROUNDS)]
        rss = peak_rss_mb(ctx.pids)
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()

    lines = [f"workload {name} seed {seed}"]
    if not trace:
        scale = CALIBRATION_REF_S / median(calibration)
        metrics = dict(result["e2e"])
        metrics["setup_s"] = (median(setup_cpu), len(setup_cpu),
                              "CPU per set-up (session start + warm-up pass), median")
        report = {}
        for k in ("setup_s", "cpu_ms_per_msg", "op_cpu_s"):
            v, n, what = metrics[k]
            report[f"raw_{k}"] = (v, n, END_TO_END[k])
            metrics[k] = (v * scale, n, what + ", at reference speed")
        metrics["peak_rss_mb"] = (rss, 1, "driver JVM + Python peak RSS")
        for k, (v, n, what) in metrics.items():
            lines.append(f"  {k:<30} {v:12.4f} {END_TO_END[k]:<5} n={n:<4} {what}")
        report["calibration_cpu_s"] = (median(calibration), len(calibration), "s")
        report.update(result["report"])
        report["setup_wall_s"] = (median(setups), len(setups), "s")
        for k, (v, n, unit) in report.items():
            lines.append(f"  {k:<30} {v:12.4f} {unit:<5} n={n:<4} not gated")
        out = {k: {"value": float(v[0]), "unit": END_TO_END[k]} for k, v in metrics.items()}
    else:
        tracer.write(os.path.join(ROOT, ".bench_work", f"spans-{name}-seed{seed}.json"))
        per_span = attribute_event_log(os.path.join(work, "eventlog"), tracer.spans)
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(result["layer"])
        layer.update(wl.traced_layer(tracer, per_span) if hasattr(wl, "traced_layer") else {})
        layer["session.get_spark_s"] = median(get_spark_s)
        layer["bench.trace_overhead_s"] = result["unit_cpu_s"] - untraced["unit_cpu_s"]
        for k in PER_LAYER:
            lines.append(f"  {k:<36} {layer[k]:14.4f} {PER_LAYER[k]}")
        lines.append("  by span: n, total s, self s, task run s, input records, shuffle write B")
        tasks: dict[str, dict[str, int]] = {}
        for s in tracer.spans:
            acc = tasks.setdefault(s["name"], dict.fromkeys(TASK_FIELDS, 0))
            for k, v in per_span.get(s["id"], {}).items():
                acc[k] += v
        for k, r in sorted(tracer.self_time_report().items()):
            t = tasks[k]
            lines.append(f"    {k:<34} {r['n']:5d} {r['total_s']:10.3f} {r['self_s']:10.3f}"
                         f" {t['run_ms'] / 1000:10.3f} {t['input_records']:10d}"
                         f" {t['shuffle_write_bytes']:12d}")
        out = {k: {"value": float(layer[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
    fail_ratio = ctx.failed / max(1, ctx.attempted)
    lines.append(f"  fail_ratio {fail_ratio:.4f} ({ctx.failed} of {ctx.attempted} operations)")
    print("\n".join(lines), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted,
            "failed": ctx.failed, "metrics": out}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="Telegram pipeline benchmark")
    p.add_argument("--workload", required=True,
                   choices=["telegram_daily", "chat_curation", "webhook_stream", "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv)
    if a.workload == "all":
        # one process per workload, so each starts its own JVM
        code = 0
        for w in ("telegram_daily", "webhook_stream", "chat_curation"):
            code |= subprocess.call([sys.executable, __file__, "--workload", w,
                                     "--seed", str(a.seed), "--seconds", str(a.seconds),
                                     "--trace", str(a.trace)])
        return code
    res = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
