"""``telegram_daily``: the paper's batch path, from landing files to the
five analyst queries.

Each pipeline pass starts on a fresh lake. Six earlier days are laid down
in the raw zone in the ``context_date=D/ingest_batch=0/`` layout the
quarantining ingest route writes (with the plain file-sink route the raw
root belongs to the sink's ``_spark_metadata`` log, and ``read_raw`` would
not see files laid beside it). Today's updates arrive as a few large
multi-line landing files and go through ``start_ingest_stream`` with
``available_now``. Then every day is ETL'd, the table registered and the
five ``TELEGRAM_SQL`` queries answered once; that span is ``pipeline_s``,
and its queries are the query samples.

Every query result is checked against DuckDB over the same enriched
Parquet, with the Presto semantics the engine pins: ISO day of week
(Monday = 1 ... Sunday = 7) and ``AVG(length(text))`` skipping NULL text.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import time
from statistics import median

import duckdb

import gen
from spans import rollup
from stats import count_lines, ingest_layer, percentile, tail_percentile

from data_pipeline_project_using_telegram_and_aws_spark.plans.telegram_queries import (
    TELEGRAM_SQL,
    run_telegram_query,
)
from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import TelegramLake
from data_pipeline_project_using_telegram_and_aws_spark.streaming.etl_job import run_daily_etl
from data_pipeline_project_using_telegram_and_aws_spark.streaming.ingest import start_ingest_stream

FIRST_DAY = dt.date(2024, 1, 1)  # a Monday: ISO week 1 starts here
DAYS = 7  # six laid down + today's landing day
UPDATES_PER_DAY = 2000
LANDING_FILES = 4
SECONDS_PER_PASS = 4  # pipeline passes per run: --seconds // this, at least 2
TRAFFIC = gen.Traffic(malformed_share=0.01, exact_dup_share=0.02, near_dup_share=0.02)

DUCKDB_SQL = {
    "daily_count": "SELECT context_date, count(*) FROM t GROUP BY ALL",
    "user_daily_count": (
        "SELECT user_id, user_first_name, context_date, count(*) FROM t GROUP BY ALL"
    ),
    "user_daily_avg_len": (
        "SELECT user_id, user_first_name, context_date, "
        "CAST(round(avg(length(text))) AS INTEGER) FROM t GROUP BY ALL"
    ),
    "hour_weekday_weeknum": (
        "SELECT hour(ts), isodow(ts), weekofyear(ts), count(*) FROM "
        "(SELECT epoch_ms(date * 1000) AS ts FROM t) GROUP BY ALL"
    ),
}


def _norm(rows) -> list[tuple]:
    """Rows as sortable tuples of strings, so Spark and DuckDB values of
    equal meaning compare equal whatever their Python types."""
    return sorted(tuple("" if v is None else str(v) for v in r) for r in rows)


class Daily:
    name = "telegram_daily"

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        g = gen.Generator(seed, TRAFFIC)
        self.days = [FIRST_DAY + dt.timedelta(days=k) for k in range(DAYS)]
        self.updates = {d: g.day(d, UPDATES_PER_DAY) for d in self.days}
        self.ok = {u.message_id: u for us in self.updates.values() for u in us if u.kind == "ok"}
        self.today = self.updates[self.days[-1]]
        self.malformed = sum(u.kind == "malformed" for u in self.today)
        self.laid = {d: [u for u in self.updates[d] if u.kind == "ok"] for d in self.days[:-1]}
        self.expected: dict[str, list[tuple]] | None = None

    # --- inputs -------------------------------------------------------------

    def _lay_down(self, root: str, laid: dict, today: list, files: int) -> TelegramLake:
        """Fresh lake at ``root``: raw days in place, today's landing files."""
        shutil.rmtree(root, ignore_errors=True)
        lake = TelegramLake(root, chat_id=gen.CHAT_ID)
        for d, us in laid.items():
            part = f"{lake.raw_path}/context_date={d}/ingest_batch=0"
            os.makedirs(part)
            with open(f"{part}/part-00000.json", "w") as f:
                f.writelines(u.body + "\n" for u in us)
        os.makedirs(f"{root}/landing")
        for j in range(files):
            with open(f"{root}/landing/updates-{j:03d}.json", "w") as f:
                f.writelines(u.body + "\n" for u in today[j::files])
        return lake

    # --- one pass through the layers -----------------------------------------

    def _pipeline(self, spark, tracer, lake: TelegramLake, layer: dict) -> dict:
        root = lake.root
        with tracer.span("ingest.drain"):
            t0 = time.perf_counter()
            q = start_ingest_stream(spark, lake, f"{root}/landing", f"{root}/ckpt",
                                    available_now=True, quarantine_dir=f"{root}/quarantine")
            q.awaitTermination()
            layer.setdefault("ingest.drain_s", []).append(time.perf_counter() - t0)
            layer.setdefault("progress", []).extend(q.recentProgress)
        days = sorted(p.split("=", 1)[1] for p in os.listdir(lake.raw_path)
                      if p.startswith("context_date="))
        rows = {}
        for d in days:
            with tracer.span("etl.day"):
                t0 = time.perf_counter()
                rows[d] = run_daily_etl(spark, lake, d)
                layer.setdefault("etl.day_s", []).append(time.perf_counter() - t0)
        with tracer.span("lake.register"):
            t0 = time.perf_counter()
            lake.register_table(spark)
            layer.setdefault("lake.register_s", []).append(time.perf_counter() - t0)
        return rows

    def _query(self, spark, tracer, ctx, name: str, layer: dict) -> tuple[list, float, float]:
        c0 = ctx.cpu()
        with tracer.span(f"query.{name}"):
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}.build"):
                df = run_telegram_query(spark, name)
            t1 = time.perf_counter()
            with tracer.span(f"query.{name}.exec"):
                out = df.collect()
            t2 = time.perf_counter()
        layer.setdefault(f"query.{name}.build_s", []).append(t1 - t0)
        layer.setdefault(f"query.{name}.exec_s", []).append(t2 - t1)
        return out, t2 - t0, ctx.cpu() - c0

    def warm_up(self, spark, tracer, ctx, i: int) -> None:
        """A small pass through every layer the measurement uses."""
        small = {d: us[:200] for d, us in list(self.laid.items())[:1]}
        lake = self._lay_down(f"{self.work}/warm{i}", small, self.today[:200], 1)
        self._pipeline(spark, tracer, lake, {})
        for name in TELEGRAM_SQL:
            self._query(spark, tracer, ctx, name, {})

    # --- checks ---------------------------------------------------------------

    def _reference(self, lake: TelegramLake) -> dict[str, list[tuple]]:
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW t AS SELECT * FROM read_parquet("
                f"'{lake.enriched_path}/*/*.parquet', hive_partitioning = true)"
            )
            return {name: _norm(con.execute(sql).fetchall()) for name, sql in DUCKDB_SQL.items()}
        finally:
            con.close()

    def _check_result(self, ctx, name: str, rows: list) -> None:
        if name == "select_limit":
            ok = len(rows) == 10 and all(
                r.message_id in self.ok and self.ok[r.message_id].text == r.text
                and self.ok[r.message_id].user_id == r.user_id for r in rows)
            ctx.check(ok, "select_limit returns 10 generated rows")
        else:
            ctx.check(_norm(rows) == self.expected[name], f"{name} matches DuckDB")

    def _check_lake(self, ctx, lake: TelegramLake, rows: dict) -> int:
        """Check one pass's lake; returns the rows the quarantine holds."""
        n_ok = len(self.ok)
        ctx.check(sum(rows.values()) == n_ok,
                  f"enriched rows {sum(rows.values())} == same-chat updates {n_ok}")
        for d, us in self.laid.items():
            ctx.check(rows.get(str(d)) == len(us), f"day {d} enriched rows")
        per_day = [len(glob.glob(f"{lake.enriched_path}/context_date={d}/*.parquet"))
                   for d in rows]
        ctx.check(all(n == 1 for n in per_day), f"one Parquet file per day: {per_day}")
        quarantined = count_lines(glob.glob(f"{lake.root}/quarantine/*/*.json"))
        ctx.check(quarantined == self.malformed,
                  f"quarantined {quarantined} == malformed {self.malformed}")
        con = duckdb.connect()
        try:
            got = con.execute(
                "SELECT count(DISTINCT message_id), sum(message_id) FROM read_parquet(?)",
                [f"{lake.enriched_path}/*/*.parquet"]).fetchone()
        finally:
            con.close()
        ctx.check(got == (n_ok, sum(self.ok)), "enriched message ids equal the generated ones")
        return quarantined

    # --- measurement ------------------------------------------------------------

    def measure(self, spark, tracer, ctx, seconds: float) -> dict:
        layer: dict = {}
        pipeline_s, pipeline_cpu, latencies, query_cpu = [], [], [], []
        self.passes = passes = max(2, int(seconds) // SECONDS_PER_PASS)
        for i in range(passes):
            tracer.run_id = f"pipeline-{i}"
            lake = self._lay_down(f"{self.work}/lake{i}", self.laid, self.today, LANDING_FILES)
            with tracer.span("pipeline"):
                t0, c0 = time.perf_counter(), ctx.cpu()
                rows = self._pipeline(spark, tracer, lake, layer)
                first = {name: self._query(spark, tracer, ctx, name, layer) for name in TELEGRAM_SQL}
                pipeline_s.append(time.perf_counter() - t0)
                pipeline_cpu.append(ctx.cpu() - c0)
            ctx.attempted += len(rows) + 1 + len(TELEGRAM_SQL)
            layer.setdefault("quarantined", []).append(self._check_lake(ctx, lake, rows))
            if self.expected is None:
                self.expected = self._reference(lake)
            for name, (out, took, cpu) in first.items():
                latencies.append(took)
                query_cpu.append(cpu)
                self._check_result(ctx, name, out)

        enriched = glob.glob(f"{lake.enriched_path}/*/*.parquet")
        enriched_bytes = sum(os.path.getsize(p) for p in enriched)
        n_msgs = len(self.ok)
        tail = tail_percentile(len(latencies))
        e2e = {
            "cpu_ms_per_msg": (sum(pipeline_cpu) * 1000 / len(pipeline_cpu) / n_msgs,
                               len(pipeline_cpu), "pipeline pass CPU per enriched row, mean"),
            "op_cpu_s": (sum(query_cpu) / len(query_cpu), len(query_cpu),
                         "CPU per reference-query execution, mean"),
            "bytes_per_msg": (enriched_bytes / n_msgs, 1, "enriched Parquet bytes per enriched row"),
        }
        report = {
            "pipeline_s": (median(pipeline_s), len(pipeline_s), "s"),
            "query_p50_s": (percentile(latencies, 0.5), len(latencies), "s"),
            "enriched_bytes_per_msg": (enriched_bytes / n_msgs, 1, "B"),
        }
        if tail > 0.5:
            report[f"query_p{round(tail * 100)}_s"] = (percentile(latencies, tail), len(latencies), "s")
        return {"e2e": e2e, "report": report, "unit_cpu_s": sum(pipeline_cpu) / len(pipeline_cpu),
                "layer": self._layer_metrics(layer, lake, enriched_bytes, n_msgs)}

    def traced_layer(self, tracer, per_span) -> dict:
        etl = rollup(tracer.spans, per_span, "etl.day")
        return {
            "etl.shuffle_write_bytes": etl["shuffle_write_bytes"] / self.passes,
            "etl.spill_bytes": etl["spill_bytes"] / self.passes,
            "etl.gc_ms": etl["gc_ms"] / self.passes,
        }

    def _layer_metrics(self, layer, lake, enriched_bytes, n_msgs) -> dict:
        progress = layer.pop("progress")
        out = ingest_layer(progress)
        out["ingest.batches"] /= self.passes
        # the drain starts with every landing file waiting
        out["ingest.backlog_files_max"] = LANDING_FILES
        drain = median(layer.pop("ingest.drain_s"))
        today_ok = sum(u.kind == "ok" for u in self.today)
        out.update({
            "ingest.drain_s": drain,
            "ingest.msgs_per_s": len(self.today) / drain,
            "ingest.quarantined_rows": median(layer.pop("quarantined")),
            "ingest.foreign_dropped_rows": (
                sum(p["numInputRows"] for p in progress) / self.passes
                - today_ok - self.malformed),
            "lake.raw_files": len(glob.glob(f"{lake.raw_path}/*/*/*.json")),
            "lake.enriched_files_per_day_max": max(
                len(glob.glob(f"{lake.enriched_path}/{d}/*.parquet"))
                for d in os.listdir(lake.enriched_path) if d.startswith("context_date=")),
            "lake.enriched_bytes": enriched_bytes,
            "lake.register_s": median(layer.pop("lake.register_s")),
            "etl.day_s_p50": median(layer["etl.day_s"]),
            "etl.msgs_per_s": n_msgs * self.passes / sum(layer.pop("etl.day_s")),
        })
        for k, v in layer.items():
            out[k] = median(v)
        return out
