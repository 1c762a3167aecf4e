"""``webhook_stream``: the reference's push path, one JSON file per update
(ipynb:330), into the quarantining ``start_ingest_stream`` route.

Open loop: one generator thread writes each update's file at its due time
on a fixed ladder of offered rates, whatever the stream is doing. An
update's latency runs from its due time to the completion of the
micro-batch that wrote it, read from the mtime of ``<checkpoint>/commits/N``
for the ``ingest_batch=N`` partition the row landed in. Rows of one batch
share that time, so the effective samples are batches. ETL and queries do
not run here: per-file listing and parsing in ``streaming.ingest`` is the
bottleneck of this path and of no other workload.

Checks: every accepted update lands exactly once, no foreign-chat update
lands, and the quarantine holds exactly the malformed bodies injected.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time

import gen
from stats import (backlog_files_max, commit_times, count_lines, ingest_layer, percentile,
                   tail_percentile, webhook_latencies)

from data_pipeline_project_using_telegram_and_aws_spark.sources.lake import TelegramLake
from data_pipeline_project_using_telegram_and_aws_spark.streaming.ingest import start_ingest_stream

# (offered msg/s, seconds); the base rung carries enough rows for a p90
LADDER = ((12, 10.0), (30, 6.0), (60, 6.0), (150, 4.0), (400, 3.0))
LIMIT_S = 6.0  # the p90 latency an offered rate must meet to count as sustained
TRAFFIC = gen.Traffic(malformed_share=0.02, foreign_share=0.05)
DAY = dt.date(2024, 1, 8)


def _schedule(g: gen.Generator, ladder) -> list[tuple[float, int, gen.Update]]:
    """(due offset in seconds, rung, update) for every update offered."""
    out, t0 = [], 0.0
    for r, (rate, secs) in enumerate(ladder):
        out += [(t0 + k / rate, r, g.update(DAY)) for k in range(int(rate * secs))]
        t0 += secs
    return out


class Webhook:
    name = "webhook_stream"

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        g = gen.Generator(seed, TRAFFIC)
        self.schedule = _schedule(g, LADDER)
        self.warm = _schedule(g, ((40, 1.0),))
        self.runs = 0

    def _drive(self, spark, tracer, schedule) -> dict:
        """Run the stream while one thread offers ``schedule`` open-loop;
        returns due times, generator lag, progress and the lake."""
        root = f"{self.work}/stream{self.runs}"
        self.runs += 1
        lake = TelegramLake(root, chat_id=gen.CHAT_ID)
        landing = f"{root}/landing"
        os.makedirs(landing)
        due: dict[int, float] = {}
        lags: list[float] = []
        written: list[float] = []

        def offer(t0: float) -> None:
            for i, (off, _, u) in enumerate(schedule):
                wait = t0 + off - time.time()
                if wait > 0:
                    time.sleep(wait)
                # hidden name first: the file source skips dot-files, so a
                # half-written body is never listed
                tmp = f"{landing}/.u{i:06d}.json"
                with open(tmp, "w") as f:
                    f.write(u.body + "\n")
                os.rename(tmp, f"{landing}/u{i:06d}.json")
                written.append(time.time())
                lags.append(written[-1] - (t0 + off))
                if u.kind == "ok":
                    due[json.loads(u.body)["update_id"]] = t0 + off

        # keep every micro-batch's progress, not just the last 100
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        with tracer.span("ingest.stream"):
            q = start_ingest_stream(spark, lake, landing, f"{root}/ckpt",
                                    quarantine_dir=f"{root}/quarantine")
            try:
                t0 = time.time() + 0.5
                gen_thread = threading.Thread(target=offer, args=(t0,))
                gen_thread.start()
                gen_thread.join()
                q.processAllAvailable()
                progress = q.recentProgress
            finally:
                q.stop()
        return {"lake": lake, "due": due, "lags": lags, "progress": progress, "written": written,
                "t0": t0, "ckpt": f"{root}/ckpt"}

    def warm_up(self, spark, tracer, ctx, i: int) -> None:
        self._drive(spark, tracer, self.warm)

    def _landed(self, lake: TelegramLake) -> list[tuple[int, int]]:
        out = []
        for path in glob.glob(f"{lake.raw_path}/*/ingest_batch=*/*.json"):
            batch = int(path.rsplit("ingest_batch=", 1)[1].split("/", 1)[0])
            with open(path) as f:
                out += [(json.loads(line)["update_id"], batch) for line in f]
        return out

    def measure(self, spark, tracer, ctx, seconds: float) -> dict:
        tracer.run_id = "ladder"
        c0 = ctx.cpu()
        r = self._drive(spark, tracer, self.schedule)
        cpu = ctx.cpu() - c0
        lake = r["lake"]
        landed = self._landed(lake)
        ids = [uid for uid, _ in landed]
        ok = r["due"]
        malformed = sum(u.kind == "malformed" for _, _, u in self.schedule)
        ctx.attempted += len(self.schedule)
        ctx.check(len(ids) == len(set(ids)), "no update lands twice")
        ctx.check(set(ids) == set(ok), f"accepted updates landed: {len(set(ids))} of {len(ok)}")
        quarantined = count_lines(glob.glob(f"{lake.root}/quarantine/*/*.json"))
        ctx.check(quarantined == malformed, f"quarantined {quarantined} == malformed {malformed}")

        lat = webhook_latencies(ok, landed, commit_times(r["ckpt"]))
        commits = sorted(ok[u] + lat[u] for u in lat)
        dues = sorted(ok.values())
        rung_of = {json.loads(u.body)["update_id"]: rung
                   for _, rung, u in self.schedule if u.kind == "ok"}
        sustained, rows = 0.0, []
        t_end = r["t0"]
        for rung, (rate, secs) in enumerate(LADDER):
            t_end += secs
            xs = [v for u, v in lat.items() if rung_of[u] == rung]
            backlog = sum(d <= t_end for d in dues) - sum(c <= t_end for c in commits)
            p90 = percentile(xs, 0.9)
            rows.append((rate, len(xs), p90, backlog))
            if p90 <= LIMIT_S and backlog <= rate * LIMIT_S:
                sustained = float(rate)
        base = [v for u, v in lat.items() if rung_of[u] == 0]
        tail = tail_percentile(len(base))
        raw_bytes = sum(os.path.getsize(p) for p in glob.glob(f"{lake.raw_path}/*/*/*.json"))
        layer = ingest_layer(r["progress"])
        e2e = {
            "cpu_ms_per_msg": (cpu * 1000 / len(self.schedule), 1, "ladder CPU per offered update"),
            "op_cpu_s": (cpu / max(1, layer["ingest.batches"]), layer["ingest.batches"],
                         "CPU per non-empty micro-batch, mean"),
            "bytes_per_msg": (raw_bytes / max(1, len(landed)), 1, "raw-zone bytes per landed update"),
        }
        report = {
            "webhook_p50_s": (percentile(base, 0.5), len(base), "s"),
            f"webhook_p{round(tail * 100)}_s": (percentile(base, tail), len(base), "s"),
            "webhook_sustained_msgs_per_s": (sustained, len(LADDER), "1/s"),
        }
        for rate, n, p90, backlog in rows:
            report[f"rung_{rate}_p90_s"] = (p90, n, "s")
            report[f"rung_{rate}_backlog"] = (backlog, n, "count")
        layer.update({
            "ingest.quarantined_rows": quarantined,
            "ingest.foreign_dropped_rows": (sum(p["numInputRows"] for p in r["progress"])
                                            - len(landed) - quarantined),
            "lake.raw_files": len(glob.glob(f"{lake.raw_path}/*/*/*.json")),
            "ingest.backlog_files_max": backlog_files_max(r["progress"], r["written"]),
            "bench.gen_lag_s": max(r["lags"]),
        })
        return {"e2e": e2e, "report": report, "unit_cpu_s": cpu, "layer": layer}
