"""``chat_curation``: the LLM-data extension path, ``curate_corpus`` over
a chat corpus.

The benchmark writes seeded chat messages with planted exact forwards and
near-duplicate edits straight to Parquet, so no ingest or ETL time is
included. Each pass reads that file, calls ``curate_corpus`` keyed on
``message_id`` and writes both ``kept`` and the drop ledger to Parquet;
that is the pass latency. Checks: kept plus ledger is the input, each
message exactly once, and the exact-dedup drops are the planted forwards.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import rollup

from data_pipeline_project_using_telegram_and_aws_spark.operators import dedup as D
from data_pipeline_project_using_telegram_and_aws_spark.operators.curation import curate_corpus

MESSAGES = 6000
SECONDS_PER_PASS = 3  # passes per run: --seconds // this, at least 2
TRAFFIC = gen.Traffic(sticker_share=0.0, late_share=0.0, words_mean=20,
                      exact_dup_share=0.10, near_dup_share=0.10)
STAGES = ("exact_dedup", "near_dedup", "quality")


def _write_corpus(path: str, msgs: list) -> None:
    pq.write_table(pa.table({
        "message_id": pa.array([m.message_id for m in msgs], pa.int64()),
        "user_id": pa.array([m.user_id for m in msgs], pa.int64()),
        "user_first_name": [m.user_first_name for m in msgs],
        "date": pa.array([m.date for m in msgs], pa.int64()),
        "text": [m.text for m in msgs],
    }), path)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


class Curation:
    name = "chat_curation"

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        g = gen.Generator(seed, TRAFFIC)
        first = dt.date(2024, 1, 1)
        self.msgs = [g.message(first + dt.timedelta(days=k % 7), sticker_ok=False)
                     for k in range(MESSAGES)]
        self.ids = {m.message_id for m in self.msgs}
        self.exact = sum(m.planted == "exact" for m in self.msgs)
        self.corpus = os.path.join(work, "corpus.parquet")
        _write_corpus(self.corpus, self.msgs)
        self.warm_corpus = os.path.join(work, "warm.parquet")
        _write_corpus(self.warm_corpus, self.msgs[:500])

    def _pass(self, spark, tracer, corpus: str, out: str) -> tuple[float, float]:
        shutil.rmtree(out, ignore_errors=True)
        docs = spark.read.parquet(corpus)
        with tracer.span("curation"):
            t0 = time.perf_counter()
            with tracer.span("curation.build"):
                kept, ledger = curate_corpus(docs, id_col="message_id")
            t1 = time.perf_counter()
            with tracer.span("curation.exec"):
                kept.write.parquet(f"{out}/kept")
                ledger.write.parquet(f"{out}/ledger")
            t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def warm_up(self, spark, tracer, ctx, i: int) -> None:
        self._pass(spark, tracer, self.warm_corpus, f"{self.work}/warm{i}")

    def _check(self, ctx, out: str) -> dict[str, int]:
        kept = pq.read_table(f"{out}/kept", columns=["message_id"]).column(0).to_pylist()
        ledger = pq.read_table(f"{out}/ledger", columns=["doc_id", "stage"])
        dropped = ledger.column("doc_id").to_pylist()
        stages = ledger.column("stage").to_pylist()
        ctx.check(len(kept) + len(dropped) == len(self.ids)
                  and set(kept) | set(dropped) == self.ids,
                  "kept plus ledger is the input, each message once")
        counts = {s: stages.count(s) for s in STAGES}
        ctx.check(counts["exact_dedup"] == self.exact,
                  f"exact-dedup drops {counts['exact_dedup']} == planted forwards {self.exact}")
        return counts

    def measure(self, spark, tracer, ctx, seconds: float) -> dict:
        build, execute, took, cpu = [], [], [], []
        for i in range(max(2, int(seconds) // SECONDS_PER_PASS)):
            tracer.run_id = f"curation-{i}"
            out = f"{self.work}/out{i % 2}"
            c0 = ctx.cpu()
            b, e = self._pass(spark, tracer, self.corpus, out)
            cpu.append(ctx.cpu() - c0)
            build.append(b)
            execute.append(e)
            took.append(b + e)
            ctx.attempted += 1
            counts = self._check(ctx, out)
            out_bytes = _dir_bytes(out)
        e2e = {
            "cpu_ms_per_msg": (sum(cpu) * 1000 / len(cpu) / MESSAGES, len(cpu),
                               "curation pass CPU per message, mean"),
            "op_cpu_s": (sum(cpu) / len(cpu), len(cpu), "CPU per curation pass, mean"),
            "bytes_per_msg": (out_bytes / MESSAGES, 1, "kept + ledger Parquet bytes per message"),
        }
        report = {
            "curation_msgs_per_s": (MESSAGES / median(took), len(took), "1/s"),
            "curation_pass_s": (median(took), len(took), "s"),
        }
        layer = {
            "curation.build_s": median(build),
            "curation.exec_s": median(execute),
            **{f"curation.ledger_rows.{s}": n for s, n in counts.items()},
        }
        if tracer.enabled:
            # the MinHash-LSH candidate pairs behind the near-dup stage,
            # counted once outside the timed passes
            with tracer.span("dedup.candidates"):
                docs = spark.read.parquet(self.corpus)
                exact = spark.read.parquet(f"{out}/ledger").filter("stage = 'exact_dedup'")
                survivors = docs.join(exact.selectExpr("doc_id AS message_id"),
                                      "message_id", "left_anti")
                pairs = D.minhash_lsh_candidates(survivors, id_col="message_id").count()
            layer["dedup.candidate_pairs"] = pairs
            layer["dedup.candidate_yield"] = counts["near_dedup"] / max(1, pairs)
        return {"e2e": e2e, "report": report, "unit_cpu_s": sum(cpu) / len(cpu), "layer": layer}

    def traced_layer(self, tracer, per_span) -> dict:
        cur = rollup(tracer.spans, per_span, "curation")
        return {"curation.shuffle_write_bytes":
                cur["shuffle_write_bytes"] / max(1, len(tracer.by_name("curation")))}
