"""Small, Spark-free arithmetic the benchmark reports with.

Kept apart from the workloads so the tests in ``perfbench/tests`` can pin
it without starting a JVM.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
import os
from statistics import median

# samples that must lie beyond a reported tail percentile
MIN_BEYOND = 10
TAIL_CANDIDATES = (0.99, 0.95, 0.9, 0.8, 0.75)


def rank(n: int, p: float) -> int:
    """1-based nearest-rank index of percentile ``p`` among ``n`` samples."""
    return min(n, max(1, math.ceil(p * n)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: an actual sample, never an interpolation."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[rank(len(values), p) - 1]


def tail_percentile(n: int) -> float:
    """The highest candidate percentile that leaves at least
    :data:`MIN_BEYOND` samples beyond it among ``n``; the median when the
    sample is too small for any tail."""
    for p in TAIL_CANDIDATES:
        if n - rank(n, p) >= MIN_BEYOND:
            return p
    return 0.5


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover (overlapping children count once).

    Each span is a dict with ``id``, ``parent`` (an id or None), ``start``
    and ``end`` in seconds."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """Completion time of each micro-batch of a streaming query: the mtime
    of ``<checkpoint>/commits/N``, written when batch N finished."""
    commits = os.path.join(checkpoint_dir, "commits")
    out = {}
    for name in os.listdir(commits):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commits, name)).st_mtime
    return out


def webhook_latencies(
    due: dict[int, float],
    landed: list[tuple[int, int]],
    committed: dict[int, float],
) -> dict[int, float]:
    """Latency per landed update: the commit time of the micro-batch that
    wrote it minus the time the update was due to be sent.

    ``due`` maps update id to due time, ``landed`` lists (update id,
    ``ingest_batch``) as read back from the raw zone and ``committed`` maps
    batch id to commit time (see :func:`commit_times`)."""
    return {uid: committed[batch] - due[uid] for uid, batch in landed}


def count_lines(paths: list[str]) -> int:
    """Lines in all the given files: JSON-lines records, one per line."""
    total = 0
    for path in paths:
        with open(path) as f:
            total += sum(1 for _ in f)
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (``VmHWM``) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def ingest_layer(progress: list) -> dict[str, float]:
    """``ingest.*`` layer metrics from a streaming query's
    ``recentProgress``: per non-empty micro-batch, the landing-directory
    listing (``latestOffset``), the sink write (``addBatch``) and the whole
    trigger, and rows per batch."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    if not batches:
        return {"ingest.batches": 0}

    def p50(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in batches])

    return {
        "ingest.list_ms_p50": p50("latestOffset"),
        "ingest.add_batch_ms_p50": p50("addBatch"),
        "ingest.trigger_ms_p50": p50("triggerExecution"),
        "ingest.rows_per_batch_p50": median([p["numInputRows"] for p in batches]),
        "ingest.batches": len(batches),
    }


def backlog_files_max(progress: list, written: list[float]) -> int:
    """Largest number of landing files waiting when a micro-batch started:
    files written before the trigger's start time minus the rows (one per
    file) the earlier batches consumed."""
    written = sorted(written)
    consumed = most = 0
    for p in progress:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        most = max(most, bisect.bisect_right(written, start) - consumed)
        consumed += p["numInputRows"]
    return most


# the JVM's JIT compiler threads: compiling carries on into the measured
# passes after warm-up and is the noisiest CPU consumer in the process
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime, stime


def cpu_seconds(pids: list[int], exclude: tuple[str, ...] = JIT_THREADS) -> float:
    """User plus system CPU time the given processes have used so far,
    less that of their live threads whose name starts with ``exclude``.

    Unlike wall time it does not grow while a virtual machine's CPUs are
    taken by other guests (steal time)."""
    ticks = 0
    for pid in pids:
        ticks += _ticks(f"/proc/{pid}/stat")
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(exclude):
                        ticks -= _ticks(f"/proc/{pid}/task/{tid}/stat")
            except FileNotFoundError:  # the thread exited meanwhile
                continue
    return ticks / os.sysconf("SC_CLK_TCK")
