"""Tests for the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

import gen
import spans
import stats

DAY = dt.date(2024, 1, 3)


def _bodies(seed: int, traffic: gen.Traffic = gen.Traffic(), n: int = 500) -> list[str]:
    return [u.body for u in gen.Generator(seed, traffic).day(DAY, n)]


def test_same_seed_gives_byte_identical_updates():
    t = gen.Traffic(malformed_share=0.05, exact_dup_share=0.1, near_dup_share=0.1)
    assert _bodies(7, t) == _bodies(7, t)
    assert _bodies(7, t) != _bodies(8, t)


def test_command_line_output_is_byte_identical(capsys):
    gen._main(["--seed", "3", "--n", "200", "--malformed-share", "0.1"])
    first = capsys.readouterr().out
    gen._main(["--seed", "3", "--n", "200", "--malformed-share", "0.1"])
    assert capsys.readouterr().out == first
    assert first.count("\n") == 200


def test_traffic_dimensions_show_up():
    t = gen.Traffic(malformed_share=0.05, foreign_share=0.1, late_share=0.2,
                    exact_dup_share=0.1, near_dup_share=0.1, bots=2)
    us = gen.Generator(11, t).day(DAY, 4000)
    ids = [int(u.body.split(",", 1)[0].split(":")[1]) for u in us]
    assert len(set(ids)) == len(ids)  # update ids are unique across kinds
    kinds = [u.kind for u in us]
    assert 100 < kinds.count("malformed") < 300
    assert 250 < kinds.count("foreign") < 550
    for u in us:
        if u.kind == "malformed":
            with pytest.raises(json.JSONDecodeError):
                json.loads(u.body)
    ok = [u for u in us if u.kind == "ok"]
    stickers = [u for u in ok if u.text is None]
    assert 0.06 < len(stickers) / len(ok) < 0.14
    assert all("text" not in json.loads(u.body)["message"] for u in stickers)
    late = [u for u in ok if dt.datetime.fromtimestamp(u.date, dt.timezone.utc).date() != DAY]
    assert 0.15 < len(late) / len(ok) < 0.25
    assert {u.user_is_bot for u in ok} == {True, False}
    # Zipf: the most active user posts far more than the median one
    per_user: dict[int, int] = {}
    for u in ok:
        per_user[u.user_id] = per_user.get(u.user_id, 0) + 1
    counts = sorted(per_user.values())
    assert counts[-1] > 20 * counts[len(counts) // 2]


def test_planted_duplicates():
    t = gen.Traffic(sticker_share=0.0, exact_dup_share=0.1, near_dup_share=0.1)
    us = gen.Generator(5, t).day(DAY, 3000)
    originals = [u.text for u in us if u.kind == "ok" and u.planted is None]
    assert len(set(originals)) == len(originals)
    exact = [u for u in us if u.planted == "exact"]
    near = [u for u in us if u.planted == "near"]
    assert exact and near
    assert all(u.text in set(originals) for u in exact)
    assert not {u.text for u in near} & set(originals)

    def one_word_edit(text: str) -> bool:
        words = text.split(" ")
        return any(sum(a != b for a, b in zip(words, o.split(" "))) == 1
                   for o in originals if len(o.split(" ")) == len(words))

    # originals shorter than ten words are padded before the edit
    assert all(len(u.text.split(" ")) >= 10 for u in near)
    assert sum(map(one_word_edit, (u.text for u in near))) > len(near) / 2


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(1, 1000):
        p = stats.tail_percentile(n)
        if p == 0.5:
            assert all(n - stats.rank(n, c) < stats.MIN_BEYOND for c in stats.TAIL_CANDIDATES)
            continue
        assert n - stats.rank(n, p) >= stats.MIN_BEYOND
        higher = [c for c in stats.TAIL_CANDIDATES if c > p]
        assert all(n - stats.rank(n, c) < stats.MIN_BEYOND for c in higher)
    assert stats.tail_percentile(100) == 0.9
    assert stats.tail_percentile(99) == 0.8
    assert stats.tail_percentile(40) == 0.75
    assert stats.tail_percentile(1000) == 0.99


def test_percentile_is_a_sample_by_nearest_rank():
    xs = [float(v) for v in range(100, 0, -1)]
    assert stats.percentile(xs, 0.9) == 90.0
    assert stats.percentile(xs, 0.5) == 50.0
    assert stats.percentile([3.0], 0.99) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_self_time_subtracts_the_union_of_children():
    tree = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.0},  # grandchild
    ]
    got = stats.self_times(tree)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(2.5)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(0.5)


def test_tracer_records_nesting_and_self_time():
    t = spans.Tracer(True)
    t.run_id = "r1"
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {s["run"] for s in t.spans} == {"r1"}
    rep = t.self_time_report()
    assert rep["outer"]["self_s"] == pytest.approx(
        rep["outer"]["total_s"] - rep["inner"]["total_s"])
    off = spans.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_webhook_latency_from_commit_log(tmp_path):
    commits = tmp_path / "commits"
    commits.mkdir()
    for batch, mtime in ((0, 1000.0), (1, 1003.5)):
        (commits / str(batch)).write_text("v1\n")
        os.utime(commits / str(batch), (mtime, mtime))
    (commits / ".0.crc").write_text("")
    got = stats.commit_times(str(tmp_path))
    assert got == {0: 1000.0, 1: 1003.5}
    due = {10: 998.0, 11: 999.5, 12: 1001.0}
    lat = stats.webhook_latencies(due, [(10, 0), (11, 0), (12, 1)], got)
    assert lat == {10: 2.0, 11: 0.5, 12: 2.5}


def test_event_log_attribution(tmp_path):
    tree = [
        {"id": 0, "name": "etl.day", "parent": None, "start": 100.0, "end": 110.0},
        {"id": 1, "name": "ingest.stream", "parent": None, "start": 120.0, "end": 130.0},
    ]

    def task(stage, run, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run, "JVM GC Time": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 101_000,
         "Properties": {"spark.job.description": "bench-span:0:etl.day"}},
        # a micro-batch job from another thread: attributed by time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Submission Time": 125_000, "Properties": {}},
        # outside every span: dropped
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Submission Time": 50_000, "Properties": {}},
        task(0, 5, 100), task(1, 7, 0), task(2, 3, 40), task(3, 9, 9),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = spans.attribute_event_log(str(tmp_path), tree)
    assert got[0]["run_ms"] == 12 and got[0]["shuffle_write_bytes"] == 100
    assert got[1]["run_ms"] == 3 and got[1]["gc_ms"] == 1
    assert set(got) == {0, 1}
    assert spans.rollup(tree, got, "etl")["run_ms"] == 12


def test_ingest_layer_from_progress():
    progress = [
        {"numInputRows": 0, "durationMs": {"latestOffset": 1}, "sources": []},
        {"numInputRows": 10, "durationMs": {"latestOffset": 4, "addBatch": 50,
                                            "triggerExecution": 80},
         "sources": []},
        {"numInputRows": 30, "durationMs": {"latestOffset": 6, "addBatch": 70,
                                            "triggerExecution": 90},
         "sources": []},
    ]
    got = stats.ingest_layer(progress)
    assert got["ingest.batches"] == 2
    assert got["ingest.list_ms_p50"] == 5
    assert got["ingest.add_batch_ms_p50"] == 60
    assert got["ingest.rows_per_batch_p50"] == 20


def test_backlog_counts_written_but_unconsumed_files():
    t0 = 1_700_000_000.0
    stamp = lambda t: dt.datetime.fromtimestamp(t, dt.timezone.utc).isoformat().replace("+00:00", "Z")
    written = [t0 + k * 0.1 for k in range(50)]  # 10 files a second for 5 s
    progress = [
        {"timestamp": stamp(t0 + 1.05), "numInputRows": 11},  # 11 written, none consumed
        {"timestamp": stamp(t0 + 3.05), "numInputRows": 20},  # 31 written, 11 consumed
        {"timestamp": stamp(t0 + 9.0), "numInputRows": 19},   # 50 written, 31 consumed
    ]
    assert stats.backlog_files_max(progress, written) == 20
