"""Per-bucket pointer commits for the keyed upsert table
(streaming/upsert.py): the sources/commit.py pointer protocol applied
at bucket granularity. Pins reads through the pointers, surgical
(untouched buckets' pointers unchanged) writes, kill-between-steps
crash consistency with replay convergence, tombstone-to-empty
readability, schema evolution, and a hypothesis model check against a
plain dict with crash+retry interleavings."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from data_pipeline_project_using_telegram_and_aws_spark.sources import commit as cm
from data_pipeline_project_using_telegram_and_aws_spark.streaming.upsert import (
    lookup,
    read_current,
    upsert_batch,
)

KEYS = ["k"]
SCHEMA = "k long, v string, seq long"
DEL_SCHEMA = "k long, v string, seq long, deleted boolean"


def _batch(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _state(spark, path):
    return {
        r["k"]: r["v"] for r in read_current(spark, path).collect()
    }


def _bucket_manifests(path):
    return {
        bd.name: (
            json.loads((bd / cm.MANIFEST_FILE).read_text())["dir"]
            if (bd / cm.MANIFEST_FILE).exists()
            else None
        )
        for bd in sorted(Path(path).glob("__bucket=*"))
    }


def test_buckets_commit_and_read_through_pointers(spark, tmp_path):
    rows1 = [(1, "a", 1), (2, "b", 1), (3, "c", 1)]
    rows2 = [(2, "B", 2), (4, "d", 1)]
    pm = str(tmp_path / "m")
    for rows in (rows1, rows2):
        upsert_batch(_batch(spark, rows), pm, KEYS, "seq", n_buckets=4)
    assert _state(spark, pm) == {1: "a", 2: "B", 3: "c", 4: "d"}
    # every bucket dir carries a committed pointer; no data files at
    # the bucket root (all content lives in version dirs)
    mans = _bucket_manifests(pm)
    assert mans and all(v is not None for v in mans.values())
    for bd in Path(pm).glob("__bucket=*"):
        assert not list(bd.glob("*.parquet"))
    # lookup reads through the pointer
    got = lookup(spark, pm, KEYS, [2], n_buckets=4).collect()
    assert [(r.k, r.v) for r in got] == [(2, "B")]
    assert lookup(spark, pm, KEYS, [99], n_buckets=4).count() == 0


def test_untouched_bucket_pointers_unchanged(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(i, f"v{i}", 1) for i in range(16)]),
        p, KEYS, "seq", n_buckets=8,
    )
    before = _bucket_manifests(p)
    upsert_batch(_batch(spark, [(1, "V1", 2)]), p, KEYS, "seq",
                 n_buckets=8)
    after = _bucket_manifests(p)
    changed = [b for b in before if before[b] != after[b]]
    assert len(changed) == 1  # exactly key 1's bucket advanced
    assert _state(spark, p)[1] == "V1"


def test_tombstones_and_empty_table_stay_readable(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(1, "a", 1, False), (2, "b", 1, False)],
               DEL_SCHEMA),
        p, KEYS, "seq", n_buckets=2, delete_col="deleted",
    )
    upsert_batch(
        _batch(spark, [(1, None, 2, True)], DEL_SCHEMA),
        p, KEYS, "seq", n_buckets=2, delete_col="deleted",
    )
    assert _state(spark, p) == {2: "b"}
    # delete the LAST key: every bucket holds a zero-row version but
    # the table stays readable with its schema
    upsert_batch(
        _batch(spark, [(2, None, 3, True)], DEL_SCHEMA),
        p, KEYS, "seq", n_buckets=2, delete_col="deleted",
    )
    cur = read_current(spark, p)
    assert cur.count() == 0
    assert {"k", "v", "seq"} <= set(cur.columns)
    # and the table comes back from empty
    upsert_batch(
        _batch(spark, [(5, "e", 4, False)], DEL_SCHEMA),
        p, KEYS, "seq", n_buckets=2, delete_col="deleted",
    )
    assert _state(spark, p) == {5: "e"}


def test_schema_evolution_manifest_mode(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a", 1), (2, "b", 1)]), p, KEYS,
                 "seq", n_buckets=2)
    evolved = spark.createDataFrame(
        [(2, "B", 2, "extra")], "k long, v string, seq long, w string"
    )
    upsert_batch(evolved, p, KEYS, "seq", n_buckets=2)
    rows = {
        r["k"]: (r["v"], r["w"])
        for r in read_current(spark, p).collect()
    }
    assert rows == {1: ("a", None), 2: ("B", "extra")}
    # the new column survives in lookups against untouched buckets too
    r1 = lookup(spark, p, KEYS, [1], n_buckets=2).collect()[0]
    assert r1.w is None


def test_crash_at_and_after_the_pointer_swap(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert_batch(_batch(spark, [(1, "a", 1), (2, "b", 1)]), p, KEYS,
                 "seq", n_buckets=2)
    base = _state(spark, p)
    real_replace = cm._replace

    # crash AT the commit point: the bucket keeps its old content
    def die_at(src, dst):
        raise RuntimeError("injected at_replace")

    cm._replace = die_at
    try:
        with pytest.raises(RuntimeError):
            upsert_batch(_batch(spark, [(1, "A", 2)]), p, KEYS, "seq",
                         n_buckets=2)
    finally:
        cm._replace = real_replace
    assert _state(spark, p) == base
    # replay of the same batch converges
    upsert_batch(_batch(spark, [(1, "A", 2)]), p, KEYS, "seq",
                 n_buckets=2)
    assert _state(spark, p) == {1: "A", 2: "b"}

    # crash right AFTER the commit point: committed, cleanup re-swept
    def die_after(src, dst):
        real_replace(src, dst)
        raise RuntimeError("injected post_replace")

    cm._replace = die_after
    try:
        with pytest.raises(RuntimeError):
            upsert_batch(_batch(spark, [(2, "B", 3)]), p, KEYS, "seq",
                         n_buckets=2)
    finally:
        cm._replace = real_replace
    assert _state(spark, p) == {1: "A", 2: "B"}
    # replay is a no-op rewrite (idempotent winner rule)
    upsert_batch(_batch(spark, [(2, "B", 3)]), p, KEYS, "seq",
                 n_buckets=2)
    assert _state(spark, p) == {1: "A", 2: "B"}


def test_mid_batch_crash_is_per_bucket_and_replay_heals(spark, tmp_path):
    """A batch touching two buckets that dies between their pointer
    swaps leaves one bucket new / one old (each internally
    consistent); replaying the batch converges both."""
    p = str(tmp_path / "t")
    # keys 0..7 across 4 buckets; pick two keys in different buckets
    upsert_batch(
        _batch(spark, [(i, f"v{i}", 1) for i in range(8)]),
        p, KEYS, "seq", n_buckets=4,
    )
    base = _state(spark, p)
    real_replace = cm._replace
    calls = {"n": 0}

    def die_on_second(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected mid-batch")
        real_replace(src, dst)

    batch = _batch(spark, [(i, f"V{i}", 2) for i in range(8)])
    cm._replace = die_on_second
    try:
        with pytest.raises(RuntimeError):
            upsert_batch(batch, p, KEYS, "seq", n_buckets=4)
    finally:
        cm._replace = real_replace
    torn = _state(spark, p)
    # per-key: every value is either the old or the new one — never
    # missing, never garbled
    assert set(torn) == set(base)
    assert all(v in (f"v{k}", f"V{k}") for k, v in torn.items())
    assert any(v.startswith("V") for v in torn.values())  # some landed
    assert any(v.startswith("v") for v in torn.values())  # some didn't
    # replay the SAME batch (the streaming checkpoint contract)
    upsert_batch(batch, p, KEYS, "seq", n_buckets=4)
    assert _state(spark, p) == {i: f"V{i}" for i in range(8)}


_ops = st.lists(
    st.tuples(
        st.lists(  # one batch: (key, value-or-None=delete) pairs
            st.tuples(
                st.integers(min_value=0, max_value=9),
                st.one_of(
                    st.none(), st.integers(min_value=0, max_value=99)
                ),
            ),
            min_size=1,
            max_size=3,
        ),
        st.sampled_from(["none", "at_replace"]),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(_ops)
def test_manifest_upsert_matches_dict_model(
    spark, tmp_path_factory, ops
):
    """Any sequence of upsert/delete batches, each optionally crashing
    at a pointer swap and then REPLAYED (the checkpoint contract),
    converges to the dict model."""
    tmp_path = tmp_path_factory.mktemp("um")
    p = str(tmp_path / "t")
    model: dict[int, int] = {}
    real_replace = cm._replace
    for seq, (pairs, crash) in enumerate(ops, start=1):
        # last-write-wins inside a batch, like latest_snapshot's
        # deterministic tie-break at equal seq (here: dedup per key)
        batch_model = dict(pairs)
        rows = [
            (k, v, seq, v is None) for k, v in batch_model.items()
        ]
        batch = spark.createDataFrame(
            rows, "k long, v long, seq long, deleted boolean"
        )
        if crash == "at_replace":
            def die(src, dst):
                raise RuntimeError("injected")

            cm._replace = die
            try:
                # no raise is legitimate when the batch performs no
                # pointer swap (deletes of never-stored keys)
                upsert_batch(batch, p, KEYS, "seq", n_buckets=4,
                             delete_col="deleted")
            except RuntimeError:
                pass
            finally:
                cm._replace = real_replace
        upsert_batch(batch, p, KEYS, "seq", n_buckets=4,
                     delete_col="deleted")
        for k, v in batch_model.items():
            if v is None:
                model.pop(k, None)
            else:
                model[k] = v
        got = {
            r["k"]: r["v"]
            for r in read_current(spark, p).collect()
        }
        assert got == model, (ops, seq)
