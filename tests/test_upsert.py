"""Streaming upsert pins: merge correctness across batches (update,
insert, delete), bucket locality (untouched buckets' files survive a
batch verbatim), replay idempotence, and checkpointed resume."""

from __future__ import annotations

import os

from pyspark.sql import functions as F, types as T

from data_pipeline_project_using_telegram_and_aws_spark.streaming.upsert import (
    lookup,
    read_current,
    start_upsert_stream,
    upsert_batch,
)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("balance", T.DoubleType()),
        T.StructField("deleted", T.BooleanType()),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_upsert_merge_semantics(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(1, 1, 10.0, False), (2, 1, 20.0, False)]),
        path, ["user_id"], "seq", n_buckets=8, delete_col="deleted",
    )
    upsert_batch(
        _batch(
            spark,
            [
                (1, 2, 11.0, False),   # update
                (3, 2, 30.0, False),   # insert
                (2, 2, None, True),    # delete
            ],
        ),
        path, ["user_id"], "seq", n_buckets=8, delete_col="deleted",
    )
    state = {
        r["user_id"]: r["balance"]
        for r in read_current(spark, path).collect()
    }
    assert state == {1: 11.0, 3: 30.0}


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """Bucket locality: a batch touching one key leaves every other
    bucket's files byte-identical (same paths, same mtimes)."""
    path = str(tmp_path / "t")
    rows = [(i, 1, float(i), False) for i in range(200)]
    upsert_batch(
        _batch(spark, rows), path, ["user_id"], "seq",
        n_buckets=16, delete_col="deleted",
    )

    def files():
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, names in os.walk(path)
            if "__bucket=" in d
            for f in names
            if f.endswith(".parquet")
        }

    before = files()
    assert len(before) >= 15  # 200 keys land in (nearly) every bucket
    upsert_batch(
        _batch(spark, [(0, 2, 999.0, False)]), path, ["user_id"], "seq",
        n_buckets=16, delete_col="deleted",
    )
    after = files()
    target_bucket = [
        r["__bucket"]
        for r in spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(0).cast("long")), F.lit(16)).alias(
                "__bucket"
            )
        ).collect()
    ][0]
    unchanged = {
        f: t for f, t in before.items()
        if f"__bucket={target_bucket}/" not in f
    }
    for f, t in unchanged.items():
        assert after.get(f) == t  # same file, same mtime: not rewritten
    assert read_current(spark, path).filter("user_id = 0").collect()[0][
        "balance"
    ] == 999.0


def test_replay_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    b0 = _batch(spark, [(1, 1, 10.0, False), (2, 1, 20.0, False)])
    b1 = _batch(spark, [(1, 2, 11.0, False), (2, 2, None, True)])
    for b in (b0, b1, b1, b1):  # at-least-once re-delivery of b1
        upsert_batch(
            b, path, ["user_id"], "seq", n_buckets=8, delete_col="deleted"
        )
    state = {
        r["user_id"]: r["balance"]
        for r in read_current(spark, path).collect()
    }
    assert state == {1: 11.0}


def test_stream_end_to_end_with_resume(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _batch(spark, [(1, 1, 10.0, False), (2, 1, 20.0, False)]).coalesce(
        1
    ).write.parquet(str(src / "f0.parquet"))
    q = start_upsert_stream(
        spark, str(src) + "/*", SCHEMA, path, ["user_id"], "seq", ckpt,
        n_buckets=8, delete_col="deleted",
    )
    q.awaitTermination(120)
    assert read_current(spark, path).count() == 2

    _batch(spark, [(2, 2, 25.0, False), (9, 2, 90.0, False)]).coalesce(
        1
    ).write.parquet(str(src / "f1.parquet"))
    q2 = start_upsert_stream(
        spark, str(src) + "/*", SCHEMA, path, ["user_id"], "seq", ckpt,
        n_buckets=8, delete_col="deleted",
    )
    q2.awaitTermination(120)
    state = {
        r["user_id"]: r["balance"]
        for r in read_current(spark, path).collect()
    }
    assert state == {1: 10.0, 2: 25.0, 9: 90.0}


def test_lookup_prunes_to_one_bucket(spark, tmp_path):
    """The read side: a key lookup scans only the key's bucket
    directory (1/n of the table) and returns the current row."""
    path = str(tmp_path / "t")
    rows = [(i, 1, float(i), False) for i in range(100)]
    upsert_batch(
        _batch(spark, rows), path, ["user_id"], "seq",
        n_buckets=16, delete_col="deleted",
    )
    got = lookup(spark, path, ["user_id"], [42], n_buckets=16)
    assert [r["balance"] for r in got.collect()] == [42.0]
    b = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(42).cast("long")), F.lit(16)).alias("b")
    ).collect()[0]["b"]
    bucket_dir = os.path.join(path, f"__bucket={b}") + "/"
    files = got.inputFiles()
    assert files and all(bucket_dir in f for f in files), files


def test_day_over_day_diff_of_upsert_table(spark, tmp_path):
    """CDC composition: snapshots of the upsert table taken before and
    after a batch diff to exactly that batch's effect."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.snapshots import (
        snapshot_diff,
    )

    path = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(1, 1, 10.0, False), (2, 1, 20.0, False)]),
        path, ["user_id"], "seq", n_buckets=8, delete_col="deleted",
    )
    day1 = read_current(spark, path).localCheckpoint(eager=True)
    upsert_batch(
        _batch(spark, [(1, 2, 11.0, False), (3, 2, 30.0, False),
                       (2, 2, None, True)]),
        path, ["user_id"], "seq", n_buckets=8, delete_col="deleted",
    )
    day2 = read_current(spark, path)
    diff = {
        r["user_id"]: r["change"]
        for r in snapshot_diff(day1, day2, ["user_id"]).collect()
    }
    assert diff == {1: "changed", 2: "removed", 3: "added"}


def test_changefeed_emission_and_replay(spark, tmp_path):
    """The CDC feed records each batch's effect: creation emits
    'added' rows, a merge emits changed/added/removed, and an
    at-least-once REPLAY leaves the original feed intact (the re-run's
    diff is empty because the state already converged — the feed stays
    the truthful first-application record)."""
    path = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    b0 = _batch(spark, [(1, 1, 10.0, False), (2, 1, 20.0, False)])
    b1 = _batch(spark, [(1, 2, 11.0, False), (2, 2, None, True),
                        (3, 2, 30.0, False)])
    upsert_batch(
        b0, path, ["user_id"], "seq", n_buckets=8, delete_col="deleted",
        changefeed_path=feed, batch_id=0,
    )
    f0 = spark.read.parquet(feed)
    assert {r["change"] for r in f0.collect()} == {"added"}
    assert f0.count() == 2

    upsert_batch(
        b1, path, ["user_id"], "seq", n_buckets=8, delete_col="deleted",
        changefeed_path=feed, batch_id=1,
    )
    f = {
        (r["ingest_batch"], r["user_id"]): r["change"]
        for r in spark.read.parquet(feed).collect()
    }
    assert f[(1, 1)] == "changed"
    assert f[(1, 2)] == "removed"
    assert f[(1, 3)] == "added"

    # replay of b1: state converged, diff empty, feed unchanged
    upsert_batch(
        b1, path, ["user_id"], "seq", n_buckets=8, delete_col="deleted",
        changefeed_path=feed, batch_id=1,
    )
    again = {
        (r["ingest_batch"], r["user_id"]): r["change"]
        for r in spark.read.parquet(feed).collect()
    }
    assert again == f


def test_streaming_changefeed_and_cursor(spark, tmp_path):
    """The stream emits per-batch CDC partitions; a consumer cursor
    reads only what's new (partition-pruned)."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.upsert import (
        read_changefeed,
    )

    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    _batch(spark, [(1, 1, 10.0, False)]).coalesce(1).write.parquet(
        str(src / "f0.parquet")
    )
    start_upsert_stream(
        spark, str(src) + "/*", SCHEMA, path, ["user_id"], "seq", ckpt,
        n_buckets=8, delete_col="deleted", changefeed_path=feed,
    ).awaitTermination(120)
    _batch(spark, [(1, 2, 99.0, False), (2, 2, 20.0, False)]).coalesce(
        1
    ).write.parquet(str(src / "f1.parquet"))
    start_upsert_stream(
        spark, str(src) + "/*", SCHEMA, path, ["user_id"], "seq", ckpt,
        n_buckets=8, delete_col="deleted", changefeed_path=feed,
    ).awaitTermination(120)

    all_rows = read_changefeed(spark, feed).collect()
    assert {(r["ingest_batch"], r["user_id"], r["change"]) for r in all_rows} == {
        (0, 1, "added"),
        (1, 1, "changed"),
        (1, 2, "added"),
    }
    # cursor: a consumer that has seen batch 0 gets only batch 1
    new = read_changefeed(spark, feed, since_batch=0)
    assert {r["ingest_batch"] for r in new.collect()} == {1}
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "ingest_batch" in plan  # the cursor is a partition filter


from hypothesis import HealthCheck, given, settings, strategies as st

_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),                 # key
        st.floats(min_value=0, max_value=100, allow_nan=False),  # value
        st.booleans(),                                         # delete?
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=5, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(_ops, _ops)
def test_upsert_matches_dict_reference_model(spark, tmp_path_factory, ops_a, ops_b):
    """Model-based MERGE check: two batches of random upserts/deletes
    (monotone seq numbers) applied through upsert_batch must equal the
    trivial Python dict replay — last write per key wins, deletes
    remove, later batches beat earlier ones."""
    path = str(tmp_path_factory.mktemp("ups") / "t")
    model: dict[int, float] = {}
    seq = 0
    for batch_id, ops in enumerate((ops_a, ops_b)):
        rows = []
        for key, val, is_del in ops:
            seq += 1
            rows.append((key, seq, None if is_del else val, is_del))
            if is_del:
                model.pop(key, None)
            else:
                model[key] = val
        upsert_batch(
            _batch(spark, rows), path, ["user_id"], "seq",
            n_buckets=4, delete_col="deleted",
        )
    got = {
        r["user_id"]: r["balance"]
        for r in read_current(spark, path).collect()
    }
    assert got == model


def test_delete_last_keys_leaves_readable_empty_table(spark, tmp_path):
    """Regression: tombstoning EVERY remaining key used to leave a
    fileless directory (dynamic overwrite wrote nothing, the cleanup
    removed the last bucket dirs) that broke read_current and the next
    merge with UNABLE_TO_INFER_SCHEMA. The empty state must stay
    readable and writable."""
    path = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(1, 1, 10.0, False), (2, 1, 20.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    upsert_batch(
        _batch(spark, [(1, 2, None, True), (2, 2, None, True)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    assert read_current(spark, path).count() == 0
    # the table is born again from the empty state
    upsert_batch(
        _batch(spark, [(3, 3, 30.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    state = {
        r["user_id"]: r["balance"]
        for r in read_current(spark, path).collect()
    }
    assert state == {3: 30.0}


def test_all_tombstone_first_batch_bootstraps_empty(spark, tmp_path):
    """A first batch that is pure deletes creates a readable empty
    table, and a later insert works on top of it."""
    path = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(9, 1, None, True)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    assert read_current(spark, path).count() == 0
    upsert_batch(
        _batch(spark, [(9, 2, 9.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    assert {
        r["user_id"]: r["balance"]
        for r in read_current(spark, path).collect()
    } == {9: 9.0}


def test_schema_evolution_adds_columns(spark, tmp_path):
    """A later batch carrying a NEW column must not silently lose it
    (the old merge projected staged onto the stored columns): after
    the evolving batch, the new column exists with the batch's values,
    rows in UNTOUCHED buckets read NULL for it (mergeSchema), lookup
    still prunes to one bucket, and a batch that OMITS a column writes
    NULL on its winners (full-row upsert semantics, documented)."""
    path = str(tmp_path / "t")
    # many keys so several buckets are occupied
    rows = [(i, 1, float(i), False) for i in range(40)]
    upsert_batch(
        _batch(spark, rows), path, ["user_id"], "seq",
        n_buckets=8, delete_col="deleted",
    )
    # evolve: batch 2 adds a 'tier' column for one key
    evolved_schema = T.StructType(
        SCHEMA.fields + [T.StructField("tier", T.StringType())]
    )
    evolved = spark.createDataFrame(
        [(1, 2, 11.0, False, "gold")], evolved_schema
    )
    upsert_batch(
        evolved, path, ["user_id"], "seq", n_buckets=8,
        delete_col="deleted",
    )
    cur = {r["user_id"]: r for r in read_current(spark, path).collect()}
    assert "tier" in read_current(spark, path).columns
    assert cur[1]["tier"] == "gold" and cur[1]["balance"] == 11.0
    assert cur[2]["tier"] is None  # untouched bucket, evolved schema
    assert len(cur) == 40
    got = lookup(spark, path, ["user_id"], [1], n_buckets=8).collect()
    assert got[0]["tier"] == "gold"
    # a later OLD-schema batch updating key 1: winner's tier is NULL
    upsert_batch(
        _batch(spark, [(1, 3, 12.0, False)]), path, ["user_id"], "seq",
        n_buckets=8, delete_col="deleted",
    )
    r1 = lookup(spark, path, ["user_id"], [1], n_buckets=8).collect()[0]
    assert r1["balance"] == 12.0 and r1["tier"] is None


_evo_batches = st.lists(
    st.tuples(
        st.sets(st.sampled_from(["c1", "c2"])),  # this batch's extras
        st.lists(
            st.tuples(st.integers(0, 4), st.booleans()),
            min_size=1,
            max_size=5,
        ),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(_evo_batches)
def test_upsert_schema_evolution_matches_model(
    spark, tmp_path_factory, batches
):
    """Model-based check of the EVOLVING-schema surface: each batch
    carries a random subset of optional columns (introducing them,
    omitting them again, mixing with deletes in any order). The pinned
    full-row semantics replayed in a Python dict — winner's omitted
    columns read NULL, a column once introduced exists for every row,
    deletes drop keys regardless of which schema wrote them — must
    equal read_current after every sequence hypothesis finds."""
    path = str(tmp_path_factory.mktemp("evo") / "t")
    model: dict[int, dict] = {}
    introduced: set[str] = set()
    seq = 0
    for cols_set, ops in batches:
        cols = sorted(cols_set)
        introduced |= set(cols)
        fields = list(SCHEMA.fields) + [
            T.StructField(c, T.DoubleType()) for c in cols
        ]
        rows = []
        for key, is_del in ops:
            seq += 1
            extra = tuple(
                float(seq * 10 + i) for i in range(len(cols))
            )
            rows.append(
                (key, seq, None if is_del else float(seq), is_del)
                + extra
            )
            if is_del:
                model.pop(key, None)
            else:
                model[key] = {
                    "balance": float(seq),
                    **{c: extra[i] for i, c in enumerate(cols)},
                }
        upsert_batch(
            spark.createDataFrame(rows, T.StructType(fields)),
            path,
            ["user_id"],
            "seq",
            n_buckets=4,
            delete_col="deleted",
        )
    cur = read_current(spark, path)
    present = set(cur.columns)
    got = {
        r["user_id"]: {
            "balance": r["balance"],
            **{c: r[c] for c in introduced & present},
        }
        for r in cur.collect()
    }
    want = {
        k: {
            "balance": v["balance"],
            **{c: v.get(c) for c in introduced},
        }
        for k, v in model.items()
    }
    assert got == want, batches
    # a column once introduced is part of the union schema for good
    if model:
        assert introduced <= present


def test_right_to_erasure_recipe(spark, tmp_path):
    """The key-erasure story as one pinned recipe: erasing a user is
    ONE tombstone batch — the key leaves read_current and lookup, the
    changefeed records the removal with the erased values visible to
    the audit trail, only the key's bucket rewrites, and a replay of
    the erasure batch converges (still absent, feed unchanged)."""
    import os

    from data_pipeline_project_using_telegram_and_aws_spark.streaming.upsert import (
        lookup,
        read_changefeed,
    )

    path = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    rows = [(i, 1, float(i), False) for i in range(30)]
    upsert_batch(
        _batch(spark, rows), path, ["user_id"], "seq", n_buckets=8,
        delete_col="deleted", changefeed_path=feed, batch_id=0,
    )
    mtimes = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
    }

    erase = _batch(spark, [(7, 2, None, True)])
    upsert_batch(
        erase, path, ["user_id"], "seq", n_buckets=8,
        delete_col="deleted", changefeed_path=feed, batch_id=1,
    )
    assert read_current(spark, path).filter("user_id = 7").count() == 0
    assert lookup(spark, path, ["user_id"], [7], n_buckets=8).count() == 0
    removed = read_changefeed(spark, feed, since_batch=0).collect()
    assert [(r["change"], r["user_id"]) for r in removed] == [
        ("removed", 7)
    ]
    assert '"balance":7.0' in removed[0]["old_values"].replace(" ", "")
    # bucket-scoped rewrite: at most one bucket dir younger than before
    touched = [
        d
        for d, m in mtimes.items()
        if os.path.getmtime(os.path.join(path, d)) > m
    ]
    assert len(touched) <= 1

    # replay of the erasure converges: still absent, feed unchanged
    upsert_batch(
        erase, path, ["user_id"], "seq", n_buckets=8,
        delete_col="deleted", changefeed_path=feed, batch_id=1,
    )
    assert read_current(spark, path).filter("user_id = 7").count() == 0
    assert read_changefeed(spark, feed).count() == 31  # 30 adds + 1 removal


def test_columns_introduced_by_all_tombstone_batch_survive_empty_state(
    spark, tmp_path
):
    """The hypothesis falsifier pinned: insert → an EVOLVED batch that
    tombstones the table's last key (columns c1/c2 exist only in the
    empty-state marker's schema) → re-insert under the base schema.
    The bootstrap over the marker must carry the marker's schema
    forward — a column once introduced exists for every later row."""
    path = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(0, 1, 1.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    evolved = T.StructType(
        list(SCHEMA.fields)
        + [T.StructField(c, T.DoubleType()) for c in ("c1", "c2")]
    )
    upsert_batch(
        spark.createDataFrame([(0, 2, None, True, 7.0, 8.0)], evolved),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    # empty state: marker schema carries c1/c2
    assert read_current(spark, path).count() == 0
    upsert_batch(
        _batch(spark, [(0, 3, 3.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    cur = read_current(spark, path)
    assert {"c1", "c2"} <= set(cur.columns)
    row = cur.collect()[0]
    assert (row["balance"], row["c1"], row["c2"]) == (3.0, None, None)


def test_columns_introduced_by_noop_delete_batch_survive(spark, tmp_path):
    """Second falsifier pinned: the evolved batch deletes a key that
    doesn't exist (different bucket than the stored row), so its merge
    output is EMPTY and no data file ever carries c1 — only the
    durable `_schema` marker records it. read_current and lookup must
    still surface c1 as NULL on the untouched row."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.upsert import lookup

    path = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(4, 1, 1.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    evolved = T.StructType(
        list(SCHEMA.fields) + [T.StructField("c1", T.DoubleType())]
    )
    upsert_batch(
        spark.createDataFrame([(0, 2, None, True, 7.0)], evolved),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    cur = read_current(spark, path)
    assert "c1" in cur.columns
    assert [(r["user_id"], r["c1"]) for r in cur.collect()] == [(4, None)]
    hit = lookup(spark, path, ["user_id"], [4], n_buckets=4)
    assert "c1" in hit.columns and hit.count() == 1
    # and a later merge of the stored bucket KEEPS the marker monotone
    upsert_batch(
        _batch(spark, [(4, 3, 3.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    assert "c1" in read_current(spark, path).columns


def test_schema_marker_loss_degrades_readably_and_self_heals(
    spark, tmp_path
):
    """The documented crash caveat pinned: losing `_schema` (crash
    between data write and marker refresh) degrades reads to the
    file-union schema — columns carried by no file disappear, nothing
    errors — and the next merge rebuilds a valid marker so subsequent
    evolution keeps working."""
    import shutil

    path = str(tmp_path / "t")
    upsert_batch(
        _batch(spark, [(4, 1, 1.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    evolved = T.StructType(
        list(SCHEMA.fields) + [T.StructField("c1", T.DoubleType())]
    )
    upsert_batch(
        spark.createDataFrame([(0, 2, None, True, 7.0)], evolved),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    assert "c1" in read_current(spark, path).columns
    shutil.rmtree(os.path.join(path, "_schema"))  # simulated crash loss
    cur = read_current(spark, path)  # degraded, not broken
    assert "c1" not in cur.columns and cur.count() == 1
    upsert_batch(
        _batch(spark, [(5, 3, 3.0, False)]),
        path, ["user_id"], "seq", n_buckets=4, delete_col="deleted",
    )
    assert os.path.exists(os.path.join(path, "_schema"))
    assert read_current(spark, path).count() == 2
