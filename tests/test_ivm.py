"""Incremental view maintenance over the upsert changefeed: after any
batch sequence (inserts, updates, deletes, GROUP-MOVING updates) the
maintained view equals a from-scratch recompute over read_current;
refresh is cursor-idempotent; zero-count groups leave the view; the
base table is never read by the refresh plan."""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

import pytest

from data_pipeline_project_using_telegram_and_aws_spark.streaming.ivm import (
    read_view,
    refresh_distinct_view,
    refresh_grouped_view,
)
from data_pipeline_project_using_telegram_and_aws_spark.streaming.upsert import (
    read_current,
    upsert_batch,
)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("region", T.StringType()),
        T.StructField("balance", T.DoubleType()),
        T.StructField("deleted", T.BooleanType()),
    ]
)
VALUE_SCHEMA = "seq long, region string, balance double"


def _recompute(spark, table):
    return {
        (r["region"],): (r["n"], round(r["s"], 6))
        for r in read_current(spark, table)
        .groupBy("region")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("balance").alias("s"))
        .collect()
    }


def _view(spark, path):
    return {
        (r["region"],): (r["n_rows"], round(r["sum_balance"], 6))
        for r in read_view(spark, path).collect()
    }


def test_ivm_matches_recompute_through_moves_and_deletes(spark, tmp_path):
    table = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    view = str(tmp_path / "view")

    def up(rows, bid):
        upsert_batch(
            spark.createDataFrame(rows, SCHEMA), table, ["user_id"],
            "seq", n_buckets=4, delete_col="deleted",
            changefeed_path=feed, batch_id=bid,
        )

    # batch 0: inserts across two regions
    up(
        [
            (1, 1, "eu", 10.0, False),
            (2, 1, "us", 20.0, False),
            (3, 1, "us", 5.0, False),
        ],
        0,
    )
    assert refresh_grouped_view(
        spark, feed, view, ["region"], ["balance"], VALUE_SCHEMA
    ) == 1
    assert _view(spark, view) == _recompute(spark, table)

    # batch 1: value update, a GROUP MOVE (user 3 us→eu), an insert
    up(
        [
            (2, 2, "us", 25.0, False),
            (3, 2, "eu", 5.0, False),
            (4, 2, "apac", 7.0, False),
        ],
        1,
    )
    # batch 2: delete the only apac row (group must vanish)
    up([(4, 3, None, None, True)], 2)
    assert refresh_grouped_view(
        spark, feed, view, ["region"], ["balance"], VALUE_SCHEMA
    ) == 2
    got = _view(spark, view)
    assert got == _recompute(spark, table)
    assert ("apac",) not in got
    assert got[("eu",)] == (2, 15.0)
    assert got[("us",)] == (1, 25.0)

    # idempotent: nothing new → no-op, view unchanged
    assert refresh_grouped_view(
        spark, feed, view, ["region"], ["balance"], VALUE_SCHEMA
    ) == 0
    assert _view(spark, view) == got


def test_ivm_null_group_merges_like_groupby(spark, tmp_path):
    """A NULL group key (missing region in the upserted values) must
    behave exactly like groupBy's null group: ONE view row that deltas
    merge into across refreshes — not a fresh appended row per refresh
    (the plain-equi-join bug: null never equals null)."""
    table = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    view = str(tmp_path / "view")

    def up(rows, bid):
        upsert_batch(
            spark.createDataFrame(rows, SCHEMA), table, ["user_id"],
            "seq", n_buckets=4, delete_col="deleted",
            changefeed_path=feed, batch_id=bid,
        )

    up([(1, 1, None, 10.0, False), (2, 1, "eu", 3.0, False)], 0)
    refresh_grouped_view(
        spark, feed, view, ["region"], ["balance"], VALUE_SCHEMA
    )
    # second refresh touches the null group AGAIN: a new null-group row
    # plus a move of user 2 INTO the null group
    up([(3, 2, None, 5.0, False), (2, 2, None, 4.0, False)], 1)
    refresh_grouped_view(
        spark, feed, view, ["region"], ["balance"], VALUE_SCHEMA
    )
    rows = read_view(spark, view).collect()
    null_rows = [r for r in rows if r["region"] is None]
    assert len(null_rows) == 1, rows  # ONE null group, like groupBy
    assert _view(spark, view) == _recompute(spark, table)
    assert (None,) in _view(spark, view)
    assert _view(spark, view)[(None,)] == (3, 19.0)
    # and the eu group vanished (its only row moved out)
    assert ("eu",) not in _view(spark, view)

    # a delete shrinks the null group through the same null-safe path
    up([(1, 3, None, None, True)], 2)
    refresh_grouped_view(
        spark, feed, view, ["region"], ["balance"], VALUE_SCHEMA
    )
    assert _view(spark, view) == _recompute(spark, table)
    assert _view(spark, view)[(None,)] == (2, 9.0)


def test_distinct_view_insert_only_tracks_recompute(spark, tmp_path):
    """Sketch-backed COUNT DISTINCT IVM: on insert-only feeds the
    per-group estimate tracks an exact from-scratch count-distinct
    (within the sketch's bounds — exact here, the sets are tiny and
    DataSketches HLL stays in exact coupon mode), refresh is
    cursor-idempotent, and null groups merge like groupBy's."""
    table = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    view = str(tmp_path / "view")

    def up(rows, bid):
        upsert_batch(
            spark.createDataFrame(rows, SCHEMA), table, ["user_id"],
            "seq", n_buckets=4, delete_col="deleted",
            changefeed_path=feed, batch_id=bid,
        )

    # distinct user_id (the upsert KEY — top-level feed column) per
    # region, built across two refreshes
    up(
        [
            (1, 1, "eu", 10.0, False),
            (2, 1, "us", 20.0, False),
            (3, 1, "us", 5.0, False),
            (4, 1, None, 1.0, False),
        ],
        0,
    )
    assert refresh_distinct_view(
        spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
    ) == 1
    up([(5, 1, "us", 2.0, False), (6, 1, None, 3.0, False)], 1)
    assert refresh_distinct_view(
        spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
    ) == 1

    exact = {
        (r["region"],): r["d"]
        for r in read_current(spark, table)
        .groupBy("region")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    rows = read_view(spark, view).collect()
    got = {(r["region"],): round(r["distinct_est"]) for r in rows}
    assert got == exact  # {eu:1, us:3, None:2}
    assert len([r for r in rows if r["region"] is None]) == 1

    # idempotent: nothing new → no-op
    assert refresh_distinct_view(
        spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
    ) == 0
    assert {
        (r["region"],): round(r["distinct_est"])
        for r in read_view(spark, view).collect()
    } == exact


def test_distinct_view_rejects_removals_loudly(spark, tmp_path):
    """HLL registers cannot be subtracted: a feed slice carrying a
    removed (or changed) row must raise, naming the recompute path —
    never silently under- or over-count."""
    table = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    view = str(tmp_path / "view")

    def up(rows, bid):
        upsert_batch(
            spark.createDataFrame(rows, SCHEMA), table, ["user_id"],
            "seq", n_buckets=4, delete_col="deleted",
            changefeed_path=feed, batch_id=bid,
        )

    up([(1, 1, "eu", 10.0, False)], 0)
    refresh_distinct_view(
        spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
    )
    up([(1, 2, None, None, True)], 1)  # delete → 'removed' feed row
    with pytest.raises(ValueError, match="cannot be subtracted"):
        refresh_distinct_view(
            spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
        )
    # a 'changed' row (value update) is equally rejected
    up([(2, 1, "us", 1.0, False)], 2)
    up([(2, 2, "us", 9.0, False)], 3)
    with pytest.raises(ValueError, match="cannot be subtracted"):
        refresh_distinct_view(
            spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
        )


def test_rebuild_distinct_view_recovers_after_removals(spark, tmp_path):
    """The documented recovery path, executable end-to-end: a
    removal-bearing slice wedges the incremental refresh; ONE
    rebuild_distinct_view call recomputes the view from the current
    table, stamps the cursor to the feed frontier, and incremental
    refreshes resume cleanly on later insert-only batches."""
    from data_pipeline_project_using_telegram_and_aws_spark.streaming.ivm import (
        rebuild_distinct_view,
    )

    table = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    view = str(tmp_path / "view")

    def up(rows, bid):
        upsert_batch(
            spark.createDataFrame(rows, SCHEMA), table, ["user_id"],
            "seq", n_buckets=4, delete_col="deleted",
            changefeed_path=feed, batch_id=bid,
        )

    def exact():
        return {
            (r["region"],): r["d"]
            for r in read_current(spark, table)
            .groupBy("region")
            .agg(F.countDistinct("user_id").alias("d"))
            .collect()
        }

    up(
        [
            (1, 1, "eu", 10.0, False),
            (2, 1, "us", 20.0, False),
            (3, 1, "us", 5.0, False),
        ],
        0,
    )
    refresh_distinct_view(
        spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
    )
    up([(2, 2, None, None, True)], 1)  # delete → wedges the view
    with pytest.raises(ValueError, match="rebuild_distinct_view"):
        refresh_distinct_view(
            spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
        )

    cursor = rebuild_distinct_view(
        spark, table, feed, view, ["region"], "user_id"
    )
    assert cursor == 1  # the feed frontier, including the delete batch
    assert {
        (r["region"],): round(r["distinct_est"])
        for r in read_view(spark, view).collect()
    } == exact() == {("eu",): 1, ("us",): 1}
    # n_rows restarts as the current table's per-group row count
    assert {
        (r["region"],): r["n_rows"]
        for r in read_view(spark, view).collect()
    } == {("eu",): 1, ("us",): 1}

    # incremental refreshes resume above the rebuilt cursor
    up([(4, 1, "us", 2.0, False), (5, 1, "eu", 7.0, False)], 2)
    assert refresh_distinct_view(
        spark, feed, view, ["region"], "user_id", VALUE_SCHEMA
    ) == 1
    assert {
        (r["region"],): round(r["distinct_est"])
        for r in read_view(spark, view).collect()
    } == exact() == {("eu",): 2, ("us",): 2}


# ------------------------------------------------------- view commits
# The pointer commit (sources/commit.py) under the IVM swap:
# pointer-resolved reads, and a crash at the pointer replace leaves the
# OLD view fully readable.

from pathlib import Path

from data_pipeline_project_using_telegram_and_aws_spark.sources import commit as commit_mod


def _up(spark, rows, bid, table):
    upsert_batch(
        spark.createDataFrame(rows, SCHEMA), table, ["user_id"],
        "seq", n_buckets=4, delete_col="deleted",
        changefeed_path=table + "_changefeed", batch_id=bid,
    )


def test_view_commit_survives_crash(spark, tmp_path, monkeypatch):
    table = str(tmp_path / "t")
    feed = table + "_changefeed"
    vm = str(tmp_path / "view_m")

    _up(spark, [(1, 1, "eu", 10.0, False), (2, 1, "us", 5.0, False)], 0, table)
    _up(spark, [(1, 2, "us", 7.0, False), (3, 2, "eu", 2.0, False)], 1, table)
    n = refresh_grouped_view(
        spark, feed, vm, ["region"], ["balance"], VALUE_SCHEMA,
    )
    assert n == 2
    assert _view(spark, vm) == _recompute(spark, table)
    assert (Path(vm) / "_dir_manifest").exists()
    assert (Path(vm) / ".v0").exists()

    # crash AT the pointer replace: the old view must stay readable
    before = _view(spark, vm)
    _up(spark, [(2, 3, "eu", 5.5, False)], 2, table)

    def boom(src, dst):
        raise RuntimeError("injected crash at manifest replace")

    monkeypatch.setattr(commit_mod, "_replace", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_grouped_view(
            spark, feed, vm, ["region"], ["balance"], VALUE_SCHEMA,
        )
    monkeypatch.undo()
    assert _view(spark, vm) == before  # pointer never moved

    # retry converges, sweeps the orphaned version, matches recompute
    n = refresh_grouped_view(
        spark, feed, vm, ["region"], ["balance"], VALUE_SCHEMA,
    )
    assert n == 1
    assert _view(spark, vm) == _recompute(spark, table)
    versions = sorted(d.name for d in Path(vm).glob(".v*"))
    assert len(versions) == 1

    # post-commit crash window: kill the old-version sweep — reads
    # already follow the new pointer; next refresh sweeps
    _up(spark, [(3, 4, "us", 1.0, False)], 3, table)
    real_rmtree = commit_mod._rmtree
    state = {"fired": False}

    def rmtree_dies(p, *a, **k):
        if state["fired"]:
            raise RuntimeError("injected post-commit crash")
        state["fired"] = True
        return real_rmtree(p, *a, **k)

    # first rmtree call in a commit is the entry sweep (none pending),
    # so arm it to die on the post-commit old-version delete
    monkeypatch.setattr(commit_mod, "_rmtree", rmtree_dies)
    try:
        refresh_grouped_view(
            spark, feed, vm, ["region"], ["balance"], VALUE_SCHEMA,
        )
    except RuntimeError:
        pass
    finally:
        monkeypatch.undo()
    assert _view(spark, vm) == _recompute(spark, table)
