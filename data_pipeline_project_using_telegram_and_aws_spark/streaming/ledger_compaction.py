"""Crash-consistent ledger compaction: the commit protocol every
parquet ledger in this repo (`sketch_ledger`, `stat_ledgers`, the
heavy-hitter candidate store) uses to fold old ``ingest_batch``
partitions into a baseline WITHOUT a double-count window.

The hazard this closes (the "two non-atomic steps" bug): writing the
folded baseline and deleting the folded partitions are separate
filesystem operations. A crash between them leaves the folded mass in
BOTH the baseline and the surviving batch partitions; for ledgers
whose merge is a SUM (count-min counters, every ledger's ``n_rows``)
the next merge silently double-counts — forever. Set-union ledgers
(quantile samples, HLL registers, candidate sets) keep a correct
ESTIMATE but still inflate their exact counters.

The protocol — one atomic commit point, everything else recoverable
(the `sources/commit.py` pointer model with a folding horizon added):

1. Build the new baseline from the CURRENT readable state (prior
   baseline ∪ not-yet-folded partitions ≤ ``through_batch``) and write
   it to a fresh versioned directory (``.baseline_v{n}`` —
   dot-prefixed, invisible to Spark's listing of the ledger root) that
   nothing points at yet.
2. Atomically replace a small ``_baseline_manifest`` file naming that
   directory and the folded-through horizon. This is the COMMIT POINT:
   baseline rows and horizon become visible together or not at all. On
   a real object store the replace is a single-key PUT (atomic per
   object on S3/GCS) or a catalog swap; locally ``os.replace`` models
   it exactly. No directory rename is ever load-bearing.
3. Only then delete the folded batch partitions — at leisure, because
   every reader goes through :func:`read_ledger`, which reads the
   baseline through the pointer and EXCLUDES batch partitions
   ``ingest_batch <= horizon``. A crash anywhere in step 3 (or between
   2 and 3) leaves stale partitions that no reader sums.

There is no mid-commit crash state, so readers never recover anything
and never delete anything (a reader that deleted could kill a live
compactor's write). Stale versioned dirs and a dead run's ``.tmp``
manifest are unreferenced garbage, swept by the next compactor
(:func:`commit_baseline`, :func:`sweep_stragglers`). Every crash
restores the exact pre- or post-commit answer.

Replay interaction: the maintenance-window contract (compact only with
the stream stopped and the checkpoint committed past
``through_batch``) governs at-least-once RE-DELIVERY of a folded batch
id; this module is about crash consistency of the compaction itself,
which a write-then-delete sequence could corrupt even under a
perfectly quiesced stream.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_FILE = "_baseline_manifest"  # underscore ⇒ hidden from Spark
_VERSION_PREFIX = ".baseline_v"  # dot ⇒ hidden from Spark

# indirection points so crash-injection tests can kill the process
# "between steps" by monkeypatching
_rmtree = shutil.rmtree
_replace = os.replace  # the commit point (single-key PUT model)


def _manifest(ledger_path: str) -> dict | None:
    """The committed pointer, or None if never compacted:
    {"dir": ".baseline_v{n}", "through": int}."""
    p = Path(ledger_path) / MANIFEST_FILE
    if not p.exists():
        return None
    return json.loads(p.read_text())


def compacted_through(ledger_path: str) -> int | None:
    """The committed compaction horizon, or None if never compacted.
    Meaning: every batch partition with ``ingest_batch <= this`` is
    already folded into the baseline and must not be summed."""
    m = _manifest(ledger_path)
    return None if m is None else int(m["through"])


def read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame:
    """THE read path for a compactable ledger: the baseline (read
    through the pointer, labeled ``ingest_batch = -1``) unioned with
    the batch partitions above the horizon. The horizon filter is on
    the partition column, so it prunes at the scan — stale folded
    partitions (a crash mid-delete) cost nothing and count nothing."""
    m = _manifest(ledger_path)
    if m is None:
        return spark.read.parquet(ledger_path)
    root = Path(ledger_path)
    base = spark.read.parquet(str(root / m["dir"])).withColumn(
        "ingest_batch", F.lit(-1).cast("int")
    )
    if not any(root.glob("ingest_batch=*")):
        return base  # everything folded; root has no visible files
    rest = spark.read.parquet(ledger_path).filter(
        F.col("ingest_batch") > int(m["through"])
    )
    return rest.unionByName(base.select(*rest.columns))


def commit_baseline(
    baseline: DataFrame, ledger_path: str, through_batch: int
) -> None:
    """Commit ``baseline`` (WITHOUT an ``ingest_batch`` column) as the
    new folded state through ``through_batch``: write it under a name
    nothing points at, then move the pointer in ONE atomic single-file
    replace. The new baseline is fully materialized before anything
    live changes, so it may derive from the very partitions it
    replaces. Crash states and their recovery, exhaustively:

    - mid baseline write → a partial unreferenced ``.baseline_v{n}``;
      readers never resolve it, the next compactor sweeps it.
    - mid manifest tmp write → an unreferenced ``.tmp`` file; same.
    - at the replace → atomic: the old or the new manifest, never a
      torn one.
    - after the replace, before the old-version sweep → readers
      already follow the new pointer; the sweep re-runs next time."""
    root = Path(ledger_path)
    current = _manifest(ledger_path)
    live = current["dir"] if current is not None else None
    _sweep_dead(root, live)
    next_v = (
        int(live[len(_VERSION_PREFIX):]) + 1 if live is not None else 0
    )
    new_dir = root / f"{_VERSION_PREFIX}{next_v}"
    baseline.write.mode("overwrite").parquet(str(new_dir))
    tmp = root / (MANIFEST_FILE + ".tmp")
    tmp.write_text(
        json.dumps({"dir": new_dir.name, "through": int(through_batch)})
    )
    _replace(tmp, root / MANIFEST_FILE)  # COMMIT POINT
    # post-commit cleanup, crash-safe (re-swept on the next compaction)
    if live is not None and (root / live).exists():
        _rmtree(root / live)


def _sweep_dead(root: Path, live: str | None) -> None:
    """Compactor-owned sweep of dead predecessors: unreferenced
    versioned dirs and a dead run's tmp manifest."""
    for d in root.glob(_VERSION_PREFIX + "*"):
        # is_dir guard mirrors sources/commit.py: a stray FILE with
        # the version prefix must not abort the compaction pre-commit
        if d.is_dir() and d.name != live:
            _rmtree(d)
    tmp = root / (MANIFEST_FILE + ".tmp")
    if tmp.exists():
        tmp.unlink()


def require_unfolded_range(
    ledger_path: str, since_batch: int, op_name: str, what: str = "ledger"
) -> None:
    """Guard for range reads (``ingest_batch > since_batch``): a batch
    folded into the baseline has no partition left to slice, so a
    range reaching into compacted history must RAISE — an answer
    silently missing the folded mass is worse than no answer. Keep the
    compaction horizon behind the longest window you query."""
    t = compacted_through(ledger_path)
    if t is not None and since_batch < t:
        raise ValueError(
            f"{op_name}: the {what} store is compacted through batch "
            f"{t} but the range starts after batch {since_batch} - "
            "folded history cannot be re-sliced. Query a range inside "
            "the unfolded suffix, or compact less aggressively (keep "
            "the horizon behind the longest window you query)."
        )


def sweep_stragglers(ledger_path: str) -> None:
    """Re-run the post-commit cleanup a crash can leave undone: batch
    partitions the COMMITTED horizon already covers (a crash between
    commit and deletion), dead predecessor versions and the tmp
    manifest (a crash after the replace). Called at the top of every
    compaction so a ledger whose feed went quiet (no new batches to
    fold, so the fold step early-returns) still converges to clean
    physical state. Compactor-owned, like the sweep inside the commit
    itself — never called from the read path. No-op on a ledger never
    compacted."""
    m = _manifest(ledger_path)
    if m is None:
        return
    delete_folded(ledger_path, int(m["through"]))
    _sweep_dead(Path(ledger_path), m["dir"])


def delete_folded(ledger_path: str, through_batch: int) -> None:
    """Step 3: remove batch partitions the committed horizon already
    covers. Safe to crash anywhere — readers exclude these — and safe
    to re-run; recompaction also sweeps stragglers from prior runs."""
    for d in Path(ledger_path).glob("ingest_batch=*"):
        if int(d.name.split("=", 1)[1]) <= through_batch:
            _rmtree(d)
