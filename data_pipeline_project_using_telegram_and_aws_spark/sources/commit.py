"""Directory commit — the shared primitive behind every "replace this
directory's content atomically" site that is not a partitioned ledger
(`streaming/ivm.py` view swaps, `streaming/upsert.py`'s per-bucket
commits and `operators/webdataset.py`'s all-or-nothing export adopt
it; `streaming/ledger_compaction.py` implements the same protocol with
ledger-specific reader semantics, and `sources/bucketing.py`'s
``swap="location"`` compaction uses the catalog entry as its pointer).

The protocol: write to a fresh ``.v{n}`` directory nothing points at,
then atomically replace a one-line ``_dir_manifest`` file naming it —
the Iceberg/Delta commit model. On a real object store that replace is
a single-key PUT (atomic on S3/GCS) or a catalog swap; locally
``os.replace`` models it exactly. No directory rename is load-bearing,
and there is NO intermediate crash state: a crash leaves either the
old pointer (old content, fully readable) or the new one. Unreferenced
version dirs and a dead run's ``.tmp`` manifest are garbage, swept by
the next commit. Readers MUST resolve through :func:`resolve_dir`.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path
from typing import Callable

MANIFEST_FILE = "_dir_manifest"  # underscore ⇒ invisible to Spark
_VERSION_PREFIX = ".v"  # dot ⇒ invisible to Spark listings

# indirection points so crash-injection tests can kill the process
# "between steps" by monkeypatching
_rmtree = shutil.rmtree
_replace = os.replace  # the commit point (single-key PUT model)


def manifest(path: str) -> dict | None:
    """The committed pointer ``{"dir": ".v{n}"}``, or None if ``path``
    was never committed."""
    p = Path(path) / MANIFEST_FILE
    if not p.exists():
        return None
    return json.loads(p.read_text())


def resolve_dir(path: str) -> str:
    """The directory holding the CURRENT content: the manifest's
    target, or ``path`` itself for a directory never committed. Every
    reader of a commit_dir-managed directory goes through here."""
    m = manifest(path)
    if m is None:
        return path
    return str(Path(path) / m["dir"])


def commit_dir(path: str, write_fn: Callable[[str], None]) -> None:
    """Make whatever ``write_fn(target_dir)`` writes the current
    content of ``path``, atomically (module docstring). ``write_fn``
    receives the directory to write into — never the live one — and
    must fully materialize before returning."""
    root = Path(path)
    root.mkdir(parents=True, exist_ok=True)
    cur = manifest(path)
    live = cur["dir"] if cur is not None else None
    # sweep dead predecessors: unreferenced versions + tmp manifest
    for d in root.glob(_VERSION_PREFIX + "*"):
        if d.is_dir() and d.name != live:
            _rmtree(d)
    tmp = root / (MANIFEST_FILE + ".tmp")
    if tmp.exists():
        tmp.unlink()
    next_v = (
        int(live[len(_VERSION_PREFIX):]) + 1 if live is not None else 0
    )
    new_dir = root / f"{_VERSION_PREFIX}{next_v}"
    write_fn(str(new_dir))
    tmp.write_text(json.dumps({"dir": new_dir.name}))
    _replace(tmp, root / MANIFEST_FILE)  # COMMIT POINT
    # post-commit cleanup, crash-safe (re-swept next commit)
    if live is not None and (root / live).exists():
        _rmtree(root / live)
