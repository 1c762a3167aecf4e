"""Directory commit (sources/commit.py): unit behavior plus a
hypothesis model check — under ANY sequence of commits (each
optionally crashing at the pointer replace, right after it, or during
the write) a reader through resolve_dir sees either the last committed
content or, for a crash AT/BEFORE the commit point, the previous one —
never a torn or missing state. Pure-filesystem content (no Spark)
keeps the model exact and the check fast."""

from __future__ import annotations

import json
from pathlib import Path

from hypothesis import HealthCheck, given, settings, strategies as st

from data_pipeline_project_using_telegram_and_aws_spark.sources import commit as cm


def _write_payload(value: int):
    def write(target: str) -> None:
        p = Path(target)
        p.mkdir(parents=True, exist_ok=True)
        (p / "data.json").write_text(json.dumps({"v": value}))

    return write


def _read(path: str):
    d = Path(cm.resolve_dir(path))
    f = d / "data.json"
    if not f.exists():
        return None
    return json.loads(f.read_text())["v"]


def test_manifest_commit_basics(tmp_path):
    p = str(tmp_path / "dir")
    # never committed: readers see the directory itself
    assert cm.manifest(p) is None and cm.resolve_dir(p) == p
    cm.commit_dir(p, _write_payload(1))
    assert _read(p) == 1 and cm.manifest(p) == {"dir": ".v0"}
    cm.commit_dir(p, _write_payload(2))
    assert _read(p) == 2 and cm.manifest(p) == {"dir": ".v1"}
    assert not (Path(p) / ".v0").exists()  # superseded version swept


_ops = st.lists(
    st.sampled_from(["none", "in_write", "at_replace", "post_replace"]),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(_ops)
def test_commit_dir_model_check(tmp_path_factory, ops):
    tmp_path = tmp_path_factory.mktemp("cd")
    p = str(tmp_path / "dir")
    real_replace = cm._replace
    committed = None  # the model: last successfully visible value
    for i, crash in enumerate(ops):
        value = i + 10

        def boom_write(target, _v=value, _c=crash):
            if _c == "in_write":
                raise RuntimeError("injected in_write")
            _write_payload(_v)(target)

        def flaky_replace(src, dst, _c=crash):
            if _c == "at_replace":
                raise RuntimeError("injected at_replace")
            real_replace(src, dst)
            if _c == "post_replace":
                raise RuntimeError("injected post_replace")

        cm._replace = flaky_replace
        try:
            cm.commit_dir(p, boom_write)
            ok = True
        except RuntimeError:
            ok = False
        finally:
            cm._replace = real_replace
        if ok or crash == "post_replace":
            committed = value  # post_replace: committed, then crashed
        # every other crash is before/at the commit point: old value
        assert _read(p) == committed, (ops, i, crash)
    # convergence: one clean commit always lands
    cm.commit_dir(p, _write_payload(999))
    assert _read(p) == 999
    versions = [d.name for d in Path(p).glob(".v*")]
    assert len(versions) == 1
    assert not (Path(p) / "_dir_manifest.tmp").exists()
