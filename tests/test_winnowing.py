from __future__ import annotations

import hashlib

from data_pipeline_project_using_telegram_and_aws_spark.operators.winnowing import (
    fingerprint_overlap,
    winnow_fingerprints,
)

K, W = 8, 4


def _py_winnow(text: str, k: int = K, window: int = W) -> set[int]:
    if len(text) < k:
        return set()
    hashes = [
        int(hashlib.md5(text[p : p + k].encode()).hexdigest()[:12], 16)
        for p in range(len(text) - k + 1)
    ]
    return {
        min(hashes[p : p + window]) for p in range(len(hashes))
    }


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [
            (0, base),
            (1, "PREFIX>> " + base),  # same content, shifted
            (2, "completely different words live in this one here"),
            (3, "tiny"),  # shorter than k -> no fingerprints
        ],
        ["doc_id", "text"],
    )


def test_matches_python_reference(spark):
    rows = winnow_fingerprints(_docs(spark), K, W).collect()
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    texts = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    for doc_id in (0, 1, 2):
        assert got[doc_id] == _py_winnow(texts[doc_id]), doc_id
    assert 3 not in got  # sub-k document yields nothing


def test_shift_robustness_and_overlap_ranking(spark):
    fps = winnow_fingerprints(_docs(spark), K, W)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["overlap"]
        for r in fingerprint_overlap(fps).collect()
    }
    # shifted copy shares most fingerprints with the original — the
    # property whole-document hashing (tx4) lacks
    assert pairs[(0, 1)] > 0.8
    # unrelated text shares at most incidental fingerprints
    assert pairs.get((0, 2), 0.0) < 0.2


def test_overlap_self_join_winnows_once(spark, tmp_path):
    """Both sides of the fingerprint self-join read one exchange of the
    sized fingerprint rows, so the k-gram md5s and the winnowing window
    run once: one fingerprint Window in the AQE-final plan, the second
    side a ReusedExchange. A small Parquet input is the shape where the
    planner broadcasts one side and, without the shared exchange,
    recomputes its whole subtree under the broadcast."""
    path = str(tmp_path / "docs")
    _docs(spark).write.parquet(path)
    docs = spark.read.parquet(path)
    out = fingerprint_overlap(winnow_fingerprints(docs, K, W))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    assert sum("AS fingerprint#" in ln and "Window [" in ln for ln in lines) == 1, plan
    assert any("ReusedExchange" in ln for ln in lines), plan


def test_winnowing_guarantee_property():
    """Schleimer-Wilkerson-Aiken guarantee: documents sharing a substring
    of length >= k + window - 1 share at least one fingerprint. Checked
    on the algorithm's reference implementation (Spark parity with it is
    pinned above), over randomized host/payload strings."""
    from hypothesis import given, settings, strategies as st

    shared = st.text(alphabet="abcdef ", min_size=K + W - 1, max_size=30)
    pad = st.text(alphabet="uvwxyz ", min_size=0, max_size=20)

    @settings(max_examples=200, deadline=None)
    @given(shared, pad, pad, pad, pad)
    def run(sub, a, b, c, d):
        doc1, doc2 = a + sub + b, c + sub + d
        assert _py_winnow(doc1) & _py_winnow(doc2)

    run()
