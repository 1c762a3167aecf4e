"""Dedup operators: recall/precision on constructed near-duplicates (the
oracle gate already pins exact values on real testdata)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_project_using_telegram_and_aws_spark.operators import dedup as D

BASE = "the quick brown fox jumps over the lazy dog while rain falls on the plain"
NEAR = "the quick brown fox jumps over the lazy cat while rain falls on the plain"
OTHER = "completely different words about spark query engines and shuffles here now"


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, NEAR),          # near dup of 1 (one token changed)
        (4, OTHER),
        (5, "tiny"),        # shorter than shingle width
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = D.exact_dedup_keep_first(_docs(spark)).collect()
    by_id = {r.doc_id: r.dup_count for r in out}
    assert by_id[1] == 2          # docs 1+2 collapse, min id survives
    assert 2 not in by_id
    assert by_id[4] == 1


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(_docs(spark), n=3).collect()
    }
    assert pairs[(1, 2)] == 1.0            # exact dup → jaccard 1
    assert pairs[(3, 1) if (3, 1) in pairs else (1, 3)] > 0.5
    assert (1, 4) not in pairs             # disjoint shingles → no pair row
    assert all(a != 5 and b != 5 for a, b in pairs)  # too short → no shingles


def test_minhash_estimates_track_true_jaccard(spark):
    cands = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in D.minhash_lsh_candidates(_docs(spark), n=3).collect()
    }
    assert cands[(1, 2)] == 1.0            # identical docs share every band
    if (1, 3) in cands:                    # near-dups likely band-collide
        assert cands[(1, 3)] >= 0.25


def _final_plan_lines(df) -> list[str]:
    """The AQE-final executed plan of ``df``, run to completion first."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].splitlines()


def test_lsh_band_self_join_computes_signatures_once(spark):
    """Both sides of the (band, bucket) self-join read one exchange of
    the band rows: the salted-md5 signature aggregation appears once in
    the final plan, the second side is a ReusedExchange, and the bucket
    keys and Jaccard estimate carry no interpreted lambda. A
    one-partition input is the shape where each side would otherwise
    re-run the shingle explode and the md5 mins."""
    cands = D.minhash_lsh_candidates(_docs(spark).coalesce(1), n=3)
    lines = _final_plan_lines(cands)
    assert sum("partial_min(md5(" in ln for ln in lines) == 1, "\n".join(lines)
    assert any("ReusedExchange" in ln for ln in lines), "\n".join(lines)
    assert not any("lambdafunction" in ln for ln in lines), "\n".join(lines)


def test_simhash_near_dups_have_close_fingerprints(spark):
    fps = {r.doc_id: r.simhash for r in D.simhash16(_docs(spark)).collect()}
    assert fps[1] == fps[2]                # identical text → identical hash

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(fps[1], fps[3]) <= hamming(fps[1], fps[4])
    assert 0 <= fps[1] < 2**16


def test_empty_and_single_token_docs(spark):
    df = spark.createDataFrame([(1, ""), (2, "one")], ["doc_id", "text"])
    assert D.ngram_jaccard_pairs(df, n=3).count() == 0
    sigs = D.minhash_signatures(df, n=3)
    assert sigs.count() == 0               # no shingles → no signatures


def test_max_df_jaccard_is_over_filtered_sets(spark):
    """With max_df set, similarity must be exact Jaccard over the
    *filtered* shingle sets — sizes recomputed after the hot-shingle
    drop, not biased by dropped shingles in the denominator."""
    # docs 1/2 share a hot boilerplate phrase (in every doc) plus one
    # unique shingle each; doc 3 carries only the boilerplate.
    boiler = "all rights reserved here"
    df = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma"),
            (2, f"{boiler} alpha beta delta"),
            (3, boiler),
        ],
        ["doc_id", "text"],
    )
    # 3-gram shingles of doc1: [all rights reserved, rights reserved here,
    # reserved here alpha, here alpha beta, alpha beta gamma]; the first
    # two appear in all 3 docs -> df=3 > max_df=2 -> dropped.
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, n=3, max_df=2).collect()
    }
    # dropped (df=3 > 2): "all rights reserved", "rights reserved here".
    # docs 1/2 each keep 3 shingles ("reserved here alpha",
    # "here alpha beta", "<alpha beta gamma|delta>"), sharing the first
    # two: jaccard = 2 / (3 + 3 - 2) = 0.5 over the FILTERED sets (the
    # biased pre-fix denominator would have given 2 / (5 + 5 - 2) = 0.25)
    assert pairs[(1, 2)] == 0.5
    # doc 3 loses all shingles -> appears in no pair
    assert all(3 not in p for p in pairs)


def test_incremental_dedup_against_persisted_index(spark):
    """Index the corpus once, probe with a new batch: the near-dup of an
    indexed doc is flagged, the novel doc is not, and estimates agree
    with the batch LSH run over the union."""
    corpus = _docs(spark).filter(F.col("doc_id") != 5)
    D.build_minhash_index_table(corpus, "dedup_index_t", buckets=4)

    new = spark.createDataFrame(
        [(10, BASE), (11, "entirely novel content never indexed before ok")],
        ["doc_id", "text"],
    )
    hits = {
        (r.new_doc_id, r.corpus_doc_id): r.est_jaccard
        for r in D.dedup_against_index(spark, new, "dedup_index_t").collect()
    }
    assert hits[(10, 1)] == 1.0 and hits[(10, 2)] == 1.0  # exact content
    assert (10, 3) in hits                                # near dup collides
    assert not any(n == 11 for n, _ in hits)              # novel doc clean

    # estimate parity with the one-shot batch path over corpus ∪ new
    batch = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in D.minhash_lsh_candidates(corpus.union(new)).collect()
    }
    for (n, c), est in hits.items():
        assert batch[(min(c, n), max(c, n))] == est


def test_probe_against_index_signed_with_fewer_salts(spark):
    """An index signed with fewer salts than the probe still answers:
    the shared bands collide, and the salts the index lacks count as
    mismatches (the padding rule of the element-wise comparison)."""
    corpus = _docs(spark).filter(F.col("doc_id") == 1)
    D.build_minhash_index_table(corpus, "dedup_index_t8", n_salts=8, buckets=4)
    new = spark.createDataFrame([(10, BASE)], ["doc_id", "text"])
    hits = D.dedup_against_index(spark, new, "dedup_index_t8", n_salts=16)
    assert [(r.new_doc_id, r.corpus_doc_id, r.est_jaccard) for r in hits.collect()] == [
        (10, 1, 0.5)
    ]


def test_incremental_probe_shuffles_only_the_new_batch(spark):
    """The bucketed index side must not re-shuffle: exactly one Exchange
    in the probe plan, on the (small) new-batch side."""
    corpus = _docs(spark).filter(F.col("doc_id") != 5)
    D.build_minhash_index_table(corpus, "dedup_index_t2", buckets=4)
    new = spark.createDataFrame([(10, NEAR)], ["doc_id", "text"])

    from data_pipeline_project_using_telegram_and_aws_spark.sources.bucketing import (
        exchange_count,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = D.dedup_against_index(spark, new, "dedup_index_t2")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # the index is read bucketed, in place
        assert "Bucketed: true" in plan, plan
        # exactly 3 exchanges, all on the probe/result path (signature
        # agg by doc_id, band/bucket partitioning for the join, final
        # pair agg); an unbucketed index would add a 4th for its side
        assert exchange_count(probe) == 3, plan
        # and none of them sits above the index scan: the index subtree
        # (everything from its Sort to the FileScan) is exchange-free
        idx_side = plan[plan.rfind("+- Sort [band") :]
        assert "Exchange" not in idx_side, idx_side
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_span_dedup_drops_cross_doc_boilerplate(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        span_exact_dedup,
    )

    boiler = "all rights reserved contact us at example"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique one body text here now"),
            (2, boiler + " second document content words go here"),
            (3, "entirely fresh text with no shared spans at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in span_exact_dedup(docs, span_tokens=7).collect()
    }
    # doc 1 (first occurrence) keeps the boilerplate span; doc 2 loses it
    assert out[1].text.startswith(boiler) and out[1].n_dropped_spans == 0
    assert not out[2].text.startswith("all rights")
    assert out[2].n_dropped_spans == 1
    assert out[3].n_dropped_spans == 0


def test_span_dedup_row_contract_and_idempotence(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        span_exact_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),   # first span duplicates doc 1's
            (3, ""),              # zero-token doc keeps its row
            (4, "d e f"),         # entire doc already seen → empty text
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_spans, r.n_dropped_spans)
        for r in span_exact_dedup(docs, span_tokens=3).collect()
    }
    assert out == {
        1: ("a b c d e f", 2, 0),
        2: ("x y z", 2, 1),
        3: ("", 0, 0),
        4: ("", 1, 1),
    }
    # idempotence: a second pass over the survivors drops nothing
    first = span_exact_dedup(docs, span_tokens=3).select("doc_id", "text")
    again = {
        r.doc_id: r.n_dropped_spans
        for r in span_exact_dedup(first, span_tokens=3).collect()
    }
    assert all(v == 0 for v in again.values())


def test_span_dedup_preserves_span_order(spark):
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        span_exact_dedup,
    )

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(12)))], ["doc_id", "text"]
    )
    out = span_exact_dedup(docs, span_tokens=4).collect()[0]
    assert out.text == " ".join(f"t{i}" for i in range(12))


def test_span_dedup_properties_on_random_corpora(spark):
    """Properties over random corpora: every output span multiset is a
    subset of the input's, accounting is exact (kept + dropped spans =
    n_spans), and a second pass drops nothing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        span_exact_dedup,
    )

    token = st.sampled_from([f"w{i}" for i in range(6)])
    doc = st.lists(token, min_size=0, max_size=14).map(" ".join)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=5))
    def check(texts):
        docs = spark.createDataFrame(
            list(enumerate(texts)), ["doc_id", "text"]
        )
        out = span_exact_dedup(docs, span_tokens=4).collect()
        spans_in = {}
        for i, t in enumerate(texts):
            toks = [x for x in t.split(" ") if x]
            spans_in[i] = [
                " ".join(toks[j: j + 4]) for j in range(0, len(toks), 4)
            ]
        for r in out:
            kept = [s for s in r.text.split(" ") if s]
            # accounting: spans kept + dropped == total spans
            n_kept_spans = len(
                [s for s in spans_in[r.doc_id] if s]
            ) - r.n_dropped_spans
            assert r.n_spans == len([s for s in spans_in[r.doc_id] if s])
            # kept text is a prefix-order subsequence of the input text
            it = iter([x for x in texts[r.doc_id].split(" ") if x])
            assert all(any(tok == x for x in it) for tok in kept)
            assert (r.n_spans - r.n_dropped_spans) == n_kept_spans
        # (strict second-pass idempotence is NOT asserted here: dropping
        # an early span shifts a doc's partial tail span, which can in
        # principle re-collide under re-splitting — the fixed-case
        # idempotence test covers the aligned common case)

    check()


def test_ngram_containment_catches_subset_duplication(spark):
    """A quote fully embedded in a long article: containment ≈ 1 from
    the quote's side, far below 1 from the article's side, while
    Jaccard stays too small for any symmetric threshold — the case
    this operator exists for. Values checked against an independent
    set computation."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    article = (
        "in a study of canine reflexes researchers observed that "
        + quote
        + " repeatedly while cameras recorded every leap across the "
        "garden fence near the old lighthouse on thursday afternoon"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, article), (3, "completely unrelated text here")],
        ["doc_id", "text"],
    )
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(df, n=3).collect()
    }

    def grams(t, n=3):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    gq, ga = grams(quote), grams(article)
    assert cont[(1, 2)] == round(len(gq & ga) / len(gq), 6)
    assert cont[(1, 2)] >= 0.85          # the quote is contained
    assert cont[(2, 1)] == round(len(gq & ga) / len(ga), 6)
    assert cont[(2, 1)] < 0.4            # the article is not
    assert not any(3 in p for p in cont) # no shared shingles, no pair
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=3).collect()
    }
    assert jac[(1, 2)] < 0.35            # symmetric score misses it
    # threshold pruning
    high = ngram_containment_pairs(df, n=3, min_containment=0.8).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in high} == {(1, 2)}


from hypothesis import HealthCheck, given, settings, strategies as st


@settings(
    max_examples=5, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    st.lists(
        st.lists(
            st.sampled_from("abcdefg"), min_size=3, max_size=12
        ).map(" ".join),
        min_size=2,
        max_size=6,
    )
)
def test_containment_properties_on_random_corpora(spark, texts):
    """Properties on random word soups: containment ∈ (0, 1]; the two
    directions agree on the intersection (c_ab·|A| == c_ba·|B|); and a
    document fully repeated inside another scores 1 from its side."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in ngram_containment_pairs(df, n=2).collect()
    }

    def grams(t):
        w = t.split()
        return {" ".join(w[i : i + 2]) for i in range(len(w) - 1)}

    sizes = {i: len(grams(t)) for i, t in docs}
    for (a, b), c in pairs.items():
        assert 0 < c <= 1
        inter_ab = c * sizes[a]
        c_ba = pairs[(b, a)]
        assert abs(inter_ab - c_ba * sizes[b]) < 1e-3


def test_incremental_exact_dedup_against_index(spark, tmp_path):
    """The daily-batch exact path: corpus collisions and in-batch
    collisions both reject with the right keeper; admitted texts grow
    the index; replaying the same batch ID reproduces the ORIGINAL
    admitted/duplicate split (self-matches scoped to the admitting
    batch are no-matches); a document RE-SENT under a NEW batch id is
    rejected (no re-admission); and the padded index still rejects
    genuinely new duplicates."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        append_to_exact_hash_index,
        build_exact_hash_index,
        exact_dedup_against_index,
    )

    table = "exact_idx_test"
    corpus = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        ["doc_id", "text"],
    )
    build_exact_hash_index(corpus, table, buckets=4)
    assert spark.table(table).count() == 2  # one row per distinct text

    batch = spark.createDataFrame(
        [
            (10, "alpha text"),   # corpus dup → keeper 1
            (11, "gamma text"),   # fresh
            (12, "gamma text"),   # in-batch dup → keeper 11
            (13, "delta text"),   # fresh
        ],
        ["doc_id", "text"],
    )
    admitted, dups = exact_dedup_against_index(
        spark, batch, table, batch_id=7
    )
    assert {r["doc_id"] for r in admitted.collect()} == {11, 13}
    keepers = {r["doc_id"]: r["keeper_id"] for r in dups.collect()}
    assert keepers == {10: 1, 12: 11}

    append_to_exact_hash_index(spark, admitted, table, batch_id=7)
    assert spark.table(table).count() == 4

    # at-least-once replay UNDER THE SAME BATCH ID: classification is
    # STABLE — the previously admitted rows re-admit (their corpus
    # keeper is themselves, admitted by this very batch), the
    # previously rejected rows re-reject with the same keepers
    again, dups2 = exact_dedup_against_index(
        spark, batch, table, batch_id=7
    )
    assert {r["doc_id"] for r in again.collect()} == {11, 13}
    assert {
        r["doc_id"]: r["keeper_id"] for r in dups2.collect()
    } == {10: 1, 12: 11}
    # the replayed append pads the index; padding must not multiply
    # probe matches nor admit a real duplicate
    append_to_exact_hash_index(spark, again, table, batch_id=7)
    adm3, dups3 = exact_dedup_against_index(
        spark,
        spark.createDataFrame([(20, "gamma text")], ["doc_id", "text"]),
        table,
        batch_id=8,
    )
    assert adm3.count() == 0
    assert {(r["doc_id"], r["keeper_id"]) for r in dups3.collect()} == {
        (20, 11)
    }
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_exact_dedup_ingest_rejects_resend_under_new_batch(spark):
    """The cross-batch re-admission hazard, closed: the same document
    (same id, same text) re-sent under a NEW batch id must classify as
    a duplicate of its own corpus copy — the self-match exemption is
    scoped to the admitting batch, so the same bytes can never land in
    two good-zone partitions. With batch_id=None the exemption is off
    entirely and even a same-run probe rejects."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        append_to_exact_hash_index,
        build_exact_hash_index,
        exact_dedup_against_index,
    )

    table = "exact_idx_resend_test"
    build_exact_hash_index(
        spark.createDataFrame([], "doc_id long, text string"),
        table,
        buckets=4,
    )
    doc = spark.createDataFrame([(11, "gamma text")], ["doc_id", "text"])
    admitted, dups = exact_dedup_against_index(
        spark, doc, table, batch_id=3
    )
    assert admitted.count() == 1 and dups.count() == 0
    append_to_exact_hash_index(spark, admitted, table, batch_id=3)

    # the upstream re-sends the SAME document in a LATER batch
    readm, redups = exact_dedup_against_index(
        spark, doc, table, batch_id=4
    )
    assert readm.count() == 0
    assert {(r["doc_id"], r["keeper_id"]) for r in redups.collect()} == {
        (11, 11)  # duplicate of its own corpus copy
    }

    # and with no batch tracking at all, the exemption never fires
    noadm, nodups = exact_dedup_against_index(spark, doc, table)
    assert noadm.count() == 0
    assert {(r["doc_id"], r["keeper_id"]) for r in nodups.collect()} == {
        (11, 11)
    }
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_cross_source_dup_matrix_exact_and_consistent_with_theta(spark):
    """Planted overlap: sources A/B share exactly 30 texts, C shares 2
    with A and none with B; exact counts and shares; and the theta
    screen's estimate on the same data agrees within its RSE (the
    screen-then-confirm workflow)."""
    from data_pipeline_project_using_telegram_and_aws_spark.operators.dedup import (
        cross_source_dup_matrix,
    )
    from data_pipeline_project_using_telegram_and_aws_spark.operators.sketches import (
        theta_ledger,
        theta_overlap_matrix,
    )

    rows = []
    did = 0
    for i in range(100):
        rows.append((did, f"text a {i}", "A")); did += 1
    for i in range(70, 130):  # 70-99 shared with A (30 texts)
        rows.append((did, f"text a {i}" if i < 100 else f"text b {i}", "B"))
        did += 1
    rows.append((did, "text a 0", "C")); did += 1
    rows.append((did, "text a 1", "C")); did += 1
    rows.append((did, "only c", "C")); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    mat = {
        (r["source_a"], r["source_b"]): r
        for r in cross_source_dup_matrix(docs).collect()
    }
    ab = mat[("A", "B")]
    assert ab["n_shared_texts"] == 30
    assert ab["share_of_a"] == 0.3  # 30 of A's 100 distinct texts
    assert ab["share_of_b"] == 0.5  # 30 of B's 60
    assert mat[("A", "C")]["n_shared_texts"] == 2
    assert ("B", "C") not in mat  # zero-overlap pairs have no row

    led = theta_ledger(
        docs.select(F.concat("text").alias("k"), "source"), "k",
        by=["source"],
    )
    est = {
        (r["group_a"], r["group_b"]): r["est_intersection"]
        for r in theta_overlap_matrix(led, "source").collect()
    }
    assert abs(est[("A", "B")] - 30) < 5  # small sets: theta ~exact
