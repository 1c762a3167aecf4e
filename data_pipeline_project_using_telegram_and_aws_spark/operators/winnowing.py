"""Winnowing document fingerprints (rolling character k-gram hashes →
window minima) — the MOSS/Schleimer-Wilkerson-Aiken local fingerprinting
scheme: guaranteed to detect any shared substring of length
``k + window - 1``, robust to insertions/reordering around the match
(unlike whole-document hashing, whose fingerprint changes if one byte
does — cf. ``plans/text_queries.tx4``).

Spark shape: explode k-gram *positions* (codegen'd ``substring``
projections, same pattern as ``dedup.shingle_rows``), hash each gram,
take the running minimum over a ``window``-wide frame per document, and
keep the distinct minima. One explode + one per-doc window + one
distinct — linear in corpus size, shuffles keyed by doc id only.

The hash is an md5-prefix integer, so the whole scheme is reproducible
in ANSI SQL if a fingerprint oracle is ever registered; a true rolling
polynomial hash (Rabin-Karp) would save the per-gram md5 at the cost of
engine-specific arithmetic — the md5 form is the deliberate trade, and
the gram recomputation stays inside whole-stage codegen anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, fingerprint) — distinct winnowed fingerprints per document.

    ``fingerprint`` is the md5-prefix integer of a selected character
    k-gram. Documents shorter than ``k`` chars yield no rows. Any two
    documents sharing a substring of ``k + window - 1`` chars share at
    least one fingerprint — the guarantee plagiarism/near-dup detection
    builds on; match candidates come from an equi-join on the
    fingerprint column (inverted index, same scale shape as dd2)."""
    n_positions = F.length(F.col(text_col)) - k + 1
    pos = F.when(
        n_positions >= 1, F.sequence(F.lit(1), n_positions)
    ).otherwise(F.array().cast("array<int>"))
    gram_hash = F.conv(
        F.substring(
            F.md5(F.substring(F.col(text_col), F.col("__p"), k).cast("binary")),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    grams = df.select(F.col(id_col), F.col(text_col), F.explode(pos).alias("__p")).select(
        F.col(id_col), F.col("__p"), gram_hash.alias("__h")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("__p")
        .rowsBetween(0, window - 1)
    )
    return (
        grams.select(F.col(id_col), F.min("__h").over(w).alias("fingerprint"))
        .distinct()
    )


def fingerprint_overlap(
    fps: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """All-pairs fingerprint overlap via the inverted index: (doc_a,
    doc_b, common, overlap) where overlap = common / min(|a|, |b|) — the
    containment-style score plagiarism detection ranks by. Join meets
    only docs sharing a fingerprint (never a cross join).

    The sized fingerprint rows are hash-partitioned by ``fingerprint``
    once and both join sides select from that one exchange, so AQE
    reuses it: the k-gram md5s, the winnowing window and the size
    window run once per call, and the join needs no further exchange."""
    sized = fps.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    ).repartition("fingerprint")
    a = sized.select(
        F.col(id_col).alias("doc_a"), F.col("__n").alias("size_a"), "fingerprint"
    )
    b = sized.select(
        F.col(id_col).alias("doc_b"), F.col("__n").alias("size_b"), "fingerprint"
    )
    return (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .select(
            "doc_a",
            "doc_b",
            "common",
            F.round(
                F.col("common") / F.least("size_a", "size_b"), 4
            ).alias("overlap"),
        )
    )
