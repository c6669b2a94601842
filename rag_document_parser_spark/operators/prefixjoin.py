"""Exact set-similarity join via prefix filtering (Chaudhuri, Ganti &
Kaushik 2006 "A Primitive Operator for Similarity Joins"; Xiao et al.
2008 PPJoin).

The dedup tier's third candidate-generation strategy, and the only
EXACT one: ``dedup.ngram_jaccard_pairs`` self-joins the full shingle
stream (every shared shingle produces a candidate row), and MinHash
LSH (``dedup.minhash_lsh_pairs``) is probabilistic — banding has a
recall curve, near-threshold pairs can be missed. Prefix filtering
keeps ZERO false negatives with a fraction of the join traffic:

    order every document's distinct shingles by one global canonical
    order; for Jaccard >= t a document only needs its first
    p = n - ceil(t*n) + 1 shingles in that order (the "prefix") —
    if two sets share NO prefix element, their overlap is provably
    < ceil(t*n) on both sides and Jaccard < t.

Only prefixes enter the self-join (at t = 0.8 that is ~20% of the
stream, quadratically fewer candidate rows); survivors are verified
with the exact Jaccard. All arithmetic is integer fixed-point
(``threshold_e6``, ceil via ``(e6*n + 999999) div 1e6``) so the DuckDB
oracle replays candidate generation and verification bit-for-bit.

Canonical order: the shingle's 60-bit md5 (ties impossible per doc —
shingles are per-doc distinct). The classic heuristic orders by
ascending document frequency (rarest first) to minimise candidates,
but computing it requires joining every (doc, shingle) row with a df
table — a shuffle keyed by the shingle, hot stop-shingles included,
exactly the funnel ``ngram_jaccard_pairs``' skew note exists to avoid.
The md5 order needs NO df pass, is skew-free by construction, and the
prefix GUARANTEE holds under any fixed total order (the df choice only
tightens the candidate count); at 10^12 docs that trade is the right
default, and a df-ordered variant can be layered on the same machinery
by swapping the sort key. A length filter (``t * max(|a|,|b|) <=
min(|a|,|b|)``) prunes candidates before verification.

Scale shape: per-doc ordering is one ``array_sort`` inside the scan
(O(n log n) over the doc's own shingles, no shuffle); the prefix
explode fans out p rows per doc; the self-join keys on shingle strings
whose per-key multiplicity the prefix already thinned — and because a
corpus-dominating boilerplate shingle appears in the PREFIX of only
the documents where it hashes into the first p positions, stop-shingle
funnels shrink instead of growing with df. Verification joins the
candidate pair list (already small) back to the full shingle stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rag_document_parser_spark.operators.dedup import _md5_long, shingle_df

__all__ = ["prefix_filter_pairs"]


def prefix_filter_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold_e6: int = 500_000,
                        stage: bool = True) -> DataFrame:
    """All pairs with shingle-set Jaccard >= ``threshold_e6/1e6``
    (``id_a < id_b``) — exactly ``ngram_jaccard_pairs``' answer set,
    produced from prefix candidates only.

    Returns ``(id_a, id_b, inter, n_a, n_b, jaccard_e6)`` with
    ``jaccard_e6 = inter * 1e6 div (n_a + n_b - inter)`` (truncating —
    the filter itself is the exact cross-multiplication, so a pair at
    the threshold boundary is decided without rounding).

    ``stage`` localCheckpoints the per-doc ordered shingle relation
    once so prefix generation and verification share one tokenizer
    pass (the ``ngram_jaccard_pairs`` staging discipline and the same
    100 TB storage-vs-CPU trade).
    """
    sh = shingle_df(df, text_col, id_col, n, drop_empty=True)
    ordered = sh.select(
        "id", F.size("shingles").alias("n_sh"),
        F.array_sort(F.transform(
            "shingles",
            lambda s: F.struct(_md5_long(s).alias("h"), s.alias("s"))))
        .alias("_o"))
    if stage:
        ordered = ordered.localCheckpoint()

    # p = n - ceil(t*n) + 1, integer-exact ceil
    p = (F.col("n_sh")
         - F.expr(f"({threshold_e6} * n_sh + 999999) div 1000000") + 1)
    pre = (ordered.select(
        "id", "n_sh",
        F.explode_outer(F.slice("_o", F.lit(1), p)).alias("_e"))
        .where(F.col("_e").isNotNull())
        .select("id", "n_sh", F.col("_e.s").alias("shingle")))

    a = pre.select("shingle", F.col("id").alias("id_a"),
                   F.col("n_sh").alias("n_a"))
    b = pre.select("shingle", F.col("id").alias("id_b"),
                   F.col("n_sh").alias("n_b"))
    cand = (a.join(b, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .where(F.expr(
                f"{threshold_e6} * greatest(n_a, n_b)"
                f" <= 1000000 * least(n_a, n_b)"))
            .select("id_a", "id_b", "n_a", "n_b")
            .distinct())

    # exact verification over the full shingle stream, candidates only
    full = (ordered.select(
        "id", F.explode_outer(F.transform("_o", lambda e: e.getField("s")))
        .alias("shingle"))
        .where(F.col("shingle").isNotNull()))
    fa = full.select(F.col("id").alias("id_a"), "shingle")
    fb = full.select(F.col("id").alias("id_b"), "shingle")
    inter = (cand.join(fa, "id_a")
             .join(fb, ["id_b", "shingle"])
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("inter"),
                  F.min("n_a").alias("n_a"), F.min("n_b").alias("n_b")))
    keep = F.expr(f"inter * 1000000"
                  f" >= {threshold_e6} * (n_a + n_b - inter)")
    return (inter.where(keep)
            .select("id_a", "id_b", F.col("inter").cast("long"),
                    F.col("n_a").cast("long"), F.col("n_b").cast("long"),
                    F.expr("inter * 1000000 div (n_a + n_b - inter)")
                    .cast("long").alias("jaccard_e6")))
