"""Corpus scaling-law statistics: Zipf rank-frequency fit and Heaps'
vocabulary-growth points — the datasheet-grade numbers every corpus
card reports (Zipf 1949; Heaps 1978; used e.g. in the Pile and C4
analyses). The reference has no corpus-statistics tier
(/root/reference/main.py:302-342 — per-run report totals only).

Zipf: term frequency ~ C · rank^(-s). The fit is an ordinary
least-squares line over (log2 rank, log2 freq) of the TOP-N head
(head-only fitting is the statistical standard — the tail bends away
from the power law — and it is also what bounds the integer
arithmetic). Logs are the same piecewise-linear INTEGER base-2 log as
``unigram.py`` (exact at powers of two, monotone, bit-identical in
Spark and DuckDB), here in e3 fixed point so the OLS sums stay inside
BIGINT: with N ≤ 4096 head points, x,y ≤ 5·10^4 e3-units (freq up to
2^50), so Σxy ≤ 10^13 and the scaled numerator ≤ 5·10^17 — headroom
documented per expression. The slope division is exact two-stage long
division (quotient in e3, then the remainder refined to e6), so both
engines agree bit-for-bit without a 128-bit intermediate.

Why ranks without a global sort: the term table aggregates map-side to
(term, freq); the DISTINCT-freq distribution (|distinct freq values|
= O(sqrt(total tokens)) rows) gets rank spans from ONE bounded window;
each span explodes locally back to (rank, freq) points. Terms within a
freq class share arbitrary rank order — immaterial, because OLS
consumes the (rank, freq) MULTISET, which is deterministic.

Heaps: V(n) ~ K·n^beta, evidenced as vocabulary-vs-token-mass points
over md5-ordered corpus prefixes (the ``sampling.py`` 60-bit md5
convention, engine-portable): prefix b = docs whose bucket < b; a
term's first appearance is its MIN bucket, so per-prefix vocabulary is
one uniform-key aggregate plus a window over n_buckets rows — the
corpus is scanned once and never shuffled on the doc key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from rag_document_parser_spark.operators.dedup import words

__all__ = ["term_freqs", "zipf_points", "zipf_fit", "heaps_points",
           "source_overlap", "source_sketch", "merge_source_sketches",
           "overlap_from_sketches", "term_distribution_distance",
           "vocab_richness"]

# piecewise-linear base-2 log in e3 fixed point (module docstring)
LOG2_E3 = ("((length(bin({n})) - 1) * 1000 + "
           "({n} * 1000 div shiftleft(1L, length(bin({n})) - 1)) "
           "- 1000)")


def term_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, freq): corpus term frequencies — one map-side-combined
    aggregate over the exploded token stream."""
    toks = df.select(words(F.col(text_col)).alias("_t"))
    return (toks.select(F.explode("_t").alias("term"))
            .groupBy("term").agg(F.count("*").cast("long").alias("freq")))


def zipf_points(df: DataFrame, text_col: str = "text",
                top_n: int = 1024) -> DataFrame:
    """(rank, freq) for the ``top_n`` most frequent terms, ranks 1-based
    with ties ordered arbitrarily inside a frequency class (the
    multiset is deterministic; see module docstring). The window runs
    over the distinct-frequency distribution, never over terms."""
    tf = term_freqs(df, text_col)
    dist = tf.groupBy("freq").agg(F.count("*").cast("long").alias("nt"))
    w = (Window.orderBy(F.col("freq").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    spans = dist.select(
        "freq", "nt", F.sum("nt").over(w).cast("long").alias("rend"))
    return (spans
            .withColumn("rstart", F.col("rend") - F.col("nt") + 1)
            .where(F.col("rstart") <= top_n)
            .select(F.explode(F.expr(
                f"sequence(rstart, least(rend, {int(top_n)}L))"))
                .alias("rank"), "freq")
            .select(F.col("rank").cast("long").alias("rank"), "freq"))


def zipf_fit(df: DataFrame, text_col: str = "text",
             top_n: int = 1024) -> DataFrame:
    """One-row OLS fit of the Zipf head: ``(n_head, n_types,
    neg_slope_e6, intercept_e3)`` — ``neg_slope_e6`` is the POSITIVE
    Zipf exponent s (freq ~ rank^-s) in e6 fixed point;
    ``intercept_e3`` the fitted log2-frequency at rank 1 in e3 units.

    Integer bounds (top_n ≤ 4096, freq < 2^50): x ≤ 1.2e4, y ≤ 5e4
    e3-units; den = n·Σx² − (Σx)² ≤ 2.4e14; the first-stage numerator
    (Σx·Σy − n·Σxy)·10³ ≤ 5e17 — all inside BIGINT, division stays on
    the truncate-toward-zero semantics both engines share.
    """
    tf = term_freqs(df, text_col)
    dist = tf.groupBy("freq").agg(F.count("*").cast("long").alias("nt"))
    wc = (Window.orderBy(F.col("freq").desc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = (Window.orderBy(F.col("freq").desc())
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    # n_types rides the same lineage (max cumulative count over the
    # distribution) — the corpus is tokenized exactly once
    spans = dist.select(
        "freq", "nt",
        F.sum("nt").over(wc).cast("long").alias("rend"),
        F.sum("nt").over(wall).cast("long").alias("tot"))
    pts = (spans
           .withColumn("rstart", F.col("rend") - F.col("nt") + 1)
           .where(F.col("rstart") <= top_n)
           .select(F.explode(F.expr(
               f"sequence(rstart, least(rend, {int(top_n)}L))"))
               .alias("rank"), "freq", "tot"))
    sums = pts.select(
        "tot",
        F.expr(LOG2_E3.format(n="rank")).cast("long").alias("x"),
        F.expr(LOG2_E3.format(n="freq")).cast("long").alias("y")
    ).agg(F.count("*").cast("long").alias("n"),
          F.max("tot").alias("n_types"),
          F.sum("x").cast("long").alias("sx"),
          F.sum("y").cast("long").alias("sy"),
          F.sum(F.expr("x * y")).cast("long").alias("sxy"),
          F.sum(F.expr("x * x")).cast("long").alias("sxx"))
    return (sums.select(
        F.col("n").alias("n_head"),
        "n_types",
        # two-stage exact long division: e3 quotient, remainder -> e6
        F.expr("""
          (sx * sy - n * sxy) * 1000 div nullif(n * sxx - sx * sx, 0)
            * 1000
          + ((sx * sy - n * sxy) * 1000
             - (sx * sy - n * sxy) * 1000
               div nullif(n * sxx - sx * sx, 0)
               * (n * sxx - sx * sx)) * 1000
            div nullif(n * sxx - sx * sx, 0)
        """).cast("long").alias("neg_slope_e6"),
        F.expr("""
          (sy + (sx * sy - n * sxy) * 1000
                div nullif(n * sxx - sx * sx, 0)
                * sx div 1000) div n
        """).cast("long").alias("intercept_e3")))


def heaps_points(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n_buckets: int = 8,
                 salt: str = "") -> DataFrame:
    """Vocabulary growth over md5-ordered corpus prefixes:
    ``(prefix_buckets, n_docs, n_tokens, n_types)`` — one row per
    prefix 1..n_buckets, cumulative. A term counts toward the first
    prefix that contains it (its MIN bucket); empty buckets still
    emit a row, so the shape is always ``n_buckets`` rows."""
    u = F.conv(F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
        1, 15), 16, 10).cast("long")
    toks = df.select((u % n_buckets + 1).cast("long").alias("b"),
                     words(F.col(text_col)).alias("_t"))
    per_doc = toks.groupBy("b").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum(F.size("_t")).cast("long").alias("tokens"))
    first_seen = (toks.select("b", F.explode("_t").alias("term"))
                  .groupBy("term").agg(F.min("b").alias("b"))
                  .groupBy("b").agg(F.count("*").cast("long")
                                    .alias("types")))
    frame = (df.sparkSession.range(1, n_buckets + 1)
             .select(F.col("id").alias("b")))
    w = (Window.orderBy("b")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (frame
            .join(per_doc, "b", "left").join(first_seen, "b", "left")
            .select("b",
                    F.coalesce("docs", F.lit(0)).alias("docs"),
                    F.coalesce("tokens", F.lit(0)).alias("tokens"),
                    F.coalesce("types", F.lit(0)).alias("types"))
            .select(F.col("b").cast("long").alias("prefix_buckets"),
                    F.sum("docs").over(w).cast("long").alias("n_docs"),
                    F.sum("tokens").over(w).cast("long")
                    .alias("n_tokens"),
                    F.sum("types").over(w).cast("long")
                    .alias("n_types")))


def source_overlap(df: DataFrame, text_col: str = "text",
                   source_col: str = "source", k: int = 128,
                   max_sources: int = 512) -> DataFrame:
    """Pairwise content-overlap matrix between sources via K-minimum-
    values sketches (Broder 1997 bottom-k; Beyer et al. 2007): for
    every unordered source pair, the estimated Jaccard similarity of
    their DISTINCT document-content-hash sets — the mixture-design
    signal for "these two crawls/domains are largely the same corpus".

    Per source the sketch is the k smallest 60-bit md5 content hashes;
    a pair's estimate is ``n_both · 1e6 div k'`` where k' is the size
    of the MERGED bottom-k of the two sketches and ``n_both`` counts
    merged-sketch members present in BOTH — the textbook KMV estimator,
    fully deterministic (md5, no RNG), so the DuckDB oracle reproduces
    every value. Output per pair ``(source_a, source_b, k_merged,
    n_both, jaccard_e6, docs_a, docs_b)`` with exact per-source
    distinct-hash counts for context; source_a < source_b.

    Scale shape: one distinct on the uniform (source, hash) pair; the
    bottom-k per source runs through ``topk_per_query``'s two-stage
    partial rank (a mega-source never sorts inside one task); from
    there everything is sketch-sized — at most ``n_sources · k`` rows
    — so the pairwise stage is quadratic only in the SOURCE count,
    never in documents. ``max_sources`` makes that budget structural:
    the pair frame is built from a counted sketch relation and raises
    before a quadratic blowup, the ``lsh_signature`` loud-fail
    discipline.
    """
    from rag_document_parser_spark.operators.dedup import _md5_long

    dh = (df.select(F.col(source_col).alias("source"),
                    _md5_long(F.col(text_col)).alias("h"))
          .distinct())
    cnt = dh.groupBy("source").agg(F.count("*").cast("long").alias("docs"))
    sk = source_sketch(df, text_col, source_col, k).localCheckpoint()
    est = overlap_from_sketches(sk, k, max_sources)
    return (est
            .join(cnt.withColumnRenamed("source", "source_a")
                  .withColumnRenamed("docs", "docs_a"), "source_a")
            .join(cnt.withColumnRenamed("source", "source_b")
                  .withColumnRenamed("docs", "docs_b"), "source_b")
            .select("source_a", "source_b", "k_merged", "n_both",
                    "jaccard_e6", "docs_a", "docs_b"))


def source_sketch(df: DataFrame, text_col: str = "text",
                  source_col: str = "source", k: int = 128) -> DataFrame:
    """Per-source KMV sketch: the ``k`` smallest distinct 60-bit md5
    content hashes, as ``(source, h)`` rows (< k rows for a source with
    fewer distinct documents).

    The sketch obeys the KMV MERGE LAW: ``bottom-k(A ∪ B) =
    bottom-k(bottom-k(A) ∪ bottom-k(B))`` — union-merge then re-trim
    equals the sketch of everything, regardless of how the corpus was
    split. That makes it the right bounded cross-batch state for the
    streaming face (``streaming.stream_source_sketch``, which applies
    this merge per micro-batch: Spark has no bottom-k aggregate its
    state store could hold) and for
    snapshot-over-snapshot accumulation: state is ≤ sources · k rows
    forever. Bottom-k runs through ``topk_per_query``'s two-stage
    partial rank, so a mega-source never sorts inside one task.
    """
    from rag_document_parser_spark.operators.dedup import _md5_long
    from rag_document_parser_spark.operators.similarity import (
        topk_per_query)

    dh = (df.select(F.col(source_col).alias("source"),
                    _md5_long(F.col(text_col)).alias("h"))
          .distinct())
    return (topk_per_query(
                dh.select("source", "h", (-F.col("h")).alias("_neg")),
                k, qid_col="source", id_col="h", score_col="_neg")
            .select("source", "h"))


def merge_source_sketches(a: DataFrame, b: DataFrame,
                          k: int = 128) -> DataFrame:
    """Union-merge two KMV sketch relations and re-trim to bottom-k per
    source (the merge law ``source_sketch`` documents). Sketch-sized
    input, sketch-sized output — never touches a corpus."""
    from rag_document_parser_spark.operators.similarity import (
        topk_per_query)

    u = a.unionByName(b).distinct()
    return (topk_per_query(
                u.select("source", "h", (-F.col("h")).alias("_neg")),
                k, qid_col="source", id_col="h", score_col="_neg")
            .select("source", "h"))


def overlap_from_sketches(sk: DataFrame, k: int = 128,
                          max_sources: int = 512) -> DataFrame:
    """The pairwise KMV estimate over an existing sketch relation
    ``(source, h)`` — ``source_overlap``'s second stage, callable
    directly against persisted/streamed sketch state. Returns
    ``(source_a, source_b, k_merged, n_both, jaccard_e6)``."""
    n_src = sk.select("source").distinct().count()
    if n_src > max_sources:
        raise ValueError(
            f"source_overlap: {n_src} sources exceed max_sources="
            f"{max_sources}; the pairwise matrix would hold "
            f"{n_src * (n_src - 1) // 2} rows — raise max_sources "
            "deliberately or pre-group sources")
    srcs = sk.select("source").distinct()
    pairs = (srcs.select(F.col("source").alias("a"))
             .crossJoin(srcs.select(F.col("source").alias("b")))
             .where(F.col("a") < F.col("b")))
    ua = (pairs.join(sk.withColumnRenamed("source", "a"), "a")
          .select("a", "b", "h", F.lit(1).alias("_ia"),
                  F.lit(0).alias("_ib")))
    ub = (pairs.join(sk.withColumnRenamed("source", "b"), "b")
          .select("a", "b", "h", F.lit(0).alias("_ia"),
                  F.lit(1).alias("_ib")))
    merged = (ua.unionByName(ub)
              .groupBy("a", "b", "h")
              .agg(F.max("_ia").alias("_ia"), F.max("_ib").alias("_ib")))
    w = Window.partitionBy("a", "b").orderBy(F.col("h").asc())
    bott = (merged.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k))
    est = (bott.groupBy("a", "b")
           .agg(F.count("*").cast("long").alias("k_merged"),
                F.sum(F.col("_ia") * F.col("_ib")).cast("long")
                .alias("n_both")))
    return est.select(F.col("a").alias("source_a"),
                      F.col("b").alias("source_b"),
                      "k_merged", "n_both",
                      F.expr("n_both * 1000000 div k_merged")
                      .cast("long").alias("jaccard_e6"))


def term_distribution_distance(a: DataFrame, b: DataFrame,
                               text_col: str = "text") -> DataFrame:
    """Exact total-variation distance between two corpora's unigram
    distributions: ``TV = ½·Σ_t |p_a(t) − p_b(t)|`` — the
    distribution-shape drift metric beside ``reporting.snapshot_drift``
     's count deltas (KL needs logs; TV is the log-free member of the
    same family and is exactly rational). One row: ``(total_a,
    total_b, n_types_a, n_types_b, n_shared_types, tv_e6)``; TV is 0
    for identical distributions, 1e6 for disjoint supports. Empty
    corpora yield NULL tv (no distribution to compare).

    Exact integer: over the common denominator,
    ``tv_e6 = Σ_t |c_a(t)·N_b − c_b(t)·N_a| · 1e6 div (2·N_a·N_b)``
    with every product in decimal(38,0) — exact to ~10¹² tokens per
    side. Scale shape: two map-side-combinable term-count aggregates,
    one full-outer join on the term TYPE key (one row per type, so a
    stopword is one row, not a hot partition), two 1-row broadcasts.
    """
    def counts(df, name):
        return (df.select(words(F.col(text_col)).alias("_t"))
                .select(F.explode_outer("_t").alias("term"))
                .where(F.col("term").isNotNull())
                .groupBy("term")
                .agg(F.count("*").cast("long").alias(name)))

    ca, cb = counts(a, "_ca"), counts(b, "_cb")
    j = ca.join(cb, "term", "full_outer").select(
        F.coalesce("_ca", F.lit(0)).alias("_ca"),
        F.coalesce("_cb", F.lit(0)).alias("_cb")).localCheckpoint()
    agg = j.agg(
        F.sum("_ca").cast("long").alias("total_a"),
        F.sum("_cb").cast("long").alias("total_b"),
        F.sum((F.col("_ca") > 0).cast("long")).cast("long")
        .alias("n_types_a"),
        F.sum((F.col("_cb") > 0).cast("long")).cast("long")
        .alias("n_types_b"),
        F.sum(((F.col("_ca") > 0) & (F.col("_cb") > 0)).cast("long"))
        .cast("long").alias("n_shared_types"))
    # second pass over the (type-sized) joined relation with the totals
    # as broadcast scalars; |ca·Nb − cb·Na| needs the totals first
    tv = (j.crossJoin(F.broadcast(agg))
          .agg(F.sum(F.expr(
              "abs(cast(_ca as decimal(38,0)) * total_b"
              " - cast(_cb as decimal(38,0)) * total_a)"))
              .alias("_s"))
          .select(F.col("_s")))
    return (agg.crossJoin(F.broadcast(tv))
            .select("total_a", "total_b", "n_types_a", "n_types_b",
                    "n_shared_types",
                    F.when((F.col("total_a") > 0)
                           & (F.col("total_b") > 0),
                           F.expr("cast(_s * 1000000"
                                  " div (cast(total_a as decimal(38,0))"
                                  " * 2 * total_b) as bigint)"))
                    .alias("tv_e6")))


def vocab_richness(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unseen-vocabulary estimators from the frequency-of-frequencies
    table — the corpus-linguistics answer to "how much vocabulary has
    this crawl NOT seen yet", complementing ``heaps_points``' growth
    curve. One row: ``(n_tokens, n_types, f1, f2, p_unseen_e6,
    chao1_est)`` where

    - ``p_unseen_e6`` is the Good-Turing missing-mass estimate
      ``f1 · 1e6 div N`` (Good 1953): the probability the next token
      is a brand-new type;
    - ``chao1_est`` is the bias-corrected Chao1 lower bound on total
      vocabulary, ``V + f1·(f1−1) div (2·(f2+1))`` (Chao 1984; the
      +1 form is defined even with no doubletons).

    Exact integer throughout (f1² ≤ V² — decimal widening at ~3·10⁹
    singleton types, far past any vocabulary). Scale shape: one term
    count, one count-of-counts aggregate over the type-sized relation,
    one final 1-row fold — the ``zipf_fit`` lineage discipline.
    """
    tf = term_freqs(df, text_col)
    dist = tf.groupBy("freq").agg(F.count("*").cast("long").alias("nt"))
    agg = dist.agg(
        F.coalesce(F.sum(F.expr("freq * nt")), F.lit(0)).cast("long")
        .alias("n_tokens"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("n_types"),
        F.coalesce(F.sum(F.when(F.col("freq") == 1, F.col("nt"))),
                   F.lit(0)).cast("long").alias("f1"),
        F.coalesce(F.sum(F.when(F.col("freq") == 2, F.col("nt"))),
                   F.lit(0)).cast("long").alias("f2"))
    return agg.select(
        "n_tokens", "n_types", "f1", "f2",
        F.when(F.col("n_tokens") > 0,
               F.expr("f1 * 1000000 div n_tokens"))
        .cast("long").alias("p_unseen_e6"),
        F.expr("n_types + f1 * (f1 - 1) div (2 * (f2 + 1))")
        .cast("long").alias("chao1_est"))
