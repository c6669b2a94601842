"""End-to-end corpus curation: the full training-data pipeline as one
composable plan.

``curate`` chains the tiers this package provides — span extraction,
quality gating, PII scrub, cross-corpus boilerplate strip, exact and
near duplicate removal — into the standard web-corpus curation flow
(the RefinedWeb/Gopher recipe re-expressed over the span model). One
DataFrame out, with per-doc verdict columns so the caller can either
take the survivors (``where(kept)``) or audit the drops
(``curation_report``). NB: the default configuration is NOT lazy — it
materializes its fan-out points and the near-dup leg runs
driver-paced label-propagation rounds; see ``curate``'s docstring for
the lazy subset.

Stage order and why:

1. extract (arrow kernel) — spans -> cleaned text; failures drop first.
   Opt-in ``fix_encoding=True`` repairs cp1252/latin-1 mojibake right
   here (row-local replace chain, zero shuffles) so the quality ratios
   and every later hash read the repaired text.
2. quality gate — word-count bounds + alphabetic ratio (cheap, row-
   local; prunes before anything that shuffles). Opt-in extensions in
   RefinedWeb order, both row-local and shuffle-free: C4 line-level
   cleaning (``c4_lines=True``, a text TRANSFORM — later stages hash
   the rewritten text) then the Gopher rule battery (``gopher=True``).
3. PII scrub — row-local regex chain; must precede dedup so redacted
   text is what gets hashed (two docs differing only in PII are dups).
4. boilerplate strip — corpus-level repeated-paragraph removal; must
   precede exact dedup (shared banners would otherwise mask identical
   bodies). Paragraph document-frequency is counted over DISTINCT
   content hashes so duplicate copies can't vote their own body over
   the threshold; ``boilerplate_min_docs`` should scale with corpus
   size in production (a corpus-share threshold), 2 is the floor.
5. (opt-in) repeated-substring removal — cross-corpus repeated token
   windows cut out of the text, doc kept (Lee et al. 2022 §4); token-
   space surgery, so it rewrites content as the tokenizer's word
   stream — off by default.
6. exact dedup — md5 group, keep min doc_id. Opt-in
   ``skeleton_harden=True`` keys the group on the UTS #39 confusable
   skeleton (``operators.confusables``) so homoglyph/zero-width
   evasion folds into the originals; output text stays untouched.
7. near dedup — MinHash LSH candidate pairs, verified at exact shingle
   Jaccard >= ``near_threshold`` -> connected components, keep the
   cluster minimum.

Every join in the chain keys on doc_id (uniform) or content hashes
(uniform by construction); the duplicate-survivor joins broadcast the
small side (only docs IN a duplicate group). At 100 TB the plan's
shuffles are: the extraction job's own salted exchange, one paragraph
hash count, one doc-id reassembly, the LSH band exchange, and the
label-propagation rounds — each keyed uniformly, none over raw spans
twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from rag_document_parser_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    paragraph_dedup,
    shingle_df,
)
from rag_document_parser_spark.operators.pii import PII_RULES, redact_pii
from rag_document_parser_spark.operators.repetition import (
    remove_repeated_windows,
    repeated_windows,
)
from rag_document_parser_spark.operators.textstats import (
    c4_line_filter,
    gopher_rules,
    license_exprs,
    quality_exprs,
)
from rag_document_parser_spark.plans.job import extract

SEP = "\n\n"


def curate(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
           min_words: int = 5, max_words: int = 100_000,
           min_alpha_ratio: float = 0.1, fix_encoding: bool = False,
           drop_restricted: bool = False,
           c4_lines: bool = False, gopher: bool = False,
           scrub_pii: bool = True,
           boilerplate_min_docs: int = 2,
           remove_repeated: bool = False, repeated_window: int = 20,
           repeated_min_docs: int = 2,
           skeleton_harden: bool = False,
           near_dup: bool = True, near_threshold: float | None = 0.8,
           lsh_k: int = 32, lsh_bands: int = 8,
           materialize: bool = True,
           broadcast_drops: bool = True) -> DataFrame:
    """Full curation pass over a ``(doc_id, spans)`` corpus.

    Returns one row per input document:
    ``(doc_id, route, title, content, n_pii, kept, reason)`` where
    ``content`` is the curated text (null for dropped docs), ``kept``
    marks survivors and ``reason`` names the FIRST stage that dropped
    the doc (``extract`` | ``quality`` | ``license`` | ``c4`` |
    ``gopher`` | ``empty`` | ``exact_dup`` | ``near_dup`` | null for
    kept).

    ``drop_restricted=True`` inserts the usage-rights gate
    (``textstats.license_exprs``) right after the cheap quality gate,
    reading the ORIGINAL extracted text (before the C4 line rewrite
    can drop a license footer line): documents carrying a rights
    signal that is not a permissive license (cc / public-domain /
    mit / apache) drop with reason ``license`` — the permissive-only
    corpus recipe. Row-local, zero shuffles.

    ``fix_encoding=True`` repairs cp1252/latin-1 mojibake in the
    extracted content before anything measures or hashes it — two docs
    differing only in encoding damage become exact duplicates.

    ``c4_lines=True`` inserts the C4 line-level clean
    (``textstats.c4_line_filter``) right after the cheap quality gate:
    lines are dropped INSIDE each document (the rewritten text is what
    every later stage — PII, boilerplate, dedup — sees and hashes) and
    docs failing the C4 document gate drop with reason ``c4``.
    ``gopher=True`` then applies the full Gopher rule battery
    (``textstats.gopher_rules``) to the post-C4 text — the RefinedWeb
    ordering (line-wise correction before document-wise filtering);
    failures drop with reason ``gopher``. Both stages are row-local
    projections threaded through ``passthrough`` columns — they add
    ZERO shuffles and land before the first localCheckpoint, so the
    checkpoint captures the final gated text.

    ``materialize=True`` (default) localCheckpoints the two fan-out
    points — the quality-scored content projection (post-extraction;
    the flattened text, not the heavier span arrays) and the
    post-boilerplate text. The
    curated plan references each of them from ~5 branches (quality
    projection, paragraph blacklist, exact-dup groups, LSH band self-
    join, final reassembly); without materialization every branch
    re-executes the extraction kernel, turning one logical pass into
    ~10 physical ones. On a real cluster substitute
    ``persist(StorageLevel.DISK_ONLY)`` or a checkpoint dir for the
    executor-local variant. ``materialize=False`` keeps a pure
    (action-free) plan ONLY with ``near_dup=False``: the near-dup leg's
    cluster resolution is inherently iterative (driver-paced rounds
    with checkpoints), so it executes the upstream chain at call time
    regardless — callers composing their own persistence should persist
    BEFORE calling curate, or disable the near-dup leg and run it
    themselves on the survivors.

    ``broadcast_drops=False`` drops the broadcast hints on the
    duplicate-survivor joins: they hold one row per dropped duplicate,
    which is tiny on clean corpora but scales with the corpus on raw
    web crawls (30-50% duplicates), where a forced broadcast would
    exhaust executor memory — degrade to shuffle joins there.
    """
    ext = extract(df, cfg)
    q = quality_exprs(F.col("content"))
    doc = ext.select(
        "doc_id", "route", "title", "success",
        F.array_join(F.col("spans_clean").getField("text"), SEP)
        .alias("content"),
    )
    if fix_encoding:
        from rag_document_parser_spark.operators.mojibake import (
            fix_mojibake_expr)
        # separate projection: content is a bound attribute before the
        # ~190-replace chain references it (SPARK-36718 discipline)
        doc = doc.select(
            "doc_id", "route", "title", "success",
            fix_mojibake_expr(F.col("content")).alias("content"))
    doc = doc.select(
        "*", q["n_words"].alias("_nw"), q["alpha_ratio"].alias("_ar"),
    )
    doc = doc.withColumn(
        "_base_q",
        F.col("_nw").between(min_words, max_words)
        & (F.col("_ar") >= min_alpha_ratio))
    if drop_restricted:
        # rights gate reads the ORIGINAL extracted text (before the C4
        # line rewrite can drop a license footer line); row-local
        # first-match marker scan over a staged lowercase attribute —
        # zero shuffles, lands before the checkpoint like every gate
        staged = doc.withColumn("_lic_lc", F.lower(F.col("content")))
        doc = (staged
               .withColumn("_license_ok",
                           license_exprs(F.col("_lic_lc"))["restricted"]
                           == 0)
               .drop("_lic_lc"))
    else:
        doc = doc.withColumn("_license_ok", F.lit(True))
    thru = ("route", "title", "success", "_nw", "_ar", "_base_q",
            "_license_ok")
    if c4_lines:
        c4 = c4_line_filter(doc, text_col="content", id_col="doc_id",
                            passthrough=thru)
        doc = c4.select(
            "doc_id", *thru, (F.col("keep") == 1).alias("_c4_ok"),
            # dropped docs re-read the ORIGINAL doc row for their
            # verdict, never this content — '' only keeps the gopher
            # leg's expressions null-free
            F.coalesce("clean_text", F.lit("")).alias("content"))
    else:
        doc = doc.withColumn("_c4_ok", F.lit(True))
    if gopher:
        g = gopher_rules(doc, text_col="content", id_col="doc_id",
                         passthrough=thru + ("_c4_ok", "content"))
        doc = g.select("doc_id", *thru, "_c4_ok",
                       (F.col("keep") == 1).alias("_gopher_ok"), "content")
    else:
        doc = doc.withColumn("_gopher_ok", F.lit(True))
    doc = doc.withColumn(
        "_quality",
        F.col("success") & F.col("_base_q") & F.col("_license_ok")
        & F.col("_c4_ok") & F.col("_gopher_ok"))
    if materialize:
        # checkpoint AFTER the content projection: the flattened text is
        # ~half the bytes of the spans_clean arrays it derives from, and
        # no downstream branch needs the arrays
        doc = doc.localCheckpoint()

    live = doc.where("_quality").select("doc_id", "route", "title",
                                        "content")
    if scrub_pii:
        red = redact_pii(live, text_col="content")
        n_pii = sum(F.col(f"n_{name}") for name, _, _ in PII_RULES)
        live = red.select("doc_id", "route", "title",
                          n_pii.cast("long").alias("n_pii"),
                          F.col("redacted").alias("content"))
    else:
        live = live.withColumn("n_pii", F.lit(0).cast("long"))

    # Boilerplate document-frequency is counted over DISTINCT content
    # hashes, not raw docs: a page mirrored 10^4 times must count as ONE
    # occurrence of its paragraphs, or the copies alone would push every
    # body paragraph over min_docs and the whole cluster would curate to
    # empty before exact dedup ever saw it. Side benefit at 100 TB: the
    # paragraph explode runs over unique contents only, and the cleaned
    # text fans back out through a uniform md5-keyed join.
    live_h = live.withColumn("_ch", F.md5("content"))
    uniq_content = live_h.select("_ch", "content").dropDuplicates(["_ch"])
    para = paragraph_dedup(uniq_content, text_col="content", id_col="_ch",
                           min_docs=boilerplate_min_docs, sep=SEP)
    live = (live_h.drop("content")
            .join(para.select("_ch", F.col("cleaned").alias("content")),
                  "_ch")
            .drop("_ch"))

    if remove_repeated:
        # Opt-in substring-level dedup (Lee et al. 2022 §4): excise
        # cross-corpus repeated token windows, keep the doc. Same
        # distinct-content-hash discipline as the paragraph stage —
        # mirrored copies count once toward repeated_min_docs, the
        # window explode runs over unique contents only, and the
        # cleaned text fans back out through a uniform md5-keyed join.
        # NOTE: surgery is in token space (lowercase word stream), so
        # downstream content is the tokenizer's rendering — which exact
        # and near dedup consume unchanged. Off by default for that
        # reason.
        live_h2 = live.withColumn("_ch", F.md5("content"))
        uniq2 = live_h2.select("_ch", "content").dropDuplicates(["_ch"])
        repw = repeated_windows(uniq2, text_col="content", id_col="_ch",
                                window=repeated_window,
                                min_docs=repeated_min_docs)
        cut = remove_repeated_windows(uniq2, repw, text_col="content",
                                      id_col="_ch",
                                      window=repeated_window)
        live = (live_h2.drop("content")
                .join(cut.select("_ch",
                                 F.col("cleaned").alias("content")),
                      "_ch")
                .drop("_ch"))

    live = live.withColumn("_empty", F.length("content") == 0)
    if materialize:
        live = live.localCheckpoint()

    body = live.where(~F.col("_empty"))
    dedup_col = "content"
    if skeleton_harden:
        # key the exact-dup stage on the UTS #39 confusable skeleton:
        # homoglyph-swapped / zero-width-salted copies fold into their
        # originals (reason stays exact_dup). Row-local projection —
        # zero extra shuffles; output content is untouched. Scoped to
        # the exact stage: the near-dup leg's shingle Jaccard already
        # absorbs a few rewritten tokens.
        from rag_document_parser_spark.operators.confusables import (
            skeleton as _skel)
        body = body.withColumn("_dtext", _skel(F.col("content")))
        dedup_col = "_dtext"
    groups = exact_dedup(body, text_col=dedup_col)
    exact_drop = (body.select(
        "doc_id", F.md5(F.col(dedup_col)).alias("content_hash"))
        .join(F.broadcast(groups), "content_hash")
        .where(F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id", F.lit(True).alias("_exact_dup")))

    if broadcast_drops:
        exact_drop = F.broadcast(exact_drop)
    flags = live.join(exact_drop, "doc_id", "left")
    if near_dup:
        uniq = (flags.where(~F.col("_empty")
                            & F.col("_exact_dup").isNull())
                .select("doc_id", "content"))
        pairs = minhash_lsh_pairs(uniq, text_col="content",
                                  k=lsh_k, bands=lsh_bands)
        if near_threshold is not None:
            # LSH emits CANDIDATES; without verification, docs sharing a
            # few template shingles (headers, signatures) band-collide at
            # true Jaccard ~0.5 and whole unrelated families collapse
            # into one cluster. Verify each candidate pair's EXACT
            # 3-shingle Jaccard before clustering — the pair list is
            # orders of magnitude smaller than the corpus, so the two
            # id-keyed joins are cheap, and `size(inter) >= thr *
            # size(union)` avoids a division (ints scale by one double,
            # bitwise-reproducible in the DuckDB oracle).
            # join ORDER matters at scale: the corpus-side shingle frame
            # is the big side, so (under broadcast_drops) it streams
            # through two BroadcastHash joins against the small
            # candidate list — `sh` is never shuffled on doc id; with
            # broadcast_drops=False both fall back to shuffle joins.
            # The small frames are CHECKPOINTED before broadcasting:
            # building a broadcast executes its plan uncached, so an
            # unmaterialized `pairs` would replay the whole LSH chain
            # once per broadcast (measured 5x the leg's cost). The
            # near-dup leg is action-bearing regardless (cluster
            # rounds), so this adds no new laziness caveat.
            pairs = pairs.localCheckpoint()
            # shingle_df, NOT word_shingles over a raw expression: the
            # tokenizer must be staged as a bound attribute or Catalyst
            # re-runs it once per gram (the repo's measured 4.5-6x trap)
            sh = shingle_df(uniq, "content", "doc_id", n=3)
            half = (sh.withColumnsRenamed({"id": "id_a",
                                           "shingles": "sh_a"})
                    .join(F.broadcast(pairs) if broadcast_drops else pairs,
                          "id_a")).localCheckpoint()
            pairs = (
                sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"})
                .join(F.broadcast(half) if broadcast_drops else half,
                      "id_b")
                .where(F.size(F.array_intersect("sh_a", "sh_b")) >=
                       F.lit(near_threshold) *
                       F.size(F.array_union("sh_a", "sh_b")))
                .select("id_a", "id_b"))
        clusters = dedup_clusters(pairs)
        near_drop = (clusters.where(F.col("id") != F.col("cluster_id"))
                     .select(F.col("id").alias("doc_id"),
                             F.lit(True).alias("_near_dup")))
        if broadcast_drops:
            near_drop = F.broadcast(near_drop)
        flags = flags.join(near_drop, "doc_id", "left")
    else:
        flags = flags.withColumn("_near_dup", F.lit(None).cast("boolean"))

    # verdicts assemble by UNION, not by a corpus×corpus re-join of the
    # extraction output against the survivor chain: route/title thread
    # through the PII/boilerplate stages (redact_pii passes them
    # through), so the dropped-at-quality rows are the only ones read
    # back from `doc` — no doc_id shuffle of the content payload
    reason = (F.when(F.col("_empty"), F.lit("empty"))
              .when(F.col("_exact_dup").isNotNull(), F.lit("exact_dup"))
              .when(F.col("_near_dup").isNotNull(), F.lit("near_dup")))
    kept_rows = flags.select(
        "doc_id", "route", "title",
        F.when(reason.isNull(), F.col("content")).alias("content"),
        F.col("n_pii").cast("long").alias("n_pii"),
        reason.isNull().alias("kept"), reason.alias("reason"))
    dropped = doc.where(~F.col("_quality")).select(
        "doc_id", "route", "title",
        F.lit(None).cast("string").alias("content"),
        F.lit(0).cast("long").alias("n_pii"),
        F.lit(False).alias("kept"),
        F.when(~F.col("success"), F.lit("extract"))
        .when(~F.col("_base_q"), F.lit("quality"))
        .when(~F.col("_license_ok"), F.lit("license"))
        .when(~F.col("_c4_ok"), F.lit("c4"))
        .otherwise(F.lit("gopher")).alias("reason"))
    return kept_rows.unionByName(dropped)


def curation_report(curated: DataFrame) -> DataFrame:
    """One-row-per-outcome audit: ``(outcome, n_docs, n_pii)`` where
    outcome is ``kept`` or the drop reason."""
    return (curated
            .select(F.coalesce("reason", F.lit("kept")).alias("outcome"),
                    "n_pii")
            .groupBy("outcome")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_pii").alias("n_pii"))
            .orderBy("outcome"))
