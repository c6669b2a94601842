"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all DataFrame-native and shuffle-conscious:

- ``exact_dedup``      — md5 groupBy; one shuffle on the hash, map-side
                         partial aggregation for the counts.
- ``ngram_jaccard_pairs`` — word n-gram shingles → inverted-index self-join
                         on shingle → per-pair intersection counts →
                         Jaccard. The join is on the shingle key, so only
                         docs *sharing a shingle* ever pair (no O(n²)
                         cross-join); a document-frequency cap drops
                         stop-shingles that would blow up the join at scale.
- ``minhash_signatures`` / ``minhash_lsh_pairs`` — k md5-derived hash
                         functions → min per function → band buckets →
                         candidate pairs from bucket co-membership. The
                         only shuffle keys are (band, bucket-hash). Fully
                         deterministic (md5-based, seed-free) so the same
                         signature is computable in DuckDB for the oracle.
- ``simhash64``        — 64-bit SimHash over word shingles via bit-vote
                         aggregation, expressed with explode + groupBy
                         (map-side combinable); near-dup = hamming ≤ k over
                         band-blocked candidates.

At 100 TB: every operator here keys its shuffle on content-derived hashes
(uniform by construction — no skew salting needed), caps fan-out
explicitly (df_cap, band count), and never collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _shr(c, bits):
    # F.shiftright requires a Python int for numBits; call_function
    # accepts a Column (needed inside higher-order lambdas)
    return F.call_function("shiftright", c, bits)


def _shl(c, bits):
    return F.call_function("shiftleft", c, bits)

# --------------------------------------------------------------------------
# shared tokenization (must stay expressible in DuckDB for the oracle)
# --------------------------------------------------------------------------


def words(c: Column) -> Column:
    """Lowercased word tokens: split on non-alphanumeric runs, drop empties."""
    return F.filter(F.split(F.lower(c), "[^a-z0-9؀-ۿ]+"),
                    lambda t: t != "")


def word_shingles(c: Column, n: int = 3) -> Column:
    """Overlapping word n-grams joined by single spaces.

    NB 1: Spark's sequence(1, 0) *descends*; short docs must short-circuit
    to an empty array rather than produce a slice(…, 0, …) call.
    NB 2: ``c`` should be a *bound attribute* (a column projected in a
    previous select), not a raw expression: the tokenizer is referenced
    inside the per-gram lambda, and Catalyst re-evaluates non-attribute
    subtrees per element — O(grams) tokenizer runs (measured 4.5x slower).
    Prefer ``shingle_df`` which stages the projection correctly."""
    w = words(c)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.array_join(F.slice(w, i, n), " "),
    )
    return F.when(F.size(w) >= n, grams).otherwise(
        F.array().cast("array<string>"))


def shingle_df(df: DataFrame, text_col: str, id_col: str, n: int,
               distinct: bool = True, drop_empty: bool = False) -> DataFrame:
    """(id, shingles) with the tokenizer materialized as an attribute first.

    Two stacked projections: tokens, then grams over the *bound* token
    array. CollapseProject keeps them separate (non-cheap expression,
    multiple references — SPARK-36718), so the tokenizer runs once per row
    instead of once per gram.

    ``drop_empty`` filters short docs at the TOKEN stage (``size(w) >= n``
    ⇔ shingle count > 0). Never ``.where(size(shingles) > 0)`` on the
    result: PushDownPredicates would substitute the alias chain all the
    way to the scan, re-inlining the tokenizer into the per-gram lambda —
    the exact O(grams) blowup this staging exists to prevent (measured 6x).
    """
    toks = df.select(F.col(id_col).alias("id"),
                     words(F.col(text_col)).alias("w"))
    if drop_empty:
        toks = toks.where(F.size("w") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - (n - 1)),
        lambda i: F.array_join(F.slice("w", i, n), " "),
    )
    sh = F.when(F.size("w") >= n, grams).otherwise(
        F.array().cast("array<string>"))
    if distinct:
        sh = F.array_distinct(sh)
    return toks.select("id", sh.alias("shingles"))


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: keeper = min(id) per group.

    Returns (content_hash, n_dupes, keeper_id) for groups with n >= 2.
    Single shuffle on md5(text); partial agg runs map-side.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dupes"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_dupes") >= 2)
    )


# --------------------------------------------------------------------------
# n-gram Jaccard via inverted-index join
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        df_cap: int = 1000,
                        stage: bool = True) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold (id_a < id_b).

    Plan shape: explode per-row-distinct shingles carrying the doc's
    shingle count alongside (no separate sizes join); compute the
    over-cap stop-shingle blacklist with a map-side-combinable
    ``groupBy(shingle).count()`` and remove it with a BROADCAST anti-join
    (the blacklist is tiny by Zipf: only shingles with df > ``df_cap``);
    self-join on the surviving shingles; count co-occurrences per pair
    and Jaccard = inter/(|A|+|B|-inter).

    Skew note (why NOT a window): ``count(*) over (partition by
    shingle)`` has no partial aggregation — at web scale every row of a
    stop-shingle ("the quick brown" ≈ every doc) lands in ONE task's
    window buffer *before* the df filter can drop it, a straggler
    holding O(corpus) rows. The hash aggregate partially counts
    map-side, so the reducer sees at most one row per (task, shingle),
    and the broadcast anti-join never shuffles the exploded relation on
    the skewed key at all.

    ``stage=True`` (default) localCheckpoints the exploded relation once
    (the bpe/pagerank discipline), so the blacklist aggregate and both
    self-join legs read the materialized (id, n_sh, shingle) rows
    instead of re-running the tokenizer+explode chain per consumer —
    three plan references, one tokenization. The trade at 100 TB:
    executor-local storage of O(corpus tokens) narrow rows vs 3×
    CPU-bound re-tokenize; on a real cluster with preemptible executors
    substitute ``persist(StorageLevel.DISK_ONLY)`` (localCheckpoint
    blocks are lost with the executor). ``stage=False`` keeps the plan
    pure/action-free and re-tokenizes per consumer.
    """
    sh = shingle_df(df, text_col, id_col, n, drop_empty=True)
    # explode_OUTER on purpose: plain explode makes InferFiltersFromGenerate
    # add size()>0/isnotnull filters on the generator INPUT, and predicate
    # pushdown re-inlines the whole tokenizer chain into them (measured
    # ~10x). outer infers nothing; the cheap notnull on the generated
    # attribute below cannot be pushed past its own Generate.
    flat = sh.select("id", F.size("shingles").alias("n_sh"),
                     F.explode_outer("shingles").alias("shingle")) \
             .where(F.col("shingle").isNotNull())
    if stage:
        flat = flat.localCheckpoint()
    over_cap = (flat.groupBy("shingle")
                .agg(F.count("*").alias("df"))
                .where(F.col("df") > df_cap)
                .select("shingle"))
    flat = flat.join(F.broadcast(over_cap), "shingle", "left_anti")

    a = flat.select("shingle", F.col("id").alias("id_a"),
                    F.col("n_sh").alias("n_a"))
    b = flat.select("shingle", F.col("id").alias("id_b"),
                    F.col("n_sh").alias("n_b"))
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"),
             F.min("n_a").alias("n_a"), F.min("n_b").alias("n_b"))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.where(jac >= threshold)
        .select("id_a", "id_b", "inter", "n_a", "n_b",
                F.round(jac, 6).alias("jaccard"))
    )


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold_e6: int = 900_000,
                      df_cap: int = 1000,
                      stage: bool = True) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs — the subset/superset dups
    Jaccard structurally misses.

    Web corpora are full of one-sided near-dups: article vs
    article-plus-comments, post vs post-quoted-in-digest, page vs
    page-with-nav-wrapper. For a small doc A inside a 10× larger B,
    Jaccard = |A∩B|/|A∪B| ≈ 0.1 (invisible at any sane threshold)
    while containment(A) = |A∩B|/|A| = 1.0. This operator emits pairs
    where EITHER side's distinct-shingle set is >= ``threshold_e6``
    (fixed-point, per million) contained in the other's:
    ``(id_a, id_b, inter, n_a, n_b, cont_a_e6, cont_b_e6)`` with
    ``cont_x_e6 = 10^6 · inter div n_x`` — exact integer division, the
    oracle replays every value.

    Plan shape is ``ngram_jaccard_pairs``'s verbatim (per-row-distinct
    shingle explode carrying sizes, map-side df count + broadcast
    over-cap anti-join, shingle self-join, one pair-keyed count): only
    the final score expression differs, so the skew/staging analysis
    there applies unchanged — including the ``stage=True``
    localCheckpoint trade.
    """
    sh = shingle_df(df, text_col, id_col, n, drop_empty=True)
    flat = sh.select("id", F.size("shingles").alias("n_sh"),
                     F.explode_outer("shingles").alias("shingle")) \
             .where(F.col("shingle").isNotNull())
    if stage:
        flat = flat.localCheckpoint()
    over_cap = (flat.groupBy("shingle")
                .agg(F.count("*").alias("df"))
                .where(F.col("df") > df_cap)
                .select("shingle"))
    flat = flat.join(F.broadcast(over_cap), "shingle", "left_anti")

    a = flat.select("shingle", F.col("id").alias("id_a"),
                    F.col("n_sh").alias("n_a"))
    b = flat.select("shingle", F.col("id").alias("id_b"),
                    F.col("n_sh").alias("n_b"))
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("inter"),
             F.min("n_a").cast("long").alias("n_a"),
             F.min("n_b").cast("long").alias("n_b"))
    )
    cont_a = F.expr("inter * 1000000 div n_a")
    cont_b = F.expr("inter * 1000000 div n_b")
    return (inter
            .select("id_a", "id_b", "inter", "n_a", "n_b",
                    cont_a.cast("long").alias("cont_a_e6"),
                    cont_b.cast("long").alias("cont_b_e6"))
            .where(F.greatest("cont_a_e6", "cont_b_e6")
                   >= int(threshold_e6)))


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def _md5_long(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (DuckDB-replicable)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


M31 = 2 ** 31 - 1  # Mersenne prime modulus for the affine permutations


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       k: int = 32) -> DataFrame:
    """k-permutation MinHash signature per doc.

    hash_i(s) = (a_i * md5_60(s) + b_i) mod (2^31-1), with a_i, b_i
    themselves md5-derived from the permutation index — no RNG state, so
    signatures are reproducible anywhere (incl. the DuckDB oracle).
    Everything is per-row Catalyst (transform/aggregate over the shingle
    array): zero shuffles to produce signatures.

    The 31-bit Mersenne modulus is load-bearing, not a size tweak:
    base hashes are 31-bit, so an int64-safe multiplier into a 61-bit
    modulus wraps the product at most once, leaving the "permutation"
    near-MONOTONE in h — every slot then picks nearly the same argmin
    shingle and the slot-collision rate collapses toward 0/1 instead
    of estimating Jaccard (measured 0.34 on a planted J = 0.774 pair
    under the old 2^61−1 modulus). Mod 2^31−1 the product wraps ~2^31
    times and the estimator is unbiased; the collision-rate unit test
    pins this. Banded LSH inherits the fix: band collisions now fire
    per-band at rate J^r instead of rate ≈ [shared global-min
    shingle].
    """
    base = shingle_df(df, text_col, id_col, n, drop_empty=True)
    # hash each shingle ONCE (md5 is the expensive part), then apply the k
    # affine permutations over the cached longs — k× fewer md5 evaluations
    hashed = base.select(
        "id",
        F.transform("shingles",
                    lambda s: F.pmod(_md5_long(s), F.lit(M31))).alias("hs"),
    )

    def _perm(a, b):
        # NB: defaults in the lambda signature would change its arity for
        # pyspark's HOF binding — close over a/b via this factory instead.
        return lambda h: F.pmod(a * h + b, F.lit(M31))

    sig_cols = []
    for i in range(k):
        # a in [1, M31-1]: a = M31 would be ≡ 0 and zero out the slot
        a = F.pmod(_md5_long(F.lit(f"minhash-a-{i}")), F.lit(M31 - 1)) + 1
        b = F.pmod(_md5_long(F.lit(f"minhash-b-{i}")), F.lit(M31))
        sig_cols.append(
            F.array_min(F.transform("hs", _perm(a, b))).alias(f"mh_{i}"))
    return hashed.select("id", F.array(*sig_cols).alias("signature"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      k: int = 32, bands: int = 8,
                      bucket_cap: int | None = None) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    rows-per-band = k/bands; two docs collide if any band of their
    signatures is identical. Returns distinct (id_a, id_b) candidates.
    Shuffle keys: (band_idx, band-signature hash) — uniform by
    construction for a deduplicated corpus.

    ``bucket_cap`` (default None = exact semantics) is the skew valve
    for corpora that still carry mega duplicate groups: a group of N
    near-identical docs puts N rows under ONE (band, band_sig) key,
    making the self-join quadratic in N on a single shuffle partition.
    With a cap, band buckets holding more than ``bucket_cap`` docs are
    dropped by a map-side-combinable count + BROADCAST anti-join (the
    ``ngram_jaccard_pairs`` df_cap discipline — the exploded relation
    never shuffles on the hot key). Trade: pairs INSIDE a mega-bucket
    are only found through their other, smaller bands (or not at all) —
    acceptable because the exact-dup tier upstream owns identical-text
    groups; the cap bounds worst-case join work at N·bands·cap instead
    of N².

    Storage cost of the cap: the capped path ``localCheckpoint``s the
    whole banded relation (N·bands rows of ``(id, band, band_sig)``),
    eagerly at call time, so the signatures are built once for its
    three reads. Those rows sit in executor block storage (memory,
    spilling to local disk) until the returned plan is
    garbage-collected, and a lost executor loses them with no lineage
    to recompute from. The uncapped path materializes nothing.
    """
    r = k // bands
    sigs = minhash_signatures(df, text_col, id_col, n, k)
    banded = sigs.select(
        "id",
        F.posexplode_outer(  # outer: see ngram_jaccard_pairs note
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.array_join(
                    F.transform(F.slice("signature", bi * r + 1, r),
                                lambda x: x.cast("string")),
                    ","),
            )
        ).alias("band", "band_sig"),
    ).where(F.col("band_sig").isNotNull())
    if bucket_cap is not None:
        banded = banded.localCheckpoint()  # one signature build, 3 reads
        over = (banded.groupBy("band", "band_sig")
                .agg(F.count("*").alias("n"))
                .where(F.col("n") > bucket_cap)
                .select("band", "band_sig"))
        banded = banded.join(F.broadcast(over), ["band", "band_sig"],
                             "left_anti")
    a = banded.withColumnsRenamed({"id": "id_a"})
    b = banded.withColumnsRenamed({"id": "id_b"})
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens, pure Catalyst per-row.

    For each of 64 bit positions, vote +1/-1 per token by the token hash's
    bit; sign of the sum sets the output bit. Implemented as a per-row
    ``aggregate`` over the token array accumulating a 64-slot vote array —
    no explode, no shuffle. Token bits come from md5 nibbles (DuckDB-
    replicable); a throughput-tuned deploy could swap xxhash64 back in at
    the cost of oracle checkability.

    The md5 is materialized once per token, then its 16 hex nibbles are
    parsed once per token (16 conv calls) in their own projection stage;
    the 64-way bit vote then reads bits via shift/mask on the parsed
    nibble array. The naive form (conv(substring(md5..)) inside the bit
    lambda) costs 64 digest+parse evaluations per token — Catalyst
    re-evaluates non-attribute subtrees per lambda element.
    """
    toks = df.select(F.col(id_col).alias("id"),
                     words(F.col(text_col)).alias("w"))
    hashed = toks.select(
        "id", F.transform("w", lambda t: F.md5(t)).alias("hx"))
    nibbles = hashed.select(
        "id",
        F.transform(
            "hx",
            lambda h: F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda j: F.conv(
                    F.call_function("substring", h, j.cast("int"), F.lit(1)),
                    16, 10).cast("long"),
            ),
        ).alias("nb"),
    )
    votes = F.aggregate(
        F.col("nb"),
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, nb: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: F.when(
                    _shr(F.element_at(nb, (F.floor(i / 4) + 1).cast("int")),
                         F.pmod(i, F.lit(4))).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(-1).cast("long")),
            ),
            lambda a, v: a + v,
        ),
    )
    bits = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(63)),
            lambda v, i: F.when(v > 0, _shl(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return nibbles.select("id", bits.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split 64 bits into (max_hamming+1) bands; any pair
    within distance k must agree exactly on >=1 band, so candidates come
    from equi-joins on band values — never a cross-join.
    """
    sh = simhash64(df, text_col, id_col)
    return hamming_near_pairs(sh, id_col="id", sig_col="simhash",
                              max_hamming=max_hamming)


def hamming_near_pairs(sig: DataFrame, id_col: str = "id",
                       sig_col: str = "sig",
                       max_hamming: int = 3) -> DataFrame:
    """Generic pigeonhole banding over ANY 64-bit signature column:
    ``(id_a, id_b, hamming)`` for every pair with ``hamming(sig) <=
    max_hamming``. The kernel behind ``simhash_near_pairs`` (text) and
    ``multimodal.phash_near_pairs`` (perceptual image hashes) — split
    64 bits into (max_hamming+1) bands; any pair within distance k
    agrees exactly on >= 1 band (pigeonhole), so candidates come from
    equi-joins on band values, never a cross-join. Band keys are
    uniform for hash-like signatures; the verify step is one JVM
    ``bit_count(xor)``.
    """
    nb = max_hamming + 1
    width = 64 // nb
    banded = sig.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("_sig"),
        F.posexplode_outer(  # outer: see ngram_jaccard_pairs note
            F.transform(
                F.sequence(F.lit(0), F.lit(nb - 1)),
                lambda bi: _shr(F.col(sig_col), bi * width)
                .bitwiseAND(F.lit((1 << width) - 1)),
            )
        ).alias("band", "band_val"),
    ).where(F.col("band_val").isNotNull())
    a = banded.select("band", "band_val", F.col("id").alias("id_a"),
                      F.col("_sig").alias("sh_a"))
    b = banded.select("band", "band_val", F.col("id").alias("id_b"),
                      F.col("_sig").alias("sh_b"))
    pairs = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming) \
                .where(F.col("hamming") <= max_hamming) \
                .select("id_a", "id_b", "hamming")


# --------------------------------------------------------------------------
# cross-corpus paragraph dedup (boilerplate strip)
# --------------------------------------------------------------------------


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", sep: str = "\n",
                    min_docs: int = 2, min_len: int = 1,
                    broadcast_blacklist: bool = True) -> DataFrame:
    """Remove paragraphs that recur across >= ``min_docs`` documents.

    The RefinedWeb/Falcon boilerplate rule: a paragraph appearing
    verbatim in many documents (nav bars, cookie banners, license
    blurbs) is template noise, and EVERY occurrence is dropped — there
    is no "keeper" copy, unlike exact_dedup. Paragraphs shorter than
    ``min_len`` chars are never counted or removed.

    Returns ``(id_col, n_paragraphs, n_removed, cleaned)`` with
    ``cleaned`` the surviving paragraphs re-joined by ``sep`` in their
    original order.

    Plan at 100 TB: split is staged as a bound attribute then
    posexplode_outer'd (the _outer variant keeps
    InferFiltersFromGenerate from re-inlining the split into a pushed
    scan filter — see ngram_jaccard_pairs). The repeat counts are a
    ``groupBy(md5(paragraph))`` — map-side combinable, so a
    corpus-dominating banner paragraph partial-aggregates inside each
    task instead of flooding one reducer (the window-over-raw-rows
    anti-pattern this repo removed from Jaccard df). The over-threshold
    blacklist is tiny relative to the corpus and broadcast back
    (``broadcast_blacklist=False`` drops the hint if a pathological
    corpus makes it exceed executor memory, degrading to a shuffle
    join). The main data then shuffles once, on doc id, to reassemble.
    """
    paras = df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), sep, -1).alias("paras"),
    )
    ex = paras.select(
        "id", F.posexplode_outer("paras").alias("pos", "para")
    ).where(F.col("para").isNotNull())
    blacklist = (
        ex.where(F.length("para") >= min_len)
        .groupBy(F.md5("para").alias("ph"))
        .agg(F.count_distinct("id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("ph")
    )
    if broadcast_blacklist:
        blacklist = F.broadcast(blacklist)
    flagged = ex.join(
        blacklist, F.md5(F.col("para")) == F.col("ph"), "left"
    ).select("id", "pos", "para", F.col("ph").isNotNull().alias("dup"))
    kept = F.when(~F.col("dup"), F.struct("pos", "para"))
    return (
        flagged.groupBy("id")
        .agg(
            F.count("*").alias("n_paragraphs"),
            F.sum(F.col("dup").cast("long")).alias("n_removed"),
            F.concat_ws(
                sep,
                F.transform(F.array_sort(F.collect_list(kept)),
                            lambda s: s["para"]),
            ).alias("cleaned"),
        )
        .withColumnRenamed("id", id_col)
    )


# --------------------------------------------------------------------------
# near-dup pairs -> duplicate clusters (connected components)
# --------------------------------------------------------------------------


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b", max_iter: int = 15) -> DataFrame:
    """Resolve a near-dup pair list into duplicate clusters.

    Every dedup pair operator in this module emits *pairs*; a pipeline
    that keeps one representative per duplicate GROUP needs the
    transitive closure: ``(id, cluster_id)`` with ``cluster_id`` the
    minimum member id of the connected component. Keep rows where
    ``id == cluster_id`` (or anti-join the rest) to drop duplicates.

    Algorithm: iterative min-label propagation.  Each round every node
    takes ``min(own label, neighbours' labels)``; iteration stops when
    a round changes no label (checked via one small aggregate). Rounds
    needed = graph diameter — for dedup graphs (near-cliques from LSH
    buckets, short chains) a handful; ``max_iter`` hard-bounds
    adversarial chains and raises if hit, rather than returning a
    silently-unconverged labelling.

    At 100 TB: per round, one shuffle keyed on node id (uniform —
    content-hash-derived ids), map-side-combinable min aggregate, and a
    ``localCheckpoint`` to truncate the growing lineage so round N's
    plan does not replay rounds 1..N-1. The pair list is orders of
    magnitude smaller than the corpus (it only holds docs with a
    near-dup), so driver-side round control is cheap; the data itself
    never leaves executors.
    """
    a, b = F.col(id_a), F.col(id_b)
    # undirected: both directions, plus self-edges so isolated-in-one-
    # direction nodes keep a row through every round. Materialized ONCE:
    # every round joins edges, and without the checkpoint each round
    # would replay the whole upstream pair-derivation plan (LSH banding,
    # or in plans.curate the entire extract->quality->dedup chain).
    edges = (pairs.select(a.alias("src"), b.alias("dst"))
             .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
             .localCheckpoint())
    labels = (edges.groupBy("src").agg(F.min("dst").alias("mn"))
              .select(F.col("src").alias("id"),
                      F.least("src", "mn").alias("lab"))
              .localCheckpoint())
    for _ in range(max_iter):
        # neighbour labels: join edge dst -> label, take min per src
        neigh = (edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                 .groupBy(F.col("src").alias("id"))
                 .agg(F.min("lab").alias("nlab")))
        new_lab = F.least("lab", F.coalesce("nlab", "lab"))
        # carry the per-row change flag through the checkpoint so the
        # convergence probe is a filter over materialized rows, not a
        # second join against the previous round
        nxt = (labels.join(neigh, "id", "left")
               .select("id", new_lab.alias("lab"),
                       (new_lab < F.col("lab")).alias("chg"))
               .localCheckpoint())
        changed = nxt.where("chg").limit(1).count()
        labels = nxt.select("id", "lab")
        if changed == 0:
            return labels.select("id", F.col("lab").alias("cluster_id"))
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iter} rounds — "
        "raise max_iter (graph diameter exceeds it)")


def keep_best_per_cluster(docs: DataFrame, pairs: DataFrame,
                          score: Column, id_col: str = "doc_id",
                          max_iter: int = 15) -> DataFrame:
    """Duplicate-cluster resolution keeping the BEST member, not the
    arbitrary minimum id.

    ``dedup_clusters`` answers *which docs belong together*; a
    production pipeline then keeps ONE member per group — and the
    member worth keeping is the highest-quality one (most tokens, best
    quality score, newest crawl), not whichever content hash happened
    to sort lowest. Output: one row per clustered doc ``(id,
    cluster_id, best_id, kept)``. Docs in no pair never appear —
    anti-join the ``NOT kept`` ids against the corpus to apply.

    Deterministic: the winner maximizes ``(score, id)`` — exact score
    ties resolve to the LARGEST id, so among byte-identical crawl
    snapshots the newest wins.

    At 100 TB: the pair list (hence the cluster table) holds only docs
    that HAVE a near-dup — orders of magnitude smaller than the
    corpus. One uniform-key join brings the score onto cluster rows,
    one map-side-combinable ``max_by`` aggregate picks each winner (no
    window function: a window over ``cluster_id`` would sort a
    mega-cluster inside one task, while ``max_by`` partial-aggregates
    it across tasks), and one small join labels the members.
    """
    clusters = dedup_clusters(pairs, max_iter=max_iter)
    scored = docs.select(F.col(id_col).alias("id"), score.alias("_s"))
    member = clusters.join(scored, "id")
    best = (member.groupBy("cluster_id")
            .agg(F.max_by("id", F.struct(F.col("_s").alias("s"),
                                         F.col("id").alias("i")))
                 .alias("best_id")))
    return (member.join(best, "cluster_id")
            .select("id", "cluster_id", "best_id",
                    (F.col("id") == F.col("best_id")).alias("kept")))


def edit_verify_pairs(docs: DataFrame, pairs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      prefix: int = 2000,
                      min_sim_e6: int = 0) -> DataFrame:
    """Exact edit-distance verification of candidate near-dup pairs.

    Shingle Jaccard (and its MinHash/SimHash approximations) measures
    SET overlap — it misses the difference between "same words, one
    typo each sentence" and "same words, reshuffled". The classic
    verify stage for in-place-edit duplicates (plagiarized edits, CMS
    re-publications, OCR re-scans) is normalized Levenshtein over the
    candidate pairs an LSH stage already surfaced. Output per pair:
    ``(id_a, id_b, edit_dist, sim_e6)`` where ``sim_e6 = 1e6 −
    1e6·dist div max(len_a, len_b)`` (fixed-point, 1e6 = identical),
    filtered to ``sim_e6 >= min_sim_e6``.

    ``prefix`` caps the compared text (chars): Levenshtein is
    O(len_a·len_b) PER PAIR, so an uncapped giant pair would stall its
    task — 2000² single-char ops is the bounded worst case. Distances
    are over the capped prefixes; ``sim_e6`` normalizes by the capped
    lengths, so the metric stays a true [0, 1e6] similarity of what
    was compared.

    At 100 TB: runs only on the candidate list (orders of magnitude
    smaller than the corpus). Two uniform-key joins pull the prefixes
    onto the pairs; the distance itself is a JVM built-in
    (``F.levenshtein``) inside the join's codegen span — no Python.
    Note the JVM distance is CHARACTER-based (unicode-correct);
    byte-based twins (e.g. DuckDB's) agree only on ASCII.

    When ``min_sim_e6 > 0`` the DP is banded: a pair can only pass the
    filter if ``dist <= thr`` where ``thr = ((1e6 - min_sim_e6 + 1) *
    max_len - 1) div 1e6`` (exact integer inversion of the sim_e6
    floor-division), so the JVM's thresholded ``levenshtein(a, b, thr)``
    — O(thr·min_len) instead of O(len_a·len_b), returning -1 past the
    cap — computes the same kept rows at a fraction of the cell count,
    and a free ``|len_a - len_b| <= thr`` prefilter (dist is bounded
    below by the length difference) drops hopeless pairs before the DP
    runs at all. At min_sim 0 the unbanded full distance is kept, since
    every pair survives and its exact distance is the deliverable.
    """
    t = docs.select(F.col(id_col).alias("_eid"),
                    F.substring(F.col(text_col), 1, prefix).alias("_et"))
    j = (pairs
         .join(t.select(F.col("_eid").alias("id_a"),
                        F.col("_et").alias("_ta")), "id_a")
         .join(t.select(F.col("_eid").alias("id_b"),
                        F.col("_et").alias("_tb")), "id_b"))
    if min_sim_e6 > 0:
        # sim_e6 >= min ⟺ 1e6·d div L <= 1e6-min ⟺ d <= ((1e6-min+1)·L-1) div 1e6
        staged = j.select(
            "id_a", "id_b", "_ta", "_tb",
            F.expr(f"((1000000 - {int(min_sim_e6)} + 1)"
                   " * greatest(length(_ta), length(_tb), 1) - 1)"
                   " div 1000000").alias("_thr"))
        staged = staged.where(
            F.expr("abs(length(_ta) - length(_tb)) <= _thr"))
        dist = staged.select(
            "id_a", "id_b", "_ta", "_tb",
            F.expr("levenshtein(_ta, _tb, cast(_thr as int))")
            .cast("long").alias("edit_dist")).where(F.col("edit_dist") >= 0)
    else:
        dist = j.select("id_a", "id_b", "_ta", "_tb",
                        F.levenshtein("_ta", "_tb").cast("long")
                        .alias("edit_dist"))
    scored = dist.select(
        "id_a", "id_b", "edit_dist",
        F.expr("1000000 - edit_dist * 1000000"
               " div greatest(length(_ta), length(_tb), 1)")
        .cast("long").alias("sim_e6"))
    return scored.where(F.col("sim_e6") >= min_sim_e6)


def build_dedup_index(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      k: int = 32, bands: int = 8) -> DataFrame:
    """Long-format dedup index for cross-snapshot deduplication.

    One row per (doc, key): kind ``'exact'`` carries ``md5(text)``;
    kind ``'band'`` carries each of the doc's MinHash LSH band keys
    (``"{band}|{r comma-joined sig values}"``, same banding as
    ``minhash_lsh_pairs``). Persist this table once per accepted
    corpus; each new crawl/snapshot joins against it instead of
    re-deduplicating the union from scratch — the operation a rolling
    100 TB ingest actually runs (CommonCrawl-style snapshot N+1 vs
    the cumulative index).

    At 10^12 docs the index is (1 + bands) rows/doc of short strings —
    store it partitioned (bucketed) by ``key`` so the snapshot join is
    sort-merge without a fresh index-side shuffle. Key generation is
    scan-local: signatures are zero-shuffle (see minhash_signatures),
    the exact leg is one md5 projection.
    """
    r = k // bands
    exact = df.select(F.col(id_col).alias("id"),
                      F.lit("exact").alias("kind"),
                      F.md5(F.col(text_col)).alias("key"))
    band_keys = minhash_signatures(df, text_col, id_col, n, k).select(
        "id", F.lit("band").alias("kind"),
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bi: F.concat_ws(
                "|", bi.cast("string"),
                F.array_join(F.transform(F.slice("signature", bi * r + 1, r),
                                         lambda x: x.cast("string")),
                             ",")))).alias("key"))
    return exact.unionByName(band_keys)


def dedup_against_index(new_df: DataFrame, index: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, k: int = 32,
                        bands: int = 8) -> DataFrame:
    """Annotate a new snapshot against a prior corpus' dedup index.

    Returns one row per new doc: ``(id, exact_dup, near_dup, kept)``
    where ``exact_dup`` = its md5 already in the index, ``near_dup`` =
    any LSH band key collides with the index, ``kept`` = neither.
    ``new_df``'s keys are generated with the SAME (n, k, bands) the
    index was built with — mixing parameters silently finds nothing.

    Scale shape: the index side is first reduced to DISTINCT
    ``(kind, key)`` — a map-side-combinable aggregate — so a band key
    shared by millions of accepted docs becomes ONE join row: no skew
    regardless of boilerplate mass. The join key (md5 / band sig) is
    uniform by construction; the per-id wrap-up groupBy is keyed on
    the new batch's ids. Nothing ever pairs doc-vs-doc — the quadratic
    candidate step of within-corpus LSH is gone entirely, which is the
    point of indexing.
    """
    keys = build_dedup_index(new_df, text_col, id_col, n, k, bands)
    idx = (index.select("kind", "key").distinct()
           .withColumn("_hit", F.lit(1)))
    marked = keys.join(idx, ["kind", "key"], "left")
    hit = F.col("_hit").isNotNull()
    agg = marked.groupBy("id").agg(
        F.max(F.when((F.col("kind") == "exact") & hit, 1)
              .otherwise(0)).alias("_e"),
        F.max(F.when((F.col("kind") == "band") & hit, 1)
              .otherwise(0)).alias("_b"))
    return agg.select(
        "id", (F.col("_e") == 1).alias("exact_dup"),
        (F.col("_b") == 1).alias("near_dup"),
        ((F.col("_e") == 0) & (F.col("_b") == 0)).alias("kept"))


def cdc_blocks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", n: int = 3,
               divisor: int = 8) -> DataFrame:
    """Content-defined block segmentation (token-level CDC).

    Storage-style content-defined chunking (Muthitacharoen et al. 2001,
    LBFS) applied to word streams: a block break falls AFTER 0-based
    token position ``p`` whenever the word n-gram ENDING at ``p``
    hashes to ``0 mod divisor`` (60-bit md5, the tier's shared
    DuckDB-replicable hash). Because the boundary rule sees only a
    local token window, an identical passage embedded in two documents
    at DIFFERENT offsets segments into identical interior blocks —
    the offset-invariance fixed-width chunking loses after a single
    inserted word, and the reason CDC (not windowing) is what backup
    dedup systems use. Expected block length ~= ``divisor`` tokens.

    Output: one row per block — ``(id_col, block_id, block_hash,
    block_len)`` with ``block_hash = md5`` of the block's tokens
    joined by single spaces and ``block_id`` the block's 0-based
    position in the doc. Docs with no tokens produce no rows; docs
    shorter than ``n`` tokens are a single block.

    Scale shape: segmentation is pure array arithmetic (boundary
    positions folded as INDICES, block slices totalling O(tokens) per
    doc) inside the scan's codegen span — zero shuffles; only the
    final explode fans out, and each doc's block rows stay in the
    source row's partition.
    """
    toks = df.select(F.col(id_col).alias("id"),
                     words(F.col(text_col)).alias("toks")) \
             .where(F.size("toks") > 0)
    # 0-based end positions p of boundary-triggering n-grams
    bpos = F.when(
        F.size("toks") >= n,
        F.filter(F.sequence(F.lit(n - 1), F.size("toks") - 1),
                 lambda p: F.pmod(
                     _md5_long(F.array_join(
                         F.slice("toks", p - (n - 2), F.lit(n)), " ")),
                     F.lit(divisor)) == 0),
    ).otherwise(F.lit(None).cast("array<int>"))
    seg = toks.select(
        "id", "toks", F.coalesce(bpos, F.array().cast("array<int>"))
        .alias("bpos"))
    # block k spans tokens st[k]..en[k] (0-based, inclusive); a boundary
    # at the LAST token would open an empty trailing block — filtered
    st = F.concat(F.array(F.lit(0)), F.transform("bpos", lambda p: p + 1))
    en = F.concat(F.col("bpos"), F.array(F.size("toks") - 1))
    seg2 = seg.select("id", "toks", st.alias("st"), en.alias("en"))
    blocks = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size("st") - 1),
            lambda i: F.struct(
                i.alias("block_id"),
                (F.get("en", i) - F.get("st", i) + 1).alias("block_len"),
                F.array_join(
                    F.slice("toks", F.get("st", i) + 1,
                            F.get("en", i) - F.get("st", i) + 1),
                    " ").alias("btext"))),
        lambda b: b["block_len"] > 0)
    return seg2.select("id", F.explode(blocks).alias("b")).select(
        F.col("id").alias(id_col),
        F.col("b.block_id").cast("long").alias("block_id"),
        F.md5(F.col("b.btext")).alias("block_hash"),
        F.col("b.block_len").cast("long").alias("block_len"))


def cdc_block_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 3,
                    divisor: int = 8, min_docs: int = 2) -> DataFrame:
    """Per-doc shared-block mass via content-defined chunking.

    The block-level complement of ``repeated_windows``: instead of
    fixed-width token windows (every window of a shared passage
    repeats), CDC segments the corpus into variable-width blocks whose
    boundaries travel WITH the content, so a passage shared at
    different offsets still collapses to the same handful of block
    hashes — one row per shared block rather than one per window.
    Output one row per doc: ``(id_col, n_blocks, n_tokens, dup_tokens,
    dup_frac_e6)`` where ``dup_tokens`` is the token mass inside
    blocks appearing in >= ``min_docs`` distinct docs and
    ``dup_frac_e6 = dup_tokens * 1e6 div n_tokens``.

    Scale shape: the block table is staged once (``localCheckpoint``,
    the tier's ngram_jaccard discipline — segmentation is the
    expensive pass and feeds both the frequency aggregate and the
    join-back). Both shuffles key on uniform md5-derived values
    (``block_hash``), so no salting is needed; the per-doc rollup is
    map-side combinable.
    """
    blocks = cdc_blocks(df, text_col, id_col, n, divisor).localCheckpoint()
    freq = blocks.groupBy("block_hash").agg(
        F.countDistinct(id_col).alias("n_docs"))
    per = (blocks.join(freq, "block_hash")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.sum("block_len").cast("long").alias("n_tokens"),
                F.sum(F.when(F.col("n_docs") >= min_docs,
                             F.col("block_len")).otherwise(F.lit(0)))
                .cast("long").alias("dup_tokens")))
    return per.select(
        id_col, "n_blocks", "n_tokens", "dup_tokens",
        F.expr("dup_tokens * 1000000 div n_tokens").cast("long")
        .alias("dup_frac_e6"))


def soft_dedup_weights(docs: DataFrame, pairs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Soft deduplication: down-weight duplicates instead of dropping.

    Hard dedup (keep one member per cluster) throws away the signal
    that a document was independently published k times — and a
    threshold-crossing false positive silently deletes real content.
    The soft alternative keeps every doc but assigns a training weight
    of ``1/|cluster|`` so each duplicated *content* contributes one
    document's worth of gradient mass total. Output one row per doc:
    ``(id, cluster_id, csize, weight_e6)`` with fixed-point
    ``weight_e6 = 1e6 div csize`` (1e6 for singletons, whose
    cluster_id is their own id). Feed ``weight_e6`` to a weighted
    sampler (see sampling.weighted_sample) or loss-weighting.

    Scale shape: ``dedup_clusters`` bounds the label-propagation work
    by the PAIR table (≪ corpus); cluster sizes are one
    map-side-combinable groupBy on cluster_id; the singleton leg is a
    left-anti join on the uniform doc-id key. No step touches text.
    """
    cl = dedup_clusters(pairs)
    sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("csize"))
    member = (cl.join(sizes, "cluster_id")
              .select("id", "cluster_id", "csize",
                      F.expr("1000000 div csize").cast("long")
                      .alias("weight_e6")))
    singles = (docs.select(F.col(id_col).alias("id"))
               .join(cl.select("id"), "id", "left_anti")
               .select("id", F.col("id").alias("cluster_id"),
                       F.lit(1).cast("long").alias("csize"),
                       F.lit(1000000).cast("long").alias("weight_e6")))
    return member.unionByName(singles)


def plan_lsh_bands(threshold: float, k: int) -> dict:
    """Pick the banding for ``minhash_lsh_pairs`` from a target Jaccard.

    Banded LSH's candidate probability follows the S-curve
    ``P(s) = 1 - (1 - s^r)^b`` with ``k = b*r`` signature slots; its
    inflection sits near ``s* = (1/b)^(1/r)`` (Leskovec/Rajaraman/
    Ullman, Mining of Massive Datasets §3.4.3). Operators routinely
    hand-pick (b, r) and get a wall of false candidates (s* too low —
    the verify join explodes) or silent misses (s* too high). This
    planner enumerates the divisor pairs of ``k`` and returns the one
    whose s* lands closest to ``threshold``, plus the curve's value AT
    the threshold (the recall a just-at-threshold pair gets) so the
    caller can judge whether k itself is too small.

    Driver-side arithmetic over ~divisors-of-k candidates — nothing
    distributed; the output feeds ``minhash_lsh_pairs(k=, bands=)``.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1): {threshold}")
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    best = None
    for b in range(1, k + 1):
        if k % b:
            continue
        r = k // b
        s_star = (1.0 / b) ** (1.0 / r)
        p_at_t = 1.0 - (1.0 - threshold ** r) ** b
        cand = {"bands": b, "rows_per_band": r, "s_star": s_star,
                "p_candidate_at_threshold": p_at_t}
        if best is None or abs(s_star - threshold) < abs(
                best["s_star"] - threshold):
            best = cand
    return best
