"""Similarity search over embedding columns (array<float>).

Two paths:

- ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query
  set against the corpus, dot products via ``F.zip_with`` +
  ``F.aggregate`` (JVM-side, codegen), per-query top-k via window
  ``row_number``. At 100 TB the corpus side stays partitioned; only the
  query set is broadcast, so there is no shuffle of the big side at all —
  the window shuffles candidate rows keyed by query id only after the
  similarity filter/projection has pruned columns.

- ``lsh_cosine_topk`` — the scale path: random-hyperplane (sign) LSH.
  Each vector gets a ``n_bits``-bit signature from deterministic,
  md5-seeded hyperplanes; candidates are corpus rows sharing a signature
  band with the query, re-ranked exactly. Probing multiple bands trades
  recall for candidate volume. Shuffle is keyed on (band, band-signature)
  — uniform by construction.

Hyperplanes are derived from md5 of (bit index, dimension index) so the
whole operator is deterministic with no RNG state and no driver-side
numpy materialization at scale (the plane table is a small broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from rag_document_parser_spark.operators.dedup import _shl, _shr


def _dot(a, b):
    # cast float32 → float64 BEFORE multiplying: exact widening, and the
    # left-fold sum is then bitwise-reproducible by DuckDB's list_reduce
    # over ::DOUBLE[] lists (the oracle relies on this)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity_col(a, b):
    # try_divide: a zero-norm (degenerate) vector yields NULL similarity
    # instead of an ANSI-mode DIVIDE_BY_ZERO task failure; NULLs sort
    # last under the descending rank, so degenerates simply never place.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def topk_per_query(scored: DataFrame, k: int, qid_col: str = "query_id",
                   id_col: str = "vec_id",
                   score_col: str = "cosine") -> DataFrame:
    """Scalable per-query top-k over a scored relation, two-stage.

    Stage 1 ranks within (query, *source partition*): each input partition
    contributes at most k candidate rows per query, so no task ever sorts
    more than its own partition's share (the naive single window shuffles
    the entire scored relation into one task per query — with 8 queries at
    100x data that is 8 straggler tasks each sorting ~n rows). Stage 2
    ranks the <= k * n_partitions * n_queries survivors per query — a
    bounded-size final sort regardless of corpus size. Results are
    identical to the single-window form: any global top-k row is also a
    top-k row of its own partition, so stage 1 never drops a winner
    (ties at the boundary break by ascending id in both stages, keeping
    the selection deterministic).

    Spark >= 3.5's InferWindowGroupLimit often inserts a partial group
    limit before the shuffle on its own, but that is an optimizer
    heuristic (off above ``spark.sql.window.group.limit.threshold``);
    this shape makes the bound structural.
    """
    staged = scored.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy(qid_col, "_pid").orderBy(
        F.desc(score_col), F.asc(id_col))
    cand = (staged.withColumn("_pr", F.row_number().over(w1))
            .where(F.col("_pr") <= k).drop("_pid", "_pr"))
    w2 = Window.partitionBy(qid_col).orderBy(F.desc(score_col), F.asc(id_col))
    return (cand.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "query_id") -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, embedding). Broadcast-joined against corpus.
    Returns (query_id, vec_id, cosine, rank), rank 1..k, ties broken by
    vec_id for determinism.
    """
    q = queries.select(F.col(qid_col), F.col(vec_col).alias("_qvec"))
    joined = corpus.select(id_col, vec_col).crossJoin(F.broadcast(q))
    scored = joined.select(
        qid_col, id_col,
        cosine_similarity_col(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    ).where(F.col(qid_col) != F.col(id_col))
    return topk_per_query(scored, k, qid_col, id_col).select(
        qid_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")


# Plane literals are CreateArray(_MAX_DIM literal nodes) x n_bits; big trees
# cost real driver-side planning time (512 → ~10s extra at 16 bits), so keep
# this just above the embedding dim. Dims beyond this need a broadcast plane
# table instead of literals.
_MAX_DIM = 128


def _plane_value(j: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1).

    md5('plane-0:'+j) → first 8 hex digits → uniform in [0,1) → shift/
    scale. Every step is exact in binary (division by 2^32, *2, -1), so
    this Python value is bitwise-identical to the same formula evaluated
    in Spark SQL or DuckDB — the oracle in ``__spark_entry__`` recomputes
    it independently and the signatures match exactly.
    """
    h = int(__import__("hashlib").md5(f"plane-0:{j}".encode()).hexdigest()[:8], 16)
    return h / 4294967296.0 * 2.0 - 1.0


def _plane_literal(bit: int):
    """The hyperplane for ``bit`` as a literal double array (precomputed on
    the driver — was an md5 per (bit, dim) per row per vector, now zero
    runtime hashing; component d is md5-derived from d + bit*10007)."""
    return F.lit([_plane_value(d + bit * 10007) for d in range(_MAX_DIM)])


def lsh_signature(vec, n_bits: int = 16):
    """Sign-LSH signature as an int (bit i = sign of <v, plane_i>).

    Vectors longer than ``_MAX_DIM`` fail loudly: the plane literal has
    only _MAX_DIM components, so a longer vector would get a null-padded
    dot product, every signature would collapse to 0, and all vectors
    would collide in every band (an O(n²) candidate blowup that also
    silently diverges from the full-dimension oracle). The conditional
    raise is seeded into the accumulator via when/otherwise with
    DIFFERING branches — an assert_true whose result feeds identical
    branches gets simplified away by SimplifyConditionals and never
    evaluates.
    """
    # NULL vectors pass through (signature 0, the pre-guard behavior);
    # only a genuinely oversized vector raises
    sig = F.when(
        vec.isNull() | (F.size(vec) <= F.lit(_MAX_DIM)),
        F.lit(0).cast("long")
    ).otherwise(F.raise_error(F.lit(
        f"lsh_signature supports dims <= {_MAX_DIM}; widen _MAX_DIM "
        "or use a broadcast plane table")).cast("long"))
    for b in range(n_bits):
        plane = F.slice(_plane_literal(b), 1, F.size(vec))
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(
            F.when(dot > 0, _shl(F.lit(1).cast("long"), F.lit(b)))
            .otherwise(F.lit(0).cast("long")))
    return sig


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             n_bits: int = 16, bands: int = 4) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: cosine >= threshold, id_a < id_b.

    The dedup tier for embedded corpora: sign-LSH banding proposes
    candidates (high-cosine pairs agree on many signature bits, so they
    collide in >=1 band with high probability), then the exact cosine
    filters. Shuffle keys are (band, band_val) — uniform by construction;
    never an O(n²) cross-join.
    """
    width = n_bits // bands
    mask = (1 << width) - 1
    staged = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        lsh_signature(F.col(vec_col), n_bits).alias("_sig"))
    banded = staged.select(
        "id", "v",
        F.posexplode_outer(  # outer: see lsh_cosine_topk note
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: _shr(F.col("_sig"), bi * width)
                .bitwiseAND(F.lit(mask)),
            )
        ).alias("band", "band_val"),
    ).where(F.col("band_val").isNotNull())
    a = banded.select("band", "band_val", F.col("id").alias("id_a"),
                      F.col("v").alias("va"))
    b = banded.select("band", "band_val", F.col("id").alias("id_b"),
                      F.col("v").alias("vb"))
    cand = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb")
        .distinct()
    )
    cos = cosine_similarity_col(F.col("va"), F.col("vb"))
    return (cand.where(cos >= threshold)
            .select("id_a", "id_b",
                    F.floor(cos * 1000000).cast("long").alias("cosine_e6")))


def semantic_decontaminate(corpus: DataFrame, eval_df: DataFrame,
                           threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           n_bits: int = 16, bands: int = 4) -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus documents
    whose embedding is near-identical (cosine >= threshold) to ANY
    eval-set embedding — the semantic complement of the n-gram
    ``repetition.decontaminate`` pass. Paraphrased or reformatted
    benchmark questions slip through shingle overlap; their embeddings
    don't (the Phi/GPT-4 technical-report decontamination recipe).

    Output one row per corpus vector: ``(id, n_candidates,
    max_cos_e6, contaminated)`` — ``n_candidates`` = eval vectors that
    collided in >=1 LSH band (0 → max_cos_e6 = 0), ``max_cos_e6`` =
    floor(1e6 · max candidate cosine), ``contaminated`` = the float
    max >= threshold (degenerate zero-norm vectors yield NULL cosine
    and never flag, the ``cosine_similarity_col`` convention).

    Scale shape: the eval set (benchmark-sized, thousands of rows)
    is sign-LSH banded and BROADCAST; the corpus bands in the scan
    projection and candidate-joins against it — the 100 TB corpus
    never shuffles at all, and exact cosine runs only on colliding
    pairs. Same recall character as ``embedding_near_dup_pairs``:
    a true near-dup missing every band is possible but exponentially
    unlikely in ``bands``; raise ``bands`` (or lower ``width``) for
    recall, the documented LSH trade.
    """
    width = n_bits // bands
    mask = (1 << width) - 1

    def banded(df, idn, vn):
        staged = df.select(
            F.col(id_col).alias(idn), F.col(vec_col).alias(vn),
            lsh_signature(F.col(vec_col), n_bits).alias("_sig"))
        return staged.select(
            idn, vn,
            F.posexplode_outer(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda bi: _shr(F.col("_sig"), bi * width)
                    .bitwiseAND(F.lit(mask)),
                )
            ).alias("band", "band_val"),
        ).where(F.col("band_val").isNotNull())

    ev = banded(eval_df, "eid", "ev")
    corp = banded(corpus, "id", "v")
    cand = (corp.join(F.broadcast(ev), ["band", "band_val"])
            .select("id", "v", "eid", "ev").distinct())
    cos = cosine_similarity_col(F.col("v"), F.col("ev"))
    hits = (cand.select("id", cos.alias("_cos"))
            .groupBy("id")
            .agg(F.count("*").cast("long").alias("n_candidates"),
                 F.max("_cos").alias("_mx")))
    base = corpus.select(F.col(id_col).alias("id")).distinct()
    return (base.join(hits, "id", "left")
            .select("id",
                    F.coalesce("n_candidates", F.lit(0)).cast("long")
                    .alias("n_candidates"),
                    F.coalesce(F.floor(F.col("_mx") * 1_000_000),
                               F.lit(0)).cast("long").alias("max_cos_e6"),
                    F.coalesce(F.col("_mx") >= F.lit(float(threshold)),
                               F.lit(False)).alias("contaminated")))


def _centroid_scores(vec, centroids: list[tuple[int, list[float]]]):
    """Per-centroid score structs (negscore, cid), one dot product each.

    Score = dot(vec, c) / ||c|| — the vector's own norm is a positive
    per-row constant, so dropping it preserves the argmax/ordering while
    halving the arithmetic; ||c|| is precomputed driver-side with the
    same left-fold + sqrt the oracle uses, so scores are bitwise
    reproducible. Each dot is evaluated exactly once (array-literal
    element expressions, not a fold lambda — Catalyst re-evaluates
    non-attribute subtrees per lambda element)."""
    import math

    structs = []
    for cid, cvec in centroids:
        cv = [float(x) for x in cvec]
        norm_c = math.sqrt(sum_left_fold([x * x for x in cv]))
        structs.append(F.struct(
            (-(_dot(vec, F.lit(cv)) / F.lit(norm_c))).alias("negscore"),
            F.lit(cid).alias("cid")))
    return F.array(*structs)


def sum_left_fold(xs: list[float]) -> float:
    """Explicit left-fold sum — bitwise-matches the engines' fold order."""
    acc = 0.0
    for x in xs:
        acc = acc + x
    return acc


def ivf_assignment(vec, centroids: list[tuple[int, list[float]]]):
    """Coarse-quantizer assignment: struct(cid) of the nearest centroid.
    Sorted by (negscore, cid) so ties keep the lowest id — the exact
    rule the DuckDB oracle replicates with (score DESC, cid ASC)."""
    return F.element_at(F.array_sort(_centroid_scores(vec, centroids)), 1)


def _unit(v: list[float]) -> list[float]:
    """Driver-side normalization with the engines' exact fold order."""
    import math

    nrm = math.sqrt(sum_left_fold([float(x) * float(x) for x in v]))
    return [float(x) / nrm for x in v] if nrm > 0 else [float(x) for x in v]


def train_kmeans(corpus: DataFrame, k: int = 8, iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 max_train_vectors: int = 1_000_000,
                 ) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd) over unit centroids — the offline
    trainer that feeds ``ivf_cosine_topk(centroids=...)``.

    Driver-paced iterations, the same round topology as
    ``dedup.dedup_clusters``: per round, ONE zero-shuffle assignment
    projection (centroids are broadcast literals, score = plain dot
    against unit centroids — no per-row division, no ANSI
    divide-by-zero surface) and ONE k-group aggregate; only k mean
    vectors ever reach the driver.

    Everything is bitwise-reproducible (the DuckDB oracle replays it
    exactly): init = the k lowest-id non-degenerate vectors; ties in
    assignment break to the lowest cid; cluster means fold members in
    id order (``sort_array(collect_list)``); normalization guards the
    zero vector; an empty cluster keeps its previous centroid.

    At scale the sorted-fold mean is the one concession to
    reproducibility: it collects each cluster's members into one
    aggregation buffer, so TRAIN ON A BOUNDED SAMPLE
    (``sampling.hash_sample`` of ~10^5-10^6 vectors — the standard IVF
    recipe), never the full corpus; assignment of the full corpus
    afterwards is the zero-shuffle projection and scales freely.
    ``max_train_vectors`` makes that contract STRUCTURAL (the
    ``overlap_from_sketches`` loud-fail discipline): the training set
    is counted before the first iteration and an oversized frame
    raises instead of OOMing an executor mid-fold — raise the budget
    deliberately or pre-sample.
    """
    def _ok(df):
        return df.where(F.col(vec_col).isNotNull()
                        & (_norm(F.col(vec_col)) > 0))

    vecs = _ok(corpus).select(
        F.col(id_col).alias("_i"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"))
    n_train = vecs.count()
    if n_train > max_train_vectors:
        raise ValueError(
            f"train_kmeans: {n_train} training vectors exceed "
            f"max_train_vectors={max_train_vectors}; the sorted-fold "
            "cluster mean collects each cluster's members into one "
            "aggregation buffer, so train on a bounded sample "
            "(sampling.hash_sample) and assign the full corpus "
            "afterwards — or raise max_train_vectors deliberately")
    seeds = vecs.orderBy("_i").limit(k).collect()
    if not seeds:
        raise ValueError("train_kmeans: no non-degenerate vectors")
    cents = [(i, _unit(list(r["_v"]))) for i, r in enumerate(seeds)]
    dim = len(cents[0][1])
    for _ in range(iters):
        structs = [F.struct((-_dot(F.col("_v"), F.lit(c))).alias("negsc"),
                            F.lit(cid).alias("cid"))
                   for cid, c in cents]
        assigned = vecs.select(
            "_i", "_v",
            F.element_at(F.array_sort(F.array(*structs)), 1)["cid"]
            .alias("_c"))
        grp = (assigned.groupBy("_c")
               .agg(F.sort_array(F.collect_list(
                        F.struct(F.col("_i").alias("i"),
                                 F.col("_v").alias("v")))).alias("ms"),
                    F.count("*").alias("n")))
        mean = F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda d: F.aggregate(
                "ms", F.lit(0.0),
                lambda acc, m: acc + F.element_at(m["v"], d)) / F.col("n"))
        means = {r["_c"]: list(r["m"])
                 for r in grp.select("_c", mean.alias("m")).collect()}
        cents = [(cid, _unit(means[cid]) if cid in means else c)
                 for cid, c in cents]
    return cents


def _lowest_id_centroids(corpus: DataFrame, n_centroids: int,
                         id_col: str, vec_col: str,
                         caller: str) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_centroids`` corpus vectors
    with the smallest ids (one tiny driver collect). A real deploy
    substitutes ``train_kmeans`` centroids; determinism is what lets the
    DuckDB oracle pin the operators exactly."""
    cents = [(r[0], list(r[1])) for r in
             corpus.select(id_col, vec_col)
             .where(F.col(id_col) < n_centroids)
             .orderBy(id_col).collect()]
    if not cents:
        # without this, _centroid_scores builds a zero-element F.array()
        # and the downstream struct-field access fails at analysis time
        # with an unrelated-looking error
        raise ValueError(
            f"{caller}: no corpus rows with {id_col} < "
            f"{n_centroids} to serve as centroids — the deterministic "
            f"coarse quantizer needs a 0-based id domain (ids "
            f"0..{n_centroids - 1} present and non-degenerate)")
    return cents


def semdedup(corpus: DataFrame, threshold: float = 0.95,
             n_centroids: int = 16, id_col: str = "vec_id",
             vec_col: str = "embedding",
             centroids: "list[tuple[int, list[float]]] | None" = None,
             max_pair_budget: "int | None" = 1_000_000_000,
             ) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings, then comparing pairs ONLY within a cluster.

    Returns one row per non-degenerate input vector:
    ``(id_col, cid, kept, dup_of)`` — ``kept`` is false iff some
    lower-id vector in the SAME cluster has cosine >= ``threshold``
    with it, and ``dup_of`` is the lowest such id (null when kept).
    Degenerate vectors (NULL / zero norm — cosine undefined) are
    excluded, like the other cosine operators here.

    Scale shape (what makes this tractable where all-pairs is not):

    - assignment is the zero-shuffle broadcast-literal projection shared
      with ``ivf_cosine_topk`` (centroids from ``train_kmeans`` on a
      bounded sample in production, the lowest-id vectors by default
      for oracle determinism);
    - the candidate join keys on the cluster id, so the comparison
      volume is Σ|cluster|² instead of n² — ``n_centroids`` is the
      knob (SemDeDup uses k ≈ n/10⁴..10⁵ so clusters stay in the
      thousands);
    - a STRUCTURAL guard, not a Spark-UI postmortem: before the
      quadratic join launches, one cheap ``groupBy(cid).count()``
      aggregate totals Σ|cluster|·(|cluster|−1)/2 and raises when it
      exceeds ``max_pair_budget`` (default 1e9 comparisons), naming
      the runaway cluster — the same loud-fail discipline as
      ``lsh_signature``'s oversized-vector guard. A mega-cluster
      (degenerate centroids, all-near-identical corpus) would
      otherwise silently re-create the all-pairs blowup this operator
      exists to avoid. The guard costs one extra corpus scan (the
      assignment projection is zero-shuffle, and the count agg prunes
      to the id/vec columns); ``max_pair_budget=None`` skips it and
      keeps the operator fully lazy;
    - the drop list (one row per DROPPED vector) is joined back
      broadcast, the corpus side never reshuffles.
    """
    def _ok(df):
        return df.where(F.col(vec_col).isNotNull()
                        & (_norm(F.col(vec_col)) > 0))

    corpus = _ok(corpus)
    cents = centroids if centroids is not None else \
        _lowest_id_centroids(corpus, n_centroids, id_col, vec_col,
                             "semdedup")
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col),
        ivf_assignment(F.col(vec_col), cents)["cid"].alias("cid"))
    if max_pair_budget is not None:
        sizes = (assigned.groupBy("cid")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)
                      .alias("pairs"),
                      F.max_by(F.struct("n", "cid"), "n").alias("top"))
                 .collect()[0])
        if sizes["pairs"] is not None and sizes["pairs"] > max_pair_budget:
            top = sizes["top"]
            raise ValueError(
                f"semdedup: within-cluster comparison volume "
                f"{int(sizes['pairs'])} pairs exceeds max_pair_budget="
                f"{max_pair_budget} (largest cluster: cid={top['cid']} "
                f"with {top['n']} vectors). Raise n_centroids, re-train "
                f"centroids on a representative sample, or raise/disable "
                f"the budget explicitly (max_pair_budget=None).")
    a = assigned.select(F.col("cid"), F.col(id_col).alias("_ida"),
                        F.col(vec_col).alias("_va"))
    b = assigned.select(F.col("cid"), F.col(id_col).alias("_idb"),
                        F.col(vec_col).alias("_vb"))
    cos = cosine_similarity_col(F.col("_va"), F.col("_vb"))
    dups = (a.join(b, "cid")
            .where(F.col("_idb") < F.col("_ida"))
            .where(cos >= threshold)
            .groupBy(F.col("_ida").alias(id_col))
            .agg(F.min("_idb").alias("dup_of")))
    return (assigned.select(id_col, "cid")
            .join(F.broadcast(dups), id_col, "left")
            .select(id_col, "cid",
                    F.col("dup_of").isNull().alias("kept"), "dup_of"))


def ivf_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    n_centroids: int = 16, nprobe: int = 4,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    qid_col: str = "query_id",
                    centroids: "list[tuple[int, list[float]]] | None" = None,
                    ) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the classic ANN scale path.

    Structure (what matters at 100 TB):
    - coarse quantizer: a small centroid set, broadcast as a literal;
      each corpus vector is assigned to its nearest centroid in ONE
      zero-shuffle projection (the posting-list partition key);
    - probe: each query scores the same centroid set and probes its
      ``nprobe`` nearest lists;
    - candidates: broadcast-join corpus assignments against the query
      probes on centroid id — the corpus side never shuffles;
    - exact cosine re-rank over candidates via the two-stage top-k.

    Centroid choice is DETERMINISTIC — the ``n_centroids`` corpus
    vectors with the smallest ids (one tiny driver collect). A real
    deploy trains k-means centroids offline; assignment, posting lists,
    probing, and re-rank — the parts that carry the scale — are
    identical, and determinism is what lets the DuckDB oracle pin this
    operator exactly. Recall < 1 by design (tune nprobe).

    Degenerate vectors (NULL or zero norm — cosine undefined) are
    excluded from both the index and the query set; the oracle applies
    the same filter, so NaN ordering semantics never come into play.
    """
    def _ok(df):
        return df.where(F.col(vec_col).isNotNull()
                        & (_norm(F.col(vec_col)) > 0))

    corpus = _ok(corpus)
    queries = _ok(queries)
    cents = centroids if centroids is not None else \
        _lowest_id_centroids(corpus, n_centroids, id_col, vec_col,
                             "ivf_cosine_topk")
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col),
        ivf_assignment(F.col(vec_col), cents)["cid"].alias("_cid"))
    probes = queries.select(
        F.col(qid_col), F.col(vec_col).alias("_qvec"),
        F.slice(F.array_sort(_centroid_scores(F.col(vec_col), cents)),
                1, nprobe).alias("_probes"))
    probes = probes.select(
        qid_col, "_qvec",
        F.explode(F.transform("_probes", lambda s: s["cid"])).alias("_cid"))
    cand = assigned.join(F.broadcast(probes), "_cid") \
                   .where(F.col(qid_col) != F.col(id_col))
    scored = cand.select(
        qid_col, id_col,
        cosine_similarity_col(F.col(vec_col), F.col("_qvec")).alias("cosine"))
    return topk_per_query(scored, k, qid_col, id_col).select(
        qid_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")


def lsh_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    qid_col: str = "query_id", n_bits: int = 16,
                    bands: int = 4) -> DataFrame:
    """Approximate top-k: candidates from LSH band collisions, exact re-rank.

    Recall < 1 by design; callers wanting guarantees use cosine_topk.
    """
    width = n_bits // bands
    mask = (1 << width) - 1

    def banded(df, idc):
        # signature staged as a bound attribute so the band explode reads
        # it instead of recomputing the 16 dot products per band
        staged = df.select(
            F.col(idc), vec_col,
            lsh_signature(F.col(vec_col), n_bits).alias("_sig"))
        return staged.select(
            F.col(idc), vec_col,
            F.posexplode_outer(  # outer: avoids InferFiltersFromGenerate
                F.transform(     # re-inlining _sig into pushed-down filters
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda bi: _shr(F.col("_sig"), bi * width)
                    .bitwiseAND(F.lit(mask)),
                )
            ).alias("band", "band_val"),
        ).where(F.col("band_val").isNotNull())

    c = banded(corpus, id_col)
    q = banded(queries, qid_col).withColumnRenamed(vec_col, "_qvec")
    cand = (
        c.join(F.broadcast(q), ["band", "band_val"])
        .where(F.col(qid_col) != F.col(id_col))
        .select(qid_col, id_col, vec_col, "_qvec")
        .distinct()
    )
    scored = cand.select(
        qid_col, id_col,
        cosine_similarity_col(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    return topk_per_query(scored, k, qid_col, id_col).select(
        qid_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
