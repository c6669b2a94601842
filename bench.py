"""Benchmark harness — one JSON line on stdout.

Headline metric: extraction throughput (documents/sec) through the full
batch job (salted repartition → Arrow kernel → parquet write + lineage),
per BASELINE.json. Secondary timings cover the pre-bucketed job and the
training-data operator families (dedup, simhash, similarity, textstats).

Env:
  SPARK_GRAFT_SF_DIR  input dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local cores (default 32)
  BENCH_MULT          corpus multiplier for the extract job (default 10)

Usage: python bench.py            → one JSON line
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# mult=40 (200k docs): at mult=10 the ~5s job is dominated by fixed
# driver costs (commit, lineage tail) and VM noise; 4x the corpus makes
# the headline measure sustained throughput instead
MULT = int(os.environ.get("BENCH_MULT", "40"))
# BENCH_ONLY=1 → run only the headline extraction job (the scaling runner
# uses this to time the same job at two parallelism levels)
ONLY_EXTRACT = os.environ.get("BENCH_ONLY", "") == "1"
# repetitions of the headline job (best-of-N); scaling runs use 1 at a
# large enough mult that fixed driver costs (commit, lineage tail) are
# amortized and a single timing is stable. At the default mult=10 the
# job is short enough (~5 s) that C2 JIT keeps improving it for several
# repetitions — measured monotone 8.2→4.1 s across 6 reps — so the
# default is 5 full-size reps after a full-size warmup.
REPS = int(os.environ.get("BENCH_REPS", "5"))
# repetitions of every secondary query (best-of-N). Round-3 single-shot
# timings made unchanged code look 1.6-2.1x slower purely from VM
# interference bursts; 3 reps with min + the full rep list keeps noise
# out of the headline numbers while still exposing the spread.
QREPS = int(os.environ.get("BENCH_QREPS", "3"))


def heap_mb() -> int:
    """A quarter of the available RAM, between 1 GiB and the 16 GiB the
    round-5 machine ran with: a pinned heap larger than the box fails at
    start-up, and the Python workers need the rest. Every result line
    records it, since timings move with the heap."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return max(1024, min(16384, int(line.split()[1]) // 4096))
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from rag_document_parser_spark.corpus import spans_df_from_documents
    from rag_document_parser_spark.operators import dedup as D
    from rag_document_parser_spark.operators import repetition as R
    from rag_document_parser_spark.operators import sampling as SAM
    from rag_document_parser_spark.operators import similarity as V
    from rag_document_parser_spark.operators import textstats as T
    from rag_document_parser_spark.plans import job as J

    heap = heap_mb()
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.driver.memory", f"{heap}m")
        # pinned + pre-touched heap: a growable heap causes kernel-time
        # storms (page zeroing) with many concurrent tasks → 10x variance
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}m -XX:+AlwaysPreTouch")
        .config("spark.sql.adaptive.enabled", "true")
        # shuffle/spill files on tmpfs: the sandbox's one virtio disk is a
        # local artifact that a real cluster's NVMe/disaggregated shuffle
        # would not impose
        .config("spark.local.dir", "/dev/shm/spark-local"
                if os.path.isdir("/dev/shm") else "/tmp")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # v2 committer: task files move to the destination at task commit
        # instead of a serial driver-side merge at job commit — the fixed
        # commit cost is the main non-scaling term of the partitioned sink
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
                "2")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .appName("bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_base = docs.count()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    timings: dict[str, float] = {}
    rep_detail: dict[str, list[float]] = {}

    def timed(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    def timed_reps(name: str, fn, reps: int = QREPS):
        """Best-of-N per query: timings[name] = min, rep_detail[name] =
        every rep (so a noisy VM burst is visible, not just absorbed).
        A gc.collect() between queries releases py4j DataFrame refs so
        the ContextCleaner can drop localCheckpoint blocks — otherwise
        every checkpointing query (clusters, bpe, semdedup, ivf) leaves
        blocks pinned in the shared driver heap and later queries pay the
        eviction pressure."""
        import gc

        walls = []
        out = None
        for _ in range(max(reps, 1)):
            t0 = time.perf_counter()
            out = fn()
            walls.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(walls)
        rep_detail[name] = walls
        gc.collect()
        return out

    # warm the JVM + the FULL python-worker pool (excluded from timings):
    # a narrow warmup only spawns workers for the partitions it touches,
    # leaving the timed job to pay ~CPUS cold worker starts (pyarrow+numpy
    # import is ~1-2s per worker). Run a full-width mini job instead.
    # warmup at the benched mult (capped at 10): smaller warmups (mult=1,
    # mult=3) left the first timed reps paying residual C2 JIT for the
    # larger plan (observed 2x on rep 1 vs rep 3, still monotone through
    # rep 6). The cap keeps scaling runs (mult 300-800, BENCH_REPS=1)
    # from paying a full-size extra pass — their timed job is minutes
    # long, so JIT warms inside the measurement noise there anyway.
    warm_dir = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        J.run_job(spark,
                  spans_df_from_documents(spark, SF_DIR, mult=min(MULT, 10)),
                  warm_dir, resume=False)
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)

    # -- headline: full batch job, Arrow kernel, write + lineage ------------
    # Sink on tmpfs by default: the sandbox has ONE virtio disk, so parquet
    # commit bandwidth is fixed regardless of cores — a local artifact that
    # would mask compute scaling (a real cluster writes to parallel object
    # storage). tmpfs keeps the full write+lineage code path in the timing
    # while letting it scale with cores. Override with BENCH_OUT_BASE.
    n_docs = n_base * MULT
    corpus = spans_df_from_documents(spark, SF_DIR, mult=MULT)
    out_base = os.environ.get(
        "BENCH_OUT_BASE", "/dev/shm" if os.path.isdir("/dev/shm") else None)
    out_dir = tempfile.mkdtemp(prefix="bench_job_", dir=out_base)
    try:
        # best-of-N: the sandbox VM has bursty external interference
        # (vCPU steal); a single timing can be 2-5x off its clean value
        for r in range(REPS):
            timed(f"extract_job_arrow_rep{r + 1}",
                  lambda r=r: J.run_job(spark, corpus, f"{out_dir}/r{r}",
                                        resume=False))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    walls = sorted(timings[f"extract_job_arrow_rep{r + 1}"]
                   for r in range(REPS))
    extract_sec = walls[0]
    extract_med = walls[len(walls) // 2] if len(walls) % 2 else round(
        (walls[len(walls) // 2 - 1] + walls[len(walls) // 2]) / 2, 3)
    # min isolates interference; median + spread expose how much there
    # was (a 3.7x spread in round 3 made the min-only headline soft)
    extract_stats = {
        "min_sec": extract_sec, "median_sec": extract_med,
        "spread": round(walls[-1] / walls[0], 2), "reps": walls,
    }
    timings["extract_job_arrow"] = extract_sec
    rep_detail["extract_job_arrow"] = walls
    docs_per_sec = round(n_docs / extract_sec, 1)
    docs_per_sec_median = round(n_docs / extract_med, 1)

    if ONLY_EXTRACT:
        print(json.dumps({
            "metric": "extract_docs_per_sec", "value": docs_per_sec,
            "value_median": docs_per_sec_median,
            "extract_reps": extract_stats,
            "unit": "docs/sec", "queries": timings, "sf": SF_DIR,
            "cores": CPUS, "heap_mb": heap, "extract_docs": n_docs,
            "total_sec": round(sum(timings.values()), 3),
        }))
        spark.stop()
        return

    # -- pre-bucketed input (Iceberg bucketBy analog): the job skips its
    # wide-row exchange; the only shuffle moved the cheap pre-synthesis rows
    pre = spans_df_from_documents(spark, SF_DIR, mult=MULT, bucket_for=256)
    d = tempfile.mkdtemp(prefix="bench_preb_", dir=out_base)
    try:
        # best-of-2: the r5 run caught a single-shot 17 s scatter burst
        # on this entry (repped Arrow job unchanged at 3.8-7.7 s); each
        # rep gets a fresh out dir so resume=False stays a full run
        def _preb():
            sub = tempfile.mkdtemp(prefix="rep_", dir=d)
            J.run_job(spark, pre, sub, resume=False, pre_bucketed=True)
        timed_reps("extract_job_prebucketed", _preb, reps=2)
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # -- training-data operator families on the raw documents table ---------
    timed_reps("dedup_minhash_pairs",
          lambda: D.minhash_lsh_pairs(docs, n=3, k=16, bands=4).count())
    timed_reps("dedup_simhash",
          lambda: D.simhash64(docs).agg(F.bit_xor("simhash")).collect())
    timed_reps("dedup_jaccard",
          lambda: D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).count())
    # cross-snapshot: index the corpus once, dedup the corpus-as-new-batch
    # against it (worst case: every doc an exact dup + full band collisions)
    def _ingest():
        # the full rolling-ingest plan on a 20% slice: two overlapping
        # snapshots into a fresh dir — index build + annotate + kept
        # write + ledger (a PLAN timing: dominated by its ~15 small
        # jobs' fixed overhead, not per-doc cost; the per-doc dedup
        # tier is benched on its own as snapshot_dedup below)
        from rag_document_parser_spark.plans import ingest_snapshot
        sl = docs.where(F.col("doc_id") % 10 < 2)
        d = tempfile.mkdtemp(prefix="bench_ingest_", dir=out_base)
        ingest_snapshot(spark, sl.where(F.col("doc_id") % 2 == 0),
                        d, "a")
        r = ingest_snapshot(spark, sl, d, "b")
        shutil.rmtree(d, ignore_errors=True)
        return r["n_kept"]

    timed_reps("ingest_snapshot", _ingest, reps=2)
    timed_reps("snapshot_dedup",
          lambda: D.dedup_against_index(
              docs, D.build_dedup_index(docs, n=3, k=16, bands=4),
              n=3, k=16, bands=4).agg(F.sum(F.col("kept").cast("long")),
                                      F.sum(F.col("near_dup").cast("long")))
          .collect())
    timed_reps("cdc_dedup",
          lambda: D.cdc_block_dedup(docs, n=3, divisor=8)
          .agg(F.sum("dup_tokens"), F.sum("n_tokens")).collect())
    timed_reps("textstats", lambda: T.quality_features(docs).unionByName(
        T.quality_features(docs)).agg(F.sum("n_words")).collect())
    timed_reps("gopher_rules",
          lambda: T.gopher_rules(docs).agg(F.sum("keep")).collect())
    timed_reps("c4_line_filter",
          lambda: T.c4_line_filter(docs)
          .agg(F.sum("kept_lines"), F.sum("keep")).collect())
    from rag_document_parser_spark.operators.lm import dsir_select
    timed_reps("dsir_select",
          lambda: dsir_select(
              docs, docs.where(F.col("lang") == "en"), k=100, min_count=2)
          .agg(F.sum("weight")).collect())
    timed_reps("fingerprint",
          lambda: T.fingerprint(docs).agg(F.count("fingerprint")).collect())
    timed_reps("top_ngram",
          lambda: R.top_ngram_stats(docs, n=2)
          .agg(F.sum("top_count")).collect())
    timed_reps("decontam",
          lambda: R.decontaminate(
              docs, SAM.hash_sample(docs, 0.1, salt="contam"), n=3)
          .agg(F.sum("n_matched")).collect())
    from rag_document_parser_spark.operators import keywords as KW
    from rag_document_parser_spark.operators import vectorize as VEC
    timed_reps("tfidf_keywords",
          lambda: KW.tfidf_keywords(docs, top_k=5, min_df=2)
          .agg(F.sum("score_e6")).collect())
    timed_reps("pmi_bigrams",
          lambda: KW.pmi_bigrams(docs, min_count=5, top_n=50)
          .agg(F.sum("score_e6")).collect())
    timed_reps("feature_hash",
          lambda: VEC.feature_hash_vectors(docs, dim=64)
          .agg(F.sum("n_tokens")).collect())
    from rag_document_parser_spark.operators import bpe as B
    from rag_document_parser_spark.operators.classify import (
        classify, train_class_profiles)
    timed_reps("train_bpe",
          lambda: B.bpe_segment(docs, B.train_bpe(docs, n_merges=4))
          .agg(F.sum("n_subwords")).collect())
    from rag_document_parser_spark.operators import wordpiece as WP

    def _wp():
        m = WP.train_wordpiece(docs, n_merges=4)
        return (WP.greedy_segment(docs, WP.wordpiece_vocab(docs, m))
                .agg(F.sum("n_pieces")).collect())

    timed_reps("wordpiece", _wp)
    from rag_document_parser_spark.operators import unigram as UG

    def _ug():
        v = UG.unigram_vocab(docs, vocab_size=64, max_piece_len=4,
                             ascii_only=True)
        return (UG.viterbi_segment(docs, v, ascii_only=True)
                .agg(F.sum("n_pieces")).collect())

    timed_reps("unigram", _ug)
    from rag_document_parser_spark.operators import corpstats as CS
    timed_reps("zipf_fit",
          lambda: CS.zipf_fit(docs, top_n=1024).collect())
    timed_reps("source_overlap",
          lambda: CS.source_overlap(docs, k=128).count())
    from rag_document_parser_spark.operators import wminhash as WMH
    timed_reps("weighted_jaccard",
          lambda: WMH.weighted_jaccard_pairs(
              docs, threshold_e6=500_000).count())
    from rag_document_parser_spark.operators import integrity as IG
    timed_reps("merkle_root",
          lambda: IG.merkle_root(docs, n_buckets=64).collect())
    from rag_document_parser_spark.operators import confusables as CFS
    timed_reps("skeleton_dedup",
          lambda: CFS.skeleton_dedup_pairs(docs).count())
    from rag_document_parser_spark.operators import winnow as WN
    timed_reps("winnow_pairs",
          lambda: WN.winnow_pairs(docs, k=5, w=4, min_shared=2).count())
    from rag_document_parser_spark.operators.prefixjoin import (
        prefix_filter_pairs)
    timed_reps("prefix_join",
          lambda: prefix_filter_pairs(docs, threshold_e6=800000).count())
    timed_reps("classify",
          lambda: classify(docs, train_class_profiles(
              SAM.hash_sample(docs, 0.25, salt="bx"), label_col="lang"))
          .agg(F.sum("score_e6")).collect())
    # -- full curation chain (extract -> quality -> PII -> boilerplate ->
    # exact dedup -> verified near-dup clusters) at mult=1
    from rag_document_parser_spark.plans.curate import curate, curation_report
    timed_reps("curate",
          lambda: curation_report(
              curate(spans_df_from_documents(spark, SF_DIR, mult=1))
          ).collect())
    from rag_document_parser_spark.operators import chunking as CH
    from rag_document_parser_spark.operators import lm as LM
    from rag_document_parser_spark.operators import packing as PK
    timed_reps("pack_shards",
          lambda: PK.shard_manifest(PK.pack_shards(docs, 2000)).count())
    timed_reps("lm_score",
          lambda: LM.score_bigram_lm(
              docs, LM.train_bigram_lm(docs, min_count=2))
          .agg(F.sum("lm_score")).collect())
    timed_reps("ccnet_buckets",
          lambda: LM.perplexity_buckets(docs, min_count=2)
          .groupBy("bucket").count().collect())
    timed_reps("kn_score",
          lambda: LM.score_kn_bigram_lm(docs, min_count=2)
          .agg(F.sum("kn_score")).collect())
    timed_reps("remove_repeated",
          lambda: R.remove_repeated_windows(
              docs, R.repeated_windows(docs, window=8), window=8)
          .agg(F.sum("n_removed")).collect())
    timed_reps("chunking",
          lambda: CH.chunk_documents(docs, 128, 16).count())
    from rag_document_parser_spark.operators import tiling as TT
    timed_reps("texttiling",
          lambda: TT.texttiling(docs, w=20, p=5)
          .agg(F.sum(F.col("boundary").cast("long"))).collect())
    timed_reps("tiling_chunks",
          lambda: TT.tiling_chunks(docs, w=20, p=5)
          .agg(F.sum("n_tokens"), F.count("*")).collect())
    from rag_document_parser_spark.operators import retrieval as RET
    from rag_document_parser_spark.operators.dedup import words as _words
    bm25_q = docs.where(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(_words(F.col("text")), 1, 4), " ").alias("text"))
    timed_reps("bm25_topk",
          lambda: RET.bm25_topk(docs, bm25_q, k=10).count())
    phrase_q = docs.where(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(_words(F.col("text")), 1, 2), " ").alias("text"))
    timed_reps("phrase_topk",
          lambda: RET.phrase_topk(docs, phrase_q, k=10).count())
    timed_reps("more_like_this",
          lambda: RET.more_like_this(
              docs, docs.where(F.col("doc_id") < 8).select("doc_id"),
              k=10, n_terms=8).count())

    def _hybrid():
        lex = RET.bm25_topk(docs, bm25_q, k=20)
        qv = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qvec"))
        scored = (emb.select(F.col("vec_id").alias("doc_id"), "embedding")
                  .crossJoin(F.broadcast(qv))
                  .select("query_id", "doc_id",
                          V.cosine_similarity_col(
                              F.col("embedding"),
                              F.col("_qvec")).alias("cos")))
        dense = V.topk_per_query(scored, 20, "query_id", "doc_id", "cos")
        return RET.rrf_fuse([lex, dense], k=10).count()

    timed_reps("hybrid_topk", _hybrid)
    # pair generation is benched on its own (dedup_simhash); stage the
    # candidate pairs once so this times the split semantics — cluster
    # resolution + range assignment — not a third simhash pass per rep
    lk_pairs = D.simhash_near_pairs(
        docs.select("doc_id", "text"), max_hamming=3) \
        .select("id_a", "id_b").localCheckpoint()
    timed_reps("leakage_split",
          lambda: SAM.leakage_safe_split(
              docs, lk_pairs,
              {"train": 0.8, "val": 0.2}, salt="b")
          .groupBy("split").count().collect())
    timed_reps("license_signals",
          lambda: T.license_signals(docs)
          .groupBy("license", "restricted").count().collect())
    timed_reps("source_prior",
          lambda: T.source_quality_prior(docs).collect())
    from rag_document_parser_spark.operators.sentences import (
        sentence_chunks)
    timed_reps("sentence_chunks",
          lambda: sentence_chunks(
              docs.select("doc_id", F.regexp_replace(
                  F.col("text"),
                  "([a-z0-9]+ [a-z0-9]+ [a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ",
                  "$1. ").alias("text")), max_tokens=64).count())
    from rag_document_parser_spark.operators.repetition import (
        decontaminate_surgery)
    timed_reps("decontam_surgery",
          lambda: decontaminate_surgery(
              docs, SAM.hash_sample(docs, 0.1, salt="contam"), window=8)
          .agg(F.sum("n_removed")).collect())
    timed_reps("readability",
          lambda: T.readability(docs)
          .agg(F.sum("flesch_e3"), F.sum("n_syllables")).collect())
    from rag_document_parser_spark.operators.mojibake import fix_mojibake
    timed_reps("fix_mojibake",
          lambda: fix_mojibake(docs.select("doc_id", "text"))
          .agg(F.sum("changed"), F.sum(F.length("fixed"))).collect())
    from rag_document_parser_spark.operators.sentences import sentence_dedup
    timed_reps("sentence_dedup",
          lambda: sentence_dedup(docs)
          .agg(F.sum("n_removed"), F.sum("n_sentences")).collect())
    from rag_document_parser_spark.operators import graph as GR
    from rag_document_parser_spark.operators import quantize as QZ
    from rag_document_parser_spark.operators import sketches as SK
    qz = QZ.quantize_embeddings(emb)
    qz_q = qz.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "scale_e6", "qvec")
    timed_reps("quantized_topk",
          lambda: QZ.quantized_topk(
              qz.where(F.col("vec_id") >= 8), qz_q, k=10).count())
    emb_q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    timed_reps("ivf_quantized_topk",
          lambda: QZ.ivf_quantized_topk(emb, emb_q, k=10).count())
    timed_reps("cms_heavy_hitters",
          lambda: SK.cms_estimate(
              SK.cms_build(docs.select(
                  F.explode(_words(F.col("text"))).alias("term"))),
              docs.select(F.explode(
                  F.slice(_words(F.col("text")), 1, 1)).alias("term"))
              .distinct().limit(50)).count())
    timed_reps("hll_distinct",
          lambda: SK.hll_estimate(SK.hll_registers(
              docs.select("lang",
                          F.explode(_words(F.col("text"))).alias("term")),
              group_cols=("lang",)), group_cols=("lang",)).collect())
    from rag_document_parser_spark.operators import bloom as BLM
    timed_reps("bloom_decontam",
          lambda: BLM.bloom_decontaminate(
              docs, SAM.hash_sample(docs, 0.1, salt="contam"), n=3)
          .agg(F.sum("n_matched")).collect())
    timed_reps("weighted_sample",
          lambda: SAM.weighted_sample(
              docs, k=100, weight_col="n_chars", salt="bw").count())
    anchor_src = docs.select(
        "source",
        F.concat(F.lit('x <a href="http://d'),
                 F.pmod("doc_id", 9).cast("string"),
                 F.lit('.example.com/p">link '),
                 F.pmod("doc_id", 5).cast("string"),
                 F.lit("</a>")).alias("text"))
    timed_reps("anchor_stats",
          lambda: GR.anchor_stats(GR.anchor_edges(anchor_src))
          .agg(F.sum("n_links")).collect())
    queries8 = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    timed_reps("cosine_topk", lambda: V.cosine_topk(emb, queries8, k=10).count())
    timed_reps("lsh_cosine_topk",
          lambda: V.lsh_cosine_topk(emb, queries8, k=10).count())
    timed_reps("ivf_cosine_topk",
          lambda: V.ivf_cosine_topk(emb, queries8, k=10).count())
    from rag_document_parser_spark.operators import bitext as BX
    from rag_document_parser_spark.operators.align import gale_church_align
    gc_pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.expr("transform(sequence(1, cast(doc_id % 12 + 2 as int)),"
               " i -> (doc_id * 13 + i * 29) % 60 + 8)").alias("la"),
        F.expr("transform(sequence(1, cast(doc_id % 11 + 2 as int)),"
               " i -> (doc_id * 17 + i * 31) % 60 + 8)").alias("lb"))
    timed_reps("gale_church",
          lambda: gale_church_align(gc_pairs)
          .agg(F.count("*"), F.sum("a_len")).collect())
    timed_reps("bitext_mine",
          lambda: BX.margin_bitext_pairs(
              emb.where(F.col("vec_id") % 2 == 0),
              emb.where(F.col("vec_id") % 2 == 1), k=4).count())
    timed_reps("semdedup",
          lambda: V.semdedup(emb.select("vec_id", "embedding")
                             .unionByName(
                                 emb.where(F.col("vec_id") < 30).select(
                                     (F.col("vec_id") + 100000)
                                     .alias("vec_id"), "embedding")),
                             threshold=0.999).where("NOT kept").count())
    timed_reps("semantic_decontam",
          lambda: V.semantic_decontaminate(
              emb.select("vec_id", "embedding"),
              emb.where(F.col("vec_id") % 11 == 5)
              .select("vec_id", "embedding"))
          .where("contaminated").count())
    timed_reps("mixture_resample",
          lambda: SAM.resample_by_group(
              docs, {"en": 2.5, "de": 0.0, "fr": 1.0}, "lang",
              salt="mix").count())
    planted = docs.select(
        "source",
        F.concat(F.substring("text", 1, 20), F.lit(" https://ex"),
                 F.pmod("doc_id", 40).cast("string"),
                 F.lit(".org/a http://mirror.net/b")).alias("text"))
    timed_reps("pagerank",
          lambda: GR.pagerank(GR.link_graph(planted), iters=2)
          .agg(F.sum("rank_e12")).collect())
    timed_reps("hits",
          lambda: GR.hits(GR.link_graph(planted), iters=2)
          .agg(F.sum("hub_e12"), F.sum("auth_e12")).collect())
    halves = docs.where(F.col("doc_id") < 500).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr("substring(text, 1, cast(length(text) div 2 as int))")
        .alias("text"))
    timed_reps("containment_pairs",
          lambda: D.containment_pairs(
              docs.select("doc_id", "text").unionByName(halves),
              threshold_e6=900_000).count())
    timed_reps("pack_stream",
          lambda: PK.pack_token_stream(docs, 128).count())
    timed_reps("contrastive_pairs",
          lambda: RET.mine_contrastive_pairs(
              docs.select("doc_id", "text")).count())
    # candidate generation is benched on its own (dedup_simhash); stage
    # the pair list once so these time the verify DP, not a simhash
    # pass per rep (same discipline as leakage_split above)
    clone_docs = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") < 200).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    clone_pairs = D.simhash_near_pairs(
        clone_docs, max_hamming=3).select("id_a", "id_b").localCheckpoint()
    timed_reps("edit_verify",
          lambda: D.edit_verify_pairs(
              clone_docs, clone_pairs).count())
    timed_reps("edit_verify_banded",
          lambda: D.edit_verify_pairs(
              clone_docs, clone_pairs, min_sim_e6=900_000).count())
    from rag_document_parser_spark.reporting import (corpus_datasheet,
                                                     snapshot_drift)
    timed_reps("corpus_datasheet",
          lambda: corpus_datasheet(
              docs.select("doc_id", "text", "source", "lang")).count())
    timed_reps("snapshot_drift",
          lambda: snapshot_drift(
              docs.select("doc_id", "text", "source"),
              docs.where(F.col("doc_id") % 10 != 0)
              .select("doc_id", "text", "source")).count())
    from rag_document_parser_spark.operators.textstats import (
        tokenizer_fertility)
    from rag_document_parser_spark.operators import bpe as BP
    merges2 = BP.train_bpe(docs, n_merges=2, min_count=2)
    timed_reps("tokenizer_fertility",
          lambda: tokenizer_fertility(
              docs, BP.bpe_segment(docs, merges2)).count())
    from rag_document_parser_spark.operators import mixture as MX
    timed_reps("mixture_plan",
          lambda: MX.epoch_plan(
              MX.temperature_weights(docs, "lang", size_col="n_chars",
                                     alpha="0.5"),
              budget_tokens=10_000_000)
          .agg(F.sum("granted_tokens"), F.sum("epochs_e6")).collect())
    timed_reps("quantile_sketch",
          lambda: SK.qsketch_quantiles(
              SK.qsketch_build(docs, "n_chars"),
              [10_000, 500_000, 990_000])
          .agg(F.sum("est_lo")).collect())
    timed_reps("materialize_mixture",
          lambda: MX.materialize_plan(
              docs, MX.epoch_plan(
                  MX.temperature_weights(docs, "lang", size_col="n_chars",
                                         alpha="0.5"),
                  budget_tokens=10_000_000),
              group_col="lang").count())
    timed_reps("global_shuffle",
          lambda: SAM.global_shuffle(docs, n_shards=64)
          .agg(F.sum("pos"), F.max("shard")).collect())
    from rag_document_parser_spark.operators.multimodal import (
        interleave_sequences)
    il = docs.select(
        "doc_id",
        F.array(
            F.struct(F.lit("text").alias("kind"),
                     F.substring("text", 1, 200).alias("text"),
                     F.lit(None).cast("string").alias("media_ref"),
                     F.lit(0).alias("offset")),
            F.struct(F.lit("media").alias("kind"), F.lit("").alias("text"),
                     F.concat(F.lit("img-"), F.pmod("doc_id", 9)
                              .cast("string")).alias("media_ref"),
                     F.lit(10).alias("offset")),
            F.struct(F.lit("text").alias("kind"),
                     F.substring("text", 200, 400).alias("text"),
                     F.lit(None).cast("string").alias("media_ref"),
                     F.lit(20).alias("offset")),
        ).alias("spans"))
    timed_reps("interleave_sequences",
          lambda: interleave_sequences(il, max_tokens=64, media_cost=16)
          .agg(F.sum("n_tok"), F.count("*")).collect())
    from rag_document_parser_spark.operators.multimodal import (
        media_dedup, remap_media_refs)
    mm_items = (docs.select(F.pmod("doc_id", 9).alias("v")).distinct()
                .select(F.concat(F.lit("img-"), F.col("v").cast("string"))
                        .alias("media_ref"),
                        F.lit("image").alias("modality"),
                        F.concat(F.lit("p"), (F.col("v") % 4)
                                 .cast("string"))
                        .cast("binary").alias("payload")))
    timed_reps("media_remap",
          lambda: remap_media_refs(il, media_dedup(mm_items))
          .agg(F.sum("n_remapped"), F.sum("n_spans")).collect())
    from rag_document_parser_spark.operators import posttrain as PT
    chat = docs.select(
        F.col("doc_id").alias("conv_id"),
        F.explode(F.array(
            F.struct(F.lit(0).cast("long").alias("turn_idx"),
                     F.lit("user").alias("role"),
                     F.substring("text", 1, 120).alias("text")),
            F.struct(F.lit(1).cast("long").alias("turn_idx"),
                     F.lit("assistant").alias("role"),
                     F.substring("text", 120, 240).alias("text")),
        )).alias("t")).select("conv_id", "t.*")
    timed_reps("chat_offsets",
          lambda: PT.chat_offsets(chat)
          .agg(F.sum("end_char"), F.sum(F.col("trainable").cast("long")))
          .collect())
    timed_reps("preference_pairs",
          lambda: PT.preference_pairs(docs, score_col="n_chars",
                                      group_col="source").count())
    mp = docs.select(
        "doc_id",
        F.concat(F.substring("text", 1, 150),
                 F.lit("\n\nder die und das ist nicht ein"),
                 F.lit("\n\n"), F.substring("text", 150, 150))
        .alias("text"))
    timed_reps("paragraph_lang",
          lambda: T.language_mixedness(T.paragraph_language(mp))
          .agg(F.sum("dominant_frac_e6"), F.count("*")).collect())
    import __spark_entry__ as _E
    from rag_document_parser_spark.operators import pca as PCA
    timed_reps("pca_project",
          lambda: PCA.project_pc1(emb, PCA.power_iteration_pc1(
              emb, iters=3)).agg(F.sum("pc1_e6")).collect())
    timed_reps("random_projection",
          lambda: PCA.random_projection(emb, out_dim=8)
          .agg(F.sum("y_e4")).collect())
    from rag_document_parser_spark.operators import pq as PQ

    def _pq_full():
        books = PQ.train_pq(emb, m_sub=4, ksub=8, iters=2, dim=64)
        return PQ.pq_adc_topk(emb.where(F.col("vec_id") >= 8),
                              emb.where(F.col("vec_id") < 8).select(
                                  F.col("vec_id").alias("query_id"),
                                  "embedding"),
                              books, k=10, dim=64).count()
    timed_reps("pq_topk", _pq_full)
    from rag_document_parser_spark.sources import warc as W
    timed_reps("warc_roundtrip",
          lambda: W.parse_warc_records(
              W.synth_warc_corpus(docs.select("doc_id", "text")))
          .agg(F.sum("content_length"),
               F.sum(F.col("len_ok").cast("long"))).collect())
    from rag_document_parser_spark.operators import vectorize as VEC
    timed_reps("mean_pool",
          lambda: VEC.mean_pool(
              emb.selectExpr("vec_id div 4 as grp", "embedding"),
              group_col="grp").agg(F.sum("mean_e6")).collect())
    # round-5 web-source tier
    timed_reps("registrable_domains",
          lambda: _E.q_registrable_domains(spark, SF_DIR)
          .agg(F.sum("n_urls")).collect())
    timed_reps("page_meta",
          lambda: _E.q_page_meta(spark, SF_DIR)
          .agg(F.sum("n_jsonld"),
               F.sum(F.col("noindex").cast("long"))).collect())
    timed_reps("frontier_schedule",
          lambda: _E.q_frontier_schedule(spark, SF_DIR).collect())
    timed_reps("canonical_dedup",
          lambda: _E.q_canonical_dedup(spark, SF_DIR)
          .agg(F.sum(F.col("canonical_dup").cast("long"))).collect())
    timed_reps("recrawl_schedule",
          lambda: _E.q_recrawl_schedule(spark, SF_DIR)
          .agg(F.sum("interval_us")).collect())
    timed_reps("sitemap_entries",
          lambda: _E.q_sitemap_entries(spark, SF_DIR).count())
    timed_reps("hreflang_pairs",
          lambda: _E.q_hreflang_pairs(spark, SF_DIR).count())
    timed_reps("trustrank",
          lambda: _E.q_trustrank(spark, SF_DIR)
          .agg(F.sum("trust_e12")).collect())
    timed_reps("crawl_depth",
          lambda: _E.q_crawl_depth(spark, SF_DIR)
          .agg(F.sum("depth"), F.count("*")).collect())
    timed_reps("dup_histogram",
          lambda: _E.q_dup_histogram(spark, SF_DIR).collect())
    timed_reps("html_tables",
          lambda: _E.q_html_tables(spark, SF_DIR)
          .agg(F.sum("n_cells")).collect())
    timed_reps("outlink_profile",
          lambda: _E.q_outlink_profile(spark, SF_DIR)
          .agg(F.sum("n_internal"), F.sum("n_external")).collect())
    timed_reps("heading_outline",
          lambda: _E.q_heading_outline(spark, SF_DIR)
          .agg(F.sum("level"), F.count("*")).collect())
    timed_reps("url_features",
          lambda: _E.q_url_features(spark, SF_DIR)
          .agg(F.sum("n_digits"), F.sum("path_depth")).collect())
    timed_reps("feed_items",
          lambda: _E.q_feed_items(spark, SF_DIR).count())

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "extract_docs_per_sec",
        "value": docs_per_sec,
        "value_median": docs_per_sec_median,
        "extract_reps": extract_stats,
        "unit": "docs/sec",
        "queries": timings,
        "query_reps": rep_detail,
        "sf": SF_DIR,
        "cores": CPUS,
        "heap_mb": heap,
        "extract_docs": n_docs,
        "total_sec": total,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.stdout.flush()
    main()
