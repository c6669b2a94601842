"""Partitioning invariance of the round-4 operators: every operator's
output multiset must be identical at 1 partition and at a hostile
prime partition count — the property that makes results reproducible
across cluster sizes (the north rule's two-cluster-size criterion is
exactly a partitioning change)."""

from pyspark.sql import functions as F


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


def _check(build):
    """build(df) -> DataFrame; compare 1-partition vs 13-partition."""
    def run(df):
        a = _multiset(build(df.repartition(1)))
        b = _multiset(build(df.repartition(13)))
        assert a == b and a, (a[:3], b[:3])
    return run


def test_weighted_sample_invariant(spark):
    from rag_document_parser_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, (i * 37) % 500 + 1) for i in range(300)],
        "doc_id long, n_chars long")
    _check(lambda d: weighted_sample(d, k=20, weight_col="n_chars",
                                     salt="pi"))(df)


def test_quantized_topk_invariant(spark):
    from rag_document_parser_spark.operators.quantize import (
        quantize_embeddings, quantized_topk)

    df = spark.createDataFrame(
        [(i, [((i * 31 + d * 17) % 200 - 100) / 100.0 for d in range(8)])
         for i in range(120)],
        "vec_id long, embedding array<float>")

    def build(d):
        qz = quantize_embeddings(d)
        q = qz.where(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "scale_e6", "qvec")
        return quantized_topk(qz.where(F.col("vec_id") >= 3), q, k=7)
    _check(build)(df)


def test_hll_registers_invariant(spark):
    from rag_document_parser_spark.operators.sketches import hll_registers

    df = spark.createDataFrame(
        [(("en", "fr")[i % 2], f"t{i % 180}") for i in range(900)],
        "lang string, term string")
    _check(lambda d: hll_registers(d, group_cols=("lang",)))(df)


def test_bloom_decontaminate_invariant(spark):
    from rag_document_parser_spark.operators.bloom import bloom_decontaminate

    corpus = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 60}" for j in range(8)))
         for i in range(150)], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(900 + i, " ".join(f"w{(i + j) % 60}" for j in range(6)))
         for i in range(10)], "doc_id long, text string")
    _check(lambda c: bloom_decontaminate(c, ev, n=3))(corpus)


def test_caption_candidates_invariant(spark):
    from rag_document_parser_spark.operators.multimodal import (
        caption_candidates)

    schema = ("doc_id string, spans array<struct<kind string, text string, "
              "media_ref string, offset int>>")
    rows = []
    for i in range(100):
        spans = [("text", f"intro {i}", None, 0),
                 ("media", "", f"img{i}", 10)]
        if i % 3 == 0:
            spans.append(("text", f"mid {i}", None, 15))
            spans.append(("media", "", f"vid{i}", 20))
        rows.append((f"d{i}", spans))
    df = spark.createDataFrame(rows, schema)
    _check(caption_candidates)(df)


def test_rrf_fuse_invariant(spark):
    from rag_document_parser_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(q, f"d{(q * 7 + r) % 40}", r) for q in range(5)
         for r in range(1, 21)],
        "query_id long, doc_id string, rank long")
    b = spark.createDataFrame(
        [(q, f"d{(q * 11 + r * 3) % 40}", r) for q in range(5)
         for r in range(1, 21)],
        "query_id long, doc_id string, rank long")

    def build(df):
        return rrf_fuse([df, b], k=5)

    _check(build)(a)


def test_leakage_safe_split_invariant(spark):
    from rag_document_parser_spark.operators.sampling import (
        leakage_safe_split)

    docs = spark.createDataFrame(
        [(i, f"text body number {i}") for i in range(200)],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 60, 2)], "id_a long, id_b long")
    _check(lambda d: leakage_safe_split(
        d, pairs, {"train": 0.7, "val": 0.3}, salt="pi"))(docs)


def test_source_prior_and_license_invariant(spark):
    from rag_document_parser_spark.operators.textstats import (
        license_signals, source_quality_prior)

    docs = spark.createDataFrame(
        [(f"s{i % 5}", i,
          f"document {i} mentions rights" + (" all rights reserved"
                                             if i % 3 == 0 else ""))
         for i in range(200)],
        "source string, doc_id long, text string")
    _check(source_quality_prior)(docs)
    _check(license_signals)(docs)


def test_pack_token_stream_invariant(spark):
    from rag_document_parser_spark.operators.packing import (
        pack_token_stream)

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(3 + (i * 7) % 25)))
         for i in range(200)],
        "doc_id long, text string")
    _check(lambda d: pack_token_stream(d, 16, n_buckets=4))(df)


def test_contrastive_pairs_invariant(spark):
    from rag_document_parser_spark.operators.retrieval import (
        mine_contrastive_pairs)

    # three families: exact clones (positives, jac 1e6), one shared
    # shingle of 7 across families (hard negatives, jac 142857)
    t = ["core words one two three four",
         "core words one two three five",
         "diff other junk two three four"]
    df = spark.createDataFrame(
        [(i, t[i % 3]) for i in range(120)],
        "doc_id long, text string")
    _check(lambda d: mine_contrastive_pairs(d))(df)


def test_snapshot_drift_invariant(spark):
    from rag_document_parser_spark.reporting import snapshot_drift

    old = spark.createDataFrame(
        [(i, " ".join(f"alpha{j}" for j in range(5 + i % 5)),
          f"s{i % 3}") for i in range(150)],
        "doc_id long, text string, source string")
    new = old.where(F.col("doc_id") % 2 == 0)
    _check(lambda d: snapshot_drift(d, new))(old)
