from rag_document_parser_spark.operators.dedup import (
    dedup_clusters,
    paragraph_dedup,
)
from rag_document_parser_spark.operators.extract_arrow import extract_arrow
from rag_document_parser_spark.operators.graph import link_graph, pagerank
from rag_document_parser_spark.operators.keywords import (
    pmi_bigrams,
    tfidf_keywords,
    vocab_coverage,
)
from rag_document_parser_spark.operators.multimodal import (
    media_dedup,
    segment_audio,
)
from rag_document_parser_spark.operators.textstats import length_quantiles
from rag_document_parser_spark.operators.bpe import (
    bpe_segment,
    train_bpe,
)
from rag_document_parser_spark.operators.chunking import chunk_documents
from rag_document_parser_spark.operators.classify import (
    classify,
    train_class_profiles,
)
from rag_document_parser_spark.operators.lm import (
    score_bigram_lm,
    train_bigram_lm,
)
from rag_document_parser_spark.operators.packing import (
    pack_shards,
    shard_manifest,
)
from rag_document_parser_spark.operators.pii import pii_features, redact_pii
from rag_document_parser_spark.operators.repetition import (
    decontaminate,
    line_repetition_features,
    repeated_window_fraction,
    repeated_windows,
    top_ngram_stats,
)
from rag_document_parser_spark.operators.sampling import (
    hash_sample,
    hash_split,
    resample_by_group,
    stratified_sample,
)
from rag_document_parser_spark.operators.sheets import sheet_structure
from rag_document_parser_spark.operators.similarity import (
    ivf_cosine_topk,
    semdedup,
    train_kmeans,
)
from rag_document_parser_spark.operators.vectorize import (
    feature_hash_sparse,
    feature_hash_vectors,
)
from rag_document_parser_spark.operators.urls import (
    block_domains,
    canonicalize_urls,
    domain_stats,
    extract_urls,
)

__all__ = ["block_domains", "bpe_segment", "canonicalize_urls",
           "chunk_documents", "classify",
           "decontaminate", "train_bpe", "train_class_profiles",
           "dedup_clusters", "domain_stats", "extract_arrow",
           "extract_urls", "feature_hash_sparse",
           "feature_hash_vectors", "hash_sample", "hash_split",
           "length_quantiles", "line_repetition_features", "link_graph",
           "media_dedup", "pack_shards", "pagerank", "paragraph_dedup",
           "pmi_bigrams", "tfidf_keywords", "vocab_coverage",
           "pii_features", "redact_pii", "repeated_window_fraction",
           "repeated_windows", "resample_by_group", "score_bigram_lm",
           "segment_audio", "semdedup", "shard_manifest", "sheet_structure",
           "stratified_sample", "top_ngram_stats", "train_bigram_lm",
           "train_kmeans", "ivf_cosine_topk"]
