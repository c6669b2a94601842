from rag_document_parser_spark.streaming.incremental import (
    stream_curate,
    stream_extract,
    stream_extract_dedup,
    stream_extract_dedup_bounded,
    stream_extract_dedup_unbounded,
    stream_bloom_state,
    stream_extract_with_lineage,
    stream_integrity_ledger,
    stream_shard_progress,
    stream_source_sketch,
)

__all__ = ["stream_curate", "stream_extract", "stream_extract_dedup",
           "stream_extract_dedup_bounded", "stream_extract_dedup_unbounded",
           "stream_bloom_state",
           "stream_extract_with_lineage", "stream_integrity_ledger",
           "stream_shard_progress", "stream_source_sketch"]
