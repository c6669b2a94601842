"""Schemas for the span data model (BASELINE.json ``input_hint``).

documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
— the Iceberg-table shape the engine consumes. Output adds ``spans_clean``
with the same element struct plus status columns mirroring the reference's
``ParseResult`` (``/root/reference/models/parse_result.py:73-98``:
success/error/parser_used→route/parsing_time→wall_us).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# ---------------------------------------------------------------- Spark side

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

SPAN_ARRAY = T.ArrayType(SPAN_STRUCT)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans", SPAN_ARRAY),
    ]
)

# Kernel output (before doc_hash / bucket enrichment, which are Catalyst-side)
KERNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans_clean", SPAN_ARRAY),
        T.StructField("route", T.StringType()),
        T.StructField("title", T.StringType()),  # DOM <title> metadata (E1)
        T.StructField("success", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("wall_us", T.LongType()),
    ]
)

# run_job's written rows: the kernel columns plus doc_hash and bucket
OUTPUT_SCHEMA = T.StructType(
    KERNEL_OUTPUT_SCHEMA.fields
    + [
        T.StructField("doc_hash", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), nullable=False),
        T.StructField("doc_count", T.LongType()),
        T.StructField("checksum", T.StringType()),  # hex of bit_xor(doc_hash)
        T.StructField("wall_ms", T.LongType()),
        T.StructField("run_id", T.StringType()),
    ]
)

# ---------------------------------------------------------------- Arrow side

ARROW_SPAN_STRUCT = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)

ARROW_KERNEL_OUTPUT = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("spans_clean", pa.list_(ARROW_SPAN_STRUCT)),
        pa.field("route", pa.string()),
        pa.field("title", pa.string()),
        pa.field("success", pa.bool_()),
        pa.field("error", pa.string()),
        pa.field("wall_us", pa.int64()),
    ]
)

# Known span kinds and their routing class
TEXTLIKE_KINDS = ("text", "pdf_block", "code")
HTML_KINDS = ("html",)
MEDIA_KINDS = ("media", "media_slide")
TABLE_KINDS = ("table",)
PREFIXED_KINDS = ("header", "footer")  # "[HEADER] " / "[FOOTER] " prefixes
ALL_KINDS = TEXTLIKE_KINDS + HTML_KINDS + MEDIA_KINDS + TABLE_KINDS + PREFIXED_KINDS
