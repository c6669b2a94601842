"""Error-path coverage: the kernel's catastrophic-failure leg and the
failed-docs report on non-empty input.

The extraction RULES never raise (nulls/malformed payloads are handled
per route), so on any schema-valid DataFrame the `_error_batch` leg is
unreachable — these tests drive it at the Arrow level with a batch whose
span struct violates the schema contract (text as int32), the kind of
corruption a bad upstream writer produces.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from rag_document_parser_spark.operators.extract_arrow import make_kernel
from rag_document_parser_spark.reporting import failed_docs, summary_report
from rag_document_parser_spark.schema import ARROW_KERNEL_OUTPUT


def _poison_batch() -> pa.RecordBatch:
    bad_struct = pa.StructArray.from_arrays(
        [
            pa.array(["text", "html"]),
            pa.array([1, 2], type=pa.int32()),  # text column: wrong type
            pa.array([None, None], type=pa.string()),
            pa.array([0, 1], type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans = pa.ListArray.from_arrays(pa.array([0, 1, 2], type=pa.int32()),
                                     bad_struct)
    return pa.RecordBatch.from_arrays(
        [pa.array(["bad-1", "bad-2"]), spans], names=["doc_id", "spans"])


def test_kernel_error_batch_shape():
    out = list(make_kernel()(iter([_poison_batch()])))
    assert len(out) == 1
    b = out[0]
    assert b.schema.equals(ARROW_KERNEL_OUTPUT)
    assert b.column("doc_id").to_pylist() == ["bad-1", "bad-2"]
    assert b.column("success").to_pylist() == [False, False]
    assert b.column("route").to_pylist() == ["error", "error"]
    errs = b.column("error").to_pylist()
    assert all(e for e in errs)  # non-empty diagnostic per row
    assert b.column("spans_clean").to_pylist() == [[], []]
    assert b.column("title").to_pylist() == [None, None]


def test_null_text_table_span_does_not_poison_batch():
    """Regression: a null-text table/table_slide span used to raise
    ArrowInvalid inside the grid render and fail the whole batch via the
    catch-all; the contract (semantics.clean_doc) drops the span and the
    doc succeeds."""
    struct = pa.StructArray.from_arrays(
        [
            pa.array(["table", "table_slide", "text"]),
            pa.array([None, None, "hello"], type=pa.string()),
            pa.array([None, None, None], type=pa.string()),
            pa.array([0, 1, 2], type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans = pa.ListArray.from_arrays(pa.array([0, 2, 3], type=pa.int32()),
                                     struct)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["tbl-doc", "txt-doc"]), spans], names=["doc_id", "spans"])
    out = list(make_kernel()(iter([batch])))[0]
    assert out.column("success").to_pylist() == [True, True]
    assert out.column("route").to_pylist() == ["empty", "text"]
    assert out.column("spans_clean").to_pylist()[0] == []


def test_kernel_empty_batch_and_empty_partitions(spark):
    """0-row batches and empty partitions flow through the kernel."""
    import pyarrow as pa

    from rag_document_parser_spark.schema import (ARROW_SPAN_STRUCT,
                                                  INPUT_SCHEMA)

    empty_spans = pa.ListArray.from_arrays(
        pa.array([0], type=pa.int32()), pa.array([], type=ARROW_SPAN_STRUCT))
    eb = pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.string()), empty_spans.slice(0, 0)],
        names=["doc_id", "spans"])
    out = list(make_kernel()(iter([eb])))
    assert out[0].num_rows == 0

    from rag_document_parser_spark.operators.extract_arrow import extract_arrow

    df = spark.createDataFrame([], schema=INPUT_SCHEMA).repartition(4)
    assert extract_arrow(df).count() == 0


def test_failed_docs_report_on_nonempty_failures(spark):
    """A3/L3 on >0 rows: failed docs surface with their error, ordered,
    capped at the report limit."""
    rows = []
    for i in range(8):
        rows.append((f"ok-{i}", [], "empty", None, True, None, 0))
    for i in range(7):
        rows.append((f"bad-{i}", [], "error", None, False,
                     f"ArrowInvalid: boom {i}", 0))
    out = spark.createDataFrame(
        rows, schema="doc_id string, spans_clean array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>, route string, "
        "title string, success boolean, error string, wall_us long")
    got = failed_docs(out, limit=5).collect()
    assert [r.doc_id for r in got] == [f"bad-{i}" for i in range(5)]
    assert all(r.error.startswith("ArrowInvalid") for r in got)
    summary = summary_report(out).collect()[0]
    assert summary.failed == 7
    assert summary.successful == 8


def test_error_rows_counted_invalid(spark):
    """A12: failed rows are never valid."""
    from rag_document_parser_spark.reporting import validity

    out = spark.createDataFrame(
        [("bad", [], "error", None, False, "x", 0),
         ("good", [("text", "hi", None, 0)], "text", None, True, None, 0)],
        schema="doc_id string, spans_clean array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>, route string, "
        "title string, success boolean, error string, wall_us long")
    got = {r.doc_id: r.is_valid for r in validity(out).collect()}
    assert got == {"bad": False, "good": True}


def test_unknown_kinds_error_mode_all_engines(spark):
    """unknown_kinds="error": a doc carrying an unrecognized kind becomes
    a whole-doc error result (the reference's unsupported-file-type
    ParseResult) in the contract and the Arrow kernel; clean docs still
    succeed."""
    from rag_document_parser_spark import semantics as S
    from rag_document_parser_spark.config import ExtractConfig
    from rag_document_parser_spark.operators.extract_arrow import extract_arrow

    cfg = ExtractConfig(unknown_kinds="error")
    rows = [
        ("ok", [("text", "hello", None, 0)]),
        ("bad", [("text", "hi", None, 0), ("alien_v2", "x", None, 1)]),
        ("bad-null-kind", [(None, "x", None, 0)]),
    ]
    df = spark.createDataFrame(rows, schema="doc_id string, spans "
                               "array<struct<kind:string,text:string,"
                               "media_ref:string,offset:int>>")
    got = {r.doc_id: r for r in extract_arrow(df, cfg).collect()}
    assert got["ok"].success and got["ok"].route == "text"
    assert not got["bad"].success
    assert got["bad"].route == "error"
    assert got["bad"].error == "Unsupported kind: alien_v2"
    assert got["bad"].spans_clean == []
    assert got["bad-null-kind"].error == "Unsupported kind: None"
    # contract agrees
    _, route, _, success, err = S.clean_doc(
        [{"kind": "alien_v2", "text": "x", "offset": 0}], cfg)
    assert (route, success, err) == ("error", False,
                                     "Unsupported kind: alien_v2")


def test_magic_sniff_leads_the_cascade(spark):
    """R1/R4: a payload's magic bytes beat a wrong extension; archive
    containers (zip = OOXML) defer to the extension; unknown bytes fall
    through the rest of the cascade."""
    from rag_document_parser_spark.functions.detect import detect_columns

    rows = [
        # pdf bytes under a .txt extension -> pdf at confidence 1.0
        ("a", ".txt", None, bytes.fromhex("255044462d312e37")),
        # zip container with .docx -> extension refines to document
        ("b", ".docx", None, bytes.fromhex("504b030414000000")),
        # garbage bytes + unknown ext -> unknown
        ("c", ".xyz", None, b"\x00\x01\x02\x03"),
        # no payload column value -> mime map still wins
        ("d", ".bin", "application/pdf", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, extension string, mime_type string, "
        "payload binary")
    out = {r.doc_id: (r.category, r.confidence)
           for r in detect_columns(df, payload_col="payload").collect()}
    assert out["a"] == ("pdf", 1.0)
    assert out["b"] == ("document", 0.8)
    assert out["c"] == ("unknown", 0.0)
    assert out["d"] == ("pdf", 1.0)
