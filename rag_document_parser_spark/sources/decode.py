"""S8 — encoding-aware text decode (SURVEY.md §2.1).

The reference reads text files by trying the detected encoding, then
chardet (if confident), then a fixed list utf-8 / utf-16 / latin-1 /
cp1252 / iso-8859-1, always with ``errors='ignore'``
(/root/reference/parsers/text_parser.py:113-148). Spark's own readers
take one encoding for the whole load; per-row detection needs a kernel.

Batch-first design: the common case (valid UTF-8) is handled for the
WHOLE Arrow array by a single vectorized cast — only rows that fail
UTF-8 validation drop into the per-row fallback chain, mirroring how the
reference treats non-UTF-8 files as the exceptional path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from rag_document_parser_spark.session import skip_unchanged_zip_reloads

# fixed fallback list (/root/reference/parsers/text_parser.py:134-144);
# utf-8 first is handled vectorized, the rest per failing row
FALLBACK_ENCODINGS = ("utf-8", "utf-16", "latin-1", "cp1252", "iso-8859-1")

# confidence gate before trusting a sniffed encoding — the reference
# trusts chardet only above 0.7 (text_parser.py:129-132)
SNIFF_CONFIDENCE = 0.7

# cp1252's five undefined bytes: their presence argues against cp1252
_CP1252_HOLES = (0x81, 0x8D, 0x8F, 0x90, 0x9D)

DECODED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("text", T.StringType()),
    T.StructField("encoding", T.StringType()),
])


def sniff_encoding(b: bytes) -> tuple[str | None, float]:
    """chardet-analog (encoding, confidence) from a byte histogram.

    Mirrors what the reference gets from chardet before its fixed list
    (/root/reference/parsers/text_parser.py:125-132), built from the two
    profiles that matter for the fallback set:

    - BOM-less UTF-16: ASCII-heavy text has a NUL at every other byte;
      the zero-rate at one parity (and near-zero at the other) gives the
      endianness and doubles as the confidence. Without this leg the
      fixed list's 'utf-16' (which Python decodes as LE byte-pairs and
      almost never raises) silently garbles BOM-less input.
    - cp1252: no NULs, some high bytes, none in cp1252's five undefined
      holes; confidence = defined share of the high bytes.
    """
    if len(b) < 4:
        return None, 0.0
    if b[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16", 1.0  # explicit BOM; the codec consumes it
    a = np.frombuffer(b, dtype=np.uint8)
    if len(a) % 2 == 0:
        odd_zero = float((a[1::2] == 0).mean())
        even_zero = float((a[0::2] == 0).mean())
        if odd_zero > SNIFF_CONFIDENCE and even_zero < 0.1:
            return "utf-16-le", odd_zero
        if even_zero > SNIFF_CONFIDENCE and odd_zero < 0.1:
            return "utf-16-be", even_zero
    high = a[a >= 0x80]
    if len(high) and not (a == 0).any():
        conf = float((~np.isin(high, _CP1252_HOLES)).mean())
        if conf > SNIFF_CONFIDENCE:
            return "cp1252", conf
    return None, 0.0


def _decode_one(b: bytes) -> tuple[str | None, str | None]:
    enc, conf = sniff_encoding(b)
    if enc is not None and conf > SNIFF_CONFIDENCE:
        try:
            return b.decode(enc, errors="ignore"), enc
        except Exception:
            pass
    for enc in FALLBACK_ENCODINGS[1:]:
        try:
            return b.decode(enc, errors="ignore"), enc
        except Exception:
            continue
    return None, None


def _decode_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    doc_id = batch.column("doc_id")
    payload = batch.column("payload")
    n = batch.num_rows

    # vectorized fast path: one utf-8 validation pass over the whole array
    try:
        text = payload.cast(pa.string())
        enc_np = np.where(
            pc.is_valid(payload).to_numpy(zero_copy_only=False),
            "utf-8", None).astype(object)
        # BOM-less utf-16 of ASCII text IS valid utf-8 (NUL-interleaved);
        # the reference's chardet leg outranks utf-8 in its try-order
        # (text_parser.py:125-132), so NUL-bearing rows re-route through
        # the sniffing chain — a cheap vectorized probe, rare hits
        nul = pc.fill_null(
            pc.greater(pc.count_substring(text, "\x00"), 0), False) \
            .to_numpy(zero_copy_only=False)
        if not nul.any():
            return pa.RecordBatch.from_arrays(
                [doc_id, text,
                 pa.array(enc_np, type=pa.string())],
                names=["doc_id", "text", "encoding"])
        t_np = np.asarray(text.to_pandas(), dtype=object)
        for i in np.flatnonzero(nul):
            t_np[i], enc_np[i] = _decode_one(payload[i].as_py())
        return pa.RecordBatch.from_arrays(
            [doc_id, pa.array(t_np, type=pa.string()),
             pa.array(enc_np, type=pa.string())],
            names=["doc_id", "text", "encoding"])
    except pa.ArrowInvalid:
        pass

    # mixed batch: validate per row (still a single C pass for the valid
    # majority), python-decode only the failures
    texts = np.empty(n, dtype=object)
    encs = np.empty(n, dtype=object)
    vals = payload.to_pylist()
    for i, b in enumerate(vals):
        if b is None:
            continue
        try:
            texts[i] = b.decode("utf-8")
            encs[i] = "utf-8"
            if "\x00" in texts[i]:  # NUL-interleaved: sniff outranks utf-8
                texts[i], encs[i] = _decode_one(b)
        except UnicodeDecodeError:
            texts[i], encs[i] = _decode_one(b)
    return pa.RecordBatch.from_arrays(
        [doc_id, pa.array(texts, type=pa.string()),
         pa.array(encs, type=pa.string())],
        names=["doc_id", "text", "encoding"])


def decode_text_payloads(df: DataFrame) -> DataFrame:
    """(doc_id string, payload binary) → (doc_id, text, encoding)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        skip_unchanged_zip_reloads()
        for batch in batches:
            yield _decode_batch(batch)

    return df.select("doc_id", "payload").mapInArrow(run, DECODED_SCHEMA)
