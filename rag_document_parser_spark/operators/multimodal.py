"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The reference decodes real images for OCR (PIL/EasyOCR,
/root/reference/parsers/image_parser.py:147-259). Those libraries are not
in this container, so the *decode* step is stubbed — but everything Spark
cares about is real and tested:

- schema: ``media(media_ref string, modality string, payload binary,
  width int, height int, sample_rate int, duration_ms int)``
- batch shape: ``mapInPandas`` over Arrow batches; the stub measures the
  payload exactly the way a real decoder would receive it (contiguous
  bytes per batch, zero-copy from Arrow)
- partitioning: callers repartition on ``xxhash64(media_ref)`` before the
  decode pass so hot refs don't serialize a task
- per-executor singleton: ``_decoder()`` shows the lazy-init pattern a
  real EasyOCR/ffmpeg handle uses (init once per Python worker,
  /root/reference/parsers/image_parser.py:66-75 amortization)

Swap ``fake_decode_image`` for a real decoder and nothing else changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from rag_document_parser_spark.session import skip_unchanged_zip_reloads

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("modality", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("modality", T.StringType()),
    T.StructField("payload_sha", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
    T.StructField("decode_ok", T.BooleanType()),
    T.StructField("decode_error", T.StringType()),
])

_DECODER = None


def _decoder():
    """Per-executor lazy singleton (the EasyOCR-init amortization pattern)."""
    global _DECODER
    if _DECODER is None:
        _DECODER = {"initialized": True}  # a real impl loads models here
    return _DECODER


def fake_decode_image(payload: bytes) -> list[float]:
    """Deterministic stand-in for decode→resize→feature-extract.

    A real implementation (PIL.open → resize → normalize → model) is not
    available in this container; raising NotImplementedError here would be
    correct too, but a deterministic fake lets the Spark-side plumbing be
    tested end-to-end. 8-dim feature from the payload digest.
    """
    d = hashlib.sha256(payload or b"").digest()
    return [b / 255.0 for b in d[:8]]


def extract_media_features(df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """media table → per-ref feature rows via an Arrow-batched pandas UDF.

    The pandas iterator shape is the real contract: each `pdf` chunk is an
    Arrow batch materialized as pandas; a real decoder loops the *batch*
    through the C library, not Spark rows through Python.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_reloads()
        _decoder()
        for pdf in batches:
            feats, oks, errs, shas = [], [], [], []
            for payload in pdf["payload"]:  # per-image library call, as real
                try:
                    b = bytes(payload) if payload is not None else b""
                    feats.append(fake_decode_image(b))
                    shas.append(hashlib.sha256(b).hexdigest())
                    oks.append(True)
                    errs.append(None)
                except Exception as e:  # decoder errors are per-item data
                    feats.append(None)
                    shas.append(None)
                    oks.append(False)
                    errs.append(str(e))
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"],
                "modality": pdf["modality"],
                "payload_sha": shas,
                "feature": feats,
                "decode_ok": oks,
                "decode_error": errs,
            })

    # decode-cost balancing: repartition on the ref hash before the UDF
    # pass — partition count follows spark.sql.shuffle.partitions (a fixed
    # modulus would cap parallelism at scale)
    balanced = df.repartition(F.xxhash64("media_ref"))
    return balanced.mapInPandas(run, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# OCR engine tier (E40–E42): priority chain + preprocessing hook
# ---------------------------------------------------------------------------
#
# The reference tries engines in priority order per image and falls back
# on failure or empty output (easyocr → tesseract → '',
# /root/reference/parsers/image_parser.py:190-211), with an optional
# preprocessing pass before recognition (:260-305). This reproduces that
# STRUCTURE so a real engine drops in without new plumbing: an engine is
# (name, available(), init(), recognize(payload, conf_threshold)); the
# chain takes the first non-empty result and records which engine won.
# Real backends are gated behind import-probes (absent in this
# container); the deterministic stand-in keeps the chain testable.

OCR_CONFIDENCE_THRESHOLD = 0.3  # /root/reference/utils/config.py:46


def _standin_recognize(payload: bytes, conf_threshold: float):
    """Deterministic OCR stand-in: md5-derived tokens + confidences,
    same contract as semantics.token_confidence."""
    h = hashlib.md5(payload or b"").hexdigest()
    toks = [h[i:i + 4] for i in range(0, 12, 4)]
    out = []
    for t in toks:
        conf = int(hashlib.md5(f"{h}:{t}".encode()).hexdigest()[:8], 16) / 2**32
        if conf >= conf_threshold:
            out.append((t, conf))
    return out


def _probe_easyocr():
    try:
        import easyocr  # noqa: F401
        return True
    except ImportError:
        return False


def _probe_tesseract():
    try:
        import pytesseract  # noqa: F401
        return True
    except ImportError:
        return False


def _easyocr_recognize(payload, conf_threshold):  # pragma: no cover - lib absent
    import easyocr  # real impl: reader.readtext → [(box, text, conf)]
    reader = _decoder().setdefault("easyocr", easyocr.Reader(["en", "ar"]))
    return [(t, c) for _, t, c in reader.readtext(payload)
            if c >= conf_threshold]


def _tesseract_recognize(payload, conf_threshold):  # pragma: no cover - lib absent
    import pytesseract
    from PIL import Image
    import io
    data = pytesseract.image_to_data(
        Image.open(io.BytesIO(payload)), output_type=pytesseract.Output.DICT)
    return [(t, int(c) / 100.0)
            for t, c in zip(data["text"], data["conf"])
            if t.strip() and int(c) / 100.0 >= conf_threshold]


# priority order mirrors the reference's easyocr-first chain
OCR_ENGINES = [
    ("easyocr", _probe_easyocr, _easyocr_recognize),
    ("tesseract", _probe_tesseract, _tesseract_recognize),
    ("standin", lambda: True, _standin_recognize),
]


def preprocess_payload(payload: bytes) -> bytes:
    """E43 hook — the reference's grayscale/threshold/denoise pass
    (image_parser.py:260-305). Identity here (no imaging libs); a real
    deploy replaces this with the OpenCV pipeline, chain unchanged."""
    return payload


def ocr_media(df: DataFrame,
              conf_threshold: float = OCR_CONFIDENCE_THRESHOLD) -> DataFrame:
    """media table → (media_ref, ocr_text, ocr_engine, n_tokens,
    mean_conf_e4) via the engine-priority chain, Arrow-batched."""
    schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("ocr_text", T.StringType()),
        T.StructField("ocr_engine", T.StringType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("mean_conf_e4", T.LongType()),
    ])
    chain = [(n, probe, rec) for n, probe, rec in OCR_ENGINES if probe()]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_reloads()
        _decoder()
        import math

        for pdf in batches:
            texts, engines, ns, confs = [], [], [], []
            for payload in pdf["payload"]:
                b = preprocess_payload(
                    bytes(payload) if payload is not None else b"")
                text = engine = None
                toks = []
                for name, _, rec in chain:  # E42 fallback loop
                    try:
                        toks = rec(b, conf_threshold)
                    except Exception:
                        continue  # engine failure → next engine
                    if toks:
                        text = " ".join(t for t, _ in toks)
                        engine = name
                        break
                texts.append(text)
                engines.append(engine)
                ns.append(len(toks))
                confs.append(
                    int(math.floor(sum(c for _, c in toks) / len(toks) * 1e4))
                    if toks else None)
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"], "ocr_text": texts,
                "ocr_engine": engines, "n_tokens": ns,
                "mean_conf_e4": pd.array(confs, dtype="Int64"),
            })

    balanced = df.repartition(F.xxhash64("media_ref"))
    return balanced.mapInPandas(run, schema)


def sample_video_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling over video media (training-data pipeline tier):
    one output row per sampled frame, evenly spaced over ``duration_ms``.

    Real decode (an ffmpeg/VideoCapture seek per timestamp) is absent in
    this container; the frame extractor is a deterministic stand-in over
    the payload bytes. Everything Spark-side is the real contract: the
    modality filter prunes before the Python stage, batches arrive via
    Arrow, the per-frame fan-out happens inside the UDF (no Spark-side
    explode of undecoded payloads), and the schema matches what a real
    frame sampler emits (frame_idx, ts_ms, frame digest).
    """
    schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_reloads()
        _decoder()
        for pdf in batches:
            refs, idxs, tss, shas = [], [], [], []
            for ref, payload, dur in zip(pdf["media_ref"], pdf["payload"],
                                         pdf["duration_ms"]):
                b = bytes(payload) if payload is not None else b""
                d = int(dur) if dur is not None else 0
                for k in range(n_frames):  # per-frame library call, as real
                    refs.append(ref)
                    idxs.append(k)
                    tss.append(k * d // n_frames)
                    shas.append(hashlib.sha256(
                        b + b":" + str(k).encode()).hexdigest())
            yield pd.DataFrame({"media_ref": refs, "frame_idx": idxs,
                                "ts_ms": tss, "frame_sha": shas})

    videos = df.where(F.col("modality") == "video")
    balanced = videos.repartition(F.xxhash64("media_ref"))
    return balanced.mapInPandas(run, schema)


def segment_audio(df: DataFrame, window_ms: int = 250) -> DataFrame:
    """Audio segmentation plumbing (training-data pipeline tier): one
    output row per fixed-duration window over each audio item —
    ``(media_ref, seg_idx, start_ms, end_ms, n_samples, seg_sha)`` —
    the batch shape a real VAD/ASR front-end consumes.

    Real decode (soundfile/ffmpeg PCM read) is absent in this
    container; the per-segment digest is a deterministic stand-in over
    the payload bytes. Everything Spark-side is the real contract: the
    modality filter prunes BEFORE the Python stage, batches arrive via
    Arrow, the per-segment fan-out happens inside the UDF (no
    Spark-side explode of undecoded payloads), ``n_samples`` derives
    from ``sample_rate`` exactly as a PCM slicer would, and the final
    partial window is kept (its end is clamped to ``duration_ms``).
    """
    schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("start_ms", T.IntegerType()),
        T.StructField("end_ms", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("seg_sha", T.StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_reloads()
        _decoder()
        for pdf in batches:
            refs, idxs, starts, ends, samps, shas = [], [], [], [], [], []
            for ref, payload, dur, sr in zip(
                    pdf["media_ref"], pdf["payload"], pdf["duration_ms"],
                    pdf["sample_rate"]):
                b = bytes(payload) if payload is not None else b""
                d = int(dur) if dur is not None else 0
                r = int(sr) if sr is not None else 0
                n_seg = max((d + window_ms - 1) // window_ms, 0)
                for k in range(n_seg):  # per-segment library call, as real
                    lo = k * window_ms
                    hi = min(lo + window_ms, d)
                    refs.append(ref)
                    idxs.append(k)
                    starts.append(lo)
                    ends.append(hi)
                    samps.append((hi - lo) * r // 1000)
                    shas.append(hashlib.sha256(
                        b + b"@" + str(k).encode()).hexdigest())
            yield pd.DataFrame({"media_ref": refs, "seg_idx": idxs,
                                "start_ms": starts, "end_ms": ends,
                                "n_samples": samps, "seg_sha": shas})

    audio = df.where(F.col("modality") == "audio")
    balanced = audio.repartition(F.xxhash64("media_ref"))
    return balanced.mapInPandas(run, schema)


def media_dedup(df: DataFrame, ref_col: str = "media_ref",
                payload_col: str = "payload") -> DataFrame:
    """Exact binary dedup over media payloads — the multimodal analog of
    ``dedup.exact_dedup`` (same keep-min-ref contract), keyed on the
    sha256 of the raw bytes so identical images/audio/video collapse no
    matter what ref they arrived under (mirrors, re-uploads, hotlinks).

    Returns one row per input item: ``(media_ref, modality, payload_sha,
    keeper_ref, n_copies, is_dup)`` — ``keeper_ref`` is the lexically
    smallest ref sharing the payload, ``is_dup`` marks the non-keepers a
    curation pass drops.

    Scale shape: sha256 is computed JVM-side in the scan projection (the
    payload bytes never reach Python), then ONE map-side-combinable
    groupBy on the digest — uniform by construction — and the per-item
    verdict joins back on the same uniform key. Group state per key is
    two scalars (min ref, count); a payload mirrored 10^6 times costs
    one combiner cell per task, not a materialized posting list.
    """
    hashed = df.select(F.col(ref_col).alias("media_ref"), "modality",
                       F.sha2(F.col(payload_col), 256).alias("payload_sha"))
    groups = (hashed.groupBy("payload_sha")
              .agg(F.min("media_ref").alias("keeper_ref"),
                   F.count("*").alias("n_copies")))
    return (hashed.join(groups, "payload_sha")
            .select("media_ref", "modality", "payload_sha", "keeper_ref",
                    F.col("n_copies").cast("long").alias("n_copies"),
                    (F.col("media_ref") != F.col("keeper_ref"))
                    .alias("is_dup")))


def ahash64(df: DataFrame, pixels_col: str = "pixels",
            id_col: str = "media_ref") -> DataFrame:
    """64-bit average hash (aHash) over a decoded pixel grid:
    ``(id, phash)`` where bit *i* is set iff ``pixels[i] > mean(pixels)``
    — the classic perceptual near-dup hash (an image re-encoded, mildly
    recompressed, or watermarked keeps almost all bits, while exact
    SHA dedup sees a brand-new file). The decode→grayscale→resize step
    that produces the grid is the container-stubbed part (see module
    docstring; a real pipeline emits the 8×8 thumbnail from
    PIL/libvips inside ``extract_media_features``); the hash itself is
    pure Catalyst over ``array<float/double>``.

    Arithmetic is fixed-point so the DuckDB oracle replicates it bit
    for bit: pixels enter integer space as ``floor(x * 1e6)`` once,
    and the mean comparison is cross-multiplied (``pe[i] * n >
    sum(pe)``) so no division ever happens. Only the first 64 grid
    cells define bits (a 64-cell 8×8 grid uses all of them). Zero
    shuffles — one projection per row.
    """
    from .dedup import _shl

    pe = F.transform(
        F.col(pixels_col),
        lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"))
    staged = df.select(F.col(id_col).alias("id"), pe.alias("_pe"))
    staged = staged.select(
        "id", "_pe",
        F.aggregate("_pe", F.lit(0).cast("long"),
                    lambda a, v: a + v).alias("_s"),
        F.size("_pe").cast("long").alias("_n"))
    bits = F.aggregate(
        F.zip_with(
            F.slice("_pe", 1, 64),
            F.sequence(F.lit(0), F.least(F.size("_pe"), F.lit(64)) - 1),
            lambda p, i: F.when(p * F.col("_n") > F.col("_s"),
                                _shl(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))
    return staged.where(F.col("_n") > 0).select("id", bits.alias("phash"))


def dhash64(df: DataFrame, pixels_col: str = "pixels",
            id_col: str = "media_ref", width: int = 9) -> DataFrame:
    """64-bit difference hash (dHash) over a row-major ``width``-wide
    grid: bit ``r*(width-1)+c`` is set iff the right neighbor is
    brighter (``grid[r][c+1] > grid[r][c]``). The standard layout is a
    9-wide × 8-tall grid (72 cells → 64 horizontal comparisons).
    Gradient-based, so it is insensitive to global brightness shifts
    that flip aHash bits wholesale. Same fixed-point entry
    (``floor(x*1e6)``) and zero-shuffle shape as :func:`ahash64`;
    rows whose grid is shorter than ``width*ceil(64/(width-1))`` cells
    are dropped (not hashable).
    """
    from .dedup import _shl

    cols = width - 1
    height = (64 + cols - 1) // cols
    need = width * height
    pe = F.transform(
        F.col(pixels_col),
        lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast("long"))
    staged = df.select(F.col(id_col).alias("id"), pe.alias("_pe")) \
        .where(F.size("_pe") >= need)
    bits = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            # bit i compares grid[r][c] vs grid[r][c+1] at r=i//cols, c=i%cols
            lambda i: F.when(
                F.element_at("_pe", (F.floor(i / cols) * width
                                     + F.pmod(i, F.lit(cols)) + 2).cast("int"))
                > F.element_at("_pe", (F.floor(i / cols) * width
                                       + F.pmod(i, F.lit(cols)) + 1).cast("int")),
                _shl(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))
    return staged.select("id", bits.alias("phash"))


def phash_near_pairs(sig: DataFrame, max_hamming: int = 3,
                     id_col: str = "id",
                     sig_col: str = "phash") -> DataFrame:
    """Perceptual near-duplicate pairs: ``(id_a, id_b, hamming)`` with
    ``hamming(phash) <= max_hamming`` over :func:`ahash64` /
    :func:`dhash64` signatures. Delegates to the generic pigeonhole
    banding kernel (``dedup.hamming_near_pairs``) — 64 bits split into
    ``max_hamming+1`` bands, candidates from band equi-joins, never a
    cross-join — the same complete-for-hamming≤k blocking the text
    SimHash tier uses. This is the LAION-style image dedup pass: exact
    ``media_dedup`` catches byte mirrors, this catches re-encodes.
    """
    from .dedup import hamming_near_pairs

    return hamming_near_pairs(sig, id_col=id_col, sig_col=sig_col,
                              max_hamming=max_hamming)


def synthetic_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests/bench (payload = seeded bytes)."""
    return spark.range(n).select(
        F.concat(F.lit("img://64x64/m"), F.col("id")).alias("media_ref"),
        F.when(F.col("id") % 3 == 0, "image")
        .when(F.col("id") % 3 == 1, "audio").otherwise("video").alias("modality"),
        F.encode(F.repeat(F.concat(F.lit("payload-"), F.col("id")), 16), "utf-8")
        .cast("binary").alias("payload"),
        F.lit(64).alias("width"), F.lit(64).alias("height"),
        F.lit(16000).alias("sample_rate"), F.lit(1000).alias("duration_ms"),
    )


def caption_candidates(df: DataFrame, spans_col: str = "spans",
                       id_col: str = "doc_id") -> DataFrame:
    """Nearest-preceding-text caption candidate for every media span:
    ``(doc_id, media_ref, media_offset, caption, caption_offset)`` —
    caption columns null when no non-empty text span precedes the media.

    This is the interleaved-document alignment primitive (pair each
    image/audio span with the prose most likely describing it — the
    highest-offset text span before it, the standard heuristic for
    caption mining in image-text corpus construction).

    ZERO shuffles: the spans already live as one array per doc, so the
    scan evaluates two stacked higher-order projections (filter media,
    fold text spans for the argmax-offset predecessor) and one
    posexplode — all inside the scan's codegen span. Cost is
    O(n_media × n_spans) per doc; pathological span counts are bounded
    upstream by the job's giant-doc chunking (plans/job.py).
    """
    s = F.col("_sp")
    texts = F.filter(
        F.col(spans_col),
        lambda t: (t["kind"] == "text") & (t["text"] != "")
        & t["text"].isNotNull())
    media = F.filter(F.col(spans_col), lambda m: m["kind"] == "media")
    staged = df.select(F.col(id_col).alias("doc_id"),
                       media.alias("_media"), texts.alias("_texts"))

    def best_before(m):
        prior = F.filter(F.col("_texts"),
                         lambda t: t["offset"] < m["offset"])
        zero = F.struct(F.lit(-1).cast("int").alias("offset"),
                        F.lit(None).cast("string").alias("text"))
        return F.aggregate(
            prior, zero,
            lambda acc, t: F.when(t["offset"] > acc["offset"],
                                  F.struct(t["offset"].alias("offset"),
                                           t["text"].alias("text")))
            .otherwise(acc))

    rows = staged.select(
        "doc_id",
        F.explode(F.transform(
            "_media",
            lambda m: F.struct(m["media_ref"].alias("media_ref"),
                               m["offset"].alias("media_offset"),
                               best_before(m).alias("best")))).alias("_sp"))
    return rows.select(
        "doc_id", s["media_ref"].alias("media_ref"),
        s["media_offset"].cast("long").alias("media_offset"),
        s["best"]["text"].alias("caption"),
        F.when(s["best"]["offset"] >= 0, s["best"]["offset"])
        .cast("long").alias("caption_offset"))


def interleave_sequences(df: DataFrame, max_tokens: int = 128,
                         media_cost: int = 64, spans_col: str = "spans",
                         id_col: str = "doc_id") -> DataFrame:
    """Token-budgeted interleaved multimodal training sequences.

    The Flamingo/MM1-style pretraining record: a document's ordered
    text+media spans packed greedily into sequences of at most
    ``max_tokens``, where a text span costs its token count (the shared
    ``words`` tokenizer) and a media span costs the fixed
    ``media_cost`` placeholder budget its encoder tokens will occupy.
    Spans are never split across sequences — a span joins the current
    sequence unless the sequence is non-empty and would exceed the
    budget with it, in which case it starts a new one; a single
    oversized span gets its own oversized sequence (documented, same
    rule as ``sentences.sentence_chunks``).

    Output: one row per sequence — ``(doc_id, seq_idx, n_spans,
    n_text, n_media, n_tok, text_joined, media_refs)``; ``text_joined``
    is the non-empty text spans joined by single spaces in offset
    order, ``media_refs`` the media refs comma-joined in offset order.
    Docs with no spans emit no rows.

    Scale shape: ZERO exchanges — the offset sort, cost transform,
    greedy fold, and sequence assembly are row-local array expressions
    feeding one posexplode (the index-only fold discipline from
    sentence_chunks: the accumulator carries only sequence-start
    indices + two counters, never growing structs).
    """
    from rag_document_parser_spark.operators.dedup import words

    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if media_cost < 0:
        raise ValueError(f"media_cost must be >= 0, got {media_cost}")
    ordered = F.array_sort(
        F.col(spans_col),
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
        .when(l["offset"] > r["offset"], 1).otherwise(0))
    cost = lambda s: F.when(  # noqa: E731
        s["kind"] == "media", F.lit(media_cost).cast("long")) \
        .otherwise(F.size(words(s["text"])).cast("long"))
    staged = (df.select(F.col(id_col).alias("doc_id"),
                        ordered.alias("_s"))
              .select("doc_id", "_s",
                      F.transform("_s", cost).alias("_l"))
              .where(F.size("_s") > 0))

    a = lambda acc, f: acc.getField(f)  # noqa: E731

    def step(acc, i):
        tl = F.element_at(F.col("_l"), i)
        flush = (a(acc, "ns") > 0) & (a(acc, "tok") + tl > max_tokens)
        return F.struct(
            F.when(flush, F.concat(a(acc, "starts"), F.array(i)))
            .otherwise(a(acc, "starts")).alias("starts"),
            F.when(flush, F.lit(1).cast("long"))
            .otherwise(a(acc, "ns") + 1).alias("ns"),
            F.when(flush, tl).otherwise(a(acc, "tok") + tl).alias("tok"))

    init = F.struct(F.array(F.lit(1)).alias("starts"),
                    F.lit(0).cast("long").alias("ns"),
                    F.lit(0).cast("long").alias("tok"))
    idx = F.when(F.size("_s") > 0, F.sequence(F.lit(1), F.size("_s"))) \
        .otherwise(F.expr("cast(array() as array<int>)"))
    folded = staged.select(
        "doc_id", "_s", "_l",
        F.aggregate(idx, init, step, lambda acc: a(acc, "starts"))
        .alias("_b"))
    spans_z = folded.select(
        "doc_id", "_s", "_l",
        F.arrays_zip(
            F.col("_b").alias("b"),
            F.transform(
                F.sequence(F.lit(1), F.size("_b")),
                lambda j: F.when(j < F.size("_b"),
                                 F.element_at("_b", j + 1) - 1)
                .otherwise(F.size("_s"))).alias("e")).alias("_z"))
    # posexplode_outer: see sentence_chunks — plain posexplode lets
    # InferFiltersFromGenerate re-inline the fold chain into pushed
    # filters on the generator input
    ex = spans_z.select(
        "doc_id", "_s", "_l",
        F.posexplode_outer("_z").alias("seq_idx", "z")) \
        .where(F.col("z").isNotNull())
    ln = F.col("z.e") - F.col("z.b") + 1
    sl = F.slice("_s", F.col("z.b"), ln)
    texts = F.filter(sl, lambda s: (s["kind"] == "text")
                     & s["text"].isNotNull() & (s["text"] != ""))
    media = F.filter(sl, lambda s: s["kind"] == "media")
    n_text = F.size(F.filter(sl, lambda s: s["kind"] == "text"))
    return ex.select(
        "doc_id", F.col("seq_idx").cast("long").alias("seq_idx"),
        ln.cast("long").alias("n_spans"),
        n_text.cast("long").alias("n_text"),
        (ln - n_text).cast("long").alias("n_media"),
        F.aggregate(F.slice("_l", F.col("z.b"), ln),
                    F.lit(0).cast("long"), lambda acc, x: acc + x)
        .alias("n_tok"),
        F.array_join(F.transform(texts, lambda s: s["text"]), " ")
        .alias("text_joined"),
        F.array_join(F.transform(media, lambda s: s["media_ref"]), ",")
        .alias("media_refs"))


def remap_media_refs(spans_df: DataFrame, dedup: DataFrame,
                     id_col: str = "doc_id", spans_col: str = "spans",
                     broadcast_map: bool = True) -> DataFrame:
    """Canonicalize duplicate media inside interleaved span documents:
    every media span whose ``media_ref`` is a ``media_dedup`` non-keeper
    is rewritten to point at the cluster's ``keeper_ref``, so the
    duplicate payload bytes can be garbage-collected while every
    document keeps a valid reference — the storage-dedup rewrite that
    follows payload dedup at 100 TB (one stored copy per distinct
    image/audio/video, refs preserved in place).

    ``dedup`` is ``media_dedup`` output (or any ``(media_ref,
    keeper_ref, is_dup)`` relation). Returns the input shape plus
    bookkeeping: ``(id_col, spans, n_spans, n_remapped)`` with span
    ORDER preserved exactly (re-assembly sorts on the original array
    position, not on offset — duplicate offsets cannot reorder).

    Scale shape: the spans explode once; ONLY the remap relation is
    joined (broadcast by default — the dup→keeper map is bounded by
    distinct duplicated refs, orders of magnitude below span count;
    set ``broadcast_map=False`` to shuffle on the uniform media_ref
    key instead). Text spans carry a NULL join key and pass through
    the left join untouched. Re-assembly is one groupBy on the uniform
    doc key — the same single wide exchange any span-rewrite pass
    pays, with ``array_sort`` over a (pos, span) struct restoring the
    exact original order.
    """
    remap = (dedup.where(F.col("is_dup"))
             .select(F.col("media_ref").alias("_from"),
                     F.col("keeper_ref").alias("_to"))
             .distinct())
    if broadcast_map:
        remap = F.broadcast(remap)
    ex = spans_df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(F.col(spans_col)).alias("_pos", "_s"))
    joined = ex.join(remap, ex["_s.media_ref"] == remap["_from"], "left")
    new_span = F.struct(
        F.col("_s.kind").alias("kind"),
        F.col("_s.text").alias("text"),
        F.coalesce(F.col("_to"), F.col("_s.media_ref")).alias("media_ref"),
        F.col("_s.offset").alias("offset"))
    rows = joined.select(
        "_id", "_pos",
        F.when(F.col("_s").isNotNull(), new_span).alias("_ns"),
        F.when(F.col("_s").isNotNull() & F.col("_to").isNotNull(), 1)
        .otherwise(0).alias("_hit"))
    return (rows.groupBy("_id")
            .agg(F.array_sort(F.collect_list(
                     F.when(F.col("_ns").isNotNull(),
                            F.struct(F.col("_pos"), F.col("_ns")))))
                 .alias("_ps"),
                 F.sum("_hit").cast("long").alias("n_remapped"))
            .select(F.col("_id").alias(id_col),
                    F.expr("transform(_ps, p -> p._ns)").alias(spans_col),
                    F.size("_ps").cast("long").alias("n_spans"),
                    "n_remapped"))
