"""Deterministic synthetic corpora.

Two generators:

1. ``generate_fixture_docs(seed, n_docs)`` — pure-Python, edge-case-rich
   fixture corpus for the golden pytest suite (FIXTURES.md §1 recipe,
   extended): 30% html / 8% xml / 8% markdown / 6% json / 4% rtf /
   14% pdf (shuffled blocks + tables) / 20% interleaved text+media
   (incl. slide/sheet markers) / 10% edge docs (empty, blank, tie-break,
   unknown kinds, null offsets), with OCR dims straddling both gates.

2. ``spans_df_from_documents(spark, sf_dir, mult)`` — Catalyst-only
   synthesis of a ``(doc_id, spans)`` corpus from the driver-provided
   ``documents`` parquet table. Used by ``__spark_entry__.entry`` and
   ``bench.py``: because it is pure DataFrame expressions, it scales to any
   multiplier without a driver-side loop (the 100 TB story: the corpus
   builder itself is distributed).

All randomness is ``random.Random(seed)``; no wall-clock anywhere.
"""

from __future__ import annotations

import random
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from rag_document_parser_spark.schema import INPUT_SCHEMA

WORDS = (
    "data spark arrow span document extract parse table image text "
    "cluster shuffle partition lineage checkpoint resume offset kind media "
    "quick brown fox jumps over lazy dog lorem ipsum dolor sit amet "
    # non-NFKC-normal words: exercise the normalize_unicode config split
    # in the golden suite (ﬁ→fi, Ⅻ→XII, ①→1 under NFKC)
    "ﬁnal Ⅻ unit①"
).split()

ARABIC_WORDS = ["مرحبا", "بالعالم", "وثيقة", "نص", "جدول", "صورة"]

SLUG_WORDS = ["chart", "logo", "photo", "diagram", "scan", "figure", "map", "icon"]

# non-NFKC-normal prefix for the oracle-gated corpus: NFKC("Ⅻ ﬁ① ") =
# "XII fi1 " — distinguishes engines that apply NFKC from those that don't
NFKC_PROBE = "Ⅻ ﬁ① "
NFKC_PROBE_FOLDS = [("Ⅻ", "XII"), ("ﬁ", "fi"), ("①", "1")]


def _sentence(rng: random.Random, lo: int = 4, hi: int = 12, arabic_p: float = 0.15) -> str:
    n = rng.randint(lo, hi)
    ws = []
    for _ in range(n):
        if rng.random() < arabic_p:
            ws.append(rng.choice(ARABIC_WORDS))
        else:
            ws.append(rng.choice(WORDS))
    return " ".join(ws)


def _html_payload(rng: random.Random) -> str:
    title = _sentence(rng, 2, 5, 0)
    body_parts = []
    for _ in range(rng.randint(2, 6)):
        tag = rng.choice(["p", "div", "span", "h2", "li"])
        body_parts.append(f"<{tag} class='c{rng.randint(0,9)}'>{_sentence(rng)}</{tag}>")
        if rng.random() < 0.4:
            body_parts.append("   \n\t ")  # redundant whitespace to strip
    script = f"<script type='text/javascript'>var x={rng.randint(0,99)};</script>"
    style = "<style>.c{color:red}</style>"
    nav = "<nav><a href='/home'>Home</a><a href='/about'>About</a></nav>"
    # numeric charrefs incl. NFKC-UNSTABLE decodes (&#160; -> NBSP -> space,
    # &#153; -> TM via cp1252 window) — golden tests pin the decode+NFKC
    # interplay per engine config
    cref = rng.choice(["&#146;s finest", "caf&#233;&#160;bar", "&#x2014; dash",
                       "mark&#153;", "&amp;#65; literal", "bad &#x; ref"])
    footer = f"<footer>&copy; corp {cref}</footer>"
    return (
        f"<html><head><title>{title}</title>{script}{style}</head>"
        f"<body>{nav}{''.join(body_parts)}{footer}</body></html>"
    )


def _media_ref(rng: random.Random, ctx: str) -> str:
    # dims straddle both gates: pdf needs w>100&h>50, slide w>50&h>30
    w = rng.choice([40, 60, 90, 101, 150, 400])
    h = rng.choice([20, 31, 45, 51, 80, 300])
    slug = "-".join(rng.sample(SLUG_WORDS, rng.randint(1, 4)))
    return f"img://{w}x{h}/{slug}"


def _xml_payload(rng: random.Random) -> str:
    title = _sentence(rng, 2, 4, 0)
    items = "".join(
        f"<item id='{i}'>{_sentence(rng)}</item>\n  "
        for i in range(rng.randint(1, 4)))
    ent = rng.choice(["&lt;tag&gt;", "&quot;q&quot;", "&amp;lt;raw", "a &amp; b"])
    # CDATA payload with a bare '>' and '&' inside (must survive unwrap)
    cdata = (f"<data><![CDATA[if x>{rng.randint(0, 9)} & ok "
             f"{_sentence(rng, 1, 3, 0)}]]></data>\n  "
             if rng.random() < 0.5 else "")
    return (f"<?xml version='1.0'?>\n<root>\n  <title>{title}</title>\n  "
            f"{items}{cdata}<note>{ent} {_sentence(rng)}</note>\n</root>")


def _md_payload(rng: random.Random) -> str:
    parts = [
        f"# {_sentence(rng, 2, 4, 0)}",
        "",
        f"Some **{rng.choice(WORDS)}** and *{rng.choice(WORDS)}* "
        f"text with `{rng.choice(WORDS)}` span.",
        f"[{_sentence(rng, 1, 2, 0)}](http://example.com/{rng.randint(0, 99)})",
        # reference-style link + image + their definition lines (the
        # definition lines must vanish, the [text][id] keeps its text)
        f"See [{_sentence(rng, 1, 2, 0)}][ref{rng.randint(0, 9)}] "
        f"and ![{rng.choice(WORDS)}][imgref].",
        f"[ref{rng.randint(0, 9)}]: http://example.com/r/{rng.randint(0, 99)}",
        "[imgref]: assets/pic.png \"pic title\"",
        "",
        "```python",
        # fence content must survive VERBATIM: emphasis, links and
        # pipes inside the fence are literal
        f"x = {rng.randint(0, 9)}  # *not em* [no](link) a|b",
        "```",
        # pipe table: separator row vanishes, cells get their own lines
        "| name | val |",
        "|------|----:|",
        f"| {rng.choice(WORDS)} | {rng.randint(0, 99)} |",
        "---",
        f"> {_sentence(rng)}",
        f"![{rng.choice(WORDS)}](img{rng.randint(0, 9)}.png)",
    ]
    return "\n".join(parts)


def _rtf_payload(rng: random.Random) -> str:
    # header group: flat or with one level of nested brace groups (the
    # shape real fonttbls take), both inside the documented subset
    fonttbl = rng.choice([
        "{\\fonttbl\\f0 Arial;}",
        "{\\fonttbl{\\f0 Arial;}{\\f1 Times New Roman;}}",
        "{\\colortbl;{\\red0\\green0\\blue0;}}",
    ])
    # \uN escapes: positive, negative (N+65536), with '?' fallback, with
    # \'xx fallback, adjacent to a control word (no fallback to consume)
    uesc = rng.choice([
        "\\u8217?s", "\\u-1524\\'3f x", "\\u233?gal", "\\u8212\\par after",
        "",
    ])
    return (
        "{\\rtf1\\ansi" + fonttbl + "\\f0\\fs24 "
        + _sentence(rng, 3, 8, 0)
        + "\\par " + _sentence(rng, 3, 8, 0) + " " + uesc
        + "\\line " + _sentence(rng, 2, 5, 0)
        # \'hh hex escapes: latin-1 leg (é) and cp1252-window leg
        # (curly quotes around a word) — both decode, not drop
        + ("\\'e9" if rng.random() < 0.5 else "")
        + (" \\'93" + rng.choice(WORDS) + "\\'94"
           if rng.random() < 0.4 else "")
        + " fin}"
    )


def _json_payload(rng: random.Random) -> str:
    import json as _json

    if rng.random() < 0.15:  # invalid json → raw_json fallback path
        return "{not valid json: " + _sentence(rng, 2, 4, 0)
    obj = {
        "title": _sentence(rng, 2, 4, 0),
        "count": rng.randint(0, 99),
        "tags": [rng.choice(WORDS) for _ in range(rng.randint(1, 3))],
        "nested": {"a": _sentence(rng, 1, 3, 0), "flag": rng.random() < 0.5},
    }
    return _json.dumps(obj)


def _table_payload(rng: random.Random) -> str:
    ncols = rng.randint(2, 5)
    nrows = rng.randint(0, 4)  # 0 rows → header-only → span dropped
    headers = "\t".join(f"col_{i}" for i in range(ncols))
    rows = ["\t".join(_sentence(rng, 1, 2, 0) for _ in range(ncols)) for _ in range(nrows)]
    return "\n".join([headers] + rows)


def generate_fixture_docs(seed: int = 42, n_docs: int = 200,
                          giant_doc_spans: int = 0) -> list[dict[str, Any]]:
    """FIXTURES.md §1 recipe. Returns rows matching INPUT_SCHEMA."""
    rng = random.Random(seed)
    docs: list[dict[str, Any]] = []
    for i in range(n_docs):
        doc_id = f"doc-{i:06d}"
        r = rng.random()
        spans: list[dict[str, Any]] = []
        if r < 0.30:  # html doc
            spans.append({"kind": "html", "text": _html_payload(rng),
                          "media_ref": None, "offset": 0})
            if rng.random() < 0.3:  # extra whitespace-heavy text span
                spans.append({"kind": "text",
                              "text": f"  {_sentence(rng)} \n\n   \n {_sentence(rng)}  ",
                              "media_ref": None, "offset": 1})
        elif r < 0.38:  # xml doc (E3)
            spans.append({"kind": "xml", "text": _xml_payload(rng),
                          "media_ref": None, "offset": 0})
        elif r < 0.46:  # markdown doc (E4)
            spans.append({"kind": "markdown", "text": _md_payload(rng),
                          "media_ref": None, "offset": 0})
        elif r < 0.52:  # json doc (E5; ~15% invalid → raw fallback)
            spans.append({"kind": "json", "text": _json_payload(rng),
                          "media_ref": None, "offset": 0})
        elif r < 0.56:  # rtf doc (E27)
            spans.append({"kind": "rtf", "text": _rtf_payload(rng),
                          "media_ref": None, "offset": 0})
        elif r < 0.70:  # pdf doc: shuffled blocks, monotone offsets
            n_pages = rng.randint(1, 5)
            for page in range(n_pages):
                n_blocks = rng.randint(2, 8)
                for block in range(n_blocks):
                    off = page * 10_000 + block
                    if rng.random() < 0.12:
                        spans.append({"kind": "table", "text": _table_payload(rng),
                                      "media_ref": None, "offset": off})
                    else:
                        spans.append({"kind": "pdf_block", "text": _sentence(rng, 6, 20),
                                      "media_ref": None, "offset": off})
            rng.shuffle(spans)  # output must restore reading order
        elif r < 0.90:  # interleaved text + media
            off = 0
            ctx = rng.choice(["media", "media_slide"])
            for _ in range(rng.randint(3, 8)):
                roll = rng.random()
                if roll < 0.4:
                    spans.append({"kind": ctx, "text": None,
                                  "media_ref": _media_ref(rng, ctx), "offset": off})
                elif roll < 0.5:  # slide table: lax accept, header-only ok
                    ncols = rng.randint(2, 4)
                    tbl = "\t".join(f"h{i}" for i in range(ncols))
                    if rng.random() < 0.5:  # header-only (E30 lax accept)
                        payload = tbl
                    else:
                        payload = tbl + "\n" + "\t".join(
                            _sentence(rng, 1, 2, 0) for _ in range(ncols))
                    spans.append({"kind": "table_slide", "text": payload,
                                  "media_ref": None, "offset": off})
                else:
                    k = rng.choice(["text", "header", "footer", "code",
                                    "slide", "sheet"])
                    spans.append({"kind": k, "text": _sentence(rng),
                                  "media_ref": None, "offset": off})
                off += 1
        else:  # edge docs
            edge = rng.randint(0, 6)
            if edge == 0:
                spans = []
            elif edge == 1:
                spans = [{"kind": "text", "text": "   \n  \t \n ", "media_ref": None, "offset": 0}]
            elif edge == 2:  # only media
                ctx = rng.choice(["media", "media_slide"])
                spans = [{"kind": ctx, "text": None,
                          "media_ref": _media_ref(rng, ctx), "offset": j}
                         for j in range(rng.randint(1, 4))]
            elif edge == 3:  # duplicate offsets → stable tie-break by position
                spans = [{"kind": "text", "text": f"tie {j} {_sentence(rng, 2, 4)}",
                          "media_ref": None, "offset": 5} for j in range(4)]
            elif edge == 4:  # unparseable media ref + null-text html/tables
                spans = [
                    {"kind": "media", "text": None, "media_ref": "not-a-ref", "offset": 0},
                    {"kind": "html", "text": None, "media_ref": None, "offset": 1},
                    {"kind": "text", "text": "survivor", "media_ref": None, "offset": 2},
                    # null-text table spans: must be DROPPED, not crash the
                    # Arrow batch (regression: a null survived the blanking
                    # np.where and ArrowInvalid'd the whole batch)
                    {"kind": "table", "text": None, "media_ref": None, "offset": 3},
                    {"kind": "table_slide", "text": None, "media_ref": None, "offset": 4},
                ]
            elif edge == 5:  # unknown kind passthrough + NULL offsets (sort last)
                spans = [
                    {"kind": "custom_v2", "text": _sentence(rng, 2, 4),
                     "media_ref": None, "offset": None},
                    {"kind": "text", "text": _sentence(rng),
                     "media_ref": None, "offset": 3},
                    {"kind": "custom_v2", "text": None,
                     "media_ref": None, "offset": 1},
                ]
            else:  # over-cap table: >100 cols, exercises the E14 column cap
                ncols = rng.randint(110, 130)
                headers = "\t".join(f"c{i}" for i in range(ncols))
                row = "\t".join(rng.choice(WORDS) for _ in range(ncols))
                spans = [{"kind": "table", "text": f"{headers}\n{row}\n{row}",
                          "media_ref": None, "offset": 0}]
        docs.append({"doc_id": doc_id, "spans": spans})
    if giant_doc_spans > 0:  # skew-test doc, FIXTURES.md edge recipe
        grng = random.Random(seed + 1)
        spans = [{"kind": "pdf_block", "text": _sentence(grng, 6, 20),
                  "media_ref": None, "offset": j} for j in range(giant_doc_spans)]
        docs.append({"doc_id": "doc-giant", "spans": spans})
    return docs


def fixture_df(spark: SparkSession, seed: int = 42, n_docs: int = 200,
               giant_doc_spans: int = 0) -> DataFrame:
    return spark.createDataFrame(
        generate_fixture_docs(seed, n_docs, giant_doc_spans), schema=INPUT_SCHEMA
    )


# ---------------------------------------------------------------------------
# Catalyst-side corpus synthesis from the driver `documents` table
# ---------------------------------------------------------------------------

def spans_df_from_documents(spark: SparkSession, sf_dir: str, mult: int = 1,
                            bucket_for: "int | None" = None) -> DataFrame:
    """Deterministically wrap driver `documents` rows into the span model.

    Pure DataFrame expressions — distributes at any scale. Each source row
    becomes `mult` documents (replica index mixed into doc_id). Routing by
    doc_id hash: ~30% html (text wrapped in boilerplate markup), 10% xml,
    10% markdown, 10% json, ~20% pdf (sentence-split into reversed
    pdf_block spans; kernel must restore order), ~20% interleaved
    text+media.

    ``bucket_for=n_buckets`` partitions the CHEAP pre-synthesis rows by
    the job's deterministic bucket (``pmod(xxhash64(doc_id), n)``) — the
    local analog of an Iceberg table bucket-partitioned on write. A
    ``run_job(pre_bucketed=True)`` consumer then skips its own exchange
    entirely, so the wide synthesized span rows never shuffle: the only
    exchange in the whole job moves slim text rows.
    """
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if mult > 1:
        df = df.crossJoin(
            spark.range(mult).select(F.col("id").alias("replica"))
        )
    else:
        df = df.withColumn("replica", F.lit(0))
    doc_id_expr = F.concat_ws("-", F.lit("d"), F.col("doc_id"), F.col("replica"))
    # Repartition the cheap (text-only) rows BEFORE the span construction:
    # the driver testdata is one parquet file, so without this every
    # downstream projection — including the expensive span synthesis —
    # runs in a single pre-shuffle task and nothing scales with cores.
    # A real Iceberg corpus arrives in many files and would not need it.
    if bucket_for:
        # explicit partition count: an expression-only repartition is
        # subject to AQE partition coalescing, which collapses the small
        # cheap-row shuffle to a handful of tasks and serializes the
        # expensive downstream synthesis+kernel
        n_parts = min(bucket_for,
                      spark.sparkContext.defaultParallelism * 2)
        df = df.repartition(n_parts, F.pmod(F.xxhash64(doc_id_expr),
                                            F.lit(bucket_for)))
    else:
        df = df.repartition(spark.sparkContext.defaultParallelism * 2,
                            F.col("doc_id"), F.col("replica"))

    doc_id = doc_id_expr
    # md5-derived 60-bit hash (NOT xxhash64): identical value is computable
    # in DuckDB as ('0x'||substring(md5(id),1,15))::BIGINT, so the whole
    # corpus synthesis is replicable by the oracle in __spark_entry__.py.
    h = F.conv(F.substring(F.md5(doc_id), 1, 15), 16, 10).cast("long")

    # second independent hash (md5 hex chars 16..30): selectors that must
    # not correlate with the route pick (h % 10). Integer-exact in both
    # engines — never derived via double division of h.
    h2 = F.conv(F.substring(F.md5(doc_id), 16, 15), 16, 10).cast("long")

    # NFKC probe: ~25% of docs get non-NFKC-normal chars prepended
    # (Ⅻ→XII, ﬁ→fi, ①→1 under NFKC) so the oracle gate PINS the unicode
    # config: normalize_unicode=True folds them in E8 routes, while
    # pdf_block text stays verbatim.
    probe = F.when(F.pmod(h2, 4) == 0, F.lit(NFKC_PROBE)).otherwise(F.lit(""))
    df = df.withColumn("text", F.concat(probe, F.col("text")))
    w = (F.pmod(h, F.lit(360)) + 41).cast("int")      # 41..400 straddles w>100 and w>50
    ht = (F.pmod(h, F.lit(280)) + 21).cast("int")     # 21..300 straddles h>50 and h>30
    slug = F.concat_ws(
        "-",
        F.element_at(F.lit(SLUG_WORDS), (F.pmod(h, F.lit(8)) + 1).cast("int")),
        F.element_at(F.lit(SLUG_WORDS), (F.pmod(h + 3, F.lit(8)) + 1).cast("int")),
    )
    media_ref = F.concat(F.lit("img://"), w, F.lit("x"), ht, F.lit("/"), slug)

    html_span = F.array(F.struct(
        F.lit("html").alias("kind"),
        F.concat(
            F.lit("<html><head><title>t</title><script>var x=1;</script>"
                  "<style>.a{}</style></head><body><nav><a href='/'>Home</a></nav><p>"),
            F.col("text"),
            # footer carries numeric-charref probes (all decode to
            # NFKC-stable chars so the arrow oracle's probe-fold list
            # stays exact): cp1252 window, hex, decimal, supplementary
            # plane, surrogate->FFFD, &amp;-guard, invalid passthrough
            F.lit("</p><footer>footer &#146;s&#x2019; caf&#233; "
                  "&#x1D11E; &#xD800; &amp;#65; &#zz;</footer>"
                  "</body></html>"),
        ).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    ))

    # block = window of 8 words (driver text has no sentence punctuation);
    # offsets use the page*10_000+block layout-key convention and the array
    # is reversed so the kernel must restore reading order.
    blk_words = 8
    toks = F.split(F.col("text"), " ")
    n_blocks = F.greatest(F.ceil(F.size(toks) / blk_words), F.lit(1)).cast("int")
    pdf_spans = F.reverse(F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.struct(
            F.lit("pdf_block").alias("kind"),
            F.array_join(F.slice(toks, i * blk_words + 1, blk_words), " ").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (F.floor(i / 4) * 10_000 + F.pmod(i, 4)).cast("int").alias("offset"),
        ),
    ))

    xml_span = F.array(F.struct(
        F.lit("xml").alias("kind"),
        F.concat(
            F.lit("<?xml version='1.0'?>\n<root>\n<title>t</title>\n<p>"),
            F.col("text"),
            F.lit("</p>\n<note>a &amp; b</note>\n"
                  "<data><![CDATA[if a>b & ok]]></data>\n"
                  "<num>caf&#233; &#x42;</num>\n</root>"),
        ).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    ))

    # fenced-code + pipe-table + inline-HTML-passthrough probes in the
    # tail — must stay byte-identical to __spark_entry__.MD_PRE/MD_POST
    # (the SQL twin)
    md_span = F.array(F.struct(
        F.lit("markdown").alias("kind"),
        F.concat(
            F.lit("# Title\n\n**"),
            F.col("text"),
            F.lit("** and *tail* done\nsee [the spec][r1]\n"
                  "[r1]: http://example.com/spec\n"
                  "```py\nkeep *raw* [x](y) | pipe <div>tag</div>\n```\n"
                  "| h1 | h2 |\n|----|:---:|\n| a | b |\n---\n> quote\n"
                  "raw <b>bold</b> &amp; caf&#233; <em x=1>ok</em> html"),
        ).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    ))

    # E5 json route: fixed-shape object from oracle-replicable columns;
    # ~20% malformed so both legs of the contract (flatten vs raw_json
    # fallback) are exercised under the gate: a valid payload flattens to
    # "title: <source>\ncount: <n>", a malformed one post-processes the
    # raw payload.
    json_valid = F.concat(F.lit('{"title": "'), F.col("source"),
                          F.lit('", "count": '),
                          F.col("n_chars").cast("string"), F.lit("}"))
    json_invalid = F.concat(F.lit("{broken "), F.col("source"))
    json_text = F.when(F.pmod(h2, 5) == 1, json_invalid).otherwise(json_valid)
    json_span = F.array(F.struct(
        F.lit("json").alias("kind"),
        json_text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    ))

    # raw table payload (rows \n-separated, cells \t-separated) — puts the
    # E14 accept rule + E38 pipe/dash render under the DuckDB oracle gate.
    # The slide marker (E28) and a SLIDE-context table (E30 lax accept —
    # header-only for odd hashes, which the strict pdf rule would drop)
    # are gated the same way.
    table_text = F.concat(F.lit("name\tval\n"), F.col("source"),
                          F.lit("\t"), F.col("n_chars"))
    slide_no = (F.pmod(h, 9) + 1).cast("string")
    stable_text = F.when(F.pmod(h, 2) == 1, F.lit("k1\tk2")).otherwise(
        F.concat(F.lit("k1\tk2\n"), F.col("source"), F.lit("\t"), slide_no))
    inter_spans = F.array(
        F.struct(F.lit("header").alias("kind"), F.col("source").alias("text"),
                 F.lit(None).cast("string").alias("media_ref"), F.lit(0).cast("int").alias("offset")),
        F.struct(F.lit("text").alias("kind"), F.col("text").alias("text"),
                 F.lit(None).cast("string").alias("media_ref"), F.lit(2).cast("int").alias("offset")),
        F.struct(
            F.when(F.pmod(h, 2) == 0, F.lit("media")).otherwise(F.lit("media_slide")).alias("kind"),
            F.lit(None).cast("string").alias("text"),
            media_ref.alias("media_ref"), F.lit(1).cast("int").alias("offset")),
        F.struct(F.lit("table").alias("kind"), table_text.alias("text"),
                 F.lit(None).cast("string").alias("media_ref"), F.lit(3).cast("int").alias("offset")),
        F.struct(F.lit("slide").alias("kind"), slide_no.alias("text"),
                 F.lit(None).cast("string").alias("media_ref"), F.lit(4).cast("int").alias("offset")),
        F.struct(F.lit("table_slide").alias("kind"), stable_text.alias("text"),
                 F.lit(None).cast("string").alias("media_ref"), F.lit(5).cast("int").alias("offset")),
    )

    route_pick = F.pmod(h, F.lit(10))
    spans = (
        F.when(route_pick < 3, html_span)
        .when(route_pick == 3, xml_span)
        .when(route_pick == 4, md_span)
        .when(route_pick == 5, json_span)
        .when(route_pick < 8, pdf_spans)
        .otherwise(inter_spans)
    )
    return df.select(doc_id.alias("doc_id"), spans.alias("spans"))
