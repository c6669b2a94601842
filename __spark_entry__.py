"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction job on sf0.001 (Arrow kernel path).
``queries()``    — one entry per implemented operator (SURVEY.md §2 +
                   training-data operators); each callable is
                   (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — for every query, the equivalent ANSI SQL runnable by
                   DuckDB on the same parquet tables.

Design note: every numeric output is either an integer (BIGINT) or a
*floor-scaled* integer (``floor(x * 10^k)``) — never a rounded float —
because Spark and DuckDB agree bitwise on IEEE double arithmetic when the
operation sequence is identical, so ``floor`` is reproducible, while their
``round`` half-way modes differ. All hashes are md5-derived (never
xxhash64) in anything oracle-checked, since DuckDB has md5 but not Spark's
xxhash64. Float folds use an explicit left-fold in both engines
(``F.aggregate`` in Spark, ``list_reduce`` in DuckDB) so sums are
bitwise-identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rag_document_parser_spark import semantics as S
from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from rag_document_parser_spark.corpus import SLUG_WORDS, spans_df_from_documents
from rag_document_parser_spark.functions import text as X
from rag_document_parser_spark.operators import dedup as D
from rag_document_parser_spark.operators import graph as G
from rag_document_parser_spark.operators import keywords as KW
from rag_document_parser_spark.operators import multimodal as M
from rag_document_parser_spark.operators import pii as PII
from rag_document_parser_spark.operators import repetition as REP
from rag_document_parser_spark.operators import sampling as SAM
from rag_document_parser_spark.operators import similarity as V
from rag_document_parser_spark.operators import textstats as T
from rag_document_parser_spark.operators import urls as U
from rag_document_parser_spark.plans import job as J
from rag_document_parser_spark.reporting import by_route, summary_report, validity

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _sq(s: str) -> str:
    """Python string -> SQL single-quoted literal."""
    return "'" + s.replace("'", "''") + "'"


def _md5l(expr: str) -> str:
    """60-bit md5-derived bigint — matches Spark conv(substring(md5,1,15),16,10)."""
    return "('0x'||substring(md5(" + expr + "),1,15))::BIGINT"


def _hcol(c) -> "F.Column":
    """Spark twin of _md5l over a column — every oracle that synthesizes
    per-doc selectors MUST build its hash through this one helper so the
    two sides cannot drift."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10) \
            .cast("long")


NL2 = "(chr(10)||chr(10))"

# the exact regex constants the engine uses (semantics.py — RE2-safe)
P_SCRIPT = _sq(S.RE_SCRIPT_STYLE)
P_DECOMP = _sq(S.RE_HTML_DECOMPOSE)
P_TAG = _sq(S.RE_TAG)
P_WS = _sq(S.RE_WS_RUN)
P_STRIP = _sq(S.RE_STRIP)
P_EMPTY_LEAD = _sq(S.RE_EMPTY_LINES_LEAD)
P_EMPTY_MID = _sq(S.RE_EMPTY_LINES_MID)
P_SPACE = _sq(S.RE_SPACE_RUN)
P_COMMENT = _sq(S.RE_HTML_COMMENT)
P_HEAD = _sq(S.RE_HEAD)
P_BLOCK = _sq(S.RE_BLOCK_TAG)
P_ANCHOR = _sq(S.RE_ANCHOR)
P_TITLE = _sq(S.RE_TITLE)
P_NWSCLS = _sq(f"[{S.WS}]")
P_CDATA = _sq(S.RE_XML_CDATA)


# numeric character references (semantics.RE_CHARREF html5-table subset):
# split on '&#', first fragment literal, later fragments decode an anchored
# code or restore their literal opener — the same positional single pass
# the engines make. chr() covers full Unicode in DuckDB; the 0x80-0x9F
# remap and FFFD rules mirror semantics.CHARREF_OVERRIDES / charref_char.
P_CREF = _sq(S.RE_CHARREF_FRAG)
_CREF_OVERRIDE_CASES = " ".join(
    f"WHEN n = {k} THEN {_sq(v)}" for k, v in S.CHARREF_OVERRIDES.items())
_CREF_CHAR_FROM_N = (
    f"CASE {_CREF_OVERRIDE_CASES} "
    f"WHEN (n >= 55296 AND n <= 57343) OR n > 1114111 THEN {_sq(chr(0xFFFD))} "
    "ELSE chr(n::INT) END")
_CREF_NUM_FROM_CS = ("CASE WHEN cs[1] = 'x' OR cs[1] = 'X' "
                     "THEN ('0x' || cs[2:])::BIGINT ELSE cs::BIGINT END")
_CREF_FRAG = (
    "CASE WHEN i = 1 THEN p "
    f"WHEN regexp_extract(p, {P_CREF}, 1) = '' THEN '&#' || p "
    f"ELSE list_transform([regexp_extract(p, {P_CREF}, 1)], cs -> "
    f"list_transform([{_CREF_NUM_FROM_CS}], n -> {_CREF_CHAR_FROM_N})[1])[1] "
    f"|| regexp_replace(p, {P_CREF}, '') END")


def _charref_sql(expr: str) -> str:
    return (f"CASE WHEN contains({expr}, '&#') THEN array_to_string("
            f"list_transform(string_split({expr}, '&#'), (p, i) -> "
            f"{_CREF_FRAG}), '') ELSE {expr} END")


def _html_ent_sql(expr: str) -> str:
    expr = _charref_sql(expr)  # numeric first: &amp;#65; stays literal
    for ent, ch in S.HTML_ENTITIES:
        expr = f"replace({expr}, {_sq(ent)}, {_sq(ch)})"
    return expr


def _vis_sql(expr: str) -> str:
    """Visible text: tag strip + entity decode (semantics._block_display)."""
    return _html_ent_sql(f"regexp_replace({expr}, {P_TAG}, '', 'g')")


def _disp_sql(expr: str) -> str:
    return _regex_chain(_vis_sql(expr), (P_WS, "' '"), (P_STRIP, "''"))


def _nws_sql(expr: str) -> str:
    return f"length(regexp_replace({_vis_sql(expr)}, {P_NWSCLS}, '', 'g'))"

# the HTML boilerplate wrapper from corpus.spans_df_from_documents
HTML_PRE = ("<html><head><title>t</title><script>var x=1;</script>"
            "<style>.a{}</style></head><body><nav><a href='/'>Home</a></nav><p>")
HTML_POST = ("</p><footer>footer &#146;s&#x2019; caf&#233; "
             "&#x1D11E; &#xD800; &amp;#65; &#zz;</footer>"
             "</body></html>")

SLUG_SQL = "[" + ",".join(_sq(w) for w in SLUG_WORDS) + "]"


def _regex_chain(expr: str, *steps: tuple[str, str]) -> str:
    out = expr
    for pat, repl in steps:
        out = f"regexp_replace({out}, {pat}, {repl}, 'g')"
    return out


# E8 post-process chain (semantics.post_process_text) minus NFKC, which
# the extraction oracle folds into its input (``ftext``) instead
def _post_process_sql(expr: str) -> str:
    return _regex_chain(
        expr,
        (P_EMPTY_LEAD, "''"),
        (P_EMPTY_MID, "chr(10)"),
        (P_SPACE, "' '"),
        (P_STRIP, "''"),
    )


XML_PRE = "<?xml version='1.0'?>\n<root>\n<title>t</title>\n<p>"
XML_POST = ("</p>\n<note>a &amp; b</note>\n"
            "<data><![CDATA[if a>b & ok]]></data>\n"
            "<num>caf&#233; &#x42;</num>\n</root>")
MD_PRE = "# Title\n\n**"
# probes: fenced code (content verbatim — emphasis/link/pipe/tags inside
# the fence must survive untouched), a pipe table (separator row vanishes,
# cells land on their own lines), and inline HTML passthrough (tags strip,
# entities decode — the round-5 E4 promotion). Must stay byte-identical to
# corpus.spans_df_from_documents' md_span literal.
MD_POST = ("** and *tail* done\nsee [the spec][r1]\n"
           "[r1]: http://example.com/spec\n"
           "```py\nkeep *raw* [x](y) | pipe <div>tag</div>\n```\n"
           "| h1 | h2 |\n|----|:---:|\n| a | b |\n---\n> quote\n"
           "raw <b>bold</b> &amp; caf&#233; <em x=1>ok</em> html")


def _entity_chain(expr: str) -> str:
    expr = _charref_sql(expr)
    for ent, ch in S.XML_ENTITIES:
        expr = f"replace({expr}, {_sq(ent)}, {_sq(ch)})"
    return expr


def _md_chain(expr: str) -> str:
    # fence-aware (semantics.md_rules_text): split on fence delimiter
    # lines, rules only on the 1-based-odd (0-based-even) segments,
    # fence content verbatim, rejoin with ''. A ruled segment still
    # carrying a tag opener gets the E4 HTML passthrough (tag strip +
    # charref + named entities — semantics.RE_MD_HTML_GATE note),
    # applied in a second list_transform so the rule chain runs once.
    inner = "x"
    for pat, repl in S.MD_RULES:
        inner = (f"regexp_replace({inner}, {_sq(pat)}, "
                 f"{_sq(repl.replace('G1', chr(92) + '1'))}, 'g')")
    hp = _html_ent_sql(f"regexp_replace(x, {P_TAG}, '', 'g')")
    return ("array_to_string(list_transform(list_transform("
            f"regexp_split_to_array({expr}, {_sq(S.MD_FENCE_SPLIT)}), "
            f"(x, i) -> CASE WHEN i % 2 = 1 THEN {inner} ELSE x END), "
            f"(x, i) -> CASE WHEN i % 2 = 1 AND "
            f"regexp_matches(x, {_sq(S.RE_MD_HTML_GATE)}) "
            f"THEN {hp} ELSE x END), '')")


# DOM html extraction oracle (semantics.html_dom_strip), generic: block
# struct per segment with visible text + link-density counts, density
# filter, newline join. DuckDB lambda structs mirror the engine's
# per-block stats.
_BLOCK_STRUCT = ("{'disp': " + _disp_sql("b")
                 + ", 'tlen': " + _nws_sql("b")
                 + ", 'slen': "
                 + _nws_sql(f"regexp_replace(b, {P_ANCHOR}, '', 'g')") + "}")
# coalesce: DuckDB's array_to_string([]) is NULL, the contract's
# "\n".join([]) is ''
_DOM_JOINED = f"""coalesce(array_to_string(list_transform(list_filter(
  list_transform(
    string_split({_regex_chain("wrapped", (P_DECOMP, "''"),
                               (P_BLOCK, "chr(1)"))}, chr(1)),
    b -> {_BLOCK_STRUCT}),
  x -> x.disp <> '' AND NOT ((x.tlen - x.slen) * 2 > x.tlen
                             AND x.tlen < {DEFAULT_CONFIG.html_density_min_chars})),
  x -> x.disp), chr(10)), '')"""

# The full extraction oracle: replicates corpus synthesis (md5-routed) +
# the extraction contract (semantics.clean_doc) at DEFAULT_CONFIG per
# route, emitting one row per doc: (doc_id, route, n_spans, content,
# title). The corpus's NFKC-probe chars fold (normalize_unicode=True) in
# every E8 route (html/xml/md/json/inter-text) but NOT in verbatim
# pdf_block text; the json route flattens valid payloads
# (flatten_json=True) and post-processes malformed ones raw.
def _extract_cte() -> str:
    from rag_document_parser_spark.corpus import NFKC_PROBE, NFKC_PROBE_FOLDS

    ftext = "rtext"
    for a, b in NFKC_PROBE_FOLDS:
        ftext = f"replace({ftext}, {_sq(a)}, {_sq(b)})"
    flat_json = (
        "'title: ' || source || chr(10) || 'count: ' || n_chars::VARCHAR"
    )
    json_cleaned = f"""CASE WHEN h2 % 5 = 1 THEN {_post_process_sql("jraw")}
             ELSE {_post_process_sql(flat_json)} END"""
    return f"""
WITH base AS (
  SELECT 'd-'||doc_id::VARCHAR||'-0' AS doc_id, text, source, n_chars,
         {_md5l("'d-'||doc_id::VARCHAR||'-0'")} AS h,
         ('0x'||substring(md5('d-'||doc_id::VARCHAR||'-0'),16,15))::BIGINT AS h2
  FROM documents
), routed AS (
  SELECT doc_id, source, n_chars, h, h2, h % 10 AS pick,
    CASE WHEN h2 % 4 = 0 THEN {_sq(NFKC_PROBE)} || text ELSE text END AS rtext
  FROM base
), folded AS (
  SELECT *, {ftext} AS ftext FROM routed
), html_out AS (
  SELECT doc_id,
    CASE WHEN cleaned <> '' THEN 'html' ELSE 'empty' END AS route,
    (CASE WHEN cleaned <> '' THEN 1 ELSE 0 END)::BIGINT AS n_spans,
    CASE WHEN cleaned <> '' THEN cleaned ELSE '' END AS content,
    CASE WHEN cleaned <> '' THEN
      nullif({_disp_sql(f"regexp_extract(wrapped, {P_TITLE}, 1)")}, '')
    END AS title
  FROM (
    SELECT doc_id, wrapped, {_post_process_sql(_DOM_JOINED)} AS cleaned
    FROM (SELECT doc_id, {_sq(HTML_PRE)} || ftext || {_sq(HTML_POST)} AS wrapped
          FROM folded WHERE pick < 3))
), xml_out AS (
  SELECT doc_id,
    CASE WHEN cleaned <> '' THEN 'text' ELSE 'empty' END AS route,
    (CASE WHEN cleaned <> '' THEN 1 ELSE 0 END)::BIGINT AS n_spans,
    CASE WHEN cleaned <> '' THEN cleaned ELSE '' END AS content,
    CAST(NULL AS VARCHAR) AS title
  FROM (
    SELECT doc_id,
      {_post_process_sql(_entity_chain(
          "regexp_replace(regexp_replace((" + _sq(XML_PRE) + " || ftext || "
          + _sq(XML_POST) + "), " + P_CDATA + ", " + _sq(chr(92) + "1")
          + ", 'g'), " + P_TAG + ", '', 'g')"))} AS cleaned
    FROM folded WHERE pick = 3)
), md_out AS (
  SELECT doc_id,
    CASE WHEN cleaned <> '' THEN 'text' ELSE 'empty' END AS route,
    (CASE WHEN cleaned <> '' THEN 1 ELSE 0 END)::BIGINT AS n_spans,
    CASE WHEN cleaned <> '' THEN cleaned ELSE '' END AS content,
    CAST(NULL AS VARCHAR) AS title
  FROM (
    SELECT doc_id,
      {_post_process_sql(_md_chain(
          f"({_sq(MD_PRE)} || ftext || {_sq(MD_POST)})"))} AS cleaned
    FROM folded WHERE pick = 4)
), json_out AS (
  SELECT doc_id,
    CASE WHEN cleaned <> '' THEN 'text' ELSE 'empty' END AS route,
    (CASE WHEN cleaned <> '' THEN 1 ELSE 0 END)::BIGINT AS n_spans,
    CASE WHEN cleaned <> '' THEN cleaned ELSE '' END AS content,
    CAST(NULL AS VARCHAR) AS title
  FROM (
    SELECT doc_id, {json_cleaned} AS cleaned
    FROM (
      SELECT doc_id, source, n_chars, h2,
        CASE WHEN h2 % 5 = 1 THEN '{{broken ' || source
             ELSE '{{"title": "' || source || '", "count": '
                  || n_chars::VARCHAR || '}}' END AS jraw
      FROM folded WHERE pick = 5))
), pdf_out AS (
  SELECT doc_id,
    CASE WHEN len(blocks) > 0 THEN 'pdf' ELSE 'empty' END AS route,
    len(blocks)::BIGINT AS n_spans,
    array_to_string(blocks, {NL2}) AS content,
    CAST(NULL AS VARCHAR) AS title
  FROM (
    SELECT doc_id, list_filter(
      list_transform(range(greatest(ceil(len(string_split(rtext,' '))/8.0),1)::INT),
        i -> array_to_string(list_slice(string_split(rtext,' '), i*8+1, i*8+8), ' ')),
      b -> b <> '') AS blocks
    FROM folded WHERE pick >= 6 AND pick < 8)
), inter_out AS (
  SELECT doc_id,
    CASE WHEN ptext <> '' THEN 'doc,media,pdf,text'
         ELSE 'doc,media,pdf' END AS route,
    (CASE WHEN ptext <> '' THEN 6 ELSE 5 END)::BIGINT AS n_spans,
    array_to_string(['[HEADER] '||source, ocr, nullif(ptext,''),
      'name | val' || chr(10) || repeat('-', 10) || chr(10)
        || source || ' | ' || n_chars::VARCHAR,
      '=== Slide ' || (h % 9 + 1)::VARCHAR || ' ===',
      CASE WHEN h % 2 = 1 THEN 'k1 | k2' || chr(10) || repeat('-', 7)
           ELSE 'k1 | k2' || chr(10) || repeat('-', 7) || chr(10)
                || source || ' | ' || (h % 9 + 1)::VARCHAR END], {NL2})
      AS content,
    CAST(NULL AS VARCHAR) AS title
  FROM (
    SELECT doc_id, source, n_chars, h, {_post_process_sql("ftext")} AS ptext,
      CASE WHEN (CASE WHEN h % 2 = 1 THEN w > 50 AND hh > 30
                      ELSE w > 100 AND hh > 50 END)
        THEN nullif(array_to_string(list_filter(string_split(slug, '-'),
             t -> ('0x'||substr(md5(slug||':'||t),1,8))::BIGINT / 4294967296.0
                  >= {DEFAULT_CONFIG.ocr_confidence_threshold}), ' '), '')
      END AS ocr
    FROM (
      SELECT doc_id, ftext, source, n_chars, h,
        (h % 360 + 41)::INT AS w, (h % 280 + 21)::INT AS hh,
        sw[(h % 8 + 1)::INT] || '-' || sw[((h+3) % 8 + 1)::INT] AS slug
      FROM folded, (SELECT {SLUG_SQL} AS sw)
      WHERE pick >= 8))
), extracted AS (
  SELECT * FROM html_out
  UNION ALL SELECT * FROM xml_out
  UNION ALL SELECT * FROM md_out
  UNION ALL SELECT * FROM json_out
  UNION ALL SELECT * FROM pdf_out
  UNION ALL SELECT * FROM inter_out
)
"""


CTE_EXTRACTED = _extract_cte()

# word tokens / shingles — mirrors operators.dedup.words / word_shingles
TOKS_SQL = ("list_filter(string_split_regex(lower({c}), '[^a-z0-9؀-ۿ]+'),"
            " t -> t <> '')")


def _shingles_sql(c: str, n: int) -> str:
    w = TOKS_SQL.format(c=c)
    return (f"CASE WHEN len({w}) >= {n} THEN "
            f"list_transform(range(1, len({w}) - {n - 2}), "
            f"i -> array_to_string(list_slice({w}, i, i + {n - 1}), ' ')) "
            f"ELSE []::VARCHAR[] END")


# union-with-clones input for the dedup-family queries: the synthetic docs
# have no duplicates, so clone doc_id<20 with id+1000000 to create dup groups
CLONED_SQL = ("(SELECT doc_id, text FROM documents UNION ALL "
              "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
              "WHERE doc_id < 20)")


def _cloned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    clones = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return docs.unionByName(clones)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _extract_projection(out: DataFrame) -> DataFrame:
    return out.select(
        "doc_id", "route",
        F.size("spans_clean").cast("long").alias("n_spans"),
        F.array_join(F.col("spans_clean").getField("text"), "\n\n").alias("content"),
        "title",
    )


# ---------------------------------------------------------------------------
# extraction-family queries
# ---------------------------------------------------------------------------


def q_extract_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2/E8/E10/E17/E21/E40 + L1 end-to-end."""
    out = J.extract(spans_df_from_documents(spark, sf_dir), stable=True)
    return _extract_projection(out)


def q_extract_content_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract through extract's exchange form, the one
    ``run_job`` uses."""
    out = J.extract(spans_df_from_documents(spark, sf_dir))
    return _extract_projection(out)


_EXTRACT_SELECT = "SELECT doc_id, route, n_spans, content, title FROM extracted"
SQL_EXTRACT = CTE_EXTRACTED + _EXTRACT_SELECT


def q_single_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 single-file source (/root/reference/main.py:72-147): the
    one-document form of the batch operator — a doc_id predicate pushed
    into the corpus scan ahead of extraction."""
    docs = spans_df_from_documents(spark, sf_dir) \
        .where(F.col("doc_id").isin("d-7-0", "d-11-0", "d-42-0"))
    out = J.extract(docs, stable=True)
    return _extract_projection(out)


SQL_SINGLE_DOC = SQL_EXTRACT + \
    " WHERE doc_id IN ('d-7-0', 'd-11-0', 'd-42-0')"


def q_route_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A8 report shape over extraction output."""
    out = J.extract(spans_df_from_documents(spark, sf_dir), stable=True)
    return by_route(out).select(
        "route", F.col("n_docs").cast("long").alias("n_docs"),
        F.col("success_rate").cast("double").alias("success_rate"),
        F.col("n_spans").cast("long").alias("n_spans"))


SQL_ROUTE_STATS = CTE_EXTRACTED + """
SELECT route, count(*)::BIGINT AS n_docs, 100.0::DOUBLE AS success_rate,
       sum(n_spans)::BIGINT AS n_spans
FROM extracted GROUP BY route"""


def q_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 summary report (reference main.py:302-330 shape).

    ``wall_us`` is the kernel's measured batch time, which no oracle can
    reproduce, so the gated report counts it as 0; lineage's ``wall_ms``
    carries the measured figure."""
    out = J.extract(spans_df_from_documents(spark, sf_dir), stable=True) \
        .withColumn("wall_us", F.lit(0).cast("long"))
    return summary_report(out).select(
        F.col("total_docs").cast("long"), F.col("successful").cast("long"),
        F.col("failed").cast("long"), F.col("success_rate").cast("double"),
        F.col("total_wall_us").cast("long"), F.col("total_spans").cast("long"))


SQL_SUMMARY = CTE_EXTRACTED + """
SELECT count(*)::BIGINT AS total_docs, count(*)::BIGINT AS successful,
       0::BIGINT AS failed, 100.0::DOUBLE AS success_rate,
       0::BIGINT AS total_wall_us, sum(n_spans)::BIGINT AS total_spans
FROM extracted"""


def q_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 validity predicate (/root/reference/models/parse_result.py:167-176)."""
    out = J.extract(spans_df_from_documents(spark, sf_dir), stable=True)
    return validity(out)


SQL_VALIDITY = CTE_EXTRACTED + \
    "SELECT doc_id, (n_spans > 0) AS is_valid FROM extracted"


# ---------------------------------------------------------------------------
# text-metadata queries over the raw documents table
# ---------------------------------------------------------------------------


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/E9 per-doc statistics + title heuristic."""
    c = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(c).cast("long").alias("character_count"),
        X.word_count(c).cast("long").alias("word_count"),
        X.line_count(c).cast("long").alias("line_count"),
        X.page_count_estimate(c).cast("long").alias("page_count"),
        X.title_heuristic(c).alias("title"),
    )


_FIRST = f"regexp_replace(string_split(text, chr(10))[1], {P_STRIP}, '', 'g')"
_STRIPPED = f"regexp_replace(text, {P_STRIP}, '', 'g')"
SQL_DOC_STATS = f"""
SELECT doc_id, length(text)::BIGINT AS character_count,
  (CASE WHEN {_STRIPPED} = '' THEN 0
        ELSE len(string_split_regex({_STRIPPED}, {P_WS})) END)::BIGINT AS word_count,
  len(string_split(text, chr(10)))::BIGINT AS line_count,
  greatest(1, floor(len(string_split(text, chr(10))) / 50.0))::BIGINT AS page_count,
  CASE WHEN {_FIRST} <> '' AND length({_FIRST}) < 100
        AND NOT ends_with({_FIRST}, '.')
        AND len(string_split_regex({_FIRST}, {P_WS})) <= 10
       THEN {_FIRST} END AS title
FROM documents"""


def q_arabic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A6/A7 arabic char stats + 2x language classification."""
    c = F.col("text")
    a = X.arabic_char_count(c).cast("long")
    return _docs(spark, sf_dir).select(
        "doc_id",
        a.alias("arabic_chars"),
        X.latin_char_count(c).cast("long").alias("latin_chars"),
        F.when(F.length(c) > 0, F.floor(a * 1000000 / F.length(c)))
        .otherwise(0).cast("long").alias("arabic_ppm"),
        X.language_classify(c).alias("language"),
    )


_ARA = f"(length(text) - length(regexp_replace(text, '[{S.ARABIC_RANGE}]', '', 'g')))::BIGINT"
_LAT = "(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::BIGINT"
SQL_ARABIC = f"""
SELECT doc_id, {_ARA} AS arabic_chars, {_LAT} AS latin_chars,
  (CASE WHEN length(text) > 0 THEN floor({_ARA} * 1000000 / length(text))
        ELSE 0 END)::BIGINT AS arabic_ppm,
  CASE WHEN {_ARA} > 2 * {_LAT} THEN 'primarily_arabic'
       WHEN {_LAT} > 2 * {_ARA} THEN 'primarily_english'
       ELSE 'mixed' END AS language
FROM documents"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-evidence language ID (training-data operator)."""
    out = T.language_id(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "lang_id",
        F.col("arabic_chars").cast("long"), F.col("latin_chars").cast("long"))


def _hits_sql(lang: str, c: str = "text") -> str:
    toks = TOKS_SQL.format(c=c)
    arr = "[" + ",".join(_sq(w) for w in T.STOPWORDS[lang]) + "]"
    return f"len(list_filter({toks}, t -> list_contains({arr}, t)))"


SQL_LANG_ID = f"""
WITH h AS (
  SELECT doc_id, {_ARA} AS a, {_LAT} AS l,
    {_hits_sql('en')} AS en, {_hits_sql('de')} AS de,
    {_hits_sql('fr')} AS fr, {_hits_sql('es')} AS es
  FROM documents
)
SELECT doc_id,
  CASE WHEN a > 2 * l THEN 'ar'
       WHEN greatest(en,de,fr,es) > 0 AND l > 0 THEN
         CASE WHEN en = greatest(en,de,fr,es) THEN 'en'
              WHEN de = greatest(en,de,fr,es) THEN 'de'
              WHEN fr = greatest(en,de,fr,es) THEN 'fr'
              ELSE 'es' END
       WHEN l > 0 THEN 'latin-und' ELSE 'und' END AS lang_id,
  a AS arabic_chars, l AS latin_chars
FROM h"""


def _multipara_text() -> "F.Column":
    """Multi-paragraph synthesis shared by the paragraph-language pair:
    an English-ish corpus slice, a planted German paragraph, a French
    paragraph for h%2==0, and a whitespace-only paragraph for h%5==0
    (must be dropped)."""
    h = _hcol(F.col("doc_id"))
    return F.concat(
        F.substring("text", 1, 60),
        F.lit("\n\nder die und das ist nicht ein"),
        F.when(h % 2 == 0,
               F.lit("\n\nle la les et est pour que")).otherwise(F.lit("")),
        F.when(h % 5 == 0, F.lit("\n\n \t ")).otherwise(F.lit("")))


def q_paragraph_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-paragraph language ID (operators/textstats.py
    paragraph_language — the CCNet granularity): blank-line split,
    whitespace-only paragraphs dropped, same evidence rules as lang_id,
    zero shuffles."""
    staged = _docs(spark, sf_dir).select(
        "doc_id", _multipara_text().alias("text"))
    out = T.paragraph_language(staged)
    return out.select("doc_id", "para_idx", "n_chars_para", "lang_id",
                      F.col("arabic_chars").cast("long"),
                      F.col("latin_chars").cast("long"))


def _sql_multipara() -> str:
    nn = "chr(10) || chr(10)"
    return f"""
SELECT doc_id,
       substring(text, 1, 60)
       || {nn} || 'der die und das ist nicht ein'
       || CASE WHEN h % 2 = 0
               THEN {nn} || 'le la les et est pour que' ELSE '' END
       || CASE WHEN h % 5 = 0
               THEN {nn} || ' ' || chr(9) || ' ' ELSE '' END AS t
FROM (SELECT doc_id, text, {_md5l('doc_id::VARCHAR')} AS h
      FROM documents)"""


def _sql_paragraph_rows() -> str:
    ara = ("(length(p) - length(regexp_replace(p,"
           f" '[{S.ARABIC_RANGE}]', '', 'g')))::BIGINT")
    lat = "(length(p) - length(regexp_replace(p, '[A-Za-z]', '', 'g')))::BIGINT"
    return f"""
d AS ({_sql_multipara()}),
sp AS (
  SELECT doc_id, generate_subscripts(arr, 1) - 1 AS para_idx,
         unnest(arr) AS p
  FROM (SELECT doc_id, string_split_regex(t, '\n{{2,}}') AS arr FROM d)
), pp AS (
  SELECT doc_id, para_idx::BIGINT AS para_idx, p,
         length(p)::BIGINT AS n_chars_para
  FROM sp WHERE length(regexp_replace(p, '\\s', '', 'g')) > 0
), ev AS (
  SELECT doc_id, para_idx, n_chars_para, {ara} AS a, {lat} AS l,
    {_hits_sql('en', 'p')} AS en, {_hits_sql('de', 'p')} AS de,
    {_hits_sql('fr', 'p')} AS fr, {_hits_sql('es', 'p')} AS es
  FROM pp
), pl AS (
  SELECT doc_id, para_idx, n_chars_para,
    CASE WHEN a > 2 * l THEN 'ar'
         WHEN greatest(en,de,fr,es) > 0 AND l > 0 THEN
           CASE WHEN en = greatest(en,de,fr,es) THEN 'en'
                WHEN de = greatest(en,de,fr,es) THEN 'de'
                WHEN fr = greatest(en,de,fr,es) THEN 'fr'
                ELSE 'es' END
         WHEN l > 0 THEN 'latin-und' ELSE 'und' END AS lang_id,
    a AS arabic_chars, l AS latin_chars
  FROM ev)"""


SQL_PARAGRAPH_LANG = f"""
WITH {_sql_paragraph_rows()}
SELECT doc_id, para_idx, n_chars_para, lang_id, arabic_chars, latin_chars
FROM pl"""


def q_lang_mixedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level language mixedness (operators/textstats.py
    language_mixedness): dominant paragraph language + its fraction —
    the keep/split/drop routing signal for mixed-language pages. The
    window runs over at most |languages| rows per doc."""
    staged = _docs(spark, sf_dir).select(
        "doc_id", _multipara_text().alias("text"))
    return T.language_mixedness(T.paragraph_language(staged))


SQL_LANG_MIXEDNESS = f"""
WITH {_sql_paragraph_rows()},
per AS (
  SELECT doc_id, lang_id, count(*)::BIGINT AS cnt
  FROM pl GROUP BY doc_id, lang_id
), ranked AS (
  SELECT doc_id, lang_id, cnt,
         sum(cnt) OVER (PARTITION BY doc_id) AS n_paras,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, lang_id ASC) AS rn
  FROM per)
SELECT doc_id, n_paras::BIGINT AS n_paras, lang_id AS dominant_lang,
       (cnt * 1000000 // n_paras)::BIGINT AS dominant_frac_e6
FROM ranked WHERE rn = 1"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring — floor-scaled so doubles compare exactly."""
    q = T.quality_exprs(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        q["n_chars"].cast("long").alias("n_chars"),
        q["n_words"].cast("long").alias("n_words"),
        F.floor(q["mean_word_len"] * 10000).cast("long").alias("mean_wlen_e4"),
        F.floor(q["alpha_ratio"] * 10000).cast("long").alias("alpha_e4"),
        F.floor(q["punct_ratio"] * 10000).cast("long").alias("punct_e4"),
        F.floor(q["stopword_ratio"] * 10000).cast("long").alias("stop_e4"),
        F.floor(q["quality_score"] * 10000).cast("long").alias("score_e4"),
    )


_QTOKS = TOKS_SQL.format(c="text")
_EN_SW = "[" + ",".join(_sq(w) for w in T.STOPWORDS["en"]) + "]"
SQL_QUALITY = f"""
WITH f AS (
  SELECT doc_id, length(text) AS n_chars, len({_QTOKS}) AS n_words,
    CASE WHEN len({_QTOKS}) > 0
         THEN list_sum(list_transform({_QTOKS}, t -> length(t)))::BIGINT
              / len({_QTOKS}) ELSE 0.0 END AS mean_wlen,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^A-Za-z{S.ARABIC_RANGE} ]', '', 'g'))
              / length(text) ELSE 0.0 END AS alpha_ratio,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len({_QTOKS}) > 0
         THEN len(list_filter({_QTOKS}, t -> list_contains({_EN_SW}, t)))
              / len({_QTOKS}) ELSE 0.0 END AS stop_ratio
  FROM documents
)
SELECT doc_id, n_chars::BIGINT AS n_chars, n_words::BIGINT AS n_words,
  floor(mean_wlen * 10000)::BIGINT AS mean_wlen_e4,
  floor(alpha_ratio * 10000)::BIGINT AS alpha_e4,
  floor(punct_ratio * 10000)::BIGINT AS punct_e4,
  floor(stop_ratio * 10000)::BIGINT AS stop_e4,
  floor(least(1.0, greatest(0.0,
    alpha_ratio * 0.6
    + least(stop_ratio * 4, 0.2)
    + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 12 THEN 0.2 ELSE 0.0 END)
    - (CASE WHEN punct_ratio > 0.1 THEN punct_ratio ELSE 0.0 END)
  )) * 10000)::BIGINT AS score_e4
FROM f"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021 §A1.1.2) — seven
    0/1 flags + keep, all integer cross-multiplications (no floats)."""
    return T.gopher_rules(_docs(spark, sf_dir))


_GOPHER_SW_HITS = " + ".join(
    f"(CASE WHEN list_contains(toks, '{s}') THEN 1 ELSE 0 END)"
    for s in T.GOPHER_REQUIRED_STOPWORDS)
_GOPHER_BULLETS = "[" + ", ".join(
    f"'{b}'" for b in T.GOPHER_BULLET_CHARS) + "]"
def _sql_gopher_rules(src: str = "documents") -> str:
    """Gopher-battery oracle fragment over any ``(doc_id, text)``
    relation — parameterized so `quality_chain` can aim it at the
    C4-cleaned text instead of raw ``documents``."""
    return f"""
WITH s AS (
  SELECT doc_id, text AS t, {_QTOKS} AS toks,
         string_split(text, chr(10)) AS lns
  FROM {src}
), m AS (
  SELECT doc_id,
    len(toks)::BIGINT AS n_words,
    coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT
      AS sum_wlen,
    (length(t) - length(replace(t, '#', '')))::BIGINT
      + ((length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g'))) / 3)::BIGINT
      + (length(t) - length(replace(t, '…', '')))::BIGINT AS n_sym,
    len(lns)::BIGINT AS n_lines,
    len(list_filter(lns, x -> list_contains({_GOPHER_BULLETS},
        substring(regexp_replace(x, '^[ \\t]+', ''), 1, 1))))::BIGINT
      AS bullet_lines,
    len(list_filter(lns, x -> regexp_matches(
        regexp_replace(x, '[ \\t\\r]+$', ''), '(\\.\\.\\.|…)$')))::BIGINT
      AS ell_lines,
    len(list_filter(toks, x -> regexp_matches(x, '[a-z{S.ARABIC_RANGE}]')))::BIGINT
      AS alpha_words,
    ({_GOPHER_SW_HITS})::BIGINT AS stop_hits
  FROM s
), fl AS (
  SELECT doc_id, n_words,
    (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)::INT
      AS word_count_ok,
    (CASE WHEN n_words > 0 AND sum_wlen >= 3 * n_words
               AND sum_wlen <= 10 * n_words THEN 1 ELSE 0 END)::INT
      AS mean_wlen_ok,
    (CASE WHEN n_words > 0 AND 10 * n_sym < n_words THEN 1 ELSE 0 END)::INT
      AS symbol_ok,
    (CASE WHEN 10 * bullet_lines <= 9 * n_lines THEN 1 ELSE 0 END)::INT
      AS bullet_ok,
    (CASE WHEN 10 * ell_lines <= 3 * n_lines THEN 1 ELSE 0 END)::INT
      AS ellipsis_ok,
    (CASE WHEN n_words > 0 AND 5 * alpha_words >= 4 * n_words
          THEN 1 ELSE 0 END)::INT AS alpha_ok,
    (CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END)::INT AS stopword_ok
  FROM m
)
SELECT *, (word_count_ok * mean_wlen_ok * symbol_ok * bullet_ok
           * ellipsis_ok * alpha_ok * stopword_ok)::INT AS keep
FROM fl"""


SQL_GOPHER_RULES = _sql_gopher_rules()


# sentence-ize the corpus deterministically: a period after every 5
# words (same non-overlapping global replace in Java regex and RE2)
_SENTIZE_RE = "([a-z0-9]+ [a-z0-9]+ [a-z0-9]+ [a-z0-9]+ [a-z0-9]+) "


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Flesch-style readability (textstats.readability)
    over the sentence-ized corpus: vowel-group syllable proxy, integer
    div at every step, NULL for word-less docs."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.col("text"), _SENTIZE_RE, "$1. ").alias("t"))
    out = T.readability(d, text_col="t")
    return out.select(F.col("doc_id").cast("long"), "n_sents", "n_words",
                      "n_syllables", "flesch_e3")


def _sql_readability() -> str:
    split = (r"list_filter(string_split(regexp_replace(t,"
             r" '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)),"
             r" x -> x <> '')")
    toks = TOKS_SQL.format(c="t")
    return f"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(text, '{_SENTIZE_RE}', '\\1. ', 'g') AS t
  FROM documents
), s AS (
  SELECT doc_id, len({split})::BIGINT AS n_sents, {toks} AS w FROM d
), m AS (
  SELECT doc_id, n_sents, len(w)::BIGINT AS n_words,
    coalesce(list_sum(list_transform(w,
      x -> greatest(len(string_split_regex(x, '[aeiouy]+')) - 1, 1))),
      0)::BIGINT AS n_syllables
  FROM s
)
SELECT doc_id::BIGINT AS doc_id, n_sents, n_words, n_syllables,
  (CASE WHEN n_words > 0 AND n_sents > 0
        THEN 206835 - n_words * 1015 // n_sents
                    - n_syllables * 84600 // n_words
        END)::BIGINT AS flesch_e3
FROM m"""


SQL_READABILITY = _sql_readability()


def q_source_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality prior (textstats.source_quality_prior): the
    CCNet/C4 per-domain routing signal — fraction of each source's docs
    clearing the integer word-count + alpha-share bar, in fixed point."""
    return T.source_quality_prior(_docs(spark, sf_dir)).select(
        "source", "n_docs", "n_pass", "pass_rate_e6", "total_words")


SQL_SOURCE_PRIOR = f"""
WITH s AS (
  SELECT source, len({TOKS_SQL.format(c='text')})::BIGINT AS nw,
         length(text)::BIGINT AS nc,
         length(regexp_replace(text, '[^A-Za-z{S.ARABIC_RANGE} ]', '', 'g'))
           ::BIGINT AS na
  FROM documents
), f AS (
  SELECT source, nw,
    (CASE WHEN nw >= 5 AND nw <= 100000 AND na * 1000 >= nc * 100
          THEN 1 ELSE 0 END)::BIGINT AS ok
  FROM s
)
SELECT source, count(*)::BIGINT AS n_docs, sum(ok)::BIGINT AS n_pass,
       (sum(ok) * 1000000 // count(*))::BIGINT AS pass_rate_e6,
       sum(nw)::BIGINT AS total_words
FROM f GROUP BY source"""


# card probes planted by doc_id % 6 (the _MOJI_SUFFIXES idiom): two
# Luhn-valid forms (bare + dash-separated), one failed-checksum decoy,
# one 20-digit run (too long — must yield NO candidate), a doublet
# (Amex 15 + Visa 13, both valid), and one clean suffix
_CARD_SUFFIXES = (
    " pay 4111111111111111 ok",
    " card 4111-1111-1111-1111 ref",
    " num 4111 1111 1111 1112 bad",
    " serial 12345678901234567890 long",
    " amex 378282246310005 visa 4222222222222",
    "",
)


def q_card_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated card scrub (pii.detect_cards): candidates are
    word-bounded 13-19 digit runs; only checksum-valid ones redact.
    Probes planted per doc_id % 6 cover valid/invalid/too-long forms."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sfx = F.element_at(F.lit(list(_CARD_SUFFIXES)),
                       (F.col("doc_id") % 6 + 1).cast("int"))
    planted = docs.select("doc_id",
                          F.concat(F.col("text"), sfx).alias("text"))
    out = PII.detect_cards(planted)
    return out.select(F.col("doc_id").cast("long"),
                      "n_card_candidates", "n_card_valid", "redacted")


def _sql_card_pii() -> str:
    cases = " ".join(
        f"WHEN {i} THEN {_sq(s)}" for i, s in enumerate(_CARD_SUFFIXES))
    return rf"""
WITH planted AS (
  SELECT doc_id, text || (CASE doc_id % 6 {cases} END) AS text
  FROM documents
), cand AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, '\b[0-9](?:[ \-]?[0-9]){{12,18}}\b'))
      AS c
  FROM planted
), scored AS (
  SELECT doc_id, c, replace(replace(c, ' ', ''), '-', '') AS d FROM cand
), flags AS (
  SELECT doc_id, c,
    (length(d) BETWEEN 13 AND 19 AND
     list_sum([CASE WHEN (length(d) - i) % 2 = 1
        THEN CASE WHEN cast(substring(d, i, 1) AS INT) * 2 > 9
                  THEN cast(substring(d, i, 1) AS INT) * 2 - 9
                  ELSE cast(substring(d, i, 1) AS INT) * 2 END
        ELSE cast(substring(d, i, 1) AS INT) END
        for i in range(1, length(d) + 1)]) % 10 = 0) AS ok
  FROM scored
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS nc, count_if(ok)::BIGINT AS nv,
         list_sort(list(c) FILTER (WHERE ok)) AS valids
  FROM flags GROUP BY doc_id
)
SELECT p.doc_id::BIGINT AS doc_id,
  coalesce(a.nc, 0)::BIGINT AS n_card_candidates,
  coalesce(a.nv, 0)::BIGINT AS n_card_valid,
  list_reduce(list_prepend(p.text, coalesce(a.valids, [])),
              (acc, x) -> replace(acc, x, '<CARD>')) AS redacted
FROM planted p LEFT JOIN agg a USING (doc_id)"""


SQL_CARD_PII = _sql_card_pii()


def q_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven source blocklist (textstats.source_reputation):
    sources with srcnum % 4 == 0 get 4/5 of their docs overwritten
    with one shared boilerplate body (dup-rate block), srcnum % 4 == 1
    get two of every three docs degraded below the word-count bar
    (quality block); the other half stay clean. min_docs=2 so the support gate
    engages at every test scale."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    srcnum = F.expr("cast(substring(source, 4) AS INT)")
    planted = docs.select(
        "source",
        F.when((srcnum % 4 == 0) & (F.col("doc_id") % 5 != 0),
               F.lit(_BOILER_BODY))
        .when((srcnum % 4 == 1) & (F.col("doc_id") % 3 != 0),
              F.lit("#@ 12"))
        .otherwise(F.col("text")).alias("text"))
    return T.source_reputation(planted, min_docs=2)


_BOILER_BODY = ("duplicate boilerplate page body shared across every "
                "page of this source")


def _sql_source_reputation() -> str:
    return f"""
WITH planted AS (
  SELECT source,
    CASE WHEN cast(substring(source, 4) AS INT) % 4 = 0
              AND doc_id % 5 != 0 THEN {_sq(_BOILER_BODY)}
         WHEN cast(substring(source, 4) AS INT) % 4 = 1
              AND doc_id % 3 != 0 THEN '#@ 12'
         ELSE text END AS text
  FROM documents
), s AS (
  SELECT source, len({TOKS_SQL.format(c='text')})::BIGINT AS nw,
         length(text)::BIGINT AS nc,
         length(regexp_replace(text, '[^A-Za-z{S.ARABIC_RANGE} ]', '', 'g'))
           ::BIGINT AS na,
         md5(text) AS h
  FROM planted
), f AS (
  SELECT source, nw, h,
    (CASE WHEN nw >= 5 AND nw <= 100000 AND na * 1000 >= nc * 100
          THEN 1 ELSE 0 END)::BIGINT AS ok
  FROM s
), agg AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(ok)::BIGINT AS n_pass,
         count(DISTINCT h)::BIGINT AS n_uniq
  FROM f GROUP BY source
)
SELECT source, n_docs, n_pass,
  (n_pass * 1000000 // n_docs)::BIGINT AS pass_rate_e6,
  n_uniq,
  ((n_docs - n_uniq) * 1000000 // n_docs)::BIGINT AS dup_rate_e6,
  (CASE WHEN n_docs >= 2 AND (n_pass * 1000000 // n_docs < 500000
        OR (n_docs - n_uniq) * 1000000 // n_docs > 500000)
        THEN 1 ELSE 0 END)::INT AS blocked
FROM agg"""


SQL_SOURCE_REPUTATION = _sql_source_reputation()


# license footers planted by doc_id % 8 (the _MOJI_SUFFIXES idiom):
# one per LICENSE_MARKERS label, one copyright-only line, one clean
_LICENSE_SUFFIXES = (
    " Licensed under a Creative Commons Attribution 4.0 license.",
    " This work is in the Public Domain.",
    " Released under the MIT License.",
    " Licensed under the Apache License, Version 2.0.",
    " Distributed under the GNU General Public License v3.",
    " Copyright 2024 Example Corp. All rights reserved.",
    " (c) copyright 2023 by the author.",
    "",
)


def q_license_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage-rights routing signals (textstats.license_signals): first-
    match LICENSE_MARKERS scan + copyright flag + the restricted bit a
    permissive-only corpus filters on, over documents with
    deterministically planted license footers."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sfx = F.element_at(F.lit(list(_LICENSE_SUFFIXES)),
                       (F.col("doc_id") % 8 + 1).cast("int"))
    planted = docs.select("doc_id",
                          F.concat(F.col("text"), sfx).alias("text"))
    out = T.license_signals(planted)
    return out.select(F.col("doc_id").cast("long"), "license",
                      F.col("has_copyright").cast("int"),
                      F.col("restricted").cast("int"))


def _sql_license_signals() -> str:
    from rag_document_parser_spark.operators.textstats import LICENSE_MARKERS

    def esc(s: str) -> str:
        return s.replace("'", "''")

    sfx_cases = " ".join(f"WHEN {i} THEN '{esc(s)}'"
                         for i, s in enumerate(_LICENSE_SUFFIXES))
    lic_whens = " ".join(
        f"WHEN position('{esc(needle)}' IN lc) > 0 THEN '{name}'"
        for name, needle in LICENSE_MARKERS)
    return f"""
WITH planted AS (
  SELECT doc_id,
         lower(text || (CASE doc_id % 8 {sfx_cases} END)) AS lc
  FROM documents
), lab AS (
  SELECT doc_id,
    CASE {lic_whens} ELSE 'none' END AS license,
    (CASE WHEN position('copyright' IN lc) > 0
            OR position(chr(169) IN lc) > 0 THEN 1 ELSE 0 END)::INT
      AS has_copyright
  FROM planted
)
SELECT doc_id::BIGINT AS doc_id, license, has_copyright,
  (CASE WHEN (license <> 'none' OR has_copyright = 1)
          AND license NOT IN ('cc', 'public-domain', 'mit', 'apache')
        THEN 1 ELSE 0 END)::INT AS restricted
FROM lab"""


SQL_LICENSE_SIGNALS = _sql_license_signals()


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) — line drop +
    rejoin transform with the document gate.

    The synthetic docs are single-line with no sentence punctuation, so
    (like ``line_repetition``) the query first derives a deterministic
    line-structured corpus: 5-word lines, every 4th line left without
    terminal punctuation — so the line gate, the rejoin, and the
    >=3-sentences document gate all vary per doc."""
    return T.c4_line_filter(_lined_docs(spark, sf_dir))


def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic line-structured corpus derived from `documents`:
    5-word lines, every 4th left without terminal punctuation (shared
    by `c4_line_filter` and `quality_chain`)."""
    d = _docs(spark, sf_dir)
    staged = d.select("doc_id", D.words(F.col("text")).alias("_w"))
    n_l = F.ceil(F.size("_w") / F.lit(5)).cast("int")
    lines = F.when(
        F.size("_w") > 0,
        F.transform(F.sequence(F.lit(1), n_l),
                    lambda i: F.concat(
                        F.array_join(F.slice("_w", (i - 1) * 5 + 1, 5), " "),
                        F.when(i % 4 == 0, F.lit("")).otherwise(F.lit(".")))),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select("doc_id", F.array_join(lines, "\n").alias("text"))


SQL_C4_LINE_FILTER = f"""
WITH w0 AS (
  SELECT doc_id, {_QTOKS} AS wt FROM documents
), lns0 AS (
  SELECT doc_id, CASE WHEN len(wt) > 0 THEN
    list_transform(range(1, ceil(len(wt)/5.0)::INT + 1),
      i -> array_to_string(list_slice(wt, (i-1)*5+1, (i-1)*5+5), ' ')
           || (CASE WHEN i % 4 = 0 THEN '' ELSE '.' END))
    ELSE []::VARCHAR[] END AS built
  FROM w0
), s AS (
  SELECT doc_id, coalesce(array_to_string(built, chr(10)), '') AS t,
         string_split(coalesce(array_to_string(built, chr(10)), ''),
                      chr(10)) AS lns
  FROM lns0
), k AS (
  SELECT doc_id, t, len(lns)::BIGINT AS n_lines,
    list_filter(lns, x ->
      regexp_matches(regexp_replace(x, '[ \\t\\r]+$', ''), '[.!?"]$')
      AND len(list_filter(
            string_split_regex(lower(x), '[^a-z0-9{S.ARABIC_RANGE}]+'),
            w -> w <> '')) >= 5
      AND NOT regexp_matches(lower(x), 'javascript')) AS kept
  FROM s
), c AS (
  -- array_to_string([]) is NULL in DuckDB but array_join([]) is ''
  -- in Spark: coalesce pins the empty-survivor case to ''
  SELECT doc_id, t, n_lines, len(kept)::BIGINT AS kept_lines,
         coalesce(array_to_string(kept, chr(10)), '') AS clean
  FROM k
), m AS (
  SELECT doc_id, n_lines, kept_lines,
    (length(clean) - length(translate(clean, '.!?', '')))::BIGINT
      AS sentences,
    (sentences >= 3 AND position('{{' IN t) = 0
     AND position('lorem ipsum' IN lower(t)) = 0) AS ok,
    clean
  FROM c
)
SELECT doc_id, n_lines, kept_lines, sentences,
  (CASE WHEN ok THEN 1 ELSE 0 END)::INT AS keep,
  CASE WHEN ok THEN clean END AS clean_text
FROM m"""


def q_quality_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed RefinedWeb-order quality chain — C4 line cleaning first
    (a transform), then the Gopher battery evaluated on the CLEANED
    text — the exact stage order `plans.curate(c4_lines=True,
    gopher=True)` uses, driver-gated here over the same derived
    line-structured corpus as `c4_line_filter`. Exercises the
    zero-shuffle `passthrough` threading: c4 verdict columns ride
    through the gopher projection, no join anywhere in the plan."""
    lined = _lined_docs(spark, sf_dir)
    c4 = T.c4_line_filter(lined)
    cleaned = c4.select(
        "doc_id", F.col("keep").alias("c4_keep"), "kept_lines",
        F.coalesce("clean_text", F.lit("")).alias("text"))
    g = T.gopher_rules(cleaned, passthrough=("c4_keep", "kept_lines"))
    return g.select(
        F.col("doc_id").cast("long"), F.col("c4_keep").cast("int"),
        F.col("kept_lines").cast("long"), F.col("n_words").cast("long"),
        F.col("word_count_ok").cast("int"),
        F.col("keep").cast("int").alias("gopher_keep"),
        (F.col("c4_keep") * F.col("keep")).cast("int").alias("keep"))


SQL_QUALITY_CHAIN = (
    "WITH c4 AS (" + SQL_C4_LINE_FILTER + "\n), src AS (\n"
    "  SELECT doc_id, keep AS c4_keep, kept_lines,\n"
    "         coalesce(clean_text, '') AS text\n"
    "  FROM c4\n"
    "), g AS (" + _sql_gopher_rules("src") + "\n)\n"
    "SELECT g.doc_id::BIGINT AS doc_id, src.c4_keep::INT AS c4_keep,\n"
    "  src.kept_lines::BIGINT AS kept_lines, g.n_words::BIGINT AS n_words,\n"
    "  g.word_count_ok::INT AS word_count_ok,\n"
    "  g.keep::INT AS gopher_keep, (src.c4_keep * g.keep)::INT AS keep\n"
    "FROM g JOIN src USING (doc_id)")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (training-data operator)."""
    out = T.token_count(_docs(spark, sf_dir))
    return out.select("doc_id", F.col("ws_tokens").cast("long"),
                      F.col("bpe_est_tokens").cast("long"))


_LRUNS = ("list_filter(string_split_regex(lower(text), '[^a-z؀-ۿ]+'),"
          " t -> t <> '')")
_DRUNS = "list_filter(string_split_regex(lower(text), '[^0-9]+'), t -> t <> '')"
SQL_TOKEN_COUNT = f"""
SELECT doc_id, len({_QTOKS})::BIGINT AS ws_tokens,
  (coalesce(list_sum(list_transform({_LRUNS},
       t -> greatest(ceil(length(t)/4.0), 1)::BIGINT)), 0)
   + len({_DRUNS})
   + length(regexp_replace(lower(text), '[a-z0-9؀-ۿ \\t\\n\\r]', '', 'g'))
  )::BIGINT AS bpe_est_tokens
FROM documents"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bernoulli sample — eval-set construction operator
    (no reference analog; scale-path addition per SURVEY §6). Membership
    is a scan-local md5 predicate, reproducible across engines/runs."""
    out = SAM.hash_sample(_docs(spark, sf_dir), rate=0.25, salt="evalv1")
    return out.select("doc_id", "lang", F.col("n_chars").cast("long"))


# 0.25 * 16^8 = 0x40000000; lowercase fixed-width hex compares like the
# underlying u32 in both engines.
SQL_HASH_SAMPLE = """
SELECT doc_id, lang, n_chars::BIGINT AS n_chars FROM documents
WHERE substr(md5(doc_id::VARCHAR || 'evalv1'), 1, 8) < '40000000'"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sample: exactly min(k, |stratum|) docs per
    lang, drawn by md5 order (two-stage rank keeps popular strata from
    funnelling through one task)."""
    out = SAM.stratified_sample(_docs(spark, sf_dir), k=7,
                                strata_col="lang", salt="s1")
    return out.select("doc_id", "lang",
                      F.col("sample_rank").cast("long"))


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, sample_rank::BIGINT AS sample_rank FROM (
  SELECT doc_id, lang, row_number() OVER (
      PARTITION BY lang
      ORDER BY substr(md5(doc_id::VARCHAR || 's1'), 1, 8), doc_id
    ) AS sample_rank
  FROM documents)
WHERE sample_rank <= 7"""


_WS_K = 40


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional top-k draw (integer exponential race,
    operators/sampling.py weighted_sample): longer docs win
    proportionally more often, deterministically — priority is
    ``md5_60bit(doc_id) div n_chars``, smallest k win."""
    out = SAM.weighted_sample(_docs(spark, sf_dir), k=_WS_K,
                              weight_col="n_chars", salt="w1")
    return out.select("doc_id", "n_chars",
                      F.col("sample_rank").cast("long"))


SQL_WEIGHTED_SAMPLE = f"""
SELECT doc_id, n_chars, sample_rank::BIGINT AS sample_rank FROM (
  SELECT doc_id, n_chars, row_number() OVER (
      ORDER BY ('0x'||substring(md5(doc_id::VARCHAR || 'w1'),1,15))::BIGINT
               // greatest(n_chars, 1) ASC, doc_id ASC
    ) AS sample_rank
  FROM documents)
WHERE sample_rank <= {_WS_K}"""


_MIX_WEIGHTS = {"en": 2.5, "de": 0.0, "fr": 1.0}
_MIX_DEFAULT = 0.5


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling (Pile/DoReMi-style domain
    reweighting): per-lang weight w emits floor(w) copies of each doc
    plus one more iff its md5 key falls under frac(w) — downsampling
    and upsampling through one scan-local rule, reproducible at any
    parallelism (no reference analog; SURVEY §6 scale path)."""
    out = SAM.resample_by_group(_docs(spark, sf_dir), _MIX_WEIGHTS,
                                "lang", salt="mixv1",
                                default_weight=_MIX_DEFAULT)
    return out.select("doc_id", "lang", "copy")


def _sql_mixture() -> str:
    def hx(frac: float) -> str:
        return format(min(int(frac * 16 ** 8), 16 ** 8 - 1), "08x")

    base = " ".join(f"WHEN '{g}' THEN {int(w)}"
                    for g, w in _MIX_WEIGHTS.items())
    thr = " ".join(f"WHEN '{g}' THEN '{hx(w - int(w))}'"
                   for g, w in _MIX_WEIGHTS.items())
    return f"""
WITH w AS (
  SELECT doc_id, lang,
    (CASE lang {base} ELSE {int(_MIX_DEFAULT)} END
     + CASE WHEN substr(md5(doc_id::VARCHAR || 'mixv1'), 1, 8)
                 < CASE lang {thr}
                   ELSE '{hx(_MIX_DEFAULT - int(_MIX_DEFAULT))}' END
            THEN 1 ELSE 0 END)::BIGINT AS n
  FROM documents)
SELECT doc_id, lang, unnest(range(1, n + 1))::BIGINT AS copy
FROM w WHERE n > 0"""


SQL_MIXTURE_RESAMPLE = _sql_mixture()


_SPLIT_FRACTIONS = {"train": 0.7, "val": 0.2, "test": 0.1}


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by md5 range: exactly
    disjoint, exhaustive, stable under repartitioning — the property
    randomSplit cannot give. Scan-local chained range compare."""
    out = SAM.hash_split(_docs(spark, sf_dir), _SPLIT_FRACTIONS,
                         salt="splitv1")
    return out.select("doc_id", "lang", "split")


def _sql_hash_split() -> str:
    key = "substr(md5(doc_id::VARCHAR || 'splitv1'), 1, 8)"
    names = list(_SPLIT_FRACTIONS)
    cum, whens = 0.0, []
    for name in names[:-1]:
        cum += _SPLIT_FRACTIONS[name]
        bound = format(min(int(cum * 16 ** 8), 16 ** 8 - 1), "08x")
        whens.append(f"WHEN {key} < '{bound}' THEN '{name}'")
    return f"""
SELECT doc_id, lang,
  CASE {' '.join(whens)} ELSE '{names[-1]}' END AS split
FROM documents"""


SQL_HASH_SPLIT = _sql_hash_split()
_PACK_BUDGET = 1000
_PACK_BUCKETS = 8


_CHUNK_MAX = 32
_CHUNK_OVER = 8
_CHUNK_STRIDE = _CHUNK_MAX - _CHUNK_OVER


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking — zero-shuffle sliding token windows."""
    from rag_document_parser_spark.operators.chunking import chunk_documents

    out = chunk_documents(_docs(spark, sf_dir), _CHUNK_MAX, _CHUNK_OVER)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("chunk_idx").cast("long"),
                      F.col("start_tok").cast("long"),
                      F.col("n_tok").cast("long"), "chunk_text")


SQL_DOC_CHUNKS = f"""
WITH tk AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS t,
         len({TOKS_SQL.format(c='text')}) AS n
  FROM documents
), st AS (
  SELECT doc_id, t, n,
    unnest(list_transform(
      range(0, greatest(0, (n - {_CHUNK_OVER} - 1) // {_CHUNK_STRIDE}) + 1),
      i -> {{'ci': i, 'st': i * {_CHUNK_STRIDE}}})) AS u
  FROM tk WHERE n > 0
)
SELECT doc_id::BIGINT AS doc_id, (u.ci)::BIGINT AS chunk_idx,
  (u.st)::BIGINT AS start_tok,
  least({_CHUNK_MAX}, n - u.st)::BIGINT AS n_tok,
  array_to_string(t[u.st + 1 : u.st + least({_CHUNK_MAX}, n - u.st)], ' ')
    AS chunk_text
FROM st"""


_RW_WINDOW = 8


def q_repeated_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus repeated token windows (substring-dedup signal)."""
    out = REP.repeated_windows(_docs(spark, sf_dir), window=_RW_WINDOW)
    return out.select("whash", F.col("n_docs").cast("long"),
                      F.col("n_occurrences").cast("long"))


_SQL_RW_BASE = f"""
WITH tk AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS t,
         len({TOKS_SQL.format(c='text')}) AS n
  FROM documents
), wh AS (
  SELECT doc_id,
    CASE WHEN n >= {_RW_WINDOW}
         THEN list_transform(range(1, n - {_RW_WINDOW - 2}),
           i -> md5(array_to_string(t[i : i + {_RW_WINDOW - 1}], ' ')))
         ELSE []::VARCHAR[] END AS ws
  FROM tk
), ex AS (
  SELECT doc_id, unnest(ws) AS whash FROM wh
)"""

SQL_REPEATED_WINDOWS = _SQL_RW_BASE + """
SELECT whash, count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_occurrences
FROM ex GROUP BY whash HAVING count(DISTINCT doc_id) >= 2"""


def q_remove_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup: excise every cross-corpus repeated
    window's tokens from each doc (Lee et al. 2022 §4 — remove the
    span, keep the doc)."""
    docs = _docs(spark, sf_dir)
    rep = REP.repeated_windows(docs, window=_RW_WINDOW)
    out = REP.remove_repeated_windows(docs, rep, window=_RW_WINDOW)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("n_tokens").cast("long"),
                      F.col("n_removed").cast("long"), "cleaned")


SQL_REMOVE_REPEATED = _SQL_RW_BASE + f"""
, rep AS (
  SELECT whash FROM ex GROUP BY whash HAVING count(DISTINCT doc_id) >= 2
), exp AS (
  SELECT doc_id, unnest(ws) AS whash, generate_subscripts(ws, 1) AS s
  FROM wh
), rs AS (
  SELECT e.doc_id, e.s FROM exp e JOIN rep USING (whash)
), cov AS (
  SELECT DISTINCT doc_id, s + r.range AS p
  FROM rs, range({_RW_WINDOW}) r
), tokp AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p FROM tk
), kept AS (
  SELECT tp.doc_id, tp.tok, tp.p
  FROM tokp tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.p = tp.p
  WHERE c.p IS NULL
), agg AS (
  SELECT doc_id, count(*) AS nk,
         string_agg(tok, ' ' ORDER BY p) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT tk.doc_id::BIGINT AS doc_id, tk.n::BIGINT AS n_tokens,
  (tk.n - coalesce(agg.nk, 0))::BIGINT AS n_removed,
  coalesce(agg.cleaned, '') AS cleaned
FROM tk LEFT JOIN agg USING (doc_id)"""


def q_decontam_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap surgery (repetition.decontaminate_surgery):
    every window of the deterministic 10% held-out sample (same eval
    set as `decontam`) is excised from every corpus doc — the doc
    survives with the leaking spans cut out, instead of being dropped.
    Sampled docs overlap themselves fully, so they clean to empty; the
    interesting rows are unsampled docs sharing template windows."""
    d = _docs(spark, sf_dir)
    ev = SAM.hash_sample(d, rate=0.1, salt="contam")
    out = REP.decontaminate_surgery(d, ev, window=_RW_WINDOW)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("n_tokens").cast("long"),
                      F.col("n_removed").cast("long"), "cleaned")


# threshold string must come from the SAME computation the operator uses
_CONTAM_THR = SAM._threshold(0.1)
SQL_DECONTAM_SURGERY = _SQL_RW_BASE + f"""
, rep AS (
  SELECT DISTINCT whash FROM ex
  WHERE substr(md5(doc_id::VARCHAR || 'contam'), 1, 8) < '{_CONTAM_THR}'
), exp AS (
  SELECT doc_id, unnest(ws) AS whash, generate_subscripts(ws, 1) AS s
  FROM wh
), rs AS (
  SELECT e.doc_id, e.s FROM exp e JOIN rep USING (whash)
), cov AS (
  SELECT DISTINCT doc_id, s + r.range AS p
  FROM rs, range({_RW_WINDOW}) r
), tokp AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p FROM tk
), kept AS (
  SELECT tp.doc_id, tp.tok, tp.p
  FROM tokp tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.p = tp.p
  WHERE c.p IS NULL
), agg AS (
  SELECT doc_id, count(*) AS nk,
         string_agg(tok, ' ' ORDER BY p) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT tk.doc_id::BIGINT AS doc_id, tk.n::BIGINT AS n_tokens,
  (tk.n - coalesce(agg.nk, 0))::BIGINT AS n_removed,
  coalesce(agg.cleaned, '') AS cleaned
FROM tk LEFT JOIN agg USING (doc_id)"""


def q_repeated_window_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repeated-window fraction (fixed-point)."""
    out = REP.repeated_window_fraction(_docs(spark, sf_dir),
                                       window=_RW_WINDOW)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("n_windows").cast("long"),
                      F.col("n_repeated").cast("long"),
                      F.col("repeated_e6").cast("long"))


SQL_REPEATED_WINDOW_FRAC = _SQL_RW_BASE + """
, rep AS (
  SELECT whash FROM ex GROUP BY whash HAVING count(DISTINCT doc_id) >= 2
), agg AS (
  SELECT ex.doc_id, count(*) AS nw,
    sum(CASE WHEN rep.whash IS NOT NULL THEN 1 ELSE 0 END) AS nr
  FROM ex LEFT JOIN rep USING (whash) GROUP BY ex.doc_id
)
SELECT tk.doc_id::BIGINT AS doc_id,
  coalesce(agg.nw, 0)::BIGINT AS n_windows,
  coalesce(agg.nr, 0)::BIGINT AS n_repeated,
  (CASE WHEN coalesce(agg.nw, 0) > 0 THEN agg.nr * 1000000 // agg.nw
        ELSE 0 END)::BIGINT AS repeated_e6
FROM tk LEFT JOIN agg USING (doc_id)"""


_LM_SCALE = 1_000_000
_LM_MIN_COUNT = 2


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: a bigram LM trained on the corpus
    itself (min_count prunes the hapax tail), every doc scored by the
    integer mean of fixed-point conditional probabilities — ln() is not
    bitwise-portable across engines, integer div is."""
    from rag_document_parser_spark.operators.lm import (
        score_bigram_lm, train_bigram_lm)

    docs = _docs(spark, sf_dir)
    lm = train_bigram_lm(docs, scale=_LM_SCALE, min_count=_LM_MIN_COUNT)
    out = score_bigram_lm(docs, lm)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("n_bigrams").cast("long"),
                      F.col("lm_score").cast("long"))


SQL_LM_SCORE = f"""
WITH tk AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS t FROM documents
), bg AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         ELSE []::VARCHAR[] END AS bgs
  FROM tk
), e AS (
  SELECT doc_id, unnest(bgs) AS bigram FROM bg
), uni AS (
  SELECT w1, count(*) AS uc FROM (SELECT unnest(t) AS w1 FROM tk) GROUP BY w1
), bi AS (
  SELECT bigram, count(*) AS bc FROM e GROUP BY bigram
  HAVING count(*) >= {_LM_MIN_COUNT}
), lm AS (
  SELECT bigram, bc * {_LM_SCALE} // uc AS cond_e
  FROM bi JOIN uni ON split_part(bigram, ' ', 1) = uni.w1
), agg AS (
  SELECT e.doc_id, count(*)::BIGINT AS n_bigrams,
    sum(coalesce(lm.cond_e, 0)) AS s
  FROM e LEFT JOIN lm USING (bigram) GROUP BY e.doc_id
)
SELECT tk.doc_id::BIGINT AS doc_id,
  coalesce(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
  (CASE WHEN coalesce(agg.n_bigrams, 0) > 0 THEN agg.s // agg.n_bigrams
        ELSE 0 END)::BIGINT AS lm_score
FROM tk LEFT JOIN agg USING (doc_id)"""


# shared CTE prefix for the two Kneser-Ney twins: unpruned bigram
# counts, context mass/fan-out, continuation counts — the exact
# integer statistics _kn_tables derives (operators/lm.py)
_SQL_KN_BASE = f"""
WITH tk AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS t FROM documents
), bg AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         ELSE []::VARCHAR[] END AS bgs
  FROM tk
), e AS (
  SELECT doc_id, unnest(bgs) AS bigram FROM bg
), allbi AS (
  SELECT bigram, count(*) AS bc FROM e GROUP BY bigram
), bi AS (
  SELECT bigram, bc, split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2
  FROM allbi
), fol AS (
  SELECT w1, sum(bc) AS uc1, count(*) AS n1f FROM bi GROUP BY w1
), lam AS (
  SELECT w1, 3 * n1f * {_LM_SCALE} // (4 * uc1) AS lambda_e FROM fol
), cont AS (
  SELECT w2, count(*) * {_LM_SCALE} // (SELECT count(*) FROM bi) AS cont_e
  FROM bi GROUP BY w2
), bigr AS (
  SELECT bigram, bi.w1, bi.w2,
         greatest(4 * bc - 3, 0) * {_LM_SCALE} // (4 * uc1) AS disc_e
  FROM bi JOIN fol USING (w1) WHERE bc >= {_LM_MIN_COUNT}
)"""


def q_kn_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1998) trained on the corpus: the 500 highest-probability
    kept bigrams with their fixed-point discount / interpolation /
    continuation parts (deterministic bigram tie-break)."""
    from rag_document_parser_spark.operators.lm import train_kn_bigram_lm

    docs = _docs(spark, sf_dir)
    lm = train_kn_bigram_lm(docs, scale=_LM_SCALE,
                            min_count=_LM_MIN_COUNT)
    return (lm.orderBy(F.col("p_kn_e").desc(), "bigram").limit(500)
            .select("bigram", F.col("disc_e").cast("long"),
                    F.col("lambda_e").cast("long"),
                    F.col("cont_e").cast("long"),
                    F.col("p_kn_e").cast("long")))


SQL_KN_LM = _SQL_KN_BASE + f"""
SELECT bigram, disc_e::BIGINT AS disc_e, lam.lambda_e::BIGINT AS lambda_e,
       cont.cont_e::BIGINT AS cont_e,
       (disc_e + lam.lambda_e * cont.cont_e // {_LM_SCALE})::BIGINT AS p_kn_e
FROM bigr JOIN lam USING (w1) JOIN cont USING (w2)
ORDER BY p_kn_e DESC, bigram LIMIT 500"""


def q_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Kneser-Ney LM fit: integer mean of interpolated-KN
    occurrence probabilities — unseen bigrams keep their backoff mass
    lambda(w1)*P_cont(w2) instead of the unsmoothed hard zero."""
    from rag_document_parser_spark.operators.lm import score_kn_bigram_lm

    docs = _docs(spark, sf_dir)
    out = score_kn_bigram_lm(docs, scale=_LM_SCALE,
                             min_count=_LM_MIN_COUNT)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("n_bigrams").cast("long"),
                      F.col("kn_score").cast("long"))


SQL_KN_SCORE = _SQL_KN_BASE + f"""
, occ AS (
  SELECT e.doc_id,
    coalesce(bigr.disc_e, 0)
      + coalesce(lam.lambda_e, 0) * coalesce(cont.cont_e, 0)
        // {_LM_SCALE} AS occ_e
  FROM e LEFT JOIN bigr USING (bigram)
    LEFT JOIN lam ON split_part(e.bigram, ' ', 1) = lam.w1
    LEFT JOIN cont ON split_part(e.bigram, ' ', 2) = cont.w2
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(occ_e) AS s
  FROM occ GROUP BY doc_id
)
SELECT tk.doc_id::BIGINT AS doc_id,
  coalesce(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
  (CASE WHEN coalesce(agg.n_bigrams, 0) > 0 THEN agg.s // agg.n_bigrams
        ELSE 0 END)::BIGINT AS kn_score
FROM tk LEFT JOIN agg USING (doc_id)"""


def q_jm_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer deleted-interpolation EM (2 fixed-point rounds):
    bigram-vs-unigram mixing weight fitted on a held-out fifth of the
    corpus against models trained on the other four fifths."""
    from rag_document_parser_spark.operators.lm import fit_jm_lambda

    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    return fit_jm_lambda(train, held, rounds=2,
                         min_count=_LM_MIN_COUNT)


SQL_JM_LAMBDA = f"""
WITH tk AS (
  SELECT {TOKS_SQL.format(c='text')} AS t FROM documents
  WHERE doc_id % 5 <> 0
), uni AS (
  SELECT w1, count(*)::BIGINT AS uc
  FROM (SELECT unnest(t) AS w1 FROM tk) z GROUP BY w1
), bg AS (
  SELECT CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         ELSE []::VARCHAR[] END AS bgs
  FROM tk
), e AS (
  SELECT unnest(bgs) AS bigram FROM bg
), bi AS (
  SELECT bigram, count(*)::BIGINT AS bc FROM e GROUP BY bigram
  HAVING count(*) >= {_LM_MIN_COUNT}
), lm AS (
  SELECT bigram, bc * {_LM_SCALE} // uc AS pb
  FROM bi JOIN uni ON split_part(bigram, ' ', 1) = uni.w1
), tot AS (
  SELECT sum(uc)::BIGINT AS tt FROM uni
), puni AS (
  SELECT w1 AS w2, uc * {_LM_SCALE} // (SELECT tt FROM tot) AS pu
  FROM uni
), htk AS (
  SELECT {TOKS_SQL.format(c='text')} AS t FROM documents
  WHERE doc_id % 5 = 0
), hbg AS (
  SELECT CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         ELSE []::VARCHAR[] END AS bgs
  FROM htk
), he AS (
  SELECT unnest(bgs) AS bigram FROM hbg
), occ AS (
  SELECT coalesce(lm.pb, 0) AS pb, coalesce(puni.pu, 0) AS pu
  FROM he LEFT JOIN lm USING (bigram)
    LEFT JOIN puni ON split_part(he.bigram, ' ', 2) = puni.w2
  WHERE coalesce(lm.pb, 0) + coalesce(puni.pu, 0) > 0
), n AS (
  SELECT count(*)::BIGINT AS c FROM occ
), l1 AS (
  SELECT (sum(500000::HUGEINT * pb * 1000000
              // (500000::HUGEINT * pb + 500000 * pu))
          // (SELECT c FROM n))::BIGINT AS v
  FROM occ
), l2 AS (
  SELECT (sum((SELECT v FROM l1)::HUGEINT * pb * 1000000
              // ((SELECT v FROM l1)::HUGEINT * pb
                  + (1000000 - (SELECT v FROM l1)) * pu))
          // (SELECT c FROM n))::BIGINT AS v
  FROM occ
)
SELECT 1::BIGINT AS round, (SELECT v FROM l1) AS lambda_e6,
       (SELECT c FROM n) AS n_scored
UNION ALL
SELECT 2::BIGINT, (SELECT v FROM l2), (SELECT c FROM n)"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): English docs as
    the target domain, every doc scored against the target LM and the
    raw-corpus LM in one bigram pass, top-100 by fixed-point importance
    weight (deterministic doc_id tie-break)."""
    from rag_document_parser_spark.operators.lm import dsir_select

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("lang") == "en")
    out = dsir_select(docs, target, k=100, scale=_LM_SCALE,
                      min_count=_LM_MIN_COUNT)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("n_bigrams").cast("long"),
                      F.col("target_score").cast("long"),
                      F.col("raw_score").cast("long"),
                      F.col("weight").cast("long"))


SQL_DSIR_SELECT = f"""
WITH tk AS (
  SELECT doc_id, lang, {TOKS_SQL.format(c='text')} AS t FROM documents
), bg AS (
  SELECT doc_id, lang,
    CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         ELSE []::VARCHAR[] END AS bgs
  FROM tk
), e AS (
  SELECT doc_id, lang, unnest(bgs) AS bigram FROM bg
), uni_r AS (
  SELECT w1, count(*) AS uc FROM (SELECT unnest(t) AS w1 FROM tk) GROUP BY w1
), bi_r AS (
  SELECT bigram, count(*) AS bc FROM e GROUP BY bigram
  HAVING count(*) >= {_LM_MIN_COUNT}
), lm_r AS (
  SELECT bigram, bc * {_LM_SCALE} // uc AS cond_r
  FROM bi_r JOIN uni_r ON split_part(bigram, ' ', 1) = uni_r.w1
), uni_t AS (
  SELECT w1, count(*) AS uc
  FROM (SELECT unnest(t) AS w1 FROM tk WHERE lang = 'en') GROUP BY w1
), bi_t AS (
  SELECT bigram, count(*) AS bc FROM e WHERE lang = 'en' GROUP BY bigram
  HAVING count(*) >= {_LM_MIN_COUNT}
), lm_t AS (
  SELECT bigram, bc * {_LM_SCALE} // uc AS cond_t
  FROM bi_t JOIN uni_t ON split_part(bigram, ' ', 1) = uni_t.w1
), agg AS (
  SELECT e.doc_id, count(*)::BIGINT AS n_bigrams,
    sum(coalesce(lm_t.cond_t, 0)) AS st,
    sum(coalesce(lm_r.cond_r, 0)) AS sr
  FROM e LEFT JOIN lm_t USING (bigram) LEFT JOIN lm_r USING (bigram)
  GROUP BY e.doc_id
), w AS (
  SELECT tk.doc_id::BIGINT AS doc_id,
    coalesce(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
    (CASE WHEN coalesce(agg.n_bigrams, 0) > 0
          THEN agg.st // agg.n_bigrams ELSE 0 END)::BIGINT AS target_score,
    (CASE WHEN coalesce(agg.n_bigrams, 0) > 0
          THEN agg.sr // agg.n_bigrams ELSE 0 END)::BIGINT AS raw_score
  FROM tk LEFT JOIN agg USING (doc_id)
)
SELECT doc_id, n_bigrams, target_score, raw_score,
  (target_score - raw_score)::BIGINT AS weight
FROM w
ORDER BY weight DESC, doc_id
LIMIT 100"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.3): LM-fit score per doc, corpus-percentile value thresholds
    from the exact compacted score distribution (no percentile_approx,
    no float), ties land whole in one bucket."""
    from rag_document_parser_spark.operators.lm import perplexity_buckets

    out = perplexity_buckets(_docs(spark, sf_dir), scale=_LM_SCALE,
                             min_count=_LM_MIN_COUNT)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("n_bigrams").cast("long"),
                      F.col("lm_score").cast("long"), "bucket")


SQL_CCNET_BUCKETS = (
    "WITH sc AS (" + SQL_LM_SCORE + "\n), d AS (\n"
    "  SELECT lm_score, count(*) AS c FROM sc GROUP BY lm_score\n"
    "), cum AS (\n"
    "  SELECT lm_score, sum(c) OVER (ORDER BY lm_score DESC) AS cum,\n"
    "         sum(c) OVER () AS n\n"
    "  FROM d\n"
    "), thr AS (\n"
    "  SELECT min(CASE WHEN 100 * cum <= 30 * n THEN lm_score END)"
    " AS t_head,\n"
    "         min(CASE WHEN 100 * cum <= 60 * n THEN lm_score END)"
    " AS t_mid\n"
    "  FROM cum\n"
    ")\n"
    "SELECT sc.doc_id, sc.n_bigrams, sc.lm_score,\n"
    "  CASE WHEN sc.lm_score >= thr.t_head THEN 'head'\n"
    "       WHEN sc.lm_score >= thr.t_mid THEN 'middle'\n"
    "       ELSE 'tail' END AS bucket\n"
    "FROM sc, thr")


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into token-budget training shards — per-bucket
    window running sum, never a global sort (training-data operator,
    no reference analog)."""
    from rag_document_parser_spark.operators.packing import pack_shards

    out = pack_shards(_docs(spark, sf_dir), _PACK_BUDGET,
                      n_buckets=_PACK_BUCKETS)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("bucket").cast("long"), "shard",
                      F.col("n_tokens").cast("long"),
                      F.col("tok_offset").cast("long"))


_SQL_PACK_OFFSETS = f"""
WITH s AS (
  SELECT doc_id, md5(doc_id::VARCHAR) AS k,
    {_md5l('doc_id::VARCHAR')} % {_PACK_BUCKETS} AS bucket,
    len({TOKS_SQL.format(c='text')})::BIGINT AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, bucket, n_tokens,
    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY k, doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
  FROM s
)"""

SQL_PACK_SHARDS = _SQL_PACK_OFFSETS + f"""
SELECT doc_id::BIGINT AS doc_id, bucket::BIGINT AS bucket,
  bucket::VARCHAR || ':' || (tok_offset // {_PACK_BUDGET})::VARCHAR AS shard,
  n_tokens, tok_offset::BIGINT AS tok_offset
FROM o"""


_STREAM_LEN = 128


def q_pack_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style token-stream packing manifest (packing.
    pack_token_stream): docs concatenated per bucket in md5 key order,
    cut at exact 128-token boundaries; one row per (sequence, doc)
    intersection with integer start/length columns. seq_len=128 vs
    ~50-token docs makes straddling sequences the common case."""
    from rag_document_parser_spark.operators.packing import (
        pack_token_stream)

    out = pack_token_stream(_docs(spark, sf_dir), _STREAM_LEN,
                            n_buckets=_PACK_BUCKETS)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("bucket").cast("long"), "seq", "seq_idx",
                      "tok_start_in_seq", "tok_start_in_doc", "n_tok")


SQL_PACK_STREAM = _SQL_PACK_OFFSETS + f"""
, x AS (
  SELECT doc_id, bucket, n_tokens, tok_offset,
    unnest(generate_series(
        (tok_offset // {_STREAM_LEN})::BIGINT,
        ((tok_offset + n_tokens - 1) // {_STREAM_LEN})::BIGINT))
      AS seq_idx
  FROM o WHERE n_tokens > 0
)
SELECT doc_id::BIGINT AS doc_id, bucket::BIGINT AS bucket,
  bucket::VARCHAR || ':' || seq_idx::VARCHAR AS seq,
  seq_idx::BIGINT AS seq_idx,
  (greatest(tok_offset, seq_idx * {_STREAM_LEN})
     - seq_idx * {_STREAM_LEN})::BIGINT AS tok_start_in_seq,
  (greatest(tok_offset, seq_idx * {_STREAM_LEN}) - tok_offset)::BIGINT
    AS tok_start_in_doc,
  (least(tok_offset + n_tokens, (seq_idx + 1) * {_STREAM_LEN})
     - greatest(tok_offset, seq_idx * {_STREAM_LEN}))::BIGINT AS n_tok
FROM x"""


def q_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-gating drift report (reporting.snapshot_drift): per
    source, docs/tokens/quality deltas between the corpus and a
    deterministic successor snapshot (10% of docs dropped, 30 docs
    re-published doubled under a brand-new 'grown' source)."""
    from rag_document_parser_spark.reporting import snapshot_drift

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    new = docs.where(F.col("doc_id") % 10 != 0).unionByName(
        docs.where(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" "), "text").alias("text"),
            F.lit("grown").alias("source")))
    return snapshot_drift(docs, new)


def _sql_snapshot_drift() -> str:
    toks = TOKS_SQL.format(c="text")
    side = f"""
  SELECT source, count(*)::BIGINT AS n_docs,
    sum(nw)::BIGINT AS total_tokens,
    sum(ok)::BIGINT AS quality_pass,
    (sum(ok) * 1000000 // greatest(count(*), 1))::BIGINT
      AS quality_pass_e6
  FROM (
    SELECT source, len({toks})::BIGINT AS nw,
      CASE WHEN len({toks}) >= 5 AND len({toks}) <= 100000
        AND length(regexp_replace(text, '[^A-Za-z{S.ARABIC_RANGE} ]',
                                  '', 'g')) * 1000
            >= length(text) * 100
      THEN 1 ELSE 0 END AS ok
    FROM {{src}}) GROUP BY source"""
    return f"""
WITH nd AS (
  SELECT doc_id, text, source FROM documents WHERE doc_id % 10 != 0
  UNION ALL
  SELECT doc_id + 1000000, text || ' ' || text, 'grown'
  FROM documents WHERE doc_id < 30
), os AS ({side.format(src='documents')}),
ns AS ({side.format(src='nd')}),
j AS (
  SELECT coalesce(os.source, ns.source) AS source,
    coalesce(os.n_docs, 0) AS o_n_docs,
    coalesce(os.total_tokens, 0) AS o_total_tokens,
    coalesce(os.quality_pass, 0) AS o_quality_pass,
    coalesce(os.quality_pass_e6, 0) AS o_quality_pass_e6,
    coalesce(ns.n_docs, 0) AS n_n_docs,
    coalesce(ns.total_tokens, 0) AS n_total_tokens,
    coalesce(ns.quality_pass, 0) AS n_quality_pass,
    coalesce(ns.quality_pass_e6, 0) AS n_quality_pass_e6
  FROM os FULL OUTER JOIN ns ON os.source = ns.source)
SELECT source, metric, old_value::BIGINT AS old_value,
  new_value::BIGINT AS new_value,
  (new_value - old_value)::BIGINT AS delta
FROM (
  SELECT source, 'n_docs' AS metric, o_n_docs AS old_value,
         n_n_docs AS new_value FROM j
  UNION ALL
  SELECT source, 'total_tokens', o_total_tokens, n_total_tokens FROM j
  UNION ALL
  SELECT source, 'quality_pass', o_quality_pass, n_quality_pass FROM j
  UNION ALL
  SELECT source, 'quality_pass_e6', o_quality_pass_e6,
         n_quality_pass_e6 FROM j)"""


SQL_SNAPSHOT_DRIFT = _sql_snapshot_drift()


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard totals a training loader reads."""
    from rag_document_parser_spark.operators.packing import (
        pack_shards, shard_manifest)

    out = shard_manifest(pack_shards(_docs(spark, sf_dir), _PACK_BUDGET,
                                     n_buckets=_PACK_BUCKETS))
    return out.select("shard", F.col("n_docs").cast("long"),
                      F.col("n_tokens").cast("long"))


SQL_SHARD_MANIFEST = _SQL_PACK_OFFSETS + f"""
SELECT bucket::VARCHAR || ':' || (tok_offset // {_PACK_BUDGET})::VARCHAR
    AS shard,
  count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
FROM o GROUP BY 1"""


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-line fractions. The synthetic docs are single-
    line, so the query derives a deterministic multi-line corpus first:
    4-word chunks become lines, then the first ``doc_id % 4`` lines are
    appended again — per-doc dup fractions from 0 to ~0.2, zero-shuffle
    end to end (array arithmetic inside the scan stage)."""
    d = _docs(spark, sf_dir)
    staged = d.select("doc_id", D.words(F.col("text")).alias("_w"))
    n_l = ((F.size("_w") + F.lit(3)) / F.lit(4)).cast("int")
    lines = F.when(
        F.size("_w") > 0,
        F.transform(F.sequence(F.lit(1), n_l),
                    lambda i: F.array_join(
                        F.slice("_w", (i - 1) * 4 + 1, 4), " ")),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.select("doc_id", lines.alias("_l"))
    all_lines = F.concat(
        F.col("_l"),
        F.slice(F.col("_l"), 1, F.pmod(F.col("doc_id"), F.lit(4)).cast("int")))
    with_lines = staged.select("doc_id", all_lines.alias("lines"))
    out = REP.line_repetition_features(with_lines, lines_col="lines")
    return out.select(
        "doc_id", "n_lines", "n_distinct_lines", "n_line_chars",
        "n_distinct_line_chars",
        F.floor(F.col("dup_line_frac") * 1e6).cast("long")
        .alias("dup_line_frac_e6"),
        F.floor(F.col("dup_line_char_frac") * 1e6).cast("long")
        .alias("dup_char_frac_e6"))


_LTOKS = TOKS_SQL.format(c="text")
SQL_LINE_REPETITION = f"""
WITH w AS (SELECT doc_id, {_LTOKS} AS w FROM documents),
l AS (SELECT doc_id, CASE WHEN len(w) > 0 THEN
        list_transform(range(1, ((len(w) + 3) // 4) + 1),
          i -> array_to_string(list_slice(w, (i-1)*4 + 1, (i-1)*4 + 4), ' '))
      ELSE []::VARCHAR[] END AS l FROM w),
al AS (SELECT doc_id, list_concat(l, l[1:(doc_id % 4)]) AS lines FROM l),
m AS (SELECT doc_id, len(lines) AS n_lines,
        len(list_distinct(lines)) AS n_distinct_lines,
        coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
          AS n_line_chars,
        coalesce(list_sum(list_transform(list_distinct(lines),
          x -> length(x))), 0) AS n_distinct_line_chars
      FROM al)
SELECT doc_id, n_lines::BIGINT AS n_lines,
  n_distinct_lines::BIGINT AS n_distinct_lines,
  n_line_chars::BIGINT AS n_line_chars,
  n_distinct_line_chars::BIGINT AS n_distinct_line_chars,
  floor((CASE WHEN n_lines > 0 THEN 1.0 - n_distinct_lines / n_lines
         ELSE 0.0 END) * 1000000)::BIGINT AS dup_line_frac_e6,
  floor((CASE WHEN n_line_chars > 0
         THEN 1.0 - n_distinct_line_chars / n_line_chars
         ELSE 0.0 END) * 1000000)::BIGINT AS dup_char_frac_e6
FROM m"""


def q_top_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-bigram mass per doc (repetition filter input)."""
    out = REP.top_ngram_stats(_docs(spark, sf_dir), n=2)
    return out.select(
        F.col("id").alias("doc_id"), "n_grams", "top_count",
        F.floor(F.col("top_frac") * 1e6).cast("long").alias("top_frac_e6"))


_SH2 = _shingles_sql("text", 2)
SQL_TOP_NGRAM = f"""
WITH s AS (SELECT doc_id AS id, {_SH2} AS sh FROM documents),
s2 AS (SELECT id, sh FROM s WHERE len(sh) > 0),
flat AS (SELECT id, unnest(sh) AS gram FROM s2),
pg AS (SELECT id, gram, count(*) AS c FROM flat GROUP BY id, gram),
agg AS (SELECT id, sum(c)::BIGINT AS n_grams, max(c)::BIGINT AS top_count
        FROM pg GROUP BY id)
SELECT id::BIGINT AS doc_id, n_grams, top_count,
  floor((top_count / n_grams) * 1000000)::BIGINT AS top_frac_e6
FROM agg"""


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: 3-gram shingle overlap of every doc
    against a deterministic 10% held-out sample (`hash_sample`,
    salt='contam'). Eval shingles broadcast; the corpus is never
    shuffled on the shingle key."""
    d = _docs(spark, sf_dir)
    ev = SAM.hash_sample(d, rate=0.1, salt="contam")
    out = REP.decontaminate(d, ev, n=3, threshold=0.5)
    return out.select(
        F.col("id").alias("doc_id"), "n_sh", "n_matched",
        F.floor(F.col("contam_frac") * 1e6).cast("long").alias("contam_e6"),
        F.col("contaminated").cast("long").alias("contaminated"))


_SH3D = _shingles_sql("text", 3)
SQL_DECONTAM = f"""
WITH ev AS (SELECT DISTINCT s AS shingle FROM (
    SELECT unnest(list_distinct({_SH3D})) AS s FROM documents
    WHERE substr(md5(doc_id::VARCHAR || 'contam'), 1, 8) < '{_CONTAM_THR}')),
c AS (SELECT doc_id AS id, list_distinct({_SH3D}) AS sh FROM documents),
c2 AS (SELECT id, sh, len(sh) AS n_sh FROM c WHERE len(sh) > 0),
flat AS (SELECT id, unnest(sh) AS shingle FROM c2),
m AS (SELECT flat.id, count(*) AS n_matched
      FROM flat JOIN ev USING (shingle) GROUP BY flat.id),
j AS (SELECT c2.id, c2.n_sh::BIGINT AS n_sh,
        coalesce(m.n_matched, 0)::BIGINT AS n_matched
      FROM c2 LEFT JOIN m ON c2.id = m.id)
SELECT id::BIGINT AS doc_id, n_sh, n_matched,
  floor((n_matched / n_sh) * 1000000)::BIGINT AS contam_e6,
  (CASE WHEN n_matched / n_sh >= 0.5 THEN 1 ELSE 0 END)::BIGINT
    AS contaminated
FROM j"""


def q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/bloom.py): same eval set
    as `decontam` but the only cross-cluster state is the fixed-size
    position set (m=2^16, k=4). n_matched counts MAYBE-hits — an
    overcount by the FPR, never an undercount; pure integer output."""
    from rag_document_parser_spark.operators import bloom as BLM

    d = _docs(spark, sf_dir)
    ev = SAM.hash_sample(d, rate=0.1, salt="contam")
    out = BLM.bloom_decontaminate(d, ev, n=3)
    return out.select(F.col("id").alias("doc_id"), "n_sh", "n_matched",
                      "contam_e6", "contaminated")


def _bloom_pos_sql(term: str, m_bits: int = 1 << 15) -> str:
    # disjoint 15-bit fields of ONE md5-60bit digest (bloom._pos)
    h = f"('0x'||substring(md5('bloom:'||{term}),1,15))::BIGINT"
    return ("[" + ", ".join(
        f"(({h}) >> {15 * i}) % {m_bits}" for i in range(4)) + "]")


SQL_BLOOM_DECONTAM = f"""
WITH ev AS (SELECT DISTINCT s AS shingle FROM (
    SELECT unnest(list_distinct({_SH3D})) AS s FROM documents
    WHERE substr(md5(doc_id::VARCHAR || 'contam'), 1, 8) < '{_CONTAM_THR}')),
bloom AS (SELECT DISTINCT pos FROM (
    SELECT unnest({_bloom_pos_sql('shingle')}) AS pos FROM ev)),
c AS (SELECT doc_id AS id, list_distinct({_SH3D}) AS sh FROM documents),
c2 AS (SELECT id, sh, len(sh) AS n_sh FROM c WHERE len(sh) > 0),
flat AS (SELECT id, unnest(sh) AS shingle FROM c2),
types AS (SELECT DISTINCT shingle FROM flat),
probes AS (SELECT shingle,
             unnest(list_distinct({_bloom_pos_sql('shingle')})) AS pos
           FROM types),
verdict AS (SELECT p.shingle, count(*) AS nd, count(b.pos) AS ng
            FROM probes p LEFT JOIN bloom b USING (pos)
            GROUP BY p.shingle),
flagged AS (SELECT shingle FROM verdict WHERE ng = nd),
m AS (SELECT flat.id, count(*) AS n_matched
      FROM flat JOIN flagged USING (shingle) GROUP BY flat.id),
j AS (SELECT c2.id, c2.n_sh::BIGINT AS n_sh,
        coalesce(m.n_matched, 0)::BIGINT AS n_matched
      FROM c2 LEFT JOIN m ON c2.id = m.id)
SELECT id::BIGINT AS doc_id, n_sh, n_matched,
  (n_matched * 1000000 // n_sh)::BIGINT AS contam_e6,
  (CASE WHEN n_matched * 1000000 // n_sh >= 500000 THEN 1 ELSE 0 END)::BIGINT
    AS contaminated
FROM j"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-K md5 shingle fingerprint."""
    out = T.fingerprint(_docs(spark, sf_dir))
    return out.select("doc_id", "fingerprint",
                      F.col("n_shingles").cast("long").alias("n_shingles"))


_SH5 = _shingles_sql("text", 5)
SQL_FINGERPRINT = f"""
WITH s AS (SELECT doc_id, list_distinct({_SH5}) AS sh FROM documents)
SELECT doc_id,
  CASE WHEN len(sh) > 0 THEN
    array_to_string(list_slice(list_sort(list_transform(sh, x -> md5(x))), 1, 4), '')
  END AS fingerprint,
  len(sh)::BIGINT AS n_shingles
FROM s"""


# ---------------------------------------------------------------------------
# dedup-family queries (on the union-with-clones corpus)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.exact_dedup(_cloned_docs(spark, sf_dir))
    return out.select("content_hash", F.col("n_dupes").cast("long"),
                      F.col("keeper_id").cast("long"))


SQL_DEDUP_EXACT = f"""
SELECT md5(text) AS content_hash, count(*)::BIGINT AS n_dupes,
       min(doc_id)::BIGINT AS keeper_id
FROM {CLONED_SQL} GROUP BY md5(text) HAVING count(*) >= 2"""


# boilerplate paragraph pool for the paragraph-dedup query: each shows up
# in ~1/5 of docs, far over the min_docs=2 bar, so every occurrence must
# be stripped while the per-doc unique paragraphs survive
_BP = (
    "subscribe to our newsletter for weekly updates and offers",
    "all rights reserved reproduction without permission is prohibited",
    "accept cookies to continue browsing this site",
    "click here to download our free mobile app today",
    "sign in to your account to view personalized content",
)


def _case_pool(sel: "F.Column", pool: tuple) -> "F.Column":
    """Spark CASE over a literal string pool (one source for every
    staged-corpus pool selector; SQL twin: _sql_case_pool)."""
    out = F.lit(pool[-1])
    for i in range(len(pool) - 2, -1, -1):
        out = F.when(sel == i, F.lit(pool[i])).otherwise(out)
    return out


def _sql_case_pool(sel: str, pool: tuple) -> str:
    whens = " ".join(f"WHEN {i} THEN {_sq(p)}"
                     for i, p in enumerate(pool[:-1]))
    return f"(CASE {sel} {whens} ELSE {_sq(pool[-1])} END)"


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate paragraph removal (RefinedWeb rule).

    The word-bag docs are single-line, so the query derives a
    multi-paragraph corpus first: a doc-unique head paragraph, a
    boilerplate paragraph from a 5-entry pool (md5-selected), a
    doc-unique tail, and for h%3==0 docs a second pool paragraph. The
    operator must drop every pool occurrence and keep the unique
    paragraphs in order."""
    d = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    sid = F.col("doc_id").cast("string")
    t = F.concat(
        F.lit("u"), sid, F.lit(" "), F.substring("text", 1, 30),
        F.lit("\n"), _case_pool(F.pmod(h, 5), _BP),
        F.lit("\nv"), sid,
        F.when(F.pmod(h, 3) == 0,
               F.concat(F.lit("\n"),
                        _case_pool(F.pmod(F.pmod(h, 7), 5), _BP)))
        .otherwise(F.lit("")),
    )
    staged = d.select("doc_id", t.alias("t"))
    return D.paragraph_dedup(staged, text_col="t", min_docs=2)


def _sql_paragraph_dedup() -> str:
    def bp_case(sel: str) -> str:
        return _sql_case_pool(sel, _BP)

    return f"""
WITH m AS (
  SELECT doc_id, text, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), d AS (
  SELECT doc_id,
    'u' || doc_id::VARCHAR || ' ' || substring(text, 1, 30) || chr(10) ||
    {bp_case('h % 5')} || chr(10) || 'v' || doc_id::VARCHAR ||
    (CASE WHEN h % 3 = 0
      THEN chr(10) || {bp_case('(h % 7) % 5')} ELSE '' END) AS t
  FROM m
), p AS (
  SELECT doc_id, string_split(t, chr(10)) AS paras FROM d
), e AS (
  SELECT doc_id, unnest(paras) AS para FROM p
), b AS (
  SELECT para FROM e WHERE length(para) >= 1
  GROUP BY para HAVING count(DISTINCT doc_id) >= 2
), bl AS (SELECT coalesce(list(para), []) AS l FROM b)
SELECT doc_id, len(paras)::BIGINT AS n_paragraphs,
  len(list_filter(paras, x -> list_contains(bl.l, x)))::BIGINT AS n_removed,
  array_to_string(list_filter(paras, x -> NOT list_contains(bl.l, x)),
                  chr(10)) AS cleaned
FROM p, bl"""


SQL_PARAGRAPH_DEDUP = _sql_paragraph_dedup()


def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level boilerplate removal (operators/sentences.py —
    the paragraph rule one granularity down, subset boundary
    ``[.!?]\\s+``). Synthesized sentence-structured corpus: a
    doc-unique opener, a pool boilerplate sentence, a doc-unique
    closer, and for h%3==0 docs a '!'-terminated extra plus a second
    pool sentence — so the boundary rule, the every-occurrence drop,
    and in-order space rejoin all vary per doc."""
    from rag_document_parser_spark.operators import sentences as SEN

    d = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    sid = F.col("doc_id").cast("string")
    t = F.concat(
        F.lit("U"), sid, F.lit(" opening remark. "),
        _case_pool(F.pmod(h, 5), _BP), F.lit(". V"), sid,
        F.lit(" closing"),
        F.when(F.pmod(h, 3) == 0,
               F.concat(F.lit(" extra! "),
                        _case_pool(F.pmod(F.pmod(h, 7), 5), _BP),
                        F.lit("."))).otherwise(F.lit("")),
    )
    staged = d.select("doc_id", t.alias("t"))
    out = SEN.sentence_dedup(staged, text_col="t", min_docs=2)
    return out.select(F.col("doc_id").cast("long"), "n_sentences",
                      "n_removed", "cleaned")


def _sql_sentence_dedup() -> str:
    def bp_case(sel: str) -> str:
        return _sql_case_pool(sel, _BP)

    split = (r"list_filter(string_split(regexp_replace(t,"
             r" '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)),"
             r" x -> x <> '')")
    return f"""
WITH m AS (
  SELECT doc_id, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), d AS (
  SELECT doc_id,
    'U' || doc_id::VARCHAR || ' opening remark. ' || {bp_case('h % 5')}
    || '. V' || doc_id::VARCHAR || ' closing' ||
    (CASE WHEN h % 3 = 0
      THEN ' extra! ' || {bp_case('(h % 7) % 5')} || '.' ELSE '' END) AS t
  FROM m
), s AS (
  SELECT doc_id, {split} AS sents FROM d
), e AS (
  SELECT doc_id, unnest(sents) AS sent FROM s
), b AS (
  SELECT sent FROM e WHERE length(sent) >= 1
  GROUP BY sent HAVING count(DISTINCT doc_id) >= 2
), bl AS (SELECT coalesce(list(sent), []) AS l FROM b)
SELECT doc_id::BIGINT AS doc_id, len(sents)::BIGINT AS n_sentences,
  len(list_filter(sents, x -> list_contains(bl.l, x)))::BIGINT
    AS n_removed,
  array_to_string(list_filter(sents, x -> NOT list_contains(bl.l, x)),
                  ' ') AS cleaned
FROM s, bl"""


SQL_SENTENCE_DEDUP = _sql_sentence_dedup()


_SC_MAX_TOK = 12


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary RAG chunking (sentences.sentence_chunks):
    whole sentences packed greedily into <= 12-token chunks over a
    deterministically sentence-ized corpus — zero-exchange row-local
    fold, chunks never cut mid-sentence."""
    from rag_document_parser_spark.operators import sentences as SEN

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.col("text"), _SENTIZE_RE, "$1. ").alias("t"))
    out = SEN.sentence_chunks(d, max_tokens=_SC_MAX_TOK, text_col="t")
    return out.select(F.col("doc_id").cast("long"), "chunk_idx",
                      "n_sents", "n_tok", "chunk_text")


def _sql_sentence_chunks() -> str:
    split = (r"list_filter(string_split(regexp_replace(t,"
             r" '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)),"
             r" x -> x <> '')")
    toks_sent = TOKS_SQL.format(c="sent")
    return f"""
WITH RECURSIVE d AS (
  SELECT doc_id,
         regexp_replace(text, '{_SENTIZE_RE}', '\\1. ', 'g') AS t
  FROM documents
), sp AS (
  SELECT doc_id, {split} AS sarr FROM d
), sl AS (
  SELECT doc_id, generate_subscripts(sarr, 1) AS i, unnest(sarr) AS sent
  FROM sp
), sl2 AS (
  SELECT doc_id, i, sent, len({toks_sent})::BIGINT AS l FROM sl
), st AS (
  SELECT doc_id, i, sent, l, l AS cur, 0 AS cid FROM sl2 WHERE i = 1
  UNION ALL
  SELECT s.doc_id, s.i, s.sent, s.l,
    CASE WHEN st.cur + s.l > {_SC_MAX_TOK} THEN s.l
         ELSE st.cur + s.l END,
    CASE WHEN st.cur + s.l > {_SC_MAX_TOK} THEN st.cid + 1
         ELSE st.cid END
  FROM st JOIN sl2 s ON s.doc_id = st.doc_id AND s.i = st.i + 1
)
SELECT doc_id::BIGINT AS doc_id, cid::BIGINT AS chunk_idx,
       count(*)::BIGINT AS n_sents, sum(l)::BIGINT AS n_tok,
       string_agg(sent, ' ' ORDER BY i) AS chunk_text
FROM st GROUP BY doc_id, cid"""


SQL_SENTENCE_CHUNKS = _sql_sentence_chunks()


_DOMAINS = ("news.example.com", "blog.example.org", "docs.example.net",
            "forum.sample.io", "wiki.sample.dev", "shop.demo.co",
            "data.demo.ai")


def _dom_case(sel: "F.Column") -> "F.Column":
    out = F.lit(_DOMAINS[-1])
    for i in range(len(_DOMAINS) - 2, -1, -1):
        out = F.when(sel == i, F.lit(_DOMAINS[i])).otherwise(out)
    return out


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain citation stats over synthesized web text: every doc
    cites one pool domain, h%2==0 docs cite a second (possibly the
    same — n_docs is DISTINCT docs, n_urls raw occurrences), h%5==0
    docs add a mixed-case host that must fold to lowercase. k exceeds
    the pool size so no tie-break cutoff ambiguity exists."""

    d = _docs(spark, sf_dir)
    staged = d.select("doc_id", "source", _weburl_text().alias("t"))
    return U.domain_stats(staged, text_col="t", k=20).select(
        "domain", F.col("n_docs").cast("long"),
        F.col("n_urls").cast("long"))


def _weburl_text():
    """The url tier's synthesized web text (the raw corpus has no
    URLs): every doc cites one pool domain, h%2==0 a second, h%5==0 a
    mixed-case host. Shared by url_stats and pagerank."""
    h = _hcol(F.col("doc_id"))
    return F.concat(
        F.substring("text", 1, 30),
        F.lit(" see https://"), _dom_case(F.pmod(h, 7)),
        F.lit("/p/"), F.pmod(h, 1000).cast("string"),
        F.when(F.pmod(h, 2) == 0, F.concat(
            F.lit(" and http://"), _dom_case(F.pmod(F.pmod(h, 11), 7)),
            F.lit("?q="), F.pmod(h, 50).cast("string"),
        )).otherwise(F.lit("")),
        F.when(F.pmod(h, 5) == 0,
               F.lit(" plus https://CDN.Assets.dev/x.js"))
        .otherwise(F.lit("")),
        F.lit(" end"),
    )


def _sql_weburl_ctes() -> str:
    """CTEs m (docs + md5 selector) and d (synthesized web text) —
    the SQL twin of ``_weburl_text``, shared by url_stats/pagerank."""
    def dom_case(sel: str) -> str:
        whens = " ".join(f"WHEN {i} THEN {_sq(d)}"
                         for i, d in enumerate(_DOMAINS[:-1]))
        return f"(CASE {sel} {whens} ELSE {_sq(_DOMAINS[-1])} END)"

    return f"""m AS (
  SELECT doc_id, source, text, {_md5l('doc_id::VARCHAR')} AS h
  FROM documents
), d AS (
  SELECT doc_id, source,
    substring(text, 1, 30) || ' see https://' || {dom_case('h % 7')} ||
    '/p/' || (h % 1000)::VARCHAR ||
    (CASE WHEN h % 2 = 0 THEN ' and http://' ||
      {dom_case('(h % 11) % 7')} || '?q=' || (h % 50)::VARCHAR
      ELSE '' END) ||
    (CASE WHEN h % 5 = 0 THEN ' plus https://CDN.Assets.dev/x.js'
      ELSE '' END) || ' end' AS t
  FROM m
)"""


def _sql_url_stats() -> str:
    from rag_document_parser_spark.operators.urls import (
        DOMAIN_PATTERN, URL_PATTERN)

    return f"""
WITH {_sql_weburl_ctes()}, u AS (
  SELECT doc_id, unnest(regexp_extract_all(t, {_sq(URL_PATTERN)})) AS url
  FROM d
)
SELECT lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1)) AS domain,
  count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_urls
FROM u GROUP BY 1"""


SQL_URL_STATS = _sql_url_stats()


_PR_ITERS = 2


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link graph + integer fixed-point PageRank: citation edges
    (source → cited domain, weighted) from the raw corpus text, ranked
    with 2 synchronous iterations. All arithmetic is integer (rank_e12
    fixed-point), so the inflow aggregate is an order-free, map-side
    combinable SUM — same bits at any cluster size, replayed exactly
    by the unrolled oracle."""
    d = _docs(spark, sf_dir)
    staged = d.select("doc_id", "source", _weburl_text().alias("t"))
    edges = G.link_graph(staged, text_col="t").select(
        F.concat(F.lit("s:"), F.col("src")).alias("src"),
        F.concat(F.lit("d:"), F.col("dst")).alias("dst"), "weight")
    return G.pagerank(edges, iters=_PR_ITERS)


def _sql_pagerank() -> str:
    from rag_document_parser_spark.operators.graph import SCALE
    from rag_document_parser_spark.operators.urls import (
        DOMAIN_PATTERN, URL_PATTERN)

    ctes = [f"""{_sql_weburl_ctes()},
ex AS (
  SELECT source, unnest(regexp_extract_all(t, {_sq(URL_PATTERN)})) AS url
  FROM d
), ed0 AS (
  SELECT 's:' || source AS src,
         'd:' || lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1)) AS dst
  FROM ex WHERE lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1)) <> ''
), edges AS (SELECT src, dst, count(*) AS w FROM ed0 GROUP BY src, dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
o AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
r0 AS (SELECT node, ({SCALE} // n) AS rank FROM nodes CROSS JOIN nn)"""]
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        ctes.append(f"""
d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
         WHERE node NOT IN (SELECT src FROM o)),
c{i} AS (SELECT e.dst AS node,
                sum(((r.rank * 85) // 100 * e.w) // o.wout) AS infl
         FROM edges e JOIN {prev} r ON e.src = r.node
         JOIN o ON e.src = o.src GROUP BY e.dst),
r{i} AS (SELECT nodes.node,
           (({SCALE} * 15) // 100) // n + ((dm * 85) // 100) // n
           + coalesce(infl, 0) AS rank
         FROM nodes CROSS JOIN nn CROSS JOIN d{i}
         LEFT JOIN c{i} ON nodes.node = c{i}.node)""")
        prev = f"r{i}"
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT node, rank::BIGINT AS rank_e12 FROM {prev}")


SQL_PAGERANK = _sql_pagerank()


_HITS_ITERS = 2


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graph.hits) over the same citation
    graph as `pagerank`: integer fixed-point, max-normalized half-steps
    (one driver scalar each), order-free sums — the two-role routing
    signal (hub pages seed the crawl frontier, authority pages get
    kept/boosted)."""
    d = _docs(spark, sf_dir)
    staged = d.select("doc_id", "source", _weburl_text().alias("t"))
    edges = G.link_graph(staged, text_col="t").select(
        F.concat(F.lit("s:"), F.col("src")).alias("src"),
        F.concat(F.lit("d:"), F.col("dst")).alias("dst"), "weight")
    return G.hits(edges, iters=_HITS_ITERS)


def _sql_hits() -> str:
    from rag_document_parser_spark.operators.graph import SCALE
    from rag_document_parser_spark.operators.urls import (
        DOMAIN_PATTERN, URL_PATTERN)

    ctes = [f"""{_sql_weburl_ctes()},
ex AS (
  SELECT source, unnest(regexp_extract_all(t, {_sq(URL_PATTERN)})) AS url
  FROM d
), ed0 AS (
  SELECT 's:' || source AS src,
         'd:' || lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1)) AS dst
  FROM ex WHERE lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1)) <> ''
), edges AS (SELECT src, dst, count(*) AS w FROM ed0 GROUP BY src, dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT node, {SCALE}::HUGEINT AS hub FROM nodes)"""]
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        ctes.append(f"""
ar{i} AS (SELECT e.dst AS node, sum(h.hub * e.w) AS raw
          FROM edges e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst),
am{i} AS (SELECT greatest(max(raw), 1) AS m FROM ar{i}),
a{i} AS (SELECT nodes.node,
           coalesce(raw * {SCALE} // m, 0) AS auth
         FROM nodes CROSS JOIN am{i} LEFT JOIN ar{i} USING (node)),
hr{i} AS (SELECT e.src AS node, sum(a.auth * e.w) AS raw
          FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src),
hm{i} AS (SELECT greatest(max(raw), 1) AS m FROM hr{i}),
h{i} AS (SELECT nodes.node,
           coalesce(raw * {SCALE} // m, 0) AS hub
         FROM nodes CROSS JOIN hm{i} LEFT JOIN hr{i} USING (node))""")
        prev_h = f"h{i}"
    n = _HITS_ITERS
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT h{n}.node, h{n}.hub::BIGINT AS hub_e12,\n"
            f"       a{n}.auth::BIGINT AS auth_e12\n"
            f"FROM h{n} JOIN a{n} USING (node)")


SQL_HITS = _sql_hits()


def q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (operators/graph.py anchor_edges /
    anchor_stats): per-target profiles of the human-written link text
    pointing at each domain — synthesized ``<a href>`` markup planted
    deterministically per doc (one guide link to d{{h%7}}, h%3==0 docs
    add a home link to d{{h%4}})."""
    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    base = F.concat(
        F.lit('see <a href="http://d'), (h % 7).cast("string"),
        F.lit('.example.com/p'), F.col("doc_id").cast("string"),
        F.lit('">guide '), (h % 5).cast("string"), F.lit("</a>"))
    extra = F.when(
        h % 3 == 0,
        F.concat(F.lit(' and <a href="http://d'), (h % 4).cast("string"),
                 F.lit('.example.com/">home</a>'))).otherwise(F.lit(""))
    staged = docs.select("source", F.concat(base, extra).alias("text"))
    out = G.anchor_stats(G.anchor_edges(staged))
    return out.select("dst", F.col("n_links").cast("long"),
                      F.col("n_unique_anchors").cast("long"),
                      "top_anchor", F.col("top_cnt").cast("long"))


def _sql_anchor_stats() -> str:
    from rag_document_parser_spark.operators.graph import ANCHOR_PATTERN
    from rag_document_parser_spark.operators.urls import DOMAIN_PATTERN

    pat = _sq(ANCHOR_PATTERN)
    dpat = _sq(DOMAIN_PATTERN)
    return f"""
WITH m AS (
  SELECT doc_id, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), t AS (
  SELECT 'see <a href="http://d' || (h % 7)::VARCHAR || '.example.com/p'
         || doc_id::VARCHAR || '">guide ' || (h % 5)::VARCHAR || '</a>'
         || CASE WHEN h % 3 = 0
              THEN ' and <a href="http://d' || (h % 4)::VARCHAR
                   || '.example.com/">home</a>'
              ELSE '' END AS text
  FROM m
), ex AS (
  SELECT regexp_extract_all(text, {pat}, 1) AS us,
         regexp_extract_all(text, {pat}, 2) AS bs
  FROM t
), pairs AS (
  SELECT unnest(us) AS u, unnest(bs) AS b FROM ex
), e AS (
  SELECT lower(regexp_extract(u, {dpat}, 1)) AS dst, trim(b) AS anchor
  FROM pairs
), f AS (
  SELECT dst, anchor FROM e WHERE dst <> '' AND anchor <> ''
), ba AS (
  SELECT dst, anchor, count(*)::BIGINT AS cnt FROM f GROUP BY 1, 2
), tot AS (
  SELECT dst, sum(cnt)::BIGINT AS n_links,
         count(*)::BIGINT AS n_unique_anchors
  FROM ba GROUP BY 1
), top AS (
  SELECT dst, anchor AS top_anchor, cnt AS top_cnt
  FROM (SELECT *, row_number() OVER (PARTITION BY dst
            ORDER BY cnt DESC, anchor ASC) AS r FROM ba)
  WHERE r = 1
)
SELECT t.dst, n_links, n_unique_anchors, top_anchor, top_cnt::BIGINT AS top_cnt
FROM tot t JOIN top USING (dst)"""


SQL_ANCHOR_STATS = _sql_anchor_stats()


def q_caption_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-span caption mining (operators/multimodal.py
    caption_candidates): every media span paired with its nearest
    preceding non-empty text span, zero shuffles (pure array
    higher-order functions in the scan). Spans synthesized per doc:
    text@0 (empty for h%4==0 -> null-caption case), media@10,
    text@20, and for h%3==0 a second media@30 captioned by text@20."""
    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))

    def _span(kind, text, ref, off):
        return F.struct(F.lit(kind).alias("kind"), text.alias("text"),
                        ref.alias("media_ref"),
                        F.lit(off).cast("int").alias("offset"))

    nul = F.lit(None).cast("string")
    base = F.array(
        _span("text", F.when(h % 4 == 0, F.lit("")).otherwise(
            F.concat(F.lit("intro "), F.col("source"))), nul, 0),
        _span("media", F.lit(""),
              F.concat(F.lit("img-"), (h % 7).cast("string")), 10),
        _span("text", F.concat(F.lit("body "),
                               F.col("n_chars").cast("string")), nul, 20),
    )
    extra = _span("media", F.lit(""),
                  F.concat(F.lit("vid-"), (h % 5).cast("string")), 30)
    spans = F.when(h % 3 == 0,
                   F.concat(base, F.array(extra))).otherwise(base)
    staged = docs.select("doc_id", spans.alias("spans"))
    return M.caption_candidates(staged).select(
        "doc_id", "media_ref", "media_offset", "caption", "caption_offset")


SQL_CAPTION_CANDIDATES = f"""
WITH m0 AS (
  SELECT doc_id, source, n_chars, {_md5l('doc_id::VARCHAR')} AS h
  FROM documents
), sp AS (
  SELECT doc_id, 'text' AS kind,
         CASE WHEN h % 4 = 0 THEN '' ELSE 'intro ' || source END AS text,
         CAST(NULL AS VARCHAR) AS media_ref, 0 AS offs FROM m0
  UNION ALL
  SELECT doc_id, 'media', '', 'img-' || (h % 7)::VARCHAR, 10 FROM m0
  UNION ALL
  SELECT doc_id, 'text', 'body ' || n_chars::VARCHAR, NULL, 20 FROM m0
  UNION ALL
  SELECT doc_id, 'media', '', 'vid-' || (h % 5)::VARCHAR, 30 FROM m0
  WHERE h % 3 = 0
), m AS (
  SELECT doc_id, media_ref, offs AS media_offset FROM sp
  WHERE kind = 'media'
), t AS (
  SELECT doc_id, text, offs FROM sp WHERE kind = 'text' AND text <> ''
), j AS (
  SELECT m.doc_id, m.media_ref, m.media_offset, t.text, t.offs,
         row_number() OVER (PARTITION BY m.doc_id, m.media_offset
                            ORDER BY t.offs DESC) AS rn
  FROM m LEFT JOIN t
    ON t.doc_id = m.doc_id AND t.offs < m.media_offset
)
SELECT doc_id, media_ref, media_offset::BIGINT AS media_offset,
       text AS caption, offs::BIGINT AS caption_offset
FROM j WHERE rn = 1"""


_IL_MAX_TOK = 5
_IL_MEDIA_COST = 3


def q_interleave_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted interleaved multimodal sequences
    (operators/multimodal.py interleave_sequences): each doc's ordered
    text+media spans packed greedily into <=5-token sequences, media
    spans costing the fixed 3-token placeholder budget, spans never
    split. Spans synthesized per doc DELIBERATELY out of offset order
    (body@20 first) to exercise the operator's offset sort: text@0
    (empty for h%4==0 — the zero-cost-span case), media@10, text@20,
    media@30 for h%3==0, text@40 (3 tokens, always flushes)."""
    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))

    def _span(kind, text, ref, off):
        return F.struct(F.lit(kind).alias("kind"), text.alias("text"),
                        ref.alias("media_ref"),
                        F.lit(off).cast("int").alias("offset"))

    nul = F.lit(None).cast("string")
    base = F.array(
        _span("text", F.concat(F.lit("body "),
                               F.col("n_chars").cast("string")), nul, 20),
        _span("text", F.when(h % 4 == 0, F.lit("")).otherwise(
            F.concat(F.lit("intro "), F.col("source"))), nul, 0),
        _span("media", F.lit(""),
              F.concat(F.lit("img-"), (h % 7).cast("string")), 10),
        _span("text", F.concat(F.lit("tail section "),
                               (h % 13).cast("string")), nul, 40),
    )
    extra = _span("media", F.lit(""),
                  F.concat(F.lit("vid-"), (h % 5).cast("string")), 30)
    spans = F.when(h % 3 == 0,
                   F.concat(base, F.array(extra))).otherwise(base)
    staged = docs.select("doc_id", spans.alias("spans"))
    return M.interleave_sequences(staged, max_tokens=_IL_MAX_TOK,
                                  media_cost=_IL_MEDIA_COST)


def _sql_interleave_sequences() -> str:
    toks = TOKS_SQL.format(c="text")
    return f"""
WITH RECURSIVE m0 AS (
  SELECT doc_id, source, n_chars, {_md5l('doc_id::VARCHAR')} AS h
  FROM documents
), sp AS (
  SELECT doc_id, 'text' AS kind,
         CASE WHEN h % 4 = 0 THEN '' ELSE 'intro ' || source END AS text,
         CAST(NULL AS VARCHAR) AS media_ref, 0 AS offs FROM m0
  UNION ALL
  SELECT doc_id, 'media', '', 'img-' || (h % 7)::VARCHAR, 10 FROM m0
  UNION ALL
  SELECT doc_id, 'text', 'body ' || n_chars::VARCHAR, NULL, 20 FROM m0
  UNION ALL
  SELECT doc_id, 'media', '', 'vid-' || (h % 5)::VARCHAR, 30 FROM m0
  WHERE h % 3 = 0
  UNION ALL
  SELECT doc_id, 'text', 'tail section ' || (h % 13)::VARCHAR, NULL, 40
  FROM m0
), sl AS (
  SELECT doc_id, kind, text, media_ref, offs,
         CASE WHEN kind = 'media' THEN {_IL_MEDIA_COST}
              ELSE len({toks}) END::BIGINT AS l,
         row_number() OVER (PARTITION BY doc_id ORDER BY offs) AS i
  FROM sp
), st AS (
  SELECT doc_id, i, kind, text, media_ref, l, l AS cur, 0 AS cid
  FROM sl WHERE i = 1
  UNION ALL
  SELECT s.doc_id, s.i, s.kind, s.text, s.media_ref, s.l,
    CASE WHEN st.cur + s.l > {_IL_MAX_TOK} THEN s.l
         ELSE st.cur + s.l END,
    CASE WHEN st.cur + s.l > {_IL_MAX_TOK} THEN st.cid + 1
         ELSE st.cid END
  FROM st JOIN sl s ON s.doc_id = st.doc_id AND s.i = st.i + 1
)
SELECT doc_id::BIGINT AS doc_id, cid::BIGINT AS seq_idx,
       count(*)::BIGINT AS n_spans,
       count(*) FILTER (WHERE kind = 'text')::BIGINT AS n_text,
       count(*) FILTER (WHERE kind = 'media')::BIGINT AS n_media,
       sum(l)::BIGINT AS n_tok,
       COALESCE(string_agg(text, ' ' ORDER BY i)
                FILTER (WHERE kind = 'text' AND text <> ''), '')
         AS text_joined,
       COALESCE(string_agg(media_ref, ',' ORDER BY i)
                FILTER (WHERE kind = 'media'), '') AS media_refs
FROM st GROUP BY doc_id, cid"""


SQL_INTERLEAVE_SEQUENCES = _sql_interleave_sequences()


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over synthesized payloads: every doc gets a planted
    email, +international phone, and dotted-quad IP; h%4==0 docs also
    carry an SSN-shaped id. All selectors derive from the one md5 hash
    (mod only — no double division, see oracle design notes)."""
    d = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    tld = (F.when(F.pmod(h, 3) == 0, F.lit("com"))
           .when(F.pmod(h, 3) == 1, F.lit("org")).otherwise(F.lit("net")))
    t = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), F.pmod(h, 997).cast("string"),
        F.lit("@example."), tld,
        F.lit(" or +1-555-"), (F.pmod(h, 900) + 100).cast("string"),
        F.lit("-"), (F.pmod(h, 9000) + 1000).cast("string"),
        F.lit(" from "), F.pmod(h, 256).cast("string"),
        F.lit("."), F.pmod(h, 251).cast("string"),
        F.lit("."), F.pmod(h, 241).cast("string"),
        F.lit("."), F.pmod(h, 239).cast("string"),
        F.when(F.pmod(h, 4) == 0, F.concat(
            F.lit(" id "), (F.pmod(h, 900) + 100).cast("string"),
            F.lit("-"), (F.pmod(h, 89) + 10).cast("string"),
            F.lit("-"), (F.pmod(h, 9000) + 1000).cast("string"),
        )).otherwise(F.lit("")),
    )
    staged = d.select("doc_id", t.alias("t"))
    return PII.redact_pii(staged, text_col="t")


def _sql_pii_redact() -> str:
    from rag_document_parser_spark.operators.pii import PII_RULES

    synth = f"""
  SELECT doc_id,
    substring(text, 1, 40) || ' contact user' || (h % 997)::VARCHAR ||
    '@example.' ||
    (CASE h % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END) ||
    ' or +1-555-' || (h % 900 + 100)::VARCHAR || '-' ||
    (h % 9000 + 1000)::VARCHAR ||
    ' from ' || (h % 256)::VARCHAR || '.' || (h % 251)::VARCHAR || '.' ||
    (h % 241)::VARCHAR || '.' || (h % 239)::VARCHAR ||
    (CASE WHEN h % 4 = 0 THEN ' id ' || (h % 900 + 100)::VARCHAR || '-' ||
      (h % 89 + 10)::VARCHAR || '-' || (h % 9000 + 1000)::VARCHAR
      ELSE '' END) AS t
  FROM m"""
    # chained CTEs: each stage counts on the PREVIOUS stage's text then
    # redacts — mirrors the operator's ordered chain exactly. DuckDB
    # regexp_replace is single-match by default: the 'g' flag is load-
    # bearing for parity with Spark's always-global regexp_replace.
    stages, src, counts = [], "s0", []
    for i, (name, pat, repl) in enumerate(PII_RULES, start=1):
        p = _sq(pat)
        stages.append(
            f"s{i} AS (SELECT doc_id, {', '.join(counts)}"
            f"{', ' if counts else ''}"
            f"len(regexp_extract_all(t, {p}))::BIGINT AS n_{name}, "
            f"regexp_replace(t, {p}, {_sq(repl)}, 'g') AS t FROM {src})")
        counts.append(f"n_{name}")
        src = f"s{i}"
    names = ", ".join(counts)
    return f"""
WITH m AS (
  SELECT doc_id, text, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), s0 AS ({synth}
), {', '.join(stages)}
SELECT doc_id, {names}, t AS redacted FROM {src}"""


SQL_PII_REDACT = _sql_pii_redact()


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.ngram_jaccard_pairs(_cloned_docs(spark, sf_dir),
                                n=3, threshold=0.5, df_cap=1000)
    return out.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"),
        F.col("inter").cast("long"),
        F.col("n_a").cast("long"), F.col("n_b").cast("long"),
        F.floor(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
                * 1000000).cast("long").alias("jaccard_e6"))


_SH3 = _shingles_sql("text", 3)
SQL_JACCARD = f"""
WITH u AS (SELECT * FROM {CLONED_SQL}),
s AS (SELECT doc_id AS id, list_distinct({_SH3}) AS sh FROM u),
s2 AS (SELECT id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
flat AS (SELECT id, unnest(sh) AS shingle FROM s2),
freq AS (SELECT shingle, count(*) AS c FROM flat GROUP BY shingle),
f2 AS (SELECT flat.id, flat.shingle FROM flat
       JOIN freq ON flat.shingle = freq.shingle WHERE freq.c <= 1000),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM f2 a JOIN f2 b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, inter::BIGINT AS inter,
  sa.n_sh::BIGINT AS n_a, sb.n_sh::BIGINT AS n_b,
  floor(inter / (sa.n_sh + sb.n_sh - inter) * 1000000)::BIGINT AS jaccard_e6
FROM inter
JOIN s2 sa ON inter.id_a = sa.id JOIN s2 sb ON inter.id_b = sb.id
WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.5"""


def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus datasheet (reporting.corpus_datasheet): the
    release-notes summary — docs/sources/langs/tokens/chars, exact-dup
    mass, integer quality pass rate — in long (metric, value) format,
    over the corpus with doc_id<20 cloned so the dup metrics are
    non-trivial."""
    from rag_document_parser_spark.reporting import corpus_datasheet

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source", "lang")
    clones = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "source",
        "lang")
    out = corpus_datasheet(docs.unionByName(clones))
    return out.select("metric", "value")


def _sql_corpus_datasheet() -> str:
    toks = TOKS_SQL.format(c="text")
    return f"""
WITH u AS (
  SELECT doc_id, text, source, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, source, lang FROM documents
  WHERE doc_id < 20
), s AS (
  SELECT source, lang, md5(text) AS h, length(text)::BIGINT AS nc,
         len({toks})::BIGINT AS nw,
         length(regexp_replace(text, '[^A-Za-z{S.ARABIC_RANGE} ]', '', 'g'))
           ::BIGINT AS na
  FROM u
), a AS (
  SELECT count(*)::BIGINT AS n_docs,
         count(DISTINCT source)::BIGINT AS n_sources,
         count(DISTINCT lang)::BIGINT AS n_langs,
         sum(nw)::BIGINT AS total_tokens,
         sum(nc)::BIGINT AS total_chars,
         count(DISTINCT h)::BIGINT AS distinct_texts,
         sum(CASE WHEN nw >= 5 AND nw <= 100000
                   AND na * 1000 >= nc * 100 THEN 1 ELSE 0 END)::BIGINT
           AS quality_pass
  FROM s
), w AS (
  SELECT *, (n_docs - distinct_texts)::BIGINT AS exact_dup_docs,
    (quality_pass * 1000000 // greatest(n_docs, 1))::BIGINT
      AS quality_pass_e6,
    (total_tokens * 1000 // greatest(n_docs, 1))::BIGINT AS mean_tokens_e3
  FROM a
)
SELECT metric, value FROM w
UNPIVOT (value FOR metric IN (n_docs, n_sources, n_langs, total_tokens,
  total_chars, distinct_texts, exact_dup_docs, quality_pass,
  quality_pass_e6, mean_tokens_e3))"""


SQL_CORPUS_DATASHEET = _sql_corpus_datasheet()


# subset corpus for the containment query: doc_id<20 re-appear as the
# PREFIX HALF of their text under id+2000000 — high containment of the
# prefix in the full doc, Jaccard only ~0.5 (below its 0.5+ gates)
SUBSET_SQL = ("(SELECT doc_id, text FROM documents UNION ALL "
              "SELECT doc_id + 2000000 AS doc_id, "
              "substr(text, 1, (length(text) // 2)::INT) AS text "
              "FROM documents WHERE doc_id < 20)")


def _subset_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    halves = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr("substring(text, 1, cast(length(text) div 2 as int))")
        .alias("text"))
    return docs.unionByName(halves)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (dedup.containment_pairs): pairs
    where one side's shingle set is >=90% inside the other's — the
    article-vs-article-plus-comments duplicates Jaccard structurally
    misses (planted prefix-half clones score containment ~1.0 at
    Jaccard ~0.5)."""
    out = D.containment_pairs(_subset_docs(spark, sf_dir),
                              n=3, threshold_e6=900_000, df_cap=1000)
    return out.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"),
        "inter", "n_a", "n_b", "cont_a_e6", "cont_b_e6")


SQL_CONTAINMENT = f"""
WITH u AS (SELECT * FROM {SUBSET_SQL}),
s AS (SELECT doc_id AS id, list_distinct({_SH3}) AS sh FROM u),
s2 AS (SELECT id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
flat AS (SELECT id, unnest(sh) AS shingle FROM s2),
freq AS (SELECT shingle, count(*) AS c FROM flat GROUP BY shingle),
f2 AS (SELECT flat.id, flat.shingle FROM flat
       JOIN freq ON flat.shingle = freq.shingle WHERE freq.c <= 1000),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM f2 a JOIN f2 b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id),
j AS (
  SELECT id_a, id_b, inter::BIGINT AS inter,
    sa.n_sh::BIGINT AS n_a, sb.n_sh::BIGINT AS n_b,
    (inter::BIGINT * 1000000 // sa.n_sh)::BIGINT AS cont_a_e6,
    (inter::BIGINT * 1000000 // sb.n_sh)::BIGINT AS cont_b_e6
  FROM inter
  JOIN s2 sa ON inter.id_a = sa.id JOIN s2 sb ON inter.id_b = sb.id)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, inter, n_a, n_b,
       cont_a_e6, cont_b_e6
FROM j WHERE greatest(cont_a_e6, cont_b_e6) >= 900000"""


_K = 16          # minhash permutations in the oracle-checked query
_BANDS = 4       # → r = 4 rows per band


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking block dedup (dedup.cdc_block_dedup):
    variable-width blocks whose boundaries travel with the content, so
    the planted prefix-half clones share block hashes with their
    source docs at different offsets — per-doc shared-block token
    mass, the storage-dedup complement of repeated_windows."""
    out = D.cdc_block_dedup(_subset_docs(spark, sf_dir),
                            n=3, divisor=8, min_docs=2)
    return out.select(F.col("doc_id").cast("long"), "n_blocks",
                      "n_tokens", "dup_tokens", "dup_frac_e6")


_CDC_TOKS = TOKS_SQL.format(c="text")
_CDC_KGRAM = _md5l("array_to_string(list_slice(toks, i - 2, i), ' ')")
SQL_CDC_DEDUP = f"""
WITH u AS (SELECT * FROM {SUBSET_SQL}),
tk AS (SELECT doc_id, {_CDC_TOKS} AS toks FROM u),
tk2 AS (SELECT doc_id, toks, len(toks) AS nt FROM tk WHERE len(toks) > 0),
tok AS (SELECT doc_id, toks, nt, unnest(range(1, nt + 1)) AS i FROM tk2),
tok2 AS (
  SELECT doc_id, i, toks[i] AS tok,
    CASE WHEN i >= 3 AND ({_CDC_KGRAM}) % 8 = 0 THEN 1 ELSE 0 END AS bf
  FROM tok),
tok3 AS (
  SELECT doc_id, i, tok,
    coalesce(sum(bf) OVER (PARTITION BY doc_id ORDER BY i
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS blkid
  FROM tok2),
blk AS (
  SELECT doc_id, blkid, md5(string_agg(tok, ' ' ORDER BY i)) AS h,
    count(*) AS blen
  FROM tok3 GROUP BY doc_id, blkid),
freq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM blk GROUP BY h),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_blocks,
    sum(blen)::BIGINT AS n_tokens,
    sum(CASE WHEN nd >= 2 THEN blen ELSE 0 END)::BIGINT AS dup_tokens
  FROM blk JOIN freq USING (h) GROUP BY doc_id)
SELECT doc_id::BIGINT AS doc_id, n_blocks, n_tokens, dup_tokens,
  (dup_tokens * 1000000 // n_tokens)::BIGINT AS dup_frac_e6
FROM per"""


def _minhash_consts() -> list[tuple[int, int]]:
    import hashlib
    out = []
    for i in range(_K):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:15], 16) \
            % (2**31 - 2) + 1
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:15], 16) \
            % (2**31 - 1)
        out.append((a, b))
    return out


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.minhash_signatures(_docs(spark, sf_dir), n=3, k=_K)
    return sigs.select(
        F.col("id").cast("long").alias("id"),
        F.concat_ws(",", F.transform("signature",
                                     lambda x: x.cast("string"))).alias("sig"))


def _sql_minhash_sig_cte(src: str) -> str:
    consts = _minhash_consts()
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {D.M31}))::VARCHAR"
        for a, b in consts)
    return f"""
WITH s AS (SELECT doc_id AS id, list_distinct({_SH3}) AS sh FROM {src}),
s2 AS (SELECT id, list_transform(sh,
         x -> {_md5l('x')} % 2147483647) AS hs
       FROM s WHERE len(sh) > 0),
sigs AS (SELECT id, [{mins}] AS sigl FROM s2)
"""


SQL_MINHASH_SIG = _sql_minhash_sig_cte("documents") + \
    "SELECT id::BIGINT AS id, array_to_string(sigl, ',') AS sig FROM sigs"


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.minhash_lsh_pairs(_cloned_docs(spark, sf_dir),
                              n=3, k=_K, bands=_BANDS)
    return out.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


_R = _K // _BANDS
SQL_MINHASH_PAIRS = _sql_minhash_sig_cte(CLONED_SQL) + f"""
, banded AS (
  SELECT id, unnest(list_transform(range({_BANDS}),
    bi -> bi::VARCHAR || '|' ||
          array_to_string(list_slice(sigl, bi*{_R}+1, bi*{_R}+{_R}), ','))) AS bk
  FROM sigs)
SELECT DISTINCT a.id::BIGINT AS id_a, b.id::BIGINT AS id_b
FROM banded a JOIN banded b ON a.bk = b.bk AND a.id < b.id"""


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall gauge (the quantized_recall of the dedup tier): every
    exact Jaccard>=0.5 pair on the cloned corpus, flagged with whether
    the banded MinHash candidate generation (k=16, 4 bands) surfaced
    it. No false-negative-free guarantee exists for LSH — this is the
    measurement that tells an operator whether the banding parameters
    hold on THEIR corpus before a 100 TB run trusts them."""
    docs = _cloned_docs(spark, sf_dir)
    exact = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5, df_cap=1000)
    cand = (D.minhash_lsh_pairs(docs, n=3, k=_K, bands=_BANDS)
            .withColumn("_f", F.lit(1)))
    return (exact.join(cand, ["id_a", "id_b"], "left")
            .select(F.col("id_a").cast("long"), F.col("id_b").cast("long"),
                    F.floor(F.col("inter")
                            / (F.col("n_a") + F.col("n_b") - F.col("inter"))
                            * 1000000).cast("long").alias("jaccard_e6"),
                    F.coalesce(F.col("_f"), F.lit(0)).cast("long")
                    .alias("found_by_lsh")))


def _sql_lsh_recall() -> str:
    consts = _minhash_consts()
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {D.M31}))::VARCHAR"
        for a, b in consts)
    return f"""
WITH u AS (SELECT * FROM {CLONED_SQL}),
js AS (SELECT doc_id AS id, list_distinct({_SH3}) AS sh FROM u),
js2 AS (SELECT id, sh, len(sh) AS n_sh FROM js WHERE len(sh) > 0),
jflat AS (SELECT id, unnest(sh) AS shingle FROM js2),
jfreq AS (SELECT shingle, count(*) AS c FROM jflat GROUP BY shingle),
jf2 AS (SELECT jflat.id, jflat.shingle FROM jflat
        JOIN jfreq ON jflat.shingle = jfreq.shingle WHERE jfreq.c <= 1000),
jinter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM jf2 a JOIN jf2 b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id),
exact AS (
  SELECT id_a, id_b,
    floor(inter / (sa.n_sh + sb.n_sh - inter) * 1000000)::BIGINT
      AS jaccard_e6
  FROM jinter
  JOIN js2 sa ON jinter.id_a = sa.id JOIN js2 sb ON jinter.id_b = sb.id
  WHERE inter / (sa.n_sh + sb.n_sh - inter) >= 0.5),
ms2 AS (SELECT id, list_transform(sh, x -> {_md5l('x')} % 2147483647) AS hs
        FROM js WHERE len(sh) > 0),
sigs AS (SELECT id, [{mins}] AS sigl FROM ms2),
banded AS (
  SELECT id, unnest(list_transform(range({_BANDS}),
    bi -> bi::VARCHAR || '|' ||
          array_to_string(list_slice(sigl, bi*{_R}+1, bi*{_R}+{_R}), ','))) AS bk
  FROM sigs),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM banded a JOIN banded b ON a.bk = b.bk AND a.id < b.id)
SELECT e.id_a::BIGINT AS id_a, e.id_b::BIGINT AS id_b, e.jaccard_e6,
  (CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS found_by_lsh
FROM exact e LEFT JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b"""


SQL_LSH_RECALL = _sql_lsh_recall()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.simhash64(_docs(spark, sf_dir))
    return out.select(F.col("id").cast("long"), F.col("simhash").cast("long"))


def _sql_simhash_cte(src: str) -> str:
    return f"""
WITH t AS (SELECT doc_id AS id, {_QTOKS} AS toks FROM {src}),
sh AS (
  SELECT id, list_reduce(list_transform(range(64), i ->
    CASE WHEN coalesce(list_sum(list_transform(toks, tk ->
           CASE WHEN (('0x'||substr(md5(tk), (i//4)+1, 1))::BIGINT >> (i%4)) & 1 = 1
                THEN 1 ELSE -1 END)), 0) > 0
         THEN CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
                   ELSE 1::BIGINT << i::INT END
         ELSE 0::BIGINT END), (a, b) -> a | b) AS simhash
  FROM t)
"""


SQL_SIMHASH = _sql_simhash_cte("documents") + \
    "SELECT id::BIGINT AS id, simhash FROM sh"


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.simhash_near_pairs(_cloned_docs(spark, sf_dir), max_hamming=3)
    return out.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"),
                      F.col("hamming").cast("long"))


# oracle does the exact O(n²) check — banding must find the same pairs
# (pigeonhole completeness for hamming <= 3)
SQL_SIMHASH_PAIRS = _sql_simhash_cte(CLONED_SQL) + """
SELECT a.id::BIGINT AS id_a, b.id::BIGINT AS id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sh a JOIN sh b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group resolution: simhash near-pairs -> connected
    components via iterative min-label propagation. cluster_id = the
    minimum member id; keep-one-per-cluster = rows where
    id == cluster_id."""
    pairs = D.simhash_near_pairs(_cloned_docs(spark, sf_dir), max_hamming=3)
    out = D.dedup_clusters(pairs)
    return out.select(F.col("id").cast("long"),
                      F.col("cluster_id").cast("long"))


# transitive closure by recursive CTE: reach(id, r) = all nodes
# reachable from id over the undirected pair edges; min(r) per id is
# exactly the component's minimum member (UNION dedups => terminates)
SQL_DEDUP_CLUSTERS = _sql_simhash_cte(CLONED_SQL).replace(
    "WITH ", "WITH RECURSIVE ", 1) + """
, prs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), e AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION SELECT id_b, id_a FROM prs
), reach AS (
  SELECT a AS id, a AS r FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
)
SELECT id::BIGINT AS id, min(r)::BIGINT AS cluster_id
FROM reach GROUP BY id"""


# keep-best corpus: doc_id<20 appear three ways — original, identical
# clone (+1e6), and DOUBLED-text clone (+2e6). Doubling the text doubles
# every token's vote sum without changing any sign, so the simhash is
# bit-identical (hamming 0, guaranteed cluster member) while the length
# score doubles: the +2e6 member wins on SCORE, and the original-vs-
# identical-clone leg exercises the largest-id TIEBREAK.
KEEPBEST_SQL = ("(SELECT doc_id, text FROM documents UNION ALL "
                "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
                "WHERE doc_id < 20 UNION ALL "
                "SELECT doc_id + 2000000 AS doc_id, "
                "text || ' ' || text AS text FROM documents "
                "WHERE doc_id < 20)")


def _keepbest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 20)
    c1 = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    c2 = base.select((F.col("doc_id") + 2000000).alias("doc_id"),
                     F.concat("text", F.lit(" "), "text").alias("text"))
    return docs.unionByName(c1).unionByName(c2)


def q_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-member duplicate resolution (dedup.keep_best_per_cluster):
    simhash near-pairs -> connected components -> keep the member
    maximizing (length(text), id) per cluster, i.e. most content,
    newest-crawl tiebreak — instead of dedup_clusters' arbitrary
    min-id representative."""
    corpus = _keepbest_docs(spark, sf_dir)
    pairs = D.simhash_near_pairs(corpus, max_hamming=3)
    out = D.keep_best_per_cluster(corpus, pairs,
                                  F.length("text").cast("long"))
    return out.select(F.col("id").cast("long"),
                      F.col("cluster_id").cast("long"),
                      F.col("best_id").cast("long"), "kept")


# winner via an encoded arg_max key: ids in this planted corpus are
# < 1e7, so s*1e7 + id orders exactly like the struct (s, id) the Spark
# operator maximizes (engine-neutral without struct-comparison support)
SQL_KEEP_BEST = _sql_simhash_cte(KEEPBEST_SQL).replace(
    "WITH ", "WITH RECURSIVE ", 1) + f"""
, prs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), e AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION SELECT id_b, id_a FROM prs
), reach AS (
  SELECT a AS id, a AS r FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
), cl AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
), sc AS (
  SELECT doc_id AS id, length(text)::BIGINT AS s FROM {KEEPBEST_SQL}
), mem AS (
  SELECT cl.id, cl.cluster_id, sc.s FROM cl JOIN sc USING (id)
), best AS (
  SELECT cluster_id, arg_max(id, s * 10000000 + id) AS best_id
  FROM mem GROUP BY cluster_id
)
SELECT mem.id::BIGINT AS id, mem.cluster_id::BIGINT AS cluster_id,
       best.best_id::BIGINT AS best_id, mem.id = best.best_id AS kept
FROM mem JOIN best USING (cluster_id)"""


def q_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (dedup.soft_dedup_weights): simhash near-pairs ->
    connected components -> weight_e6 = 1e6 div cluster size, 1e6 for
    singletons — duplicates down-weighted, never dropped."""
    corpus = _cloned_docs(spark, sf_dir)
    pairs = D.simhash_near_pairs(corpus, max_hamming=3)
    out = D.soft_dedup_weights(corpus, pairs)
    return out.select(F.col("id").cast("long"),
                      F.col("cluster_id").cast("long"),
                      "csize", "weight_e6")


SQL_SOFT_DEDUP = _sql_simhash_cte(CLONED_SQL).replace(
    "WITH ", "WITH RECURSIVE ", 1) + f"""
, prs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), e AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION SELECT id_b, id_a FROM prs
), reach AS (
  SELECT a AS id, a AS r FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
), cl AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
), szs AS (
  SELECT cluster_id, count(*) AS csize FROM cl GROUP BY cluster_id
), member AS (
  SELECT cl.id, cl.cluster_id, szs.csize,
         1000000 // szs.csize AS weight_e6
  FROM cl JOIN szs USING (cluster_id)
)
SELECT id::BIGINT AS id, cluster_id::BIGINT AS cluster_id,
       csize::BIGINT AS csize, weight_e6::BIGINT AS weight_e6
FROM member
UNION ALL
SELECT u.doc_id::BIGINT AS id, u.doc_id::BIGINT AS cluster_id,
       1::BIGINT AS csize, 1000000::BIGINT AS weight_e6
FROM {CLONED_SQL} u
WHERE u.doc_id NOT IN (SELECT id FROM cl)"""


# edit-verify corpus: ASCII-FOLDED text (each non-ASCII char -> '?') so
# DuckDB's byte-based levenshtein agrees with Spark's character-based
# one (bytes == chars on pure ASCII; the operator itself is
# unicode-correct — see the pure-Python property test). doc_id<20
# appear as an identical clone (+1e6, dist 0) and a first-char-
# substituted clone (+2e6, dist 1 when the first char wasn't 'X').
_EDIT_FOLD_SQL = "regexp_replace(text, '[^\\x20-\\x7e]', '?', 'g')"
EDITCLONE_SQL = (
    f"(SELECT doc_id, {_EDIT_FOLD_SQL} AS text FROM documents UNION ALL "
    f"SELECT doc_id + 1000000 AS doc_id, {_EDIT_FOLD_SQL} AS text "
    "FROM documents WHERE doc_id < 20 UNION ALL "
    f"SELECT doc_id + 2000000 AS doc_id, "
    f"'X' || substr({_EDIT_FOLD_SQL}, 2) AS text "
    "FROM documents WHERE doc_id < 20)")


def q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification (dedup.edit_verify_pairs): simhash
    candidates -> exact normalized Levenshtein over 500-char prefixes,
    keeping pairs with sim_e6 >= 500000. Catches in-place-edit dups
    (typo-level rewrites) that set-overlap metrics can't grade."""
    folded = F.regexp_replace("text", r"[^\x20-\x7e]", "?")
    docs = _docs(spark, sf_dir).select("doc_id", folded.alias("text"))
    base = docs.where(F.col("doc_id") < 20)
    c1 = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    c2 = base.select((F.col("doc_id") + 2000000).alias("doc_id"),
                     F.concat(F.lit("X"), F.expr("substring(text, 2)"))
                     .alias("text"))
    corpus = docs.unionByName(c1).unionByName(c2)
    pairs = D.simhash_near_pairs(corpus, max_hamming=3).select(
        "id_a", "id_b")
    out = D.edit_verify_pairs(corpus, pairs, prefix=500,
                              min_sim_e6=500_000)
    return out.select(F.col("id_a").cast("long"),
                      F.col("id_b").cast("long"),
                      "edit_dist", "sim_e6")


SQL_EDIT_VERIFY = _sql_simhash_cte(EDITCLONE_SQL) + f"""
, prs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), tt AS (
  SELECT doc_id AS id, substr(text, 1, 500) AS t FROM {EDITCLONE_SQL}
), scored AS (
  SELECT prs.id_a::BIGINT AS id_a, prs.id_b::BIGINT AS id_b,
         levenshtein(ta.t, tb.t)::BIGINT AS edit_dist,
         (1000000 - levenshtein(ta.t, tb.t) * 1000000
            // greatest(length(ta.t), length(tb.t), 1))::BIGINT AS sim_e6
  FROM prs JOIN tt ta ON prs.id_a = ta.id JOIN tt tb ON prs.id_b = tb.id
)
SELECT * FROM scored WHERE sim_e6 >= 500000"""


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triple mining (retrieval.mine_contrastive_pairs):
    per anchor one positive (shingle Jaccard >= 0.5 — the exact clones
    planted by _cloned_docs) and one HARD negative (shares >= 1 rare
    shingle yet Jaccard < 0.2), both picked by an encoded
    max(jac_e6*1e8 + (1e8-1-other)) argmax — no window, map-side
    combinable. Emits (anchor, pos_id, neg_id, pos_jac_e6,
    neg_jac_e6) for anchors having both legs."""
    from rag_document_parser_spark.operators.retrieval import (
        mine_contrastive_pairs)

    return mine_contrastive_pairs(_cloned_docs(spark, sf_dir))


SQL_CONTRASTIVE = f"""
WITH u AS (SELECT * FROM {CLONED_SQL}),
s AS (SELECT doc_id AS id, list_distinct({_SH3}) AS sh FROM u),
s2 AS (SELECT id, sh, len(sh) AS n_sh FROM s WHERE len(sh) > 0),
flat AS (SELECT id, unnest(sh) AS shingle FROM s2),
freq AS (SELECT shingle, count(*) AS c FROM flat GROUP BY shingle),
f2 AS (SELECT flat.id, flat.shingle FROM flat
       JOIN freq ON flat.shingle = freq.shingle WHERE freq.c <= 1000),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM f2 a JOIN f2 b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id),
pairs AS (
  SELECT id_a, id_b,
    (inter * 1000000 // (sa.n_sh + sb.n_sh - inter))::BIGINT AS jac_e6
  FROM inter
  JOIN s2 sa ON inter.id_a = sa.id JOIN s2 sb ON inter.id_b = sb.id),
sym AS (
  SELECT id_a AS anchor, id_b AS other, jac_e6 FROM pairs
  UNION ALL
  SELECT id_b AS anchor, id_a AS other, jac_e6 FROM pairs),
pos AS (
  SELECT anchor, max(jac_e6 * 100000000 + (99999999 - other)) AS k
  FROM sym WHERE jac_e6 >= 500000 GROUP BY anchor),
neg AS (
  SELECT anchor, max(jac_e6 * 100000000 + (99999999 - other)) AS k
  FROM sym WHERE jac_e6 < 200000 GROUP BY anchor)
SELECT pos.anchor::BIGINT AS anchor,
  (99999999 - pos.k % 100000000)::BIGINT AS pos_id,
  (99999999 - neg.k % 100000000)::BIGINT AS neg_id,
  (pos.k // 100000000)::BIGINT AS pos_jac_e6,
  (neg.k // 100000000)::BIGINT AS neg_jac_e6
FROM pos JOIN neg ON pos.anchor = neg.anchor"""


# snapshot-dedup new batch: 40 exact re-publications, 20 docs with a
# prepended token (near-dup by band collision where signatures survive
# the edit — both engines compute the identical deterministic answer),
# 20 genuinely fresh docs
NEWBATCH_SQL = (
    "(SELECT doc_id + 1000000 AS doc_id, text FROM documents "
    "WHERE doc_id < 40 UNION ALL "
    "SELECT doc_id + 2000000 AS doc_id, 'prepended token ' || text "
    "FROM documents WHERE doc_id >= 40 AND doc_id < 60 UNION ALL "
    "SELECT doc_id + 3000000 AS doc_id, 'fresh ' || doc_id::VARCHAR || "
    "' novel alpha beta gamma delta epsilon' AS text "
    "FROM documents WHERE doc_id < 20)")


def q_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup (dedup.build_dedup_index +
    dedup_against_index): snapshot N+1 annotated against the prior
    corpus' persisted (kind, key) index — exact md5 hits and MinHash
    band collisions — without re-deduplicating the union."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = D.build_dedup_index(docs, k=_K, bands=_BANDS)
    exact = docs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    near = docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)) \
        .select((F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.lit("prepended token "), F.col("text"))
                .alias("text"))
    fresh = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.lit("fresh "), F.col("doc_id").cast("string"),
                 F.lit(" novel alpha beta gamma delta epsilon"))
        .alias("text"))
    new = exact.unionByName(near).unionByName(fresh)
    out = D.dedup_against_index(new, idx, k=_K, bands=_BANDS)
    return out.select(F.col("id").cast("long"),
                      "exact_dup", "near_dup", "kept")


def _sql_snapshot_dedup() -> str:
    consts = _minhash_consts()
    mins = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {D.M31}))::VARCHAR"
        for a, b in consts)

    def keys(src: str, nm: str) -> str:
        return f"""
{nm}_s AS (SELECT doc_id AS id, text, list_distinct({_SH3}) AS sh
           FROM {src}),
{nm}_hs AS (SELECT id, list_transform(sh, x -> {_md5l('x')} % 2147483647)
              AS hs FROM {nm}_s WHERE len(sh) > 0),
{nm}_sig AS (SELECT id, [{mins}] AS sigl FROM {nm}_hs),
{nm}_keys AS (
  SELECT id, 'exact' AS kind, md5(text) AS key FROM {nm}_s
  UNION ALL
  SELECT id, 'band' AS kind,
         unnest(list_transform(range({_BANDS}),
           bi -> bi::VARCHAR || '|' ||
                 array_to_string(list_slice(sigl, bi*{_R}+1, bi*{_R}+{_R}),
                                 ','))) AS key
  FROM {nm}_sig)"""

    return f"""
WITH {keys('documents', 'ix')},
{keys(NEWBATCH_SQL, 'nw')},
idx AS (SELECT DISTINCT kind, key FROM ix_keys),
marked AS (
  SELECT n.id, n.kind, idx.key IS NOT NULL AS hit
  FROM nw_keys n LEFT JOIN idx
    ON n.kind = idx.kind AND n.key = idx.key)
SELECT id::BIGINT AS id,
       max(CASE WHEN kind = 'exact' AND hit THEN 1 ELSE 0 END) = 1
         AS exact_dup,
       max(CASE WHEN kind = 'band' AND hit THEN 1 ELSE 0 END) = 1
         AS near_dup,
       max(CASE WHEN hit THEN 1 ELSE 0 END) = 0 AS kept
FROM marked GROUP BY id"""


SQL_SNAPSHOT_DEDUP = _sql_snapshot_dedup()


_LEAK_FRACTIONS = {"train": 0.8, "val": 0.2}
_LEAK_SALT = "leakv1"


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split (sampling.leakage_safe_split):
    simhash near-pairs -> connected components -> the whole duplicate
    CLUSTER keyed by its min-id representative through the md5 range
    split, so no near-dup pair ever straddles train and val (a plain
    per-doc split would measure memorization in the val loss)."""
    pairs = D.simhash_near_pairs(_cloned_docs(spark, sf_dir), max_hamming=3)
    out = SAM.leakage_safe_split(_cloned_docs(spark, sf_dir), pairs,
                                 _LEAK_FRACTIONS, salt=_LEAK_SALT)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("split_rep").cast("long"), "split")


def _sql_leakage_split() -> str:
    from rag_document_parser_spark.operators.sampling import _threshold

    bound = _threshold(_LEAK_FRACTIONS["train"])
    return _sql_simhash_cte(CLONED_SQL).replace(
        "WITH ", "WITH RECURSIVE ", 1) + f"""
, prs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), e AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION SELECT id_b, id_a FROM prs
), reach AS (
  SELECT a AS id, a AS r FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
), cl AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
), d AS (
  SELECT c.doc_id, coalesce(cl.cluster_id, c.doc_id) AS split_rep
  FROM {CLONED_SQL} c LEFT JOIN cl ON cl.id = c.doc_id
)
SELECT doc_id::BIGINT AS doc_id, split_rep::BIGINT AS split_rep,
  CASE WHEN substr(md5(split_rep::VARCHAR || '{_LEAK_SALT}'), 1, 8)
            < '{bound}' THEN 'train' ELSE 'val' END AS split
FROM d"""


SQL_LEAKAGE_SPLIT = _sql_leakage_split()


# ---------------------------------------------------------------------------
# mojibake repair (operators/mojibake.py — ftfy-subset round-trip fix)
# ---------------------------------------------------------------------------


def _moji(s: str, flavor: str) -> str:
    """UTF-8-misdecode damage generator (test fixture side)."""
    return s.encode("utf-8").decode(flavor)


# doc_id % 4 selects the damage flavor appended to each document:
# cp1252-decoded, latin-1-decoded (carries C1 controls), double-encoded,
# or clean. Escapes below keep the source file printable-ASCII-safe.
_MOJI_SUFFIXES = (
    " " + _moji("Café – naïve «résumé»…", "cp1252"),
    " " + _moji("“Curly” quotes — Áéíñ", "latin-1"),
    " " + _moji(_moji("déjà vu €99", "cp1252"), "cp1252"),
    " clean ascii tail",
)


def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-subset mojibake repair (cp1252/latin-1 UTF-8 round-trips,
    one ordered pass, generated rule table shared with the oracle) over
    documents with deterministically planted damage."""
    from rag_document_parser_spark.operators.mojibake import fix_mojibake

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sfx = F.element_at(F.lit(list(_MOJI_SUFFIXES)),
                       (F.col("doc_id") % 4 + 1).cast("int"))
    planted = docs.select("doc_id",
                          F.concat(F.col("text"), sfx).alias("text"))
    out = fix_mojibake(planted)
    return out.select(F.col("doc_id").cast("long"), "fixed",
                      F.col("changed").cast("int"))


def _sql_chr(s: str) -> str:
    """A string as a chr()-concat SQL expression (control-char safe)."""
    return "||".join(f"chr({ord(c)})" for c in s)


def _sql_fix_mojibake() -> str:
    from rag_document_parser_spark.operators.mojibake import MOJIBAKE_CHAIN

    # DuckDB's binder caps expression recursion at 128, so the ~170-rule
    # chain is staged across CTEs in chunks (order preserved — the chunk
    # boundary is associativity, not reordering)
    cases = " ".join(
        f"WHEN {i} THEN {_sql_chr(s)}"
        for i, s in enumerate(_MOJI_SUFFIXES))
    ctes = [f"""planted AS (
  SELECT doc_id, text || (CASE doc_id % 4 {cases} END) AS t
  FROM documents
)"""]
    src, col, step = "planted", "t", 60
    for n, i in enumerate(range(0, len(MOJIBAKE_CHAIN), step)):
        chain = col
        for moji, ch in MOJIBAKE_CHAIN[i:i + step]:
            chain = f"replace({chain}, {_sql_chr(moji)}, {_sql_chr(ch)})"
        ctes.append(
            f"fx{n} AS (SELECT doc_id, t, {chain} AS s{n} FROM {src})")
        src, col = f"fx{n}", f"s{n}"
    return f"""
WITH {', '.join(ctes)}
SELECT doc_id::BIGINT AS doc_id, {col} AS fixed,
  (CASE WHEN t IS NULL THEN 0 WHEN {col} <> t THEN 1 ELSE 0 END)::INT
    AS changed
FROM {src}"""


SQL_FIX_MOJIBAKE = _sql_fix_mojibake()


# ---------------------------------------------------------------------------
# lexical retrieval (operators/retrieval.py — BM25 over the corpus)
# ---------------------------------------------------------------------------

_BM25_K = 5
_BM25_QLEN = 4


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point log-free BM25 top-k over a broadcast-pruned inverted
    index (operators/retrieval.py). Queries are corpus-derived and
    deterministic: the first 4 tokens of every doc with
    ``doc_id % 101 == 7``, re-tokenized by the engine like any ad-hoc
    query string."""
    from rag_document_parser_spark.operators import retrieval as RET

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    staged = docs.where(F.col("doc_id") % 101 == 7).select(
        "doc_id", D.words(F.col("text")).alias("_w"))
    queries = staged.select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice("_w", 1, _BM25_QLEN), " ").alias("text"))
    out = RET.bm25_topk(docs, queries, k=_BM25_K)
    return out.select(F.col("query_id").cast("long"),
                      F.col("doc_id").cast("long"),
                      "n_terms", "score_e6", "rank")


_BMTOKS = TOKS_SQL.format(c="text")
SQL_BM25_TOPK = f"""
WITH qsrc AS (
  SELECT doc_id AS query_id,
         array_to_string(list_slice({_BMTOKS}, 1, {_BM25_QLEN}), ' ') AS qt
  FROM documents WHERE doc_id % 101 = 7
), qterms AS (
  SELECT DISTINCT query_id, unnest({TOKS_SQL.format(c='qt')}) AS term
  FROM qsrc
), toks AS (
  SELECT doc_id, {_BMTOKS} AS t FROM documents
), post AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf, max(dl) AS dl
  FROM (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks)
  GROUP BY term, doc_id
), matched AS (
  SELECT p.term, p.doc_id, p.tf, p.dl, q.query_id
  FROM post p JOIN qterms q USING (term)
), stats AS (
  SELECT count(*)::BIGINT AS n_docs,
         coalesce(sum(len({_BMTOKS})), 0)::BIGINT AS total_toks
  FROM documents
), dfreq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df_t
  FROM matched GROUP BY term
), sc AS (
  SELECT m.query_id, m.doc_id,
    ((s.n_docs::HUGEINT * 2 - d.df_t * 2 + 1) * 1000
       // (d.df_t::HUGEINT * 2 + 1))
    * (m.tf::HUGEINT * 22000000
       // (m.tf::HUGEINT * 10000 + 3000
           + (m.dl::HUGEINT * 1000000
              // greatest(s.total_toks::HUGEINT * 1000
                          // greatest(s.n_docs, 1), 1)) * 9)) AS ts
  FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s
), agg AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_terms,
         sum(ts)::BIGINT AS score_e6
  FROM sc GROUP BY query_id, doc_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score_e6 DESC, doc_id ASC) AS rank
  FROM agg
)
SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
       n_terms, score_e6, rank::BIGINT AS rank
FROM r WHERE rank <= {_BM25_K}"""


_PH_K = 5
_PH_QLEN = 2


def q_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over a positional index (Manning et al.
    IIR §2.4.2): consecutive-token matching via the anchor = pos − idx
    grouping, ranked by occurrence count. Queries are corpus-derived
    and deterministic: the first 2 tokens of every doc with
    ``doc_id % 97 == 3``."""
    from rag_document_parser_spark.operators import retrieval as RET

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    staged = docs.where(F.col("doc_id") % 97 == 3).select(
        "doc_id", D.words(F.col("text")).alias("_w"))
    queries = staged.select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice("_w", 1, _PH_QLEN), " ").alias("text"))
    out = RET.phrase_topk(docs, queries, k=_PH_K)
    return out.select(F.col("query_id").cast("long"),
                      F.col("doc_id").cast("long"),
                      "n_matches", "rank")


SQL_PHRASE_TOPK = f"""
WITH qsrc AS (
  SELECT doc_id AS query_id,
         array_to_string(list_slice({_BMTOKS}, 1, {_PH_QLEN}), ' ') AS qt
  FROM documents WHERE doc_id % 97 = 3
), qq AS (
  SELECT query_id, unnest(qtoks) AS term,
         generate_subscripts(qtoks, 1) AS idx
  FROM (SELECT query_id, {TOKS_SQL.format(c='qt')} AS qtoks FROM qsrc)
), qlen AS (
  SELECT query_id, len({TOKS_SQL.format(c='qt')})::BIGINT AS m FROM qsrc
), toks AS (
  SELECT doc_id, {_BMTOKS} AS t FROM documents
), px AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos
  FROM toks
), hits AS (
  SELECT q.query_id, p.doc_id, p.pos - q.idx AS anchor
  FROM px p JOIN qq q USING (term)
), occ AS (
  SELECT query_id, doc_id, anchor, count(*)::BIGINT AS c
  FROM hits GROUP BY query_id, doc_id, anchor
), fo AS (
  SELECT o.query_id, o.doc_id FROM occ o JOIN qlen q USING (query_id)
  WHERE o.c = q.m
), agg AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_matches
  FROM fo GROUP BY query_id, doc_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY n_matches DESC, doc_id ASC) AS rank
  FROM agg
)
SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
       n_matches, rank::BIGINT AS rank
FROM r WHERE rank <= {_PH_K}"""


_MLT_K = 5
_MLT_T = 8


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style more-like-this: seed docs (doc_id % 83 == 11)
    contribute their 8 highest tf·idf terms as a query; BM25 retrieves
    the 5 nearest documents per seed, the seed itself excluded."""
    from rag_document_parser_spark.operators import retrieval as RET

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seeds = docs.where(F.col("doc_id") % 83 == 11).select("doc_id")
    out = RET.more_like_this(docs, seeds, k=_MLT_K, n_terms=_MLT_T)
    return out.select(F.col("query_id").cast("long"),
                      F.col("doc_id").cast("long"),
                      "n_terms", "score_e6", "rank")


SQL_MORE_LIKE_THIS = f"""
WITH toks AS (
  SELECT doc_id, {_BMTOKS} AS t FROM documents
), post AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf, max(dl) AS dl
  FROM (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks)
  GROUP BY term, doc_id
), seeds AS (
  SELECT doc_id AS query_id FROM documents WHERE doc_id % 83 = 11
), sp AS (
  SELECT s.query_id, p.term, p.tf
  FROM post p JOIN seeds s ON p.doc_id = s.query_id
), cand AS (
  SELECT DISTINCT term FROM sp
), dfc AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df_t
  FROM post JOIN cand USING (term) GROUP BY term
), nd AS (
  SELECT count(*)::BIGINT AS n_docs FROM documents
), tsc AS (
  SELECT query_id, term,
    (tf::HUGEINT * ((n_docs::HUGEINT * 2 - df_t * 2 + 1) * 1000
                    // (df_t::HUGEINT * 2 + 1)))::BIGINT AS s
  FROM sp JOIN dfc USING (term) CROSS JOIN nd
), qterms AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, term ASC) AS r
    FROM tsc) z
  WHERE r <= {_MLT_T}
), matched AS (
  SELECT p.term, p.doc_id, p.tf, p.dl, q.query_id
  FROM post p JOIN qterms q USING (term)
), stats AS (
  SELECT count(*)::BIGINT AS n_docs,
         coalesce(sum(len({_BMTOKS})), 0)::BIGINT AS total_toks
  FROM documents
), dfreq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df_t
  FROM matched GROUP BY term
), sc AS (
  SELECT m.query_id, m.doc_id,
    ((s.n_docs::HUGEINT * 2 - d.df_t * 2 + 1) * 1000
       // (d.df_t::HUGEINT * 2 + 1))
    * (m.tf::HUGEINT * 22000000
       // (m.tf::HUGEINT * 10000 + 3000
           + (m.dl::HUGEINT * 1000000
              // greatest(s.total_toks::HUGEINT * 1000
                          // greatest(s.n_docs, 1), 1)) * 9)) AS ts
  FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s
), agg AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_terms,
         sum(ts)::BIGINT AS score_e6
  FROM sc WHERE doc_id <> query_id GROUP BY query_id, doc_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score_e6 DESC, doc_id ASC) AS rank
  FROM agg
)
SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
       n_terms, score_e6, rank::BIGINT AS rank
FROM r WHERE rank <= {_MLT_K}"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_TOPK = 5
_NQ = 8


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "embedding")
    joined = emb.select("vec_id", "embedding").crossJoin(
        F.broadcast(queries.select("query_id",
                                   F.col("embedding").alias("_qvec"))))
    scored = joined.select(
        "query_id", "vec_id",
        V.cosine_similarity_col(F.col("embedding"), F.col("_qvec")).alias("cos"),
    ).where(F.col("query_id") != F.col("vec_id"))
    return (V.topk_per_query(scored, _TOPK, "query_id", "vec_id", "cos")
            .select(F.col("query_id").cast("long"), F.col("vec_id").cast("long"),
                    F.floor(F.col("cos") * 1000000).cast("long").alias("cosine_e6"),
                    F.col("rank").cast("long")))


_DOT = ("list_reduce(list_transform(range(1, len(v)+1), i -> v[i]*qv[i]),"
        " (a,b) -> a+b)")
_NRM = "sqrt(list_reduce(list_transform({x}, e -> e*e), (a,b) -> a+b))"
SQL_COSINE_TOPK = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_NQ}),
s AS (SELECT query_id, vec_id,
        {_DOT} / ({_NRM.format(x='v')} * {_NRM.format(x='qv')}) AS cos
      FROM e, q WHERE query_id <> vec_id),
r AS (SELECT query_id, vec_id, cos,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cos DESC, vec_id ASC) AS rank FROM s)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       floor(cos * 1000000)::BIGINT AS cosine_e6, rank::BIGINT AS rank
FROM r WHERE rank <= {_TOPK}"""


_BTX_K = 4


def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 "max"
    strategy) between the even- and odd-id halves of the embedding
    table — the parallel-pair mining step of a multilingual
    training-data pipeline (``operators/bitext.py``). Every margin is
    integer fixed-point over floor-scaled e6 cosines, so the DuckDB
    twin reproduces it bitwise."""
    from rag_document_parser_spark.operators import bitext as BX

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    left = emb.where(F.col("vec_id") % 2 == 0)
    right = emb.where(F.col("vec_id") % 2 == 1)
    out = BX.margin_bitext_pairs(left, right, k=_BTX_K)
    return out.select(F.col("x_id").cast("long"),
                      F.col("y_id").cast("long"),
                      F.col("cos_e6").cast("long"),
                      F.col("margin_e6").cast("long"))


_BTX_DOT = ("list_reduce(list_transform(range(1, len(xv)+1),"
            " i -> xv[i]*yv[i]), (a,b) -> a+b)")
SQL_BITEXT_MINE = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
xs AS (SELECT vec_id AS x_id, v AS xv FROM e WHERE vec_id % 2 = 0),
ys AS (SELECT vec_id AS y_id, v AS yv FROM e WHERE vec_id % 2 = 1),
s AS (SELECT x_id, y_id,
        floor({_BTX_DOT} / ({_NRM.format(x='xv')} * {_NRM.format(x='yv')})
              * 1000000)::BIGINT AS cos_e6
      FROM xs, ys),
fwd AS (SELECT x_id, y_id, cos_e6 FROM (
          SELECT *, row_number() OVER (PARTITION BY x_id
                     ORDER BY cos_e6 DESC, y_id ASC) AS r FROM s)
        WHERE r <= {_BTX_K}),
bwd AS (SELECT x_id, y_id, cos_e6 FROM (
          SELECT *, row_number() OVER (PARTITION BY y_id
                     ORDER BY cos_e6 DESC, x_id ASC) AS r FROM s)
        WHERE r <= {_BTX_K}),
nx AS (SELECT x_id, sum(cos_e6)::BIGINT AS sx, count(*)::BIGINT AS cx
       FROM fwd GROUP BY x_id),
ny AS (SELECT y_id, sum(cos_e6)::BIGINT AS sy, count(*)::BIGINT AS cy
       FROM bwd GROUP BY y_id),
cand AS (SELECT f.x_id, f.y_id, f.cos_e6,
           2 * greatest(f.cos_e6, 0) * cx * cy * 1000000
             // greatest(sx * cy + sy * cx, 1) AS margin_e6
         FROM fwd f JOIN nx USING (x_id) JOIN ny USING (y_id)),
best AS (SELECT x_id, y_id, cos_e6, margin_e6 FROM (
           SELECT *, row_number() OVER (PARTITION BY x_id
                      ORDER BY margin_e6 DESC, y_id ASC) AS rx FROM cand)
         WHERE rx = 1),
uniq AS (SELECT x_id, y_id, cos_e6, margin_e6 FROM (
           SELECT *, row_number() OVER (PARTITION BY y_id
                      ORDER BY margin_e6 DESC, x_id ASC) AS ry FROM best)
         WHERE ry = 1)
SELECT x_id::BIGINT AS x_id, y_id::BIGINT AS y_id,
       cos_e6::BIGINT AS cos_e6, margin_e6::BIGINT AS margin_e6
FROM uniq"""


def q_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 2 WordPiece merges (Schuster & Nakajima 2012 likelihood
    criterion: argmax of ``cnt * 1e9 div (count(l) * count(r))``) from
    the corpus word-TYPE table; the oracle unrolls the driver-paced
    rounds as CTEs a la ``bpe_merges``."""
    from rag_document_parser_spark.operators import wordpiece as WP
    m = WP.train_wordpiece(_docs(spark, sf_dir), n_merges=2, min_count=2)
    return WP.merges_df(spark, m)


_WP_SYM = "' ' || array_to_string(string_split({w}, ''), ' ') || ' '"
_WP_PAIRS = """SELECT pair, sum(c) AS cnt FROM (
    SELECT c, unnest(list_transform(range(len(y) - 1),
                     i -> y[i + 1] || ' ' || y[i + 2])) AS pair
    FROM (SELECT c, string_split(trim(s), ' ') AS y FROM {src}) z1) z2
  GROUP BY pair"""
_WP_SYMCNT = """SELECT sym, sum(c) AS scnt FROM (
    SELECT c, unnest(string_split(trim(s), ' ')) AS sym FROM {src}) z
  GROUP BY sym"""
_WP_BEST = """SELECT pair, cnt,
    (cnt * 1000000000 // (lc.scnt * rc.scnt))::BIGINT AS score_e9
  FROM {p} JOIN {c} lc ON lc.sym = split_part(pair, ' ', 1)
           JOIN {c} rc ON rc.sym = split_part(pair, ' ', 2)
  ORDER BY score_e9 DESC, pair LIMIT 1"""
_WP_APPLY = (
    "replace({s}, ' ' || coalesce((SELECT pair FROM {b}), chr(1)) || ' ',"
    " ' ' || coalesce((SELECT replace(pair, ' ', '') FROM {b}), chr(1))"
    " || ' ')")
_WP_TRAIN_CTES = f"""
toks AS (SELECT doc_id, {TOKS_SQL.format(c='text')} AS t FROM documents),
w AS (SELECT unnest(t) AS word FROM toks),
wc AS (SELECT word, count(*) AS c FROM w GROUP BY word
       HAVING count(*) >= 2),
s0 AS (SELECT c, {_WP_SYM.format(w='word')} AS s FROM wc),
p1 AS ({_WP_PAIRS.format(src='s0')}),
c1 AS ({_WP_SYMCNT.format(src='s0')}),
b1 AS ({_WP_BEST.format(p='p1', c='c1')}),
s1 AS (SELECT c, {_WP_APPLY.format(s='s', b='b1')} AS s FROM s0),
p2 AS ({_WP_PAIRS.format(src='s1')}),
c2 AS ({_WP_SYMCNT.format(src='s1')}),
b2 AS ({_WP_BEST.format(p='p2', c='c2')})"""
SQL_WORDPIECE_MERGES = f"""
WITH {_WP_TRAIN_CTES}
SELECT 1::BIGINT AS merge_rank, split_part(pair, ' ', 1) AS lhs,
  split_part(pair, ' ', 2) AS rhs, cnt::BIGINT AS pair_count,
  score_e9::BIGINT AS score_e9 FROM b1
UNION ALL
SELECT 2::BIGINT, split_part(pair, ' ', 1), split_part(pair, ' ', 2),
  cnt::BIGINT, score_e9::BIGINT FROM b2"""


_WP_MAXLEN = 8


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM seed vocabulary (Kudo 2018 SentencePiece
    initialization): every single character of the trainable word-TYPE
    table plus the 64 most frequent multi-char substrings (length
    <= 4), each costed by the piecewise-linear integer base-2 log both
    engines compute bit-identically (operators/unigram.py docstring)."""
    from rag_document_parser_spark.operators import unigram as U
    return U.unigram_vocab(_docs(spark, sf_dir), vocab_size=64,
                           max_piece_len=4, min_count=2,
                           ascii_only=True)


_UG_LOG2 = ("((length(bin({n})) - 1) * 1000000 + "
            "(({n} * 1000000) // (1::BIGINT << (length(bin({n})) - 1)))"
            " - 1000000)")
_UG_MAXLEN = 4
_UG_INF = 1_000_000_000_000_000
_UG_VOCAB_CTES = f"""
toks AS (SELECT doc_id, {TOKS_SQL.format(c='text')} AS t
         FROM documents),
w AS (SELECT unnest(t) AS word FROM toks),
awf AS (SELECT word FROM w
        WHERE regexp_matches(word, '^[a-z0-9]+$')),
wc AS (SELECT word, count(*) AS c FROM awf GROUP BY word
       HAVING count(*) >= 2),
wl AS (SELECT word, c, len(word) AS wlen FROM wc),
cp AS (SELECT word, c, wlen, unnest(range(1, wlen + 1)) AS pos
       FROM wl),
cd AS (SELECT c, word, pos,
         unnest(range(1, least({_UG_MAXLEN}, wlen - pos + 1) + 1))
           AS plen
       FROM cp),
pf AS (SELECT substring(word, pos, plen) AS piece, plen,
              sum(c)::BIGINT AS freq
       FROM cd GROUP BY piece, plen),
sel AS (SELECT piece, freq FROM pf WHERE plen = 1
        UNION ALL
        SELECT piece, freq FROM (
          SELECT piece, freq FROM pf WHERE plen >= 2
          ORDER BY freq DESC, piece ASC LIMIT 64) z),
tot AS (SELECT sum(freq)::BIGINT AS t FROM sel)"""
SQL_UNIGRAM_VOCAB = f"""
WITH {_UG_VOCAB_CTES}
SELECT piece, freq::BIGINT AS freq,
  ({_UG_LOG2.format(n='t')} - {_UG_LOG2.format(n='freq')})::BIGINT
    AS cost_e6
FROM sel, tot"""


def q_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc exact-Viterbi segmentation totals under the seed
    unigram vocabulary (minimum total piece cost, ties toward the
    longer piece). The oracle replays the DP with a recursive CTE
    carrying the (cost, backpointer) array per word TYPE and a second
    recursion counting backtrack steps for n_pieces."""
    from rag_document_parser_spark.operators import unigram as U
    docs = _docs(spark, sf_dir)
    v = U.unigram_vocab(docs, vocab_size=64, max_piece_len=4,
                        min_count=2, ascii_only=True)
    return U.viterbi_segment(docs, v, max_piece_len=4,
                             ascii_only=True)


SQL_UNIGRAM_SEGMENT = f"""
WITH RECURSIVE {_UG_VOCAB_CTES},
vsel AS (SELECT piece,
           ({_UG_LOG2.format(n='t')}
            - {_UG_LOG2.format(n='freq')})::BIGINT AS cost_e6
         FROM sel, tot),
uc AS (SELECT (2 * {_UG_LOG2.format(n='t')})::BIGINT AS ucost
       FROM tot),
f AS (SELECT doc_id, unnest(t) AS word FROM toks),
fa AS (SELECT doc_id, word FROM f
       WHERE regexp_matches(word, '^[a-z0-9]+$')),
tw AS (SELECT DISTINCT word FROM fa),
twl AS (SELECT word, len(word) AS wlen FROM tw),
spj AS (SELECT word, wlen, unnest(range(1, wlen + 1)) AS j
        FROM twl),
sp AS (SELECT word, j,
         unnest(range(greatest(1, j - {_UG_MAXLEN} + 1), j + 1)) AS i
       FROM spj),
spc AS (SELECT s.word, s.j, s.i,
          coalesce(v.cost_e6,
                   CASE WHEN s.j = s.i THEN u.ucost
                        ELSE {_UG_INF}::BIGINT END) AS cost
        FROM (SELECT word, j, i,
                     substring(word, i, (j - i + 1)::INT) AS piece
              FROM sp) s
        LEFT JOIN vsel v USING (piece) CROSS JOIN uc u),
cl AS (SELECT word, j,
         list(struct_pack(i := i, cost := cost) ORDER BY i) AS cands
       FROM spc GROUP BY word, j),
walk AS (
  SELECT word, wlen, 0::BIGINT AS j,
         [struct_pack(c := 0::BIGINT, b := 0::BIGINT)] AS dp
  FROM twl
  UNION ALL
  SELECT k.word, k.wlen, k.j + 1,
    list_append(k.dp, list_reduce(
      list_transform(s.cands,
        x -> struct_pack(c := k.dp[x.i].c + x.cost,
                         b := (x.i - 1)::BIGINT)),
      (m, x) -> CASE WHEN x.c < m.c THEN x ELSE m END))
  FROM walk k JOIN cl s ON s.word = k.word AND s.j = k.j + 1
  WHERE k.j < k.wlen),
fin AS (SELECT word, wlen, dp FROM walk WHERE j = wlen),
bt AS (
  SELECT word, wlen AS pos, 0::BIGINT AS n, dp,
         dp[wlen + 1].c AS cost
  FROM fin
  UNION ALL
  SELECT word, dp[pos + 1].b, n + 1, dp, cost
  FROM bt WHERE pos > 0),
pw AS (SELECT word, n AS n_pieces, cost FROM bt WHERE pos = 0),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
               sum(p.n_pieces)::BIGINT AS n_pieces,
               sum(p.cost)::BIGINT AS cost_e6
        FROM fa JOIN pw p USING (word) GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
  coalesce(a.n_pieces, 0)::BIGINT AS n_pieces,
  coalesce(a.cost_e6, 0)::BIGINT AS cost_e6
FROM documents d LEFT JOIN agg a USING (doc_id)"""


def _evasion_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus + homoglyph-disguised clones of doc_id<20: Latin aeo →
    Cyrillic аео plus a zero-width-space prefix — byte-distinct,
    renders identically (the dedup-evasion fixture)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    clones = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("​"),
                 F.translate("text", "aeo", "аео")).alias("text"))
    return docs.unionByName(clones)


_EVASION_SQL = ("(SELECT doc_id, text FROM documents UNION ALL "
                "SELECT doc_id + 2000000 AS doc_id, "
                "chr(8203) || translate(text, 'aeo', 'аео') AS text "
                "FROM documents WHERE doc_id < 20)")


def q_confusable_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTS #39-subset evasion signals per doc: confusable and
    invisible character counts over the corpus with planted
    homoglyph-disguised clones (operators/confusables.py)."""
    from rag_document_parser_spark.operators import confusables as CF
    return CF.confusable_stats(_evasion_docs(spark, sf_dir))


def q_skeleton_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate pairs UNDER the confusable skeleton: catches
    the homoglyph/zero-width-disguised clones exact dedup misses,
    flagging which pairs were actually disguised."""
    from rag_document_parser_spark.operators import confusables as CF
    return CF.skeleton_dedup_pairs(_evasion_docs(spark, sf_dir))


def _sql_confusables() -> tuple[str, str]:
    from rag_document_parser_spark.operators.confusables import (
        INVISIBLES, SKELETON_MAP)
    frm = "".join(SKELETON_MAP)
    to = "".join(SKELETON_MAP.values())
    inv = "[" + INVISIBLES + "]"
    stats = f"""
WITH u AS (SELECT * FROM {_EVASION_SQL})
SELECT doc_id::BIGINT AS doc_id,
  (length(text) - length(translate(text, '{frm}', '')))::BIGINT
    AS n_confusables,
  (length(text) - length(regexp_replace(text, '{inv}', '', 'g')))
    ::BIGINT AS n_invisibles,
  (length(text) - length(translate(text, '{frm}', ''))
   + length(text) - length(regexp_replace(text, '{inv}', '', 'g'))
   > 0) AS changed
FROM u"""
    pairs = f"""
WITH u AS (SELECT * FROM {_EVASION_SQL}),
sk AS (SELECT doc_id AS id, md5(text) AS raw_md5,
         md5(regexp_replace(translate(text, '{frm}', '{to}'),
                            '{inv}', '', 'g')) AS skel_md5
       FROM u),
grp AS (SELECT skel_md5, min(id) AS rep_id,
               arg_min(raw_md5, id) AS rep_raw
        FROM sk GROUP BY skel_md5
        HAVING count(*) > 1 AND count(DISTINCT raw_md5) > 1)
SELECT g.rep_id::BIGINT AS id_a, s.id::BIGINT AS id_b,
       (s.raw_md5 <> g.rep_raw) AS disguised
FROM sk s JOIN grp g USING (skel_md5) WHERE s.id <> g.rep_id"""
    return stats, pairs


def _matrix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Originals + byte clones (+1e6) + homoglyph-disguised clones
    (+2e6) of doc_id<20: the planted ground truth for the dedup
    method matrix (same base id mod 1e6 = same source content)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    lo = docs.where(F.col("doc_id") < 20)
    byte_c = lo.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       "text")
    disg = lo.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.lit("​"),
                 F.translate("text", "aeo", "аео")).alias("text"))
    return docs.unionByName(byte_c).unionByName(disg)


_MATRIX_SQL = ("(SELECT doc_id, text FROM documents UNION ALL "
               "SELECT doc_id + 1000000, text FROM documents "
               "WHERE doc_id < 20 UNION ALL "
               "SELECT doc_id + 2000000, "
               "chr(8203) || translate(text, 'aeo', 'аео') "
               "FROM documents WHERE doc_id < 20)")


def q_dedup_method_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which dedup tier catches what: per method (exact, skeleton,
    3-shingle Jaccard>=0.8, weighted Jaccard>=0.8, simhash<=3), the
    count of PLANTED pairs found (same source content by
    construction) vs extra pairs — the side-by-side that tells an
    operator which tiers to stack before a 100 TB run. Measured at
    sf0.01: exact finds only the 20 byte clones; the similarity tiers
    (Jaccard/weighted/simhash) ALSO miss every disguised clone —
    an aeo homoglyph swap rewrites nearly every token, so shingle
    overlap collapses — and only the skeleton method folds all 40
    planted pairs. Evasion defeats similarity dedup too; skeleton
    normalization is the only countermeasure in the stack."""
    from rag_document_parser_spark.operators import wminhash as WM
    from rag_document_parser_spark.operators.confusables import skeleton
    u = _matrix_docs(spark, sf_dir)

    def group_pairs(keyed):
        grp = (keyed.groupBy("k")
               .agg(F.min("id").alias("rep"),
                    F.count("*").alias("n"))
               .where(F.col("n") > 1))
        return (keyed.join(grp, "k")
                .where(F.col("id") != F.col("rep"))
                .select(F.col("rep").alias("id_a"),
                        F.col("id").alias("id_b")))

    methods = {
        "exact": group_pairs(u.select(
            F.col("doc_id").alias("id"), F.md5("text").alias("k"))),
        "skeleton": group_pairs(u.select(
            F.col("doc_id").alias("id"),
            F.md5(skeleton(F.col("text"))).alias("k"))),
        "jaccard_08": D.ngram_jaccard_pairs(
            u, n=3, threshold=0.8, df_cap=1000)
        .select("id_a", "id_b"),
        "weighted_08": WM.weighted_jaccard_pairs(
            u, n=3, threshold_e6=800_000, max_weight=4, df_cap=1000)
        .select("id_a", "id_b"),
        "simhash_3": D.simhash_near_pairs(u, max_hamming=3)
        .select("id_a", "id_b"),
    }
    rows = []
    for name, p in methods.items():
        rows.append(p.select(
            F.lit(name).alias("method"),
            ((F.col("id_a") % 1000000) == (F.col("id_b") % 1000000))
            .cast("long").alias("_pl"))
            .groupBy("method")
            .agg(F.sum("_pl").cast("long").alias("planted"),
                 F.sum(1 - F.col("_pl")).cast("long").alias("extra")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    # a method finding nothing still emits a row
    frame = spark.createDataFrame(
        [(m,) for m in methods], ["method"])
    return (frame.join(out, "method", "left")
            .select("method",
                    F.coalesce("planted", F.lit(0)).cast("long")
                    .alias("planted"),
                    F.coalesce("extra", F.lit(0)).cast("long")
                    .alias("extra")))


def _sql_dedup_method_matrix() -> str:
    from rag_document_parser_spark.operators.confusables import (
        INVISIBLES, SKELETON_MAP)
    frm = "".join(SKELETON_MAP)
    to = "".join(SKELETON_MAP.values())
    inv = "[" + INVISIBLES + "]"
    skel = (f"regexp_replace(translate(text, '{frm}', '{to}'), "
            f"'{inv}', '', 'g')")
    cnt = ("SELECT '{m}' AS method, "
           "coalesce(sum((id_a % 1000000 = id_b % 1000000)::INT), 0)"
           "::BIGINT AS planted, "
           "coalesce(sum((id_a % 1000000 <> id_b % 1000000)::INT), 0)"
           "::BIGINT AS extra FROM {src}")
    return _sql_simhash_cte(_MATRIX_SQL) + f""",
u2 AS (SELECT * FROM {_MATRIX_SQL}),
xp AS (SELECT a.id AS id_a, b.id AS id_b
       FROM sh a JOIN sh b ON a.id < b.id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
xe1 AS (SELECT doc_id AS id, md5(text) AS k FROM u2),
xe2 AS (SELECT k, min(id) AS rep FROM xe1 GROUP BY k
        HAVING count(*) > 1),
xep AS (SELECT xe2.rep AS id_a, xe1.id AS id_b
        FROM xe1 JOIN xe2 USING (k) WHERE xe1.id <> xe2.rep),
xs1 AS (SELECT doc_id AS id, md5({skel}) AS k FROM u2),
xs2 AS (SELECT k, min(id) AS rep FROM xs1 GROUP BY k
        HAVING count(*) > 1),
xsp AS (SELECT xs2.rep AS id_a, xs1.id AS id_b
        FROM xs1 JOIN xs2 USING (k) WHERE xs1.id <> xs2.rep),
xsh AS (SELECT doc_id AS id, {_shingles_sql('text', 3)} AS g FROM u2),
xjd AS (SELECT id, list_distinct(g) AS sh2, len(list_distinct(g))
          AS n_sh FROM xsh WHERE len(g) > 0),
xjf AS (SELECT id, n_sh, unnest(sh2) AS shingle FROM xjd),
xjq AS (SELECT shingle FROM xjf GROUP BY shingle
        HAVING count(*) <= 1000),
xjg AS (SELECT xjf.* FROM xjf JOIN xjq USING (shingle)),
xji AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter,
               min(a.n_sh) AS n_a, min(b.n_sh) AS n_b
        FROM xjg a JOIN xjg b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id),
xjp AS (SELECT id_a, id_b FROM xji
        WHERE inter / (n_a + n_b - inter) >= 0.8),
xw1 AS (SELECT id, shingle, least(count(*), 4)::BIGINT AS w
        FROM (SELECT id, unnest(g) AS shingle FROM xsh
              WHERE len(g) > 0) z
        GROUP BY id, shingle),
xwq AS (SELECT shingle FROM xw1 GROUP BY shingle
        HAVING count(*) <= 1000),
xwg AS (SELECT xw1.* FROM xw1 JOIN xwq USING (shingle)),
xwt AS (SELECT id, sum(w)::BIGINT AS tot FROM xw1 GROUP BY id),
xwi AS (SELECT a.id AS id_a, b.id AS id_b,
               sum(least(a.w, b.w))::BIGINT AS iw
        FROM xwg a JOIN xwg b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id),
xwp AS (SELECT id_a, id_b FROM xwi
        JOIN xwt ta ON xwi.id_a = ta.id
        JOIN xwt tb ON xwi.id_b = tb.id
        WHERE iw * 1000000 // (ta.tot + tb.tot - iw) >= 800000)
{cnt.format(m='exact', src='xep')} UNION ALL
{cnt.format(m='skeleton', src='xsp')} UNION ALL
{cnt.format(m='jaccard_08', src='xjp')} UNION ALL
{cnt.format(m='weighted_08', src='xwp')} UNION ALL
{cnt.format(m='simhash_3', src='xp')}"""


def q_merkle_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle integrity rollup of the corpus: 16 order-insensitive
    bucket digests (bit_xor folds of row md5s) hashed up to one root
    — the digest two materializations must share to be certified
    byte-identical; a mismatch walks the tree to the divergent bucket
    in log2(n) steps (operators/integrity.py)."""
    from rag_document_parser_spark.operators import integrity as IG
    return IG.merkle_tree(IG.leaf_checksums(_docs(spark, sf_dir),
                                            n_buckets=16), 16)


def _sql_merkle_level(child: str, lvl: int) -> str:
    return (f"SELECT {lvl}::BIGINT AS level, (idx // 2)::BIGINT AS idx,"
            f" md5(string_agg(node_hash, '' ORDER BY idx)) AS node_hash"
            f" FROM {child} GROUP BY idx // 2")


SQL_MERKLE_TREE = f"""
WITH rows AS (SELECT
    ('0x' || substring(md5(doc_id::VARCHAR || 'mk'), 1, 15))::BIGINT
      % 16 AS idx,
    ('0x' || substring(md5(doc_id::VARCHAR || chr(31) || text), 1, 15)
    )::BIGINT AS h
  FROM documents),
agg AS (SELECT idx, bit_xor(h) AS x FROM rows GROUP BY idx),
frame AS (SELECT unnest(range(0, 16)) AS idx),
l4 AS (SELECT 4::BIGINT AS level, f.idx::BIGINT AS idx,
              md5(coalesce(a.x, 0)::VARCHAR) AS node_hash
       FROM frame f LEFT JOIN agg a USING (idx)),
l3 AS ({_sql_merkle_level('l4', 3)}),
l2 AS ({_sql_merkle_level('l3', 2)}),
l1 AS ({_sql_merkle_level('l2', 1)}),
l0 AS ({_sql_merkle_level('l1', 0)})
SELECT * FROM l4 UNION ALL SELECT * FROM l3 UNION ALL
SELECT * FROM l2 UNION ALL SELECT * FROM l1 UNION ALL
SELECT * FROM l0"""


def _classified_with_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classify_lang's scored output joined with the true lang:
    adds boolean `correct` — the calibration tier's input."""
    from rag_document_parser_spark.operators.classify import (
        classify, train_class_profiles)
    docs = _docs(spark, sf_dir)
    model = train_class_profiles(
        SAM.hash_sample(docs, 0.25, salt="cls1"),
        label_col="lang", min_count=2)
    scored = classify(docs, model)
    return (scored.join(docs.select("doc_id", "lang"), "doc_id")
            .select("doc_id", "score_e6", "n_tokens",
                    (F.col("label_pred").isNotNull()
                     & (F.col("label_pred") == F.col("lang")))
                    .alias("correct")))


_CAL_TRUTH_SQL = f"""
c AS (SELECT q.doc_id, q.score_e6, q.n_tokens,
             (q.label_pred IS NOT NULL AND q.label_pred = d.lang)
               AS correct
      FROM ({{inner}}) q JOIN documents d USING (doc_id))"""


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the language classifier's confidence
    (Guo et al. 2017 binned recipe): claimed mean confidence vs
    observed accuracy per decile bin, integer fixed point
    (operators/calibration.py)."""
    from rag_document_parser_spark.operators import calibration as CAL
    return CAL.reliability_bins(
        _classified_with_truth(spark, sf_dir), n_bins=10)


def q_classifier_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error + max bin gap of the language
    classifier — the one-number go/no-go before its scores gate a
    100 TB filter."""
    from rag_document_parser_spark.operators import calibration as CAL
    return CAL.expected_calibration_error(
        _classified_with_truth(spark, sf_dir), n_bins=10)


def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the language classifier's confidence as a
    correctness ranker (Mann-Whitney with midrank ties): the
    threshold-free discrimination number beside ECE's calibration
    number."""
    from rag_document_parser_spark.operators import calibration as CAL
    return CAL.roc_auc(_classified_with_truth(spark, sf_dir))


def _sql_classifier_auc() -> str:
    inner = SQL_CLASSIFY_LANG
    return "WITH " + _CAL_TRUTH_SQL.format(inner=inner) + """,
d AS (SELECT score_e6 AS s, sum(correct::INT)::BIGINT AS np,
             sum((NOT correct)::INT)::BIGINT AS nn,
             count(*)::BIGINT AS t
      FROM c GROUP BY score_e6),
r AS (SELECT np, nn, t,
        (sum(t) OVER (ORDER BY s ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
          AS cb
      FROM d),
a AS (SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
             sum(np * (2 * cb + t + 1))::HUGEINT AS s2
      FROM r)
SELECT n_pos, n_neg,
  (CASE WHEN n_pos > 0 AND n_neg > 0
        THEN (s2 - n_pos::HUGEINT * (n_pos + 1)) * 1000000
             // (n_pos::HUGEINT * 2 * n_neg) END)::BIGINT AS auc_e6
FROM a"""


def q_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs and token mass kept at each candidate confidence
    threshold (suffix-cumulative over score bins) — the cost side of
    picking a filter threshold."""
    from rag_document_parser_spark.operators import calibration as CAL
    return CAL.retention_curve(
        _classified_with_truth(spark, sf_dir),
        weight_col="n_tokens", n_steps=10)


def _sql_cal_base() -> str:
    inner = SQL_CLASSIFY_LANG
    return "WITH " + _CAL_TRUTH_SQL.format(inner=inner) + f""",
b AS (SELECT least(9, score_e6 * 10 // 1000000) AS bin, score_e6,
             n_tokens, correct FROM c),
agg AS (SELECT bin, count(*) AS n, sum(score_e6) AS sc,
               sum(correct::INT) AS pos, sum(n_tokens) AS wt
        FROM b GROUP BY bin),
frame AS (SELECT unnest(range(0, 10)) AS bin),
bins AS (SELECT f.bin::BIGINT AS bin, coalesce(a.n, 0)::BIGINT AS n,
           (a.sc // nullif(a.n, 0))::BIGINT AS conf_e6,
           (a.pos * 1000000 // nullif(a.n, 0))::BIGINT AS acc_e6,
           abs(a.sc // nullif(a.n, 0)
               - a.pos * 1000000 // nullif(a.n, 0))::BIGINT AS gap_e6,
           coalesce(a.n, 0)::BIGINT AS dn,
           coalesce(a.wt, 0)::BIGINT AS dw
         FROM frame f LEFT JOIN agg a USING (bin))"""


def _sql_calibration_bins() -> str:
    return _sql_cal_base() + """
SELECT bin, n, conf_e6, acc_e6, gap_e6 FROM bins"""


def _sql_classifier_ece() -> str:
    return _sql_cal_base() + """
SELECT sum(n)::BIGINT AS n_docs,
  (sum(n * gap_e6) // sum(n))::BIGINT AS ece_e6,
  max(gap_e6)::BIGINT AS max_gap_e6
FROM bins WHERE n > 0"""


def _sql_retention_curve() -> str:
    return _sql_cal_base() + """
SELECT bin AS step, (bin * 1000000 // 10)::BIGINT AS threshold_e6,
  sum(dn) OVER (ORDER BY bin DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ::BIGINT AS docs_kept,
  (sum(dn) OVER (ORDER BY bin DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
   * 1000000 // nullif(sum(dn) OVER (), 0))::BIGINT AS docs_frac_e6,
  sum(dw) OVER (ORDER BY bin DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ::BIGINT AS weight_kept,
  (sum(dw) OVER (ORDER BY bin DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
   * 1000000 // nullif(sum(dw) OVER (), 0))::BIGINT
    AS weight_frac_e6
FROM bins"""


def q_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tf-weighted Jaccard pairs (Σmin/Σmax over clamped term
    frequencies) on the cloned corpus — the occurrence-mass similarity
    that catches templated near-dups whose distinct-shingle Jaccard
    understates the overlap (operators/wminhash.py)."""
    from rag_document_parser_spark.operators import wminhash as WM
    return WM.weighted_jaccard_pairs(
        _cloned_docs(spark, sf_dir), n=3, threshold_e6=500_000,
        max_weight=4, df_cap=1000)


SQL_WEIGHTED_JACCARD = f"""
WITH u AS (SELECT * FROM {CLONED_SQL}),
s AS (SELECT doc_id AS id, {_SH3} AS sh FROM u),
s2 AS (SELECT id, sh FROM s WHERE len(sh) > 0),
ws AS (SELECT id, shingle, least(count(*), 4)::BIGINT AS w
       FROM (SELECT id, unnest(sh) AS shingle FROM s2) z
       GROUP BY id, shingle),
freq AS (SELECT shingle, count(*) AS c FROM ws GROUP BY shingle),
f2 AS (SELECT ws.id, ws.shingle, ws.w FROM ws
       JOIN freq ON ws.shingle = freq.shingle WHERE freq.c <= 1000),
tots AS (SELECT id, sum(w)::BIGINT AS tot FROM ws GROUP BY id),
inter AS (SELECT a.id AS id_a, b.id AS id_b,
                 sum(least(a.w, b.w))::BIGINT AS inter_w
          FROM f2 a JOIN f2 b ON a.shingle = b.shingle AND a.id < b.id
          GROUP BY a.id, b.id)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, inter_w,
  ta.tot::BIGINT AS tot_a, tb.tot::BIGINT AS tot_b,
  (inter_w * 1000000 // (ta.tot + tb.tot - inter_w))::BIGINT
    AS wjaccard_e6
FROM inter JOIN tots ta ON inter.id_a = ta.id
           JOIN tots tb ON inter.id_b = tb.id
WHERE inter_w * 1000000 // (ta.tot + tb.tot - inter_w) >= 500000"""


_WM_K = 8
_WM_M31 = 2147483647


def q_wminhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted MinHash signatures over the integer-replica expansion
    (collision probability = weighted Jaccard), comma-joined for
    stable hashing like the unweighted `minhash_signatures` query."""
    from rag_document_parser_spark.operators import wminhash as WM
    sigs = WM.weighted_minhash_signatures(
        _docs(spark, sf_dir), n=3, k=_WM_K, max_weight=4)
    return sigs.select(
        F.col("id").cast("long").alias("id"),
        F.array_join(F.transform("signature",
                                 lambda x: x.cast("string")), ",")
        .alias("sig"))


def _wm_const(name: str, i: int, plus: int = 0,
              mod: int = _WM_M31) -> str:
    return (f"(('0x' || substring(md5('wminhash-{name}-{i}'), 1, 15))"
            f"::BIGINT % {mod} + {plus})")


SQL_WMINHASH_SIGS = f"""
WITH s AS (SELECT doc_id AS id, {_SH3} AS sh FROM documents),
s2 AS (SELECT id, sh FROM s WHERE len(sh) > 0),
ws AS (SELECT id, shingle, least(count(*), 4)::BIGINT AS w
       FROM (SELECT id, unnest(sh) AS shingle FROM s2) z
       GROUP BY id, shingle),
reps AS (SELECT id,
           ('0x' || substring(md5(shingle || '#' || r::VARCHAR), 1, 15)
           )::BIGINT % {_WM_M31} AS h
         FROM (SELECT id, shingle, unnest(range(1, w + 1)) AS r
               FROM ws) z),
sigs AS (SELECT id, {", ".join(
    f"min(({_wm_const('a', i, 1, _WM_M31 - 1)} * h"
    f" + {_wm_const('b', i)})"
    f" % {_WM_M31})::BIGINT AS m{i}" for i in range(_WM_K))}
         FROM reps GROUP BY id)
SELECT id::BIGINT AS id,
  {" || ',' || ".join(f"m{i}::VARCHAR" for i in range(_WM_K))} AS sig
FROM sigs"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of the Zipf rank-frequency head (top 256 terms) in
    integer fixed point: the e3 piecewise-linear base-2 log and an
    exact two-stage long division keep both engines bit-identical
    (operators/corpstats.py docstring carries the headroom proof)."""
    from rag_document_parser_spark.operators import corpstats as CS
    return CS.zipf_fit(_docs(spark, sf_dir), top_n=256)


_ZF_LOG2 = ("((length(bin({n})) - 1) * 1000 + "
            "(({n} * 1000) // (1::BIGINT << (length(bin({n})) - 1)))"
            " - 1000)")
_ZF_TOPN = 256
_ZF_DEN = "nullif(n * sxx - sx * sx, 0)"
_ZF_NUM = "(sx * sy - n * sxy)"
SQL_ZIPF_FIT = f"""
WITH toks AS (SELECT {TOKS_SQL.format(c='text')} AS t FROM documents),
tf AS (SELECT term, count(*)::BIGINT AS freq
       FROM (SELECT unnest(t) AS term FROM toks) z GROUP BY term),
dist AS (SELECT freq, count(*)::BIGINT AS nt FROM tf GROUP BY freq),
spans AS (SELECT freq, nt,
   sum(nt) OVER (ORDER BY freq DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
     ::BIGINT AS rend,
   sum(nt) OVER ()::BIGINT AS tot FROM dist),
pts AS (SELECT unnest(range(rstart, least(rend, {_ZF_TOPN}) + 1))
          AS rank, freq, tot
        FROM (SELECT freq, nt, rend, tot, rend - nt + 1 AS rstart
              FROM spans) s
        WHERE rstart <= {_ZF_TOPN}),
xy AS (SELECT tot, {_ZF_LOG2.format(n='rank')}::BIGINT AS x,
              {_ZF_LOG2.format(n='freq')}::BIGINT AS y FROM pts),
s AS (SELECT count(*)::BIGINT AS n, max(tot)::BIGINT AS n_types,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
      FROM xy)
SELECT n AS n_head, n_types,
  ({_ZF_NUM} * 1000 // {_ZF_DEN} * 1000
   + ({_ZF_NUM} * 1000
      - {_ZF_NUM} * 1000 // {_ZF_DEN} * (n * sxx - sx * sx)) * 1000
     // {_ZF_DEN})::BIGINT AS neg_slope_e6,
  ((sy + {_ZF_NUM} * 1000 // {_ZF_DEN} * sx // 1000) // n)::BIGINT
    AS intercept_e3
FROM s"""


def q_heaps_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth points over 8 md5-ordered corpus
    prefixes: cumulative docs / token mass / distinct vocabulary, a
    term counted at its first (minimum-bucket) appearance."""
    from rag_document_parser_spark.operators import corpstats as CS
    return CS.heaps_points(_docs(spark, sf_dir), n_buckets=8,
                           salt="hp")


SQL_HEAPS_POINTS = f"""
WITH toks AS (SELECT
    ('0x' || substring(md5(doc_id::VARCHAR || 'hp'), 1, 15))::BIGINT
      % 8 + 1 AS b,
    {TOKS_SQL.format(c='text')} AS t FROM documents),
per_doc AS (SELECT b, count(*)::BIGINT AS docs,
                   sum(len(t))::BIGINT AS tokens
            FROM toks GROUP BY b),
fs AS (SELECT b, count(*)::BIGINT AS types FROM (
         SELECT term, min(b) AS b FROM (
           SELECT b, unnest(t) AS term FROM toks) e GROUP BY term) m
       GROUP BY b),
frame AS (SELECT unnest(range(1, 9)) AS b)
SELECT b::BIGINT AS prefix_buckets,
  sum(coalesce(d.docs, 0)) OVER (ORDER BY b)::BIGINT AS n_docs,
  sum(coalesce(d.tokens, 0)) OVER (ORDER BY b)::BIGINT AS n_tokens,
  sum(coalesce(f.types, 0)) OVER (ORDER BY b)::BIGINT AS n_types
FROM frame LEFT JOIN per_doc d USING (b) LEFT JOIN fs f USING (b)"""


def q_media_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage dedup for interleaved media: payload-sha dedup verdicts
    (media_dedup) rewrite every duplicate media_ref inside the span
    arrays to the cluster keeper, span order preserved. Refs/payloads
    are synthesized deterministically: 37 refs over 20 payload classes,
    two media spans per doc."""
    from rag_document_parser_spark.operators.multimodal import (
        media_dedup, remap_media_refs)

    ids = _docs(spark, sf_dir).select("doc_id")
    v1 = ids.select((F.col("doc_id") % 37).alias("v"))
    v2 = ids.select(((F.col("doc_id") * 7) % 37).alias("v"))
    items = (v1.unionByName(v2).distinct().select(
        F.concat(F.lit("m"), F.col("v").cast("string")).alias("media_ref"),
        F.lit("image").alias("modality"),
        F.concat(F.lit("payload-"), (F.col("v") % 20).cast("string"))
        .cast("binary").alias("payload")))
    verdict = media_dedup(items)
    ra = F.concat(F.lit("m"), (F.col("doc_id") % 37).cast("string"))
    rb = F.concat(F.lit("m"), ((F.col("doc_id") * 7) % 37).cast("string"))
    spans = ids.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(F.lit("text").alias("kind"),
                     F.lit("txt").alias("text"),
                     F.lit(None).cast("string").alias("media_ref"),
                     F.lit(0).alias("offset")),
            F.struct(F.lit("image").alias("kind"),
                     F.lit(None).cast("string").alias("text"),
                     ra.alias("media_ref"),
                     F.lit(1).alias("offset")),
            F.struct(F.lit("image").alias("kind"),
                     F.lit(None).cast("string").alias("text"),
                     rb.alias("media_ref"),
                     F.lit(2).alias("offset")),
        ).alias("spans"))
    out = remap_media_refs(spans, verdict)
    refs = F.expr("array_join(transform(filter(spans,"
                  " s -> s.media_ref is not null),"
                  " s -> s.media_ref), '|')")
    return out.select(F.col("doc_id").cast("long"), "n_spans",
                      "n_remapped", refs.alias("refs"))


SQL_MEDIA_REMAP = """
WITH ids AS (
  SELECT doc_id FROM documents
), vals AS (
  SELECT DISTINCT v FROM (
    SELECT doc_id % 37 AS v FROM ids
    UNION ALL SELECT (doc_id * 7) % 37 AS v FROM ids) u
), hashed AS (
  SELECT 'm' || v::VARCHAR AS media_ref,
         sha256('payload-' || (v % 20)::VARCHAR) AS sha
  FROM vals
), groups AS (
  SELECT sha, min(media_ref) AS keeper FROM hashed GROUP BY sha
), remap AS (
  SELECT media_ref, keeper FROM hashed JOIN groups USING (sha)
  WHERE media_ref <> keeper
), r1 AS (
  SELECT doc_id, 'm' || (doc_id % 37)::VARCHAR AS ra,
         'm' || ((doc_id * 7) % 37)::VARCHAR AS rb
  FROM ids
)
SELECT doc_id::BIGINT AS doc_id, 3::BIGINT AS n_spans,
  (CASE WHEN ma.keeper IS NOT NULL THEN 1 ELSE 0 END
   + CASE WHEN mb.keeper IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
    AS n_remapped,
  coalesce(ma.keeper, ra) || '|' || coalesce(mb.keeper, rb) AS refs
FROM r1 LEFT JOIN remap ma ON ra = ma.media_ref
  LEFT JOIN remap mb ON rb = mb.media_ref"""


_NP_CTX = 64


def q_needle_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-a-haystack probe generation: 64-token haystacks from
    corpus docs, an md5-derived secret-token needle inserted at 10/50/90
    percent token depth, ground-truth answer carried alongside."""
    from rag_document_parser_spark.operators.evalgen import needle_probes

    out = needle_probes(_docs(spark, sf_dir), context_tokens=_NP_CTX,
                        depths=(10, 50, 90))
    return out.select("probe_id", F.col("id").cast("long"),
                      "depth_pct", "insert_pos", "n_tokens",
                      "context", "answer")


SQL_NEEDLE_PROBES = f"""
WITH tk AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS t FROM documents
), st AS (
  SELECT doc_id AS id, list_slice(t, 1, {_NP_CTX}) AS t
  FROM tk WHERE len(t) >= {_NP_CTX}
), ex AS (
  SELECT id, t, unnest([10, 50, 90]) AS depth_pct FROM st
), b AS (
  SELECT id, t, depth_pct,
    id::VARCHAR || '-' || depth_pct::VARCHAR AS probe_id,
    {_NP_CTX} * depth_pct // 100 AS insert_pos
  FROM ex
), c AS (
  SELECT *, 'the secret token for probe ' || probe_id || ' is '
       || substring(md5('needle:' || probe_id), 1, 12) AS needle,
     substring(md5('needle:' || probe_id), 1, 12) AS answer
  FROM b
)
SELECT probe_id, id::BIGINT AS id, depth_pct::BIGINT AS depth_pct,
  insert_pos::BIGINT AS insert_pos,
  ({_NP_CTX} + len({TOKS_SQL.format(c='needle')}))::BIGINT AS n_tokens,
  trim(concat_ws(' ',
     array_to_string(list_slice(t, 1, insert_pos), ' '),
     needle,
     array_to_string(list_slice(t, insert_pos + 1, {_NP_CTX}), ' ')))
    AS context,
  answer
FROM c"""


# closed-form ISO 13616 check digits for the planted 'DE' + 18-digit
# IBAN whose digit value IS doc_id: mod-97 of the rearranged number,
# folded constant-by-constant (D=13, E=14, '00')
_IBAN_M = ("((((((doc_id % 97) * 100 + 13) % 97) * 100 + 14) % 97)"
           " * 10 % 97) * 10 % 97")
_IBAN_C = f"(98 - ({_IBAN_M}))"
_IBAN_W = f"(({_IBAN_C} + 50) % 100)"


def q_iban_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mod-97-validated IBAN detection (ISO 13616): one valid IBAN
    (check digits derived closed-form from doc_id) and one corrupted
    twin planted per doc; only the valid one redacts."""
    from rag_document_parser_spark.operators.pii import detect_ibans

    docs = _docs(spark, sf_dir).select("doc_id")
    planted = docs.select("doc_id", F.expr(f"""
        concat('pay to DE',
               lpad(cast({_IBAN_C} as string), 2, '0'),
               lpad(cast(doc_id as string), 18, '0'),
               ' or DE',
               lpad(cast({_IBAN_W} as string), 2, '0'),
               lpad(cast(doc_id as string), 18, '0'), ' end')
    """).alias("text"))
    out = detect_ibans(planted)
    return out.select(F.col("doc_id").cast("long"),
                      "n_iban_candidates", "n_iban_valid", "redacted")


_IBAN_R_SQL = "substring(c, 5) || substring(c, 1, 4)"
_IBAN_OK_SQL = (
    "list_reduce(list_prepend(0, list_transform("
    f"range(1, length({_IBAN_R_SQL}) + 1), "
    f"i -> CASE WHEN ascii(substring({_IBAN_R_SQL}, i, 1)) "
    "BETWEEN 48 AND 57 "
    f"THEN 10000 + ascii(substring({_IBAN_R_SQL}, i, 1)) - 48 "
    f"ELSE 100000 + ascii(substring({_IBAN_R_SQL}, i, 1)) - 55 END)), "
    "(a, e) -> (a * (e // 1000) + e % 1000) % 97) = 1"
)
SQL_IBAN_PII = f"""
WITH planted AS (
  SELECT doc_id,
    'pay to DE' || lpad(({_IBAN_C})::VARCHAR, 2, '0')
      || lpad(doc_id::VARCHAR, 18, '0')
      || ' or DE' || lpad(({_IBAN_W})::VARCHAR, 2, '0')
      || lpad(doc_id::VARCHAR, 18, '0') || ' end' AS text
  FROM documents
), cand AS (
  SELECT doc_id, text,
    regexp_extract_all(text,
      '\\b[A-Z]{{2}}[0-9]{{2}}[A-Z0-9]{{11,30}}\\b') AS cands
  FROM planted
), v AS (
  SELECT doc_id, text, cands,
    list_sort(list_filter(cands, c -> {_IBAN_OK_SQL})) AS valid
  FROM cand
)
SELECT doc_id::BIGINT AS doc_id,
  len(cands)::BIGINT AS n_iban_candidates,
  len(valid)::BIGINT AS n_iban_valid,
  list_reduce(list_prepend(text, valid),
              (a, x) -> replace(a, x, '<IBAN>')) AS redacted
FROM v"""


def q_robots_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots.txt audit: every synthesized URL decided
    against its domain's synthesized policy (longest-match, Allow wins
    ties, unmatched allowed). BOTH engines parse the policy TEXT: the
    Spark side builds robots bodies as strings and runs parse_robots;
    the oracle builds the identical bodies and parses them in SQL
    (line split + governing-User-agent window + directive split), so
    the cross-engine gate covers the parser path — including star-
    group gating via a decoy non-star group appended to some bodies
    (ADVICE r4)."""
    from rag_document_parser_spark.operators.robots import (
        robots_decisions)

    docs = _docs(spark, sf_dir).select("doc_id")
    doms = docs.select((F.col("doc_id") % 20).alias("d")).distinct()
    robots = doms.select(
        F.concat(F.lit("site"), F.col("d").cast("string"),
                 F.lit(".example")).alias("domain"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /admin/\n"
                  "Allow: /admin/pub\n"),
            F.when(F.col("d") % 3 == 0, F.lit("Disallow: /data\n"))
            .otherwise(F.lit("")),
            F.when(F.col("d") % 4 == 1,
                   F.lit("Disallow: /*.json$\n"
                         "Allow: /api/*/public\n"))
            .otherwise(F.lit("")),
            # decoy non-star group: a parser that ignores group
            # boundaries would disallow EVERYTHING on these domains
            F.when(F.col("d") % 5 == 2,
                   F.lit("User-agent: otherbot\nDisallow: /\n"))
            .otherwise(F.lit(""))).alias("body"))
    did = F.col("doc_id").cast("string")
    paths = (F.when(F.col("doc_id") % 7 == 0,
                    F.concat(F.lit("/admin/x"), did))
             .when(F.col("doc_id") % 7 == 1,
                   F.concat(F.lit("/admin/pub/"), did))
             .when(F.col("doc_id") % 7 == 2,
                   F.concat(F.lit("/data/"), did))
             .when(F.col("doc_id") % 7 == 3,
                   F.concat(F.lit("/ok/"), did))
             .when(F.col("doc_id") % 7 == 4,
                   F.concat(F.lit("/file"), did, F.lit(".json")))
             .when(F.col("doc_id") % 7 == 5,
                   F.concat(F.lit("/api/v"), did, F.lit("/public")))
             .otherwise(F.lit("/admin/pub")))
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://site"),
                 (F.col("doc_id") % 20).cast("string"),
                 F.lit(".example"), paths).alias("url"))
    out = robots_decisions(urls, robots)
    return out.select(F.col("id").cast("long"), "domain", "path",
                      "allowed", "matched_prefix")


SQL_ROBOTS_AUDIT = r"""
WITH doms AS (
  SELECT DISTINCT doc_id % 20 AS d FROM documents
), bodies AS (
  -- the SAME body strings the Spark side synthesizes and parses
  SELECT 'site' || d::VARCHAR || '.example' AS domain,
    'User-agent: *' || chr(10) || 'Disallow: /admin/' || chr(10)
      || 'Allow: /admin/pub' || chr(10)
    || (CASE WHEN d % 3 = 0 THEN 'Disallow: /data' || chr(10)
        ELSE '' END)
    || (CASE WHEN d % 4 = 1 THEN 'Disallow: /*.json$' || chr(10)
        || 'Allow: /api/*/public' || chr(10) ELSE '' END)
    || (CASE WHEN d % 5 = 2 THEN 'User-agent: otherbot' || chr(10)
        || 'Disallow: /' || chr(10) ELSE '' END) AS body
  FROM doms
), lines AS (
  -- parse the text in SQL: line index + trimmed line (parallel
  -- unnests zip by position in DuckDB)
  SELECT domain, i, trim(line) AS line
  FROM (SELECT domain, unnest(string_split(body, chr(10))) AS line,
               unnest(range(1, len(string_split(body, chr(10))) + 1))
                 AS i
        FROM bodies)
), govern AS (
  -- each line's governing User-agent line (last one at or above it)
  SELECT domain, i, line,
    max(CASE WHEN lower(line) LIKE 'user-agent%' THEN i END)
      OVER (PARTITION BY domain ORDER BY i) AS ga_i
  FROM lines
), agents AS (
  SELECT domain, i AS ga_i, trim(split_part(line, ':', 2)) AS agent
  FROM lines WHERE lower(line) LIKE 'user-agent%'
), rules AS (
  SELECT g.domain,
    lower(split_part(g.line, ':', 1)) = 'allow' AS allow,
    trim(substr(g.line, strpos(g.line, ':') + 1)) AS prefix
  FROM govern g JOIN agents a ON a.domain = g.domain AND a.ga_i = g.ga_i
  WHERE a.agent = '*'
    AND lower(split_part(g.line, ':', 1)) IN ('allow', 'disallow')
    AND trim(substr(g.line, strpos(g.line, ':') + 1)) <> ''
), lk AS (
  -- robots pattern -> LIKE pattern, the robots_like_pattern chain:
  -- strip a trailing $, escape \ % _, * -> %, unanchored gets a
  -- trailing %
  SELECT domain, allow, prefix,
    replace(replace(replace(replace(
      CASE WHEN prefix LIKE '%$' THEN substring(prefix, 1, length(prefix) - 1)
           ELSE prefix END,
      '\', '\\'), '%', '\%'), '_', '\_'), '*', '%')
    || (CASE WHEN prefix LIKE '%$' THEN '' ELSE '%' END) AS pat
  FROM rules
), u AS (
  SELECT doc_id AS id,
    'site' || (doc_id % 20)::VARCHAR || '.example' AS domain,
    CASE (doc_id % 7)::INT
      WHEN 0 THEN '/admin/x' || doc_id::VARCHAR
      WHEN 1 THEN '/admin/pub/' || doc_id::VARCHAR
      WHEN 2 THEN '/data/' || doc_id::VARCHAR
      WHEN 3 THEN '/ok/' || doc_id::VARCHAR
      WHEN 4 THEN '/file' || doc_id::VARCHAR || '.json'
      WHEN 5 THEN '/api/v' || doc_id::VARCHAR || '/public'
      ELSE '/admin/pub' END AS path
  FROM documents
), cand AS (
  SELECT u.id, u.domain, u.path, r.allow, r.prefix,
    row_number() OVER (PARTITION BY u.id
      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix DESC)
      AS rk
  FROM u JOIN lk r ON r.domain = u.domain
    AND u.path LIKE r.pat ESCAPE '\'
)
SELECT u.id::BIGINT AS id, u.domain, u.path,
  coalesce(c.allow, true) AS allowed, c.prefix AS matched_prefix
FROM u LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c USING (id)"""


def q_robots_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-politeness metadata parsed from synthesized robots.txt
    bodies: star-group Crawl-delay (first wins, fractional seconds to
    exact ms) and group-independent Sitemap lines in file order."""
    from rag_document_parser_spark.operators.robots import (
        robots_crawl_meta)

    doms = (_docs(spark, sf_dir)
            .select((F.col("doc_id") % 20).alias("d")).distinct())
    robots = doms.select(
        F.concat(F.lit("site"), F.col("d").cast("string"),
                 F.lit(".example")).alias("domain"),
        F.concat(
            F.when(F.col("d") % 2 == 0,
                   F.concat(F.lit("Sitemap: https://site"),
                            F.col("d").cast("string"),
                            F.lit(".example/sm.xml\n")))
            .otherwise(F.lit("")),
            F.lit("User-agent: googlebot\nCrawl-delay: 9\n"
                  "User-agent: *\n"),
            F.when(F.col("d") % 3 == 0,
                   F.concat(F.lit("Crawl-delay: "),
                            (F.col("d") % 5).cast("string"),
                            F.lit("."),
                            (F.col("d") % 10).cast("string"),
                            F.lit("\n")))
            .otherwise(F.lit("")),
            F.lit("Disallow: /x\n")).alias("body"))
    out = robots_crawl_meta(robots)
    return out.select("domain", "crawl_delay_ms",
                      F.expr("array_join(sitemaps, '|')").alias("sitemaps"))


SQL_ROBOTS_META = """
WITH doms AS (
  SELECT DISTINCT doc_id % 20 AS d FROM documents
)
SELECT 'site' || d::VARCHAR || '.example' AS domain,
  (CASE WHEN d % 3 = 0
        THEN (d % 5) * 1000 + (d % 10) * 100 END)::BIGINT
    AS crawl_delay_ms,
  (CASE WHEN d % 2 = 0
        THEN 'https://site' || d::VARCHAR || '.example/sm.xml'
        ELSE '' END) AS sitemaps
FROM doms"""


def q_strand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRAND cross-language URL pairing (Resnik & Smith 2003): docs
    whose synthesized URLs differ only in the language path segment
    collapse to one template key and pair cross-language — the
    candidate-generation stage ahead of bitext margin scoring and
    Gale-Church alignment."""
    from rag_document_parser_spark.operators.urls import strand_url_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    urls = docs.select(
        "doc_id", "lang",
        F.concat(F.lit("https://www.site"),
                 (F.col("doc_id") % 50).cast("string"),
                 F.lit(".example/"), F.col("lang"),
                 F.lit("/article-"),
                 (F.col("doc_id") % 25).cast("string")).alias("url"))
    out = strand_url_pairs(urls)
    return out.select("key", F.col("id_a").cast("long"), "lang_a",
                      F.col("id_b").cast("long"), "lang_b")


def _sql_strand_pairs() -> str:
    from rag_document_parser_spark.operators.urls import (
        STRAND_PATH_RE, STRAND_QS_RE, STRAND_SUB_RE)

    # DuckDB replaces the first match unless 'g'; Spark replaces all —
    # the 'g' flag keeps the engines identical
    key = ("lower(regexp_replace(regexp_replace(regexp_replace(url, "
           f"'{STRAND_SUB_RE}', '://', 'g'), "
           f"'{STRAND_PATH_RE}', '/', 'g'), "
           f"'{STRAND_QS_RE}', '', 'g'))")
    return f"""
WITH u AS (
  SELECT doc_id, lang,
    'https://www.site' || (doc_id % 50)::VARCHAR || '.example/'
      || lang || '/article-' || (doc_id % 25)::VARCHAR AS url
  FROM documents
), keyed AS (
  SELECT doc_id AS id, lang, {key} AS key FROM u
), ok AS (
  SELECT key FROM keyed GROUP BY key HAVING count(*) <= 16
), pruned AS (
  SELECT keyed.* FROM keyed JOIN ok USING (key)
)
SELECT a.key, a.id::BIGINT AS id_a, a.lang AS lang_a,
       b.id::BIGINT AS id_b, b.lang AS lang_b
FROM pruned a JOIN pruned b ON a.key = b.key AND a.lang < b.lang"""


SQL_STRAND_PAIRS = _sql_strand_pairs()


# sentence-length pair synthesis shared by the Gale-Church twins:
# n = doc_id%5+2 lengths; the b side merges, splits, or jitters
_GC_LA = ("transform(sequence(1, cast(doc_id % 5 + 2 as int)),"
          " i -> (doc_id * 13 + i * 29) % 60 + 8)")


def q_gale_church(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale-Church sentence alignment (Gale & Church 1993) as a
    row-local integer DP fold: per-pair minimum-cost bead sequence
    over synthesized sentence-length pairs (b side merges two
    sentences, splits one, or jitters lengths by doc_id class)."""
    from rag_document_parser_spark.operators.align import (
        gale_church_align)

    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.expr(_GC_LA).alias("la"),
        F.expr(f"""
          CASE cast(doc_id % 3 as int)
            WHEN 0 THEN concat(
              array(element_at({_GC_LA}, 1) + element_at({_GC_LA}, 2)
                    + 1),
              slice({_GC_LA}, 3, size({_GC_LA})))
            WHEN 1 THEN concat(
              array(element_at({_GC_LA}, 1) div 2,
                    element_at({_GC_LA}, 1)
                    - element_at({_GC_LA}, 1) div 2),
              slice({_GC_LA}, 2, size({_GC_LA})))
            ELSE transform({_GC_LA}, x -> x + 1)
          END""").alias("lb"))
    out = gale_church_align(pairs)
    return out.select(F.col("pair_id").cast("long"), "bead_idx",
                      "a_start", "a_len", "b_start", "b_len")


def _sql_gale_church() -> str:
    from rag_document_parser_spark.operators.align import INF, MOVES

    def mc(sa, sb):
        return f"(1000 * abs(({sa}) - ({sb})) // (({sa}) + ({sb}) + 1))"

    cands = []
    for da, db, pen in MOVES:
        i, j = "((k+1) // w)", "((k+1) % w)"
        sa = " + ".join(f"la[{i} - {x}]" for x in range(da)) or "0"
        sb = " + ".join(f"lb[{j} - {x}]" for x in range(db)) or "0"
        prev = f"c[(k+1) - {da} * w - {db} + 1]"
        cands.append(
            f"CASE WHEN {i} >= {da} AND {j} >= {db}"
            f" THEN {prev} + {pen} + {mc(sa, sb)}"
            f" ELSE {INF}::BIGINT END")
    cl = "list_value(" + ", ".join(cands) + ")"
    da = ("CASE m[k+1] WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 1"
          " WHEN 4 THEN 2 WHEN 5 THEN 1 WHEN 6 THEN 2 END")
    db = ("CASE m[k+1] WHEN 1 THEN 1 WHEN 2 THEN 0 WHEN 3 THEN 1"
          " WHEN 4 THEN 1 WHEN 5 THEN 2 WHEN 6 THEN 2 END")
    ga = ("list_transform(range(1, (doc_id % 5 + 2 + 1)::INT),"
          " i -> (doc_id * 13 + i * 29) % 60 + 8)")
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_id AS pair_id, {ga}::BIGINT[] AS la,
    (CASE (doc_id % 3)::INT
      WHEN 0 THEN list_concat(
        [{ga}[1] + {ga}[2] + 1],
        list_slice({ga}, 3, len({ga})))
      WHEN 1 THEN list_concat(
        [{ga}[1] // 2, {ga}[1] - {ga}[1] // 2],
        list_slice({ga}, 2, len({ga})))
      ELSE list_transform({ga}, x -> x + 1)
    END)::BIGINT[] AS lb
  FROM documents
), prep AS (
  SELECT pair_id, la, lb, len(lb) + 1 AS w,
         (len(la) + 1) * (len(lb) + 1) - 1 AS nm
  FROM pairs
), dp AS (
  SELECT pair_id, la, lb, w, nm, 0 AS k,
         [0]::BIGINT[] AS c, [0]::INT[] AS m
  FROM prep
  UNION ALL
  SELECT pair_id, la, lb, w, nm, k + 1,
         list_append(c, list_aggregate(cl, 'min')),
         list_append(m, list_position(cl, list_aggregate(cl, 'min'))::INT)
  FROM (SELECT *, {cl} AS cl FROM dp WHERE k < nm) z
), dpf AS (
  SELECT pair_id, w, nm, m FROM dp WHERE k = nm
), bt AS (
  SELECT pair_id, w, m, nm AS k,
         []::STRUCT(a_start BIGINT, a_len BIGINT, b_start BIGINT,
                    b_len BIGINT)[] AS b
  FROM dpf
  UNION ALL
  SELECT pair_id, w, m, k - da * w - db,
         list_append(b, {{'a_start': k // w - da, 'a_len': da,
                          'b_start': k % w - db, 'b_len': db}})
  FROM (SELECT *, {da} AS da, {db} AS db FROM bt WHERE k > 0) z
), btf AS (
  SELECT pair_id, list_reverse(b) AS b FROM bt WHERE k = 0
)
SELECT pair_id::BIGINT AS pair_id,
       (generate_subscripts(b, 1) - 1)::BIGINT AS bead_idx,
       unnest(b, recursive := true)
FROM btf"""


SQL_GALE_CHURCH = _sql_gale_church()


_TT_W = 10
_TT_P = 3
_TT_CUT = 400_000


def q_texttiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling topical segmentation (Hearst 1997): per-gap lexical
    cohesion (block-set Jaccard, fixed point) and ±p-window depth
    scores over w-token pseudo-sentences; boundaries at deep valleys."""
    from rag_document_parser_spark.operators.tiling import texttiling

    out = texttiling(_docs(spark, sf_dir), w=_TT_W, p=_TT_P,
                     cutoff_e6=_TT_CUT)
    return out.select(F.col("id").cast("long"), "gap_idx", "gap_token",
                      "sim_e6", "depth_e6", "boundary")


_TT_LEFT = (f"list_distinct(list_slice(t, (gidx-1)*{_TT_W}+1,"
            f" gidx*{_TT_W}))")
_TT_RIGHT = (f"list_distinct(list_slice(t, gidx*{_TT_W}+1,"
             f" (gidx+1)*{_TT_W}))")
_TT_INTER = f"len(list_intersect({_TT_LEFT}, {_TT_RIGHT}))"
SQL_TEXTTILING = f"""
WITH tk AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS t FROM documents
), g AS (
  SELECT doc_id, t, unnest(
    CASE WHEN (len(t) + {_TT_W} - 1) // {_TT_W} >= 2
         THEN range(1, (len(t) + {_TT_W} - 1) // {_TT_W})
         ELSE []::BIGINT[] END) AS gidx
  FROM tk
), sc AS (
  SELECT doc_id, gidx,
    ({_TT_INTER} * 1000000
     // (len({_TT_LEFT}) + len({_TT_RIGHT}) - {_TT_INTER}))::BIGINT
      AS sim_e6
  FROM g
), d AS (
  SELECT doc_id, gidx, sim_e6,
    (max(sim_e6) OVER (PARTITION BY doc_id ORDER BY gidx
       ROWS BETWEEN {_TT_P} PRECEDING AND CURRENT ROW) - sim_e6
     + max(sim_e6) OVER (PARTITION BY doc_id ORDER BY gidx
       ROWS BETWEEN CURRENT ROW AND {_TT_P} FOLLOWING) - sim_e6)::BIGINT
      AS depth_e6
  FROM sc
)
SELECT doc_id::BIGINT AS id, gidx::BIGINT AS gap_idx,
  (gidx * {_TT_W})::BIGINT AS gap_token, sim_e6, depth_e6,
  depth_e6 >= {_TT_CUT} AS boundary
FROM d"""


def q_tiling_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized TextTiling chunks: each doc's token stream cut at
    its boundary valleys, one row per topical segment (whole-doc
    segment when no boundary fires; empty docs emit one empty row)."""
    from rag_document_parser_spark.operators.tiling import tiling_chunks

    out = tiling_chunks(_docs(spark, sf_dir), w=_TT_W, p=_TT_P,
                        cutoff_e6=_TT_CUT)
    return out.select(F.col("id").cast("long"), "seg_idx",
                      "start_token", "n_tokens", "text")


SQL_TILING_CHUNKS = f"""
WITH tt AS ({SQL_TEXTTILING}
), cuts AS (
  SELECT id, list_sort(list(gap_token)) AS c FROM tt
  WHERE boundary GROUP BY id
), tk2 AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS t FROM documents
), j AS (
  SELECT doc_id, t, coalesce(c, []::BIGINT[]) AS c
  FROM tk2 LEFT JOIN cuts ON cuts.id = tk2.doc_id
), seg AS (
  SELECT doc_id, t, c, unnest(range(0, len(c) + 1)) AS i FROM j
)
SELECT doc_id::BIGINT AS id, i::BIGINT AS seg_idx,
  (CASE WHEN i = 0 THEN 0 ELSE c[i] END)::BIGINT AS start_token,
  ((CASE WHEN i = len(c) THEN len(t) ELSE c[i + 1] END)
   - (CASE WHEN i = 0 THEN 0 ELSE c[i] END))::BIGINT AS n_tokens,
  array_to_string(list_slice(t,
     (CASE WHEN i = 0 THEN 1 ELSE c[i] + 1 END),
     (CASE WHEN i = len(c) THEN len(t) ELSE c[i + 1] END)), ' ') AS text
FROM seg"""


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths (Hunter 2004 MM, 2 fixed-point rounds)
    over synthesized pairwise preferences: 20 items whose true
    strength is item+1; the winner rule samples BT-consistently via
    deterministic modular arithmetic."""
    from rag_document_parser_spark.operators.posttrain import (
        bradley_terry)

    docs = _docs(spark, sf_dir).select("doc_id")
    o = docs.select((F.col("doc_id") % 20).alias("a"),
                    ((F.col("doc_id") * 7 + 3) % 20).alias("b"),
                    "doc_id").where(F.col("a") != F.col("b"))
    won = F.expr("(doc_id * 13) % (a + b + 2) < a + 1")
    f = o.select(F.when(won, F.col("a")).otherwise(F.col("b"))
                 .alias("winner"),
                 F.when(won, F.col("b")).otherwise(F.col("a"))
                 .alias("loser"))
    out = bradley_terry(f, n_iter=2)
    return out.select(F.col("item").cast("long"), "wins",
                      "n_comparisons", "strength_e6")


def _sql_bt_round(n: int, prev: str) -> str:
    """One unrolled MM round reading strengths from CTE ``prev``."""
    return f"""
e{n} AS (
  SELECT u.i, u.j, u.n_ij * 1000000000000 // (pi.p + pj.p) AS term
  FROM und u JOIN {prev} pi ON pi.item = u.i
    JOIN {prev} pj ON pj.item = u.j
), d{n} AS (
  SELECT item, sum(term)::BIGINT AS d FROM (
    SELECT i AS item, term FROM e{n}
    UNION ALL SELECT j AS item, term FROM e{n}) z
  GROUP BY item
), raw{n} AS (
  SELECT c.item,
    CASE WHEN d IS NULL OR d <= 0 THEN 1000000
         ELSE greatest(coalesce(w.wins, 0) * 1000000000000 // d, 1)
    END AS p
  FROM comps c LEFT JOIN wins w USING (item)
    LEFT JOIN d{n} USING (item)
), t{n} AS (SELECT sum(p)::BIGINT AS t FROM raw{n}),
p{n} AS (
  SELECT item,
    (p * ((SELECT n FROM ni) * 1000000) // (SELECT t FROM t{n}))::BIGINT
      AS p
  FROM raw{n}
)"""


SQL_BRADLEY_TERRY = f"""
WITH o AS (
  SELECT doc_id % 20 AS a, (doc_id * 7 + 3) % 20 AS b, doc_id
  FROM documents
), f AS (
  SELECT CASE WHEN (doc_id * 13) % (a + b + 2) < a + 1 THEN a ELSE b
         END AS w,
         CASE WHEN (doc_id * 13) % (a + b + 2) < a + 1 THEN b ELSE a
         END AS l
  FROM o WHERE a <> b
), und AS (
  SELECT least(w, l) AS i, greatest(w, l) AS j, count(*)::BIGINT AS n_ij
  FROM f GROUP BY 1, 2
), wins AS (
  SELECT w AS item, count(*)::BIGINT AS wins FROM f GROUP BY 1
), comps AS (
  SELECT item, count(*)::BIGINT AS n_comparisons FROM (
    SELECT w AS item FROM f UNION ALL SELECT l AS item FROM f) z
  GROUP BY item
), ni AS (SELECT count(*)::BIGINT AS n FROM comps),
p0 AS (SELECT item, 1000000::BIGINT AS p FROM comps),
{_sql_bt_round(1, 'p0')},
{_sql_bt_round(2, 'p1')}
SELECT c.item::BIGINT AS item, coalesce(w.wins, 0)::BIGINT AS wins,
  c.n_comparisons, p2.p AS strength_e6
FROM comps c LEFT JOIN wins w USING (item) JOIN p2 USING (item)"""


def q_verbosity_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbosity-bias probe over synthesized preference pairs: chosen
    = the doc's text, rejected = a prefix (half length) for docs with
    doc_id % 3 != 0, the full text + padding otherwise — a corpus
    with a known longer-wins skew the probe must report exactly."""
    from rag_document_parser_spark.operators.posttrain import (
        verbosity_bias)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pairs = docs.select(
        F.col("text").alias("chosen"),
        F.when(F.col("doc_id") % 3 != 0,
               F.expr("substring(text, 1,"
                      " cast(length(text) div 2 as int))"))
        .otherwise(F.concat(F.col("text"), F.lit(" padded out longer")))
        .alias("rejected"))
    return verbosity_bias(pairs)


SQL_VERBOSITY_BIAS = """
WITH p AS (
  SELECT text AS chosen,
    CASE WHEN doc_id % 3 != 0
         THEN substring(text, 1, (length(text) // 2)::INT)
         ELSE text || ' padded out longer' END AS rejected
  FROM documents
), a AS (
  SELECT count(*)::BIGINT AS n_pairs,
    sum((length(chosen) > length(rejected))::INT)::BIGINT
      AS n_longer_chosen,
    sum((length(chosen) < length(rejected))::INT)::BIGINT
      AS n_shorter_chosen,
    sum((length(chosen) = length(rejected))::INT)::BIGINT AS n_equal,
    sum(length(chosen)::BIGINT - length(rejected))::BIGINT AS gap
  FROM p
)
SELECT n_pairs, n_longer_chosen, n_shorter_chosen, n_equal,
  (n_longer_chosen * 1000000
   // nullif(n_longer_chosen + n_shorter_chosen, 0))::BIGINT
    AS longer_win_e6,
  (CASE WHEN gap >= 0 THEN gap * 1000 // nullif(n_pairs, 0)
        ELSE -((-gap) * 1000 // nullif(n_pairs, 0)) END)::BIGINT
    AS mean_gap_chars_e3
FROM a"""


def q_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two synthetic annotators: annotator A
    reports the true lang, annotator B corrupts every 7th doc to a
    fixed wrong label — chance-corrected agreement in fixed point."""
    from rag_document_parser_spark.operators.posttrain import cohen_kappa

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    pairs = docs.select(
        F.col("lang").alias("label_a"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("label_b"))
    return cohen_kappa(pairs)


SQL_ANNOTATOR_KAPPA = """
WITH p AS (
  SELECT lang AS a,
         CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS b
  FROM documents
), tot AS (
  SELECT count(*)::BIGINT AS n_items,
         sum((a = b)::INT)::BIGINT AS agree
  FROM p
), am AS (SELECT a, count(*)::BIGINT AS na FROM p GROUP BY a),
bm AS (SELECT b, count(*)::BIGINT AS nb FROM p GROUP BY b),
pe AS (
  SELECT coalesce(sum(na::HUGEINT * nb), 0) AS pe_num
  FROM am JOIN bm ON am.a = bm.b
), j AS (
  SELECT n_items,
    (agree * 1000000 // nullif(n_items, 0))::BIGINT AS po_e6,
    (pe_num * 1000000
     // nullif(n_items::HUGEINT * n_items, 0))::BIGINT AS pe_e6
  FROM tot CROSS JOIN pe
)
SELECT n_items, po_e6, pe_e6,
  (CASE WHEN pe_e6 < 1000000
        THEN (po_e6 - pe_e6) * 1000000 // (1000000 - pe_e6)
   END)::BIGINT AS kappa_e6
FROM j"""


_SEG_REF_CUT = 200_000


def q_seg_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pk / WindowDiff segmentation agreement (Beeferman 1999;
    Pevzner & Hearst 2002): TextTiling boundaries at a loose cutoff
    (the reference) vs the strict cutoff (the hypothesis), one depth
    pass, per-doc fixed-point scores."""
    from rag_document_parser_spark.operators.tiling import (
        segmentation_agreement, texttiling)

    t = texttiling(_docs(spark, sf_dir), w=_TT_W, p=_TT_P,
                   cutoff_e6=_TT_CUT)
    g = (t.groupBy("id")
         .agg((F.count("*") + 1).cast("int").alias("n_units"),
              F.array_sort(F.collect_list(
                  F.when(F.col("depth_e6") >= _SEG_REF_CUT,
                         F.col("gap_idx")))).alias("ref_bounds"),
              F.array_sort(F.collect_list(
                  F.when(F.col("depth_e6") >= _TT_CUT,
                         F.col("gap_idx")))).alias("hyp_bounds")))
    out = segmentation_agreement(g)
    return out.select(F.col("id").cast("long"), "k", "n_windows",
                      "pk_e6", "windowdiff_e6")


_SEG_CR = "len(list_filter(ref, x -> x > i AND x <= i + k))"
_SEG_CH = "len(list_filter(hyp, x -> x > i AND x <= i + k))"
SQL_SEG_AGREEMENT = f"""
WITH tt AS ({SQL_TEXTTILING}
), g AS (
  SELECT id, count(*) + 1 AS n,
    coalesce(list_sort(list(gap_idx)
      FILTER (WHERE depth_e6 >= {_SEG_REF_CUT})), []) AS ref,
    coalesce(list_sort(list(gap_idx)
      FILTER (WHERE depth_e6 >= {_TT_CUT})), []) AS hyp
  FROM tt GROUP BY id
), p AS (
  SELECT id, n, ref, hyp,
    greatest(1, n // (2 * (len(ref) + 1))) AS k
  FROM g
), w AS (
  SELECT id, n, k, ref, hyp, unnest(range(0, n - k)) AS i
  FROM p WHERE n - k >= 1
), c AS (
  SELECT id,
    CASE WHEN ({_SEG_CR} > 0) != ({_SEG_CH} > 0) THEN 1 ELSE 0 END
      AS pk1,
    CASE WHEN {_SEG_CR} != {_SEG_CH} THEN 1 ELSE 0 END AS wd1
  FROM w
), a AS (
  SELECT id, sum(pk1) AS pk, sum(wd1) AS wd, count(*) AS nw
  FROM c GROUP BY id
)
SELECT p.id::BIGINT AS id, p.k::BIGINT AS k,
  coalesce(a.nw, 0)::BIGINT AS n_windows,
  (CASE WHEN coalesce(a.nw, 0) > 0
        THEN a.pk * 1000000 // (p.n - p.k) END)::BIGINT AS pk_e6,
  (CASE WHEN coalesce(a.nw, 0) > 0
        THEN a.wd * 1000000 // (p.n - p.k) END)::BIGINT
    AS windowdiff_e6
FROM p LEFT JOIN a USING (id)"""


def q_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact total-variation distance between the English and
    non-English corpora's unigram distributions — the log-free
    distribution-shape drift metric, every product exact in
    decimal(38,0)."""
    from rag_document_parser_spark.operators.corpstats import (
        term_distribution_distance)

    docs = _docs(spark, sf_dir)
    return term_distribution_distance(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"))


SQL_TERM_DRIFT = f"""
WITH ta AS (
  SELECT unnest({TOKS_SQL.format(c='text')}) AS term FROM documents
  WHERE lang = 'en'
), tb AS (
  SELECT unnest({TOKS_SQL.format(c='text')}) AS term FROM documents
  WHERE lang <> 'en'
), ca AS (SELECT term, count(*)::BIGINT AS c FROM ta GROUP BY term),
cb AS (SELECT term, count(*)::BIGINT AS c FROM tb GROUP BY term),
j AS (
  SELECT coalesce(ca.c, 0) AS a, coalesce(cb.c, 0) AS b
  FROM ca FULL OUTER JOIN cb USING (term)
), agg AS (
  SELECT sum(a)::BIGINT AS total_a, sum(b)::BIGINT AS total_b,
    sum((a > 0)::INT)::BIGINT AS n_types_a,
    sum((b > 0)::INT)::BIGINT AS n_types_b,
    sum((a > 0 AND b > 0)::INT)::BIGINT AS n_shared_types
  FROM j
), tv AS (
  SELECT sum(abs(j.a::HUGEINT * agg.total_b
                 - j.b::HUGEINT * agg.total_a)) AS s
  FROM j CROSS JOIN agg
)
SELECT total_a, total_b, n_types_a, n_types_b, n_shared_types,
  (CASE WHEN total_a > 0 AND total_b > 0
        THEN s * 1000000 // (total_a::HUGEINT * 2 * total_b)
   END)::BIGINT AS tv_e6
FROM agg CROSS JOIN tv"""


def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz source-concentration card: sources ranked by token mass
    with fixed-point shares and cumulative shares."""
    from rag_document_parser_spark.reporting import source_concentration

    return source_concentration(_docs(spark, sf_dir))


SQL_SOURCE_CONCENTRATION = f"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
    sum(len({TOKS_SQL.format(c='text')}))::BIGINT AS tokens
  FROM documents GROUP BY source
), r AS (
  SELECT row_number() OVER (ORDER BY tokens DESC, source ASC)::BIGINT
           AS rank,
    source, n_docs, tokens,
    sum(tokens) OVER (ORDER BY tokens DESC, source ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(tokens) OVER () AS tot
  FROM per
)
SELECT rank, source, n_docs, tokens,
  (tokens * 1000000 // nullif(tot, 0))::BIGINT AS share_e6,
  (cum * 1000000 // nullif(tot, 0))::BIGINT AS cum_share_e6
FROM r"""


_MSTTR_W = 25


def q_msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean segmental type-token ratio over 25-token windows — the
    length-robust lexical-diversity card."""
    from rag_document_parser_spark.operators.textstats import msttr

    out = msttr(_docs(spark, sf_dir), w=_MSTTR_W)
    return out.select(F.col("id").cast("long"), "n_windows", "msttr_e6")


SQL_MSTTR = f"""
WITH tk AS (
  SELECT doc_id, {TOKS_SQL.format(c='text')} AS t FROM documents
), wn AS (
  SELECT doc_id, t, len(t) // {_MSTTR_W} AS nw FROM tk
), ex AS (
  SELECT doc_id, nw, unnest(range(0, nw)) AS i FROM wn WHERE nw >= 1
), tc AS (
  SELECT doc_id,
    sum(len(list_distinct(list_slice(wn.t, i * {_MSTTR_W} + 1,
                                     (i + 1) * {_MSTTR_W}))))::BIGINT
      AS types
  FROM ex JOIN wn USING (doc_id) GROUP BY doc_id
)
SELECT w.doc_id::BIGINT AS id, w.nw::BIGINT AS n_windows,
  (CASE WHEN w.nw > 0
        THEN tc.types * 1000000 // (w.nw * {_MSTTR_W}) END)::BIGINT
    AS msttr_e6
FROM wn w LEFT JOIN tc ON tc.doc_id = w.doc_id"""


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-length burstiness (mean absolute deviation, exact
    common-denominator integers) — the flat-prose/machine-text
    heuristic — over the documents corpus."""
    from rag_document_parser_spark.operators.sentences import (
        sentence_burstiness)

    out = sentence_burstiness(_docs(spark, sf_dir))
    return out.select(F.col("id").cast("long"), "n_sentences",
                      "mean_len_e3", "mad_e3")


SQL_BURSTINESS = r"""
WITH s AS (
  SELECT doc_id,
    list_filter(string_split(regexp_replace(text,
      '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)), x -> x <> '')
      AS sents
  FROM documents
), l AS (
  SELECT doc_id, list_transform(sents, x -> length(x)::BIGINT) AS ls
  FROM s
), a AS (
  SELECT doc_id, ls, len(ls)::BIGINT AS n,
    coalesce(list_sum(ls), 0)::BIGINT AS sm
  FROM l
)
SELECT doc_id::BIGINT AS id, n AS n_sentences,
  (CASE WHEN n > 0 THEN sm * 1000 // n END)::BIGINT AS mean_len_e3,
  (CASE WHEN n > 0 THEN
     list_sum(list_transform(ls, x -> abs(x * n - sm))) * 1000
     // (n * n) END)::BIGINT AS mad_e3
FROM a"""


def q_temporal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal metadata over documents with deterministically planted
    date mentions: ISO-date counts and the min/max year span per doc
    — the cutoff-aware curation signal."""
    from rag_document_parser_spark.operators.textstats import (
        temporal_metadata)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.expr("concat(text, ' published 20', lpad(cast(doc_id % 30"
               " as string), 2, '0'), '-0', cast(doc_id % 9 + 1"
               " as string), '-1', cast(doc_id % 9 as string),"
               " ' archived 19', lpad(cast(doc_id % 100 as string),"
               " 2, '0'))").alias("text"))
    out = temporal_metadata(planted)
    return out.select(F.col("id").cast("long"), "n_iso_dates",
                      "n_years", "min_year", "max_year")


SQL_TEMPORAL_META = r"""
WITH planted AS (
  SELECT doc_id,
    text || ' published 20' || lpad((doc_id % 30)::VARCHAR, 2, '0')
      || '-0' || (doc_id % 9 + 1)::VARCHAR
      || '-1' || (doc_id % 9)::VARCHAR
      || ' archived 19' || lpad((doc_id % 100)::VARCHAR, 2, '0') AS t
  FROM documents
), m AS (
  SELECT doc_id,
    len(regexp_extract_all(t,
      '\b(19|20)[0-9]{2}-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])\b',
      0))::BIGINT AS n_iso_dates,
    list_transform(regexp_extract_all(t, '\b(19|20)[0-9]{2}\b', 0),
                   y -> y::INT) AS ys
  FROM planted
)
SELECT doc_id::BIGINT AS id, n_iso_dates,
  len(ys)::BIGINT AS n_years,
  list_min(ys)::BIGINT AS min_year,
  list_max(ys)::BIGINT AS max_year
FROM m"""


def q_source_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl token-mass concentration across sources plus the
    equivalent even-source count."""
    from rag_document_parser_spark.reporting import source_hhi

    return source_hhi(_docs(spark, sf_dir))


SQL_SOURCE_HHI = f"""
WITH per AS (
  SELECT source, sum(len({TOKS_SQL.format(c='text')}))::BIGINT AS t
  FROM documents GROUP BY source
), agg AS (
  SELECT count(*)::BIGINT AS n_sources,
    coalesce(sum(t), 0)::BIGINT AS total_tokens,
    sum(t::HUGEINT * t) AS sq
  FROM per
)
SELECT n_sources, total_tokens,
  (CASE WHEN total_tokens > 0
        THEN sq * 1000000 // (total_tokens::HUGEINT * total_tokens)
   END)::BIGINT AS hhi_e6,
  (CASE WHEN total_tokens > 0
        THEN 1000000000 // nullif(sq * 1000000
             // (total_tokens::HUGEINT * total_tokens), 0) END)::BIGINT
    AS effective_sources_e3
FROM agg"""


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing missing mass + bias-corrected Chao1 vocabulary
    lower bound from the corpus frequency-of-frequencies table."""
    from rag_document_parser_spark.operators.corpstats import (
        vocab_richness)

    return vocab_richness(_docs(spark, sf_dir))


SQL_VOCAB_RICHNESS = f"""
WITH tf AS (
  SELECT term, count(*)::BIGINT AS freq FROM (
    SELECT unnest({TOKS_SQL.format(c='text')}) AS term FROM documents) z
  GROUP BY term
), dist AS (
  SELECT freq, count(*)::BIGINT AS nt FROM tf GROUP BY freq
), agg AS (
  SELECT coalesce(sum(freq * nt), 0)::BIGINT AS n_tokens,
    coalesce(sum(nt), 0)::BIGINT AS n_types,
    coalesce(sum(CASE WHEN freq = 1 THEN nt END), 0)::BIGINT AS f1,
    coalesce(sum(CASE WHEN freq = 2 THEN nt END), 0)::BIGINT AS f2
  FROM dist
)
SELECT n_tokens, n_types, f1, f2,
  (CASE WHEN n_tokens > 0 THEN f1 * 1000000 // n_tokens END)::BIGINT
    AS p_unseen_e6,
  (n_types + f1 * (f1 - 1) // (2 * (f2 + 1)))::BIGINT AS chao1_est
FROM agg"""


_SO_K = 32


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch pairwise source-overlap matrix (Broder 1997 bottom-k;
    Beyer et al. 2007): estimated Jaccard of distinct-content sets per
    source pair. Overlap is planted deterministically — every doc with
    ``doc_id % 7 == 0`` is re-homed under a synthetic 'srcdup' source —
    so each real source shares exactly its %7 slice with srcdup."""
    from rag_document_parser_spark.operators import corpstats as CS

    docs = _docs(spark, sf_dir).select("source", "text")
    planted = docs.unionByName(
        _docs(spark, sf_dir).where(F.col("doc_id") % 7 == 0)
        .select(F.lit("srcdup").alias("source"), "text"))
    return CS.source_overlap(planted, k=_SO_K)


SQL_SOURCE_OVERLAP = f"""
WITH base AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'srcdup' AS source, text FROM documents WHERE doc_id % 7 = 0
), dh AS (
  SELECT DISTINCT source, {_md5l('text')} AS h FROM base
), cnt AS (
  SELECT source, count(*)::BIGINT AS docs FROM dh GROUP BY source
), sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS r
    FROM dh) z
  WHERE r <= {_SO_K}
), srcs AS (
  SELECT DISTINCT source FROM sk
), pairs AS (
  SELECT a.source AS a, b.source AS b FROM srcs a, srcs b
  WHERE a.source < b.source
), m AS (
  SELECT a, b, h, max(ia) AS ia, max(ib) AS ib FROM (
    SELECT p.a, p.b, s.h, 1 AS ia, 0 AS ib
    FROM pairs p JOIN sk s ON s.source = p.a
    UNION ALL
    SELECT p.a, p.b, s.h, 0 AS ia, 1 AS ib
    FROM pairs p JOIN sk s ON s.source = p.b) u
  GROUP BY a, b, h
), bott AS (
  SELECT a, b, ia, ib FROM (
    SELECT a, b, ia, ib,
           row_number() OVER (PARTITION BY a, b ORDER BY h) AS r
    FROM m) z
  WHERE r <= {_SO_K}
), est AS (
  SELECT a, b, count(*)::BIGINT AS k_merged,
         sum(ia * ib)::BIGINT AS n_both
  FROM bott GROUP BY a, b
)
SELECT a AS source_a, b AS source_b, k_merged, n_both,
  (n_both * 1000000 // k_merged)::BIGINT AS jaccard_e6,
  ca.docs AS docs_a, cb.docs AS docs_b
FROM est JOIN cnt ca ON ca.source = est.a
  JOIN cnt cb ON cb.source = est.b"""


def q_wordpiece_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match WordPiece segmentation under the first 2
    learned merges: per-doc piece counts + whole-word UNKs (BERT
    inference semantics over the position-free documented subset). The
    oracle replays the cursor walk with a recursive CTE over the
    longest match per (word, pos)."""
    from rag_document_parser_spark.operators import wordpiece as WP
    docs = _docs(spark, sf_dir)
    m = WP.train_wordpiece(docs, n_merges=2, min_count=2)
    vocab = WP.wordpiece_vocab(docs, m)
    return WP.greedy_segment(docs, vocab, max_piece_len=_WP_MAXLEN)


SQL_WORDPIECE_SEGMENT = f"""
WITH RECURSIVE {_WP_TRAIN_CTES},
vocab AS (
  SELECT DISTINCT ch AS piece FROM (
    SELECT unnest(string_split(word, '')) AS ch FROM wc) z
  WHERE ch <> ''
  UNION SELECT replace(pair, ' ', '') FROM b1
  UNION SELECT replace(pair, ' ', '') FROM b2),
aw AS (SELECT DISTINCT word FROM w),
wlen AS (SELECT word, len(word) AS wlen FROM aw),
cp AS (SELECT word, wlen, unnest(range(1, wlen + 1)) AS pos FROM wlen),
cand AS (SELECT word, pos,
           unnest(range(1, least({_WP_MAXLEN}, wlen - pos + 1) + 1))
             AS plen
         FROM cp),
hits AS (SELECT word, pos, plen
         FROM (SELECT word, pos, plen,
                      substring(word, pos, plen) AS piece FROM cand) h
         JOIN vocab USING (piece)),
mt AS (SELECT word, pos, max(plen) AS plen FROM hits
       GROUP BY word, pos),
walk AS (
  SELECT word, wlen, 1 AS cur, 0 AS n FROM wlen
  UNION ALL
  SELECT k.word, k.wlen, k.cur + m.plen, k.n + 1
  FROM walk k JOIN mt m ON m.word = k.word AND m.pos = k.cur),
endst AS (SELECT word, max(cur) AS mcur FROM walk GROUP BY word),
pw AS (SELECT k.word,
         CASE WHEN k.cur = k.wlen + 1 THEN k.n ELSE 1 END AS pieces,
         (k.cur <> k.wlen + 1) AS unk
       FROM walk k JOIN endst e ON e.word = k.word AND k.cur = e.mcur),
f AS (SELECT doc_id, unnest(t) AS word FROM toks),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
               sum(pieces)::BIGINT AS n_pieces,
               sum(unk::INT)::BIGINT AS n_unk
        FROM f JOIN pw USING (word) GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
  coalesce(a.n_pieces, 0)::BIGINT AS n_pieces,
  coalesce(a.n_unk, 0)::BIGINT AS n_unk
FROM documents d LEFT JOIN agg a USING (doc_id)"""


_WIN_K, _WIN_W = 5, 4


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003 / MOSS): the
    rightmost-min selection over every window of ``w`` k-gram hashes
    — positional fingerprints with the ``w + k - 1``-token match
    guarantee (``operators/winnow.py``)."""
    from rag_document_parser_spark.operators import winnow as WN
    return WN.winnow_fingerprints(_docs(spark, sf_dir),
                                  k=_WIN_K, w=_WIN_W)


_WIN_SEL_CTES = f"""
toks AS (SELECT doc_id, {TOKS_SQL.format(c='text')} AS t FROM documents),
g AS (SELECT doc_id,
        CASE WHEN len(t) >= {_WIN_K}
          THEN list_transform(range(len(t) - {_WIN_K - 1}),
                 i -> array_to_string(t[i + 1 : i + {_WIN_K}], ' '))
          ELSE [] END AS grams
      FROM toks),
h AS (SELECT doc_id,
        list_transform(grams, s -> {_md5l("'win:' || s")}) AS hs
      FROM g),
idx AS (SELECT doc_id, hs, len(hs) AS n,
               least({_WIN_W}, len(hs)) AS l
        FROM h WHERE len(hs) > 0),
win AS (SELECT doc_id, hs, l, unnest(range(1, n - l + 2)) AS i
        FROM idx),
el AS (SELECT doc_id, i, j, hs[j] AS hv FROM (
         SELECT doc_id, i, hs, unnest(range(i, i + l)) AS j FROM win) z),
mnw AS (SELECT doc_id, i, min(hv) AS mh FROM el GROUP BY doc_id, i),
sel AS (SELECT e.doc_id, m.mh AS whash, max(e.j) AS pos
        FROM el e JOIN mnw m
          ON m.doc_id = e.doc_id AND m.i = e.i AND e.hv = m.mh
        GROUP BY e.doc_id, e.i, m.mh)"""
SQL_WINNOW_FP = f"""
WITH {_WIN_SEL_CTES}
SELECT DISTINCT doc_id, pos::BIGINT AS pos, whash::BIGINT AS whash
FROM sel"""


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match report: doc pairs sharing >= 2 winnowed fingerprint
    hashes, stop-fingerprints (df > 1000) blacklisted broadcast before
    the self-join (the ngram_jaccard discipline)."""
    from rag_document_parser_spark.operators import winnow as WN
    return WN.winnow_pairs(_docs(spark, sf_dir), k=_WIN_K, w=_WIN_W,
                           min_shared=2)


SQL_WINNOW_PAIRS = f"""
WITH {_WIN_SEL_CTES},
fp AS (SELECT DISTINCT doc_id, whash FROM sel),
oc AS (SELECT whash FROM fp GROUP BY whash HAVING count(*) > 1000),
f2 AS (SELECT * FROM fp WHERE whash NOT IN (SELECT whash FROM oc))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
FROM f2 a JOIN f2 b ON a.whash = b.whash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2"""


_TOX_TERMS = ["toxcat0", "toxcat1", "toxcat2"]


def q_toxicity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style bad-word gate (textstats.term_blocklist) over
    deterministically planted blocklist tokens: md5-routed docs get
    one or two occurrences of a planted term, the rest none — the
    any-hit drop signal plus hit-mass columns a tolerance filter would
    use. Terms are synthetic placeholders; real deployments key the
    list to a vetted per-language blocklist."""
    from rag_document_parser_spark.operators.textstats import (
        term_blocklist)
    d = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    suffix = (F.when(F.pmod(h, 7) == 0,
                     F.concat(F.lit(" toxcat"),
                              F.pmod(h, 3).cast("string"),
                              F.lit(" filler toxcat"),
                              F.pmod(h, 3).cast("string")))
              .when(F.pmod(h, 7) == 1,
                    F.concat(F.lit(" toxcat"),
                             F.pmod(h, 3).cast("string")))
              .otherwise(F.lit("")))
    planted = d.select("doc_id", F.concat("text", suffix).alias("t"))
    return term_blocklist(planted, _TOX_TERMS, text_col="t")


SQL_TOXICITY_GATE = f"""
WITH m AS (SELECT doc_id, text, {_md5l('doc_id::VARCHAR')} AS h
           FROM documents),
d AS (SELECT doc_id, text || CASE
        WHEN h % 7 = 0 THEN ' toxcat' || (h % 3)::VARCHAR
                         || ' filler toxcat' || (h % 3)::VARCHAR
        WHEN h % 7 = 1 THEN ' toxcat' || (h % 3)::VARCHAR
        ELSE '' END AS t
      FROM m),
tk AS (SELECT doc_id, {TOKS_SQL.format(c='t')} AS t FROM d),
hx AS (SELECT doc_id, t,
         list_filter(t, x -> x IN ('toxcat0', 'toxcat1', 'toxcat2'))
           AS hits
       FROM tk)
SELECT doc_id, len(t)::BIGINT AS n_tokens, len(hits)::BIGINT AS n_hits,
  len(list_distinct(hits))::BIGINT AS n_distinct_hits,
  (CASE WHEN len(t) > 0 THEN len(hits) * 1000000 // len(t)
        ELSE 0 END)::BIGINT AS hit_frac_e6,
  len(hits) > 0 AS blocked
FROM hx"""


_PJ_T = 500_000


def q_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact prefix-filtered similarity join (Chaudhuri et al. 2006 /
    PPJoin family, ``operators/prefixjoin.py``): the same Jaccard >=
    0.5 answer set as ``ngram_jaccard``, generated from md5-ordered
    shingle PREFIXES only — zero false negatives by the prefix
    guarantee, integer fixed-point threshold arithmetic replayed by
    the oracle."""
    from rag_document_parser_spark.operators.prefixjoin import (
        prefix_filter_pairs)
    out = prefix_filter_pairs(_cloned_docs(spark, sf_dir),
                              n=3, threshold_e6=_PJ_T)
    return out.select(F.col("id_a").cast("long"),
                      F.col("id_b").cast("long"),
                      "inter", "n_a", "n_b", "jaccard_e6")


SQL_PREFIX_JOIN = f"""
WITH d AS {CLONED_SQL},
s AS (SELECT doc_id, list_distinct({_shingles_sql('text', 3)}) AS sh
      FROM d),
s2 AS (SELECT doc_id, len(sh) AS n_sh, sh FROM s WHERE len(sh) > 0),
fl AS (SELECT doc_id, n_sh, unnest(sh) AS shingle FROM s2),
r AS (SELECT doc_id, n_sh, shingle, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY {_md5l('shingle')}) AS rn
      FROM fl),
pre AS (SELECT doc_id, n_sh, shingle FROM r
        WHERE rn <= n_sh - ({_PJ_T} * n_sh + 999999) // 1000000 + 1),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.n_sh AS n_a, b.n_sh AS n_b
         FROM pre a JOIN pre b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
         WHERE {_PJ_T} * greatest(a.n_sh, b.n_sh)
               <= 1000000 * least(a.n_sh, b.n_sh)),
iv AS (SELECT c.id_a, c.id_b, count(*) AS inter,
              min(c.n_a) AS n_a, min(c.n_b) AS n_b
       FROM cand c
       JOIN fl fa ON fa.doc_id = c.id_a
       JOIN fl fb ON fb.doc_id = c.id_b AND fb.shingle = fa.shingle
       GROUP BY c.id_a, c.id_b)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
  inter::BIGINT AS inter, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
  (inter * 1000000 // (n_a + n_b - inter))::BIGINT AS jaccard_e6
FROM iv
WHERE inter * 1000000 >= {_PJ_T} * (n_a + n_b - inter)"""


_HYB_POOL = 20
_HYB_K = 5


def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 lexical leg and the exact dense
    cosine leg fused by reciprocal-rank fusion
    (``retrieval.rrf_fuse``, Cormack et al. 2009, fixed-point
    ``1e6 div (60 + rank)``). Queries are doc_id < 8 — their first 4
    tokens feed the lexical leg, their embedding feeds the dense leg —
    so both legs rank the SAME query ids over the same corpus domain
    (vec_id aligns with doc_id in the synthetic tables)."""
    from rag_document_parser_spark.operators import retrieval as RET

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    staged = docs.where(F.col("doc_id") < _NQ).select(
        "doc_id", D.words(F.col("text")).alias("_w"))
    qtext = staged.select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice("_w", 1, _BM25_QLEN), " ").alias("text"))
    lex = RET.bm25_topk(docs, qtext, k=_HYB_POOL)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"))
    scored = (emb.select(F.col("vec_id").alias("doc_id"), "embedding")
              .crossJoin(F.broadcast(qv))
              .select("query_id", "doc_id",
                      V.cosine_similarity_col(F.col("embedding"),
                                              F.col("_qvec")).alias("cos")))
    dense = V.topk_per_query(scored, _HYB_POOL, "query_id", "doc_id", "cos")

    out = RET.rrf_fuse([lex, dense], k=_HYB_K)
    return out.select(F.col("query_id").cast("long"),
                      F.col("doc_id").cast("long"),
                      "n_lists", "rrf_e6", "rank")


SQL_HYBRID_TOPK = f"""
WITH qsrc AS (
  SELECT doc_id AS query_id,
         array_to_string(list_slice({_BMTOKS}, 1, {_BM25_QLEN}), ' ') AS qt
  FROM documents WHERE doc_id < {_NQ}
), qterms AS (
  SELECT DISTINCT query_id, unnest({TOKS_SQL.format(c='qt')}) AS term
  FROM qsrc
), toks AS (
  SELECT doc_id, {_BMTOKS} AS t FROM documents
), post AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf, max(dl) AS dl
  FROM (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks)
  GROUP BY term, doc_id
), matched AS (
  SELECT p.term, p.doc_id, p.tf, p.dl, q.query_id
  FROM post p JOIN qterms q USING (term)
), stats AS (
  SELECT count(*)::BIGINT AS n_docs,
         coalesce(sum(len({_BMTOKS})), 0)::BIGINT AS total_toks
  FROM documents
), dfreq AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df_t
  FROM matched GROUP BY term
), sc AS (
  SELECT m.query_id, m.doc_id,
    ((s.n_docs::HUGEINT * 2 - d.df_t * 2 + 1) * 1000
       // (d.df_t::HUGEINT * 2 + 1))
    * (m.tf::HUGEINT * 22000000
       // (m.tf::HUGEINT * 10000 + 3000
           + (m.dl::HUGEINT * 1000000
              // greatest(s.total_toks::HUGEINT * 1000
                          // greatest(s.n_docs, 1), 1)) * 9)) AS ts
  FROM matched m JOIN dfreq d USING (term) CROSS JOIN stats s
), bagg AS (
  SELECT query_id, doc_id, sum(ts)::BIGINT AS score_e6
  FROM sc GROUP BY query_id, doc_id
), bmr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_e6 DESC, doc_id ASC) AS rank
  FROM bagg
), e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_NQ}),
s2 AS (SELECT query_id, vec_id AS doc_id,
         {_DOT} / ({_NRM.format(x='v')} * {_NRM.format(x='qv')}) AS cos
       FROM e, q),
cor AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, doc_id ASC) AS rank
  FROM s2
), u AS (
  SELECT query_id, doc_id, rank FROM bmr WHERE rank <= {_HYB_POOL}
  UNION ALL
  SELECT query_id, doc_id, rank FROM cor WHERE rank <= {_HYB_POOL}
), fz AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_lists,
         sum(1000000 // (60 + rank))::BIGINT AS rrf_e6
  FROM u GROUP BY query_id, doc_id
), fr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_e6 DESC, doc_id ASC) AS rank
  FROM fz
)
SELECT query_id::BIGINT AS query_id, doc_id::BIGINT AS doc_id,
       n_lists, rrf_e6, rank::BIGINT AS rank
FROM fr WHERE rank <= {_HYB_K}"""


_PCA_ITERS = 3


def q_pca_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point power-iteration PCA (operators/pca.py): 3 steps from
    the uniform unit init over the centered int-quantized embeddings —
    per-dim mean (e4) + unit principal direction (e6), every
    intermediate an exact BIGINT (sign-split divisions, msb downshift
    before squaring, exact isqrt normalization)."""
    from rag_document_parser_spark.operators import pca as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return P.power_iteration_pc1(emb, iters=_PCA_ITERS)


def q_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the trained component
    (operators/pca.py project_pc1): centered dot product in e6 fixed
    point — the 1-D embedding compression / whitening signal."""
    from rag_document_parser_spark.operators import pca as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    comp = P.power_iteration_pc1(emb, iters=_PCA_ITERS)
    return P.project_pc1(emb, comp)


_RP_DIM = 8
_RP_SALT = "jl1"


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection (operators/pca.py
    random_projection): 64-dim embeddings to 8 dims via the md5-parity
    ±1 matrix — data-independent, training-free, regenerable from
    (dim, j, salt) alone. Long-form output (vec_id, j, y_e4)."""
    from rag_document_parser_spark.operators import pca as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return P.random_projection(emb, out_dim=_RP_DIM, salt=_RP_SALT)


SQL_RANDOM_PROJECTION = f"""
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         floor(CAST(unnest(embedding) AS DOUBLE) * 10000)::BIGINT AS x4
  FROM embeddings
), cells AS (
  SELECT vec_id, dim, x4, unnest(generate_series(0, {_RP_DIM - 1})) AS j
  FROM ex
), signed AS (
  SELECT vec_id, j,
         x4 * (CASE WHEN ('0x' || substring(md5(
                   dim::VARCHAR || '-' || j::VARCHAR || '-{_RP_SALT}'),
                   1, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END) AS t
  FROM cells)
SELECT vec_id, j::BIGINT AS j, SUM(t)::BIGINT AS y_e4
FROM signed GROUP BY vec_id, j"""


def _sql_sdiv(a: str, b: str) -> str:
    """Sign-split truncating division (positive divisor) — mirrors
    operators/pca.py _sdiv; the only signed form // and div agree on."""
    return (f"(CASE WHEN ({a}) < 0 THEN -1 WHEN ({a}) > 0 THEN 1 ELSE 0 END"
            f" * (abs({a}) // ({b})))")


def _sql_pca_iter_block(prefix: str, source: str) -> str:
    """One component's power iterations: CTE block reading centered
    relation ``source``, producing final v table ``{prefix}v{ITERS}``."""
    from rag_document_parser_spark.operators.mixture import sql_isqrt
    from rag_document_parser_spark.operators.pca import v0_e6

    v0 = v0_e6(64)
    parts = [f""", {prefix}v0 AS (
  SELECT dim, {v0}::BIGINT AS v_e6 FROM means)"""]
    prev = f"{prefix}v0"
    for t in range(1, _PCA_ITERS + 1):
        shift = "greatest(length(bin(mw)) - 28, 0)"
        parts.append(f""", {prefix}sc{t} AS (
  SELECT c.id, {_sql_sdiv('SUM(c.c * v.v_e6)', '1000000')}::BIGINT AS sc
  FROM {source} c JOIN {prev} v ON c.dim = v.dim GROUP BY c.id
), {prefix}w{t} AS (
  SELECT c.dim, SUM(c.c * s.sc)::BIGINT AS w
  FROM {source} c JOIN {prefix}sc{t} s ON c.id = s.id GROUP BY c.dim
), {prefix}m{t} AS (
  SELECT greatest(max(abs(w)), 1)::BIGINT AS mw FROM {prefix}w{t}
), {prefix}w2_{t} AS (
  SELECT dim,
         {_sql_sdiv('w', f'(1::BIGINT << {shift})')}::BIGINT AS w2
  FROM {prefix}w{t}, {prefix}m{t}
), {prefix}n{t} AS (
  SELECT greatest({sql_isqrt('SUM(w2 * w2)')}, 1)::BIGINT AS nrm
  FROM {prefix}w2_{t}
), {prefix}v{t} AS (
  SELECT dim, {_sql_sdiv('w2 * 1000000', 'nrm')}::BIGINT AS v_e6
  FROM {prefix}w2_{t}, {prefix}n{t})""")
        prev = f"{prefix}v{t}"
    return "".join(parts), prev


_PCA_BASE = f"""
ex0 AS MATERIALIZED (
  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS x
  FROM embeddings
), ex AS MATERIALIZED (
  SELECT id, dim, floor(CAST(x AS DOUBLE) * 10000)::BIGINT AS x4 FROM ex0
), means AS (
  SELECT dim, {_sql_sdiv('SUM(x4)', 'COUNT(*)')}::BIGINT AS mean_e4
  FROM ex GROUP BY dim
), centered AS MATERIALIZED (
  SELECT id, e.dim, (x4 - mean_e4)::BIGINT AS c
  FROM ex e JOIN means m ON e.dim = m.dim
)"""

_PCA_IT1, _PCA_VFINAL = _sql_pca_iter_block("", "centered")
_PCA_CTES = _PCA_BASE + _PCA_IT1

SQL_PCA_COMPONENT = f"""
WITH {_PCA_CTES}
SELECT m.dim::BIGINT AS dim, m.mean_e4, v.v_e6
FROM means m JOIN {_PCA_VFINAL} v ON m.dim = v.dim"""

SQL_PCA_SCORES = f"""
WITH {_PCA_CTES}
SELECT c.id AS vec_id,
       {_sql_sdiv('SUM(c.c * v.v_e6)', '10000')}::BIGINT AS pc1_e6
FROM centered c JOIN {_PCA_VFINAL} v ON c.dim = v.dim
GROUP BY c.id"""


def q_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal directions via Hotelling deflation
    (operators/pca.py pca_components): after component 1, the centered
    data deflates in the same fixed point (c -= (sum c*v) * v div 1e12)
    and component 2 is the principal direction of the residual."""
    from rag_document_parser_spark.operators import pca as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return P.pca_components(emb, k=2, iters=_PCA_ITERS)


def _sql_pca_components() -> str:
    defl = _sql_sdiv("r.raw * v.v_e6", "1000000000000")
    block2, vfinal2 = _sql_pca_iter_block("b", "centered2")
    return f"""
WITH {_PCA_CTES}, raw1 AS (
  SELECT c.id, SUM(c.c * v.v_e6)::BIGINT AS raw
  FROM centered c JOIN {_PCA_VFINAL} v ON c.dim = v.dim GROUP BY c.id
), centered2 AS MATERIALIZED (
  SELECT c.id, c.dim, (c.c - {defl})::BIGINT AS c
  FROM centered c JOIN raw1 r ON c.id = r.id
  JOIN {_PCA_VFINAL} v ON c.dim = v.dim
){block2}
SELECT 1::BIGINT AS component, m.dim::BIGINT AS dim, m.mean_e4, v.v_e6
FROM means m JOIN {_PCA_VFINAL} v ON m.dim = v.dim
UNION ALL
SELECT 2::BIGINT, m.dim::BIGINT, m.mean_e4, v.v_e6
FROM means m JOIN {vfinal2} v ON m.dim = v.dim"""


SQL_PCA_COMPONENTS = _sql_pca_components()


def q_pca_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-dim compressed representation (operators/pca.py
    project_components): every vector's score along each of the top-2
    deflation-trained directions, long form (vec_id, component,
    score_e6) — one corpus pass regardless of k."""
    from rag_document_parser_spark.operators import pca as P

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    comps = P.pca_components(emb, k=2, iters=_PCA_ITERS)
    return P.project_components(emb, comps)


def _sql_pca_embedding() -> str:
    defl = _sql_sdiv("r.raw * v.v_e6", "1000000000000")
    block2, vfinal2 = _sql_pca_iter_block("b", "centered2")
    proj = _sql_sdiv("SUM(c.c * v.v_e6)", "10000")
    return f"""
WITH {_PCA_CTES}, raw1 AS (
  SELECT c.id, SUM(c.c * v.v_e6)::BIGINT AS raw
  FROM centered c JOIN {_PCA_VFINAL} v ON c.dim = v.dim GROUP BY c.id
), centered2 AS MATERIALIZED (
  SELECT c.id, c.dim, (c.c - {defl})::BIGINT AS c
  FROM centered c JOIN raw1 r ON c.id = r.id
  JOIN {_PCA_VFINAL} v ON c.dim = v.dim
){block2}
SELECT c.id AS vec_id, 1::BIGINT AS component,
       {proj}::BIGINT AS score_e6
FROM centered c JOIN {_PCA_VFINAL} v ON c.dim = v.dim GROUP BY c.id
UNION ALL
SELECT c.id, 2::BIGINT, {proj}::BIGINT
FROM centered c JOIN {vfinal2} v ON c.dim = v.dim GROUP BY c.id"""


SQL_PCA_EMBEDDING = _sql_pca_embedding()


def q_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-to-document embedding pooling (operators/vectorize.py
    mean_pool): vec_id div 4 stands in for the chunk->doc mapping; one
    map-side-combinable (doc, dim) aggregate, exact fixed-point mean."""
    from rag_document_parser_spark.operators import vectorize as VEC

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pooled = VEC.mean_pool(
        emb.select(F.expr("vec_id div 4").alias("doc"), "embedding"),
        group_col="doc")
    return pooled


SQL_MEAN_POOL = f"""
WITH ex AS (
  SELECT vec_id // 4 AS doc, generate_subscripts(embedding, 1) - 1 AS dim,
         floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)::BIGINT AS x6
  FROM embeddings)
SELECT doc, dim::BIGINT AS dim,
       {_sql_sdiv('SUM(x6)', 'COUNT(*)')}::BIGINT AS mean_e6,
       COUNT(*)::BIGINT AS n_vecs
FROM ex GROUP BY doc, dim"""


_TN_M = 16


def q_truncate_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation (operators/vectorize.py
    truncate_normalize): first 16 of 64 dims, re-unit-normalized via
    the exact integer sqrt — the serving-time memory/recall dial."""
    from rag_document_parser_spark.operators import vectorize as VEC

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return VEC.truncate_normalize(emb, m=_TN_M)


def _sql_truncate_normalize() -> str:
    from rag_document_parser_spark.operators.mixture import sql_isqrt
    return f"""
WITH ex AS (
  SELECT vec_id, generate_subscripts(arr, 1) - 1 AS dim,
         floor(CAST(unnest(arr) AS DOUBLE) * 10000)::BIGINT AS x4
  FROM (SELECT vec_id, embedding[1:{_TN_M}] AS arr FROM embeddings)
), n AS (
  SELECT vec_id, greatest({sql_isqrt('SUM(x4 * x4)')}, 1)::BIGINT AS nrm
  FROM ex GROUP BY vec_id)
SELECT ex.vec_id, dim::BIGINT AS dim,
       {_sql_sdiv('x4 * 1000000', 'nrm')}::BIGINT AS val_e6
FROM ex JOIN n ON ex.vec_id = n.vec_id"""


SQL_TRUNCATE_NORMALIZE = _sql_truncate_normalize()


_PQ_M = 4        # subspaces
_PQ_K = 4        # codes per subspace
_PQ_ITERS = 2    # Lloyd rounds
_PQ_DIM = 64
_PQ_DSUB = _PQ_DIM // _PQ_M


def q_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training (operators/pq.py): per-
    subspace Lloyd k-means entirely in 1e-6 integer fixed point —
    order-free truncating-division centroid means, so the unrolled
    DuckDB oracle replays training bitwise. The M-byte-per-vector
    storage layout behind FAISS-style IVFPQ at 100 TB."""
    from rag_document_parser_spark.operators import pq as PQ

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = PQ.train_pq(emb, m_sub=_PQ_M, ksub=_PQ_K, iters=_PQ_ITERS,
                        dim=_PQ_DIM)
    return PQ.codebook_rows(spark, books)


def _sql_pq_train_ctes() -> tuple[str, str]:
    """Shared WITH-body replaying train_pq; returns (ctes, final_book)
    where final_book is the relation (sub, cid, c: list) of the trained
    codebook."""
    dist = (f"list_reduce(list_transform(range(1, {_PQ_DSUB} + 1), "
            "ii -> (sv[ii] - s.c[ii]) * (sv[ii] - s.c[ii])), "
            "(a, b) -> a + b)")
    parts = [f"""
x AS (SELECT vec_id,
        list_transform(embedding,
                       x -> floor(x::DOUBLE * 1000000)::BIGINT) AS v6
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {_PQ_DIM}),
subs AS (SELECT vec_id, g.sub,
           v6[g.sub * {_PQ_DSUB} + 1 : (g.sub + 1) * {_PQ_DSUB}] AS sv
         FROM x, (SELECT unnest(range({_PQ_M})) AS sub) g),
seeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
          FROM (SELECT vec_id FROM x ORDER BY vec_id LIMIT {_PQ_K})),
b0 AS (SELECT subs.sub, seeds.cid, subs.sv AS c
       FROM subs JOIN seeds USING (vec_id)),
l0 AS (SELECT sub, list({{'cid': cid, 'c': c}} ORDER BY cid) AS cs
       FROM b0 GROUP BY sub)"""]
    prev_b, prev_l = "b0", "l0"
    for i in range(1, _PQ_ITERS + 1):
        parts.append(f"""
a{i} AS (
  SELECT subs.vec_id, subs.sub, subs.sv,
    (list_min(list_transform(l.cs, s ->
       {{'dist': {dist}, 'cid': s.cid}}))).cid AS code
  FROM subs JOIN {prev_l} l USING (sub)
), gr{i} AS (
  SELECT sub, code AS cid,
    unnest(list_transform(range(1, {_PQ_DSUB} + 1),
                          d -> {{'d': d, 'x': sv[d]}})) AS u
  FROM a{i}
), g{i} AS (
  SELECT sub, cid, u.d AS d,
    {_sql_sdiv('SUM(u.x)', 'COUNT(*)')}::BIGINT AS coord
  FROM gr{i} GROUP BY sub, cid, u.d
), m{i} AS (
  SELECT sub, cid, list(coord ORDER BY d) AS c FROM g{i}
  GROUP BY sub, cid
), u{i} AS (
  SELECT p.sub, p.cid, CASE WHEN m{i}.c IS NULL THEN p.c
                            ELSE m{i}.c END AS c
  FROM {prev_b} p LEFT JOIN m{i} USING (sub, cid)
), l{i} AS (
  SELECT sub, list({{'cid': cid, 'c': c}} ORDER BY cid) AS cs FROM u{i}
  GROUP BY sub
)""")
        prev_b, prev_l = f"u{i}", f"l{i}"
    return ", ".join(parts), prev_b


def _sql_pq_codebooks() -> str:
    ctes, final = _sql_pq_train_ctes()
    return f"""
WITH {ctes}
SELECT sub::BIGINT AS sub, cid::BIGINT AS cid, (u.d - 1)::BIGINT AS dim,
       u.e6::BIGINT AS coord_e6
FROM (
  SELECT sub, cid, unnest(list_transform(range(1, {_PQ_DSUB} + 1),
    dd -> {{'d': dd, 'e6': c[dd]}})) AS u
  FROM {final})"""


SQL_PQ_CODEBOOKS = _sql_pq_codebooks()


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/pq.py): corpus stored as
    M-byte codes, queries score candidates with M integer LUT lookups
    instead of a 64-dim dot — the 64× memory-bandwidth cut that makes
    a 100 TB candidate sweep RAM-resident. Train → encode → ADC rank,
    all integer, replayed end-to-end by the oracle."""
    from rag_document_parser_spark.operators import pq as PQ

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = PQ.train_pq(emb, m_sub=_PQ_M, ksub=_PQ_K, iters=_PQ_ITERS,
                        dim=_PQ_DIM)
    queries = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "embedding")
    top = PQ.pq_adc_topk(emb.where(F.col("vec_id") >= _NQ), queries,
                         books, k=_TOPK, dim=_PQ_DIM)
    return top.select(F.col("query_id").cast("long"),
                      F.col("vec_id").cast("long"), "iscore",
                      F.col("rank").cast("long"))


def _sql_pq_topk() -> str:
    ctes, final = _sql_pq_train_ctes()
    dist = (f"list_reduce(list_transform(range(1, {_PQ_DSUB} + 1), "
            "ii -> (sv[ii] - s.c[ii]) * (sv[ii] - s.c[ii])), "
            "(a, b) -> a + b)")
    dot = (f"list_reduce(list_transform(range(1, {_PQ_DSUB} + 1), "
           "ii -> q.sv[ii] * bk.c[ii]), (a, b) -> a + b)")
    return f"""
WITH {ctes},
lf AS (SELECT sub, list({{'cid': cid, 'c': c}} ORDER BY cid) AS cs
       FROM {final} GROUP BY sub),
enc AS (
  SELECT subs.vec_id, subs.sub,
    (list_min(list_transform(l.cs, s ->
       {{'dist': {dist}, 'cid': s.cid}}))).cid AS code
  FROM subs JOIN lf l USING (sub) WHERE subs.vec_id >= {_NQ}),
qs AS (SELECT vec_id AS query_id, sub, sv FROM subs
       WHERE vec_id < {_NQ}),
sc AS (
  SELECT q.query_id, e.vec_id, SUM({dot}) AS iscore
  FROM enc e
  JOIN {final} bk ON e.sub = bk.sub AND e.code = bk.cid
  JOIN qs q ON q.sub = e.sub
  GROUP BY q.query_id, e.vec_id),
r AS (SELECT query_id, vec_id, iscore,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY iscore DESC, vec_id ASC) AS rank
      FROM sc)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       iscore::BIGINT AS iscore, rank::BIGINT AS rank
FROM r WHERE rank <= {_TOPK}"""


SQL_PQ_TOPK = _sql_pq_topk()


# a doc whose text embeds the record magic: the split-scan fragments
# it and the Content-Length audit must flag the host fragment
_WARC_POISON_ID = 10_000_000
_WARC_POISON = ("evil \r\n\r\nWARC/1.0\r\nWARC-Type: conversion\r\n"
                "Content-Length: 3\r\n\r\nabc")


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET archive ingestion (sources/warc.py): documents →
    WET-style conversion records md5-bucketed into archive blobs →
    split-scan back into one row per record, pure Catalyst. The oracle
    replays synth AND parse end-to-end; one poisoned doc embeds the
    record magic so the Content-Length audit (len_ok) must flag the
    mis-split fragments instead of silently corrupting."""
    from rag_document_parser_spark.sources import warc as W

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .unionAll(spark.createDataFrame(
                [(_WARC_POISON_ID, _WARC_POISON)],
                "doc_id long, text string")))
    recs = W.parse_warc_records(W.synth_warc_corpus(docs))
    return recs.select("file_id", "rec_idx", "warc_type", "target_uri",
                       "record_id", "content_length", "len_ok",
                       "http_status", "body")


def _sql_warc_records() -> str:
    poison = _WARC_POISON.replace("'", "''").replace("\r", "' || chr(13) || '").replace("\n", "' || chr(10) || '")
    crlf = "chr(13) || chr(10)"
    sep = f"({crlf} || {crlf})"
    hdr = "regexp_extract(h, '{n}: ([^' || chr(13) || chr(10) || ']*)', 1)"
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT {_WARC_POISON_ID}, '{poison}'),
rec AS (
  SELECT substring(md5(doc_id::VARCHAR), 1, 2) AS file_id, doc_id,
    'WARC/1.0' || {crlf} ||
    'WARC-Type: conversion' || {crlf} ||
    'WARC-Target-URI: https://example.org/doc/' || doc_id::VARCHAR
      || {crlf} ||
    'WARC-Record-ID: <urn:uuid:' || md5(doc_id::VARCHAR) || '>'
      || {crlf} ||
    'Content-Length: ' || length(text)::VARCHAR || {sep} ||
    text || {sep} AS r
  FROM base),
files AS (
  SELECT file_id, string_agg(r, '' ORDER BY doc_id) AS blob
  FROM rec GROUP BY file_id),
sp AS (
  SELECT file_id, generate_subscripts(parts, 1) AS j,
         unnest(parts) AS chunk
  FROM (SELECT file_id,
          string_split(blob, 'WARC/1.0' || {crlf}) AS parts
        FROM files)),
ex AS (SELECT file_id, (j - 2)::BIGINT AS rec_idx, chunk,
         strpos(chunk, {sep}) AS pos
       FROM sp WHERE j >= 2),
pre AS (
  SELECT file_id, rec_idx,
    CASE WHEN pos > 0 THEN substring(chunk, 1, pos - 1)
         ELSE chunk END AS h,
    CASE WHEN pos > 0 THEN substring(chunk, pos + 4) ELSE '' END AS rb
  FROM ex),
st AS (
  SELECT file_id, rec_idx, h,
    CASE WHEN length(rb) >= 4
              AND substring(rb, length(rb) - 3, 4) = {sep}
         THEN substring(rb, 1, length(rb) - 4) ELSE rb END AS block
  FROM pre)
SELECT file_id, rec_idx,
  {hdr.format(n='WARC-Type')} AS warc_type,
  {hdr.format(n='WARC-Target-URI')} AS target_uri,
  {hdr.format(n='WARC-Record-ID')} AS record_id,
  TRY_CAST({hdr.format(n='Content-Length')} AS BIGINT)
    AS content_length,
  (TRY_CAST({hdr.format(n='Content-Length')} AS BIGINT)
   = length(block)) AS len_ok,
  CASE WHEN {hdr.format(n='WARC-Type')} = 'response'
       THEN TRY_CAST(regexp_extract(block,
              '^HTTP/1\\.[01] (\\d{{3}})', 1) AS BIGINT)
       ELSE NULL END AS http_status,
  CASE WHEN {hdr.format(n='WARC-Type')} = 'response'
            AND strpos(block, {sep}) > 0
       THEN substring(block, strpos(block, {sep}) + 4)
       ELSE block END AS body
FROM st"""


SQL_WARC_RECORDS = _sql_warc_records()


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized brute-force top-k (operators/quantize.py):
    per-vector max-abs codes, integer dot products, rank key
    ``idot * corpus_scale`` — the 4×-less-memory-bandwidth re-rank path
    for 100 TB ANN. Fully integer, so the oracle replays it exactly."""
    from rag_document_parser_spark.operators import quantize as QZ

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qz = QZ.quantize_embeddings(emb)
    queries = qz.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "scale_e6", "qvec")
    out = QZ.quantized_topk(
        qz.where(F.col("vec_id") >= _NQ), queries, k=_TOPK)
    return out.select(F.col("query_id").cast("long"),
                      F.col("vec_id").cast("long"),
                      "idot", "iscore", F.col("rank").cast("long"))


_QZL = ("list_transform(x6, v -> (v + m) * 254 // (2 * m) - 127)")
SQL_QUANTIZED_TOPK = f"""
WITH x AS (SELECT vec_id,
             list_transform(embedding,
                            x -> floor(x::DOUBLE * 1000000)::BIGINT) AS x6
           FROM embeddings),
s AS (SELECT vec_id, x6,
        greatest(list_max(list_transform(x6, v -> abs(v))), 1) AS m
      FROM x),
qz AS (SELECT vec_id, m AS scale_e6, {_QZL} AS q FROM s),
qq AS (SELECT vec_id AS query_id, q AS qv FROM qz WHERE vec_id < {_NQ}),
sc AS (SELECT query_id, c.vec_id,
         list_reduce(list_transform(range(1, len(c.q) + 1),
                                    i -> c.q[i] * qv[i]),
                     (a, b) -> a + b) AS idot,
         c.scale_e6
       FROM qz c, qq WHERE c.vec_id >= {_NQ}),
r AS (SELECT query_id, vec_id, idot, idot * scale_e6 AS iscore,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY idot * scale_e6 DESC, vec_id ASC) AS rank
      FROM sc)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       idot::BIGINT AS idot, iscore::BIGINT AS iscore,
       rank::BIGINT AS rank
FROM r WHERE rank <= {_TOPK}"""


def q_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the int8 quantized top-k against the exact float
    cosine top-k, per query — the quantization-quality gauge
    (operators/quantize.py topk_recall)."""
    from rag_document_parser_spark.operators import quantize as QZ

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qz = QZ.quantize_embeddings(emb)
    queries_q = qz.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "scale_e6", "qvec")
    approx = QZ.quantized_topk(
        qz.where(F.col("vec_id") >= _NQ), queries_q, k=_TOPK)

    queries_f = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"))
    scored = (emb.where(F.col("vec_id") >= _NQ)
              .select("vec_id", "embedding")
              .crossJoin(F.broadcast(queries_f))
              .select("query_id", "vec_id",
                      V.cosine_similarity_col(
                          F.col("embedding"), F.col("_qvec")).alias("cos")))
    exact = V.topk_per_query(scored, _TOPK, "query_id", "vec_id", "cos")
    out = QZ.topk_recall(approx, exact, _TOPK)
    return out.select(F.col("query_id").cast("long"), "hits", "recall_e6")


SQL_QUANTIZED_RECALL = f"""
WITH x AS (SELECT vec_id,
             list_transform(embedding,
                            x -> floor(x::DOUBLE * 1000000)::BIGINT) AS x6,
             list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
s AS (SELECT vec_id, v, x6,
        greatest(list_max(list_transform(x6, e -> abs(e))), 1) AS m
      FROM x),
qz AS (SELECT vec_id, v, m AS scale_e6, {_QZL} AS q FROM s),
qq AS (SELECT vec_id AS query_id, q AS qv, v AS qfv FROM qz
       WHERE vec_id < {_NQ}),
isc AS (SELECT query_id, c.vec_id,
          list_reduce(list_transform(range(1, len(c.q) + 1),
                                     i -> c.q[i] * qv[i]),
                      (a, b) -> a + b) * c.scale_e6 AS iscore
        FROM qz c, qq WHERE c.vec_id >= {_NQ}),
ir AS (SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY iscore DESC, vec_id ASC) AS rank
       FROM isc),
approx AS (SELECT query_id, vec_id FROM ir WHERE rank <= {_TOPK}),
fsc AS (SELECT query_id, c.vec_id,
          list_reduce(list_transform(range(1, len(c.v) + 1),
                                     i -> c.v[i] * qfv[i]),
                      (a, b) -> a + b)
          / ({_NRM.format(x='c.v')} * {_NRM.format(x='qfv')}) AS cos
        FROM qz c, qq WHERE c.vec_id >= {_NQ}),
fr AS (SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
       FROM fsc),
exact AS (SELECT query_id, vec_id FROM fr WHERE rank <= {_TOPK}),
h AS (SELECT a.query_id,
        coalesce(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 END), 0)::BIGINT
          AS hits
      FROM approx a LEFT JOIN exact e
        ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      GROUP BY a.query_id)
SELECT query_id::BIGINT AS query_id, hits,
       (hits * 1000000 // {_TOPK})::BIGINT AS recall_e6
FROM h"""


_NCENT = 16
_NPROBE = 4


def q_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed 100 TB ANN (operators/quantize.py ivf_quantized_topk):
    IVF coarse probe (deterministic lowest-id centroids, nprobe=4)
    selecting WHICH vectors are touched, int8 integer dot re-rank
    cutting what each one COSTS. Fully integer-ranked, so the oracle
    replays the exact rows."""
    from rag_document_parser_spark.operators.quantize import (
        ivf_quantized_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_quantized_topk(emb, queries, k=_TOPK,
                             n_centroids=_NCENT, nprobe=_NPROBE)
    return out.select(F.col("query_id").cast("long"),
                      F.col("vec_id").cast("long"),
                      "idot", "iscore", F.col("rank").cast("long"))


def _sql_ivf_quantized() -> str:
    dot_cv = _DOT.replace("qv", "cv")
    return f"""
WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS v,
             list_transform(embedding,
                            x -> floor(x::DOUBLE * 1000000)::BIGINT) AS x6
           FROM embeddings WHERE embedding IS NOT NULL),
e2 AS (SELECT * FROM e WHERE {_NRM.format(x='v')} > 0),
qs AS (SELECT vec_id, v, x6,
         greatest(list_max(list_transform(x6, t -> abs(t))), 1) AS m
       FROM e2),
qz AS (SELECT vec_id, v, m AS scale_e6, {_QZL} AS q FROM qs),
cents AS (SELECT vec_id AS cid, v AS cv FROM e2 WHERE vec_id < {_NCENT}),
ccos AS (
  SELECT e2.vec_id, c.cid, {dot_cv} / {_NRM.format(x='cv')} AS score
  FROM e2, cents c
), assigned AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, cid ASC) AS rn
    FROM ccos) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, cid ASC) AS rn
    FROM ccos WHERE vec_id < {_NQ}) WHERE rn <= {_NPROBE}
), aq AS (
  SELECT a.vec_id, a.cid, z.scale_e6, z.q
  FROM assigned a JOIN qz z USING (vec_id)
), pq AS (
  SELECT p.query_id, p.cid, z.q AS qv
  FROM probes p JOIN qz z ON p.query_id = z.vec_id
), cand AS (
  SELECT pq.query_id, aq.vec_id, aq.scale_e6, aq.q, pq.qv
  FROM aq JOIN pq ON aq.cid = pq.cid WHERE pq.query_id <> aq.vec_id
), sc AS (
  SELECT query_id, vec_id,
    list_reduce(list_transform(range(1, len(q) + 1), i -> q[i] * qv[i]),
                (a, b) -> a + b) AS idot,
    scale_e6
  FROM cand
), r AS (
  SELECT query_id, vec_id, idot, idot * scale_e6 AS iscore,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY idot * scale_e6 DESC, vec_id ASC) AS rank
  FROM sc)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       idot::BIGINT AS idot, iscore::BIGINT AS iscore,
       rank::BIGINT AS rank
FROM r WHERE rank <= {_TOPK}"""


SQL_IVF_QUANTIZED = _sql_ivf_quantized()


_CMS_W = 256
_CMS_TOP = 30


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketches.py): exact
    top-N token counts beside their sketch estimates — the fixed-size
    frequency summary whose grid never grows with the corpus. The
    count-min bound guarantees ``est_cnt >= exact_cnt``; the gap is the
    collision mass at width {w}.""".format(w=_CMS_W)
    from rag_document_parser_spark.operators import sketches as SK

    docs = _docs(spark, sf_dir)
    tokens = docs.select(
        F.explode(D.words(F.col("text"))).alias("term"))
    exact = (tokens.groupBy("term").agg(F.count("*").alias("exact_cnt"))
             .orderBy(F.col("exact_cnt").desc(), F.col("term").asc())
             .limit(_CMS_TOP))
    sketch = SK.cms_build(tokens, width=_CMS_W)
    est = SK.cms_estimate(sketch, exact.select("term"), width=_CMS_W)
    return (exact.join(est, "term")
            .select("term", "exact_cnt", F.col("est_cnt").cast("long")))


_CMS_BUCKET = ("('0x'||substring(md5('cms-'||{r}||':'||{t}),1,15))::BIGINT"
               f" % {_CMS_W}")
SQL_CMS_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest({TOKS_SQL.format(c='text')}) AS term FROM documents
), exact AS (
  SELECT term, count(*)::BIGINT AS exact_cnt FROM toks GROUP BY term
), top AS (
  SELECT term, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, term ASC LIMIT {_CMS_TOP}
), rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
grid AS (
  SELECT r.r AS row,
         {_CMS_BUCKET.format(r='r.r::VARCHAR', t='t.term')} AS bucket,
         count(*)::BIGINT AS cnt
  FROM toks t CROSS JOIN rows_ r
  GROUP BY 1, 2
), probes AS (
  SELECT p.term, p.exact_cnt, r.r AS row,
         {_CMS_BUCKET.format(r='r.r::VARCHAR', t='p.term')} AS bucket
  FROM top p CROSS JOIN rows_ r
)
SELECT p.term, p.exact_cnt,
       min(coalesce(g.cnt, 0))::BIGINT AS est_cnt
FROM probes p LEFT JOIN grid g ON p.row = g.row AND p.bucket = g.bucket
GROUP BY p.term, p.exact_cnt"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per language beside the exact
    count (operators/sketches.py hll_registers/hll_estimate): the
    fixed-state (64 registers/group) distinct counter whose registers
    merge by max across shards/days — vs the exact count that shuffles
    the full token vocabulary."""
    from rag_document_parser_spark.operators import sketches as SK

    docs = _docs(spark, sf_dir)
    toks = docs.select("lang", F.explode(D.words(F.col("text"))).alias("term"))
    est = SK.hll_estimate(SK.hll_registers(toks, group_cols=("lang",)),
                          group_cols=("lang",))
    exact = toks.groupBy("lang").agg(
        F.count_distinct("term").alias("exact_distinct"))
    return (est.join(exact, "lang")
            .select("lang", "est_distinct",
                    F.col("exact_distinct").cast("long")))


_HLL_NUM_SQL = 709_000 * 64 * 64 * (1 << 30)
SQL_HLL_DISTINCT = f"""
WITH toks AS (
  SELECT lang, unnest({TOKS_SQL.format(c='text')}) AS term FROM documents
), p AS (
  SELECT lang, {_md5l("'hll:'||term")} AS h FROM toks
), pr AS (
  SELECT lang, h % 64 AS bucket,
         CASE WHEN h // 64 = 0 THEN 55
              ELSE 55 - length(bin(h // 64)) END AS rho
  FROM p
), regs AS (
  SELECT lang, bucket, max(rho) AS rho FROM pr GROUP BY 1, 2
), agg AS (
  SELECT lang,
         sum(CASE WHEN rho <= 30 THEN 1073741824 >> rho ELSE 0 END)::BIGINT
           AS sp,
         count(*)::BIGINT AS np
  FROM regs GROUP BY 1
), est AS (
  SELECT lang,
         {_HLL_NUM_SQL} // (sp + (64 - np) * 1073741824) // 1000000
           AS est_distinct
  FROM agg
), ex AS (
  SELECT lang, count(DISTINCT term)::BIGINT AS exact_distinct
  FROM toks GROUP BY 1
)
SELECT e.lang, est_distinct::BIGINT AS est_distinct, exact_distinct
FROM est e JOIN ex USING (lang)"""


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between languages from HLL sketches
    alone: inclusion-exclusion over max-merged registers (the sketch
    merge law), estimates and clamped intersections per lang pair."""
    from rag_document_parser_spark.operators.dedup import words as _w
    from rag_document_parser_spark.operators.sketches import hll_overlap

    toks = (_docs(spark, sf_dir)
            .select("lang", F.explode(_w(F.col("text"))).alias("term")))
    return hll_overlap(toks, group_col="lang")


def _sql_hll_est(src: str, keys: str) -> str:
    """The fixed-point HLL estimator over register CTE ``src`` grouped
    by ``keys`` (comma list) — the SQL_HLL_DISTINCT arithmetic."""
    return f"""(
  SELECT {keys},
    ({_HLL_NUM_SQL} // (sum(CASE WHEN rho <= 30
                            THEN 1073741824 >> rho ELSE 0 END)::BIGINT
                        + (64 - count(*)) * 1073741824) // 1000000)
      ::BIGINT AS est
  FROM {src} GROUP BY {keys})"""


SQL_HLL_OVERLAP = f"""
WITH toks AS (
  SELECT lang, unnest({TOKS_SQL.format(c='text')}) AS term FROM documents
), pr AS (
  SELECT lang, h % 64 AS bucket,
         CASE WHEN h // 64 = 0 THEN 55
              ELSE 55 - length(bin(h // 64)) END AS rho
  FROM (SELECT lang, {_md5l("'hll:'||term")} AS h FROM toks) z
), regs AS (
  SELECT lang, bucket, max(rho) AS rho FROM pr GROUP BY 1, 2
), est1 AS {_sql_hll_est('regs', 'lang')}
, gs AS (
  SELECT DISTINCT lang FROM regs
), pairs AS (
  SELECT a.lang AS ga, b.lang AS gb FROM gs a, gs b
  WHERE a.lang < b.lang
), mrg AS (
  SELECT ga, gb, bucket, max(rho) AS rho FROM (
    SELECT p.ga, p.gb, r.bucket, r.rho
    FROM pairs p JOIN regs r ON r.lang = p.ga
    UNION ALL
    SELECT p.ga, p.gb, r.bucket, r.rho
    FROM pairs p JOIN regs r ON r.lang = p.gb) u
  GROUP BY ga, gb, bucket
), estu AS {_sql_hll_est('mrg', 'ga, gb')}
SELECT e.ga AS group_a, e.gb AS group_b,
  sa.est AS est_a, sb.est AS est_b, e.est AS est_union,
  greatest(sa.est + sb.est - e.est, 0)::BIGINT AS est_intersection,
  (greatest(sa.est + sb.est - e.est, 0) * 1000000
   // nullif(e.est, 0))::BIGINT AS jaccard_est_e6
FROM estu e JOIN est1 sa ON sa.lang = e.ga
  JOIN est1 sb ON sb.lang = e.gb"""


_NBITS = 16
_VBANDS = 4


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = V.lsh_cosine_topk(emb, queries, k=_TOPK, n_bits=_NBITS, bands=_VBANDS)
    return out.select(
        F.col("query_id").cast("long"), F.col("vec_id").cast("long"),
        F.col("rank").cast("long"))


_PLANE = ("(('0x'||substr(md5('plane-0:'||(d + b*10007)::VARCHAR),1,8))::BIGINT"
          " / 4294967296.0 * 2.0 - 1.0)")
_SIGBIT = (f"CASE WHEN list_reduce(list_transform(range(0, len(v)),"
           f" d -> v[d+1] * {_PLANE}), (a,b) -> a+b) > 0"
           f" THEN 1::BIGINT << b::INT ELSE 0::BIGINT END")
SQL_LSH_COSINE = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
sig AS (SELECT vec_id, v,
          list_reduce(list_transform(range({_NBITS}), b -> {_SIGBIT}),
                      (a, b) -> a | b) AS s
        FROM e),
banded AS (SELECT vec_id, v, unnest(list_transform(range({_VBANDS}),
             bi -> bi::VARCHAR || '|' ||
                   ((s >> (bi*{_NBITS // _VBANDS})::INT)
                    & {(1 << (_NBITS // _VBANDS)) - 1})::VARCHAR)) AS bk
           FROM sig),
cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id,
                c.v AS v, q.v AS qv
         FROM banded c JOIN banded q ON c.bk = q.bk
         WHERE q.vec_id < {_NQ} AND q.vec_id <> c.vec_id),
s AS (SELECT query_id, vec_id,
        {_DOT} / ({_NRM.format(x='v')} * {_NRM.format(x='qv')}) AS cos
      FROM cand),
r AS (SELECT query_id, vec_id,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cos DESC, vec_id ASC) AS rank FROM s)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       rank::BIGINT AS rank
FROM r WHERE rank <= {_TOPK}"""




def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic coarse quantizer (first 16
    vectors), nearest-centroid posting lists, nprobe=4, exact re-rank."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = V.ivf_cosine_topk(emb, queries, k=_TOPK,
                            n_centroids=_NCENT, nprobe=_NPROBE)
    # rank only (like lsh_cosine_topk): the operator's cosine column is
    # display-rounded; the rank ordering pins the raw values
    return out.select(
        F.col("query_id").cast("long"), F.col("vec_id").cast("long"),
        F.col("rank").cast("long"))


def _sql_ivf() -> str:
    # assignment/probe score = dot(v, c) / ||c|| — the row's own norm is
    # a positive constant per row, so the ordering equals the cosine
    # ordering while matching the engine's halved arithmetic bitwise;
    # degenerate vectors (NULL / zero-norm) are filtered like the engine
    dot_cv = _DOT.replace("qv", "cv")
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL),
e2 AS (SELECT * FROM e WHERE {_NRM.format(x='v')} > 0),
cents AS (SELECT vec_id AS cid, v AS cv FROM e2 WHERE vec_id < {_NCENT}),
ccos AS (
  SELECT e2.vec_id, e2.v, c.cid,
    {dot_cv} / {_NRM.format(x='cv')} AS score
  FROM e2, cents c
), assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, cid ASC) AS rn
    FROM ccos) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, cid ASC) AS rn
    FROM ccos WHERE vec_id < {_NQ}) WHERE rn <= {_NPROBE}
), cand AS (
  SELECT p.query_id, a.vec_id, a.v, p.qv
  FROM assigned a JOIN probes p ON a.cid = p.cid
  WHERE p.query_id <> a.vec_id
), s AS (
  SELECT query_id, vec_id,
    {_DOT} / ({_NRM.format(x='v')} * {_NRM.format(x='qv')}) AS cos
  FROM cand
), r AS (
  SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, vec_id ASC) AS rank FROM s)
SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
       rank::BIGINT AS rank
FROM r WHERE rank <= {_TOPK}"""


SQL_IVF_COSINE = _sql_ivf()


_KM_K = 4
_KM_ITERS = 2


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means training (Lloyd, driver-paced rounds) — the
    offline trainer for the IVF coarse quantizer. Every float op is
    order-pinned (id-sorted fold means, left-fold dots, guarded
    normalization), so the unrolled DuckDB oracle reproduces the
    trained centroids bitwise."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = V.train_kmeans(emb, k=_KM_K, iters=_KM_ITERS)
    import math
    rows = [(cid, d, int(math.floor(c[d] * 1_000_000)))
            for cid, c in cents for d in range(len(c))]
    return spark.createDataFrame(
        rows, "cid long, dim long, coord_e6 long")


def _sql_kmeans() -> str:
    dot_sc = ("list_reduce(list_transform(range(1, len(v) + 1), "
              "ii -> v[ii] * s.c[ii]), (a, b) -> a + b)")

    def unit(m: str) -> str:
        nrm = (f"sqrt(list_reduce(list_transform({m}, x -> x * x), "
               "(a, b) -> a + b))")
        return (f"list_transform([{nrm}], nz -> CASE WHEN nz > 0 "
                f"THEN list_transform({m}, x -> x / nz) "
                f"ELSE {m} END)[1]")

    mean = ("list_transform(range(1, len(ms[1]) + 1), d -> "
            "list_reduce(list_transform(ms, m -> m[d]), "
            "(a, b) -> a + b) / n)")

    iter_ctes = []
    prev_l, prev_u = "l0", "n0"
    for i in range(1, _KM_ITERS + 1):
        iter_ctes.append(f"""
a{i} AS (
  SELECT e2.vec_id, e2.v,
    (list_min(list_transform({prev_l}.cs, s ->
      {{'negsc': -({dot_sc}), 'cid': s.cid}}))).cid AS cid
  FROM e2, {prev_l}
), g{i} AS (
  SELECT cid, list(v ORDER BY vec_id) AS ms, count(*) AS n
  FROM a{i} GROUP BY cid
), m{i} AS (
  SELECT cid, {mean} AS m FROM g{i}
), u{i} AS (
  SELECT p.cid, CASE WHEN m{i}.m IS NULL THEN p.c
                     ELSE {unit(f'm{i}.m')} END AS c
  FROM {prev_u} p LEFT JOIN m{i} USING (cid)
), l{i} AS (
  SELECT list({{'cid': cid, 'c': c}} ORDER BY cid) AS cs FROM u{i}
)""")
        prev_l, prev_u = f"l{i}", f"u{i}"

    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL),
e2 AS (SELECT * FROM e WHERE {_NRM.format(x='v')} > 0),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
  FROM (SELECT vec_id, v FROM e2 ORDER BY vec_id LIMIT {_KM_K})
), n0 AS (SELECT cid, {unit('v')} AS c FROM c0
), l0 AS (SELECT list({{'cid': cid, 'c': c}} ORDER BY cid) AS cs FROM n0
), {', '.join(iter_ctes)}
SELECT cid::BIGINT AS cid, (u.d - 1)::BIGINT AS dim, u.e6 AS coord_e6
FROM (
  SELECT cid, unnest(list_transform(range(1, len(c) + 1),
    dd -> {{'d': dd, 'e6': floor(c[dd] * 1000000)::BIGINT}})) AS u
  FROM {prev_u})"""


SQL_KMEANS_CENTROIDS = _sql_kmeans()


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup tier. The synthetic embeddings have
    no natural near-dups, so vec_id<30 are cloned under id+100000."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    clones = emb.where(F.col("vec_id") < 30).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    return V.embedding_near_dup_pairs(emb.unionByName(clones), threshold=0.95)


SQL_EMB_NEAR_DUP = f"""
WITH e0 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 30
), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM e0),
sig AS (SELECT vec_id, v,
          list_reduce(list_transform(range({_NBITS}), b -> {_SIGBIT}),
                      (a, b) -> a | b) AS s
        FROM e),
banded AS (SELECT vec_id, v, unnest(list_transform(range({_VBANDS}),
             bi -> bi::VARCHAR || '|' ||
                   ((s >> (bi*{_NBITS // _VBANDS})::INT)
                    & {(1 << (_NBITS // _VBANDS)) - 1})::VARCHAR)) AS bk
           FROM sig),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                a.v AS v, b.v AS qv
         FROM banded a JOIN banded b ON a.bk = b.bk
         WHERE a.vec_id < b.vec_id),
s AS (SELECT id_a, id_b,
        {_DOT} / ({_NRM.format(x='v')} * {_NRM.format(x='qv')}) AS cos
      FROM cand)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
       floor(cos * 1000000)::BIGINT AS cosine_e6
FROM s WHERE cos >= 0.95"""


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: every corpus vector
    checked for cosine >= 0.95 against a broadcast LSH-banded eval set
    (vec_id % 11 == 5 plays the benchmark). Eval members flag
    themselves at cosine 1.0 by construction."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    ev = emb.where(F.col("vec_id") % 11 == 5)
    out = V.semantic_decontaminate(emb, ev, threshold=0.95)
    return out.select(F.col("id").cast("long"), "n_candidates",
                      "max_cos_e6", "contaminated")


SQL_SEMANTIC_DECONTAM = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
sig AS (SELECT vec_id, v,
          list_reduce(list_transform(range({_NBITS}), b -> {_SIGBIT}),
                      (a, b) -> a | b) AS s
        FROM e),
banded AS (SELECT vec_id, v, unnest(list_transform(range({_VBANDS}),
             bi -> bi::VARCHAR || '|' ||
                   ((s >> (bi*{_NBITS // _VBANDS})::INT)
                    & {(1 << (_NBITS // _VBANDS)) - 1})::VARCHAR)) AS bk
           FROM sig),
cand AS (SELECT DISTINCT c.vec_id AS id, c.v AS v,
                q.vec_id AS eid, q.v AS qv
         FROM banded c JOIN banded q ON c.bk = q.bk
         WHERE q.vec_id % 11 = 5),
s AS (SELECT id,
        {_DOT} / ({_NRM.format(x='v')} * {_NRM.format(x='qv')}) AS cos
      FROM cand),
hits AS (SELECT id, count(*)::BIGINT AS n_candidates, max(cos) AS mx
         FROM s GROUP BY id)
SELECT e.vec_id::BIGINT AS id,
  coalesce(h.n_candidates, 0)::BIGINT AS n_candidates,
  coalesce(floor(h.mx * 1000000), 0)::BIGINT AS max_cos_e6,
  coalesce(h.mx >= 0.95, false) AS contaminated
FROM e LEFT JOIN hits h ON h.id = e.vec_id"""


_SD_THRESHOLD = 0.999


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup comparing pairs only
    WITHIN an embedding cluster — Σ|cluster|² work instead of n². The
    synthetic embeddings have no exact dups, so vec_id<10 are cloned
    under id+100000; each clone must fall to its original."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    clones = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    out = V.semdedup(emb.unionByName(clones), threshold=_SD_THRESHOLD,
                     n_centroids=_NCENT)
    return out.select(F.col("vec_id").cast("long"),
                      F.col("cid").cast("long"), "kept",
                      F.col("dup_of").cast("long"))


def _sql_semdedup() -> str:
    # assignment CTEs mirror _sql_ivf (same deterministic quantizer);
    # pair cosine folds a-side * b-side like the engine's zip_with
    dot_cv = _DOT.replace("qv", "cv")
    dot_ab = _DOT.replace("qv[i]", "b.v[i]").replace("v[i]*", "a.v[i]*") \
        .replace("len(v)", "len(a.v)")
    return f"""
WITH e0 AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
  WHERE vec_id < 10
), e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         FROM e0 WHERE embedding IS NOT NULL),
e2 AS (SELECT * FROM e WHERE {_NRM.format(x='v')} > 0),
cents AS (SELECT vec_id AS cid, v AS cv FROM e2 WHERE vec_id < {_NCENT}),
ccos AS (
  SELECT e2.vec_id, e2.v, c.cid,
    {dot_cv} / {_NRM.format(x='cv')} AS score
  FROM e2, cents c
), assigned AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, cid ASC) AS rn
    FROM ccos) WHERE rn = 1
), dups AS (
  SELECT a.vec_id, min(b.vec_id) AS dup_of
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE {dot_ab} / ({_NRM.format(x='a.v')} * {_NRM.format(x='b.v')})
        >= {_SD_THRESHOLD}
  GROUP BY a.vec_id)
SELECT a.vec_id::BIGINT AS vec_id, a.cid::BIGINT AS cid,
       (d.dup_of IS NULL) AS kept, d.dup_of::BIGINT AS dup_of
FROM assigned a LEFT JOIN dups d USING (vec_id)"""


SQL_SEMDEDUP = _sql_semdedup()


_MIX_ALPHA = "0.5"
_EPOCH_BUDGET = 10_000_000   # tokens (chars stand in as the unit here)
_EPOCH_CAP_E6 = 4_000_000    # 4 epochs (Muennighoff 2023)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened sampling shares per language
    (operators/mixture.py temperature_weights, alpha=1/2): one
    map-side-combinable aggregate to |langs| rows, exact-integer
    isqrt fixed point — shares sum to ~1e6, tails provably lifted
    toward uniform vs raw_share_e6."""
    from rag_document_parser_spark.operators import mixture as MX

    return MX.temperature_weights(_docs(spark, sf_dir), "lang",
                                  size_col="n_chars", alpha=_MIX_ALPHA)


def _sql_isqrt(x: str) -> str:
    from rag_document_parser_spark.operators.mixture import sql_isqrt
    return sql_isqrt(x)


def _sql_temp_weights() -> str:
    w = _sql_isqrt("mass * 100000000")
    return f"""
WITH per AS (
  SELECT lang AS "group", COUNT(*)::BIGINT AS n_docs,
         SUM(n_chars)::BIGINT AS mass
  FROM documents GROUP BY lang
), ww AS (SELECT *, {w} AS w FROM per),
tot AS (SELECT SUM(mass)::BIGINT AS _tm, SUM(w)::BIGINT AS _tw FROM ww)
SELECT "group", n_docs, mass,
       (mass * 1000000 // _tm)::BIGINT AS raw_share_e6,
       (w * 1000000 // _tw)::BIGINT AS tempered_share_e6
FROM ww, tot"""


SQL_TEMPERATURE_MIXTURE = _sql_temp_weights()


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planner (operators/mixture.py epoch_plan):
    tempered shares -> per-language target tokens, repetition factors,
    and the 4-epoch cap — all arithmetic on the |langs|-row mixture
    table, so the corpus is scanned exactly once (by the weights
    aggregate)."""
    from rag_document_parser_spark.operators import mixture as MX

    w = MX.temperature_weights(_docs(spark, sf_dir), "lang",
                               size_col="n_chars", alpha=_MIX_ALPHA)
    return MX.epoch_plan(w, budget_tokens=_EPOCH_BUDGET,
                         max_epochs_e6=_EPOCH_CAP_E6)


def q_unimax_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax water-filling allocation (Chung et al. 2023): the token
    budget splits as uniformly as possible across languages subject
    to the 4-epoch repetition cap — capped groups take their ceiling,
    the remainder divides EQUALLY among the rest (epoch_plan's capped
    shortfall, redistributed instead of dropped)."""
    from rag_document_parser_spark.operators import mixture as MX
    per = MX.temperature_weights(_docs(spark, sf_dir), "lang",
                                 size_col="n_chars", alpha=_MIX_ALPHA)
    return MX.unimax_allocation(per, budget_tokens=_EPOCH_BUDGET,
                                max_epochs_e6=_EPOCH_CAP_E6)


def q_mixture_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity summary of the UniMax allocation: fixed-point Shannon
    entropy of the token shares and the effective number of groups
    2^H (mixture perplexity) — the fairness numbers a mixture design
    is judged by, via the same bit-portable integer log2/exp pair as
    the tokenizer tier."""
    from rag_document_parser_spark.operators import mixture as MX
    per = MX.temperature_weights(_docs(spark, sf_dir), "lang",
                                 size_col="n_chars", alpha=_MIX_ALPHA)
    alloc = MX.unimax_allocation(per, budget_tokens=_EPOCH_BUDGET,
                                 max_epochs_e6=_EPOCH_CAP_E6)
    return MX.mixture_summary(alloc)


_UMX_LOG2E3 = ("((length(bin({n})) - 1) * 1000 + "
               "(({n} * 1000) // (1::BIGINT << (length(bin({n})) - 1)))"
               " - 1000)")


def _sql_mixture_summary() -> str:
    return f"""
WITH alloc AS ({_sql_unimax_plan()}),
g AS (SELECT allocated_tokens AS tok FROM alloc),
tot AS (SELECT sum(tok)::BIGINT AS t, count(*)::BIGINT AS n_groups,
               max(tok)::BIGINT AS mx FROM g),
ent AS (SELECT t, n_groups, mx,
          sum(tok * ({_UMX_LOG2E3.format(n='t')}
                     - {_UMX_LOG2E3.format(n='tok')}))::BIGINT AS hs
        FROM g CROSS JOIN tot WHERE tok > 0
        GROUP BY t, n_groups, mx)
SELECT n_groups, t AS total_tokens,
  (mx * 1000000 // t)::BIGINT AS max_share_e6,
  (hs // t)::BIGINT AS entropy_e3,
  ((1::BIGINT << (hs // t // 1000)::INT)
   * (1000 + (hs // t) % 1000))::BIGINT AS effective_groups_e3
FROM ent"""


def _sql_unimax_plan() -> str:
    return f"""
WITH per AS (SELECT lang AS "group", sum(n_chars)::BIGINT AS mass
             FROM documents GROUP BY lang),
t1 AS (SELECT "group", mass,
              (mass * {_EPOCH_CAP_E6} // 1000000)::BIGINT AS cap
       FROM per),
t2 AS (SELECT "group", mass, cap,
         row_number() OVER (ORDER BY cap, "group")::BIGINT AS k,
         sum(cap) OVER (ORDER BY cap, "group"
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)::BIGINT AS p,
         count(*) OVER ()::BIGINT AS n
       FROM t1),
t3 AS (SELECT *,
         (cap * (n - k + 1) + (p - cap) <= {_EPOCH_BUDGET}) AS bind
       FROM t2),
t4 AS (SELECT *,
         coalesce(max(CASE WHEN bind THEN k END) OVER (), 0) AS j,
         coalesce(max(CASE WHEN bind THEN p END) OVER (), 0) AS pj
       FROM t3),
t5 AS (SELECT "group", mass, cap, k, j,
         (CASE WHEN k <= j THEN cap
               ELSE ({_EPOCH_BUDGET} - pj) // nullif(n - j, 0)
          END)::BIGINT AS allocated
       FROM t4)
SELECT "group", mass, cap AS cap_tokens,
  allocated AS allocated_tokens,
  (allocated * 1000000 // mass)::BIGINT AS epochs_e6,
  (k <= j) AS capped
FROM t5"""


def _sql_epoch_plan() -> str:
    return f"""
WITH base AS ({_sql_temp_weights()}),
t AS (SELECT "group", mass, tempered_share_e6,
             ({_EPOCH_BUDGET} * tempered_share_e6 // 1000000)::BIGINT
               AS target_tokens
      FROM base),
e AS (SELECT *, (target_tokens * 1000000 // mass)::BIGINT AS _ep FROM t)
SELECT "group", mass, tempered_share_e6, target_tokens,
       LEAST(_ep, {_EPOCH_CAP_E6})::BIGINT AS epochs_e6,
       (_ep > {_EPOCH_CAP_E6}) AS capped,
       (CASE WHEN _ep > {_EPOCH_CAP_E6}
             THEN mass * {_EPOCH_CAP_E6} // 1000000
             ELSE target_tokens END)::BIGINT AS granted_tokens
FROM e"""


SQL_EPOCH_PLAN = _sql_epoch_plan()


_QSKETCH_QS = [10_000, 250_000, 500_000, 750_000, 990_000]


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-binned quantile sketch over doc sizes (operators/sketches.py
    qsketch_build/qsketch_quantiles): bounded-state histogram (<=1040
    cells) built by one map-side-combinable groupBy, quantile ranks
    resolved on the grid only — the scale path where
    textstats.length_quantiles' exact bounded-domain table does not
    apply. est_lo is the bucket lower bound: an under-estimate by at
    most a factor 1 + 2**-4."""
    from rag_document_parser_spark.operators import sketches as SK

    cells = SK.qsketch_build(_docs(spark, sf_dir), "n_chars")
    out = SK.qsketch_quantiles(cells, _QSKETCH_QS)
    return out.select("q_e6", F.col("rank").cast("long"),
                      F.col("est_lo").cast("long"))


def _sql_quantile_sketch() -> str:
    qvals = ",".join(f"({q})" for q in _QSKETCH_QS)
    return f"""
WITH vals AS (SELECT n_chars::BIGINT AS x FROM documents
              WHERE n_chars IS NOT NULL AND n_chars >= 0),
b AS (SELECT CASE WHEN x < 16 THEN x
             ELSE (length(bin(x))-1)*16 + (x >> (length(bin(x))-1-4)) - 16
             END AS bucket FROM vals),
cells AS (SELECT bucket, COUNT(*)::BIGINT AS cnt FROM b GROUP BY bucket),
cum AS (SELECT bucket, cnt, SUM(cnt) OVER (ORDER BY bucket) AS cum,
               SUM(cnt) OVER () AS _n FROM cells),
qs(q_e6) AS (VALUES {qvals}),
r AS (SELECT cum.bucket, cum.cum, qs.q_e6,
             GREATEST(1, (_n * q_e6 + 999999) // 1000000) AS rank
      FROM cum CROSS JOIN qs)
SELECT q_e6::BIGINT AS q_e6, MAX(rank)::BIGINT AS rank,
       MIN(CASE WHEN bucket < 16 THEN bucket
                ELSE (bucket % 16 + 16) << ((bucket // 16) - 4)
           END)::BIGINT AS est_lo
FROM r WHERE cum >= rank GROUP BY q_e6"""


SQL_QUANTILE_SKETCH = _sql_quantile_sketch()


_MAT_SALT = "ep1"


def q_materialize_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the epoch plan into the actual resampled corpus
    (operators/mixture.py materialize_plan): each doc repeats
    epochs_e6 div 1e6 times plus a deterministic md5-fractional extra,
    so realized per-language token mass converges on granted_tokens.
    Broadcast plan join + scan-local sequence explode — zero shuffles
    beyond the |langs|-row plan aggregate."""
    from rag_document_parser_spark.operators import mixture as MX

    docs = _docs(spark, sf_dir)
    plan = MX.epoch_plan(
        MX.temperature_weights(docs, "lang", size_col="n_chars",
                               alpha=_MIX_ALPHA),
        budget_tokens=_EPOCH_BUDGET, max_epochs_e6=_EPOCH_CAP_E6)
    out = MX.materialize_plan(docs, plan, group_col="lang",
                              salt=_MAT_SALT)
    return out.select("doc_id", "lang", F.col("copy").cast("long"))


def _sql_materialize_mixture() -> str:
    return f"""
WITH plan AS ({_sql_epoch_plan()}),
j AS (SELECT d.doc_id, d.lang, p.epochs_e6,
             ('0x' || substring(md5(d.doc_id::VARCHAR || '{_MAT_SALT}'),
                                1, 15))::BIGINT % 1000000 AS u
      FROM documents d JOIN plan p ON d.lang = p."group"),
n AS (SELECT doc_id, lang,
             (epochs_e6 // 1000000
              + CASE WHEN u < epochs_e6 % 1000000 THEN 1 ELSE 0 END) AS n
      FROM j)
SELECT doc_id, lang, CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy
FROM n WHERE n > 0"""


SQL_MATERIALIZE_MIXTURE = _sql_materialize_mixture()


_GS_SHARDS = 8
_GS_SALT = "gs"


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-level training-order shuffle
    (operators/sampling.py global_shuffle): hash-assigned shard (scan-
    local, uniform) + independent-hash within-shard rank — the only
    sort any task runs is over |corpus|/n_shards rows, and the order
    is a pure function of (doc_id, salt) at any cluster size."""
    from rag_document_parser_spark.operators import sampling as SAM

    out = SAM.global_shuffle(_docs(spark, sf_dir), n_shards=_GS_SHARDS,
                             salt=_GS_SALT)
    return out.select("doc_id", F.col("shard").cast("long"),
                      F.col("pos").cast("long"))


SQL_GLOBAL_SHUFFLE = f"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substring(md5(doc_id::VARCHAR || '{_GS_SALT}'),
                            1, 15))::BIGINT % {_GS_SHARDS} AS shard,
         ('0x' || substring(md5(doc_id::VARCHAR || '{_GS_SALT}'),
                            16, 15))::BIGINT AS u2
  FROM documents)
SELECT doc_id, shard::BIGINT AS shard,
       row_number() OVER (PARTITION BY shard
                          ORDER BY u2, doc_id)::BIGINT AS pos
FROM h"""


def q_order_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order certificate: per-shard xor digest of
    md5(doc_id:pos) over the deterministic global shuffle — order-
    sensitive through the bound position, order-free to aggregate."""
    from rag_document_parser_spark.operators import sampling as SAM
    from rag_document_parser_spark.operators.integrity import (
        order_certificate)

    out = SAM.global_shuffle(_docs(spark, sf_dir), n_shards=_GS_SHARDS,
                             salt=_GS_SALT)
    cert = order_certificate(out)
    return cert.select(F.col("shard").cast("long"), "n_rows",
                       "order_digest")


SQL_ORDER_CERT = f"""
WITH gs AS ({SQL_GLOBAL_SHUFFLE}
)
SELECT shard, count(*)::BIGINT AS n_rows,
  bit_xor(('0x' || substring(md5(doc_id::VARCHAR || ':'
                             || pos::VARCHAR), 1, 15))::BIGINT)::BIGINT
    AS order_digest
FROM gs GROUP BY shard"""


def q_classifier_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Brier score of the language classifier's confidence
    against correctness — the proper scoring rule beside ECE and
    AUC."""
    from rag_document_parser_spark.operators import calibration as CAL
    return CAL.brier_score(_classified_with_truth(spark, sf_dir))


def _sql_classifier_brier() -> str:
    inner = SQL_CLASSIFY_LANG
    return "WITH " + _CAL_TRUTH_SQL.format(inner=inner) + """
SELECT count(*)::BIGINT AS n_items,
  (CASE WHEN count(*) > 0
        THEN sum((score_e6 - correct::INT * 1000000)::HUGEINT
                 * (score_e6 - correct::INT * 1000000))
             // (count(*)::HUGEINT * 1000000) END)::BIGINT AS brier_e6
FROM c"""


def q_chat_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-record offsets (operators/posttrain.py chat_offsets):
    per-turn character intervals + assistant loss-mask flags inside the
    role-tagged assembled record. Turns synthesized per doc: system
    prompt, user slice, assistant slice, and for h%2==0 a second
    user/assistant exchange — variable turn counts and text lengths
    exercise the cumulative-offset window."""
    from rag_document_parser_spark.operators import posttrain as PT

    d = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))

    def turn(idx, role, text):
        return F.struct(F.lit(idx).cast("long").alias("turn_idx"),
                        F.lit(role).alias("role"), text.alias("text"))

    base = F.array(
        turn(0, "system", F.lit("be helpful")),
        turn(1, "user",
             F.expr("substring(text, 1, 5 + cast(__h % 20 as int))")),
        turn(2, "assistant",
             F.expr("substring(text, 10, 5 + cast(__h % 15 as int))")),
    )
    extra = F.array(
        turn(3, "user", F.concat(F.lit("ok "), (h % 9).cast("string"))),
        turn(4, "assistant", F.concat(F.lit("done "),
                                      (h % 7).cast("string"))),
    )
    turns = (d.withColumn("__h", h)
             .select(F.col("doc_id").alias("conv_id"),
                     F.explode(F.when(h % 2 == 0, F.concat(base, extra))
                               .otherwise(base)).alias("t"))
             .select("conv_id", F.col("t.turn_idx").alias("turn_idx"),
                     F.col("t.role").alias("role"),
                     F.col("t.text").alias("text")))
    return PT.chat_offsets(turns)


SQL_CHAT_OFFSETS = f"""
WITH m0 AS (
  SELECT doc_id, text, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), t AS (
  SELECT doc_id AS conv_id, 0 AS turn_idx, 'system' AS role,
         'be helpful' AS text, h FROM m0
  UNION ALL
  SELECT doc_id, 1, 'user', substring(text, 1, 5 + (h % 20)::INT), h
  FROM m0
  UNION ALL
  SELECT doc_id, 2, 'assistant',
         substring(text, 10, 5 + (h % 15)::INT), h FROM m0
  UNION ALL
  SELECT doc_id, 3, 'user', 'ok ' || (h % 9)::VARCHAR, h FROM m0
  WHERE h % 2 = 0
  UNION ALL
  SELECT doc_id, 4, 'assistant', 'done ' || (h % 7)::VARCHAR, h FROM m0
  WHERE h % 2 = 0
), o AS (
  SELECT conv_id, turn_idx, role,
         (length(role) + 4 + length(text))::BIGINT AS plen
  FROM t)
SELECT conv_id, turn_idx::BIGINT AS turn_idx, role,
       COALESCE(SUM(plen) OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS start_char,
       (COALESCE(SUM(plen) OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) + plen)::BIGINT AS end_char,
       (role = 'assistant') AS trainable
FROM o"""


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reward-model / DPO pair mining (operators/posttrain.py
    preference_pairs): per-source (chosen, rejected) by integer score
    (n_chars here), ties to the smallest doc_id, all-tied groups
    dropped — aggregate argmax/argmin, never a per-group window."""
    from rag_document_parser_spark.operators import posttrain as PT

    return PT.preference_pairs(_docs(spark, sf_dir), score_col="n_chars",
                               group_col="source")


SQL_PREFERENCE_PAIRS = """
WITH ext AS (
  SELECT source AS grp, MAX(n_chars)::BIGINT AS cs,
         MIN(n_chars)::BIGINT AS rs
  FROM documents GROUP BY source
  HAVING MAX(n_chars) > MIN(n_chars)
), c AS (
  SELECT d.source AS grp, MIN(d.doc_id) AS chosen_id
  FROM documents d JOIN ext ON d.source = ext.grp AND d.n_chars = ext.cs
  GROUP BY d.source
), r AS (
  SELECT d.source AS grp, MIN(d.doc_id) AS rejected_id
  FROM documents d JOIN ext ON d.source = ext.grp AND d.n_chars = ext.rs
  GROUP BY d.source
)
SELECT grp AS source, chosen_id, rejected_id,
       (cs - rs)::BIGINT AS margin
FROM ext JOIN c USING (grp) JOIN r USING (grp)"""


def q_failed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/L3 failed-docs projection. The contract's rules never raise, so
    on well-formed input this is verified-empty (count and schema still
    compared against the oracle)."""
    from rag_document_parser_spark.reporting import failed_docs

    out = J.extract(spans_df_from_documents(spark, sf_dir), stable=True)
    return failed_docs(out)


def _poisoned_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side corpus with deliberately unsupported span kinds (~1 doc in 7)
    run under ``unknown_kinds="error"`` — the reference's unsupported-
    file-type error path (main.py:94-138), and what puts the A1/A3
    failure reports under the gate on a NON-empty failure set."""
    from rag_document_parser_spark.config import ExtractConfig

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    did = F.concat(F.lit("p-"), F.col("doc_id").cast("string"))
    h2 = F.conv(F.substring(F.md5(did), 16, 15), 16, 10).cast("long")
    kind = F.when(F.pmod(h2, 7) == 0, F.lit("mystery_v9")) \
            .otherwise(F.lit("text"))
    df = docs.select(did.alias("doc_id"), F.array(F.struct(
        kind.alias("kind"), F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"))).alias("spans"))
    return J.extract(df, ExtractConfig(unknown_kinds="error"), stable=True)


def q_failed_docs_poisoned(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _poisoned_out(spark, sf_dir)
    return out.where(~F.col("success")).select("doc_id", "route", "error")


SQL_FAILED_POISONED = """
SELECT 'p-'||doc_id::VARCHAR AS doc_id, 'error' AS route,
       'Unsupported kind: mystery_v9' AS error
FROM documents
WHERE ('0x'||substring(md5('p-'||doc_id::VARCHAR),16,15))::BIGINT % 7 = 0
"""


def q_summary_poisoned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 over the poisoned corpus: failed/successful DERIVED from the
    success column (never hard-coded), rate as a floor-scaled integer."""
    out = _poisoned_out(spark, sf_dir)
    return out.agg(
        F.count("*").alias("total_docs"),
        F.sum(F.col("success").cast("long")).alias("successful"),
        F.sum((~F.col("success")).cast("long")).alias("failed"),
        F.floor(F.sum(F.col("success").cast("double")) / F.count("*")
                * 1000).cast("long").alias("success_permille"),
    )


SQL_SUMMARY_POISONED = """
SELECT count(*) AS total_docs,
       sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS successful,
       sum(CASE WHEN ok THEN 0 ELSE 1 END)::BIGINT AS failed,
       floor(sum(CASE WHEN ok THEN 1.0 ELSE 0.0 END)::DOUBLE / count(*)
             * 1000)::BIGINT AS success_permille
FROM (
  SELECT ('0x'||substring(md5('p-'||doc_id::VARCHAR),16,15))::BIGINT % 7
         <> 0 AS ok
  FROM documents)
"""


SQL_FAILED = """
SELECT 'x' AS doc_id, 'x' AS error FROM documents WHERE 1 = 0"""


# ---------------------------------------------------------------------------
# multimodal plumbing + classic report shapes
# ---------------------------------------------------------------------------


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = M.extract_media_features(M.synthetic_media_df(spark, 64))
    return out.select("media_ref", "modality", "payload_sha", "decode_ok")


SQL_MEDIA = """
SELECT 'img://64x64/m'||i::VARCHAR AS media_ref,
  CASE WHEN i % 3 = 0 THEN 'image'
       WHEN i % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
  sha256(repeat('payload-'||i::VARCHAR, 16)) AS payload_sha,
  true AS decode_ok
FROM (SELECT unnest(range(64)) AS i)"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: evenly-spaced frame rows per video
    media item (decode stand-in; Spark-side batch fan-out is real)."""
    out = M.sample_video_frames(M.synthetic_media_df(spark, 64), n_frames=4)
    return out.select("media_ref", F.col("frame_idx").cast("long"),
                      F.col("ts_ms").cast("long"), "frame_sha")


SQL_FRAME_SAMPLE = """
SELECT 'img://64x64/m'||i::VARCHAR AS media_ref,
  k::BIGINT AS frame_idx,
  (k * 1000 // 4)::BIGINT AS ts_ms,
  sha256(repeat('payload-'||i::VARCHAR, 16) || ':' || k::VARCHAR) AS frame_sha
FROM (SELECT unnest(range(64)) AS i), (SELECT unnest(range(4)) AS k)
WHERE i % 3 = 2"""


def q_ocr_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E40-E42 OCR engine chain (priority fallback, confidence filter)
    over the synthetic media table — the stand-in engine wins in this
    container; a real easyocr/tesseract install changes only the probe."""
    out = M.ocr_media(M.synthetic_media_df(spark, 64))
    return out.select("media_ref", "ocr_text", "ocr_engine",
                      F.col("n_tokens").cast("long"), "mean_conf_e4")


_OCR_TOK = ("{'tok': substr(h, p, 4), 'conf': "
            "('0x'||substr(md5(h||':'||substr(h, p, 4)),1,8))::BIGINT"
            " / 4294967296.0}")
SQL_OCR_MEDIA = f"""
WITH s AS (
  SELECT 'img://64x64/m'||i::VARCHAR AS media_ref,
         md5(repeat('payload-'||i::VARCHAR, 16)) AS h
  FROM (SELECT unnest(range(64)) AS i)
), t AS (
  SELECT media_ref,
    list_filter(list_transform([1, 5, 9], p -> {_OCR_TOK}),
                x -> x.conf >= {M.OCR_CONFIDENCE_THRESHOLD}) AS toks
  FROM s
)
SELECT media_ref,
  CASE WHEN len(toks) > 0
       THEN array_to_string(list_transform(toks, x -> x.tok), ' ') END
    AS ocr_text,
  CASE WHEN len(toks) > 0 THEN 'standin' END AS ocr_engine,
  len(toks)::BIGINT AS n_tokens,
  CASE WHEN len(toks) > 0 THEN
    floor(list_sum(list_transform(toks, x -> x.conf)) / len(toks)
          * 10000)::BIGINT END AS mean_conf_e4
FROM t"""


def q_detect_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1-R5 detection cascade (/root/reference/utils/file_detector.py:150-200)
    over a deterministic synthetic (extension, mime) per document."""
    from rag_document_parser_spark.functions import detect as DET

    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    exts = [".pdf", ".docx", ".txt", ".html", ".xlsx", ".jpg", ".zip", ".xyz"]
    ext = F.element_at(F.lit(exts), (F.pmod(h, 8) + 1).cast("int"))
    mime = (F.when(F.pmod(h, 4) == 1, "application/pdf")
            .when(F.pmod(h, 4) == 2, "text/plain")
            .when(F.pmod(h, 4) == 3, "application/x-awesome-spreadsheet"))
    meta = docs.select("doc_id", ext.alias("extension"), mime.alias("mime_type"))
    out = DET.detect_columns(meta)
    return out.select("doc_id", "extension", "mime_type", "category",
                      F.floor(F.col("confidence") * 10).cast("long")
                      .alias("confidence_e1"))


_EXT_CASE = " ".join(
    f"WHEN ext = '{e}' THEN '{c}'"
    for e, c in [(".pdf", "pdf"), (".docx", "document"), (".txt", "text"),
                 (".html", "text"), (".xlsx", "spreadsheet"), (".jpg", "image")])
SQL_DETECT = f"""
WITH m AS (
  SELECT doc_id, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), syn AS (
  SELECT doc_id,
    ['.pdf','.docx','.txt','.html','.xlsx','.jpg','.zip','.xyz'][(h % 8 + 1)::INT] AS ext,
    CASE WHEN h % 4 = 1 THEN 'application/pdf'
         WHEN h % 4 = 2 THEN 'text/plain'
         WHEN h % 4 = 3 THEN 'application/x-awesome-spreadsheet' END AS mime
  FROM m
), cat AS (
  SELECT doc_id, ext, mime,
    CASE WHEN mime = 'application/pdf' THEN 'pdf'
         WHEN mime = 'text/plain' THEN 'text'
         WHEN mime LIKE 'text/%' THEN 'text'
         WHEN contains(lower(mime), 'sheet') THEN 'spreadsheet' END AS by_mime,
    CASE {_EXT_CASE} END AS by_ext
  FROM syn
)
SELECT doc_id, ext AS extension, mime AS mime_type,
  coalesce(by_mime, by_ext,
           CASE WHEN ext IN ('.txt','.log','.cfg','.conf') THEN 'text' END,
           'unknown') AS category,
  (CASE WHEN by_mime IS NOT NULL THEN 10
        WHEN by_ext IS NOT NULL THEN 8
        WHEN ext IN ('.txt','.log','.cfg','.conf') THEN 5
        ELSE 0 END)::BIGINT AS confidence_e1
FROM cat"""


def q_magic_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 magic-byte sniffing over synthesized binary payloads: each doc
    gets one of the 8 signature prefixes or a garbage prefix; the engine
    must recover (mime, category) from the payload bytes alone."""
    from rag_document_parser_spark.functions.detect import (MAGIC_SIGNATURES,
                                                            sniff_magic)

    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    sigs = [s for s, _, _ in MAGIC_SIGNATURES] + ["deadbeef"]
    hexsig = F.element_at(F.lit(sigs), (F.pmod(h, 9) + 1).cast("int"))
    payload = F.unhex(F.concat(hexsig, F.lit("001122334455667788")))
    sniffed = sniff_magic(payload)
    return docs.select(
        F.col("doc_id").cast("long"),
        sniffed["mime"].alias("magic_mime"),
        sniffed["category"].alias("magic_category"))


def _sql_magic_detect() -> str:
    from rag_document_parser_spark.functions.detect import MAGIC_SIGNATURES

    mime_case = " ".join(f"WHEN {i} THEN {_sq(m)}"
                         for i, (_, m, _) in enumerate(MAGIC_SIGNATURES))
    cat_case = " ".join(f"WHEN {i} THEN {_sq(c)}"
                        for i, (_, _, c) in enumerate(MAGIC_SIGNATURES))
    return f"""
SELECT doc_id::BIGINT AS doc_id,
  CASE ({_md5l('doc_id::VARCHAR')}) % 9 {mime_case} END AS magic_mime,
  CASE ({_md5l('doc_id::VARCHAR')}) % 9 {cat_case} END AS magic_category
FROM documents"""


SQL_MAGIC_DETECT = _sql_magic_detect()


def q_code_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 code-title heuristic + L4 truncation
    (/root/reference/parsers/text_parser.py:275-301,
     /root/reference/models/parse_result.py:146-154). Every third doc gets
    a synthetic leading comment so the title path is exercised."""
    docs = _docs(spark, sf_dir)
    t = F.when(F.pmod(F.col("doc_id"), 3) == 0,
               F.concat(F.lit("# "), F.col("source"), F.lit(" module\n"),
                        F.col("text"))).otherwise(F.col("text"))
    staged = docs.select("doc_id", t.alias("t"))
    return staged.select(
        "doc_id",
        X.code_title(F.col("t")).alias("code_title"),
        X.non_empty_line_count(F.col("t")).cast("long")
        .alias("non_empty_lines"),
        X.truncate_with_ellipsis(F.col("t"), 120).alias("preview"),
    )


_ST = f"regexp_replace({{x}}, {P_STRIP}, '', 'g')"
SQL_CODE_STATS = f"""
WITH c AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN '# ' || source || ' module' || chr(10) || text
         ELSE text END AS t
  FROM documents
), l AS (
  SELECT doc_id, t, list_slice(string_split(t, chr(10)), 1, 10) AS first10
  FROM c
)
SELECT doc_id,
  list_filter(list_transform(first10, ln ->
    CASE WHEN regexp_matches({_ST.format(x='ln')}, '^[#/\\-%][#/*\\-% ]*')
              OR starts_with({_ST.format(x='ln')}, '/*')
         THEN regexp_replace({_ST.format(x='ln')}, '^[#/*\\-% ]+', '')
    END), x -> x IS NOT NULL AND x <> '' AND length(x) < 100)[1] AS code_title,
  len(list_filter(string_split(t, chr(10)),
                  ln -> {_ST.format(x='ln')} <> ''))::BIGINT AS non_empty_lines,
  CASE WHEN length(t) > 120 THEN substr(t, 1, 120) || '...' ELSE t END AS preview
FROM l"""


def q_pdf_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16/E17 image enumeration: one row per media span in extraction
    output with parsed dimensions, the per-context OCR size gate, and
    the gated OCR text — the reference's ImageInfo list
    (/root/reference/parsers/pdf_parser.py:383-440, models
    ImageInfo: image_index/page_number/width/height/extracted_text)
    re-expressed as a DataFrame. image_index enumerates media spans
    within the doc in offset order (window bounded by spans-per-doc)."""
    from rag_document_parser_spark.semantics import RE_MEDIA_REF

    out = J.extract(spans_df_from_documents(spark, sf_dir), stable=True)
    sp = out.select("doc_id", F.explode("spans_clean").alias("s"))
    m = sp.where(F.col("s.kind").isin("media", "media_slide"))
    pat = RE_MEDIA_REF.strip("^$")
    w = F.regexp_extract(F.col("s.media_ref"), pat, 1).cast("long")
    h = F.regexp_extract(F.col("s.media_ref"), pat, 2).cast("long")
    gate = F.when(F.col("s.kind") == "media_slide",
                  (w > 50) & (h > 30)).otherwise((w > 100) & (h > 50))
    idx = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("s.offset"))) - 1
    return m.select(
        "doc_id", idx.cast("long").alias("image_index"),
        F.col("s.kind").alias("kind"), w.alias("width"), h.alias("height"),
        gate.cast("long").alias("ocr_gated"),
        F.col("s.text").alias("ocr_text"))


SQL_PDF_IMAGES = CTE_EXTRACTED + f"""
, g AS (
  SELECT doc_id, h, (h % 360 + 41)::INT AS w, (h % 280 + 21)::INT AS hh,
    sw[(h % 8 + 1)::INT] || '-' || sw[((h+3) % 8 + 1)::INT] AS slug
  FROM folded, (SELECT {SLUG_SQL} AS sw)
  WHERE pick >= 8
)
SELECT doc_id, 0::BIGINT AS image_index,
  CASE WHEN h % 2 = 0 THEN 'media' ELSE 'media_slide' END AS kind,
  w::BIGINT AS width, hh::BIGINT AS height,
  (CASE WHEN h % 2 = 1 THEN w > 50 AND hh > 30
        ELSE w > 100 AND hh > 50 END)::BIGINT AS ocr_gated,
  CASE WHEN (CASE WHEN h % 2 = 1 THEN w > 50 AND hh > 30
                  ELSE w > 100 AND hh > 50 END)
    THEN nullif(array_to_string(list_filter(string_split(slug, '-'),
         t -> ('0x'||substr(md5(slug||':'||t),1,8))::BIGINT / 4294967296.0
              >= {DEFAULT_CONFIG.ocr_confidence_threshold}), ' '), '')
  END AS ocr_text
FROM g"""


def q_content_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A10 content-structure totals over extraction output: table and
    media span counts plus the count of docs whose media spans produced
    OCR text (/root/reference/example_usage_reporting.py shapes)."""
    from rag_document_parser_spark.reporting import content_structure_totals

    out = J.extract(spans_df_from_documents(spark, sf_dir), stable=True)
    t = content_structure_totals(out)
    return t.select(F.col("total_tables").cast("long"),
                    F.col("total_media").cast("long"),
                    F.col("docs_with_ocr_text").cast("long"))


# recompute the inter-route media/table/ocr facts from the corpus CTE's
# `folded` stage (the unioned `extracted` view flattens them into content)
SQL_CONTENT_STRUCTURE = CTE_EXTRACTED + f"""
, g AS (
  SELECT doc_id, h, (h % 360 + 41)::INT AS w, (h % 280 + 21)::INT AS hh,
    sw[(h % 8 + 1)::INT] || '-' || sw[((h+3) % 8 + 1)::INT] AS slug
  FROM folded, (SELECT {SLUG_SQL} AS sw)
  WHERE pick >= 8
), o AS (
  SELECT doc_id,
    CASE WHEN (CASE WHEN h % 2 = 1 THEN w > 50 AND hh > 30
                    ELSE w > 100 AND hh > 50 END)
      THEN nullif(array_to_string(list_filter(string_split(slug, '-'),
           t -> ('0x'||substr(md5(slug||':'||t),1,8))::BIGINT / 4294967296.0
                >= {DEFAULT_CONFIG.ocr_confidence_threshold}), ' '), '')
    END AS ocr
  FROM g
)
SELECT count(*)::BIGINT AS total_tables, count(*)::BIGINT AS total_media,
       count(ocr)::BIGINT AS docs_with_ocr_text
FROM o"""


def q_arabic_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25 opt-in Arabic normalizer: tashkeel/tatweel strip, alef/ya/ha
    unification, over text decorated with diacritic-heavy tokens."""
    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    decor = (F.when(F.pmod(h, 3) == 0, F.lit("مُحَمَّدٌ أَهْلاً "))
             .when(F.pmod(h, 3) == 1, F.lit("الإِسْـلامُ مَدْرَسَةٌ "))
             .otherwise(F.lit("")))
    t = F.concat(decor, F.col("text"))
    staged = docs.select("doc_id", t.alias("t"))
    norm = X.arabic_normalize(F.col("t"))
    return staged.select(
        F.col("doc_id").cast("long"),
        F.substring(norm, 1, 40).alias("norm_prefix"),
        X.arabic_char_count(F.col("t")).cast("long").alias("arabic_before"),
        X.arabic_char_count(norm).cast("long").alias("arabic_after"))


def _sql_arabic_normalized() -> str:
    norm = "t"
    norm = f"regexp_replace({norm}, {_sq(S.RE_TASHKEEL)}, '', 'g')"
    norm = f"replace({norm}, {_sq(S.TATWEEL)}, '')"
    norm = f"regexp_replace({norm}, {_sq(S.ALEF_VARIANTS)}, 'ا', 'g')"
    norm = f"replace(replace({norm}, 'ى', 'ي'), 'ة', 'ه')"
    ara = ("(length({x}) - length(regexp_replace({x}, '[" + S.ARABIC_RANGE
           + "]', '', 'g')))")
    return f"""
WITH m AS (
  SELECT doc_id, text, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), d AS (
  SELECT doc_id,
    (CASE h % 3 WHEN 0 THEN 'مُحَمَّدٌ أَهْلاً '
                WHEN 1 THEN 'الإِسْـلامُ مَدْرَسَةٌ '
                ELSE '' END) || text AS t
  FROM m
)
SELECT doc_id::BIGINT AS doc_id,
  substr({norm}, 1, 40) AS norm_prefix,
  {ara.format(x='t')}::BIGINT AS arabic_before,
  {ara.format(x=norm)}::BIGINT AS arabic_after
FROM d"""


SQL_ARABIC_NORMALIZED = _sql_arabic_normalized()


# header/cell literals carry tashkeel, tatweel, alef variants and
# teh-marbuta so the E20 normalization is observable in every row
_AR_HDR = "الإِسْمُ\tالقِيْـمَةُ"
_AR_CELLS = ["القِرَاءَةُ", "أَهْلاً وَسَهْـلاً", "مَكْتَبَةٌ ى"]


def q_arabic_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20 Arabic table-cell processing (opt-in ``arabic_tables``):
    table payloads with diacritic-heavy Arabic headers/cells rendered by
    BOTH accept rules — strict E14 ``table`` spans (header-only rows
    drop → NULL) and lax E30 ``table_slide`` spans (header-only renders)
    — with the normalizer applied per cell, per
    the reference's parsers/document_parser.py:551-556. Each doc carries
    one span of each kind through the extraction kernel."""
    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    cell = (F.when(F.pmod(h, 3) == 0, F.lit(_AR_CELLS[0]))
            .when(F.pmod(h, 3) == 1, F.lit(_AR_CELLS[1]))
            .otherwise(F.lit(_AR_CELLS[2])))
    full = F.concat(F.lit(_AR_HDR + "\n"), cell, F.lit("\t"),
                    F.col("n_chars").cast("string"))
    t = F.when(F.pmod(h, 4) == 0, F.lit(_AR_HDR)).otherwise(full)

    def span(kind: str, offset: int):
        return F.struct(F.lit(kind).alias("kind"), t.alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        F.lit(offset).alias("offset"))

    def rendered(kind: str):
        kept = F.filter("spans_clean", lambda s: s["kind"] == kind)
        return F.try_element_at(kept, F.lit(1))["text"]

    staged = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                         F.array(span("table", 0),
                                 span("table_slide", 1)).alias("spans"))
    out = J.extract(staged, ExtractConfig(arabic_tables=True), stable=True)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      rendered("table").alias("pdf_render"),
                      rendered("table_slide").alias("slide_render"))


def _sql_arabic_tables() -> str:
    norm = "t"
    norm = f"regexp_replace({norm}, {_sq(S.RE_TASHKEEL)}, '', 'g')"
    norm = f"replace({norm}, {_sq(S.TATWEEL)}, '')"
    norm = f"regexp_replace({norm}, {_sq(S.ALEF_VARIANTS)}, 'ا', 'g')"
    norm = f"replace(replace({norm}, 'ى', 'ي'), 'ة', 'ه')"
    hdr = _sq(_AR_HDR)  # literal carries the tab separator verbatim
    cells = [_sq(c) for c in _AR_CELLS]
    return f"""
WITH m AS (
  SELECT doc_id, n_chars, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), p AS (
  SELECT doc_id,
    CASE WHEN h % 4 = 0 THEN {hdr}
    ELSE {hdr} || chr(10) ||
      (CASE h % 3 WHEN 0 THEN {cells[0]} WHEN 1 THEN {cells[1]}
       ELSE {cells[2]} END) || chr(9) || n_chars::VARCHAR
    END AS t
  FROM m
), n AS (SELECT doc_id, {norm} AS t FROM p),
r AS (
  SELECT doc_id,
    list_transform(string_split(t, chr(10)),
      x -> array_to_string(list_slice(string_split(x, chr(9)), 1, 100),
                           ' | ')) AS piped
  FROM n
), g AS (
  SELECT doc_id, piped[1] AS head, len(piped) AS n_rows,
    array_to_string(piped[2:10001], chr(10)) AS rest
  FROM r
)
SELECT doc_id,
  CASE WHEN n_rows >= 2
    THEN head || chr(10) || repeat('-', length(head)) || chr(10) || rest
  END AS pdf_render,
  CASE WHEN n_rows >= 2
    THEN head || chr(10) || repeat('-', length(head)) || chr(10) || rest
    ELSE head || chr(10) || repeat('-', length(head))
  END AS slide_render
FROM g"""


SQL_ARABIC_TABLES = _sql_arabic_tables()


def q_sheet_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 spreadsheet structure: delimiter sniff + dims + non-blank cell
    count + header heuristic over synthesized csv-ish payloads (delimiter
    varies by doc hash; ~25% headerless so has_header goes both ways)."""
    from rag_document_parser_spark.operators.sheets import sheet_structure

    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    d = (F.when(F.pmod(h, 3) == 0, F.lit(","))
         .when(F.pmod(h, 3) == 1, F.lit(";"))
         .otherwise(F.lit("\t")))
    nc = F.col("n_chars").cast("string")
    header = F.concat_ws("", F.lit("name"), d, F.lit("value"), d, F.lit("note"))
    r1 = F.concat_ws("", F.col("source"), d, nc, d, F.lit("x1"))
    r2 = F.concat_ws("", F.col("source"), d, (F.col("n_chars") + 1).cast("string"), d)
    body = F.concat_ws("\n", r1, r2)
    payload = F.when(F.pmod(h, 4) == 0, body) \
               .otherwise(F.concat_ws("\n", header, body))
    staged = docs.select("doc_id", payload.alias("payload"))
    out = sheet_structure(staged)
    return out.select(
        F.col("doc_id").cast("long"),
        F.col("estimated_rows").cast("long"),
        F.col("n_columns").cast("long"),
        # portable rendering of the sniffed delimiter for the value hash
        F.when(F.col("delimiter") == "\t", F.lit("TAB"))
        .otherwise(F.col("delimiter")).alias("delimiter"),
        "has_header",
        F.col("cells_with_data").cast("long"))


def _sql_sheet_structure() -> str:
    from rag_document_parser_spark.operators.sheets import (
        DELIM_CANDIDATES, RE_NUMERIC)

    def cnt(expr, d_sql):
        return f"(length({expr}) - length(replace({expr}, {d_sql}, '')))"

    cand_structs = ", ".join(
        "{'key': CASE WHEN " + cnt("fl", _sq(d) if d != "\t" else "chr(9)")
        + " > 0 THEN len(list_filter(lines, l -> "
        + cnt("l", _sq(d) if d != "\t" else "chr(9)") + " = "
        + cnt("fl", _sq(d) if d != "\t" else "chr(9)")
        + f")) * 16 + {15 - i} ELSE -1 END, "
        + "'delim': " + (_sq(d) if d != "\t" else "chr(9)") + ", "
        + "'c0': " + cnt("fl", _sq(d) if d != "\t" else "chr(9)") + "}"
        for i, d in enumerate(DELIM_CANDIDATES))
    ncells = (f"len(list_filter(string_split({{x}}, bd), "
              f"c -> regexp_matches(trim(c), {_sq(RE_NUMERIC)})))")
    return f"""
WITH m AS (
  SELECT doc_id, source, n_chars, {_md5l('doc_id::VARCHAR')} AS h
  FROM documents
), syn AS (
  SELECT doc_id, h,
    CASE h % 3 WHEN 0 THEN ',' WHEN 1 THEN ';' ELSE chr(9) END AS d,
    source, n_chars
  FROM m
), p AS (
  SELECT doc_id, h,
    (CASE WHEN h % 4 = 0 THEN '' ELSE 'name'||d||'value'||d||'note'||chr(10) END)
    || source||d||n_chars::VARCHAR||d||'x1' || chr(10)
    || source||d||(n_chars+1)::VARCHAR||d AS payload
  FROM syn
), l AS (
  SELECT doc_id, list_slice(string_split(payload, chr(10)), 1, 11) AS lines
  FROM p
), c AS (
  SELECT doc_id, lines, lines[1] AS fl FROM l
), sniffed AS (
  SELECT doc_id, lines, fl, list_max([{cand_structs}]) AS best FROM c
), chosen AS (
  SELECT doc_id, lines, fl,
    CASE WHEN best.key >= 0 THEN best.delim END AS delim,
    CASE WHEN best.key >= 0 THEN best.c0 + 1 ELSE 1 END AS n_columns,
    coalesce(CASE WHEN best.key >= 0 THEN best.delim END, chr(0)) AS bd
  FROM sniffed
)
SELECT doc_id::BIGINT AS doc_id,
  len(lines)::BIGINT AS estimated_rows,
  n_columns::BIGINT AS n_columns,
  CASE WHEN delim = chr(9) THEN 'TAB' ELSE delim END AS delimiter,
  (len(lines) > 1 AND {ncells.format(x='fl')} = 0
   AND coalesce({ncells.format(x='lines[2]')}, 0) > 0) AS has_header,
  list_sum(list_transform(lines, l ->
    len(list_filter(string_split(l, bd), c -> trim(c) <> ''))))::BIGINT
    AS cells_with_data
FROM chosen"""


SQL_SHEET_STRUCTURE = _sql_sheet_structure()


def q_doc_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13/E44 metadata tier: DocumentMetadata-shaped projection with the
    multi-format date parser (pdf D:-dates incl. timezone suffixes, EXIF
    DateTimeOriginal, ISO forms, unparseable -> NULL). Raw metadata is
    synthesized deterministically per doc_id, covering all 6 format legs."""
    from rag_document_parser_spark.functions import metadata as MD

    docs = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    mo = F.lpad((F.pmod(h, 12) + 1).cast("string"), 2, "0")
    dy = F.lpad((F.pmod(h, 28) + 1).cast("string"), 2, "0")
    tz = F.when(F.pmod(h, 2) == 0, F.lit("+05'00'")).otherwise(F.lit(""))
    pick = F.pmod(h, 6)
    raw = (
        F.when(pick == 0, F.concat(F.lit("D:2024"), mo, dy,
                                   F.lit("123059"), tz))
        .when(pick == 1, F.concat(F.lit("2024"), mo, dy))
        .when(pick == 2, F.concat(F.lit("2024-"), mo, F.lit("-"), dy,
                                  F.lit(" 08:30:00")))
        .when(pick == 3, F.concat(F.lit("2024:"), mo, F.lit(":"), dy,
                                  F.lit(" 10:20:30")))
        .when(pick == 4, F.concat(F.lit("2024-"), mo, F.lit("-"), dy))
        .otherwise(F.lit("not-a-date")))
    meta = docs.select(
        "doc_id",
        F.concat(F.lit("author-"), F.pmod(h, 7).cast("string")).alias("author"),
        F.when(F.pmod(h, 3) == 0,
               F.concat(F.lit("CamCo Model-"), F.pmod(h, 9).cast("string"))
               ).alias("creator"),
        raw.alias("raw_date"))
    return MD.doc_metadata(meta).select(
        F.col("doc_id").cast("long"), "author", "creator", "created")


def _sql_doc_metadata() -> str:
    from rag_document_parser_spark.functions.metadata import (
        DATE_FORMATS, RE_TZ_SUFFIX)

    tries = ", ".join(f"try_strptime(s, {_sq(duck)})"
                      for _, duck in DATE_FORMATS)
    return f"""
WITH m AS (
  SELECT doc_id, {_md5l('doc_id::VARCHAR')} AS h FROM documents
), syn AS (
  SELECT doc_id, h,
    lpad(((h % 12) + 1)::VARCHAR, 2, '0') AS mo,
    lpad(((h % 28) + 1)::VARCHAR, 2, '0') AS dy
  FROM m
), raw AS (
  SELECT doc_id, h,
    CASE h % 6
      WHEN 0 THEN 'D:2024'||mo||dy||'123059'
                  || (CASE WHEN h % 2 = 0 THEN '+05''00''' ELSE '' END)
      WHEN 1 THEN '2024'||mo||dy
      WHEN 2 THEN '2024-'||mo||'-'||dy||' 08:30:00'
      WHEN 3 THEN '2024:'||mo||':'||dy||' 10:20:30'
      WHEN 4 THEN '2024-'||mo||'-'||dy
      ELSE 'not-a-date' END AS raw_date
  FROM syn
), parsed AS (
  SELECT doc_id, h,
    regexp_replace(regexp_replace(trim(raw_date), '^D:', ''),
                   {_sq(RE_TZ_SUFFIX)}, '') AS s
  FROM raw
)
SELECT doc_id::BIGINT AS doc_id,
  'author-'||(h % 7)::VARCHAR AS author,
  CASE WHEN h % 3 = 0 THEN 'CamCo Model-'||(h % 9)::VARCHAR END AS creator,
  strftime(coalesce({tries}), '%Y-%m-%d %H:%M:%S') AS created
FROM parsed"""


SQL_DOC_METADATA = _sql_doc_metadata()


def q_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight bucket-skew diagnostic (reporting.bucket_skew_report):
    per-md5-bucket doc count + byte mass + skew ratio against a
    perfectly even spread — what an operator checks before trusting
    the salted partitioning with 100 TB."""
    from rag_document_parser_spark.reporting import bucket_skew_report

    return bucket_skew_report(_docs(spark, sf_dir), n_buckets=64).select(
        F.col("bucket").cast("long"), F.col("n_docs").cast("long"),
        "weight_total", "skew_e6")


SQL_BUCKET_SKEW = f"""
WITH per AS (
  SELECT {_md5l('doc_id::VARCHAR')} % 64 AS bucket,
         count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS weight_total
  FROM documents GROUP BY 1
), tot AS (SELECT sum(weight_total)::BIGINT AS t FROM per)
SELECT bucket::BIGINT AS bucket, n_docs, weight_total,
       (weight_total * 64 * 1000000 // t)::BIGINT AS skew_e6
FROM per, tot"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al.
    2007, deterministic smallest-label tie-break, 2 rounds) over a
    synthesized 4-block graph — edges never cross blocks, so blocks
    are the ground-truth communities."""
    from rag_document_parser_spark.operators.graph import (
        label_propagation)

    docs = _docs(spark, sf_dir).select("doc_id")
    u = F.col("doc_id") % 40
    edges = docs.select(
        u.alias("src"),
        (u - u % 10 + (u % 10 + F.col("doc_id") % 3 + 1) % 10)
        .alias("dst"))
    out = label_propagation(edges, iters=2)
    return out.select(F.col("node").cast("long"), "community")


def _sql_lpa_round(n: int, prev: str) -> str:
    return f"""
nb{n} AS (
  SELECT a.u, l.c AS lbl, count(*)::BIGINT AS cnt
  FROM adj a JOIN {prev} l ON l.node = a.v
  GROUP BY a.u, l.c
), b{n} AS (
  SELECT u, lbl FROM (
    SELECT u, lbl, row_number() OVER (PARTITION BY u
      ORDER BY cnt DESC, lbl ASC) AS rk
    FROM nb{n}) z
  WHERE rk = 1
), l{n} AS (
  SELECT nn.node, b{n}.lbl::BIGINT AS c
  FROM nn JOIN b{n} ON b{n}.u = nn.node
)"""


SQL_LABEL_PROPAGATION = f"""
WITH e0 AS (
  SELECT doc_id % 40 AS src,
    (doc_id % 40) - (doc_id % 40) % 10
      + ((doc_id % 40) % 10 + doc_id % 3 + 1) % 10 AS dst
  FROM documents
), adj AS (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM e0
    UNION ALL SELECT dst AS u, src AS v FROM e0) z
), nn AS (
  SELECT DISTINCT u AS node FROM adj
), l0 AS (
  SELECT node, node::BIGINT AS c FROM nn
),
{_sql_lpa_round(1, 'l0')},
{_sql_lpa_round(2, 'l1')}
SELECT node::BIGINT AS node, c AS community FROM l2"""


# ---------------------------------------------------------------------------
# the driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction job (Arrow kernel, chunking) on sf0.001."""
    return q_extract_content_arrow(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# end-to-end corpus curation (plans.curate): extract -> quality -> PII ->
# boilerplate -> exact dedup -> near-dup clusters, one oracle for the chain
# ---------------------------------------------------------------------------

# exact-dup pool: whole-content override so each pool entry forms one
# duplicate group; two paragraphs each so the distinct-content-hash rule
# is exercised (a group's own body paragraphs must NOT become boilerplate)
_CUR_SHARED = (
    "the annual report covers revenue growth across all major regions\n\n"
    "management expects stable margins for the coming fiscal year",
    "community guidelines require respectful conduct in every discussion "
    "thread\n\nmoderators review flagged posts within two business days",
    "the quick start guide walks new users through installation and "
    "setup\n\nrefer to the troubleshooting section for common errors",
)

# near-dup base: one ~31-word paragraph; docs differ only in a trailing
# token, so shingle Jaccard ~0.83 and LSH banding (k=16, bands=4) finds
# most pairs — and the oracle REPLICATES the banding, so even missed
# pairs agree exactly
_CUR_NEAR = (
    "distributed query engines schedule work across many machines by "
    "splitting each stage into tasks that read shuffle partitions and "
    "spill to disk when memory runs short while the optimizer prunes "
    "columns")


def _curate_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized curation corpus where every drop reason occurs: cls =
    h%20 routes each doc to extract-error (0), quality-fail (1),
    banner-only->empty (2), exact-dup pool (3-4), near-dup family (5-6),
    or a normal doc (unique head + optional PII paragraph + pool
    banner). Every selector derives from the one md5 hash; all staged
    text is E8-stable (lowercase/ASCII, single spaces) so the extraction
    leg is exactly identity and the oracle can chain plain SQL."""
    d = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    did = F.lpad(F.col("doc_id").cast("string"), 8, "0")
    cls = F.pmod(h, 20)
    fr = F.trim(F.regexp_replace(F.regexp_replace(
        F.lower(F.substring("text", 1, 30)), "[^a-z ]", ""), " +", " "))
    head = F.concat(
        F.lit("u"), F.pmod(h, 100000).cast("string"),
        F.lit(" alpha beta gamma delta"),
        F.when(fr == "", F.lit("")).otherwise(F.concat(F.lit(" "), fr)))
    tld = (F.when(F.pmod(h, 3) == 0, F.lit("com"))
           .when(F.pmod(h, 3) == 1, F.lit("org")).otherwise(F.lit("net")))
    pii_para = F.concat(
        F.lit("ref"), F.pmod(h, 997).cast("string"),
        F.lit(" contact team"), F.pmod(h, 97).cast("string"),
        F.lit("@example."), tld,
        F.lit(" or call +1-555-"), (F.pmod(h, 900) + 100).cast("string"),
        F.lit("-"), (F.pmod(h, 9000) + 1000).cast("string"))
    banner = _case_pool(F.pmod(h, 5), _BP)
    t = (F.when(cls == 1, F.lit("tiny doc"))
         .when(cls == 2, banner)
         .when((cls == 3) | (cls == 4),
               _case_pool(F.pmod(h, 3), _CUR_SHARED))
         .when((cls == 5) | (cls == 6),
               F.concat(F.lit(_CUR_NEAR), F.lit(" tail"),
                        F.pmod(F.pmod(h, 997), 40).cast("string")))
         .otherwise(F.concat(
             head,
             F.when(F.pmod(h, 4) == 0,
                    F.concat(F.lit("\n\n"), pii_para)).otherwise(F.lit("")),
             F.lit("\n\n"), banner)))
    spans = F.when(cls == 0, F.array(F.struct(
        F.lit("martian").alias("kind"), F.lit("zzz").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"))),
    ).otherwise(F.transform(
        F.split(t, "\n\n"),
        lambda p, i: F.struct(
            F.lit("text").alias("kind"), p.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"))))
    return d.select(did.alias("doc_id"), spans.alias("spans"))


def _curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rag_document_parser_spark.plans.curate import curate

    return curate(_curate_staged(spark, sf_dir),
                  ExtractConfig(unknown_kinds="error"),
                  lsh_k=_K, lsh_bands=_BANDS)


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc verdicts of the full curation chain (see _curate_staged)."""
    out = _curated(spark, sf_dir)
    return out.select("doc_id", "kept", "reason",
                      F.col("n_pii").cast("long").alias("n_pii"), "content")


def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-outcome audit over the same chain (A1-shaped)."""
    from rag_document_parser_spark.plans.curate import curation_report

    rep = curation_report(_curated(spark, sf_dir))
    return rep.select("outcome", F.col("n_docs").cast("long"),
                      F.col("n_pii").cast("long"))


def _sql_curate_corpus() -> str:
    from rag_document_parser_spark.operators.pii import PII_RULES

    bp = _sql_case_pool("h % 5", _BP)
    shared = _sql_case_pool("h % 3", _CUR_SHARED)
    toks = TOKS_SQL.format(c="t")

    # PII chain (mirrors _sql_pii_redact, but parameterized over live0;
    # stage CTEs p1..p4 to avoid the minhash CTE names s/s2)
    stages, src, counts = [], "live0", []
    for i, (name, pat, repl) in enumerate(PII_RULES, start=1):
        p = _sq(pat)
        stages.append(
            f"p{i} AS (SELECT did, {', '.join(counts)}"
            f"{', ' if counts else ''}"
            f"len(regexp_extract_all(t, {p}))::BIGINT AS n_{name}, "
            f"regexp_replace(t, {p}, {_sq(repl)}, 'g') AS t FROM {src})")
        counts.append(f"n_{name}")
        src = f"p{i}"
    n_pii = " + ".join(counts)

    sig_body = _sql_minhash_sig_cte(
        "(SELECT did AS doc_id, t AS text FROM surv)").strip()
    assert sig_body.startswith("WITH ")
    sig_body = sig_body[len("WITH "):]

    return f"""
WITH RECURSIVE m AS (
  SELECT lpad(doc_id::VARCHAR, 8, '0') AS did,
         {_md5l('doc_id::VARCHAR')} AS h, text
  FROM documents
), c AS (
  SELECT did, h, h % 20 AS cls, (h % 20 = 0) AS is_err,
    CASE h % 20
      WHEN 1 THEN 'tiny doc'
      WHEN 2 THEN {bp}
      WHEN 3 THEN {shared} WHEN 4 THEN {shared}
      WHEN 5 THEN {_sq(_CUR_NEAR)} || ' tail' || ((h % 997) % 40)::VARCHAR
      WHEN 6 THEN {_sq(_CUR_NEAR)} || ' tail' || ((h % 997) % 40)::VARCHAR
      ELSE 'u' || (h % 100000)::VARCHAR || ' alpha beta gamma delta' ||
        (CASE WHEN fr = '' THEN '' ELSE ' ' || fr END) ||
        (CASE WHEN h % 4 = 0 THEN {NL2} ||
          'ref' || (h % 997)::VARCHAR || ' contact team' ||
          (h % 97)::VARCHAR || '@example.' ||
          (CASE h % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END) ||
          ' or call +1-555-' || (h % 900 + 100)::VARCHAR || '-' ||
          (h % 9000 + 1000)::VARCHAR
         ELSE '' END) || {NL2} || {bp}
    END AS t
  FROM (SELECT did, h, trim(regexp_replace(regexp_replace(
          lower(substring(text, 1, 30)), '[^a-z ]', '', 'g'),
          ' +', ' ', 'g')) AS fr FROM m)
), q AS (
  SELECT did, is_err, t, (NOT is_err) AND len({toks}) BETWEEN 5 AND 100000
    AND (CASE WHEN length(t) > 0 THEN
          length(regexp_replace(t, '[^A-Za-z؀-ۿ ]', '', 'g')) / length(t)
         ELSE 0.0 END) >= 0.1 AS qpass
  FROM c
), live0 AS (
  SELECT did, t FROM q WHERE qpass
), {', '.join(stages)}
, piid AS (
  SELECT did, ({n_pii})::BIGINT AS n_pii, t FROM {src}
), chx AS (
  SELECT did, n_pii, md5(t) AS chash, t FROM piid
), uqx AS (
  SELECT chash, string_split(min(t), {NL2}) AS ps FROM chx GROUP BY chash
), exx AS (
  SELECT chash, unnest(ps) AS para FROM uqx
), blx AS (
  SELECT para FROM exx WHERE length(para) >= 1
  GROUP BY para HAVING count(DISTINCT chash) >= 2
), bllx AS (SELECT coalesce(list(para), []) AS l FROM blx
), live1 AS (
  SELECT chx.did, chx.n_pii,
    coalesce(array_to_string(
      list_filter(uqx.ps, x -> NOT list_contains(bllx.l, x)), {NL2}),
      '') AS t
  FROM chx JOIN uqx USING (chash), bllx
), body AS (
  SELECT did, t FROM live1 WHERE length(t) > 0
), grp AS (
  SELECT md5(t) AS bh, min(did) AS keeper FROM body
  GROUP BY md5(t) HAVING count(*) >= 2
), xdrop AS (
  SELECT body.did FROM body JOIN grp ON md5(body.t) = grp.bh
  WHERE body.did <> grp.keeper
), surv AS (
  SELECT did, t FROM body WHERE did NOT IN (SELECT did FROM xdrop)
), {sig_body}
, banded AS (
  SELECT id, unnest(list_transform(range({_BANDS}),
    bi -> bi::VARCHAR || '|' ||
          array_to_string(list_slice(sigl, bi*{_R}+1, bi*{_R}+{_R}), ','))) AS bk
  FROM sigs
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.bk = b.bk AND a.id < b.id
), prs AS (
  -- verify LSH candidates at exact 3-shingle Jaccard >= 0.8 (the `s`
  -- CTE from the minhash block already holds each doc's distinct
  -- shingle set)
  SELECT id_a, id_b FROM cand
  JOIN s sa ON cand.id_a = sa.id JOIN s sb ON cand.id_b = sb.id
  WHERE len(list_intersect(sa.sh, sb.sh)) >=
        0.8 * len(list_distinct(list_concat(sa.sh, sb.sh)))
), e AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION SELECT id_b, id_a FROM prs
), reach AS (
  SELECT a AS id, a AS r FROM e
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
), clus AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
), ndrop AS (
  SELECT id AS did FROM clus WHERE id <> cluster_id
)
SELECT q.did AS doc_id,
  (reason IS NULL) AS kept, reason,
  coalesce(piid.n_pii, 0)::BIGINT AS n_pii,
  CASE WHEN reason IS NULL THEN live1.t END AS content
FROM (
  SELECT q.did,
    CASE WHEN q.is_err THEN 'extract'
         WHEN NOT q.qpass THEN 'quality'
         WHEN length(live1.t) = 0 THEN 'empty'
         WHEN xdrop.did IS NOT NULL THEN 'exact_dup'
         WHEN ndrop.did IS NOT NULL THEN 'near_dup'
    END AS reason
  FROM q
  LEFT JOIN live1 ON q.did = live1.did
  LEFT JOIN xdrop ON q.did = xdrop.did
  LEFT JOIN ndrop ON q.did = ndrop.did
) r
JOIN q ON r.did = q.did
LEFT JOIN piid ON q.did = piid.did
LEFT JOIN live1 ON q.did = live1.did"""


SQL_CURATE_CORPUS = _sql_curate_corpus()

SQL_CURATION_REPORT = (
    "SELECT coalesce(reason, 'kept') AS outcome, "
    "count(*)::BIGINT AS n_docs, sum(n_pii)::BIGINT AS n_pii "
    f"FROM ({SQL_CURATE_CORPUS}) GROUP BY 1")


# ---------------------------------------------------------------------------
# corpus keyword / distribution tier (operators/keywords.py,
# textstats.length_quantiles, multimodal.media_dedup)
# ---------------------------------------------------------------------------


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per doc (linear idf, BIGINT-exact score;
    hot/cold-split df join so stopword posting lists never funnel)."""
    return KW.tfidf_keywords(_docs(spark, sf_dir), top_k=5, min_df=2)


_KWTOKS = TOKS_SQL.format(c="text")
SQL_TFIDF = f"""
WITH toks AS (SELECT doc_id, {_KWTOKS} AS t FROM documents),
flat AS (SELECT doc_id, len(t) AS n_toks, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, max(n_toks) AS n_toks, count(*) AS tf
       FROM flat GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term
        HAVING count(*) >= 2),
tot AS (SELECT count(*) AS n_docs FROM documents),
j AS (SELECT f.doc_id, f.term, f.tf, d.df_t,
        f.tf::HUGEINT * t.n_docs * 1000000
          // (d.df_t::HUGEINT * f.n_toks) AS score_e6
      FROM tf f JOIN dfq d USING (term) CROSS JOIN tot t),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY score_e6 DESC, term) AS krank FROM j)
SELECT doc_id, term, tf::BIGINT AS tf, df_t::BIGINT AS df_t,
       score_e6::BIGINT AS score_e6, krank::BIGINT AS krank
FROM r WHERE krank <= 5"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus unigrams + cumulative token coverage (ppm)."""
    return KW.vocab_coverage(_docs(spark, sf_dir), top_n=50)


SQL_VOCAB_COVERAGE = f"""
WITH flat AS (SELECT unnest({_KWTOKS}) AS term FROM documents),
counts AS (SELECT term, count(*) AS cnt FROM flat GROUP BY term),
tot AS (SELECT sum(cnt) AS total FROM counts),
top AS (SELECT term, cnt FROM counts ORDER BY cnt DESC, term LIMIT 50)
SELECT row_number() OVER (ORDER BY cnt DESC, term)::BIGINT AS vrank,
  term, cnt::BIGINT AS cnt,
  (sum(cnt) OVER (ORDER BY cnt DESC, term
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::HUGEINT
   * 1000000 // t.total)::BIGINT AS cum_ppm
FROM top CROSS JOIN tot t"""


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact length quantiles over a compacted
    (group, len, count) distribution — no corpus-wide sort."""
    return T.length_quantiles(_docs(spark, sf_dir), group_col="lang")


SQL_LENGTH_QUANTILES = """
WITH lens AS (SELECT lang AS grp, length(text)::BIGINT AS len
              FROM documents),
compact AS (SELECT grp, len, count(*) AS cnt FROM lens GROUP BY grp, len),
cum AS (SELECT grp, len, sum(cnt) OVER (PARTITION BY grp ORDER BY len
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM compact),
tot AS (SELECT grp, max(cum) AS n_docs, min(len) AS min_len,
               max(len) AS max_len FROM cum GROUP BY grp)
SELECT c.grp, max(t.n_docs)::BIGINT AS n_docs,
  max(t.min_len)::BIGINT AS min_len, max(t.max_len)::BIGINT AS max_len,
  min(CASE WHEN c.cum >= (25 * t.n_docs + 99) // 100 THEN c.len END)::BIGINT
    AS p25,
  min(CASE WHEN c.cum >= (50 * t.n_docs + 99) // 100 THEN c.len END)::BIGINT
    AS p50,
  min(CASE WHEN c.cum >= (75 * t.n_docs + 99) // 100 THEN c.len END)::BIGINT
    AS p75,
  min(CASE WHEN c.cum >= (90 * t.n_docs + 99) // 100 THEN c.len END)::BIGINT
    AS p90
FROM cum c JOIN tot t USING (grp) GROUP BY c.grp"""


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by PMI (log-free monotone ratio,
    identical double op order in both engines)."""
    return KW.pmi_bigrams(_docs(spark, sf_dir), min_count=5, top_n=50)


SQL_PMI_BIGRAMS = f"""
WITH toks AS (SELECT doc_id, {_KWTOKS} AS t FROM documents),
uni AS (SELECT unnest(t) AS term FROM toks),
ucnt AS (SELECT term, count(*) AS c FROM uni GROUP BY term),
nu AS (SELECT sum(c) AS n_uni FROM ucnt),
bgt AS (SELECT unnest(list_transform(range(greatest(len(t) - 1, 0)),
          i -> t[i + 1] || ' ' || t[i + 2])) AS bg FROM toks),
bcnt AS (SELECT bg, count(*) AS c_ab FROM bgt GROUP BY bg
         HAVING count(*) >= 5),
parts AS (SELECT c_ab, string_split(bg, ' ')[1] AS w1,
                 string_split(bg, ' ')[2] AS w2 FROM bcnt),
j AS (SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
        floor((c_ab::DOUBLE * 1000000 * n.n_uni)
              / (a.c::DOUBLE * b.c))::BIGINT AS score_e6
      FROM parts JOIN ucnt a ON a.term = w1
                 JOIN ucnt b ON b.term = w2 CROSS JOIN nu n),
top AS (SELECT * FROM j ORDER BY score_e6 DESC, w1, w2 LIMIT 50)
SELECT w1, w2, c_ab::BIGINT AS c_ab, c_a::BIGINT AS c_a,
  c_b::BIGINT AS c_b, score_e6,
  row_number() OVER (ORDER BY score_e6 DESC, w1, w2)::BIGINT AS prank
FROM top"""


def q_classify_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-profile classifier: train fixed-point per-lang token
    profiles on a 25% hash sample, label every document."""
    from rag_document_parser_spark.operators.classify import (
        classify, train_class_profiles)
    docs = _docs(spark, sf_dir)
    model = train_class_profiles(
        SAM.hash_sample(docs, 0.25, salt="cls1"),
        label_col="lang", min_count=2)
    return classify(docs, model)


SQL_CLASSIFY_LANG = f"""
WITH samp AS (SELECT lang AS label, text FROM documents
              WHERE substr(md5(doc_id::VARCHAR || 'cls1'), 1, 8)
                    < '40000000'),
st AS (SELECT label, {TOKS_SQL.format(c='text')} AS t FROM samp),
flat AS (SELECT label, unnest(t) AS term FROM st),
per AS (SELECT label, term, count(*) AS tc FROM flat
        GROUP BY label, term HAVING count(*) >= 2),
mass AS (SELECT label, count(*) AS lc FROM flat GROUP BY label),
model AS (SELECT * FROM (
            SELECT p.label, p.term, p.tc * 1000000 // m.lc AS freq_e
            FROM per p JOIN mass m USING (label))
          WHERE freq_e > 0),
tt AS (SELECT term, sum(freq_e) AS tot FROM model GROUP BY term),
shares AS (SELECT mo.label, mo.term,
             mo.freq_e * 1000000 // t.tot AS share_e
           FROM model mo JOIN tt t USING (term)),
dt AS (SELECT doc_id, {_KWTOKS} AS t FROM documents),
ex AS (SELECT doc_id, len(t) AS n, unnest(t) AS term FROM dt),
hits AS (SELECT e.doc_id, e.n, sh.label, sh.share_e
         FROM ex e JOIN shares sh USING (term)),
pl AS (SELECT doc_id, label, max(n) AS n, sum(share_e) AS s
       FROM hits GROUP BY doc_id, label),
best AS (SELECT doc_id, label, n, s, row_number() OVER (
           PARTITION BY doc_id ORDER BY s DESC, label) AS r FROM pl)
SELECT d.doc_id, b.label AS label_pred,
  coalesce(b.n, len({_KWTOKS}))::BIGINT AS n_tokens,
  coalesce(CASE WHEN b.n > 0 THEN b.s // b.n ELSE 0 END, 0)::BIGINT
    AS score_e6
FROM documents d LEFT JOIN (SELECT * FROM best WHERE r = 1) b
  USING (doc_id)"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over planted messy URLs (mixed-case hosts,
    default ports, tracking params, fragments, trailing slashes)."""
    d = _docs(spark, sf_dir)
    h = _hcol(F.col("doc_id"))
    t = F.concat(
        F.substring("text", 1, 20),
        F.lit(" https://EX"), F.pmod(h, 5).cast("string"),
        F.lit(".Org:443/P"), F.pmod(h, 9).cast("string"),
        F.lit("/?utm_source=x&id="), F.pmod(h, 100).cast("string"),
        F.lit("&gclid=abc#sec"),
        F.lit(" and http://Foo.example:80/a"), F.pmod(h, 3).cast("string"),
        F.lit("/b/"))
    return U.canonicalize_urls(d.select("doc_id", t.alias("t")),
                               text_col="t")


def _sql_url_canonical() -> str:
    sh = (f"lower(regexp_extract(url, {_sq(U._SCHEME_HOST)}, 1))")
    rest = f"regexp_replace(url, {_sq(U._SCHEME_HOST)}, '', 'g')"
    rest = f"regexp_replace({rest}, '^:(80|443)/', '/', 'g')"
    rest = f"regexp_replace({rest}, '^:(80|443)$', '', 'g')"
    for pat, repl in U.URL_CANON_RULES:
        rest = (f"regexp_replace({rest}, {_sq(pat)}, "
                f"{_sq(repl.replace('G1', chr(92) + '1'))}, 'g')")
    return f"""
WITH m AS (SELECT doc_id, text, {_md5l('doc_id::VARCHAR')} AS h
           FROM documents),
d AS (SELECT doc_id,
  substring(text, 1, 20) || ' https://EX' || (h % 5)::VARCHAR ||
  '.Org:443/P' || (h % 9)::VARCHAR ||
  '/?utm_source=x&id=' || (h % 100)::VARCHAR || '&gclid=abc#sec' ||
  ' and http://Foo.example:80/a' || (h % 3)::VARCHAR || '/b/' AS t
  FROM m),
u AS (SELECT doc_id,
        unnest(regexp_extract_all(t, {_sq(U.URL_PATTERN)})) AS url
      FROM d)
SELECT doc_id, url, {sh} || {rest} AS canon FROM u"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 2 BPE merges learned from the corpus word-TYPE table
    (driver-paced rounds; oracle unrolls them as CTEs a la pagerank)."""
    from rag_document_parser_spark.operators import bpe as B
    m = B.train_bpe(_docs(spark, sf_dir), n_merges=2, min_count=2)
    return B.merges_df(spark, m)


_BPE_SYM = ("' ' || array_to_string(string_split({w}, ''), ' ') "
            "|| ' </w> '")
# apply a learned merge as a scalar subquery so an EMPTY merge table is
# a no-op (coalesce to an unmatchable chr(1) pattern) instead of a CROSS
# JOIN that wipes the table — keeps the oracle aligned with Spark's
# bpe_segment on degenerate corpora where < n_merges pairs are learnable
_BPE_APPLY = (
    "replace({s}, ' ' || coalesce((SELECT pair FROM {b}), chr(1)) || ' ',"
    " ' ' || coalesce((SELECT replace(pair, ' ', '') FROM {b}), chr(1))"
    " || ' ')")
_BPE_PAIRS = """SELECT pair, sum(c) AS cnt FROM (
    SELECT c, unnest(list_transform(range(len(y) - 1),
                     i -> y[i + 1] || ' ' || y[i + 2])) AS pair
    FROM (SELECT c, string_split(trim(s), ' ') AS y FROM {src}) z1) z2
  GROUP BY pair"""
_BPE_TRAIN_CTES = f"""
toks AS (SELECT doc_id, {_KWTOKS} AS t FROM documents),
w AS (SELECT unnest(t) AS word FROM toks),
wc AS (SELECT word, count(*) AS c FROM w GROUP BY word
       HAVING count(*) >= 2),
s0 AS (SELECT c, {_BPE_SYM.format(w='word')} AS s FROM wc),
p1 AS ({_BPE_PAIRS.format(src='s0')}),
b1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
s1 AS (SELECT c, {_BPE_APPLY.format(s='s', b='b1')} AS s FROM s0),
p2 AS ({_BPE_PAIRS.format(src='s1')}),
b2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1)"""
SQL_BPE_MERGES = f"""
WITH {_BPE_TRAIN_CTES}
SELECT 1::BIGINT AS merge_rank, split_part(pair, ' ', 1) AS lhs,
  split_part(pair, ' ', 2) AS rhs, cnt::BIGINT AS pair_count FROM b1
UNION ALL
SELECT 2::BIGINT, split_part(pair, ' ', 1), split_part(pair, ' ', 2),
  cnt::BIGINT FROM b2"""


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc subword cost under the first 2 learned merges."""
    from rag_document_parser_spark.operators import bpe as B
    docs = _docs(spark, sf_dir)
    return B.bpe_segment(docs, B.train_bpe(docs, n_merges=2, min_count=2))


_BPE_SEG_CTES = f"""{_BPE_TRAIN_CTES},
aw AS (SELECT DISTINCT word FROM w),
a0 AS (SELECT word, {_BPE_SYM.format(w='word')} AS s FROM aw),
a1 AS (SELECT word, {_BPE_APPLY.format(s='s', b='b1')} AS s FROM a0),
a2 AS (SELECT word, {_BPE_APPLY.format(s='s', b='b2')} AS s FROM a1),
m AS (SELECT word, len(string_split(trim(s), ' '))::BIGINT AS ns FROM a2),
f AS (SELECT doc_id, unnest(t) AS word FROM toks),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
               sum(ns)::BIGINT AS n_subwords
        FROM f JOIN m USING (word) GROUP BY doc_id)"""

SQL_BPE_SEGMENT = f"""
WITH {_BPE_SEG_CTES}
SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
  coalesce(a.n_subwords, 0)::BIGINT AS n_subwords
FROM documents d LEFT JOIN agg a USING (doc_id)"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (textstats.tokenizer_fertility)
    under the first 2 learned BPE merges: subwords per word
    (fertility_e3) and chars per subword — the tokenizer-selection
    numbers a multilingual pipeline reads before committing a vocab."""
    from rag_document_parser_spark.operators import bpe as B
    from rag_document_parser_spark.operators.textstats import (
        tokenizer_fertility)

    docs = _docs(spark, sf_dir)
    seg = B.bpe_segment(docs, B.train_bpe(docs, n_merges=2, min_count=2))
    return tokenizer_fertility(docs, seg)


SQL_TOKENIZER_FERTILITY = f"""
WITH {_BPE_SEG_CTES},
seg AS (
  SELECT d.lang, length(d.text)::BIGINT AS nc,
         coalesce(a.n_tokens, 0)::BIGINT AS nw,
         coalesce(a.n_subwords, 0)::BIGINT AS nsw
  FROM documents d LEFT JOIN agg a USING (doc_id))
SELECT lang, count(*)::BIGINT AS n_docs,
  sum(nc)::BIGINT AS total_chars,
  sum(nw)::BIGINT AS total_words,
  sum(nsw)::BIGINT AS total_subwords,
  (sum(nsw) * 1000 // greatest(sum(nw), 1))::BIGINT AS fertility_e3,
  (sum(nc) * 1000 // greatest(sum(nsw), 1))::BIGINT
    AS chars_per_subword_e3
FROM seg GROUP BY lang"""


def q_segment_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation plumbing: fixed 250ms windows per audio item
    (decode stand-in; Arrow batch shape + PCM sample math are real)."""
    out = M.segment_audio(M.synthetic_media_df(spark, 64), window_ms=250)
    return out.select("media_ref", F.col("seg_idx").cast("long"),
                      F.col("start_ms").cast("long"),
                      F.col("end_ms").cast("long"),
                      F.col("n_samples").cast("long"), "seg_sha")


SQL_SEGMENT_AUDIO = """
SELECT 'img://64x64/m' || i::VARCHAR AS media_ref,
  k::BIGINT AS seg_idx, (k * 250)::BIGINT AS start_ms,
  least(k * 250 + 250, 1000)::BIGINT AS end_ms,
  ((least(k * 250 + 250, 1000) - k * 250) * 16000 // 1000)::BIGINT
    AS n_samples,
  sha256(repeat('payload-' || i::VARCHAR, 16) || '@' || k::VARCHAR)
    AS seg_sha
FROM (SELECT unnest(range(64)) AS i) a,
     (SELECT unnest(range(4)) AS k) b
WHERE i % 3 = 1"""


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing doc vectors, sparse form (hashing-trick signed
    counts, md5 bucket + independent sign digit, dim=16)."""
    from rag_document_parser_spark.operators.vectorize import (
        feature_hash_sparse,
    )
    return feature_hash_sparse(_docs(spark, sf_dir), dim=16)


SQL_FEATURE_HASH = f"""
WITH flat AS (SELECT doc_id, unnest({_KWTOKS}) AS term FROM documents),
h AS (SELECT doc_id,
        ('0x' || substring(md5(term), 1, 15))::BIGINT % 16 AS bucket,
        CASE WHEN ('0x' || substring(md5(term), 16, 1))::BIGINT % 2 = 0
             THEN 1 ELSE -1 END AS s
      FROM flat)
SELECT doc_id, bucket::BIGINT AS bucket, sum(s)::BIGINT AS weight
FROM h GROUP BY doc_id, bucket HAVING sum(s) <> 0"""


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup on payload sha256 over a media table with 16
    planted duplicate payloads under different refs ('c' clones of the
    'm' originals; 'c' < 'm' so clones win keeper selection)."""
    base = M.synthetic_media_df(spark, 64)
    clones = M.synthetic_media_df(spark, 16).withColumn(
        "media_ref", F.regexp_replace("media_ref", "/m", "/c"))
    return M.media_dedup(base.unionByName(clones))


_MEDIA_GEN = """
  SELECT 'img://64x64/{p}'||i::VARCHAR AS media_ref,
    CASE WHEN i % 3 = 0 THEN 'image'
         WHEN i % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
    sha256(repeat('payload-'||i::VARCHAR, 16)) AS payload_sha
  FROM (SELECT unnest(range({n})) AS i)"""
SQL_MEDIA_DEDUP = f"""
WITH base AS ({_MEDIA_GEN.format(p='m', n=64)}
  UNION ALL {_MEDIA_GEN.format(p='c', n=16)}),
groups AS (SELECT payload_sha, min(media_ref) AS keeper_ref,
                  count(*) AS n_copies
           FROM base GROUP BY payload_sha)
SELECT media_ref, modality, payload_sha, keeper_ref,
  n_copies::BIGINT AS n_copies, media_ref <> keeper_ref AS is_dup
FROM base JOIN groups USING (payload_sha)"""


def _pixel_grids(spark: SparkSession) -> DataFrame:
    """Deterministic 72-cell grayscale grids standing in for decoded 9x8
    thumbnails (the decode step is container-stubbed; see
    operators/multimodal.py module docstring). Values are k/128 with k =
    (id*73 + j*37) % 101 — /128 is a power of two so the double is exact
    and the DuckDB twin reproduces floor(x*1e6) bit-for-bit. Base grids
    are ids 0..47. Clones 1000..1005 are byte-identical re-hosts of grids
    0..5 (hamming 0); clones 1006..1011 bump ONE pixel of grids 6..11 by
    +0.25 (a re-encode artifact: most ahash bits survive, the mean shift
    flips a few)."""
    # One range, no Union: a Union of two range projections under the
    # banded self-join trips the optimizer's PruneFilters (`key not
    # found: id#N`) when it is the first plan of a session. selectExpr
    # (SQL scoping) rather than python lambdas capturing an outer column
    # for the same reason. D-suffixed literals keep the arithmetic in
    # DOUBLE (a bare 128.0 would be DECIMAL in Spark SQL); x + 0.0D is x.
    return spark.range(60).selectExpr(
        "id < 48 AS is_base", "IF(id < 48, id, id - 48) AS i").selectExpr(
        "IF(is_base, i, i + 1000) AS id",
        "transform(sequence(0, 71), j -> ((i*73 + j*37) % 101) / 128.0D"
        " + IF(NOT is_base AND i >= 6 AND j = (i*5) % 72, 0.25D, 0.0D))"
        " AS pixels")


def q_perceptual_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both 64-bit perceptual hashes (aHash mean-threshold, dHash
    horizontal-gradient) per synthetic image grid — the LAION-style
    near-dup signature pass (operators/multimodal.py ahash64/dhash64)."""
    base = _pixel_grids(spark).where(F.col("id") < 1000)
    a = M.ahash64(base, pixels_col="pixels", id_col="id") \
        .withColumnRenamed("phash", "ahash")
    d = M.dhash64(base, pixels_col="pixels", id_col="id") \
        .withColumnRenamed("phash", "dhash")
    return (a.join(d, "id")
            .select(F.col("id").cast("long"), "ahash", "dhash"))


def q_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs: aHash + pigeonhole hamming banding over
    base grids plus planted exact/perturbed clones. Oracle does the exact
    O(n^2) hamming check — banding must surface the identical pair set
    (completeness for hamming <= 3)."""
    sig = M.ahash64(_pixel_grids(spark), pixels_col="pixels", id_col="id")
    out = M.phash_near_pairs(sig, max_hamming=3)
    return out.select(F.col("id_a").cast("long"),
                      F.col("id_b").cast("long"),
                      F.col("hamming").cast("long"))


_PIX_BASE = """
  SELECT i AS id,
    list_transform(range(72), j -> ((i*73 + j*37) % 101) / 128.0) AS px
  FROM (SELECT unnest(range(48)) AS i)"""
_PIX_CLONES = """
  SELECT 1000 + i AS id,
    list_transform(range(72), j -> CASE
        WHEN i >= 6 AND j = (i*5) % 72
        THEN ((i*73 + j*37) % 101) / 128.0 + 0.25
        ELSE ((i*73 + j*37) % 101) / 128.0 END) AS px
  FROM (SELECT unnest(range(12)) AS i)"""

# fixed-point mirror of ahash64/dhash64: pixels -> floor(x*1e6) once,
# mean test cross-multiplied (pe[i]*n > sum), bit 63 via the two's
# complement literal (1<<63 overflows BIGINT in DuckDB)
_SQL_PHASH_CTE = """
pe AS (SELECT id, list_transform(px, x -> floor(x * 1000000)::BIGINT) AS pe
       FROM g),
st AS (SELECT id, pe, list_sum(pe)::BIGINT AS s, len(pe)::BIGINT AS n
       FROM pe WHERE len(pe) > 0),
ah AS (SELECT id, list_reduce(list_transform(range(64), i ->
        CASE WHEN pe[i+1] * n > s THEN
          CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
               ELSE 1::BIGINT << i::INT END
        ELSE 0::BIGINT END), (a, b) -> a | b) AS ahash FROM st),
dh AS (SELECT id, list_reduce(list_transform(range(64), i ->
        CASE WHEN pe[(i//8)*9 + (i%8) + 2] > pe[(i//8)*9 + (i%8) + 1] THEN
          CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
               ELSE 1::BIGINT << i::INT END
        ELSE 0::BIGINT END), (a, b) -> a | b) AS dhash
       FROM st WHERE n >= 72)
"""

SQL_PERCEPTUAL_HASH = f"""
WITH g AS ({_PIX_BASE}),
{_SQL_PHASH_CTE}
SELECT ah.id::BIGINT AS id, ah.ahash, dh.dhash
FROM ah JOIN dh USING (id)"""

SQL_PHASH_PAIRS = f"""
WITH g AS ({_PIX_BASE} UNION ALL {_PIX_CLONES}),
{_SQL_PHASH_CTE}
SELECT a.id::BIGINT AS id_a, b.id::BIGINT AS id_b,
       bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
FROM ah a JOIN ah b ON a.id < b.id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3"""



# ---------------------------------------------------------------------------
# web-source tier (round 5): registrable domains, page metadata, frontier
# ---------------------------------------------------------------------------


def q_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 publisher aggregation (operators/urls.py
    registrable_domain_stats): per-doc URLs synthesized over hosts that
    exercise every suffix tier — two-label PSL entries (co.uk),
    one-label (com), private registries (github.io), and an unmatched
    TLD (.example, the last-two-labels fallback) — then pooled to
    registrable domains. BOTH engines parse the same text strings
    (extract -> host -> longest-suffix match), so the gate covers the
    URL regex and the suffix logic."""
    from rag_document_parser_spark.operators.urls import (
        registrable_domain_stats)

    docs = _docs(spark, sf_dir).select("doc_id")
    h = _hcol(F.col("doc_id"))
    p10 = (h % 10).cast("string")
    host_a = (
        F.when(h % 4 == 0, F.concat(F.lit("www.pub"), p10, F.lit(".co.uk")))
        .when(h % 4 == 1, F.concat(F.lit("a.b.pub"), p10, F.lit(".com")))
        .when(h % 4 == 2, F.concat(F.lit("cdn"), (h % 3).cast("string"),
                                   F.lit(".pub"), p10, F.lit(".github.io")))
        .otherwise(F.concat(F.lit("pub"), p10, F.lit(".example"))))
    host_b = F.concat(F.lit("m"), (h % 2).cast("string"),
                      F.lit(".pub"), (h % 7).cast("string"), F.lit(".com"))
    text = F.concat(F.lit("ref http://"), host_a, F.lit("/p"),
                    F.col("doc_id").cast("string"),
                    F.lit(" plus https://"), host_b, F.lit("/x"))
    out = registrable_domain_stats(
        docs.select("doc_id", text.alias("text")), k=100)
    return out.select("registrable",
                      F.col("n_docs").cast("long").alias("n_docs"),
                      F.col("n_urls").cast("long").alias("n_urls"),
                      F.col("n_hosts").cast("long").alias("n_hosts"))


def _sql_registrable_domains() -> str:
    from rag_document_parser_spark.operators.urls import (
        DOMAIN_PATTERN, PUBLIC_SUFFIXES, URL_PATTERN)

    s1 = ", ".join(_sq(s) for s in PUBLIC_SUFFIXES if s.count(".") == 0)
    s2 = ", ".join(_sq(s) for s in PUBLIC_SUFFIXES if s.count(".") == 1)
    s3 = ", ".join(_sq(s) for s in PUBLIC_SUFFIXES if s.count(".") == 2)
    return f"""
WITH base AS (
  SELECT doc_id, {_md5l("doc_id::VARCHAR")} AS h FROM documents
), t AS (
  SELECT doc_id,
    'ref http://' || host_a || '/p' || doc_id::VARCHAR
      || ' plus https://' || host_b || '/x' AS text
  FROM (
    SELECT doc_id,
      CASE (h % 4)::INT
        WHEN 0 THEN 'www.pub' || (h % 10)::VARCHAR || '.co.uk'
        WHEN 1 THEN 'a.b.pub' || (h % 10)::VARCHAR || '.com'
        WHEN 2 THEN 'cdn' || (h % 3)::VARCHAR || '.pub'
                    || (h % 10)::VARCHAR || '.github.io'
        ELSE 'pub' || (h % 10)::VARCHAR || '.example' END AS host_a,
      'm' || (h % 2)::VARCHAR || '.pub' || (h % 7)::VARCHAR
        || '.com' AS host_b
    FROM base)
), u AS (
  SELECT doc_id, unnest(regexp_extract_all(text, {_sq(URL_PATTERN)})) AS url
  FROM t
), hosts AS (
  SELECT doc_id, lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1)) AS host
  FROM u
), lbl AS (
  SELECT doc_id, host, string_split(host, '.') AS l,
         len(string_split(host, '.')) AS n
  FROM hosts
), m AS (
  SELECT doc_id, host, l, n,
    CASE
      WHEN n >= 3 AND array_to_string(l[greatest(n-2,1):], '.') IN ({s3})
        THEN 3
      WHEN n >= 2 AND array_to_string(l[greatest(n-1,1):], '.') IN ({s2})
        THEN 2
      WHEN l[n] IN ({s1}) THEN 1
      ELSE 0 END AS ml
  FROM lbl
), reg AS (
  SELECT doc_id, host,
    array_to_string(l[(n - least(CASE WHEN ml > 0 THEN ml + 1 ELSE 2 END,
                                 n) + 1):], '.') AS registrable
  FROM m
)
SELECT registrable, count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_urls, count(DISTINCT host)::BIGINT AS n_hosts
FROM reg GROUP BY registrable
ORDER BY n_docs DESC, registrable ASC LIMIT 100"""


def q_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML page-metadata mining (operators/webmeta.py page_meta):
    OpenGraph title/description, canonical link, robots meta with the
    noindex gate, JSON-LD block count, and the <title> fallback — over
    synthesized head sections with every field present/absent by hash
    arithmetic. BOTH engines parse the same HTML strings with the
    shared regex subset, so the gate covers the extraction patterns."""
    from rag_document_parser_spark.operators import webmeta as WM

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    h = _hcol(F.col("doc_id"))
    did = F.col("doc_id").cast("string")
    og_t = F.when(h % 3 == 0, F.concat(
        F.lit('<meta property="og:title" content="OG '),
        (h % 5).cast("string"), F.lit('"/>'))).otherwise(F.lit(""))
    og_d = F.when(h % 3 != 2, F.concat(
        F.lit('<meta property="og:description" content="about doc '),
        did, F.lit('"/>'))).otherwise(F.lit(""))
    canon = F.when(h % 4 == 1, F.concat(
        F.lit('<link rel="canonical" href="https://site'),
        (h % 10).cast("string"), F.lit(".example/c"), did,
        F.lit('"/>'))).otherwise(F.lit(""))
    robots = (
        F.when(h % 5 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow"/>'))
        .when(h % 5 == 1,
              F.lit('<meta name="robots" content="index, follow"/>'))
        .otherwise(F.lit("")))
    jsonld = F.repeat(
        F.lit('<script type="application/ld+json">'
              '{"@type":"Article"}</script>'),
        (h % 3).cast("int"))
    html = F.concat(F.lit("<html><head><title>T"), (h % 7).cast("string"),
                    F.lit("</title>"), og_t, og_d, canon, robots, jsonld,
                    F.lit("</head><body>"), F.col("text"),
                    F.lit("</body></html>"))
    out = WM.page_meta(docs.select("doc_id", html.alias("text")))
    return out.select(F.col("id").cast("long").alias("doc_id"),
                      "og_title", "og_description", "canonical",
                      "robots_meta", "noindex", "n_jsonld", "title")


def _sql_page_meta() -> str:
    from rag_document_parser_spark.operators.webmeta import (
        RE_CANONICAL, RE_JSONLD, RE_META_ROBOTS, RE_OG, RE_TITLE_TAG)

    return f"""
WITH base AS (
  SELECT doc_id, text, {_md5l("doc_id::VARCHAR")} AS h FROM documents
), page AS (
  SELECT doc_id,
    '<html><head><title>T' || (h % 7)::VARCHAR || '</title>'
    || (CASE WHEN h % 3 = 0 THEN '<meta property="og:title" content="OG '
             || (h % 5)::VARCHAR || '"/>' ELSE '' END)
    || (CASE WHEN h % 3 <> 2
             THEN '<meta property="og:description" content="about doc '
             || doc_id::VARCHAR || '"/>' ELSE '' END)
    || (CASE WHEN h % 4 = 1
             THEN '<link rel="canonical" href="https://site'
             || (h % 10)::VARCHAR || '.example/c' || doc_id::VARCHAR
             || '"/>' ELSE '' END)
    || (CASE WHEN h % 5 = 0
             THEN '<meta name="robots" content="noindex, nofollow"/>'
             WHEN h % 5 = 1
             THEN '<meta name="robots" content="index, follow"/>'
             ELSE '' END)
    || repeat('<script type="application/ld+json">' ||
              '{{"@type":"Article"}}</script>', (h % 3)::INT)
    || '</head><body>' || text || '</body></html>' AS html
  FROM base
)
SELECT doc_id,
  nullif(regexp_extract(html, {_sq(RE_OG.format("title"))}, 1), '')
    AS og_title,
  nullif(regexp_extract(html, {_sq(RE_OG.format("description"))}, 1), '')
    AS og_description,
  nullif(regexp_extract(html, {_sq(RE_CANONICAL)}, 1), '') AS canonical,
  nullif(regexp_extract(html, {_sq(RE_META_ROBOTS)}, 1), '')
    AS robots_meta,
  coalesce(contains(lower(nullif(regexp_extract(html,
    {_sq(RE_META_ROBOTS)}, 1), '')), 'noindex'), false) AS noindex,
  len(regexp_extract_all(html, {_sq(RE_JSONLD)}))::BIGINT AS n_jsonld,
  nullif(regexp_extract(html, {_sq(RE_TITLE_TAG)}, 1), '') AS title
FROM page"""


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware host-diverse frontier scheduling
    (operators/frontier.py frontier_schedule): per-host priority
    ranking with a per-host cap, a global fetch budget, and
    crawl-delay-derived earliest-start offsets — delay is a host
    attribute by construction so same-host rows agree."""
    from rag_document_parser_spark.operators.frontier import (
        frontier_schedule)

    docs = _docs(spark, sf_dir).select("doc_id")
    h = _hcol(F.col("doc_id"))
    frontier = docs.select(
        F.col("doc_id").alias("url_id"),
        F.concat(F.lit("h"), (h % 9).cast("string")).alias("host"),
        (h % 13).alias("priority"),
        (((h % 9) % 4 + 1) * 100).alias("delay_ms"))
    out = frontier_schedule(frontier, per_host_cap=5, budget=40)
    return out.select(F.col("url_id").cast("long"), "host",
                      F.col("priority").cast("long"),
                      "rank_in_host", "not_before_ms")


SQL_FRONTIER_SCHEDULE = f"""
WITH base AS (
  SELECT doc_id, {_md5l("doc_id::VARCHAR")} AS h FROM documents
), f AS (
  SELECT doc_id AS url_id, 'h' || (h % 9)::VARCHAR AS host,
         (h % 13)::BIGINT AS priority,
         (((h % 9) % 4 + 1) * 100)::BIGINT AS delay_ms
  FROM base
), r AS (
  SELECT url_id, host, priority, delay_ms,
    row_number() OVER (PARTITION BY host
                       ORDER BY priority DESC, url_id ASC) AS rk
  FROM f
)
SELECT url_id::BIGINT AS url_id, host, priority,
       rk::BIGINT AS rank_in_host,
       ((rk - 1) * delay_ms)::BIGINT AS not_before_ms
FROM r WHERE rk <= 5
ORDER BY priority DESC, url_id ASC LIMIT 40"""



def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-link dedup (operators/webmeta.py canonical_dedup):
    synthesized pages declare SHARED canonical targets (group key
    (h%10, h%17)) for three quarters of docs and none for the rest;
    groups collapse to their min doc_id. Both engines parse the link
    tag out of the same HTML strings (RE_CANONICAL)."""
    from rag_document_parser_spark.operators import webmeta as WM

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    h = _hcol(F.col("doc_id"))
    canon = F.when(h % 4 != 3, F.concat(
        F.lit('<link rel="canonical" href="https://site'),
        (h % 10).cast("string"), F.lit(".example/c"),
        (h % 17).cast("string"), F.lit('"/>'))).otherwise(F.lit(""))
    html = F.concat(F.lit("<html><head>"), canon,
                    F.lit("</head><body>"), F.col("text"),
                    F.lit("</body></html>"))
    out = WM.canonical_dedup(docs.select("doc_id", html.alias("text")))
    return out.select(F.col("id").cast("long").alias("doc_id"),
                      "canonical", F.col("rep_id").cast("long"),
                      "canonical_dup")


def _sql_canonical_dedup() -> str:
    from rag_document_parser_spark.operators.webmeta import RE_CANONICAL

    return f"""
WITH base AS (
  SELECT doc_id, text, {_md5l("doc_id::VARCHAR")} AS h FROM documents
), page AS (
  SELECT doc_id,
    '<html><head>'
    || (CASE WHEN h % 4 <> 3
             THEN '<link rel="canonical" href="https://site'
             || (h % 10)::VARCHAR || '.example/c' || (h % 17)::VARCHAR
             || '"/>' ELSE '' END)
    || '</head><body>' || text || '</body></html>' AS html
  FROM base
), meta AS (
  SELECT doc_id,
    nullif(regexp_extract(html, {_sq(RE_CANONICAL)}, 1), '') AS canonical
  FROM page
), groups AS (
  SELECT canonical, min(doc_id) AS rep0 FROM meta
  WHERE canonical IS NOT NULL GROUP BY canonical
)
SELECT m.doc_id::BIGINT AS doc_id, m.canonical,
       coalesce(g.rep0, m.doc_id)::BIGINT AS rep_id,
       coalesce(g.rep0, m.doc_id) <> m.doc_id AS canonical_dup
FROM meta m LEFT JOIN groups g USING (canonical)"""



def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-aware recrawl intervals (operators/frontier.py
    recrawl_schedule) over the events table as fetch history: user_id
    is the url entity, 'click' fetches observed a change. Closed-form
    integer Cho-Garcia-Molina revisit estimate, clamped."""
    from rag_document_parser_spark.operators.frontier import (
        recrawl_schedule)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").alias("url_id"), "ts",
        (F.col("event_type") == "click").alias("changed"))
    return recrawl_schedule(ev, min_interval_s=3600,
                            max_interval_s=30 * 86_400)


SQL_RECRAWL_SCHEDULE = """
WITH per AS (
  SELECT user_id AS url_id, count(*) AS n_obs,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           AS n_changed,
         min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
  FROM events GROUP BY user_id
), iv AS (
  SELECT url_id, n_obs, n_changed, l,
    CASE WHEN n_obs < 2 OR n_changed = 0 THEN 2592000000000
         ELSE least(greatest((l - f) // n_changed, 3600000000),
                    2592000000000) END AS interval_us
  FROM per
)
SELECT url_id::BIGINT AS url_id, n_obs::BIGINT AS n_obs,
       n_changed::BIGINT AS n_changed, interval_us::BIGINT AS interval_us,
       (l + interval_us)::BIGINT AS next_fetch_us
FROM iv"""



def q_sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap XML parsing (operators/webmeta.py parse_sitemaps):
    synthesized per-domain sitemaps with h-arithmetic entry counts, a
    lastmod on even entries only, and one loc-less entry that must be
    dropped without misaligning its neighbours. Both engines parse the
    same XML strings (block-scoped extraction)."""
    from rag_document_parser_spark.operators import webmeta as WM

    doms = (_docs(spark, sf_dir)
            .select((F.col("doc_id") % 25).alias("d")).distinct())
    h = _hcol(F.col("d"))
    ds = F.col("d").cast("string")
    ent = F.expr("""
      array_join(transform(sequence(0, cast(_n as int)), i -> CASE
        WHEN i = cast(_n as int) THEN
          '<url><lastmod>2026-01-09</lastmod></url>'
        WHEN i % 2 = 0 THEN
          '<url><loc>https://s' || _ds || '.example/p' || i
          || '</loc><lastmod>2026-0' || (i % 9 + 1) || '-0'
          || (i % 7 + 1) || '</lastmod></url>'
        ELSE '<url><loc>https://s' || _ds || '.example/p' || i
          || '</loc></url>' END), '')
    """)
    xml = doms.select(
        F.col("d").alias("site"), (h % 4 + 1).alias("_n"),
        ds.alias("_ds")).select(
        "site",
        F.concat(F.lit('<?xml version="1.0"?><urlset>'), ent,
                 F.lit("</urlset>")).alias("text"))
    out = WM.parse_sitemaps(xml, id_col="site")
    return out.select(F.col("id").cast("long").alias("site"),
                      "entry_idx", "loc", "lastmod")


def _sql_sitemap_entries() -> str:
    from rag_document_parser_spark.operators.webmeta import (
        RE_SITEMAP_LASTMOD, RE_SITEMAP_LOC, RE_SITEMAP_URLBLOCK)

    return f"""
WITH doms AS (
  SELECT DISTINCT doc_id % 25 AS d FROM documents
), syn AS (
  SELECT d AS site, ({_md5l("d::VARCHAR")} % 4 + 1) AS n FROM doms
), xml AS (
  SELECT site,
    '<?xml version="1.0"?><urlset>' || array_to_string(
      list_transform(range(0, n::INT + 1), i -> CASE
        WHEN i = n::INT THEN '<url><lastmod>2026-01-09</lastmod></url>'
        WHEN i % 2 = 0 THEN '<url><loc>https://s' || site::VARCHAR
          || '.example/p' || i::VARCHAR || '</loc><lastmod>2026-0'
          || (i % 9 + 1)::VARCHAR || '-0' || (i % 7 + 1)::VARCHAR
          || '</lastmod></url>'
        ELSE '<url><loc>https://s' || site::VARCHAR || '.example/p'
          || i::VARCHAR || '</loc></url>' END), '') || '</urlset>'
      AS body
  FROM syn
), blocks AS (
  SELECT site, i - 1 AS entry_idx, b
  FROM (SELECT site,
          unnest(regexp_extract_all(body, {_sq(RE_SITEMAP_URLBLOCK)}, 1))
            AS b,
          unnest(range(1, len(regexp_extract_all(body,
            {_sq(RE_SITEMAP_URLBLOCK)}, 1)) + 1)) AS i
        FROM xml)
)
SELECT site::BIGINT AS site, entry_idx::BIGINT AS entry_idx,
  nullif(regexp_extract(b, {_sq(RE_SITEMAP_LOC)}, 1), '') AS loc,
  nullif(regexp_extract(b, {_sq(RE_SITEMAP_LASTMOD)}, 1), '') AS lastmod
FROM blocks
WHERE nullif(regexp_extract(b, {_sq(RE_SITEMAP_LOC)}, 1), '') IS NOT NULL"""


def q_hreflang_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hreflang alternate mining (operators/webmeta.py
    hreflang_alternates): pages declare 1-3 language alternates by
    hash arithmetic; the miner emits one row per declaration in tag
    order. Both engines parse the same HTML strings."""
    from rag_document_parser_spark.operators import webmeta as WM

    docs = _docs(spark, sf_dir).select("doc_id")
    h = _hcol(F.col("doc_id"))
    did = F.col("doc_id").cast("string")
    alt = F.expr("""
      array_join(transform(sequence(1, cast(_k as int)), i ->
        '<link rel="alternate" hreflang="' ||
        element_at(array('EN', 'fr', 'de-AT'), i) ||
        '" href="https://alt' || i || '.example/d' || _did || '"/>'),
        '')
    """)
    html = docs.select(
        "doc_id", (h % 3 + 1).alias("_k"), did.alias("_did")).select(
        "doc_id",
        F.concat(F.lit("<html><head>"), alt,
                 F.lit("</head><body>b</body></html>")).alias("text"))
    out = WM.hreflang_alternates(html)
    return out.select(F.col("id").cast("long").alias("doc_id"),
                      "alt_idx", "hreflang", "href")


def _sql_hreflang_pairs() -> str:
    from rag_document_parser_spark.operators.webmeta import RE_HREFLANG

    return f"""
WITH base AS (
  SELECT doc_id, ({_md5l("doc_id::VARCHAR")} % 3 + 1) AS k FROM documents
), page AS (
  SELECT doc_id,
    '<html><head>' || array_to_string(
      list_transform(range(1, k::INT + 1), i ->
        '<link rel="alternate" hreflang="' ||
        (['EN', 'fr', 'de-AT'])[i] ||
        '" href="https://alt' || i::VARCHAR || '.example/d'
        || doc_id::VARCHAR || '"/>'), '')
    || '</head><body>b</body></html>' AS html
  FROM base
)
SELECT doc_id::BIGINT AS doc_id, i - 1 AS alt_idx,
       lower(l) AS hreflang, h AS href
FROM (
  SELECT doc_id,
    unnest(regexp_extract_all(html, {_sq(RE_HREFLANG)}, 1)) AS l,
    unnest(regexp_extract_all(html, {_sq(RE_HREFLANG)}, 2)) AS h,
    unnest(range(1, len(regexp_extract_all(html,
      {_sq(RE_HREFLANG)}, 1)) + 1)) AS i
  FROM page)"""



_TR_ITERS = 2


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (graph.trustrank) over the same citation graph as
    `pagerank`, teleporting only to two trusted seed domains: trust
    decays with link distance, unlinked-from-seed nodes keep only
    propagated mass. Integer fixed-point, unrolled-CTE oracle."""
    d = _docs(spark, sf_dir)
    staged = d.select("doc_id", "source", _weburl_text().alias("t"))
    edges = G.link_graph(staged, text_col="t").select(
        F.concat(F.lit("s:"), F.col("src")).alias("src"),
        F.concat(F.lit("d:"), F.col("dst")).alias("dst"), "weight")
    seeds = spark.createDataFrame(
        [("d:" + _DOMAINS[0].lower(),), ("d:" + _DOMAINS[1].lower(),)],
        "node string")
    return G.trustrank(edges, seeds, iters=_TR_ITERS)


def _sql_trustrank() -> str:
    from rag_document_parser_spark.operators.graph import SCALE
    from rag_document_parser_spark.operators.urls import (
        DOMAIN_PATTERN, URL_PATTERN)

    seed_lits = ", ".join(
        f"('d:' || {_sq(d.lower())})" for d in _DOMAINS[:2])
    ctes = [f"""{_sql_weburl_ctes()},
ex AS (
  SELECT source, unnest(regexp_extract_all(t, {_sq(URL_PATTERN)})) AS url
  FROM d
), ed0 AS (
  SELECT 's:' || source AS src,
         'd:' || lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1)) AS dst
  FROM ex WHERE lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1)) <> ''
), edges AS (SELECT src, dst, count(*) AS w FROM ed0 GROUP BY src, dst),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
seed AS (SELECT node FROM (VALUES {seed_lits}) s(node)
         WHERE node IN (SELECT node FROM nodes)),
sn AS (SELECT count(*) AS ns FROM seed),
o AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
r0 AS (SELECT nodes.node,
         CASE WHEN seed.node IS NOT NULL THEN {SCALE} // ns ELSE 0 END
           AS rank
       FROM nodes CROSS JOIN sn
       LEFT JOIN seed ON nodes.node = seed.node)"""]
    prev = "r0"
    for i in range(1, _TR_ITERS + 1):
        ctes.append(f"""
d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
         WHERE node NOT IN (SELECT src FROM o)),
c{i} AS (SELECT e.dst AS node,
                sum(((r.rank * 85) // 100 * e.w) // o.wout) AS infl
         FROM edges e JOIN {prev} r ON e.src = r.node
         JOIN o ON e.src = o.src GROUP BY e.dst),
r{i} AS (SELECT nodes.node,
           (CASE WHEN seed.node IS NOT NULL
                 THEN (({SCALE} * 15) // 100) // ns + ((dm * 85) // 100) // ns
                 ELSE 0 END)
           + coalesce(infl, 0) AS rank
         FROM nodes CROSS JOIN sn CROSS JOIN d{i}
         LEFT JOIN seed ON nodes.node = seed.node
         LEFT JOIN c{i} ON nodes.node = c{i}.node)""")
        prev = f"r{i}"
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT node, rank::BIGINT AS trust_e12 FROM {prev}")



def q_dup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup datasheet card
    (how much of the corpus is singletons vs 2-clusters vs mega
    groups) over exact md5 groups. Clones planted at two
    multiplicities (ids<5 four copies, ids 5-19 two copies) so three
    histogram rows exist. Two map-side-combinable aggregates, output
    |distinct sizes| rows."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    c1 = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    c2 = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text")
    c3 = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text")
    u = docs.unionByName(c1).unionByName(c2).unionByName(c3)
    sizes = (u.groupBy(F.md5("text").alias("_h"))
             .agg(F.count("*").alias("cluster_size")))
    return (sizes.groupBy("cluster_size")
            .agg(F.count("*").cast("long").alias("n_clusters"),
                 F.sum("cluster_size").cast("long").alias("n_docs"))
            .select(F.col("cluster_size").cast("long"), "n_clusters",
                    "n_docs"))


SQL_DUP_HISTOGRAM = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20
  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 5
  UNION ALL SELECT doc_id + 3000000, text FROM documents WHERE doc_id < 5
), sizes AS (
  SELECT md5(text) AS h, count(*) AS cluster_size FROM u GROUP BY md5(text)
)
SELECT cluster_size::BIGINT AS cluster_size,
       count(*)::BIGINT AS n_clusters,
       sum(cluster_size)::BIGINT AS n_docs
FROM sizes GROUP BY cluster_size"""



_CD_HOPS = 4


def q_crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-depth BFS labels (graph.crawl_depth): a synthesized
    37-node functional link graph (h%37 -> (h div 7)%37 per doc,
    deduplicated), seeds n0/n1, 4 hops; unreached nodes NULL. The
    oracle unrolls the same frontier expansions."""
    docs = _docs(spark, sf_dir).select("doc_id")
    h = _hcol(F.col("doc_id"))
    edges = docs.select(
        h.alias("_h")).select(
        F.concat(F.lit("n"), (F.col("_h") % 37).cast("string"))
        .alias("src"),
        F.concat(F.lit("n"), (F.expr("_h div 7") % 37)
                 .cast("string")).alias("dst"))
    seeds = spark.createDataFrame([("n0",), ("n1",)], "node string")
    out = G.crawl_depth(edges, seeds, max_hops=_CD_HOPS)
    return out.select("node", "depth")


def _sql_crawl_depth() -> str:
    ctes = [f"""base AS (
  SELECT {_md5l("doc_id::VARCHAR")} AS h FROM documents
), edges AS (
  SELECT DISTINCT 'n' || (h % 37)::VARCHAR AS src,
                  'n' || ((h // 7) % 37)::VARCHAR AS dst
  FROM base
), nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
s0 AS (SELECT node, 0 AS depth FROM (VALUES ('n0'), ('n1')) s(node)
       WHERE node IN (SELECT node FROM nodes)),
f0 AS (SELECT node FROM s0)"""]
    prev_s, prev_f = "s0", "f0"
    for i in range(1, _CD_HOPS + 1):
        ctes.append(f"""
f{i} AS (SELECT DISTINCT e.dst AS node
         FROM edges e JOIN {prev_f} ON e.src = {prev_f}.node
         WHERE e.dst NOT IN (SELECT node FROM {prev_s})),
s{i} AS (SELECT * FROM {prev_s}
         UNION ALL SELECT node, {i} FROM f{i})""")
        prev_s, prev_f = f"s{i}", f"f{i}"
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT nodes.node, depth::BIGINT AS depth\n"
            f"FROM nodes LEFT JOIN {prev_s} USING (node)")



def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table mining (operators/webmeta.py html_tables): every doc
    carries a 2x2 data table (th header + td row, entity and inner-tag
    probes in cells); h%3==0 docs add a second single-row table; both
    engines parse the same HTML strings block-scoped."""
    from rag_document_parser_spark.operators import webmeta as WM

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    h = _hcol(F.col("doc_id"))
    t1 = F.concat(
        F.lit("<table><tr><th>Source</th><th>Chars &amp; more</th></tr>"
              "<tr><td><b>"), F.col("source"),
        F.lit("</b></td><td> "), F.col("n_chars").cast("string"),
        F.lit(" </td></tr></table>"))
    t2 = F.when(h % 3 == 0, F.concat(
        F.lit("<table><tr><td>x"), (h % 7).cast("string"),
        F.lit("</td><td>y&lt;z</td><td></td></tr></table>")))\
        .otherwise(F.lit(""))
    html = F.concat(F.lit("<html><body><p>pre</p>"), t1, t2,
                    F.lit("</body></html>"))
    out = WM.html_tables(docs.select("doc_id", html.alias("text")))
    return out.select(F.col("id").cast("long").alias("doc_id"),
                      "table_idx", "row_idx", "n_cells", "cells")


def _sql_html_tables() -> str:
    from rag_document_parser_spark.operators.webmeta import (
        RE_ANY_TAG, RE_CELL, RE_CELL_WS, RE_TABLE_BLOCK, RE_TR_BLOCK)
    import rag_document_parser_spark.semantics as _S

    cell = f"regexp_replace(cell, {_sq(RE_ANY_TAG)}, '', 'g')"
    for ent, ch in _S.HTML_ENTITIES:
        cell = f"replace({cell}, {_sq(ent)}, {_sq(ch)})"
    cell = f"trim(regexp_replace({cell}, {_sq(RE_CELL_WS)}, ' ', 'g'))"
    return f"""
WITH base AS (
  SELECT doc_id, source, n_chars, {_md5l("doc_id::VARCHAR")} AS h
  FROM documents
), page AS (
  SELECT doc_id,
    '<html><body><p>pre</p>'
    || '<table><tr><th>Source</th><th>Chars &amp; more</th></tr>'
    || '<tr><td><b>' || source || '</b></td><td> '
    || n_chars::VARCHAR || ' </td></tr></table>'
    || (CASE WHEN h % 3 = 0 THEN '<table><tr><td>x'
        || (h % 7)::VARCHAR || '</td><td>y&lt;z</td><td></td></tr>'
        || '</table>' ELSE '' END)
    || '</body></html>' AS html
  FROM base
), tb AS (
  SELECT doc_id, ti - 1 AS table_idx, t
  FROM (SELECT doc_id,
          unnest(regexp_extract_all(html, {_sq(RE_TABLE_BLOCK)}, 1)) AS t,
          unnest(range(1, len(regexp_extract_all(html,
            {_sq(RE_TABLE_BLOCK)}, 1)) + 1)) AS ti
        FROM page)
), tr AS (
  SELECT doc_id, table_idx, ri - 1 AS row_idx, r
  FROM (SELECT doc_id, table_idx,
          unnest(regexp_extract_all(t, {_sq(RE_TR_BLOCK)}, 1)) AS r,
          unnest(range(1, len(regexp_extract_all(t,
            {_sq(RE_TR_BLOCK)}, 1)) + 1)) AS ri
        FROM tb)
)
SELECT doc_id::BIGINT AS doc_id, table_idx::BIGINT AS table_idx,
  row_idx::BIGINT AS row_idx,
  len(regexp_extract_all(r, {_sq(RE_CELL)}, 1))::BIGINT AS n_cells,
  array_to_string(list_transform(
    regexp_extract_all(r, {_sq(RE_CELL)}, 1), cell -> {cell}), ' | ')
    AS cells
FROM tr"""



def _sql_registrable_expr(host_sql: str) -> str:
    """DuckDB expression computing the eTLD+1 of a host expression —
    the SQL twin of urls.registrable_domain, staged through the
    one-element list_transform binding idiom (_CREF_FRAG style)."""
    from rag_document_parser_spark.operators.urls import PUBLIC_SUFFIXES

    s1 = ", ".join(_sq(s) for s in PUBLIC_SUFFIXES if s.count(".") == 0)
    s2 = ", ".join(_sq(s) for s in PUBLIC_SUFFIXES if s.count(".") == 1)
    s3 = ", ".join(_sq(s) for s in PUBLIC_SUFFIXES if s.count(".") == 2)
    ml = (f"CASE WHEN n >= 3 AND array_to_string(l[greatest(n-2,1):], '.')"
          f" IN ({s3}) THEN 3"
          f" WHEN n >= 2 AND array_to_string(l[greatest(n-1,1):], '.')"
          f" IN ({s2}) THEN 2"
          f" WHEN l[n] IN ({s1}) THEN 1 ELSE 0 END")
    inner = (f"array_to_string(l[(n - least(CASE WHEN ({ml}) > 0"
             f" THEN ({ml}) + 1 ELSE 2 END, n) + 1):], '.')")
    return (f"list_transform([string_split({host_sql}, '.')], l -> "
            f"list_transform([len(l)], n -> {inner})[1])[1]")


def q_outlink_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink internal/external profile (operators/urls.py
    outlink_profile): each page's own registrable domain vs its
    outlinks' — one always-internal cdn link, one always-external
    link, an extra internal apex link for h%3==0, and NO links for
    h%5==0 (the NULL-frac leg)."""
    from rag_document_parser_spark.operators.urls import outlink_profile

    docs = _docs(spark, sf_dir).select("doc_id")
    h = _hcol(F.col("doc_id"))
    p10 = (h % 10).cast("string")
    page_url = F.concat(F.lit("https://www.pub"), p10, F.lit(".co.uk/p"),
                        F.col("doc_id").cast("string"))
    body = F.when(h % 5 == 0, F.lit("no links here")).otherwise(F.concat(
        F.lit("see https://cdn.pub"), p10, F.lit(".co.uk/a and http://m"),
        (h % 2).cast("string"), F.lit(".pub"), (h % 7).cast("string"),
        F.lit(".com/b"),
        F.when(h % 3 == 0, F.concat(
            F.lit(" plus https://pub"), p10, F.lit(".co.uk/c")))
        .otherwise(F.lit(""))))
    out = outlink_profile(
        docs.select("doc_id", page_url.alias("url"), body.alias("text")))
    return out.select(F.col("id").cast("long").alias("doc_id"),
                      "page_registrable", "n_links", "n_internal",
                      "n_external", "internal_frac_e6")


def _sql_outlink_profile() -> str:
    from rag_document_parser_spark.operators.urls import (
        DOMAIN_PATTERN, URL_PATTERN)

    return f"""
WITH base AS (
  SELECT doc_id, {_md5l("doc_id::VARCHAR")} AS h FROM documents
), page AS (
  SELECT doc_id,
    'https://www.pub' || (h % 10)::VARCHAR || '.co.uk/p'
      || doc_id::VARCHAR AS url,
    CASE WHEN h % 5 = 0 THEN 'no links here'
         ELSE 'see https://cdn.pub' || (h % 10)::VARCHAR
           || '.co.uk/a and http://m' || (h % 2)::VARCHAR || '.pub'
           || (h % 7)::VARCHAR || '.com/b'
           || (CASE WHEN h % 3 = 0 THEN ' plus https://pub'
               || (h % 10)::VARCHAR || '.co.uk/c' ELSE '' END) END
      AS body
  FROM base
), preg AS (
  SELECT doc_id,
    {_sql_registrable_expr(
        f"lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1))")}
      AS page_registrable,
    body
  FROM page
), links AS (
  SELECT doc_id, page_registrable,
    {_sql_registrable_expr(
        f"lower(regexp_extract(u, {_sq(DOMAIN_PATTERN)}, 1))")} AS lr
  FROM (SELECT doc_id, page_registrable,
          unnest(regexp_extract_all(body, {_sq(URL_PATTERN)})) AS u
        FROM preg)
), agg AS (
  SELECT doc_id, count(*) AS n_links,
         sum(CASE WHEN lr = page_registrable THEN 1 ELSE 0 END)
           AS n_internal
  FROM links GROUP BY doc_id
)
SELECT p.doc_id::BIGINT AS doc_id, p.page_registrable,
  coalesce(a.n_links, 0)::BIGINT AS n_links,
  coalesce(a.n_internal, 0)::BIGINT AS n_internal,
  (coalesce(a.n_links, 0) - coalesce(a.n_internal, 0))::BIGINT
    AS n_external,
  (a.n_internal * 1000000 // nullif(a.n_links, 0))::BIGINT
    AS internal_frac_e6
FROM preg p LEFT JOIN agg a USING (doc_id)"""



def q_heading_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-outline mining (operators/webmeta.py heading_outline):
    synthesized pages carry an h1 (inner-tag + entity probes) plus
    h%3 deeper section headings at alternating levels; both engines
    parse the same HTML strings."""
    from rag_document_parser_spark.operators import webmeta as WM

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    h = _hcol(F.col("doc_id"))
    secs = F.expr("""
      array_join(transform(
        CASE WHEN _k >= 1 THEN sequence(1, cast(_k as int))
             ELSE cast(array() as array<int>) END, i ->
        '<h' || (i % 2 + 2) || ' class="s">Sec ' || i || ' &amp; '
        || _src || '</h' || (i % 2 + 2) || '><p>body</p>'), '')
    """)
    html = docs.select(
        "doc_id", (h % 3).alias("_k"), F.col("source").alias("_src")
    ).select(
        "doc_id",
        F.concat(F.lit("<html><body><h1>Title <em>"), F.col("_src"),
                 F.lit("</em></h1>"), secs,
                 F.lit("</body></html>")).alias("text"))
    out = WM.heading_outline(html)
    return out.select(F.col("id").cast("long").alias("doc_id"),
                      "heading_idx", "level", "heading")


def _sql_heading_outline() -> str:
    from rag_document_parser_spark.operators.webmeta import (
        RE_ANY_TAG, RE_CELL_WS, RE_HEADING)
    import rag_document_parser_spark.semantics as _S

    hx = f"regexp_replace(b, {_sq(RE_ANY_TAG)}, '', 'g')"
    for ent, ch in _S.HTML_ENTITIES:
        hx = f"replace({hx}, {_sq(ent)}, {_sq(ch)})"
    hx = f"trim(regexp_replace({hx}, {_sq(RE_CELL_WS)}, ' ', 'g'))"
    return f"""
WITH base AS (
  SELECT doc_id, source, ({_md5l("doc_id::VARCHAR")} % 3) AS k
  FROM documents
), page AS (
  SELECT doc_id,
    '<html><body><h1>Title <em>' || source || '</em></h1>'
    || coalesce(array_to_string(list_transform(range(1, k::INT + 1), i ->
        '<h' || (i % 2 + 2)::VARCHAR || ' class="s">Sec ' || i::VARCHAR
        || ' &amp; ' || source || '</h' || (i % 2 + 2)::VARCHAR
        || '><p>body</p>'), ''), '')
    || '</body></html>' AS html
  FROM base
)
SELECT doc_id::BIGINT AS doc_id, i - 1 AS heading_idx,
       l::BIGINT AS level, {hx} AS heading
FROM (
  SELECT doc_id,
    unnest(regexp_extract_all(html, {_sq(RE_HEADING)}, 1)) AS l,
    unnest(regexp_extract_all(html, {_sq(RE_HEADING)}, 2)) AS b,
    unnest(range(1, len(regexp_extract_all(html,
      {_sq(RE_HEADING)}, 1)) + 1)) AS i
  FROM page)"""



def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical URL features (operators/urls.py url_features):
    synthesized URLs cover deep/shallow paths, digit-run ids, query
    params incl. a session key, percent escapes, and all suffix
    tiers; both engines derive every feature from the same strings."""
    from rag_document_parser_spark.operators.urls import url_features

    docs = _docs(spark, sf_dir).select("doc_id")
    h = _hcol(F.col("doc_id"))
    did = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://www.pub"), (h % 10).cast("string"),
        F.when(h % 4 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.when(h % 3 == 0,
               F.concat(F.lit("/a/b/c/item"), did, F.lit("4711")))
        .otherwise(F.concat(F.lit("/p"), did)),
        F.when(h % 5 == 0,
               F.concat(F.lit("?q="), (h % 9).cast("string"),
                        F.lit("&sessionid=abc"), did))
        .when(h % 5 == 1, F.lit("?ref=x%20y"))
        .otherwise(F.lit("")))
    out = url_features(docs.select("doc_id", url.alias("url")))
    return out.select(F.col("id").cast("long").alias("doc_id"),
                      "host", "registrable", "path_depth", "path_len",
                      "n_params", "n_digits", "longest_digit_run",
                      "has_session_param", "pct_encoded")


def _sql_url_features() -> str:
    from rag_document_parser_spark.operators.urls import (
        DOMAIN_PATTERN, _SCHEME_HOST)

    host = f"lower(regexp_extract(url, {_sq(DOMAIN_PATTERN)}, 1))"
    return f"""
WITH base AS (
  SELECT doc_id, {_md5l("doc_id::VARCHAR")} AS h FROM documents
), u AS (
  SELECT doc_id,
    'https://www.pub' || (h % 10)::VARCHAR
    || (CASE WHEN h % 4 = 0 THEN '.co.uk' ELSE '.com' END)
    || (CASE WHEN h % 3 = 0 THEN '/a/b/c/item' || doc_id::VARCHAR
        || '4711' ELSE '/p' || doc_id::VARCHAR END)
    || (CASE WHEN h % 5 = 0 THEN '?q=' || (h % 9)::VARCHAR
        || '&sessionid=abc' || doc_id::VARCHAR
        WHEN h % 5 = 1 THEN '?ref=x%20y' ELSE '' END) AS url
  FROM base
), parts AS (
  SELECT doc_id, url, {host} AS host,
    regexp_replace(regexp_replace(url, {_sq(_SCHEME_HOST)}, ''),
                   '[?#].*', '') AS path,
    regexp_extract(regexp_replace(url, {_sq(_SCHEME_HOST)}, ''),
                   '\\?([^#]*)', 1) AS query
  FROM u
)
SELECT doc_id::BIGINT AS doc_id, host,
  {_sql_registrable_expr("host")} AS registrable,
  len(list_filter(string_split(path, '/'), x -> x <> ''))::BIGINT
    AS path_depth,
  length(path)::BIGINT AS path_len,
  len(list_filter(string_split(query, '&'),
                  x -> contains(x, '=')))::BIGINT AS n_params,
  length(regexp_replace(path, '[^0-9]', '', 'g'))::BIGINT AS n_digits,
  coalesce(list_max(list_transform(
    regexp_extract_all(path, '[0-9]+'), x -> length(x))), 0)::BIGINT
    AS longest_digit_run,
  regexp_matches(lower(query), '(^|&)(sessionid|sid|phpsessid)=')
    AS has_session_param,
  contains(url, '%') AS pct_encoded
FROM parts"""



def q_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed parsing (operators/webmeta.py parse_feeds):
    even-h feeds are RSS (<item>, text links, pubDate), odd-h feeds
    Atom (<entry>, href links, updated); one malformed field-less
    item per h%4==0 feed must drop without misaligning neighbours."""
    from rag_document_parser_spark.operators import webmeta as WM

    doms = (_docs(spark, sf_dir)
            .select((F.col("doc_id") % 30).alias("d")).distinct())
    h = _hcol(F.col("d"))
    ds = F.col("d").cast("string")
    items = F.expr("""
      array_join(transform(
        CASE WHEN _n >= 1 THEN sequence(1, cast(_n as int))
             ELSE cast(array() as array<int>) END, i ->
        CASE WHEN _rss = 1 THEN
          '<item><title>Post ' || i || ' of ' || _ds
          || '</title><link>https://f' || _ds || '.example/p' || i
          || '</link><pubDate>2026-0' || (i % 9 + 1)
          || '-01</pubDate></item>'
        ELSE
          '<entry><title>Note ' || i || '</title>'
          || '<link href="https://f' || _ds || '.example/n' || i
          || '"/><updated>2026-0' || (i % 9 + 1)
          || '-02</updated></entry>'
        END), '')
    """)
    xml = doms.select(
        F.col("d").alias("feed"), (h % 3 + 1).alias("_n"),
        (h % 2 == 0).cast("int").alias("_rss"), ds.alias("_ds")
    ).select(
        "feed", "_rss",
        F.concat(
            F.lit("<feed><title>channel</title>"), items,
            F.when(_hcol(F.col("feed")) % 4 == 0,
                   F.lit("<item><category>only</category></item>"))
            .otherwise(F.lit("")),
            F.lit("</feed>")).alias("text"))
    out = WM.parse_feeds(xml.select("feed", "text"), id_col="feed")
    return out.select(F.col("id").cast("long").alias("feed"),
                      "item_idx", "title", "link", "published")


def _sql_feed_items() -> str:
    from rag_document_parser_spark.operators.webmeta import (
        RE_FEED_DATE, RE_FEED_ITEM, RE_FEED_LINK_HREF,
        RE_FEED_LINK_TEXT, RE_FEED_TITLE)

    return f"""
WITH doms AS (
  SELECT DISTINCT doc_id % 30 AS d FROM documents
), syn AS (
  SELECT d AS feed, ({_md5l("d::VARCHAR")} % 3 + 1) AS n,
         ({_md5l("d::VARCHAR")} % 2 = 0) AS rss
  FROM doms
), xml AS (
  SELECT feed,
    '<feed><title>channel</title>' || coalesce(array_to_string(
      list_transform(range(1, n::INT + 1), i -> CASE WHEN rss THEN
        '<item><title>Post ' || i::VARCHAR || ' of ' || feed::VARCHAR
        || '</title><link>https://f' || feed::VARCHAR || '.example/p'
        || i::VARCHAR || '</link><pubDate>2026-0'
        || (i % 9 + 1)::VARCHAR || '-01</pubDate></item>'
      ELSE
        '<entry><title>Note ' || i::VARCHAR || '</title>'
        || '<link href="https://f' || feed::VARCHAR || '.example/n'
        || i::VARCHAR || '"/><updated>2026-0' || (i % 9 + 1)::VARCHAR
        || '-02</updated></entry>' END), ''), '')
    || (CASE WHEN {_md5l("feed::VARCHAR")} % 4 = 0
        THEN '<item><category>only</category></item>' ELSE '' END)
    || '</feed>' AS body
  FROM syn
), blocks AS (
  SELECT feed, i - 1 AS item_idx, b
  FROM (SELECT feed,
          unnest(regexp_extract_all(body, {_sq(RE_FEED_ITEM)}, 1)) AS b,
          unnest(range(1, len(regexp_extract_all(body,
            {_sq(RE_FEED_ITEM)}, 1)) + 1)) AS i
        FROM xml)
), fields AS (
  SELECT feed, item_idx,
    nullif(trim(regexp_extract(b, {_sq(RE_FEED_TITLE)}, 1)), '')
      AS title,
    coalesce(
      nullif(trim(regexp_extract(b, {_sq(RE_FEED_LINK_TEXT)}, 1)), ''),
      nullif(regexp_extract(b, {_sq(RE_FEED_LINK_HREF)}, 1), ''))
      AS link,
    nullif(trim(regexp_extract(b, {_sq(RE_FEED_DATE)}, 1)), '')
      AS published
  FROM blocks
)
SELECT feed::BIGINT AS feed, item_idx::BIGINT AS item_idx,
       title, link, published
FROM fields WHERE title IS NOT NULL OR link IS NOT NULL"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver gates the FIRST ~50 entries per round.
    # Every query that no CORRECTNESS_r*.json round has gated leads, in
    # its prior relative order (tests/test_entry_contract.py derives
    # that set from the artifacts and pins it as the prefix): the 30
    # the round-5 rotation did not reach, then the web-source tier added
    # after it. One round of the driver then covers every query. The
    # queries gated in rounds 1-5 (all green) form the tail in their
    # prior relative order.
    return {
        # -- never driver-gated: past the round-5 rotation front -----
        "phash_pairs": q_phash_pairs,
        "contrastive_pairs": q_contrastive_pairs,
        "pack_stream": q_pack_stream,
        "tokenizer_fertility": q_tokenizer_fertility,
        "snapshot_drift": q_snapshot_drift,
        "license_signals": q_license_signals,
        "source_prior": q_source_prior,
        "hits_scores": q_hits,
        "corpus_datasheet": q_corpus_datasheet,
        "caption_candidates": q_caption_candidates,
        "bucket_skew": q_bucket_skew,
        "weighted_sample": q_weighted_sample,
        "anchor_stats": q_anchor_stats,
        "global_shuffle": q_global_shuffle,
        "interleave_sequences": q_interleave_sequences,
        "chat_offsets": q_chat_offsets,
        "preference_pairs": q_preference_pairs,
        "paragraph_lang": q_paragraph_lang,
        "lang_mixedness": q_lang_mixedness,
        "pca_component": q_pca_component,
        "pca_scores": q_pca_scores,
        "random_projection": q_random_projection,
        "pca_components": q_pca_components,
        "pca_embedding": q_pca_embedding,
        "mean_pool": q_mean_pool,
        "truncate_normalize": q_truncate_normalize,
        "warc_records": q_warc_records,
        "bitext_mine": q_bitext_mine,
        "wordpiece_merges": q_wordpiece_merges,
        "wordpiece_segment": q_wordpiece_segment,
        # -- never driver-gated: round-5 web-source tier ------------
        "registrable_domains": q_registrable_domains,
        "page_meta": q_page_meta,
        "frontier_schedule": q_frontier_schedule,
        "canonical_dedup": q_canonical_dedup,
        "recrawl_schedule": q_recrawl_schedule,
        "sitemap_entries": q_sitemap_entries,
        "hreflang_pairs": q_hreflang_pairs,
        "trustrank": q_trustrank,
        "dup_histogram": q_dup_histogram,
        "crawl_depth": q_crawl_depth,
        "html_tables": q_html_tables,
        "outlink_profile": q_outlink_profile,
        "heading_outline": q_heading_outline,
        "url_features": q_url_features,
        "feed_items": q_feed_items,
        # -- driver-gated in rounds 1-5 (all green) -----------------
        "pdf_images": q_pdf_images,
        "arabic_tables": q_arabic_tables,
        "failed_docs_poisoned": q_failed_docs_poisoned,
        "summary_poisoned": q_summary_poisoned,
        "kmeans_centroids": q_kmeans_centroids,
        "segment_audio": q_segment_audio,
        "semdedup": q_semdedup,
        "gopher_rules": q_gopher_rules,
        "c4_line_filter": q_c4_line_filter,
        "remove_repeated": q_remove_repeated,
        "dsir_select": q_dsir_select,
        "quality_chain": q_quality_chain,
        "leakage_split": q_leakage_split,
        "ccnet_buckets": q_ccnet_buckets,
        "fix_mojibake": q_fix_mojibake,
        "sentence_dedup": q_sentence_dedup,
        "toxicity_gate": q_toxicity_gate,
        "readability": q_readability,
        "keep_best": q_keep_best,
        "soft_dedup": q_soft_dedup,
        "decontam_surgery": q_decontam_surgery,
        "bm25_topk": q_bm25_topk,
        "hybrid_topk": q_hybrid_topk,
        "pq_topk": q_pq_topk,
        "ivf_quantized_topk": q_ivf_quantized_topk,
        "quantized_topk": q_quantized_topk,
        "quantized_recall": q_quantized_recall,
        "lsh_recall": q_lsh_recall,
        "pq_codebooks": q_pq_codebooks,
        "cdc_dedup": q_cdc_dedup,
        "snapshot_dedup": q_snapshot_dedup,
        "edit_verify": q_edit_verify,
        "containment_pairs": q_containment_pairs,
        "prefix_join": q_prefix_join,
        "winnow_fp": q_winnow_fp,
        "winnow_pairs": q_winnow_pairs,
        "sentence_chunks": q_sentence_chunks,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "hll_distinct": q_hll_distinct,
        "bloom_decontam": q_bloom_decontam,
        "quantile_sketch": q_quantile_sketch,
        "temperature_mixture": q_temperature_mixture,
        "epoch_plan": q_epoch_plan,
        "materialize_mixture": q_materialize_mixture,
        "mixture_summary": q_mixture_summary,
        "card_pii": q_card_pii,
        "source_reputation": q_source_reputation,
        "perceptual_hash": q_perceptual_hash,
        "kn_lm": q_kn_lm,
        "kn_score": q_kn_score,
        "phrase_topk": q_phrase_topk,
        "more_like_this": q_more_like_this,
        "source_overlap": q_source_overlap,
        "semantic_decontam": q_semantic_decontam,
        "texttiling": q_texttiling,
        "tiling_chunks": q_tiling_chunks,
        "media_remap": q_media_remap,
        "gale_church": q_gale_church,
        "strand_pairs": q_strand_pairs,
        "robots_audit": q_robots_audit,
        "iban_pii": q_iban_pii,
        "needle_probes": q_needle_probes,
        "seg_agreement": q_seg_agreement,
        "classifier_auc": q_classifier_auc,
        "annotator_kappa": q_annotator_kappa,
        "bradley_terry": q_bradley_terry,
        "verbosity_bias": q_verbosity_bias,
        "jm_lambda": q_jm_lambda,
        "label_propagation": q_label_propagation,
        "hll_overlap": q_hll_overlap,
        "term_drift": q_term_drift,
        "vocab_richness": q_vocab_richness,
        "source_concentration": q_source_concentration,
        "robots_meta": q_robots_meta,
        "order_cert": q_order_cert,
        "classifier_brier": q_classifier_brier,
        "source_hhi": q_source_hhi,
        "temporal_meta": q_temporal_meta,
        "burstiness": q_burstiness,
        "msttr": q_msttr,
        "unigram_vocab": q_unigram_vocab,
        "unigram_segment": q_unigram_segment,
        "zipf_fit": q_zipf_fit,
        "heaps_points": q_heaps_points,
        "weighted_jaccard": q_weighted_jaccard,
        "wminhash_sigs": q_wminhash_sigs,
        "calibration_bins": q_calibration_bins,
        "classifier_ece": q_classifier_ece,
        "retention_curve": q_retention_curve,
        "merkle_tree": q_merkle_tree,
        "confusable_stats": q_confusable_stats,
        "skeleton_dedup": q_skeleton_dedup,
        "dedup_method_matrix": q_dedup_method_matrix,
        "unimax_plan": q_unimax_plan,
        "ivf_cosine_topk": q_ivf_cosine_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "failed_docs": q_failed_docs,
        "media_features": q_media_features,
        "frame_sample": q_frame_sample,
        "ocr_media": q_ocr_media,
        "detect_route": q_detect_route,
        "magic_detect": q_magic_detect,
        "code_stats": q_code_stats,
        "content_structure": q_content_structure,
        "arabic_normalized": q_arabic_normalized,
        "sheet_structure": q_sheet_structure,
        "doc_metadata": q_doc_metadata,
        "extract_content": q_extract_content,
        "extract_content_arrow": q_extract_content_arrow,
        "single_doc": q_single_doc,
        "route_stats": q_route_stats,
        "summary_report": q_summary_report,
        "validity": q_validity,
        "doc_stats": q_doc_stats,
        "arabic_stats": q_arabic_stats,
        "lang_id": q_lang_id,
        "quality_features": q_quality,
        "token_count": q_token_count,
        "tfidf_keywords": q_tfidf_keywords,
        "vocab_coverage": q_vocab_coverage,
        "pmi_bigrams": q_pmi_bigrams,
        "feature_hash": q_feature_hash,
        "bpe_merges": q_bpe_merges,
        "bpe_segment": q_bpe_segment,
        "length_quantiles": q_length_quantiles,
        "media_dedup": q_media_dedup,
        "hash_sample": q_hash_sample,
        "stratified_sample": q_stratified_sample,
        "mixture_resample": q_mixture_resample,
        "hash_split": q_hash_split,
        "pagerank": q_pagerank,
        "pack_shards": q_pack_shards,
        "shard_manifest": q_shard_manifest,
        "lm_score": q_lm_score,
        "doc_chunks": q_doc_chunks,
        "repeated_windows": q_repeated_windows,
        "repeated_window_frac": q_repeated_window_frac,
        "line_repetition": q_line_repetition,
        "top_ngram": q_top_ngram,
        "decontam": q_decontam,
        "fingerprint": q_fingerprint,
        "dedup_exact": q_dedup_exact,
        "paragraph_dedup": q_paragraph_dedup,
        "dedup_clusters": q_dedup_clusters,
        "curate_corpus": q_curate_corpus,
        "curation_report": q_curation_report,
        "pii_redact": q_pii_redact,
        "url_stats": q_url_stats,
        "url_canonical": q_url_canonical,
        "classify_lang": q_classify_lang,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "cosine_topk": q_cosine_topk,
        "lsh_cosine_topk": q_lsh_cosine_topk,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kn_lm": SQL_KN_LM,
        "kn_score": SQL_KN_SCORE,
        "phrase_topk": SQL_PHRASE_TOPK,
        "more_like_this": SQL_MORE_LIKE_THIS,
        "source_overlap": SQL_SOURCE_OVERLAP,
        "semantic_decontam": SQL_SEMANTIC_DECONTAM,
        "texttiling": SQL_TEXTTILING,
        "tiling_chunks": SQL_TILING_CHUNKS,
        "media_remap": SQL_MEDIA_REMAP,
        "gale_church": SQL_GALE_CHURCH,
        "strand_pairs": SQL_STRAND_PAIRS,
        "robots_audit": SQL_ROBOTS_AUDIT,
        "iban_pii": SQL_IBAN_PII,
        "needle_probes": SQL_NEEDLE_PROBES,
        "seg_agreement": SQL_SEG_AGREEMENT,
        "classifier_auc": _sql_classifier_auc(),
        "annotator_kappa": SQL_ANNOTATOR_KAPPA,
        "bradley_terry": SQL_BRADLEY_TERRY,
        "verbosity_bias": SQL_VERBOSITY_BIAS,
        "jm_lambda": SQL_JM_LAMBDA,
        "label_propagation": SQL_LABEL_PROPAGATION,
        "hll_overlap": SQL_HLL_OVERLAP,
        "term_drift": SQL_TERM_DRIFT,
        "vocab_richness": SQL_VOCAB_RICHNESS,
        "source_concentration": SQL_SOURCE_CONCENTRATION,
        "robots_meta": SQL_ROBOTS_META,
        "order_cert": SQL_ORDER_CERT,
        "classifier_brier": _sql_classifier_brier(),
        "source_hhi": SQL_SOURCE_HHI,
        "temporal_meta": SQL_TEMPORAL_META,
        "burstiness": SQL_BURSTINESS,
        "msttr": SQL_MSTTR,
        "unigram_vocab": SQL_UNIGRAM_VOCAB,
        "unigram_segment": SQL_UNIGRAM_SEGMENT,
        "zipf_fit": SQL_ZIPF_FIT,
        "heaps_points": SQL_HEAPS_POINTS,
        "weighted_jaccard": SQL_WEIGHTED_JACCARD,
        "wminhash_sigs": SQL_WMINHASH_SIGS,
        "calibration_bins": _sql_calibration_bins(),
        "classifier_ece": _sql_classifier_ece(),
        "retention_curve": _sql_retention_curve(),
        "merkle_tree": SQL_MERKLE_TREE,
        "confusable_stats": _sql_confusables()[0],
        "skeleton_dedup": _sql_confusables()[1],
        "dedup_method_matrix": _sql_dedup_method_matrix(),
        "unimax_plan": _sql_unimax_plan(),
        "mixture_summary": _sql_mixture_summary(),
        "card_pii": SQL_CARD_PII,
        "source_reputation": SQL_SOURCE_REPUTATION,
        "perceptual_hash": SQL_PERCEPTUAL_HASH,
        "phash_pairs": SQL_PHASH_PAIRS,
        "contrastive_pairs": SQL_CONTRASTIVE,
        "pack_stream": SQL_PACK_STREAM,
        "tokenizer_fertility": SQL_TOKENIZER_FERTILITY,
        "snapshot_drift": SQL_SNAPSHOT_DRIFT,
        "edit_verify": SQL_EDIT_VERIFY,
        "snapshot_dedup": SQL_SNAPSHOT_DEDUP,
        "soft_dedup": SQL_SOFT_DEDUP,
        "hybrid_topk": SQL_HYBRID_TOPK,
        "leakage_split": SQL_LEAKAGE_SPLIT,
        "license_signals": SQL_LICENSE_SIGNALS,
        "source_prior": SQL_SOURCE_PRIOR,
        "decontam_surgery": SQL_DECONTAM_SURGERY,
        "sentence_chunks": SQL_SENTENCE_CHUNKS,
        "readability": SQL_READABILITY,
        "hits_scores": SQL_HITS,
        "containment_pairs": SQL_CONTAINMENT,
        "cdc_dedup": SQL_CDC_DEDUP,
        "corpus_datasheet": SQL_CORPUS_DATASHEET,
        "keep_best": SQL_KEEP_BEST,
        "quantized_topk": SQL_QUANTIZED_TOPK,
        "quantized_recall": SQL_QUANTIZED_RECALL,
        "cms_heavy_hitters": SQL_CMS_HEAVY_HITTERS,
        "hll_distinct": SQL_HLL_DISTINCT,
        "bloom_decontam": SQL_BLOOM_DECONTAM,
        "caption_candidates": SQL_CAPTION_CANDIDATES,
        "lsh_recall": SQL_LSH_RECALL,
        "ivf_quantized_topk": SQL_IVF_QUANTIZED,
        "bucket_skew": SQL_BUCKET_SKEW,
        "weighted_sample": SQL_WEIGHTED_SAMPLE,
        "anchor_stats": SQL_ANCHOR_STATS,
        "bm25_topk": SQL_BM25_TOPK,
        "fix_mojibake": SQL_FIX_MOJIBAKE,
        "sentence_dedup": SQL_SENTENCE_DEDUP,
        "gopher_rules": SQL_GOPHER_RULES,
        "quality_chain": SQL_QUALITY_CHAIN,
        "ccnet_buckets": SQL_CCNET_BUCKETS,
        "c4_line_filter": SQL_C4_LINE_FILTER,
        "dsir_select": SQL_DSIR_SELECT,
        "extract_content": SQL_EXTRACT,
        "extract_content_arrow": SQL_EXTRACT,
        "single_doc": SQL_SINGLE_DOC,
        "route_stats": SQL_ROUTE_STATS,
        "summary_report": SQL_SUMMARY,
        "validity": SQL_VALIDITY,
        "doc_stats": SQL_DOC_STATS,
        "arabic_stats": SQL_ARABIC,
        "lang_id": SQL_LANG_ID,
        "quality_features": SQL_QUALITY,
        "token_count": SQL_TOKEN_COUNT,
        "tfidf_keywords": SQL_TFIDF,
        "vocab_coverage": SQL_VOCAB_COVERAGE,
        "pmi_bigrams": SQL_PMI_BIGRAMS,
        "feature_hash": SQL_FEATURE_HASH,
        "bpe_merges": SQL_BPE_MERGES,
        "bpe_segment": SQL_BPE_SEGMENT,
        "length_quantiles": SQL_LENGTH_QUANTILES,
        "media_dedup": SQL_MEDIA_DEDUP,
        "hash_sample": SQL_HASH_SAMPLE,
        "stratified_sample": SQL_STRATIFIED_SAMPLE,
        "mixture_resample": SQL_MIXTURE_RESAMPLE,
        "hash_split": SQL_HASH_SPLIT,
        "pagerank": SQL_PAGERANK,
        "pack_shards": SQL_PACK_SHARDS,
        "shard_manifest": SQL_SHARD_MANIFEST,
        "lm_score": SQL_LM_SCORE,
        "doc_chunks": SQL_DOC_CHUNKS,
        "repeated_windows": SQL_REPEATED_WINDOWS,
        "remove_repeated": SQL_REMOVE_REPEATED,
        "repeated_window_frac": SQL_REPEATED_WINDOW_FRAC,
        "line_repetition": SQL_LINE_REPETITION,
        "top_ngram": SQL_TOP_NGRAM,
        "decontam": SQL_DECONTAM,
        "fingerprint": SQL_FINGERPRINT,
        "dedup_exact": SQL_DEDUP_EXACT,
        "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "curate_corpus": SQL_CURATE_CORPUS,
        "curation_report": SQL_CURATION_REPORT,
        "pii_redact": SQL_PII_REDACT,
        "url_stats": SQL_URL_STATS,
        "url_canonical": _sql_url_canonical(),
        "classify_lang": SQL_CLASSIFY_LANG,
        "ngram_jaccard": SQL_JACCARD,
        "minhash_signatures": SQL_MINHASH_SIG,
        "minhash_lsh_pairs": SQL_MINHASH_PAIRS,
        "simhash": SQL_SIMHASH,
        "simhash_pairs": SQL_SIMHASH_PAIRS,
        "cosine_topk": SQL_COSINE_TOPK,
        "lsh_cosine_topk": SQL_LSH_COSINE,
        "ivf_cosine_topk": SQL_IVF_COSINE,
        "kmeans_centroids": SQL_KMEANS_CENTROIDS,
        "embedding_near_dup": SQL_EMB_NEAR_DUP,
        "semdedup": SQL_SEMDEDUP,
        "temperature_mixture": SQL_TEMPERATURE_MIXTURE,
        "epoch_plan": SQL_EPOCH_PLAN,
        "quantile_sketch": SQL_QUANTILE_SKETCH,
        "materialize_mixture": SQL_MATERIALIZE_MIXTURE,
        "global_shuffle": SQL_GLOBAL_SHUFFLE,
        "interleave_sequences": SQL_INTERLEAVE_SEQUENCES,
        "chat_offsets": SQL_CHAT_OFFSETS,
        "preference_pairs": SQL_PREFERENCE_PAIRS,
        "paragraph_lang": SQL_PARAGRAPH_LANG,
        "lang_mixedness": SQL_LANG_MIXEDNESS,
        "pca_component": SQL_PCA_COMPONENT,
        "pca_scores": SQL_PCA_SCORES,
        "random_projection": SQL_RANDOM_PROJECTION,
        "pca_components": SQL_PCA_COMPONENTS,
        "pca_embedding": SQL_PCA_EMBEDDING,
        "mean_pool": SQL_MEAN_POOL,
        "truncate_normalize": SQL_TRUNCATE_NORMALIZE,
        "pq_codebooks": SQL_PQ_CODEBOOKS,
        "pq_topk": SQL_PQ_TOPK,
        "warc_records": SQL_WARC_RECORDS,
        "bitext_mine": SQL_BITEXT_MINE,
        "wordpiece_merges": SQL_WORDPIECE_MERGES,
        "wordpiece_segment": SQL_WORDPIECE_SEGMENT,
        "winnow_fp": SQL_WINNOW_FP,
        "winnow_pairs": SQL_WINNOW_PAIRS,
        "toxicity_gate": SQL_TOXICITY_GATE,
        "prefix_join": SQL_PREFIX_JOIN,
        "failed_docs": SQL_FAILED,
        "failed_docs_poisoned": SQL_FAILED_POISONED,
        "summary_poisoned": SQL_SUMMARY_POISONED,
        "media_features": SQL_MEDIA,
        "frame_sample": SQL_FRAME_SAMPLE,
        "segment_audio": SQL_SEGMENT_AUDIO,
        "ocr_media": SQL_OCR_MEDIA,
        "detect_route": SQL_DETECT,
        "magic_detect": SQL_MAGIC_DETECT,
        "code_stats": SQL_CODE_STATS,
        "content_structure": SQL_CONTENT_STRUCTURE,
        "pdf_images": SQL_PDF_IMAGES,
        "arabic_tables": SQL_ARABIC_TABLES,
        "arabic_normalized": SQL_ARABIC_NORMALIZED,
        "sheet_structure": SQL_SHEET_STRUCTURE,
        "doc_metadata": SQL_DOC_METADATA,
        "registrable_domains": _sql_registrable_domains(),
        "page_meta": _sql_page_meta(),
        "frontier_schedule": SQL_FRONTIER_SCHEDULE,
        "canonical_dedup": _sql_canonical_dedup(),
        "recrawl_schedule": SQL_RECRAWL_SCHEDULE,
        "sitemap_entries": _sql_sitemap_entries(),
        "hreflang_pairs": _sql_hreflang_pairs(),
        "trustrank": _sql_trustrank(),
        "dup_histogram": SQL_DUP_HISTOGRAM,
        "crawl_depth": _sql_crawl_depth(),
        "html_tables": _sql_html_tables(),
        "outlink_profile": _sql_outlink_profile(),
        "heading_outline": _sql_heading_outline(),
        "url_features": _sql_url_features(),
        "feed_items": _sql_feed_items(),
    }
