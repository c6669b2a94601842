"""Column-expression builders for reporting and text statistics.

Each function returns a ``pyspark.sql.Column`` built purely from built-in
functions — JVM-side, whole-stage-codegen eligible, zero Python at runtime.
They serve ``reporting.py``, ``operators/textstats.py`` and the queries in
``__spark_entry__.py``. Regex constants come from ``semantics.py`` so every
implementation agrees byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from rag_document_parser_spark import semantics as S


def strip(c: Column) -> Column:
    return F.regexp_replace(c, S.RE_STRIP, "")


# E25 opt-in Arabic normalizer — the processing-side analog of the
# reference's reshape+bidi DISPLAY pipeline
# (/root/reference/parsers/document_parser.py:410-429), promised as an
# opt-in by SURVEY §7. Documented subset: strip tashkeel diacritics and
# tatweel, unify alef variants, alef-maqsura→ya, teh-marbuta→ha. The
# char classes live in semantics.py (single source shared with the
# python contract, the Arrow kernel and the DuckDB oracles).
def arabic_normalize(c: Column) -> Column:
    c = F.regexp_replace(c, S.RE_TASHKEEL, "")
    c = F.replace(c, F.lit(S.TATWEEL), F.lit(""))
    c = F.regexp_replace(c, S.ALEF_VARIANTS, "ا")
    c = F.replace(c, F.lit("ى"), F.lit("ي"))
    c = F.replace(c, F.lit("ة"), F.lit("ه"))
    return c


def arabic_char_count(c: Column) -> Column:
    """A4 (/root/reference/main.py:417-421): count chars in U+0600–U+06FF."""
    return F.length(c) - F.length(F.regexp_replace(c, f"[{S.ARABIC_RANGE}]", ""))


def latin_char_count(c: Column) -> Column:
    return F.length(c) - F.length(F.regexp_replace(c, "[A-Za-z]", ""))


def language_classify(c: Column) -> Column:
    """A6 (/root/reference/example_usage_reporting.py:427-435): 2x rule."""
    a, l = arabic_char_count(c), latin_char_count(c)
    return (
        F.when(a > 2 * l, F.lit("primarily_arabic"))
        .when(l > 2 * a, F.lit("primarily_english"))
        .otherwise(F.lit("mixed"))
    )


def word_count(c: Column) -> Column:
    """E9 (text_parser.py:371): len(content.split()) — whitespace-run split."""
    t = strip(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, S.RE_WS_RUN)))


def line_count(c: Column) -> Column:
    return F.size(F.split(c, "\n"))


def page_count_estimate(c: Column) -> Column:
    """E9 (text_parser.py:372): max(1, lines // 50)."""
    return F.greatest(F.lit(1), F.floor(line_count(c) / 50)).cast("int")


def title_heuristic(c: Column) -> Column:
    """E9 (text_parser.py:374-380): first line if <100 chars, <=10 words, no trailing '.'."""
    first = strip(F.substring_index(c, "\n", 1))
    looks_like_title = (
        (first != "")
        & (F.length(first) < 100)
        & (~F.endswith(first, F.lit(".")))
        & (F.size(F.split(first, S.RE_WS_RUN)) <= 10)
    )
    return F.when(looks_like_title, first)


def code_title(c: Column) -> Column:
    """E6 (text_parser.py:291-298): first comment line (<100 chars) in first 10 lines."""
    first10 = F.slice(F.split(c, "\n"), 1, 10)
    cleaned = F.transform(
        first10,
        lambda line: F.regexp_replace(strip(line), r"^[#/*\-% ]+", ""),
    )
    candidates = F.zip_with(
        first10,
        cleaned,
        lambda raw, cl: F.when(
            F.regexp_like(strip(raw), F.lit(r"^[#/\-%][#/*\-% ]*")) |
            F.startswith(strip(raw), F.lit("/*")),
            cl,
        ),
    )
    good = F.filter(candidates, lambda t: t.isNotNull() & (t != "") & (F.length(t) < 100))
    return F.element_at(F.concat(good, F.array(F.lit(None).cast("string"))), 1)


def non_empty_line_count(c: Column) -> Column:
    """E6 (text_parser.py:287-288): count of non-blank lines."""
    return F.size(F.filter(F.split(c, "\n"), lambda l: strip(l) != ""))


def truncate_with_ellipsis(c: Column, n: int = 500) -> Column:
    """L4 (parse_result.py:146-154): content[:n] + '...' when longer."""
    return F.when(F.length(c) > n, F.concat(F.substring(c, 1, n), F.lit("...")))\
            .otherwise(c)
