"""Golden-fixture invariant: span-sequence equality (kind, text, media_ref, order).

The Arrow kernel must reproduce ``semantics.clean_doc`` exactly on the
FIXTURES.md corpus. This is the north-rule verify (`python -m pytest -x -q`).
"""

from __future__ import annotations

import pytest

from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from rag_document_parser_spark.corpus import fixture_df, generate_fixture_docs
from rag_document_parser_spark.operators.extract_arrow import extract_arrow
from rag_document_parser_spark.semantics import clean_doc

N_DOCS = 250


def _expected(docs, cfg):
    out = {}
    for d in docs:
        spans_clean, route, title, success, error = clean_doc(d["spans"], cfg)
        out[d["doc_id"]] = (
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans_clean],
            route,
            title,
        )
    return out


def _actual(result_df):
    out = {}
    for row in result_df.collect():
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in (row["spans_clean"] or [])]
        out[row["doc_id"]] = (spans, row["route"], row["title"])
        assert row["success"] is True
        assert row["error"] is None
    return out


def _assert_equal(expected, actual):
    assert set(expected) == set(actual)
    mismatches = []
    for doc_id in expected:
        if expected[doc_id] != actual[doc_id]:
            mismatches.append((doc_id, expected[doc_id], actual[doc_id]))
    assert not mismatches, (
        f"{len(mismatches)}/{len(expected)} docs mismatch; first: "
        f"{mismatches[0][0]}\nexpected={mismatches[0][1]}\nactual={mismatches[0][2]}"
    )


@pytest.fixture(scope="module")
def docs():
    return generate_fixture_docs(seed=42, n_docs=N_DOCS)


# the raw legs: no NFKC, and the reference's raw_json fallback for every
# json span
RAW_CONFIG = ExtractConfig(normalize_unicode=False, flatten_json=False)


@pytest.mark.parametrize("cfg", [DEFAULT_CONFIG, RAW_CONFIG],
                         ids=["default", "raw"])
def test_arrow_kernel_matches_golden(spark, docs, cfg):
    df = fixture_df(spark, seed=42, n_docs=N_DOCS)
    _assert_equal(_expected(docs, cfg), _actual(extract_arrow(df, cfg)))


NASTY_HTML = [
    # <header> must NOT be eaten by the <head> removal
    "<header>site banner words enough to pass density here</header>"
    "<p>body text</p>",
    # case-insensitive head/title; title with inline markup
    "<HeAd data-x='1'>junk<TITLE><b>Real</b> Title</TITLE></HEAD>"
    "<P>after head</p>",
    # comment hiding markup; script containing '<'
    "<!-- <p>hidden</p> --><script>if(a<b){x()}</script><p>visible</p>",
    # link-density: short link row dropped, long link row kept (>=40 chars)
    "<nav><a href='#'>Home</a> <a href='#'>About</a></nav>"
    "<div><a>this anchor text is well over forty characters long"
    " indeed</a></div>",
    # <abbr> starts with '<a' but is not an anchor
    "<p><abbr>HTML</abbr> stands for hypertext markup language</p>",
    # entities incl. double-escaped and unknown; nbsp
    "<p>&amp;lt; stays literal &copy; corp&nbsp;inc &unknown; x</p>",
    # stray angle brackets and unclosed tags
    "<div>a < b and c > d <span>unclosed",
    # br/hr as block boundaries; empty title
    "<title>  </title>line one<br>line two<hr>line three",
    # anchor with a non-ws char after <a (the \b boundary): still a link
    "<nav><a/ href='#'>Home</a><a\tid=2>About</a></nav><p>body stays "
    "with enough characters to pass the density rule</p>",
]


def test_dom_adversarial_html_all_engines(spark):
    """Hand-crafted nasty markup: the DOM contract is a total function;
    Python and Arrow must agree byte-for-byte even on
    malformed input, and the specific traps (header-vs-head, abbr-vs-a,
    density boundary, comment-hidden markup) must behave as specified."""
    from rag_document_parser_spark.schema import INPUT_SCHEMA

    cfg = ExtractConfig(normalize_unicode=False, flatten_json=False)
    docs = [{"doc_id": f"nasty-{i}",
             "spans": [{"kind": "html", "text": t, "media_ref": None,
                        "offset": 0}]}
            for i, t in enumerate(NASTY_HTML)]
    expected = _expected(docs, cfg)
    df = spark.createDataFrame(docs, schema=INPUT_SCHEMA)
    _assert_equal(expected, _actual(extract_arrow(df, cfg)))

    txt = {d["doc_id"]: (expected[d["doc_id"]][0][0][1]
                         if expected[d["doc_id"]][0] else "")
           for d in docs}
    assert "site banner words" in txt["nasty-0"]       # header survived
    assert expected["nasty-1"][2] == "Real Title"      # titled, tags stripped
    assert "hidden" not in txt["nasty-2"]
    assert "visible" in txt["nasty-2"]
    assert "Home" not in txt["nasty-3"]                # short link row dropped
    assert "forty characters" in txt["nasty-3"]        # long link block kept
    assert "HTML stands for" in txt["nasty-4"]         # abbr not eaten
    assert "&lt; stays literal" in txt["nasty-5"]      # &amp;lt; → &lt;
    assert "© corp" in txt["nasty-5"]
    assert expected["nasty-7"][2] is None              # blank title → NULL
    assert txt["nasty-7"] == "line one\nline two\nline three"


def test_dom_html_differs_from_regex_fallback(spark, docs):
    """The DOM path (E1) is really DOM semantics, not the regex fallback:
    titles captured, nav link-blocks dropped by density, newline block
    structure — and the kernel implements BOTH modes against the
    contract."""
    dom_cfg = ExtractConfig(normalize_unicode=False, flatten_json=False)
    rx_cfg = ExtractConfig(normalize_unicode=False, flatten_json=False,
                           html_mode="regex")
    df = fixture_df(spark, seed=42, n_docs=N_DOCS)
    exp_dom = _expected(docs, dom_cfg)
    exp_rx = _expected(docs, rx_cfg)
    _assert_equal(exp_rx, _actual(extract_arrow(df, rx_cfg)))

    html_ids = [d["doc_id"] for d in docs
                if any(s.get("kind") == "html" and s.get("text")
                       for s in d["spans"])]
    assert len(html_ids) > 30
    differs = sum(exp_dom[i][0] != exp_rx[i][0] for i in html_ids)
    assert differs > 30  # boilerplate dropped / structure differs
    dom_titles = [exp_dom[i][2] for i in html_ids if exp_dom[i][2]]
    assert len(dom_titles) > 30  # <title> captured in dom mode
    assert all(exp_rx[i][2] is None for i in html_ids)  # never in regex
    # nav boilerplate ("Home"/"About" link row) survives regex, not DOM
    nav_doc = next(i for i in html_ids if "Home" in exp_rx[i][0][0][1])
    assert "Home" not in exp_dom[nav_doc][0][0][1]


def test_table_caps_enforced_in_both_engines(spark):
    """Row/col caps (semantics.render_table) bind in the kernel, not just
    the oracle: a tiny-cap config on an over-cap payload must truncate
    identically in pure Python and Arrow."""
    from rag_document_parser_spark.schema import INPUT_SCHEMA

    cfg = ExtractConfig(normalize_unicode=False, flatten_json=False,
                        max_table_rows=3, max_table_columns=2)
    grid = "\n".join("\t".join(f"r{r}c{c}" for c in range(5))
                     for r in range(8))
    docs = [
        {"doc_id": "over", "spans": [
            {"kind": "table", "text": grid, "media_ref": None, "offset": 0}]},
        {"doc_id": "under", "spans": [
            {"kind": "table", "text": "h1\th2\na\tb",
             "media_ref": None, "offset": 0}]},
        {"doc_id": "headeronly", "spans": [
            {"kind": "table", "text": "h1\th2", "media_ref": None,
             "offset": 0}]},
    ]
    expected = _expected(docs, cfg)
    over_text = expected["over"][0][0][1]
    assert over_text.count("\n") == 4  # header + dash + 3 capped data rows
    assert over_text.splitlines()[0] == "r0c0 | r0c1"  # 2-col cap
    assert expected["headeronly"][0] == []  # accept rule drops it
    df = spark.createDataFrame(docs, schema=INPUT_SCHEMA)
    _assert_equal(expected, _actual(extract_arrow(df, cfg)))


def test_idempotence(spark):
    """extract(extract(x)) == extract(x) for kinds whose cleaning is a fixpoint.

    header/footer (prefix-adding) and table (render-inserting) kinds are
    excluded by design — re-parsing rendered output is not an identity for
    them, same as re-feeding the reference parser its own text output.
    """
    cfg = ExtractConfig()
    df = fixture_df(spark, seed=42, n_docs=80)
    once = extract_arrow(df, cfg)
    # html left out since the DOM path: its output is block-per-line text,
    # and re-parsing text as markup collapses the newline structure (one
    # block), exactly like re-rendering a rendered table
    fixpoint_kinds = {"text", "code", "pdf_block", "media", "media_slide"}
    o = _actual(once)
    again = extract_arrow(
        once.select("doc_id", once["spans_clean"].alias("spans")), cfg
    )
    g = _actual(again)
    for doc_id in o:
        exp = [s for s in o[doc_id][0] if s[0] in fixpoint_kinds]
        got = [s for s in g[doc_id][0] if s[0] in fixpoint_kinds]
        assert exp == got, doc_id


def test_arabic_tables_three_way_parity(spark):
    """E20 opt-in: Arabic cell normalization inside the table render
    agrees across pure Python and Arrow — including the
    strict-vs-lax accept split on a header-only payload and a doc with
    the flag OFF (cells pass through verbatim)."""
    from rag_document_parser_spark.schema import INPUT_SCHEMA

    payload = "الإِسْمُ\tالقِيْـمَةُ\nالقِرَاءَةُ\t42\nأَهْلاً ى\tمَكْتَبَةٌ"
    docs = [
        {"doc_id": "full", "spans": [
            {"kind": "table", "text": payload, "media_ref": None,
             "offset": 0}]},
        {"doc_id": "headeronly", "spans": [
            {"kind": "table", "text": "الإِسْمُ\tق", "media_ref": None,
             "offset": 0},
            {"kind": "table_slide", "text": "الإِسْمُ\tق",
             "media_ref": None, "offset": 1}]},
    ]
    cfg = ExtractConfig(normalize_unicode=False, flatten_json=False,
                        arabic_tables=True)
    expected = _expected(docs, cfg)
    full_text = expected["full"][0][0][1]
    assert "الاسم | القيمه" in full_text          # normalized header
    assert "اهلا ي | مكتبه" in full_text          # alef/ya/ha unified
    assert "ِ" not in full_text and "ـ" not in full_text
    assert expected["headeronly"][0][0][0] == "table_slide"  # strict drops
    df = spark.createDataFrame(docs, schema=INPUT_SCHEMA)
    _assert_equal(expected, _actual(extract_arrow(df, cfg)))

    off = ExtractConfig(normalize_unicode=False, flatten_json=False)
    exp_off = _expected(docs, off)
    assert "الإِسْمُ" in exp_off["full"][0][0][1]  # verbatim when off
    _assert_equal(exp_off, _actual(extract_arrow(df, off)))


MD_HTML_DOCS = [
    # inline HTML after rules: tags strip, entities decode, layout kept
    "# H\n\nplain *em* text\nraw <b>bold</b> &amp; caf&#233; "
    "<em x=1>ok</em> end",
    # tag opener inside a FENCE only: verbatim, no entity decode
    "before\n```\n<div>kept</div> &amp; raw\n```\nafter no tags",
    # no tag opener at all: entities stay literal (documented subset)
    "a &amp; b &#65; c",
    # closing-tag opener gates too; script content is KEPT (get_text
    # does not decompose — reference text_parser.py:223-237)
    "x</span> <script>var q=2;</script> y",
    # prose less-than does NOT gate (no letter after <)
    "3 < 4 and 5 <= 6 stay",
]


def test_markdown_inline_html_passthrough_all_engines(spark):
    """E4 HTML passthrough (round-5 promotion): markdown spans whose
    post-MD_RULES text still carries a tag opener get tag strip +
    charref + named entities in Python and Arrow alike;
    fences and tagless segments stay untouched."""
    from rag_document_parser_spark.schema import INPUT_SCHEMA

    cfg = ExtractConfig(normalize_unicode=False, flatten_json=False)
    docs = [{"doc_id": f"mdhtml-{i}",
             "spans": [{"kind": "markdown", "text": t, "media_ref": None,
                        "offset": 0}]}
            for i, t in enumerate(MD_HTML_DOCS)]
    expected = _expected(docs, cfg)
    df = spark.createDataFrame(docs, schema=INPUT_SCHEMA)
    _assert_equal(expected, _actual(extract_arrow(df, cfg)))

    txt = {d["doc_id"]: (expected[d["doc_id"]][0][0][1]
                         if expected[d["doc_id"]][0] else "")
           for d in docs}
    assert "raw bold & café ok end" in txt["mdhtml-0"]
    assert "<b>" not in txt["mdhtml-0"]
    assert "<div>kept</div> &amp; raw" in txt["mdhtml-1"]   # fence verbatim
    assert txt["mdhtml-2"] == "a &amp; b &#65; c"           # no gate
    assert txt["mdhtml-3"] == "x var q=2; y"                # script text kept
    assert txt["mdhtml-4"] == "3 < 4 and 5 <= 6 stay"       # prose <
