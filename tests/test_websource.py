"""Round-5 web-source tier: registrable domains (eTLD+1), page
metadata mining, frontier scheduling."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rag_document_parser_spark.operators.frontier import frontier_schedule
from rag_document_parser_spark.operators.urls import (
    registrable_domain,
    registrable_domain_stats,
)
from rag_document_parser_spark.operators.webmeta import page_meta


def test_registrable_domain_suffix_tiers(spark):
    cases = {
        "a.b.site.co.uk": "site.co.uk",      # two-label PSL entry
        "www.x.com": "x.com",                # one-label
        "cdn.y.github.io": "y.github.io",    # private registry
        "x.blogspot.com": "x.blogspot.com",  # private beats .com
        "deep.a.b.co.jp": "b.co.jp",
        "plain.example": "plain.example",    # unmatched: last two labels
        "com": "com",                        # bare suffix: itself
        "localhost": "localhost",            # single label: itself
    }
    df = spark.createDataFrame([(h,) for h in cases], ["h"])
    got = {r["h"]: r["r"] for r in
           df.select("h", registrable_domain(F.col("h")).alias("r"))
           .collect()}
    assert got == cases


def test_registrable_domain_stats_pools_hosts(spark):
    df = spark.createDataFrame([
        (1, "see http://www.site.co.uk/a and http://cdn.site.co.uk/b"),
        (2, "see https://site.co.uk/c"),
        (3, "see http://other.com/x"),
    ], ["doc_id", "text"])
    got = {r["registrable"]: (r["n_docs"], r["n_urls"], r["n_hosts"])
           for r in registrable_domain_stats(df).collect()}
    assert got == {"site.co.uk": (2, 3, 3), "other.com": (1, 1, 1)}


def test_page_meta_fields_and_absences(spark):
    html = ('<html><head><title>Page T</title>'
            '<meta property="og:title" content="OG title"/>'
            '<meta property="og:description" content="OG desc"/>'
            '<link rel="canonical" href="https://x.example/c"/>'
            '<meta name="robots" content="NOINDEX, nofollow"/>'
            '<script type="application/ld+json">{"a":1}</script>'
            '<script type="application/ld+json">{"b":2}</script>'
            '</head><body>body</body></html>')
    bare = "<html><head></head><body>no meta at all</body></html>"
    df = spark.createDataFrame([(1, html), (2, bare)], ["doc_id", "text"])
    got = {r["id"]: r.asDict() for r in page_meta(df).collect()}
    full = got[1]
    assert full["og_title"] == "OG title"
    assert full["og_description"] == "OG desc"
    assert full["canonical"] == "https://x.example/c"
    assert full["robots_meta"] == "NOINDEX, nofollow"
    assert full["noindex"] is True           # case-insensitive token
    assert full["n_jsonld"] == 2
    assert full["title"] == "Page T"
    none = got[2]
    for f in ("og_title", "og_description", "canonical", "robots_meta",
              "title"):
        assert none[f] is None
    assert none["noindex"] is False and none["n_jsonld"] == 0


def test_frontier_schedule_politeness_and_diversity(spark):
    rows = [(i, "hot", 100 - i, 200) for i in range(10)]   # 10 urls, 1 host
    rows += [(100 + i, f"cold{i}", 1, 500) for i in range(3)]
    df = spark.createDataFrame(
        rows, ["url_id", "host", "priority", "delay_ms"])
    out = frontier_schedule(df, per_host_cap=4, budget=6)
    got = out.collect()
    # hot host capped at 4 despite having the 10 best priorities; the
    # budget's remaining 2 slots go to the best cold urls
    assert [r["url_id"] for r in got] == [0, 1, 2, 3, 100, 101]
    hot = {r["url_id"]: r for r in got if r["host"] == "hot"}
    assert [hot[i]["rank_in_host"] for i in range(4)] == [1, 2, 3, 4]
    assert [hot[i]["not_before_ms"] for i in range(4)] == [0, 200, 400, 600]
    # cold hosts each start immediately
    assert all(r["not_before_ms"] == 0 for r in got if r["host"] != "hot")


def test_frontier_schedule_order_invariance(spark):
    rows = [(i, f"h{i % 3}", (i * 7) % 11, 100) for i in range(30)]
    df = spark.createDataFrame(
        rows, ["url_id", "host", "priority", "delay_ms"])
    a = frontier_schedule(df, per_host_cap=5, budget=12).collect()
    b = frontier_schedule(df.orderBy(F.rand(7)), per_host_cap=5,
                          budget=12).collect()
    assert a == b


def test_frontier_schedule_host_queue_guard(spark):
    df = spark.createDataFrame(
        [(i, "mega", 1, 100) for i in range(50)],
        ["url_id", "host", "priority", "delay_ms"])
    with pytest.raises(Exception, match="max_host_queue"):
        frontier_schedule(df, max_host_queue=10).collect()


def test_frontier_schedule_empty_frontier(spark):
    """A drained frontier schedules nothing; the host-queue guard must
    not fire on it."""
    df = spark.createDataFrame(
        [], "url_id long, host string, priority long, delay_ms long")
    assert frontier_schedule(df, max_host_queue=10).collect() == []


def test_canonical_dedup_groups_and_solo_docs(spark):
    from rag_document_parser_spark.operators.webmeta import canonical_dedup
    mk = ('<html><head><link rel="canonical" href="{}"/>'
          '</head><body>b</body></html>')
    df = spark.createDataFrame([
        (1, mk.format("https://x.example/a")),
        (5, mk.format("https://x.example/a")),   # same target, later id
        (3, mk.format("https://x.example/b")),
        (9, "<html><head></head><body>no canonical</body></html>"),
    ], ["doc_id", "text"])
    got = {r["id"]: (r["rep_id"], r["canonical_dup"])
           for r in canonical_dedup(df).collect()}
    assert got == {1: (1, False), 5: (1, True),
                   3: (3, False), 9: (9, False)}


def test_recrawl_schedule_intervals(spark):
    from datetime import datetime
    from rag_document_parser_spark.operators.frontier import (
        recrawl_schedule)

    def t(h):
        return datetime(2024, 1, 1, h)

    rows = [
        # url 1: 5 fetches over 4h, 2 changes -> interval = 4h/2 = 2h
        *[(1, t(i), i in (1, 3)) for i in range(5)],
        # url 2: never changed -> max interval
        *[(2, t(i), False) for i in range(3)],
        # url 3: single observation -> max interval
        (3, t(0), True),
        # url 4: changes every fetch over 2h -> raw 40min, clamped to
        # the 1h floor
        *[(4, t(i), True) for i in range(4)],
    ]
    df = spark.createDataFrame(rows, ["url_id", "ts", "changed"])
    got = {r["url_id"]: r.asDict() for r in
           recrawl_schedule(df, min_interval_s=3600,
                            max_interval_s=86_400).collect()}
    H = 3_600_000_000
    assert got[1]["interval_us"] == 2 * H
    assert got[1]["next_fetch_us"] == got[1]["interval_us"] + \
        int(datetime(2024, 1, 1, 4).timestamp() * 1e6)
    assert got[2]["interval_us"] == 24 * H
    assert got[3]["interval_us"] == 24 * H and got[3]["n_obs"] == 1
    assert got[4]["interval_us"] == H          # clamped to the floor


def test_parse_sitemaps_block_scoped(spark):
    from rag_document_parser_spark.operators.webmeta import parse_sitemaps
    xml = ('<?xml version="1.0"?><urlset>'
           '<url><loc>https://a.example/1</loc>'
           '<lastmod>2026-02-03</lastmod></url>'
           '<url><loc>https://a.example/2</loc></url>'   # no lastmod
           '<url><lastmod>2026-09-09</lastmod></url>'    # no loc: dropped
           '<url><loc>https://a.example/3</loc>'
           '<lastmod>2026-04-05</lastmod></url>'
           '</urlset>')
    got = [(r["entry_idx"], r["loc"], r["lastmod"]) for r in
           parse_sitemaps(spark.createDataFrame([(1, xml)],
                                                ["doc_id", "text"]))
           .orderBy("entry_idx").collect()]
    # the loc-less block is dropped WITHOUT stealing lastmods from its
    # neighbours (the misalignment an unscoped two-stream extract makes)
    assert got == [(0, "https://a.example/1", "2026-02-03"),
                   (1, "https://a.example/2", None),
                   (3, "https://a.example/3", "2026-04-05")]


def test_hreflang_alternates_order_and_case(spark):
    from rag_document_parser_spark.operators.webmeta import (
        hreflang_alternates)
    html = ('<html><head>'
            '<link rel="alternate" hreflang="EN" href="https://x/en"/>'
            '<link rel="alternate" hreflang="de-AT" href="https://x/de"/>'
            '<link rel="stylesheet" href="https://x/css"/>'
            '</head><body></body></html>')
    got = [(r["alt_idx"], r["hreflang"], r["href"]) for r in
           hreflang_alternates(spark.createDataFrame(
               [(7, html)], ["doc_id", "text"]))
           .orderBy("alt_idx").collect()]
    assert got == [(0, "en", "https://x/en"), (1, "de-at", "https://x/de")]


def test_html_tables_structure_and_cleanup(spark):
    from rag_document_parser_spark.operators.webmeta import html_tables
    html = ('<html><body>'
            '<table class="x"><tr><th>H1</th><th>A &amp; B</th></tr>'
            '<tr><td><b>bold</b>\n  text</td><td>  2 </td></tr></table>'
            '<p>between</p>'
            '<table><tr><td>only</td></tr>'
            '<tr><!-- no cells --></tr></table>'
            '</body></html>')
    df = spark.createDataFrame([(1, html)], ["doc_id", "text"])
    got = [(r["table_idx"], r["row_idx"], r["n_cells"], r["cells"])
           for r in html_tables(df).orderBy("table_idx",
                                            "row_idx").collect()]
    assert got == [
        (0, 0, 2, "H1 | A & B"),          # entity decoded
        (0, 1, 2, "bold text | 2"),       # tag strip + ws collapse + trim
        (1, 0, 1, "only"),
        (1, 1, 0, ""),                    # cell-less row kept, flagged 0
    ]
    assert html_tables(spark.createDataFrame(
        [(2, "<html><body>no tables</body></html>")],
        ["doc_id", "text"])).count() == 0


def test_outlink_profile_internal_vs_external(spark):
    from rag_document_parser_spark.operators.urls import outlink_profile
    df = spark.createDataFrame([
        (1, "https://www.site.co.uk/p",
         "see https://cdn.site.co.uk/a and http://other.com/b "
         "and https://site.co.uk/c"),
        (2, "https://www.site.co.uk/q", "no links at all"),
    ], ["doc_id", "url", "text"])
    got = {r["id"]: r.asDict() for r in outlink_profile(df).collect()}
    a = got[1]
    assert a["page_registrable"] == "site.co.uk"
    assert (a["n_links"], a["n_internal"], a["n_external"]) == (3, 2, 1)
    assert a["internal_frac_e6"] == 666666    # exact floor of 2/3
    b = got[2]
    assert (b["n_links"], b["internal_frac_e6"]) == (0, None)


def test_heading_outline_order_levels_cleanup(spark):
    from rag_document_parser_spark.operators.webmeta import heading_outline
    html = ('<html><body><h1>Top <em>em</em></h1><p>x</p>'
            '<h2 class="a">A &amp; B</h2>'
            '<h3>  spaced\n out  </h3>'
            '<h2>Second</h2></body></html>')
    df = spark.createDataFrame([(1, html)], ["doc_id", "text"])
    got = [(r["heading_idx"], r["level"], r["heading"]) for r in
           heading_outline(df).orderBy("heading_idx").collect()]
    assert got == [(0, 1, "Top em"), (1, 2, "A & B"),
                   (2, 3, "spaced out"), (3, 2, "Second")]
    assert heading_outline(spark.createDataFrame(
        [(2, "<html><body><p>no headings</p></body></html>")],
        ["doc_id", "text"])).count() == 0


def test_url_features_lexical_signals(spark):
    from rag_document_parser_spark.operators.urls import url_features
    df = spark.createDataFrame([
        (1, "https://www.shop.co.uk/a/b/item99123?q=1&SESSIONID=zz&x"),
        (2, "https://plain.com/p%20q"),
        (3, "https://h.com/"),
    ], ["doc_id", "url"])
    got = {r["id"]: r.asDict() for r in url_features(df).collect()}
    a = got[1]
    assert a["registrable"] == "shop.co.uk"
    assert (a["path_depth"], a["n_params"]) == (3, 2)  # bare 'x' not a param
    assert a["n_digits"] == 5 and a["longest_digit_run"] == 5
    assert a["has_session_param"] is True              # case-insensitive
    assert a["pct_encoded"] is False
    b = got[2]
    assert b["pct_encoded"] is True and b["has_session_param"] is False
    c = got[3]
    assert (c["path_depth"], c["path_len"], c["n_params"],
            c["longest_digit_run"]) == (0, 1, 0, 0)


def test_parse_feeds_rss_and_atom(spark):
    from rag_document_parser_spark.operators.webmeta import parse_feeds
    rss = ('<rss><channel><title>chan</title>'
           '<item><title>A</title><link>https://x/a</link>'
           '<pubDate>2026-01-02</pubDate></item>'
           '<item><category>bare</category></item>'   # malformed: dropped
           '<item><link> https://x/b </link></item>'  # link-only kept
           '</channel></rss>')
    atom = ('<feed><title>f</title>'
            '<entry><title> N1 </title>'
            '<link rel="alternate" href="https://y/1"/>'
            '<updated>2026-02-03</updated></entry></feed>')
    df = spark.createDataFrame([(1, rss), (2, atom)], ["doc_id", "text"])
    got = [(r["id"], r["item_idx"], r["title"], r["link"], r["published"])
           for r in parse_feeds(df).orderBy("id", "item_idx").collect()]
    assert got == [
        (1, 0, "A", "https://x/a", "2026-01-02"),
        (1, 2, None, "https://x/b", None),   # idx counts the dropped one
        (2, 0, "N1", "https://y/1", "2026-02-03"),
    ]
