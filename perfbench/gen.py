"""Seeded input generator for the extraction-job benchmark.

Builds ``(doc_id, spans)`` rows in the engine's input shape from a seed
alone. It deliberately does not import the package's own corpus module:
a change to the package must not be able to change the benchmark inputs.

The route mix follows the paper's fixture recipe (html 30%, xml 8%,
markdown 8%, json 6%, rtf 4%, pdf blocks + tables 14%, interleaved
text/media 20%, edge docs 10%). Text lengths are heavy-tailed (a Pareto
number of sentences per span), and media refs are drawn from a small
Zipf-weighted pool so the kernel's per-batch OCR lookup cache gets hits.
Giant docs (thousands of spans, shuffled offsets) feed the chunk layer.
"""

from __future__ import annotations

import json
import random
from typing import Any

ROUTES = ("html", "xml", "markdown", "json", "rtf", "pdf", "media", "edge")
ROUTE_WEIGHTS = (0.30, 0.08, 0.08, 0.06, 0.04, 0.14, 0.20, 0.10)

_WORDS = (
    "engine batch arrow column vector shard index token corpus stream "
    "record buffer merge scan filter reader writer layout region block "
    "page figure caption section heading paragraph margin footnote "
    "alpha beta gamma delta river stone cloud forest harbor lantern "
    "ﬁscal Ⅳ step②"          # NFKC-unstable words: ﬁ→fi, Ⅳ→IV, ②→2
).split()
_ARABIC = ["كتاب", "مدينة", "جدول", "بيانات", "صورة", "نص"]
_SLUGS = ["chart", "logo", "photo", "scan", "map", "icon", "plot", "badge",
          "seal", "graph", "sketch", "stamp"]
_SIZES = [(30, 20), (64, 40), (90, 60), (120, 55), (160, 90), (640, 480)]
_CHARREFS = ["&#8217;", "&#233;", "&#160;", "&#x2014;", "&#150;", "&amp;#66;",
             "&#x;"]


def _pareto_int(rng: random.Random, alpha: float, cap: int) -> int:
    """floor of a Pareto(alpha) draw (at least 1), capped: most draws
    are 1-2, a few are long (the heavy tail of real document lengths)."""
    return min(cap, int(rng.paretovariate(alpha)))


class _Vocab:
    """Pools drawn once per seed, so per-doc generation is cheap choices."""

    def __init__(self, rng: random.Random):
        def sentence() -> str:
            n = rng.randint(3, 14)
            return " ".join(rng.choice(_ARABIC) if rng.random() < 0.1
                            else rng.choice(_WORDS) for _ in range(n))

        self.sentences = [sentence() for _ in range(2048)]
        refs = []
        for i in range(240):
            w, h = rng.choice(_SIZES)
            slug = "-".join(rng.sample(_SLUGS, rng.randint(1, 4)))
            refs.append(f"img://{w}x{h}/{slug}{i % 7}")
        self.media_refs = refs
        # Zipf weights: a few refs (logos, badges) recur across many docs
        self.media_weights = [1.0 / (r + 1) for r in range(len(refs))]

    def text(self, rng: random.Random, alpha: float = 1.6,
             cap: int = 40) -> str:
        return " ".join(rng.choice(self.sentences)
                        for _ in range(_pareto_int(rng, alpha, cap)))

    def media_ref(self, rng: random.Random) -> str:
        return rng.choices(self.media_refs, self.media_weights)[0]


def _span(kind: str, text: str | None, offset: int | None,
          media_ref: str | None = None) -> dict[str, Any]:
    return {"kind": kind, "text": text, "media_ref": media_ref,
            "offset": offset}


def _html(v: _Vocab, rng: random.Random) -> list[dict[str, Any]]:
    blocks = []
    for _ in range(rng.randint(1, 5) + _pareto_int(rng, 1.8, 20)):
        tag = rng.choice(["p", "div", "li", "h3", "section"])
        inline = rng.choice(["", "<b>x</b> ", "<a href='/r'>ref</a> ",
                             rng.choice(_CHARREFS) + " "])
        blocks.append(f"<{tag}>{inline}{v.text(rng)}</{tag}>\n  ")
    nav = "".join(f"<a href='/{i}'>{rng.choice(_WORDS)}</a>"
                  for i in range(rng.randint(2, 5)))
    doc = (f"<html><head><title>{rng.choice(v.sentences)}</title>"
           f"<style>p{{margin:0}}</style></head><body>"
           f"<!-- {rng.choice(_WORDS)} --><nav>{nav}</nav>{''.join(blocks)}"
           f"<script>track({rng.randint(0, 999)})</script>"
           f"<footer>&copy; {rng.choice(_WORDS)} &amp; co</footer>"
           f"</body></html>")
    spans = [_span("html", doc, 0)]
    if rng.random() < 0.25:
        spans.append(_span("text", f"  {v.text(rng)}\n\n  \t\n{v.text(rng)} ",
                           1))
    return spans


def _xml(v: _Vocab, rng: random.Random) -> list[dict[str, Any]]:
    items = "".join(f"<entry n='{i}'>{v.text(rng)}</entry>\n"
                    for i in range(rng.randint(1, 6)))
    cdata = (f"<raw><![CDATA[a<b && {rng.choice(_WORDS)}]]></raw>"
             if rng.random() < 0.4 else "")
    doc = (f"<?xml version='1.0'?><feed><name>{rng.choice(v.sentences)}"
           f"</name>{items}{cdata}<memo>&lt;{rng.choice(_WORDS)}&gt; &#233;"
           f"</memo></feed>")
    return [_span("xml", doc, 0)]


def _markdown(v: _Vocab, rng: random.Random) -> list[dict[str, Any]]:
    lines = [f"## {rng.choice(v.sentences)}", ""]
    for _ in range(rng.randint(1, 4)):
        text, bold = v.text(rng), rng.choice(_WORDS)
        link = f"[{rng.choice(_WORDS)}](http://ex.org/{rng.randint(0, 99)})"
        lines += [f"{text} with **{bold}** and {link}", ""]
    if rng.random() < 0.5:
        lines += ["```", f"y = {rng.randint(0, 9)}  # _kept_ [verbatim](x)",
                  "```"]
    lines += ["| k | v |", "|---|---|",
              f"| {rng.choice(_WORDS)} | {rng.randint(0, 99)} |",
              f"> {rng.choice(v.sentences)}",
              f"![{rng.choice(_WORDS)}](fig{rng.randint(0, 9)}.png)"]
    return [_span("markdown", "\n".join(lines), 0)]


def _json(v: _Vocab, rng: random.Random) -> list[dict[str, Any]]:
    if rng.random() < 0.12:  # invalid: the raw-json fallback route
        return [_span("json", "{broken: " + rng.choice(v.sentences), 0)]
    obj = {"name": rng.choice(v.sentences), "n": rng.randint(0, 999),
           "tags": rng.sample(_WORDS, rng.randint(1, 4)),
           "body": {"text": v.text(rng), "ok": rng.random() < 0.5}}
    return [_span("json", json.dumps(obj, ensure_ascii=False), 0)]


def _rtf(v: _Vocab, rng: random.Random) -> list[dict[str, Any]]:
    esc = rng.choice(["\\u8217?t", "\\u233?t\\'e9", "\\u-3913?x",
                      "\\'93q\\'94", ""])
    doc = ("{\\rtf1\\ansi{\\fonttbl{\\f0 Helvetica;}}\\f0 "
           + v.text(rng) + "\\par " + rng.choice(v.sentences) + " " + esc
           + "\\line " + rng.choice(v.sentences) + "}")
    return [_span("rtf", doc, 0)]


def _table(rng: random.Random, ncols: int | None = None,
           nrows: int | None = None) -> str:
    ncols = ncols or rng.randint(2, 6)
    nrows = rng.randint(0, 5) if nrows is None else nrows
    rows = ["\t".join(f"h{c}" for c in range(ncols))]
    rows += ["\t".join(rng.choice(_WORDS) for _ in range(ncols))
             for _ in range(nrows)]
    return "\n".join(rows)


def _pdf(v: _Vocab, rng: random.Random, pages: int | None = None,
         blocks_per_page: int | None = None,
         media_p: float = 0.0) -> list[dict[str, Any]]:
    """Blocks with monotone page offsets, shuffled: the kernel must
    restore reading order."""
    spans = []
    n_pages = pages or rng.randint(1, 3) + _pareto_int(rng, 2.0, 8)
    for page in range(n_pages):
        for b in range(blocks_per_page or rng.randint(2, 8)):
            off = page * 10_000 + b
            roll = rng.random()
            if roll < media_p:
                spans.append(_span("media", None, off, v.media_ref(rng)))
            elif roll < media_p + 0.1:
                spans.append(_span("table", _table(rng), off))
            else:
                spans.append(_span("pdf_block", v.text(rng, 2.2, 6), off))
    rng.shuffle(spans)
    return spans


def _media(v: _Vocab, rng: random.Random) -> list[dict[str, Any]]:
    ctx = rng.choice(["media", "media_slide"])
    spans = []
    for off in range(rng.randint(3, 9)):
        roll = rng.random()
        if roll < 0.4:
            spans.append(_span(ctx, None, off, v.media_ref(rng)))
        elif roll < 0.5:
            spans.append(_span("table_slide",
                               _table(rng, nrows=rng.randint(0, 1)), off))
        else:
            kind = rng.choice(["text", "code", "header", "footer", "slide",
                               "sheet"])
            spans.append(_span(kind, v.text(rng, 2.0, 8), off))
    return spans


def _edge(v: _Vocab, rng: random.Random) -> list[dict[str, Any]]:
    case = rng.randint(0, 5)
    if case == 0:
        return []
    if case == 1:
        return [_span("text", " \n\t  \n", 0), _span("header", "  ", 1)]
    if case == 2:  # equal offsets: stable tie-break by array position
        return [_span("text", f"tie{j} {rng.choice(v.sentences)}", 7)
                for j in range(3)]
    if case == 3:  # unknown kind passes through; null offsets sort last
        return [_span("custom_x", rng.choice(v.sentences), None),
                _span("text", rng.choice(v.sentences), 2),
                _span("media", None, 0, "not-a-media-ref"),
                _span("table", None, 1)]
    if case == 4:  # column cap: more than 100 columns
        return [_span("table", _table(rng, ncols=rng.randint(101, 120),
                                      nrows=2), 0)]
    return [_span("html", None, 0),
            _span("footer", rng.choice(v.sentences), 1)]


_BUILDERS = {"html": _html, "xml": _xml, "markdown": _markdown,
             "json": _json, "rtf": _rtf, "pdf": _pdf, "media": _media,
             "edge": _edge}


def giant_doc(v: _Vocab, rng: random.Random, n_spans: int) -> list[dict]:
    """One giant pdf-like doc: pdf blocks, tables and media, shuffled."""
    per_page = 50
    return _pdf(v, rng, pages=-(-n_spans // per_page),
                blocks_per_page=per_page, media_p=0.08)[:n_spans]


def generate(seed: int, n_docs: int, n_giant: int = 0,
             giant_spans: int = 0) -> tuple[list[dict], dict]:
    """Return ``(rows, stats)``; rows match the engine's INPUT_SCHEMA.

    ``stats`` holds docs, spans, chars and the per-route doc counts.
    Giant docs are placed at seeded positions among the normal docs.
    """
    rng = random.Random(seed)
    vocab = _Vocab(rng)
    routes = rng.choices(ROUTES, ROUTE_WEIGHTS, k=n_docs)
    rows: list[dict] = []
    for i, route in enumerate(routes):
        rows.append({"doc_id": f"d{seed}-{i:07d}",
                     "spans": _BUILDERS[route](vocab, rng)})
    for g in range(n_giant):
        rows.insert(rng.randrange(len(rows) + 1),
                    {"doc_id": f"g{seed}-{g:03d}",
                     "spans": giant_doc(vocab, rng, giant_spans)})
        routes.append("giant")
    stats = input_stats(rows)
    stats["route_docs"] = {r: routes.count(r) for r in ROUTES + ("giant",)
                           if routes.count(r)}
    return rows, stats


def input_stats(rows: list[dict]) -> dict:
    spans = sum(len(r["spans"]) for r in rows)
    chars = sum(len(s["text"]) for r in rows for s in r["spans"]
                if s["text"] is not None)
    return {"docs": len(rows), "spans": spans, "chars": chars}
