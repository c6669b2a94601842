"""The extraction contract — single source of truth.

This module defines, in pure Python, exactly what ``spans_clean`` must be
for a given ``(doc_id, spans)`` row. It is the *golden oracle* for the
pytest invariant (span-sequence equality on (kind, text, media_ref, order),
per BASELINE.json) and the spec that the Arrow kernel
(``operators/extract_arrow.py``) and the DuckDB oracle SQL
(``__spark_entry__.py``) both implement.

Every rule cites the reference behavior it reproduces
(``/root/reference/...``). Regexes are **RE2-safe** (no backreferences, no
lookaround) so the identical pattern runs under java.util.regex (Spark),
RE2 (DuckDB, pyarrow) and Python ``re``. Whitespace classes are explicit
ASCII so engines with different ``\\s`` semantics agree.
"""

from __future__ import annotations

import hashlib
import re
import unicodedata
from typing import Any, Optional

from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig

# --------------------------------------------------------------------------
# Shared regex constants (identical strings are used in Spark SQL / DuckDB)
# --------------------------------------------------------------------------

# ASCII whitespace class — explicit, engine-portable (no bare \s).
WS = r" \t\n\r\f\x0B"
WS_NO_NL = r" \t\r\f\x0B"

# E2 html regex strip (/root/reference/parsers/text_parser.py:309-320).
# The reference uses a backreference <(script|style)...</\1>; RE2 has no
# backreferences, so the contract expands it to an explicit alternation
# (identical behavior on well-formed input).
RE_SCRIPT_STYLE = r"(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>"
RE_TAG = r"<[^>]+>"
RE_WS_RUN = rf"[{WS}]+"
RE_STRIP = rf"^[{WS}]+|[{WS}]+$"

# --- E1 DOM html path (primary; /root/reference/parsers/text_parser.py:
# 150-180 BeautifulSoup semantics + the north-star's readability-style
# text-density rule). All patterns RE2-safe; html.parser node classes map
# to regex passes for well-formed markup:
#   Comment nodes          -> RE_HTML_COMMENT removal
#   <head> subtree         -> RE_HEAD removal (title captured first)
#   block-level elements   -> boundaries (get_text's newline structure)
#   NavigableString        -> tag strip + entity decode inside each block
RE_HTML_COMMENT = r"(?s)<!--.*?-->"
RE_HEAD = rf"(?is)<head(?:[{WS}][^>]*)?>.*?</head>"
# decompose fused into ONE left-to-right scan (script/style | comment |
# head). This is closer to html.parser's tokenization than three
# sequential passes — a commented-out <script> is comment first, exactly
# as a DOM parser sees it — and it is one full-copy pass instead of
# three (the kernel's binding resource is memory bandwidth).
RE_HTML_DECOMPOSE = (
    r"(?is:<script[^>]*>.*?</script>|<style[^>]*>.*?</style>)"
    r"|(?s:<!--.*?-->)"
    rf"|(?is:<head(?:[{WS}][^>]*)?>.*?</head>)")
RE_TITLE = rf"(?is)<title(?:[{WS}][^>]*)?>(.*?)</title>"
_BLOCK_TAGS = ("html|head|body|div|p|h1|h2|h3|h4|h5|h6|ul|ol|li|dl|dt|dd|"
               "table|thead|tbody|tfoot|tr|caption|nav|header|footer|"
               "section|article|aside|main|figure|figcaption|blockquote|"
               "pre|form|fieldset|hr|br|title")
RE_BLOCK_TAG = rf"(?i)</?(?:{_BLOCK_TAGS})\b[^>]*>"
RE_ANCHOR = r"(?is)<a\b[^>]*>.*?</a>"
BLOCK_SEP = "\x01"  # sentinel; cannot appear in decoded text

# html.parser entity decoding, named subset (&amp; last so "&amp;lt;"
# yields the literal "&lt;", matching DOM text nodes).
HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
    ("&nbsp;", " "), ("&copy;", "©"), ("&amp;", "&"),
]

# Numeric character references — html5 semantics as implemented by
# html.parser / html.unescape (what BeautifulSoup's get_text sees,
# /root/reference/parsers/text_parser.py:168). Documented subset:
# ';'-terminated decimal (1-7 digits) and hex (1-6 digits) references;
# the 0x80-0x9F window remaps through windows-1252 (html5
# "invalid-charrefs" table: &#146; is RIGHT SINGLE QUOTATION MARK, not a
# C1 control — ubiquitous in real web text); NUL, surrogates and
# codepoints past U+10FFFF become U+FFFD; anything not matching the
# pattern (unterminated, empty, overlong) stays literal. Out of subset:
# unterminated references (html5 parses "&#65" too) and the
# invalid-codepoint *removals* html.unescape applies to C0 controls.
# Decode runs BEFORE the named chain's &amp; step, so "&amp;#65;"
# yields the literal "&#65;" exactly as a DOM text node would.
RE_CHARREF = r"&#(?:[0-9]{1,7}|[xX][0-9a-fA-F]{1,6});"
# the same thing anchored to a fragment that FOLLOWS a "&#" split point —
# the shape the vectorized engines (split on "&#") and the DuckDB oracle
# share; group 1 is the code, the rest of the fragment passes through
RE_CHARREF_FRAG = r"^([0-9]{1,7}|[xX][0-9a-fA-F]{1,6});"

# html5 windows-1252 remap for &#128;..&#159; plus NUL -> U+FFFD; entries
# where the remap equals chr(n) (0x81 0x8D 0x8F 0x90 0x9D, and 0x0D) are
# omitted — chr already yields them
CHARREF_OVERRIDES: dict[int, str] = {
    0x00: "�",
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}


def charref_char(code: str) -> str:
    """Decoded character for a matched reference code ('160', 'x2019')."""
    num = int(code[1:], 16) if code[0] in "xX" else int(code)
    if num in CHARREF_OVERRIDES:
        return CHARREF_OVERRIDES[num]
    if 0xD800 <= num <= 0xDFFF or num > 0x10FFFF:
        return "�"
    return chr(num)


def decode_charrefs(s: str) -> str:
    """Replace every terminated numeric character reference (see the
    RE_CHARREF subset note)."""
    return re.sub(RE_CHARREF,
                  lambda m: charref_char(m.group(0)[2:-1]), s)


# E8 remove-empty-lines (/root/reference/parsers/text_parser.py:349-353),
# reformulated without lookaround: drop leading whitespace-only lines, then
# collapse runs of (newline + ws-only line) to a single newline. Trailing
# whitespace-only lines are handled by the final strip. Equivalent to the
# reference's  '\n'.join(l for l in s.split('\n') if l.strip())  followed by
# strip(), for inputs whose whitespace is ASCII (NFKC runs first and folds
# unicode spaces to ASCII space).
RE_EMPTY_LINES_LEAD = rf"^(?:[{WS_NO_NL}]*\n)+"
RE_EMPTY_LINES_MID = rf"\n(?:[{WS_NO_NL}]*\n)+"

# E8 space collapse — literal-space runs only, per reference r' +'
# (/root/reference/parsers/text_parser.py:358).
RE_SPACE_RUN = r"  +"

# E27 rtf route — documented regex subset of striprtf's rtf_to_text
# (/root/reference/parsers/document_parser.py:465-506): \uN unicode
# escapes decode FIRST (signed 16-bit, negative += 65536, lone
# surrogates -> U+FFFD; the optional one-character fallback — a \'xx hex
# escape or a single literal — is consumed, per \uc1 default), then
# paragraph/line controls become newlines, header groups (fonttbl/
# colortbl/stylesheet/info, including ONE level of nested braces — a
# real fonttbl is "{\fonttbl{\f0 Arial;}{\f1 Times;}}") are dropped,
# hex escapes are dropped, remaining control words (consuming one
# trailing space) and braces are stripped. Deeper nesting and \ucN
# values other than 1 are out of the subset.
RE_RTF_U = r"\\u(-?[0-9]{1,6}) ?(?:\\'[0-9a-fA-F]{2}|[^\\{}])?"
# the same thing anchored to a fragment AFTER a "\u" split point (the
# shape the vectorized engines share); group 1 is the signed code
RE_RTF_U_FRAG = r"^(-?[0-9]{1,6}) ?(?:\\'[0-9a-fA-F]{2}|[^\\{}])?"
RTF_RULES = [
    (r"\\par\b ?", "\n"),
    (r"\\line\b ?", "\n"),
    (r"\{\\(?:fonttbl|colortbl|stylesheet|info)[^{}]*(?:\{[^{}]*\}[^{}]*)*\}",
     ""),
    (r"\\[a-z]+(?:-?[0-9]+)? ?", ""),
    (r"[{}]", ""),
]

# \'hh hex escapes decode LAST (after RTF_RULES): header groups have
# already dropped their hex content with the group, and a decoded
# brace/backslash/control-looking character can never be re-parsed as
# markup (striprtf's scanner has the same never-rescan property).
# Decoding is the default-codepage (cp1252) byte map: latin-1 plus the
# 0x80-0x9F window remap — the SAME table the html5 charref path uses
# (CHARREF_OVERRIDES minus its NUL entry); the five undefined window
# points pass through as their C1 controls. \ansicpg codepages other
# than 1252 are out of the subset.
RE_RTF_HEX = r"\\'([0-9a-fA-F]{2})"
RE_RTF_HEX_FRAG = r"^([0-9a-fA-F]{2})"


def rtf_hex_char(n: int) -> str:
    """Decoded character for an RTF \\'hh escape (cp1252 byte map)."""
    if n and n in CHARREF_OVERRIDES:
        return CHARREF_OVERRIDES[n]
    return chr(n)


def rtf_u_char(n: int) -> str:
    """Decoded character for an RTF \\uN escape."""
    if n < 0:
        n += 65536
    if 0xD800 <= n <= 0xDFFF:
        return "\ufffd"
    return chr(n)

# media_ref grammar: img://<width>x<height>/<slug>
RE_MEDIA_REF = r"^img://(\d+)x(\d+)/([A-Za-z0-9_\-.]+)$"

# E3 xml route: CDATA unwrap, then tag strip + the five named XML entities,
# decoded AFTER tag removal, with &amp; last (so "&amp;lt;" yields the
# literal "&lt;", exactly as ElementTree text nodes do). Equivalent to the
# reference's recursive text+tail concatenation
# (/root/reference/parsers/text_parser.py:182-214) for well-formed markup.
# CDATA subset: ``<![CDATA[...]]>`` unwraps to its payload BEFORE the tag
# strip (ElementTree exposes CDATA content as plain text); exact for
# payloads that don't themselves contain markup-like text or entity
# spellings — a payload with a literal ``<x>`` or ``&amp;`` goes through
# the subsequent passes, where ET would keep it verbatim (documented
# divergence, same class as the regex-subset rules above).
RE_XML_CDATA = r"(?s)<!\[CDATA\[(.*?)\]\]>"
XML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
    ("&amp;", "&"),
]

# E4 markdown route — the documented regex subset of the reference's
# markdown→HTML→get_text pipeline (/root/reference/parsers/text_parser.py:
# 216-248): fences/headers/hr/blockquote markers dropped, links and images
# keep their text/alt, emphasis and inline-code keep their content, table
# separator rows vanish and pipes break cells onto their own lines (the
# shape the tables extension's one-<td>-per-line HTML yields under
# get_text). All patterns RE2-safe (no backreferences IN patterns; group
# refs only in replacements, which each engine spells its own way — see
# MD_RULES users).
#
# Fenced code blocks: every engine splits on MD_FENCE_SPLIT and applies
# MD_RULES only to the segments OUTSIDE fences (even 0-based indices),
# so fence content is verbatim — emphasis/links/pipes inside a fence
# stay literal, and an unterminated fence runs to end-of-doc (GFM
# semantics; the reference's extension list lacks fenced_code, so its
# backtick handling there is the code-SPAN rule — adopting the fenced
# semantics is the documented subset choice, same class as the other
# MD divergences).
MD_FENCE_SPLIT = r"(?m)^```[^\n]*$"
# HTML passthrough (E4 residual, promoted round 5): the reference
# renders markdown via markdown.Markdown then strips with get_text
# (/root/reference/parsers/text_parser.py:223-237), so raw HTML
# embedded in markdown source passes through the renderer and loses
# its tags while keeping inner text (script/style contents INCLUDED —
# get_text does not decompose). Subset: an outside-fence segment that
# still contains a tag opener (``<`` + letter or ``/``) after MD_RULES
# gets the XML-style strip — tag removal, numeric charref decode,
# named-entity chain (&amp; last) — with NO whitespace collapse, so
# markdown line layout survives. Segments without a tag opener are
# untouched (entities there stay literal — documented divergence, same
# class as the other MD subset rules); fence content stays verbatim.
RE_MD_HTML_GATE = r"<[A-Za-z/]"
MD_RULES: list[tuple[str, str]] = [
    (r"(?m)^```[^\n]*$", ""),                   # code-fence delimiter lines
    (r"(?m)^#{1,6}[ \t]+", ""),                 # ATX headers
    # reference-style definition lines "[id]: url ..." are dropped whole
    # (the markdown lib consumes them while resolving [text][id] links);
    # must run before the link rules so the leading [id] is not rewritten
    (r"(?m)^[ \t]{0,3}\[[^\]]+\]:[ \t]+[^\n]*$", ""),
    (r"!\[([^\]]*)\]\(([^)]*)\)", "G1"),        # images → alt text
    (r"!\[([^\]]*)\]\[[^\]]*\]", "G1"),         # reference images → alt text
    (r"\[([^\]]*)\]\(([^)]*)\)", "G1"),         # links → link text
    (r"\[([^\]]*)\]\[[^\]]*\]", "G1"),          # reference links → link text
    (r"\*\*([^*]+)\*\*", "G1"),                 # bold
    (r"__([^_]+)__", "G1"),                     # bold
    (r"\*([^*]+)\*", "G1"),                     # italic
    (r"_([^_]+)_", "G1"),                       # italic
    (r"`([^`]+)`", "G1"),                       # inline code
    (r"(?m)^(?:-{3,}|\*{3,})[ \t]*$", ""),      # horizontal rules
    (r"(?m)^>[ \t]?", ""),                      # blockquote markers
    # tables extension subset — order matters: separator rows (only
    # | - : whitespace, with a dash adjacent to a pipe) vanish BEFORE
    # the pipe rules can dismantle them; then leading/trailing pipes
    # drop and interior pipes put each cell on its own line. Any pipe
    # in the doc is treated as a cell delimiter (prose pipes are out
    # of subset, same class as the emphasis rules firing in prose).
    (r"(?m)^[ \t]*\|[ \t]*:?-[-: \t|]*$", ""),   # |---|:---:| separator
    (r"(?m)^[ \t]*:?-+:?[ \t]*\|[-: \t|]*$", ""),  # ---|--- separator
    (r"(?m)^[ \t]*\|[ \t]*", ""),                # leading pipe
    (r"(?m)[ \t]*\|[ \t]*$", ""),                # trailing pipe
    (r"[ \t]*\|[ \t]*", "\n"),                   # interior pipes → cells
]

ARABIC_RANGE = "؀-ۿ"  # /root/reference/main.py:417-421

# OCR size gates (exclusive >): see ExtractConfig docstring for citations.
OCR_GATES = {
    "media": (100, 50),        # pdf context, pdf_parser.py:431-432
    "media_slide": (50, 30),   # slide context, powerpoint_parser.py:337-338
}

HEADER_PREFIX = {"header": "[HEADER] ", "footer": "[FOOTER] "}

# structural block markers: E28 slide headers
# (/root/reference/parsers/powerpoint_parser.py:120-127 "=== Slide {n} ===")
# and E34/E38 sheet prefixes
# (/root/reference/parsers/spreadsheet_parser.py:215-217 "=== Sheet: {name} ===")
BLOCK_MARKER = {"slide": "=== Slide {} ===", "sheet": "=== Sheet: {} ==="}

# --------------------------------------------------------------------------
# Scalar semantics (pure Python = the oracle)
# --------------------------------------------------------------------------


def html_strip(s: str) -> str:
    """E2 regex HTML strip — /root/reference/parsers/text_parser.py:309-320."""
    s = re.sub(RE_SCRIPT_STYLE, "", s)
    s = re.sub(RE_TAG, "", s)
    s = re.sub(RE_WS_RUN, " ", s)
    return re.sub(RE_STRIP, "", s)


def _decode_entities(s: str) -> str:
    s = decode_charrefs(s)  # numeric first: &amp;#65; stays literal &#65;
    for ent, ch in HTML_ENTITIES:
        s = s.replace(ent, ch)
    return s


def _block_display(b: str) -> str:
    """Visible text of one DOM block: strip inline tags, decode entities,
    collapse whitespace runs, strip."""
    t = _decode_entities(re.sub(RE_TAG, "", b))
    return re.sub(RE_STRIP, "", re.sub(RE_WS_RUN, " ", t))


def _nws_len(x: str) -> int:
    """Non-whitespace char count of a fragment's visible text — the unit
    both sides of the link-density ratio are measured in."""
    t = _decode_entities(re.sub(RE_TAG, "", x))
    return len(re.sub(rf"[{WS}]", "", t))


def html_title(s: str) -> Optional[str]:
    """<title> capture (text_parser.py:159-162). The reference computes
    this then clobbers it with the first-line heuristic at
    text_parser.py:105; we keep the DOM title — the intended behavior,
    same policy as the SURVEY §1.2 date-parser fix."""
    m = re.search(RE_TITLE, s)
    if not m:
        return None
    t = _block_display(m.group(1))
    return t or None


def html_dom_strip(s: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> str:
    """E1 DOM html extraction + E8 post-process.

    1. remove script/style subtrees, comments, and the <head> subtree in
       ONE left-to-right scan (RE_HTML_DECOMPOSE — html.parser-order
       tokenization; title is captured separately by ``html_title``);
    2. segment at block-element boundaries (newline structure of
       BeautifulSoup ``get_text`` for well-formed markup);
    3. per block, compute visible text and its link-density — the share
       of non-ws chars inside <a> elements; drop empty blocks and
       short, link-dominated blocks (2*link_len > text_len AND
       text_len < cfg.html_density_min_chars): readability-style
       boilerplate removal (nav bars, footer link rows);
    4. join kept blocks with newlines, then the shared E8 post-process.
    """
    s = re.sub(RE_HTML_DECOMPOSE, "", s)
    s = re.sub(RE_BLOCK_TAG, BLOCK_SEP, s)
    kept: list[str] = []
    for b in s.split(BLOCK_SEP):
        disp = _block_display(b)
        if disp == "":
            continue
        text_len = _nws_len(b)
        link_len = text_len - _nws_len(re.sub(RE_ANCHOR, "", b))
        if 2 * link_len > text_len and text_len < cfg.html_density_min_chars:
            continue
        kept.append(disp)
    return post_process_text("\n".join(kept), cfg)


def post_process_text(s: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> str:
    """E8 text post-process — /root/reference/parsers/text_parser.py:339-362.

    Order matters and matches the reference: NFKC → remove empty lines →
    collapse space runs → strip. (The reference's final '\\n\\s*\\n' collapse
    is a no-op once whitespace-only lines are removed, so it is omitted.)
    """
    if not s:
        return s
    if cfg.normalize_unicode:
        s = unicodedata.normalize("NFKC", s)
    if cfg.remove_empty_lines:
        s = re.sub(RE_EMPTY_LINES_LEAD, "", s)
        s = re.sub(RE_EMPTY_LINES_MID, "\n", s)
    if not cfg.preserve_whitespace:
        s = re.sub(RE_SPACE_RUN, " ", s)
    return re.sub(RE_STRIP, "", s)


def xml_strip(s: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> str:
    """E3 xml text extraction + E8 post-process
    (/root/reference/parsers/text_parser.py:182-214, then :97 post-process).
    CDATA sections unwrap to their payload first (see RE_XML_CDATA note).
    Numeric character references decode with the shared html5-table
    subset (RE_CHARREF) — ET agrees except for the 0x80-0x9F window,
    which is ill-formed XML anyway (documented divergence)."""
    s = re.sub(RE_XML_CDATA, r"\1", s)
    s = re.sub(RE_TAG, "", s)
    s = decode_charrefs(s)
    for ent, ch in XML_ENTITIES:
        s = s.replace(ent, ch)
    return post_process_text(s, cfg)


def md_html_passthrough(seg: str) -> str:
    """The E4 HTML-passthrough strip for one outside-fence segment
    that still carries a tag opener after MD_RULES (see the
    RE_MD_HTML_GATE note): tag strip + charref decode + named
    entities, no whitespace collapse."""
    seg = re.sub(RE_TAG, "", seg)
    seg = decode_charrefs(seg)
    for ent, ch in HTML_ENTITIES:
        seg = seg.replace(ent, ch)
    return seg


def md_rules_text(s: str) -> str:
    """Apply MD_RULES fence-aware: split on fence delimiter lines, run
    the rules only on the segments OUTSIDE fences (even 0-based index),
    keep fence content verbatim, rejoin with '' (the delimiters' own
    newlines live in the adjacent segments, so the join reproduces the
    old delimiter-line-dropped layout exactly). Outside-fence segments
    still containing a tag opener afterwards get the HTML-passthrough
    strip (``md_html_passthrough``)."""
    segs = re.split(MD_FENCE_SPLIT, s)
    out = []
    for i, seg in enumerate(segs):
        if i % 2 == 0:
            for pat, repl in MD_RULES:
                seg = re.sub(pat, repl.replace("G1", r"\1"), seg)
            if re.search(RE_MD_HTML_GATE, seg):
                seg = md_html_passthrough(seg)
        out.append(seg)
    return "".join(out)


def markdown_strip(s: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> str:
    """E4 markdown → text (regex subset, fence-aware) + E8 post-process
    (/root/reference/parsers/text_parser.py:216-248, then :97)."""
    return post_process_text(md_rules_text(s), cfg)


def json_flatten(s: str) -> Optional[str]:
    """E5 json → readable text, or None when the payload is not JSON
    (the caller then applies the reference's raw_json fallback).

    Replicates _json_to_text (/root/reference/parsers/text_parser.py:322-337):
    dicts → "key: value" lines with 2-space indent per level, lists →
    "[i]: item" lines, scalars via str().
    """
    import json

    try:
        data = json.loads(s)
    except Exception:
        return None
    parts: list[str] = []

    def walk(obj: Any, prefix: str) -> None:
        if isinstance(obj, dict):
            for key, value in obj.items():
                if isinstance(value, (dict, list)):
                    parts.append(f"{prefix}{key}:")
                    walk(value, prefix + "  ")
                else:
                    parts.append(f"{prefix}{key}: {value}")
        elif isinstance(obj, list):
            for i, item in enumerate(obj):
                if isinstance(item, (dict, list)):
                    parts.append(f"{prefix}[{i}]:")
                    walk(item, prefix + "  ")
                else:
                    parts.append(f"{prefix}[{i}]: {item}")

    if isinstance(data, dict):
        walk(data, "")
        return "\n".join(parts)
    if isinstance(data, list):
        return "\n".join(str(item) for item in data)
    return str(data)


def rtf_strip(s: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> str:
    """E27 rtf → text (regex subset) + E8 post-process. \\uN escapes
    decode first, \\'hh hex escapes last (see the subset notes at
    RTF_RULES / RE_RTF_HEX)."""
    s = re.sub(RE_RTF_U, lambda m: rtf_u_char(int(m.group(1))), s)
    for pat, repl in RTF_RULES:
        s = re.sub(pat, repl, s)
    s = re.sub(RE_RTF_HEX, lambda m: rtf_hex_char(int(m.group(1), 16)), s)
    return post_process_text(s, cfg)


def token_confidence(slug: str, token: str) -> float:
    """Deterministic OCR-confidence stand-in for a recognized token.

    Stands in for EasyOCR's per-detection confidence
    (/root/reference/parsers/image_parser.py:229-233). md5-derived so the
    identical value is computable in Spark (conv(substring(md5(..),1,8),16,10))
    and DuckDB (CAST('0x'||substring(md5(..),1,8) AS BIGINT)).
    """
    h = hashlib.md5(f"{slug}:{token}".encode("utf-8")).hexdigest()[:8]
    return int(h, 16) / 4294967296.0


def ocr_standin(media_ref: str, kind: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> Optional[str]:
    """OCR-fallback stand-in over a media span.

    - parse ``img://WxH/slug``; unparseable refs yield no text
    - size gate per context kind (E17 vs E31 thresholds differ by design)
    - tokens = slug split on '-'; keep tokens with confidence >= threshold
      (default 0.3, /root/reference/utils/config.py:46); join with ' '
      (/root/reference/parsers/image_parser.py:229-234)
    """
    if media_ref is None:
        return None
    m = re.match(RE_MEDIA_REF, media_ref)
    if not m:
        return None
    w, h, slug = int(m.group(1)), int(m.group(2)), m.group(3)
    min_w, min_h = OCR_GATES.get(kind, OCR_GATES["media"])
    if not (w > min_w and h > min_h):
        return None
    kept = [t for t in slug.split("-") if token_confidence(slug, t) >= cfg.ocr_confidence_threshold]
    return " ".join(kept) if kept else None


# E25/E20 shared Arabic char classes — the single source the Arrow kernel,
# functions/text.py and the DuckDB oracles embed. Documented
# subset: tashkeel diacritics + tatweel strip, alef-variant/alef-maqsura/
# teh-marbuta unification — the processing-side analog of the reference's
# reshape+bidi display pipeline (document_parser.py:410-429).
RE_TASHKEEL = "[ًٌٍَُِّْٰ]"     # U+064B–U+0652 + U+0670
ALEF_VARIANTS = "[أإآٱ]"
TATWEEL = "ـ"                    # U+0640


def arabic_normalize_text(s: str) -> str:
    """Pure-python contract twin of functions.text.arabic_normalize."""
    s = re.sub(RE_TASHKEEL, "", s)
    s = s.replace(TATWEEL, "")
    s = re.sub(ALEF_VARIANTS, "ا", s)
    return s.replace("ى", "ي").replace("ة", "ه")


def _rendered_grid(text: str, cfg: ExtractConfig) -> tuple[int, str]:
    """Shared row/col-capped pipe/dash grid render: (n_rows, rendered).
    Render per _create_text_from_table
    (/root/reference/parsers/spreadsheet_parser.py:415-431): 'h1 | h2',
    a dash underline of that line's length, then data rows. Caps:
    /root/reference/utils/config.py:110-111.

    E20 (``cfg.arabic_tables``): cells pass through the Arabic
    normalizer first, per document_parser.py:551-556. The normalizer is
    character-local and never emits/consumes \\t or \\n, so normalizing
    the whole payload before the split IS per-cell normalization."""
    if cfg.arabic_tables:
        text = arabic_normalize_text(text)
    grid = [row.split("\t") for row in text.split("\n")]
    n_rows = len(grid)
    grid = grid[: cfg.max_table_rows + 1]
    grid = [row[: cfg.max_table_columns] for row in grid]
    headers, rows = grid[0], grid[1:]
    header_line = " | ".join(headers)
    lines = [header_line, "-" * len(header_line)]
    lines.extend(" | ".join(r) for r in rows)
    return n_rows, "\n".join(lines)


def render_table(text: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> Optional[str]:
    """Table span → rendered text, or None to drop the span.

    Input serialization: rows separated by '\\n', cells by '\\t'.
    STRICT accept — header + at least one data row
    (/root/reference/parsers/pdf_parser.py:322 ``len(table) > 1``).
    """
    if not text:
        return None
    n_rows, rendered = _rendered_grid(text, cfg)
    if n_rows < 2:
        return None
    return rendered


def render_table_lax(text: str, cfg: ExtractConfig = DEFAULT_CONFIG) -> Optional[str]:
    """E30 slide-table render — the pptx context's LAX accept rule.

    The reference accepts a slide table when it has headers OR rows
    (/root/reference/parsers/powerpoint_parser.py:279 ``if headers or
    rows``), unlike the pdf context's strict ``len(table) > 1``
    (pdf_parser.py:322). SURVEY §7: the inconsistent thresholds are part
    of the contract — header-only slide tables render (header + dash
    underline, no data rows); header-only pdf tables drop. Caps and
    render format are shared with ``render_table``.
    """
    if not text:
        return None
    _, rendered = _rendered_grid(text, cfg)
    return rendered


KIND_CLASS = {
    "html": "html",
    "pdf_block": "pdf",
    "table": "pdf",
    "table_slide": "doc",
    "text": "text",
    "code": "text",
    "xml": "text",
    "markdown": "text",
    "json": "text",
    "rtf": "text",
    "slide": "doc",
    "sheet": "doc",
    "media": "media",
    "media_slide": "media",
    "header": "doc",
    "footer": "doc",
}


def clean_span(kind: str, text: Optional[str], media_ref: Optional[str],
               cfg: ExtractConfig = DEFAULT_CONFIG) -> tuple[bool, Optional[str]]:
    """Per-span rule: returns (keep, cleaned_text). media_ref passes through."""
    if kind == "html":
        if text is None:
            return False, None
        if cfg.html_mode == "dom":
            cleaned = html_dom_strip(text, cfg)
        else:
            # E2 fallback; E8 runs after per text_parser.py:99 (a no-op
            # there except NFKC, since the strip already collapsed ws)
            cleaned = post_process_text(html_strip(text), cfg)
        return (cleaned != ""), cleaned
    if kind in ("text", "code"):
        if text is None:
            return False, None
        cleaned = post_process_text(text, cfg)
        return (cleaned != ""), cleaned
    if kind == "xml":
        if text is None:
            return False, None
        cleaned = xml_strip(text, cfg)
        return (cleaned != ""), cleaned
    if kind == "markdown":
        if text is None:
            return False, None
        cleaned = markdown_strip(text, cfg)
        return (cleaned != ""), cleaned
    if kind == "rtf":
        if text is None:
            return False, None
        cleaned = rtf_strip(text, cfg)
        return (cleaned != ""), cleaned
    if kind == "json":
        # cfg.flatten_json=True → the reference json_parser path; False →
        # its raw_json fallback (content unchanged before post-process).
        if text is None:
            return False, None
        flat = json_flatten(text) if cfg.flatten_json else None
        cleaned = post_process_text(text if flat is None else flat, cfg)
        return (cleaned != ""), cleaned
    if kind == "pdf_block":
        # pdfplumber page loop appends only truthy page text
        # (/root/reference/parsers/pdf_parser.py:141-160); text is verbatim
        # (post-process applies only in the text route, SURVEY.md §7).
        return bool(text), text
    if kind == "table":
        rendered = render_table(text, cfg)
        return (rendered is not None), rendered
    if kind == "table_slide":
        rendered = render_table_lax(text, cfg)
        return (rendered is not None), rendered
    if kind in ("media", "media_slide"):
        return True, ocr_standin(media_ref, kind, cfg)
    if kind in ("slide", "sheet"):
        # structural markers: non-empty gate + format (E28/E38)
        if text is None or text.strip() == "":
            return False, None
        return True, BLOCK_MARKER[kind].format(text)
    if kind in ("header", "footer"):
        # non-empty gate + prefix (/root/reference/parsers/document_parser.py:571-593)
        if text is None or text.strip() == "":
            return False, None
        return True, HEADER_PREFIX[kind] + text
    # unknown kinds pass through untouched (forward compatibility)
    return True, text


def clean_doc(spans: Optional[list[dict[str, Any]]],
              cfg: ExtractConfig = DEFAULT_CONFIG,
              ) -> tuple[list[dict[str, Any]], str, Optional[str], bool, Optional[str]]:
    """Whole-doc oracle: returns (spans_clean, route, title, success, error).

    spans_clean is sorted by (offset, original array position) — explicit
    reading-order sort (L1; the reference's implicit iterate-pages-in-order,
    /root/reference/parsers/pdf_parser.py:141-160). Null offsets sort last.

    title: the DOM <title> of the first kept html span in reading order
    (html_mode="dom" only) — the E13-style metadata column the reference
    computes then clobbers (text_parser.py:105).
    """
    if not spans:
        return [], "empty", None, True, None
    if cfg.unknown_kinds == "error":
        for s in spans:
            if s.get("kind") not in KIND_CLASS:
                # the reference's unsupported-category error result
                # (/root/reference/main.py:94-138): the DOC fails,
                # nothing is extracted
                return ([], "error", None, False,
                        f"Unsupported kind: {s.get('kind')}")
    kept: list[tuple[tuple, dict[str, Any], Optional[str]]] = []
    classes: set[str] = set()
    for pos, s in enumerate(spans):
        kind = s.get("kind")
        keep, cleaned = clean_span(kind, s.get("text"), s.get("media_ref"), cfg)
        if not keep:
            continue
        classes.add(KIND_CLASS.get(kind, "other"))
        off = s.get("offset")
        key = (1 if off is None else 0, off if off is not None else 0, pos)
        t = (html_title(s["text"])
             if kind == "html" and cfg.html_mode == "dom" else None)
        kept.append((key, {"kind": kind, "text": cleaned,
                           "media_ref": s.get("media_ref"), "offset": off}, t))
    kept.sort(key=lambda kv: kv[0])
    route = ",".join(sorted(classes)) if classes else "empty"
    title = next((t for _, _, t in kept if t is not None), None)
    return [s for _, s, _ in kept], route, title, True, None
