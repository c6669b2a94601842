"""The Arrow extraction kernel — the engine's hot path.

``extract_arrow(df)`` runs the full extraction contract
(``semantics.clean_doc``) as a ``mapInArrow`` kernel: whole Arrow record
batches in, whole batches out. Everything inside operates on *flattened*
span arrays with ``pyarrow.compute`` (C++ vectorized) and numpy index
arithmetic — never per-row Python (north rule). The only Python-level
loops are over *unique* media slugs / charref codes (amortized caches,
mirroring the one-call-per-image reality of a real OCR engine,
/root/reference/parsers/image_parser.py:213-234) and the NFKC
normalization of the non-ASCII row subset (one C-level call per batch).

Memory-bandwidth discipline (the binding resource when many cores share
one socket — BENCH/BASELINE.md):

- span text stays an ARROW array end-to-end: every route computes on a
  if_else-blanked copy (non-route rows cost nothing downstream), the
  routes merge in ONE ``pc.case_when`` pass, and the final reorder is a
  single ``take`` — text never round-trips through Python objects;
- decompose (script/style/comment/head) is ONE fused left-to-right
  regex pass (semantics.RE_HTML_DECOMPOSE), not three;
- expensive replaces are probe-gated (``_gated_pass``): a read-only
  match scan decides whether the full-copy transform runs at all.

Scale notes (100 TB): the kernel is shape-preserving (1 row in → 1 row
out), so it pipelines with the upstream salted exchange and the
downstream write without extra shuffles. A batch holds at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` docs, each cleaned
whole: a giant doc costs its batch little time (9,000 spans clean in
10-20 ms), but the worker's peak memory grows with the largest doc in a
batch.
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from rag_document_parser_spark.schema import (ARROW_KERNEL_OUTPUT,
                                              ARROW_SPAN_STRUCT)
from rag_document_parser_spark import semantics as S
from rag_document_parser_spark.session import skip_unchanged_zip_reloads

_KIND_CLASS_BIT = {
    "html": 1, "pdf": 2, "text": 4, "media": 8, "doc": 16, "other": 32,
}
_BIT_NAME = {1: "html", 2: "pdf", 4: "text", 8: "media", 16: "doc", 32: "other"}

# pc.extract_regex needs a named group; same pattern as semantics.RE_TITLE
_RE_TITLE_NAMED = S.RE_TITLE.replace("(.*?)", "(?P<t>.*?)")

# combined probe for the fused decompose pass
_RE_DECOMP_PROBE = r"(?i)<script|<style|<!--|<head"
# E8 gating probes (read-only scans; rows already collapsed skip the
# full-copy replace)
_RE_EMPTY_PROBE = rf"^[{S.WS_NO_NL}]*\n|\n[{S.WS_NO_NL}]*\n"
_RE_STRIP_PROBE = rf"^[{S.WS}]|[{S.WS}]$"


def _scatter(base: pa.Array, idx: np.ndarray, values) -> pa.Array:
    """``base`` with ``base[idx[i]] = values[i]`` — pure C concat+take,
    never a full Python-object materialization of ``base``."""
    repl = values if isinstance(values, pa.Array) else pa.array(
        values, type=base.type)
    combined = pa.concat_arrays([base, repl])
    ti = np.arange(len(base), dtype=np.int64)
    ti[idx] = len(base) + np.arange(len(repl), dtype=np.int64)
    return combined.take(pa.array(ti))


def _nfkc(t: pa.Array) -> pa.Array:
    """True NFKC over a string array.

    NOT ``pc.utf8_normalize``: pyarrow's utf8proc backend decomposes but
    never RE-composes (its "NFC" output equals its "NFD" — observed on
    16.1.0), so its "NFKC" leaves é as e+U+0301, diverging from
    unicodedata/ICU NFKC. Instead: select the non-ASCII rows (NFKC is
    identity on ASCII), join them with NUL — combining class 0, no
    decomposition, so normalization never crosses the sentinel — and
    make ONE C-level ``unicodedata.normalize`` call per batch; per-row
    fallback only if a payload itself contains NUL. The result scatters
    back with concat+take (no object round-trip of the ASCII majority).
    """
    import unicodedata

    need = pc.and_(pc.is_valid(t),
                   pc.invert(pc.string_is_ascii(pc.fill_null(t, "")))) \
        .to_numpy(zero_copy_only=False)
    idx = np.flatnonzero(need)
    if not len(idx):
        return t
    sub = t.take(pa.array(idx)).to_pylist()
    if any("\x00" in s for s in sub):
        normed = [unicodedata.normalize("NFKC", s) for s in sub]
    else:
        normed = unicodedata.normalize("NFKC", "\x00".join(sub)) \
            .split("\x00")
    return _scatter(t, idx, normed)


def _gated_pass(arr, probe: str, fn, regex_probe: bool = False):
    """Run an expensive string transform only on elements containing
    ``probe`` (others pass through). Each replace pass is a full copy of
    the batch's text; probing (a read-only scan) before transforming
    cuts the memory-bandwidth cost whenever most rows don't match."""
    matcher = (pc.match_substring_regex if regex_probe
               else pc.match_substring)
    has = pc.fill_null(matcher(arr, pattern=probe), False)
    if not pc.any(has).as_py():
        return arr
    out = fn(pc.if_else(has, arr, ""))
    return pc.if_else(has, out, arr)


def _e8(t, cfg: ExtractConfig):
    """E8 post-process chain over a whole Arrow string array
    (text_parser.py:339-362), shared by the text/xml/markdown/json
    routes. Every pass after NFKC is probe-gated — inputs that are
    already collapsed (the common case for the DOM path, which collapses
    before joining) skip the full-copy replaces."""
    if cfg.normalize_unicode:
        t = _nfkc(t)
    if cfg.remove_empty_lines:
        def drop_empty(x):
            x = pc.replace_substring_regex(
                x, pattern=S.RE_EMPTY_LINES_LEAD, replacement="")
            return pc.replace_substring_regex(
                x, pattern=S.RE_EMPTY_LINES_MID, replacement="\n")
        t = _gated_pass(t, _RE_EMPTY_PROBE, drop_empty, regex_probe=True)
    if not cfg.preserve_whitespace:
        t = _gated_pass(
            t, "  ",
            lambda x: pc.replace_substring_regex(
                x, pattern=S.RE_SPACE_RUN, replacement=" "))
    return _gated_pass(
        t, _RE_STRIP_PROBE,
        lambda x: pc.replace_substring_regex(
            x, pattern=S.RE_STRIP, replacement=""),
        regex_probe=True)


# anchored fragment pattern with named groups for pc.extract_regex; (?s)
# because the fragment tail can contain newlines
_CHARREF_FRAG_NAMED = (r"(?s)^(?P<c>[0-9]{1,7}|[xX][0-9a-fA-F]{1,6});"
                       r"(?P<rest>.*)$")


def _decode_charrefs(arr):
    """semantics.decode_charrefs over a whole Arrow string array.

    Split on the "&#" opener; fragments after the first either start
    with a valid code (decode via a per-unique-code Python chr — the
    only Python here, bounded by DISTINCT references in the batch, same
    amortization class as the OCR-slug cache) or get their literal "&#"
    restored; rejoin positionally. Equivalent to re.sub's single pass.
    """
    parts = pc.split_pattern(arr, pattern="&#")
    flat = pc.list_flatten(parts)
    m = pc.extract_regex(flat, pattern=_CHARREF_FRAG_NAMED)
    # NB: field() of a null struct slot yields "" not null — gate every
    # use on the STRUCT validity
    m_ok = pc.is_valid(m).to_numpy(zero_copy_only=False)
    code_np = np.asarray(m.field("c").to_pandas(), dtype=object)
    cache: dict[str, str] = {}
    ch_np = np.empty(len(code_np), dtype=object)
    for i, cs in enumerate(code_np):
        if not m_ok[i]:
            continue
        got = cache.get(cs)
        if got is None:
            got = cache[cs] = S.charref_char(cs)
        ch_np[i] = got
    decoded = pc.binary_join_element_wise(
        pa.array(ch_np, type=pa.string()),
        pc.fill_null(m.field("rest"), ""), "")
    restored = pc.binary_join_element_wise(
        pa.array(["&#"] * len(flat), type=pa.string()), flat, "")
    # first fragment of each row is the literal prefix before any "&#"
    off = parts.offsets.to_numpy(zero_copy_only=False)
    first = np.zeros(len(flat), dtype=bool)
    first[off[:-1][off[:-1] < len(flat)]] = True
    pieces = pc.if_else(pa.array(first), flat,
                        pc.if_else(pc.is_valid(m), decoded, restored))
    return pc.binary_join(pa.ListArray.from_arrays(parts.offsets, pieces),
                          "")


_RTF_U_FRAG_NAMED = (r"(?s)^(?P<c>-?[0-9]{1,6})"
                     r" ?(?:\\'[0-9a-fA-F]{2}|[^\\{}])?(?P<rest>.*)$")


def _decode_rtf_u(arr):
    """RTF \\uN unicode escapes over a whole Arrow string array — same
    split-on-opener positional pass as ``_decode_charrefs`` (opener =
    the literal two chars backslash-u; the optional fallback char is
    consumed by the anchored pattern)."""
    parts = pc.split_pattern(arr, pattern="\\u")
    flat = pc.list_flatten(parts)
    m = pc.extract_regex(flat, pattern=_RTF_U_FRAG_NAMED)
    m_ok = pc.is_valid(m).to_numpy(zero_copy_only=False)
    code_np = np.asarray(m.field("c").to_pandas(), dtype=object)
    cache: dict[str, str] = {}
    ch_np = np.empty(len(code_np), dtype=object)
    for i, cs in enumerate(code_np):
        if not m_ok[i]:
            continue
        got = cache.get(cs)
        if got is None:
            got = cache[cs] = S.rtf_u_char(int(cs))
        ch_np[i] = got
    decoded = pc.binary_join_element_wise(
        pa.array(ch_np, type=pa.string()),
        pc.fill_null(m.field("rest"), ""), "")
    restored = pc.binary_join_element_wise(
        pa.array(["\\u"] * len(flat), type=pa.string()), flat, "")
    off = parts.offsets.to_numpy(zero_copy_only=False)
    first = np.zeros(len(flat), dtype=bool)
    first[off[:-1][off[:-1] < len(flat)]] = True
    pieces = pc.if_else(pa.array(first), flat,
                        pc.if_else(pc.is_valid(m), decoded, restored))
    return pc.binary_join(pa.ListArray.from_arrays(parts.offsets, pieces),
                          "")


_RTF_HEX_FRAG_NAMED = r"(?s)^(?P<c>[0-9a-fA-F]{2})(?P<rest>.*)$"


def _decode_rtf_hex(arr):
    """RTF \\'hh hex escapes (cp1252 byte map) over a whole Arrow string
    array — same split-on-opener positional pass as ``_decode_rtf_u``
    (opener = the literal two chars backslash-quote)."""
    parts = pc.split_pattern(arr, pattern="\\'")
    flat = pc.list_flatten(parts)
    m = pc.extract_regex(flat, pattern=_RTF_HEX_FRAG_NAMED)
    m_ok = pc.is_valid(m).to_numpy(zero_copy_only=False)
    code_np = np.asarray(m.field("c").to_pandas(), dtype=object)
    cache: dict[str, str] = {}
    ch_np = np.empty(len(code_np), dtype=object)
    for i, cs in enumerate(code_np):
        if not m_ok[i]:
            continue
        got = cache.get(cs)
        if got is None:
            got = cache[cs] = S.rtf_hex_char(int(cs, 16))
        ch_np[i] = got
    decoded = pc.binary_join_element_wise(
        pa.array(ch_np, type=pa.string()),
        pc.fill_null(m.field("rest"), ""), "")
    restored = pc.binary_join_element_wise(
        pa.array(["\\'"] * len(flat), type=pa.string()), flat, "")
    off = parts.offsets.to_numpy(zero_copy_only=False)
    first = np.zeros(len(flat), dtype=bool)
    first[off[:-1][off[:-1] < len(flat)]] = True
    pieces = pc.if_else(pa.array(first), flat,
                        pc.if_else(pc.is_valid(m), decoded, restored))
    return pc.binary_join(pa.ListArray.from_arrays(parts.offsets, pieces),
                          "")


def _visible(t):
    """Visible text of markup fragments: strip tags (gated on '<'),
    decode numeric character references (html5-table subset) then the
    named entity subset (semantics.HTML_ENTITIES, &amp; last)."""
    t = _gated_pass(
        t, "<",
        lambda x: pc.replace_substring_regex(x, pattern=S.RE_TAG,
                                             replacement=""))

    def decode(x):
        x = _gated_pass(x, "&#", _decode_charrefs)
        for ent, ch in S.HTML_ENTITIES:
            x = pc.replace_substring(x, pattern=ent, replacement=ch)
        return x

    return _gated_pass(t, "&", decode)


def _nws_len_of_visible(vis) -> np.ndarray:
    """Non-whitespace char count of an already-computed visible-text
    array (density unit)."""
    t = pc.replace_substring_regex(vis, pattern=rf"[{S.WS}]",
                                   replacement="")
    return pc.utf8_length(t).to_numpy(zero_copy_only=False)


def _html_dom_batch(text: pa.Array, html_pa: pa.Array,
                    cfg: ExtractConfig) -> tuple[pa.Array, np.ndarray]:
    """E1 DOM html extraction over a whole Arrow string array.

    Mirrors ``semantics.html_dom_strip`` / ``html_title``: fused
    decompose (script/style/comment/head in one scan), block
    segmentation at block-element boundaries, per-block link-density
    filtering, newline join, E8. All passes are C++ regex/list kernels
    over the flattened block array — no per-row Python. Returns
    (cleaned_text Arrow array, title numpy object array) aligned to the
    batch; only positions where ``html_pa`` holds are meaningful.
    """
    h_in = pc.if_else(html_pa, pc.fill_null(text, ""), "")

    # title capture (text_parser.py:159-162), gated on a <title probe
    ti_in = pc.if_else(
        pc.fill_null(pc.match_substring_regex(h_in, pattern="(?i)<title"),
                     False), h_in, "")
    ti_struct = pc.extract_regex(ti_in, pattern=_RE_TITLE_NAMED)
    ti = pc.replace_substring_regex(
        _visible(pc.fill_null(ti_struct.field("t"), "")),
        pattern=S.RE_WS_RUN, replacement=" ")
    ti = pc.replace_substring_regex(ti, pattern=S.RE_STRIP, replacement="")
    ti_np = np.asarray(ti.to_pandas(), dtype=object)
    ti_valid = pc.is_valid(ti_struct).to_numpy(zero_copy_only=False)
    ti_np[~ti_valid] = None
    ti_np[ti_np == ""] = None

    # body: ONE fused decompose pass (gated), then segment
    s1 = _gated_pass(
        h_in, _RE_DECOMP_PROBE,
        lambda x: pc.replace_substring_regex(
            x, pattern=S.RE_HTML_DECOMPOSE, replacement=""),
        regex_probe=True)
    s1 = pc.replace_substring_regex(s1, pattern=S.RE_BLOCK_TAG,
                                    replacement=S.BLOCK_SEP)
    blocks = pc.split_pattern(s1, pattern=S.BLOCK_SEP)
    flat = pc.list_flatten(blocks)

    vis = _visible(flat)
    disp = pc.replace_substring_regex(vis, pattern=S.RE_WS_RUN,
                                      replacement=" ")
    disp = pc.replace_substring_regex(disp, pattern=S.RE_STRIP,
                                      replacement="")
    # non-ws count of vis == len(disp) - its single-space count (collapse
    # and strip only touch [WS] chars) — a count instead of another
    # remove-pass copy
    tlen = (pc.utf8_length(disp).to_numpy(zero_copy_only=False)
            - pc.count_substring(disp, " ").to_numpy(zero_copy_only=False))
    # anchor-free blocks (the common case) have link_len 0 by definition;
    # run the anchor-removal pipeline only where an <a> could appear —
    # probe uses the same `<a\b` prefix as RE_ANCHOR so the gated subset
    # is exactly a superset of what the replace would touch (a ws-class
    # probe missed `<a/...` forms RE_ANCHOR matches: engine divergence)
    has_a = pc.match_substring_regex(flat, pattern=r"(?i)<a\b")
    sans_in = pc.if_else(has_a, flat, "")
    slen0 = _nws_len_of_visible(_visible(
        pc.replace_substring_regex(sans_in, pattern=S.RE_ANCHOR,
                                   replacement="")))
    has_a_np = pc.fill_null(has_a, False).to_numpy(zero_copy_only=False)
    slen = np.where(has_a_np, slen0, tlen)
    link = tlen - slen
    empty_b = pc.equal(disp, "").to_numpy(zero_copy_only=False)
    keep_b = ~empty_b & ~((2 * link > tlen)
                          & (tlen < cfg.html_density_min_chars))

    vals = pc.if_else(pa.array(keep_b), disp, "")
    joined = pc.binary_join(pa.ListArray.from_arrays(blocks.offsets, vals),
                            "\n")
    # dropped blocks joined as empty lines; collapsing them restores the
    # exact '\n'.join(kept) of the contract (kept lines are never blank)
    joined = pc.replace_substring_regex(
        joined, pattern=S.RE_EMPTY_LINES_LEAD, replacement="")
    joined = pc.replace_substring_regex(
        joined, pattern=S.RE_EMPTY_LINES_MID, replacement="\n")
    return _e8(joined, cfg), ti_np


def _route_names(mask: int) -> str:
    if mask == 0:
        return "empty"
    return ",".join(sorted(_BIT_NAME[b] for b in _BIT_NAME if mask & b))


_ROUTE_LOOKUP = np.array([_route_names(m) for m in range(64)], dtype=object)


def _ocr_lookup(slugs: np.ndarray, kinds: np.ndarray,
                refs: np.ndarray, cfg: ExtractConfig) -> np.ndarray:
    """Deterministic OCR stand-in, computed once per unique (kind, ref)."""
    out = np.empty(len(slugs), dtype=object)
    out[:] = None
    cache: dict[tuple[str, str], object] = {}
    for i, (slug, kind, ref) in enumerate(zip(slugs, kinds, refs)):
        if slug is None:
            continue
        key = (kind, ref)
        if key not in cache:
            cache[key] = S.ocr_standin(ref, kind, cfg)
        out[i] = cache[key]
    return out


def _clean_batch(batch: pa.RecordBatch, cfg: ExtractConfig) -> pa.RecordBatch:
    t0 = time.perf_counter_ns()
    n = batch.num_rows
    doc_id = batch.column("doc_id")
    spans = batch.column("spans")

    flat = pc.list_flatten(spans)  # StructArray of every span in the batch
    parent = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False)
    kind = flat.field("kind")
    text = flat.field("text")
    media_ref = flat.field("media_ref")
    offset = flat.field("offset")
    m = len(flat)

    def is_kind(*ks: str) -> np.ndarray:
        mask = np.zeros(m, dtype=bool)
        for k in ks:
            mask |= pc.fill_null(pc.equal(kind, k), False) \
                .to_numpy(zero_copy_only=False)
        return mask

    html_m = is_kind("html")
    textlike_m = is_kind("text", "code")
    xml_m = is_kind("xml")
    md_m = is_kind("markdown")
    rtf_m = is_kind("rtf")
    json_m = is_kind("json")
    pdf_m = is_kind("pdf_block")
    table_m = is_kind("table")
    tslide_m = is_kind("table_slide")
    media_m = is_kind("media", "media_slide")
    hf_m = is_kind("header", "footer")
    blk_m = is_kind("slide", "sheet")
    known_m = (html_m | textlike_m | xml_m | md_m | rtf_m | json_m | pdf_m
               | table_m | tslide_m | media_m | hf_m | blk_m)

    # unknown_kinds="error": whole-doc error result for any doc carrying
    # an unrecognized kind (first such kind in array order names the
    # error, matching semantics.clean_doc / the reference's unsupported-
    # category ParseResult)
    err_doc = np.zeros(n, dtype=bool)
    err_msg = np.empty(n, dtype=object)
    err_msg[:] = None
    if cfg.unknown_kinds == "error":
        unk_idx = np.flatnonzero(~known_m)
        if len(unk_idx):
            kind_unk = kind.take(pa.array(unk_idx)).to_pylist()
            u, fi = np.unique(parent[unk_idx], return_index=True)
            err_doc[u] = True
            for d, k in zip(u, (kind_unk[i] for i in fi)):
                err_msg[d] = f"Unsupported kind: {k}"

    keep = np.ones(m, dtype=bool)
    valid_text = np.asarray(pc.is_valid(text).to_numpy(zero_copy_only=False))

    def blanked(mask: np.ndarray) -> pa.Array:
        """text with every non-(mask & valid) row blanked — downstream
        passes over the blanked copy only pay for the route's bytes."""
        return pc.if_else(pa.array(mask & valid_text),
                          pc.fill_null(text, ""), "")

    def nonempty(arr: pa.Array) -> np.ndarray:
        return pc.not_equal(arr, "").to_numpy(zero_copy_only=False)

    # each route contributes (bool-mask, full-length Arrow array); they
    # merge in ONE pc.case_when pass at the end
    conds: list[np.ndarray] = []
    cases: list[pa.Array] = []

    # ---- html route: DOM path (E1, default) or regex fallback (E2) ----
    span_title = np.empty(m, dtype=object)
    span_title[:] = None
    if html_m.any():
        if cfg.html_mode == "dom":
            t_arr, ti_np = _html_dom_batch(text, pa.array(html_m), cfg)
            span_title[html_m] = ti_np[html_m]
        else:
            t = blanked(html_m)
            t = pc.replace_substring_regex(t, pattern=S.RE_SCRIPT_STYLE,
                                           replacement="")
            t = pc.replace_substring_regex(t, pattern=S.RE_TAG, replacement="")
            t = pc.replace_substring_regex(t, pattern=S.RE_WS_RUN,
                                           replacement=" ")
            t = pc.replace_substring_regex(t, pattern=S.RE_STRIP,
                                           replacement="")
            # E8 runs after the strip (text_parser.py:99) — only NFKC can
            # still change anything once whitespace is collapsed
            t_arr = _e8(t, cfg)
        conds.append(html_m)
        cases.append(t_arr)
        keep[html_m] = valid_text[html_m] & nonempty(t_arr)[html_m]

    # ---- text/code route (E8 post-process; text_parser.py:339-362) ----
    if textlike_m.any():
        t_arr = _e8(blanked(textlike_m), cfg)
        conds.append(textlike_m)
        cases.append(t_arr)
        keep[textlike_m] = valid_text[textlike_m] & nonempty(t_arr)[textlike_m]

    # ---- xml route (E3 + E8; text_parser.py:182-214) ----
    if xml_m.any():
        t = blanked(xml_m)
        t = _gated_pass(
            t, "<![CDATA[",
            lambda x: pc.replace_substring_regex(
                x, pattern=S.RE_XML_CDATA, replacement="\\1"))
        t = _gated_pass(
            t, "<",
            lambda x: pc.replace_substring_regex(x, pattern=S.RE_TAG,
                                                 replacement=""))
        t = _gated_pass(t, "&#", _decode_charrefs)
        for ent, ch in S.XML_ENTITIES:
            t = pc.replace_substring(t, pattern=ent, replacement=ch)
        t_arr = _e8(t, cfg)
        conds.append(xml_m)
        cases.append(t_arr)
        keep[xml_m] = valid_text[xml_m] & nonempty(t_arr)[xml_m]

    # ---- markdown route (E4 + E8; text_parser.py:216-248) ----
    if md_m.any():
        t = blanked(md_m)
        # fence-aware: rows WITHOUT a fence (the common case) stay in
        # the whole-batch Arrow regex chain; rows WITH one go through
        # the batched-Python fence splitter (semantics.md_rules_text) —
        # the same targeted to_pylist discipline as the charref/NFKC
        # passes. A no-fence row gives identical output on both paths
        # (one segment == the plain rule chain).
        fenced = pc.fill_null(pc.match_substring(t, pattern="```"), False)
        any_fenced = pc.any(fenced).as_py()
        plain = pc.if_else(fenced, "", t) if any_fenced else t
        for pat, repl in S.MD_RULES:
            plain = pc.replace_substring_regex(
                plain, pattern=pat, replacement=repl.replace("G1", "\\1"))
        # E4 HTML passthrough (semantics.RE_MD_HTML_GATE note): rows
        # still carrying a tag opener after MD_RULES get the tag strip
        # + charref + entity chain; rows without one are untouched so
        # their literal entities survive. Fenced rows are blank here
        # (the python splitter applies the same gate per segment).
        gate = pc.fill_null(
            pc.match_substring_regex(plain, pattern=S.RE_MD_HTML_GATE),
            False)
        if pc.any(gate).as_py():
            sub = pc.if_else(gate, plain, "")
            sub = pc.replace_substring_regex(sub, pattern=S.RE_TAG,
                                             replacement="")
            sub = _gated_pass(sub, "&#", _decode_charrefs)
            for ent, ch in S.HTML_ENTITIES:
                sub = pc.replace_substring(sub, pattern=ent,
                                           replacement=ch)
            plain = pc.if_else(gate, sub, plain)
        if any_fenced:
            vals = pc.if_else(fenced, t, "").to_pylist()
            done = pa.array(
                [S.md_rules_text(v) if v else v for v in vals],
                type=pa.string())
            t = pc.if_else(fenced, done, plain)
        else:
            t = plain
        t_arr = _e8(t, cfg)
        conds.append(md_m)
        cases.append(t_arr)
        keep[md_m] = valid_text[md_m] & nonempty(t_arr)[md_m]

    # ---- rtf route (E27 + E8; document_parser.py:465-506) ----
    if rtf_m.any():
        t = blanked(rtf_m)
        t = _gated_pass(t, "\\u", _decode_rtf_u)
        for pat, repl in S.RTF_RULES:
            t = pc.replace_substring_regex(t, pattern=pat, replacement=repl)
        t = _gated_pass(t, "\\'", _decode_rtf_hex)
        t_arr = _e8(t, cfg)
        conds.append(rtf_m)
        cases.append(t_arr)
        keep[rtf_m] = valid_text[rtf_m] & nonempty(t_arr)[rtf_m]

    # ---- json route (E5 + E8; text_parser.py:250-273) ----
    # json.loads is a per-document C-library call (mirroring the
    # reference's per-file parse), applied only to the masked rows; the
    # E8 chain stays whole-batch Arrow.
    if json_m.any():
        j_idx = np.flatnonzero(json_m & valid_text)
        raw = text.take(pa.array(j_idx)).to_pylist()
        vals = []
        for v in raw:
            flat_j = S.json_flatten(v) if cfg.flatten_json else None
            vals.append(v if flat_j is None else flat_j)
        base = pc.fill_null(pa.nulls(m, pa.string()), "")
        t = _scatter(base, j_idx, vals) if len(j_idx) else base
        t_arr = _e8(t, cfg)
        conds.append(json_m)
        cases.append(t_arr)
        keep[json_m] = valid_text[json_m] & nonempty(t_arr)[json_m]

    # ---- pdf_block route: verbatim, drop empties (pdf_parser.py:141-160) ----
    if pdf_m.any():
        keep[pdf_m] = valid_text[pdf_m] & \
            pc.not_equal(pc.fill_null(text, ""), "") \
            .to_numpy(zero_copy_only=False)[pdf_m]

    # ---- table routes (E14 strict pdf accept / E30 lax slide accept,
    # row/col caps, E38 render) ----
    # list-kernel form: split rows / cells as Arrow ListArrays, cap with
    # list_slice (semantics.render_table caps, reference utils/config.py:
    # 110-111), rejoin with binary_join — all C++-vectorized, no Python
    # per row. Non-table rows are blanked first (incl. null-text table
    # rows: a null would become a null list and ArrowInvalid the batch).
    tbl_m = table_m | tslide_m
    if tbl_m.any():
        t_in = blanked(tbl_m)
        if cfg.arabic_tables:
            # E20: whole-payload normalize == per-cell normalize (the
            # substitutions are character-local, never \t or \n) — see
            # semantics._rendered_grid
            t_in = pc.replace_substring_regex(
                t_in, pattern=S.RE_TASHKEEL, replacement="")
            t_in = pc.replace_substring(
                t_in, pattern=S.TATWEEL, replacement="")
            t_in = pc.replace_substring_regex(
                t_in, pattern=S.ALEF_VARIANTS, replacement="ا")
            t_in = pc.replace_substring(t_in, pattern="ى", replacement="ي")
            t_in = pc.replace_substring(t_in, pattern="ة", replacement="ه")
        rows = pc.split_pattern(t_in, pattern="\n")
        n_rows = pc.list_value_length(rows).to_numpy(zero_copy_only=False)
        rows_c = pc.list_slice(rows, 0, cfg.max_table_rows + 1)
        cells = pc.split_pattern(pc.list_flatten(rows_c), pattern="\t")
        piped_flat = pc.binary_join(
            pc.list_slice(cells, 0, cfg.max_table_columns), " | ")
        piped = pa.ListArray.from_arrays(rows_c.offsets, piped_flat)
        head = pc.list_element(piped, 0)
        rest = pc.binary_join(pc.list_slice(piped, 1, cfg.max_table_rows + 1),
                              "\n")
        dash = pc.replace_substring_regex(head, pattern=".", replacement="-")
        with_rest = pc.binary_join_element_wise(head, dash, rest, "\n")
        head_only = pc.binary_join_element_wise(head, dash, "\n")
        two_plus = n_rows >= 2
        r_arr = pc.if_else(pa.array(two_plus), with_rest, head_only)
        ne_in = nonempty(t_in)
        ok = (table_m & valid_text & two_plus) | (tslide_m & ne_in)
        conds.append(tbl_m)
        cases.append(pc.if_else(pa.array(ok), r_arr, pa.nulls(m, pa.string())))
        keep[tbl_m] = ok[tbl_m]

    # ---- media route: size gate + OCR stand-in over unique refs ----
    if media_m.any():
        md_idx = np.flatnonzero(media_m)
        take_md = pa.array(md_idx)
        ref_np = np.asarray(media_ref.take(take_md).to_pandas(), dtype=object)
        kind_md = np.asarray(kind.take(take_md).to_pandas(), dtype=object)
        slug_struct = pc.extract_regex(
            media_ref.take(take_md),
            pattern=S.RE_MEDIA_REF.replace(
                "(\\d+)x(\\d+)/([A-Za-z0-9_\\-.]+)",
                "(?P<w>\\d+)x(?P<h>\\d+)/(?P<slug>[A-Za-z0-9_\\-.]+)"))
        slug_np = np.asarray(slug_struct.field("slug").to_pandas(),
                             dtype=object)
        slug_np[~pc.is_valid(slug_struct).to_numpy(zero_copy_only=False)] = \
            None
        ocr = _ocr_lookup(slug_np, kind_md, ref_np, cfg)
        conds.append(media_m)
        cases.append(_scatter(pa.nulls(m, pa.string()), md_idx,
                              pa.array(ocr, type=pa.string())))
        # media spans always kept (they carry media_ref)

    # ---- header/footer route (E21 prefixes; document_parser.py:571-593) ----
    if hf_m.any():
        t_in = blanked(hf_m)
        trimmed = pc.utf8_trim_whitespace(t_in)
        nonblank = pc.not_equal(trimmed, "").to_numpy(zero_copy_only=False)
        is_h = is_kind("header")
        pref = pc.if_else(pa.array(is_h), "[HEADER] ", "[FOOTER] ")
        joined = pc.binary_join_element_wise(pref, t_in, "")
        conds.append(hf_m)
        cases.append(joined)
        keep[hf_m] = nonblank[hf_m]

    # ---- slide/sheet structural markers (E28/E38 prefixes) ----
    if blk_m.any():
        t_in = blanked(blk_m)
        trimmed = pc.utf8_trim_whitespace(t_in)
        nonblank = pc.not_equal(trimmed, "").to_numpy(zero_copy_only=False)
        is_slide = is_kind("slide")
        pre = pc.if_else(pa.array(is_slide), "=== Slide ", "=== Sheet: ")
        joined = pc.binary_join_element_wise(pre, t_in, " ===", "")
        conds.append(blk_m)
        cases.append(joined)
        keep[blk_m] = nonblank[blk_m]

    # unknown kinds: passthrough (keep=True, text untouched) — unless the
    # doc was marked an error result above, which drops ALL its spans
    if err_doc.any():
        keep &= ~err_doc[parent]

    # ---- merge all routes in ONE pass (default: verbatim passthrough
    # for pdf_block and unknown kinds) ----
    if conds:
        cond_struct = pc.make_struct(*[pa.array(c) for c in conds])
        out_text_arr = pc.case_when(cond_struct, *cases, text)
    else:
        out_text_arr = text

    # ---- reading-order sort (L1) + reassembly ----
    off_np = offset.to_numpy(zero_copy_only=False).astype("float64")  # NaN = null
    off_null = np.isnan(off_np)
    off_fill = np.where(off_null, 0.0, off_np)

    kept_idx = np.flatnonzero(keep)
    par_k = parent[kept_idx]
    order = np.lexsort((kept_idx, off_fill[kept_idx], off_null[kept_idx], par_k))
    take_idx = kept_idx[order]

    # doc title = first non-null span title in reading order (E1 metadata)
    doc_title = np.empty(n, dtype=object)
    doc_title[:] = None
    st = span_title[take_idx]
    t_valid = st != None  # noqa: E711  (elementwise on object array)
    if t_valid.any():
        u, fi = np.unique(parent[take_idx][t_valid], return_index=True)
        doc_title[u] = st[t_valid][fi]

    counts = np.bincount(par_k, minlength=n)
    new_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts, out=new_offsets[1:])

    take = pa.array(take_idx, type=pa.int64())
    clean_struct = pa.StructArray.from_arrays(
        [
            kind.take(take),
            out_text_arr.take(take),
            media_ref.take(take),
            offset.take(take),
        ],
        fields=list(ARROW_SPAN_STRUCT),
    )
    spans_clean = pa.ListArray.from_arrays(pa.array(new_offsets, type=pa.int32()),
                                           clean_struct)

    # ---- route bitmask per doc (vectorized scatter-or) ----
    class_bits = np.zeros(m, dtype=np.int64)
    class_bits[html_m] = _KIND_CLASS_BIT["html"]
    class_bits[pdf_m | table_m] = _KIND_CLASS_BIT["pdf"]
    class_bits[textlike_m | xml_m | md_m | rtf_m | json_m] = _KIND_CLASS_BIT["text"]
    class_bits[media_m] = _KIND_CLASS_BIT["media"]
    class_bits[hf_m | blk_m | tslide_m] = _KIND_CLASS_BIT["doc"]
    class_bits[~known_m] = _KIND_CLASS_BIT["other"]
    routes = np.zeros(n, dtype=np.int64)
    np.bitwise_or.at(routes, par_k, class_bits[kept_idx])
    route_np = _ROUTE_LOOKUP[routes]
    if err_doc.any():
        route_np = np.where(err_doc, "error", route_np)
    route_arr = pa.array(route_np, type=pa.string())

    elapsed_us = (time.perf_counter_ns() - t0) // 1000
    wall = np.zeros(n, dtype=np.int64)
    if n:
        wall[0] = elapsed_us

    return pa.RecordBatch.from_arrays(
        [
            doc_id,
            spans_clean,
            route_arr,
            pa.array(doc_title, type=pa.string()),
            pa.array(~err_doc),
            pa.array(err_msg, type=pa.string()),
            pa.array(wall),
        ],
        schema=ARROW_KERNEL_OUTPUT,
    )


def _error_batch(batch: pa.RecordBatch, err: str) -> pa.RecordBatch:
    n = batch.num_rows
    empty = pa.ListArray.from_arrays(
        pa.array(np.zeros(n + 1, dtype=np.int32)),
        pa.array([], type=ARROW_SPAN_STRUCT),
    )
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            empty,
            pa.array(["error"] * n, type=pa.string()),
            pa.array([None] * n, type=pa.string()),
            pa.array(np.zeros(n, dtype=bool)),
            pa.array([err] * n, type=pa.string()),
            pa.array(np.zeros(n, dtype=np.int64)),
        ],
        schema=ARROW_KERNEL_OUTPUT,
    )


def make_kernel(cfg: ExtractConfig = DEFAULT_CONFIG):
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        skip_unchanged_zip_reloads()
        for batch in batches:
            try:
                yield _clean_batch(batch, cfg)
            except Exception as e:  # catastrophic only; rules never raise
                yield _error_batch(batch, f"{type(e).__name__}: {e}")

    return kernel


def extract_arrow(df, cfg: ExtractConfig = DEFAULT_CONFIG):
    """documents(doc_id, spans) -> (doc_id, spans_clean, route, title,
    success, error, wall_us)."""
    from rag_document_parser_spark.schema import KERNEL_OUTPUT_SCHEMA

    return df.mapInArrow(make_kernel(cfg), KERNEL_OUTPUT_SCHEMA)
