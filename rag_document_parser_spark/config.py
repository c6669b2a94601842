"""Engine configuration.

Mirrors the reference's config surface (``/root/reference/utils/config.py``)
for the knobs that affect extraction *semantics*; execution knobs (buckets,
batch sizes) are ours. Per-route constants intentionally differ per route —
the reference's inconsistent thresholds are part of the contract
(SURVEY.md §7 risk register): OCR min-size is 100x50 for PDF-context media
(``/root/reference/parsers/pdf_parser.py:431-432``) but 50x30 for
slide-context media (``/root/reference/parsers/powerpoint_parser.py:337-338``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    # -- text post-processing flags (reference utils/config.py:175-177) --
    normalize_unicode: bool = True      # NFKC (text_parser.py:344-347)
    remove_empty_lines: bool = True     # text_parser.py:349-353
    preserve_whitespace: bool = False   # text_parser.py:355-360
    # json route: True = json_parser flatten (text_parser.py:250-273);
    # False = the raw_json fallback (content unchanged).
    flatten_json: bool = True

    # -- html route (E1/E2) --
    # "dom": the reference's PRIMARY html path (BeautifulSoup,
    # text_parser.py:150-180) re-expressed as a tokenizer contract: title
    # capture, script/style/comment/head removal, block segmentation at
    # block-element boundaries, and a readability-style link-density
    # filter per block (the north-star's "DOM-tree text-density
    # heuristics"). "regex": the no-BS4 fallback (text_parser.py:309-320).
    html_mode: str = "dom"
    # density rule: drop a block when link_density > 1/2 AND its non-ws
    # text is shorter than this (short, link-dominated blocks are nav/
    # boilerplate). Integer threshold so every implementation compares
    # identically.
    html_density_min_chars: int = 40

    # -- OCR stand-in (image_parser.py:229-233; utils/config.py:46) --
    ocr_confidence_threshold: float = 0.3
    # size gates: (min_width_exclusive, min_height_exclusive) per media kind
    ocr_min_size_pdf: tuple[int, int] = (100, 50)     # pdf_parser.py:431-432
    ocr_min_size_slide: tuple[int, int] = (50, 30)    # powerpoint_parser.py:337-338

    # -- table handling (pdf_parser.py:315-345; spreadsheet caps config.py:110-111) --
    max_table_rows: int = 10_000
    max_table_columns: int = 100
    # E20 opt-in: run the Arabic normalizer over table cells before the
    # render — the processing analog of the reference's per-cell
    # `_process_arabic_text` (document_parser.py:551-556), opt-in the
    # same way the reference gates it on HAS_ARABIC_SUPPORT. The
    # normalizer is character-local (strips/substitutes single chars,
    # never touches \t or \n), so whole-payload normalization before the
    # split is exactly per-cell normalization — the kernel, the contract
    # and the oracle all use that equivalence.
    arabic_tables: bool = False

    # -- unknown span kinds --
    # "passthrough" (default): forward-compatibility — unknown kinds keep
    # their text untouched. "error": the reference's behavior for a
    # category no parser claims — the whole document becomes an error
    # result ("Unsupported file type",
    # /root/reference/main.py:94-138 error ParseResult path); this is
    # also what puts the A1/A3 failure reports under the oracle gate on
    # a non-empty failure set.
    unknown_kinds: str = "passthrough"

    # -- execution --
    n_buckets: int = 256                # salted repartition granularity
    max_spans_per_chunk: int = 4096     # giant-doc intra-row chunking budget
    arrow_max_records_per_batch: int = 2048


DEFAULT_CONFIG = ExtractConfig()
