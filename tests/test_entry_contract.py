"""Pins the driver-contract surface of __spark_entry__.py.

VERDICT r4 "What's wrong #4": SURVEY.md said 196 driver queries while
queries() carried 197.  This test pins the count and the structural
contract (every query has a callable; every oracle key names a query)
so the number cannot silently drift from SURVEY.md again.
"""
from __future__ import annotations

import re
import warnings
from pathlib import Path

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parents[1]

# Bump this deliberately (together with SURVEY.md) when adding queries.
EXPECTED_QUERY_COUNT = 212


def test_query_count_pinned():
    assert len(entry.queries()) == EXPECTED_QUERY_COUNT


def test_survey_states_the_same_count():
    survey = (REPO / "SURVEY.md").read_text(encoding="utf-8")
    m = re.search(r"(\d+) driver queries\s*\ntotal", survey)
    assert m, "SURVEY.md no longer states the driver-query count"
    assert int(m.group(1)) == EXPECTED_QUERY_COUNT


def test_every_query_is_callable_and_oracles_are_a_subset():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert all(callable(fn) for fn in qs.values())
    unknown = set(oracles) - set(qs)
    assert not unknown, f"oracle_sql keys without a queries() entry: {unknown}"


def test_round5_rotation_front_is_the_never_gated_set():
    """The first 7 entries must be the two-round-stale seven from
    VERDICT r4 task #1 — the driver gates the dict front."""
    front = list(entry.queries())[:7]
    assert front == [
        "pdf_images",
        "arabic_tables",
        "failed_docs_poisoned",
        "summary_poisoned",
        "kmeans_centroids",
        "segment_audio",
        "semdedup",
    ]


def test_entry_compiles_without_warnings():
    """Invalid string escapes (a DeprecationWarning, a SyntaxWarning from
    3.12) would change meaning once they become errors."""
    src = (REPO / "__spark_entry__.py").read_text(encoding="utf-8")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, "__spark_entry__.py", "exec")
