"""Pins the driver-contract surface of __spark_entry__.py.

VERDICT r4 "What's wrong #4": SURVEY.md said 196 driver queries while
queries() carried 197.  This test pins the count and the structural
contract (every query has a callable; every oracle key names a query)
so the number cannot silently drift from SURVEY.md again.
"""
from __future__ import annotations

import json
import re
import warnings
from pathlib import Path

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parents[1]

# Bump this deliberately (together with SURVEY.md) when adding queries.
EXPECTED_QUERY_COUNT = 202


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


def test_queries_lead_with_the_never_driver_gated_set():
    """The driver gates the dict front, so every query that no
    CORRECTNESS_r*.json round has gated must lead ``queries()``.
    Derived from the artifacts: a new round's file folds in."""
    gated = set()
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        gated |= set(json.loads(path.read_text(encoding="utf-8")))
    assert gated, "no CORRECTNESS_r*.json artifact found"
    names = list(entry.queries())
    never = {k for k in names if k not in gated}
    assert set(names[:len(never)]) == never


def test_entry_compiles_without_warnings():
    """Invalid string escapes (a DeprecationWarning, a SyntaxWarning from
    3.12) would change meaning once they become errors."""
    src = (REPO / "__spark_entry__.py").read_text(encoding="utf-8")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, "__spark_entry__.py", "exec")
