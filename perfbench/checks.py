"""Correctness comparators for the benchmark's outputs.

Each returns a list of problems (empty when the check passes), so the
runner can report every failure of a run, not only the first.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable


def span_seq(spans: Iterable[Any] | None) -> list[tuple]:
    """The contract's comparison key: (kind, text, media_ref) in order.
    Accepts dicts or Spark Rows."""
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans or []]


def oracle_mismatches(sample: dict[str, list[dict]],
                      outputs: dict[str, Any],
                      clean_doc: Callable) -> list[str]:
    """Doc ids whose output span sequence differs from the oracle's, or
    that have no output row at all. ``sample`` maps doc_id to input
    spans; ``outputs`` maps doc_id to the committed ``spans_clean``."""
    bad = []
    for doc_id, spans in sample.items():
        if doc_id not in outputs:
            bad.append(doc_id)
            continue
        want = span_seq(clean_doc(spans)[0])
        if span_seq(outputs[doc_id]) != want:
            bad.append(doc_id)
    return bad


def commit_problems(n_input: int, n_rows: int, n_distinct: int,
                    n_failed: int) -> list[str]:
    """Committed output rows must be exactly the input docs, all
    successful."""
    out = []
    if n_rows != n_input:
        out.append(f"{n_rows} output rows for {n_input} input docs")
    if n_distinct != n_rows:
        out.append(f"{n_rows - n_distinct} duplicate doc_ids in output")
    if n_failed:
        out.append(f"{n_failed} docs with success=false")
    return out


def lineage_problems(lineage: list[tuple[int, int]],
                     input_counts: dict[int, int],
                     n_buckets: int) -> list[str]:
    """``lineage`` is (partition_id, doc_count) over every run of a job.

    No bucket may be committed twice, the committed buckets must cover
    every bucket id, and each bucket's doc_count must equal the input's
    per-bucket doc count."""
    out = []
    seen: dict[int, int] = {}
    for pid, count in lineage:
        if pid in seen:
            out.append(f"bucket {pid} committed twice")
        seen[pid] = count
    missing = sorted(set(range(n_buckets)) - set(seen))
    if missing:
        out.append(f"{len(missing)} buckets never committed, first "
                   f"{missing[:5]}")
    for pid, count in sorted(seen.items()):
        if count != input_counts.get(pid, 0):
            out.append(f"bucket {pid}: lineage doc_count {count}, input "
                       f"has {input_counts.get(pid, 0)}")
    return out
