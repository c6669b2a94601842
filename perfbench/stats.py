"""Pure helpers: summary statistics, spans and self time, metric names.

Nothing here touches Spark, so the helpers are unit-tested on their own
(``perfbench/tests``).
"""

from __future__ import annotations

import json
import re
import statistics
import time
from dataclasses import asdict, dataclass, field

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them
    (the exclusive method); a single value is its own quartiles."""
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_frac(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median: the run-to-run spread the benchmark's bounds are set against."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


class Deadline:
    """Closed-loop pacing: always one rep, then another only if a rep as
    long as the last one still ends within ``seconds``."""

    def __init__(self, seconds: float):
        self.t0 = self.last = time.perf_counter()
        self.seconds, self.last_rep, self.n = seconds, 0.0, 0

    def another(self) -> bool:
        now = time.perf_counter()
        if self.n:
            self.last_rep = now - self.last
        self.last = now
        self.n += 1
        return self.n == 1 or now - self.t0 + self.last_rep <= self.seconds


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None  # index of the enclosing span
    workload: str = ""
    rep: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans kept in memory while the benchmark runs, written at the end.

    ``with tracer.span("write"):`` records one span whose parent is the
    span open around it, if any."""

    workload: str = ""
    rep: int = 0
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def begin(self, name: str) -> int:
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.workload, self.rep))
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def end(self, idx: int) -> None:
        if not self._open or self._open[-1] != idx:
            raise RuntimeError(f"span {idx} closed out of order")
        self._open.pop()
        self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer.begin(self.name)
        return self.tracer.spans[self.idx]

    def __exit__(self, *exc):
        self.tracer.end(self.idx)
        return False


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (overlapping children are merged first)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(s.dur - covered)
    return out


def self_time_by_name(spans: list[Span], first: int = 0) -> dict[str, float]:
    """Total self time per span name, over the spans from index
    ``first`` on."""
    totals: dict[str, float] = {}
    for s, t in list(zip(spans, self_times(spans)))[first:]:
        totals[s.name] = totals.get(s.name, 0.0) + t
    return totals


# ---------------------------------------------------------------- metrics


def check_name(name: str) -> str:
    if not _NAME.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not _UNIT.match(unit):
        raise ValueError(f"bad unit {unit!r}")
    return unit


def metric_block(values: dict[str, float],
                 units: dict[str, str]) -> dict[str, dict]:
    """The result line's ``metrics`` object: exactly the names in
    ``units``, each with its value and unit."""
    missing = sorted(set(units) - set(values))
    extra = sorted(set(values) - set(units))
    if missing or extra:
        raise ValueError(f"metrics missing {missing}, unexpected {extra}")
    return {check_name(n): {"value": float(values[n]),
                            "unit": check_unit(units[n])}
            for n in units}
