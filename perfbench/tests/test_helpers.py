"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
import session  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
import xxh64  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


# ------------------------------------------------------------- statistics

def test_quartiles_match_statistics_quantiles():
    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, q2, q3 = stats.quartiles(vals)
    assert [q1, q2, q3] == statistics.quantiles(vals, n=4)
    assert stats.iqr_frac(vals) == pytest.approx((q3 - q1) / q2)


def test_single_value_has_zero_spread():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.iqr_frac([2.5]) == 0.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])
    assert stats.median([4, 1, 3]) == 3.0


def test_deadline_always_runs_once_then_paces(monkeypatch):
    clock = iter([0.0, 0.0, 4.0, 8.0, 9.0])
    monkeypatch.setattr(stats.time, "perf_counter", lambda: next(clock))
    d = stats.Deadline(10.0)
    assert d.another()          # t=0: the first rep always runs
    assert d.another()          # t=4: a 4 s rep ends at 8 <= 10
    assert not d.another()      # t=8: another 4 s rep would end at 12


# ------------------------------------------------------------ self time

def _span(name, start, end, parent=None):
    return stats.Span(name, start, end, parent)


def test_self_time_subtracts_children_and_merges_overlaps():
    spans = [_span("job", 0.0, 10.0),
             _span("write", 1.0, 4.0, 0),
             _span("lineage", 3.0, 6.0, 0),   # overlaps write by 1 s
             _span("read", 8.0, 12.0, 0),     # clipped to the parent
             _span("inner", 1.5, 2.0, 1)]     # grandchild: not job's
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(3.0)
    assert got[4] == pytest.approx(0.5)


def test_self_time_by_name_from_an_offset():
    spans = [_span("job", 0.0, 4.0), _span("write", 1.0, 2.0, 0),
             _span("job", 5.0, 9.0), _span("write", 6.0, 8.0, 2)]
    assert stats.self_time_by_name(spans) == pytest.approx(
        {"job": 5.0, "write": 3.0})
    assert stats.self_time_by_name(spans, 2) == pytest.approx(
        {"job": 2.0, "write": 2.0})


def test_tracer_nests_and_rejects_out_of_order_close(tmp_path):
    t = stats.Tracer(workload="w")
    with t.span("job"):
        with t.span("write"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.spans[1].workload == "w"
    a = t.begin("a")
    t.begin("b")
    with pytest.raises(RuntimeError):
        t.end(a)
    path = tmp_path / "trace.json"
    t.write(str(path))
    assert json.loads(path.read_text())[0]["name"] == "job"


# --------------------------------------------------------------- metrics

def test_metric_block_requires_exactly_the_named_metrics():
    units = {"docs_per_s": "docs/s", "setup_s": "s"}
    block = stats.metric_block({"docs_per_s": 10, "setup_s": 1.5}, units)
    assert block == {"docs_per_s": {"value": 10.0, "unit": "docs/s"},
                     "setup_s": {"value": 1.5, "unit": "s"}}
    with pytest.raises(ValueError):
        stats.metric_block({"docs_per_s": 1}, units)
    with pytest.raises(ValueError):
        stats.metric_block({"docs_per_s": 1, "setup_s": 1, "x": 2}, units)


@pytest.mark.parametrize("name", ["", "_x", "a b", "x" * 65, "a:b"])
def test_bad_metric_names_rejected(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


def test_every_declared_metric_name_and_unit_is_valid():
    for name, unit in run.E2E.items():
        stats.check_name(name)
        stats.check_unit(unit)
    for name, (unit, better) in layers.PER_LAYER.items():
        stats.check_name(name)
        stats.check_unit(unit)
        assert better in ("higher", "lower")


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == run.E2E
    assert e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    per = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert per == layers.PER_LAYER


# ---------------------------------------------------------- comparators

def _s(kind, text, ref=None, off=0):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": off}


def test_span_seq_ignores_offsets_but_keeps_order():
    a = [_s("text", "x", off=1), _s("media", None, "img://1x1/a", 2)]
    b = [_s("text", "x", off=9), _s("media", None, "img://1x1/a", 3)]
    assert checks.span_seq(a) == checks.span_seq(b)
    assert checks.span_seq(a) != checks.span_seq(b[::-1])
    assert checks.span_seq(None) == []


def test_oracle_mismatches_flags_wrong_and_missing_docs():
    def oracle(spans):
        return [_s(s["kind"], s["text"].strip()) for s in spans], "text"

    sample = {"a": [_s("text", " hi ")], "b": [_s("text", "yo")],
              "c": [_s("text", "z")]}
    outputs = {"a": [_s("text", "hi")], "b": [_s("text", "YO")]}
    assert checks.oracle_mismatches(sample, outputs, oracle) == ["b", "c"]


def test_commit_problems():
    assert checks.commit_problems(10, 10, 10, 0) == []
    assert len(checks.commit_problems(10, 11, 10, 2)) == 3


def test_lineage_problems():
    counts = {0: 3, 1: 2, 2: 1}
    assert checks.lineage_problems([(0, 3), (2, 1), (1, 2)], counts, 3) == []
    probs = checks.lineage_problems([(0, 3), (0, 3), (1, 5)], counts, 3)
    assert any("committed twice" in p for p in probs)
    assert any("never committed" in p for p in probs)
    assert any("bucket 1" in p for p in probs)


# ------------------------------------------------------------- generator

def test_generator_is_seeded_and_mixes_routes():
    rows, st = gen.generate(7, 400, n_giant=2, giant_spans=300)
    again, _ = gen.generate(7, 400, n_giant=2, giant_spans=300)
    other, _ = gen.generate(8, 400, n_giant=2, giant_spans=300)
    assert rows == again and rows != other
    assert st["docs"] == 402 and len({r["doc_id"] for r in rows}) == 402
    assert set(st["route_docs"]) == set(gen.ROUTES) | {"giant"}
    assert st["spans"] == sum(len(r["spans"]) for r in rows)
    sizes = sorted(len(r["spans"]) for r in rows)
    assert sizes[-1] == 300 and sizes[-3] < 300


def test_generator_repeats_media_refs():
    rows, _ = gen.generate(3, 600)
    refs = [s["media_ref"] for r in rows for s in r["spans"]
            if s["media_ref"] and s["media_ref"].startswith("img://")]
    assert len(set(refs)) < len(refs) / 2


def test_bucketed_input_holds_one_bucket_per_file(tmp_path):
    import pyarrow.parquet as pq

    rows, _ = gen.generate(5, 300)
    buckets = workloads.bucket_ids([r["doc_id"] for r in rows])
    workloads.write_input(rows, buckets, str(tmp_path / "b"), bucketed=True)
    want = dict(zip((r["doc_id"] for r in rows), buckets))
    seen = []
    for f in sorted((tmp_path / "b").iterdir()):
        ids = pq.read_table(f).column("doc_id").to_pylist()
        assert {want[i] for i in ids} == {int(f.stem.split("-")[1])}
        seen += ids
    assert sorted(seen) == sorted(want)
    assert len(list((tmp_path / "b").iterdir())) == len(set(buckets))
    workloads.write_input(rows, buckets, str(tmp_path / "f"), bucketed=False)
    assert len(list((tmp_path / "f").iterdir())) == 8
    assert pq.read_table(str(tmp_path / "f")).num_rows == len(rows)


# ----------------------------------------------------------------- xxh64

# Spark 4.1's xxhash64(s) for these strings (covers the <4, 4-7, 8-31,
# 32+ byte paths and multi-byte UTF-8)
SPARK_XXHASH64 = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "abcd": -6810745876291105281,
    "d1-0000001": -1973282246640028028,
    "g12-003": 324757635654620942,
    "x" * 31: -1716462135722163746,
    "y" * 32: 5202031258905353636,
    "z" * 33: -8411362631970189001,
    "é中文-long-id-with-unicode-0123456789abcdef": 5643875329214749093,
    "q" * 100: -7243449934361715218,
}


def test_xxh64_matches_spark():
    for s, want in SPARK_XXHASH64.items():
        assert xxh64.xxh64(s.encode("utf-8")) == want, s


def test_bucket_is_pmod():
    for s, h in SPARK_XXHASH64.items():
        b = xxh64.bucket(s, 32)
        assert 0 <= b < 32 and (h - b) % 32 == 0


# ---------------------------------------------------------------- procfs

def test_steal_frac():
    assert procfs.steal_frac((10, 1000), (30, 1100)) == pytest.approx(0.2)
    assert procfs.steal_frac((10, 1000), (10, 1000)) == 0.0


def test_cpu_readings_are_sane():
    steal, total = procfs.cpu_ticks()
    assert 0 <= steal <= total
    assert procfs.tree_cpu_s() >= 0.0
    assert procfs.machine()["nproc"] >= 1


def test_task_slots_leave_half_the_cores_free():
    assert [session.task_slots(n) for n in (1, 2, 3, 4, 8)] == [1, 1, 1, 2, 4]
