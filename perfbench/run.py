"""Extraction-job benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload mixed_fresh --seed 1 --seconds 25 \\
        --trace 0

Runs from the repository root. Set-up starts a Spark session sized for
the machine, writes the workload's seeded input and warms the JVM and the
Python worker pool with one untimed job. Then ``plans.job.run_job`` runs
in a closed loop (one client; the next rep starts when the last
completes) for ``--seconds``. With ``--trace 1`` the loop instead runs
the traced layer split of ``layers.py``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (docs) and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it holds the run's details: machine, input stats, per-rep samples and
every correctness problem. Exit status is 0 only when every correctness
check passed; 2 when the package or the workload cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import procfs  # noqa: E402
from stats import Deadline, median, metric_block  # noqa: E402
from workloads import N_BUCKETS, WORKLOADS, Workload  # noqa: E402
import workloads  # noqa: E402

# end-to-end metric -> unit
E2E = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
}
INPUT_REPS = 3      # set-up writes the input this many times (median)
ORACLE_SAMPLE = 300  # docs checked against semantics.clean_doc per run


def git_commit(root: str) -> str | None:
    """HEAD's commit id read from .git, or None outside a git checkout."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(root, ".git", ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


class Bench:
    """One workload's session, input and job runner."""

    def __init__(self, w: Workload, seed: int, work: str):
        self.w, self.seed, self.work = w, seed, work
        self.n_out = 0

    # ----------------------------------------------------------- set-up

    def setup(self) -> dict:
        import session
        from rag_document_parser_spark.config import ExtractConfig
        from rag_document_parser_spark.plans import job as J

        t0 = time.perf_counter()
        self.spark, self.session_info = session.start(ROOT, self.work)
        self.cores = self.session_info["cores"]
        session_s = time.perf_counter() - t0
        self.J, self.cfg = J, ExtractConfig(n_buckets=N_BUCKETS)

        input_walls = []
        for i in range(INPUT_REPS):
            t0 = time.perf_counter()
            rows, stats = gen.generate(self.seed, self.w.n_docs,
                                       self.w.n_giant, self.w.giant_spans)
            buckets = workloads.bucket_ids([r["doc_id"] for r in rows])
            path = os.path.join(self.work, f"input{i}")
            stats["parquet_bytes"] = workloads.write_input(
                rows, buckets, path, self.w.bucketed)
            input_walls.append(time.perf_counter() - t0)
        self.input_path = path
        self.rows, self.stats = rows, stats
        self.bucket_counts = Counter(buckets)

        # Warm-up: the first job on a cold JVM costs 3-4 warm ones. On a
        # resume the crash is that job; a fresh run warms up on a quarter
        # of the docs plus a giant one, so chunking is warmed too.
        t0 = time.perf_counter()
        self.crashed: list[int] = []
        if self.w.bucketed:
            self.snapshot = os.path.join(self.work, "crashed")
            J.run_job(self.spark, self.read_input(), self.snapshot, self.cfg,
                      resume=True, pre_bucketed=True,
                      fail_after_buckets=self.w.crash_after, run_id="crash")
            self.crashed = sorted(r["partition_id"]
                                  for r in self.lineage(self.snapshot))
        else:
            big = [i for i, r in enumerate(rows)
                   if len(r["spans"]) > self.cfg.max_spans_per_chunk]
            keep = sorted(set(big[:1]) | set(range(len(rows) // 4)))
            warm = os.path.join(self.work, "warm")
            workloads.write_input([rows[i] for i in keep],
                                  [buckets[i] for i in keep], warm, False)
            J.run_job(self.spark, self.spark.read.parquet(warm),
                      os.path.join(self.work, "warm_out"), self.cfg,
                      resume=False, run_id="warm")
        todo = [r for r, b in zip(rows, buckets) if b not in self.crashed]
        self.job_stats = {**gen.input_stats(todo), "spans_per_doc":
                          [len(r["spans"]) for r in todo]}
        warm_s = time.perf_counter() - t0
        return {"session_s": session_s, "input_s": input_walls,
                "warmup_s": warm_s,
                "setup_s": session_s + median(input_walls) + warm_s}

    # ------------------------------------------------------------ layers

    def read_input(self):
        return self.spark.read.parquet(self.input_path)

    def job_input(self):
        """The rows a rep's job extracts: all of them on a fresh run, the
        buckets the crash left uncommitted on a resume."""
        df = self.read_input()
        if self.crashed:
            df = df.where(~self.J.bucket_col(N_BUCKETS).isin(self.crashed))
        return df

    def partitions(self) -> int:
        # the cap run_job applies to its own exchange
        return min(N_BUCKETS, self.spark.sparkContext.defaultParallelism * 2)

    def exchanged(self, df):
        return df.select("doc_id", "spans").repartition(
            self.partitions(), self.J.bucket_col(N_BUCKETS))

    def extracted(self, df):
        """``extract`` exactly as ``run_job`` calls it for this input."""
        df = df.select("doc_id", "spans")
        if self.w.bucketed:
            return self.J.extract(df, self.cfg, stable=True)
        return self.J.extract(df, self.cfg,
                              partition_expr=self.J.bucket_col(N_BUCKETS),
                              num_partitions=self.partitions())

    def fresh_out(self) -> str:
        """A new output dir (a copy of the crashed state on a resume);
        the previous one is removed."""
        shutil.rmtree(os.path.join(self.work, f"out{self.n_out}"),
                      ignore_errors=True)
        self.n_out += 1
        out = os.path.join(self.work, f"out{self.n_out}")
        if self.w.bucketed:
            shutil.copytree(self.snapshot, out)
        return out

    def rep(self, out_dir: str) -> dict:
        """One closed-loop rep: the fresh job, or the resume of the crashed
        state. Returns run_job's summary with the wall time added."""
        t0 = time.perf_counter()
        if self.w.bucketed:
            s = self.J.run_job(self.spark, self.read_input(), out_dir,
                               self.cfg, resume=True, pre_bucketed=True,
                               run_id="resume")
        else:
            s = self.J.run_job(self.spark, self.read_input(), out_dir,
                               self.cfg, resume=False, run_id="fresh")
        s["wall_s"] = time.perf_counter() - t0
        return s

    def data_files(self, out_dir: str) -> tuple[int, int, int]:
        files = nbytes = dirs = 0
        for d in os.listdir(os.path.join(out_dir, "data")):
            sub = os.path.join(out_dir, "data", d)
            if not d.startswith("bucket=") or not os.path.isdir(sub):
                continue
            dirs += 1
            for f in os.listdir(sub):
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(sub, f))
        return files, nbytes, dirs

    def lineage(self, out_dir: str) -> list:
        return self.J.read_lineage(self.spark, out_dir).select(
            "partition_id", "doc_count", "run_id").collect()

    def redo_ratio(self, out_dir: str) -> float:
        """Docs the resume wrote per doc the crash left uncommitted (0 for
        a fresh job, which has no crash)."""
        if not self.crashed:
            return 0.0
        redone = sum(r["doc_count"] for r in self.lineage(out_dir)
                     if r["run_id"] == "resume")
        return redone / self.job_stats["docs"]

    # ------------------------------------------------------------ checks

    def check_output(self, out_dir: str) -> tuple[list[str], int, int]:
        """All correctness checks on a finished job's output. Returns
        (problems, docs with success=false, oracle mismatches)."""
        from pyspark.sql import functions as F
        from rag_document_parser_spark import semantics

        data = self.spark.read.parquet(os.path.join(out_dir, "data"))
        agg = data.agg(F.count("*").alias("n"),
                       F.count_distinct("doc_id").alias("d"),
                       F.count(F.when(~F.col("success"), 1)).alias("f")
                       ).collect()[0]
        problems = checks.commit_problems(self.stats["docs"], agg["n"],
                                          agg["d"], agg["f"])
        lin = [(r["partition_id"], r["doc_count"])
               for r in self.lineage(out_dir)]
        problems += checks.lineage_problems(lin, self.bucket_counts,
                                            N_BUCKETS)

        rng = random.Random(self.seed)
        ids = [r["doc_id"] for r in self.rows]
        giants = [r["doc_id"] for r in self.rows
                  if len(r["spans"]) > self.cfg.max_spans_per_chunk]
        sample = set(rng.sample(ids, min(ORACLE_SAMPLE, len(ids))))
        sample.update(giants[:2])
        got = {r["doc_id"]: r["spans_clean"] for r in
               data.where(F.col("doc_id").isin(sorted(sample)))
               .select("doc_id", "spans_clean").collect()}
        inputs = {r["doc_id"]: r["spans"] for r in self.rows
                  if r["doc_id"] in sample}
        bad = checks.oracle_mismatches(
            inputs, got, lambda s: semantics.clean_doc(s, self.cfg))
        if bad:
            problems.append(f"{len(bad)} oracle mismatches, first {bad[:3]}")
        return problems, agg["f"], len(bad)


def measure(bench: Bench, seconds: float) -> dict:
    """The untraced closed loop; returns per-rep samples."""
    n = bench.job_stats["docs"]
    reps = []
    steal0 = procfs.cpu_ticks()
    loop = Deadline(seconds)
    out_dir = None
    while loop.another():
        out_dir = bench.fresh_out()
        cpu0 = procfs.tree_cpu_s()
        s = bench.rep(out_dir)
        cpu = procfs.tree_cpu_s() - cpu0
        reps.append({"wall_s": s["wall_s"], "cpu_s": cpu,
                     "committed": s["docs_committed"]})
    steal = procfs.steal_frac(steal0, procfs.cpu_ticks())
    return {"reps": reps, "out_dir": out_dir, "steal_frac": steal,
            "docs_per_s": median([n / r["wall_s"] for r in reps]),
            "cpu_s_per_kdoc": median([r["cpu_s"] / (n / 1000)
                                      for r in reps])}


def run(w: Workload, seed: int, seconds: float, trace: bool,
        work: str) -> tuple[dict, dict, bool]:
    bench = Bench(w, seed, work)
    try:
        return _run(bench, seconds, trace)
    finally:
        if hasattr(bench, "spark"):
            stop(bench.spark)


def stop(spark) -> None:
    """Stop Spark (which stops the Python workers) and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _run(bench: Bench, seconds: float, trace: bool) -> tuple[dict, dict, bool]:
    import pyarrow
    import pyspark

    w, seed, work = bench.w, bench.seed, bench.work
    setup = bench.setup()
    n_all, n = bench.stats["docs"], bench.job_stats["docs"]
    problems: list[str] = []
    details: dict = {
        "workload": w.name, "seed": seed, "trace": int(trace),
        "machine": {**procfs.machine(), **bench.session_info,
                    "spark": pyspark.__version__,
                    "pyarrow": pyarrow.__version__,
                    "commit": git_commit(ROOT)},
        "input": bench.stats, "docs_per_rep": n, "setup": setup,
    }

    if trace:
        import layers

        per_layer, tracer = layers.traced_metrics(bench, seconds)
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".bench_out",
                                  f"trace-{w.name}-{seed}.json"))
        units = {k: u for k, (u, _) in layers.PER_LAYER.items()}
        metrics = metric_block(per_layer, units)
        out_dir = os.path.join(work, f"out{bench.n_out}")
        # each iteration runs the job twice: untraced, then traced
        attempted = 2 * n * len(tracer.durations("job"))
        failed = int(per_layer["kernel.docs_error"])
    else:
        m = measure(bench, seconds)
        out_dir = m["out_dir"]
        reps = m["reps"]
        attempted = n * len(reps)
        failed = sum(n_all - r["committed"] for r in reps)
        for i, r in enumerate(reps):
            if r["committed"] != n_all:
                problems.append(f"rep {i}: {r['committed']} of {n_all} docs "
                                "committed")
        values = {"docs_per_s": m["docs_per_s"],
                  "cpu_s_per_kdoc": m["cpu_s_per_kdoc"],
                  "setup_s": setup["setup_s"],
                  "worker_peak_rss_mb": procfs.python_worker_peak_rss_mb()}
        metrics = metric_block(values, E2E)
        details["samples"] = {"reps": len(reps), "steal_frac": m["steal_frac"],
                              "walls_s": [r["wall_s"] for r in reps],
                              "cpu_s": [r["cpu_s"] for r in reps]}

    more, n_false, mismatches = bench.check_output(out_dir)
    problems += more
    failed = max(failed, n_false)
    details.update({"failed_doc_frac": failed / attempted,
                    "oracle_mismatch_docs": mismatches,
                    "problems": problems})
    result = {"correct": not problems, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return details, result, not problems


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    w = WORKLOADS.get(args.workload)
    if w is None:
        print(f"unknown workload {args.workload!r}; known: "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "rag_document_parser_spark")):
        print(f"package rag_document_parser_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work",
                        f"{w.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        details, result, ok = run(w, args.seed, args.seconds,
                                  bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
