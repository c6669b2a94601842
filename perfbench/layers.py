"""The traced run: the job split into the repository's layers.

Layers are measured from outside the package, by timing calls into each
layer's public functions:

- ``input``: a noop-sink scan of the generated table;
- ``exchange``: scan + the salted ``bucket_col`` repartition, minus input;
- ``kernel``: ``plans.job.extract`` (the Arrow kernel), minus the prefix
  before it; its body time is the kernel's own ``wall_us`` column, and
  the rest of the kernel stages' task time is Python-boundary cost;
- ``chunk``: ``extract`` over the giant docs alone;
- ``write``: the data ``DataFrameWriter.parquet`` call inside ``run_job``
  (it runs the whole pipeline), minus the extract prefix;
- ``commit``: the rest of ``run_job`` — lineage write, read-back and
  summary, and the resume probe via ``read_lineage``.

Stage task time, shuffle bytes and task counts come from Spark's status
store (readable with the UI disabled), per job group.
"""

from __future__ import annotations

import math
import os

from stats import Deadline, Tracer, median, self_time_by_name
import procfs

ROUTE_CLASSES = ("html", "pdf", "text", "media", "doc", "other", "empty")

# per-layer metric -> unit, better; every one is reported by a traced run
PER_LAYER = {
    "input.s": ("s", "lower"),
    "input.bytes": ("bytes", "lower"),
    "input.tasks": ("count", "lower"),
    "exchange.s": ("s", "lower"),
    "exchange.shuffle_bytes": ("bytes", "lower"),
    "exchange.tasks": ("count", "lower"),
    "kernel.s": ("s", "lower"),
    "kernel.body_s": ("s", "lower"),
    "kernel.boundary_s": ("s", "lower"),
    "kernel.batches": ("count", "lower"),
    "kernel.spans_in": ("count", "higher"),
    "kernel.spans_out": ("count", "higher"),
    "kernel.span_keep_ratio": ("ratio", "higher"),
    "kernel.chars_in": ("count", "higher"),
    "kernel.chars_out": ("count", "higher"),
    "kernel.docs_error": ("count", "lower"),
    **{f"kernel.route_docs.{r}": ("count", "higher") for r in ROUTE_CLASSES},
    "chunk.s": ("s", "lower"),
    "chunk.rows": ("count", "lower"),
    "chunk.task_skew": ("ratio", "lower"),
    "write.s": ("s", "lower"),
    "write.files": ("count", "lower"),
    "write.bytes": ("bytes", "lower"),
    "write.files_per_bucket": ("ratio", "lower"),
    "commit.s": ("s", "lower"),
    "commit.lineage_write_s": ("s", "lower"),
    "commit.read_lineage_s": ("s", "lower"),
    "commit.spark_jobs": ("count", "lower"),
    "resume.skipped_buckets": ("count", "higher"),
    "resume.redo_ratio": ("ratio", "lower"),
    "job.s": ("s", "lower"),
    "job.self_s": ("s", "lower"),
    "job.attributed_frac": ("ratio", "higher"),
    "job.tasks": ("count", "lower"),
    "job.failed_tasks": ("count", "lower"),
    "job.cpu_util": ("ratio", "higher"),
    "machine.steal_frac": ("ratio", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class StatusStore:
    """Stage metrics of the jobs run under one job group."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> list:
        out = []
        for jid in self.jobs(group):
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else []:
                sd = self.store.lastStageAttempt(sid)
                if sd.numCompleteTasks() > 0:  # skipped stages never ran
                    out.append(sd)
        return out

    def totals(self, group: str) -> dict:
        st = self.stages(group)
        return {
            "tasks": sum(s.numCompleteTasks() for s in st),
            "failed_tasks": sum(s.numFailedTasks() for s in st),
            "run_s": sum(s.executorRunTime() for s in st) / 1e3,
            "shuffle_bytes": sum(s.shuffleWriteBytes() for s in st),
        }

    def busiest_stage_skew(self, group: str) -> float:
        """max / median task duration in the stage with the most task
        time: the stage that sets the job's critical path."""
        st = self.stages(group)
        if not st:
            return 0.0
        sd = max(st, key=lambda s: s.executorRunTime())
        tl = self.store.taskList(sd.stageId(), sd.attemptId(),
                                 sd.numTasks() + sd.numFailedTasks())
        durs = [tl.apply(i).duration().get() for i in range(tl.size())
                if tl.apply(i).duration().isDefined()]
        m = median(durs) if durs else 0.0
        return max(durs) / m if m else 0.0


class _Patched:
    """Records spans around the data write, the lineage write and
    ``read_lineage`` while ``run_job`` runs; restores them on exit."""

    def __init__(self, tracer: Tracer, J):
        from pyspark.sql.readwriter import DataFrameWriter

        self.tracer, self.J, self.W = tracer, J, DataFrameWriter

    def __enter__(self):
        tracer = self.tracer
        self.orig_parquet = orig_parquet = self.W.parquet
        self.orig_read = orig_read = self.J.read_lineage

        def parquet(writer, path, *a, **k):
            name = ("write" if os.path.basename(path.rstrip("/")) == "data"
                    else "commit.lineage_write")
            with tracer.span(name):
                return orig_parquet(writer, path, *a, **k)

        def read_lineage(*a, **k):
            with tracer.span("commit.read_lineage"):
                return orig_read(*a, **k)

        self.W.parquet = parquet
        self.J.read_lineage = read_lineage
        return self

    def __exit__(self, *exc):
        self.W.parquet = self.orig_parquet
        self.J.read_lineage = self.orig_read
        return False


def traced_metrics(bench, seconds: float) -> tuple[dict, Tracer]:
    """Run traced iterations for ``seconds`` (at least one); return the
    per-layer metrics (medians over iterations) and the spans."""
    from pyspark.sql import Observation, functions as F

    J, cfg, w, spark = bench.J, bench.cfg, bench.w, bench.spark
    status = StatusStore(spark.sparkContext)
    tracer = Tracer(workload=w.name)
    sc = spark.sparkContext
    tag = f"pb{os.getpid()}"
    acc: dict[str, list[float]] = {}

    def add(name, v):
        acc.setdefault(name, []).append(float(v))

    def timed(name: str, group: str, fn) -> float:
        sc.setJobGroup(group, name)
        with tracer.span(name) as sp:
            fn()
        return sp.dur

    def kernel_obs(df):
        obs = Observation(f"k{len(tracer.spans)}")
        chars = F.aggregate(
            F.transform("spans_clean",
                        lambda s: F.coalesce(F.length(s["text"]), F.lit(0))),
            F.lit(0).cast("long"), lambda a, x: a + x)
        routes = F.split("route", ",")
        cols = [F.sum(F.col("wall_us")).alias("wall_us"),
                F.count(F.when(F.col("wall_us") > 0, 1)).alias("batches"),
                F.sum(F.size("spans_clean")).alias("spans_out"),
                F.sum(chars).alias("chars_out"),
                F.count(F.when(~F.col("success"), 1)).alias("docs_error")]
        cols += [F.count(F.when(F.array_contains(routes, r), 1)).alias(r)
                 for r in ROUTE_CLASSES]
        return df.observe(obs, *cols), obs

    steal0 = procfs.cpu_ticks()
    loop = Deadline(seconds)
    it = 0
    while loop.another():
        tracer.rep = it
        g = f"{tag}-{it}"
        # the untraced job first, so both jobs follow a job, not a prefix
        sc.setJobGroup(g + "-plain", "plain")
        d_plain = bench.rep(bench.fresh_out())["wall_s"]

        # the full job, traced
        sc.setJobGroup(g + "-job", "job")
        out_dir = bench.fresh_out()
        cpu0 = procfs.tree_cpu_s()
        first = len(tracer.spans)
        with tracer.span("job") as job_span, _Patched(tracer, J):
            summary = bench.rep(out_dir)
        cpu1 = procfs.tree_cpu_s()
        own = self_time_by_name(tracer.spans, first)
        d_job = job_span.dur
        d_write = own.get("write", 0.0)
        add("trace.overhead_frac", d_job / d_plain - 1.0)
        add("job.s", d_job)
        add("job.self_s", own["job"])
        add("commit.s", d_job - d_write)
        add("commit.lineage_write_s", own.get("commit.lineage_write", 0.0))
        add("commit.read_lineage_s", own.get("commit.read_lineage", 0.0))
        add("job.cpu_util", (cpu1 - cpu0) / (d_job * bench.cores))
        tj = status.totals(g + "-job")
        add("job.tasks", tj["tasks"])
        add("job.failed_tasks", tj["failed_tasks"])
        add("commit.spark_jobs", len(status.jobs(g + "-job")))
        add("chunk.task_skew", status.busiest_stage_skew(g + "-job"))
        files, nbytes, dirs = bench.data_files(out_dir)
        add("write.files", files)
        add("write.bytes", nbytes)
        add("write.files_per_bucket", files / max(dirs, 1))
        add("resume.skipped_buckets", summary["buckets_skipped"])
        add("resume.redo_ratio", bench.redo_ratio(out_dir))

        # the job's prefixes, each ending in a noop sink
        d_in = timed("input", g + "-in", lambda: noop(bench.job_input()))
        add("input.s", d_in)
        tin = status.totals(g + "-in")
        add("input.tasks", tin["tasks"])
        if w.bucketed:
            d_ex, tex = d_in, tin
            add("exchange.s", 0.0)
            add("exchange.shuffle_bytes", 0)
            add("exchange.tasks", 0)
        else:
            d_ex = timed("exchange_prefix", g + "-ex",
                         lambda: noop(bench.exchanged(bench.job_input())))
            tex = status.totals(g + "-ex")
            add("exchange.s", max(0.0, d_ex - d_in))
            add("exchange.shuffle_bytes", tex["shuffle_bytes"])
            add("exchange.tasks", tex["tasks"] - tin["tasks"])

        out, obs = kernel_obs(bench.extracted(bench.job_input()))
        d_k = timed("extract_prefix", g + "-k", lambda: noop(out))
        m = obs.get
        tk = status.totals(g + "-k")
        body = m["wall_us"] / 1e6
        add("kernel.s", max(0.0, d_k - d_ex))
        add("kernel.body_s", body)
        add("kernel.boundary_s", (tk["run_s"] - tex["run_s"]) - body)
        add("kernel.batches", m["batches"])
        add("kernel.spans_out", m["spans_out"])
        add("kernel.chars_out", m["chars_out"])
        add("kernel.docs_error", m["docs_error"])
        for r in ROUTE_CLASSES:
            add(f"kernel.route_docs.{r}", m[r])

        if w.n_giant:
            big = bench.job_input().where(
                F.size("spans") > cfg.max_spans_per_chunk)
            add("chunk.s", timed("chunk", g + "-c",
                                 lambda: noop(bench.extracted(big))))
        else:
            add("chunk.s", 0.0)

        add("write.s", max(0.0, d_write - d_k))
        layer_sum = sum(acc[k][-1] for k in ("input.s", "exchange.s",
                                             "kernel.s", "write.s",
                                             "commit.s"))
        add("job.attributed_frac", layer_sum / d_job)
        it += 1
    sc.setJobGroup("", "")

    res = {k: median(v) for k, v in acc.items()}
    # the status store's inputBytes misses local-FS positional reads (it
    # showed 45 KB for a 2 MB table), so count the bytes of the files
    res["input.bytes"] = bench.stats["parquet_bytes"]
    job = bench.job_stats
    res["kernel.spans_in"] = job["spans"]
    res["kernel.chars_in"] = job["chars"]
    res["kernel.span_keep_ratio"] = res["kernel.spans_out"] / max(
        job["spans"], 1)
    res["chunk.rows"] = sum(math.ceil(n / cfg.max_spans_per_chunk)
                            for n in job["spans_per_doc"]
                            if n > cfg.max_spans_per_chunk)
    res["machine.steal_frac"] = procfs.steal_frac(steal0, procfs.cpu_ticks())
    return res, tracer
