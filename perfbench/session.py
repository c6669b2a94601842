"""A Spark session sized for the machine the benchmark runs on.

One task slot per two cores (``local[nproc/2]``), a driver heap that
fits the available RAM, every temp directory inside the benchmark's work
dir, and the repository root on the Python workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys


def cores() -> int:
    return len(os.sched_getaffinity(0))


def task_slots(n_cores: int) -> int:
    """Half the cores, at least one. Each Arrow-kernel task keeps two
    processes busy at once, the JVM task thread feeding batches and the
    Python worker cleaning them, and the JVM needs room for its own
    threads; with a slot per core the runnable threads outnumber the
    cores and a run measures the scheduler (on 4 shared cores: about
    the same docs/s as 4 slots for a fifth less CPU per doc)."""
    return max(1, n_cores // 2)


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_mb(available_mb: int) -> int:
    """An eighth of the available RAM, between 1 and 2 GiB: the inputs
    are a few MB, and the Python workers need the rest."""
    return max(1024, min(2048, available_mb // 8))


def start(root: str, work_dir: str):
    """Start the session. ``root`` is the repository root (holding the
    package); ``work_dir`` receives shuffle files, spills and temp files."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pypath = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    # the JVM and the Python workers it forks inherit this environment
    os.environ["PYTHONPATH"] = pypath
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    n = task_slots(cores())
    heap = heap_mb(mem_available_mb())
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{n}]")
        .config("spark.driver.memory", f"{heap}m")
        # A fixed, pre-touched heap: no page-zeroing storms while G1
        # grows. C1 only: with C2 the compiler threads kept taking 4-20
        # CPU-s per job for the first minutes on 4 cores, so the timed
        # reps raced the JIT; with C1 the code is settled after the
        # warm-up job. No perf-data file: it would go to /tmp.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.executorEnv.PYTHONPATH", pypath)
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"cores": cores(), "task_slots": n, "heap_mb": heap}
