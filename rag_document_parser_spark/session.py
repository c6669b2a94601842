"""SparkSession factory with the engine's standard configuration, and the
Python workers' runtime set-up."""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

_eager_zip_reload = zipimport.zipimporter.invalidate_caches


def get_spark(app: str = "rag-document-parser-spark", master: str | None = None,
              shuffle_partitions: int = 32, extra: dict[str, str] | None = None) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Pin the heap (-Xms == -Xmx) and pre-touch it: a growable heap in
        # local mode caused multi-10x run-to-run variance (kernel-time
        # storms zero-filling pages as G1 grew/shrank the heap under 32
        # concurrent tasks). Irrelevant on a real cluster with fixed
        # executor memory, essential for stable local benchmarks.
        .config("spark.driver.extraJavaOptions",
                f"-Xms{os.environ.get('SPARK_DRIVER_MEM', '8g')} "
                "-XX:+AlwaysPreTouch")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _reload_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its ``(st_mtime_ns, st_size)`` stamp moved since this importer last read
    it. The stamp is taken before the read, so a write racing the read shows
    as a new stamp next time."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._archive_stamp = None
        _eager_zip_reload(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_archive_stamp", None) != stamp:
        _eager_zip_reload(self)
        self._archive_stamp = stamp


def skip_unchanged_zip_reloads() -> None:
    """Inside a Python worker on CPython < 3.13, stop zipimporters from
    re-reading unchanged archives; a no-op anywhere else and after the first
    call in a process.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task. Before 3.13 that makes every zipimporter re-read its whole
    archive directory: ``pyspark.zip`` under each of its package prefixes,
    the py4j zip and the spark-core jar, 150-260 ms of CPU per task in a
    reused worker. An archive whose stamp moved (a new ``--py-files`` zip)
    is still re-read, so imports see what the eager reload would show.
    Every Python UDF body calls this first."""
    if (sys.version_info >= (3, 13)
            or zipimport.zipimporter.invalidate_caches is _reload_if_changed
            or TaskContext.get() is None):
        return
    zipimport.zipimporter.invalidate_caches = _reload_if_changed
