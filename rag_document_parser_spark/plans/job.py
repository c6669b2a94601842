"""The batch extraction job: salted repartition → kernel → sinks + lineage.

Pipeline (north rule, SURVEY.md §3.1 "Our Spark lifecycle"):

    read documents (Iceberg/parquet)
      → resume filter: drop rows of buckets the lineage marks committed
      → deterministic salted bucketing on xxhash64(doc_id)  [skew defusal]
      → Arrow extraction kernel (vectorized mapInArrow), whole docs
      → write output partitioned by bucket  +  lineage rows
        (partition_id=bucket, doc_count, checksum=bit_xor(doc_hash) hex,
         wall_ms) appended to the metrics table

Resume model: ``partition_id`` IS the deterministic bucket
(``pmod(xxhash64(doc_id), n_buckets)``), not Spark's ephemeral task
partition id — so a re-run computes identical bucket membership, drops
the committed buckets with an ``isin`` filter over the collected lineage
rows (one row per committed bucket, so at most ``n_buckets``), and
processes only the remainder. On a real cluster the two writes are Iceberg
appends (snapshot-isolated, atomic per commit); locally they are parquet
appends with per-bucket directory layout, committed bucket-at-a-time.
Equivalent of the reference's job registry + idempotent delete, done with
data instead of state.

Fixed per-job cost: the bookkeeping rides the writes instead of running
its own Spark jobs. The lineage is collected once, up front; the set of
buckets written is an ``Observation`` on the data write; the lineage is
aggregated from a read-back of just those bucket dirs, with the schema
given; and the summary is the collected lineage plus an ``Observation``
on the lineage write.

Scale note: the only shuffle in the whole job is the explicit
``repartition`` on the bucket (none for a ``pre_bucketed`` input);
everything after it is narrow, so each bucket dir is written by one task.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from rag_document_parser_spark.operators.extract_arrow import extract_arrow
from rag_document_parser_spark.schema import LINEAGE_SCHEMA, OUTPUT_SCHEMA


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")


def doc_hash_col():
    """Order-sensitive per-doc content hash over the cleaned span sequence.

    xxhash64 hashes nested array<struct> natively in the JVM — measured
    ~12x cheaper than the to_json round-trip it replaces."""
    return F.xxhash64(F.col("doc_id"), F.col("spans_clean"))


def extract(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
            stable: bool = False, partition_expr=None,
            num_partitions: int | None = None) -> DataFrame:
    """The composable single-operator form (SURVEY.md §3.2): no sinks.

    Default: one narrow pipeline behind one exchange,
    ``repartition(num_partitions, partition_expr)`` (the expression sees
    the input's doc_ids, so a caller's bucket column partitions
    exactly), then the Arrow kernel. The exchange also makes a
    non-deterministic input plan safe: its shuffle files are written
    once, so the kernel sees every row exactly once.

    ``stable=True`` runs the kernel alone on the input's own
    partitioning: for inputs already partitioned as the caller wants (a
    bucket-partitioned table, ``run_job(pre_bucketed=True)``), streaming
    micro-batches and small report queries.

    Every doc is cleaned whole, however many spans it holds. Each kernel
    route cleans only its own spans, so a 9,000-span doc adds to its
    batch about the ~10 ms it takes alone, and a giant doc stalls no
    task; what it does raise is the Python worker's peak memory, which
    grows with the largest doc in a batch.
    """
    df = df.select("doc_id", "spans")
    if not stable:
        if num_partitions is None:
            num_partitions = \
                df.sparkSession.sparkContext.defaultParallelism * 2
        df = df.repartition(num_partitions, partition_expr
                            if partition_expr is not None
                            else F.col("doc_id"))
    return extract_arrow(df, cfg)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    path = os.path.join(out_dir, "lineage")
    # existence probe first: avoids a noisy AnalysisException stack in the
    # JVM log on the first run. Local paths use os.path; remote URIs fall
    # back to try/except (an Iceberg catalog would make this a table check).
    if "://" in path or os.path.exists(path):
        try:
            return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
        except Exception:
            pass
    # limit(0) lets the optimizer swap the empty relation for a local one,
    # so collecting an absent lineage runs no Spark job
    return spark.createDataFrame([], LINEAGE_SCHEMA).limit(0)


def run_job(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    resume: bool = True,
    fail_after_buckets: int | None = None,
    run_id: str | None = None,
    pre_bucketed: bool = False,
) -> dict:
    """Run the full extraction job. Returns summary counters.

    ``fail_after_buckets`` is a test hook: process only the first K buckets
    (by bucket id) then stop, simulating a mid-job failure so the resume
    path can be exercised.

    ``pre_bucketed=True`` declares that the input is already partitioned
    by ``pmod(xxhash64(doc_id), cfg.n_buckets)`` — an Iceberg table
    bucket-partitioned on write, or a corpus built with
    ``spans_df_from_documents(bucket_for=...)``. The job then skips its
    own exchange, so the wide span rows never shuffle (bucket membership
    is still recomputed deterministically for the write/lineage, and
    resume semantics are unchanged). Declaring it for a mis-partitioned
    input is safe for correctness — only write locality degrades (more
    files per bucket directory).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    bucket = bucket_col(cfg.n_buckets)

    # the resume probe: the committed lineage rows, collected once (one
    # row per committed bucket, so at most n_buckets under resume). They
    # also seed the summary, so nothing re-reads the lineage afterwards.
    prior = read_lineage(spark, out_dir).select(
        "partition_id", "doc_count").collect()
    committed = sorted({r.partition_id for r in prior})
    skipped = len(committed) if resume else 0

    def summary(written=(), docs=0) -> dict:
        # equals a re-read of the lineage: the rows committed before this
        # run plus the rows this run appended
        return {
            "run_id": run_id,
            "buckets_skipped": skipped,
            "buckets_total_committed": len(set(committed) | set(written)),
            "docs_committed": sum(r.doc_count for r in prior) + docs,
        }

    # a no-op resume: every bucket is committed, so no plan is built
    if skipped and set(range(cfg.n_buckets)) <= set(committed):
        return summary()
    keep = ~bucket.isin(committed) if skipped else None

    # the crash hook's filter (the first K buckets left to do) implies the
    # resume filter, so the job filters its input with one where either way
    if fail_after_buckets is not None:
        todo = input_df if keep is None else input_df.where(keep)
        keep = bucket.isin(sorted(
            r.b for r in todo.select(bucket.alias("b")).distinct().collect()
        )[:fail_after_buckets])
    df = input_df if keep is None else input_df.where(keep)

    # the one shuffle: extract's exchange on the deterministic bucket, so
    # each bucket's rows land in exactly one task → one file per bucket
    # dir. pre_bucketed inputs are already laid out that way and skip it.
    if pre_bucketed:
        out = extract(df, cfg, stable=True)
    else:
        out = extract(df, cfg, partition_expr=bucket, num_partitions=min(
            cfg.n_buckets, spark.sparkContext.defaultParallelism * 2))
    out = out.select("*", doc_hash_col().alias("doc_hash"),
                     bucket.alias("bucket"))

    # dynamic partition overwrite = per-bucket idempotence: a re-run after a
    # mid-write crash replaces exactly the re-processed bucket directories
    # (the Iceberg analog is a replace-partitions snapshot commit); buckets
    # committed by other runs are untouched because the resume filter above
    # removed their rows from this write. The set of buckets this run
    # wrote rides the write itself as an observed metric.
    data_path = os.path.join(out_dir, "data")
    wrote = Observation()
    out.observe(wrote, F.collect_set("bucket").alias("buckets")) \
       .write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
       .partitionBy("bucket").parquet(data_path)
    written = sorted(wrote.get["buckets"])

    # lineage from a column-pruned READ-BACK of what was just written, not
    # from `out`: recomputing the lineage aggregate from `out` would run
    # the whole extraction a second time, while reading 3 small columns
    # back from columnar storage is nearly free at any scale. The read-back
    # opens only the bucket dirs THIS run wrote, so stale bucket dirs left
    # by a crashed run, or pre-existing data under out_dir, are never
    # swept into lineage and marked committed by a run that never touched
    # them. The known schema spares a schema-inference job.
    docs = 0
    if written:
        back = spark.read.schema(OUTPUT_SCHEMA).option("basePath", data_path) \
            .parquet(*[os.path.join(data_path, f"bucket={b}")
                       for b in written])
        lineage = (
            back.groupBy(F.col("bucket").alias("partition_id"))
            .agg(
                F.count("*").alias("doc_count"),
                F.lower(F.hex(F.bit_xor("doc_hash"))).alias("checksum"),
                (F.sum("wall_us") / 1000).cast("long").alias("wall_ms"),
            )
            .withColumn("run_id", F.lit(run_id))
        )
        appended = Observation()
        lineage.observe(appended, F.sum("doc_count").alias("docs")) \
            .write.mode("append").parquet(os.path.join(out_dir, "lineage"))
        docs = appended.get["docs"]

    return summary(written, docs)
