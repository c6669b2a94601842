"""The batch extraction job: salted repartition → kernel → sinks + lineage.

Pipeline (north rule, SURVEY.md §3.1 "Our Spark lifecycle"):

    read documents (Iceberg/parquet)
      → resume filter: drop rows of buckets the lineage marks committed
      → deterministic salted bucketing on xxhash64(doc_id)  [skew defusal]
      → optional intra-doc chunking for giant span arrays
      → Arrow extraction kernel (vectorized mapInArrow)
      → re-assemble chunks, reading-order sort preserved
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

Scale notes:
- the only shuffle in the whole job is the explicit ``repartition`` on the
  salt column; everything after is narrow.
- one giant doc cannot stall a task: ``_chunk_rows`` slices its span
  array across rows before the kernel and a final groupBy reassembles —
  that groupBy shuffles only the chunked docs (filtered), not the corpus.
  Both are built from SQL text, which keeps the driver's plan-building
  cost small.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from rag_document_parser_spark.operators import extract_arrow
from rag_document_parser_spark.schema import LINEAGE_SCHEMA


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")


def doc_hash_col():
    """Order-sensitive per-doc content hash over the cleaned span sequence.

    xxhash64 hashes nested array<struct> natively in the JVM — measured
    ~12x cheaper than the to_json round-trip it replaces."""
    return F.xxhash64(F.col("doc_id"), F.col("spans_clean"))


# U+0001 as chunk-tag delimiter: cannot collide with printable doc_ids, and
# the strip regex additionally requires the exact "<SOH><digits>/<digits>$"
# shape before treating a row as chunked.
_SEP = "\x01"
# that shape as a SQL string literal (the SQL parser unescapes ``\\d``
# to the regex's ``\d``)
_TAG = "'" + _SEP + r"(\\d+)/(\\d+)$'"

# public extract() columns (title_key is kernel-internal, used only by
# the chunk reassembly below)
_OUT_COLS = ["doc_id", "spans_clean", "route", "title", "success", "error",
             "wall_us"]


def _chunk_rows(df: DataFrame, max_spans: int) -> DataFrame:
    """Giant-doc rows (every row must hold more than ``max_spans``
    spans) -> one kernel-ready row per span-slice, with the chunk
    bookkeeping smuggled into the doc_id ("<id><SOH><chunk>/<n>") so
    the kernel stays a pure (doc_id, spans) operator.

    Built from SQL text: one parsed expression per output column costs
    a few py4j calls, where the same Column tree built from Python
    lambdas costs hundreds.

    posexplode_OUTER on purpose: plain posexplode lets
    InferFiltersFromGenerate add size()>0 filters on the generator INPUT
    expression, re-evaluating the whole slice chain per row as a
    pre-Generate filter (the lambda re-eval trap).
    """
    m = int(max_spans)
    n = f"CAST(ceil(size(spans) / {m}) AS INT)"
    return df.selectExpr(
        "doc_id", f"{n} AS _nc",
        f"posexplode_outer(transform(sequence(0, {n} - 1), "
        f"i -> slice(spans, i * {m} + 1, {m}))) AS (chunk_id, spans)",
    ).selectExpr(f"concat(doc_id, '{_SEP}', chunk_id, '/', _nc) AS doc_id",
                 "spans")


def _reassemble_big(out: DataFrame) -> DataFrame:
    """Merge kernel output of chunked rows back to one row per doc —
    EXACTLY reproducing the unchunked contract. SQL text, like
    ``_chunk_rows``.

    Span order: each chunk arrives reading-order-sorted, and within a
    chunk ties on (offset-null, offset) preserve original array order;
    annotating every span with (chunk_id, within-chunk output index) and
    sorting the flattened array by (nl, off, chunk_id, idx) therefore
    reproduces the global (nl, off, original-position) order — chunk
    slicing is array-order-contiguous, so (chunk_id, idx) sorts exactly
    like the original position for equal (nl, off).

    Title: each chunk carries the (nl, off, pos) key of the span its
    title came from (``title_key``); the doc title is the title whose
    (nl, off, chunk_id, pos) key is minimal — the first titled kept span
    in whole-doc reading order, matching ``semantics.clean_doc``.
    """
    grouped = out.selectExpr(
        f"regexp_replace(doc_id, {_TAG}, '') AS doc_id",
        f"CAST(regexp_extract(doc_id, {_TAG}, 1) AS INT) AS chunk_id",
        "spans_clean", "route", "title", "title_key", "success", "error",
        "wall_us",
    ).groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(struct(chunk_id, spans_clean, "
               "wall_us, title, title_key))) AS chunks"),
        F.expr("flatten(collect_list(split(route, ','))) AS route_parts"),
        F.expr("min(success) AS success"),
        F.expr("max(error) AS error"),
    )
    classes = "filter(array_sort(array_distinct(route_parts)), " \
              "c -> c != 'empty')"
    return grouped.selectExpr(
        "doc_id",
        "transform(array_sort(flatten(transform(chunks, c -> "
        "transform(c.spans_clean, (s, i) -> named_struct("
        "'nl', CAST(s.offset IS NULL AS INT), 'off', coalesce(s.offset, 0), "
        "'cid', c.chunk_id, 'idx', i, 's', s))))), x -> x.s) AS spans_clean",
        f"CASE WHEN size({classes}) > 0 THEN array_join({classes}, ',') "
        "ELSE 'empty' END AS route",
        # array_min skips the NULLs of untitled chunks
        "array_min(transform(chunks, c -> CASE WHEN c.title IS NOT NULL "
        "THEN named_struct('nl', c.title_key.nl, 'off', c.title_key.off, "
        "'cid', c.chunk_id, 'pos', c.title_key.pos, 't', c.title) END)).t "
        "AS title",
        "success",
        "error",
        "aggregate(chunks.wall_us, CAST(0 AS BIGINT), (acc, x) -> acc + x) "
        "AS wall_us",
    )


def _nondet(c):
    """Wrap a predicate so PushDownPredicates cannot move it (or any
    conjunct of it) below the protective exchange. The wrapper must make
    the WHOLE CaseWhen nondeterministic (``nondet AND p`` would have its
    deterministic conjunct split off and pushed to the scan, breaking
    exchange reuse and re-introducing the double scan), and the chosen
    expression must not be foldable: Spark 4 folds rand() range
    comparisons (rand >= -1 simplifies to true and the wrapper
    vanishes — observed), while spark_partition_id() >= 0 survives, is
    always true, and costs nothing."""
    return F.when(F.spark_partition_id() >= 0, c).otherwise(F.lit(False))


def extract(df: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
            chunk: bool = True, stable: bool = False,
            partition_expr=None, num_partitions: int | None = None,
            ) -> DataFrame:
    """The composable single-operator form (SURVEY.md §3.2): no sinks.

    Chunking (default path, ``stable=False``): the input is scanned
    ONCE into a protective exchange
    (``repartition(num_partitions, partition_expr)``; the expression
    sees raw doc_ids, so a caller's bucket/salt column partitions
    exactly). The small-doc path flows straight to the kernel with zero
    chunk bookkeeping; the rare giant-doc branch explodes into tagged
    span-slices post-exchange and pays one more (tiny) exchange to
    spread its chunks across tasks. The small/big routing happens
    ABOVE the protective exchange with nondeterministically-wrapped
    filters, so Catalyst cannot push them past it: both branches read
    the SAME materialized shuffle (ReuseExchange / AQE stage reuse), the
    kernel runs exactly once per row, and a non-deterministic input
    plan is safe without persist — the shuffle files are written once,
    so every row flows to exactly one branch.

    ``stable=True`` (for inputs that are deterministic AND cheap to
    rescan — a stored/bucketed table, e.g. ``run_job(pre_bucketed=
    True)`` — or callers that must avoid any added exchange): the
    classic two complementary scans with no protective exchange; only
    the rare giant-doc branch pays an exchange. The caller asserts plan
    determinism — with an unstable plan docs can be lost or duplicated
    between the two scans.
    """
    if not chunk:
        return extract_arrow(df, cfg).select(*_OUT_COLS)
    max_spans = cfg.max_spans_per_chunk

    if stable:
        small = df.where(F.size("spans") <= max_spans)
        big = df.where(F.size("spans") > max_spans)
    else:
        # exchange the RAW rows (partition_expr sees untagged doc_ids, so
        # a caller's bucket expression partitions exactly), then route
        # ABOVE the materialized shuffle: the common small-doc path flows
        # straight into the kernel with zero chunk bookkeeping — no
        # wrap/explode copy — while the rare big branch explodes
        # post-exchange.
        if num_partitions is None:
            num_partitions = \
                df.sparkSession.sparkContext.defaultParallelism * 2
        pexpr = (partition_expr if partition_expr is not None
                 else F.col("doc_id"))
        ex = df.select("doc_id", "spans").repartition(num_partitions, pexpr)
        is_big = F.coalesce(F.size("spans") > max_spans, F.lit(False))
        small = ex.where(_nondet(~is_big))
        big = ex.where(_nondet(is_big))
    # spread the rare giant-doc chunks across tasks (posexplode leaves
    # them co-located with their source row)
    chunked = _chunk_rows(big, max_spans).repartition(F.col("doc_id"))
    out_big = _reassemble_big(extract_arrow(chunked, cfg))
    return extract_arrow(small, cfg).select(*_OUT_COLS) \
        .unionByName(out_big.select(*_OUT_COLS))


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    path = os.path.join(out_dir, "lineage")
    # limit(0) lets the optimizer swap the empty relation for a local one,
    # so collecting an absent lineage runs no Spark job
    empty = spark.createDataFrame([], LINEAGE_SCHEMA).limit(0)
    # existence probe first: avoids a noisy AnalysisException stack in the
    # JVM log on the first run. Local paths use os.path; remote URIs fall
    # back to try/except (an Iceberg catalog would make this a table check).
    if "://" not in path and not os.path.exists(path):
        return empty
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except Exception:
        return empty


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
    n_buckets = cfg.n_buckets
    df = input_df.withColumn("bucket", bucket_col(n_buckets))

    # the resume probe: the committed lineage rows, collected once (one
    # row per committed bucket, so at most n_buckets under resume). They
    # also seed the summary, so nothing re-reads the lineage afterwards.
    prior = read_lineage(spark, out_dir).select(
        "partition_id", "doc_count").collect()
    committed = sorted({r.partition_id for r in prior})
    skipped = 0
    if resume and committed:
        skipped = len(committed)
        df = df.where(~F.col("bucket").isin(committed))

    if fail_after_buckets is not None:
        remaining = sorted(
            r.bucket for r in df.select("bucket").distinct().collect()
        )[:fail_after_buckets]
        df = df.where(F.col("bucket").isin(remaining))

    # the one shuffle: extract's protective exchange doubles as the salted
    # bucket exchange (partition_expr = the deterministic bucket, so each
    # bucket's rows land in exactly one task → one file per bucket dir;
    # giant-doc chunks spread via extract's internal second exchange).
    # pre_bucketed inputs skip it entirely (stable=True: the bucketed
    # input is deterministic, the two-scan chunk path is safe and free).
    if pre_bucketed:
        out = extract(df.select("doc_id", "spans"), cfg, stable=True)
    else:
        par = min(n_buckets, spark.sparkContext.defaultParallelism * 2)
        out = extract(df.select("doc_id", "spans"), cfg,
                      partition_expr=bucket_col(n_buckets),
                      num_partitions=par)
    out = out.withColumn("doc_hash", doc_hash_col()) \
             .withColumn("bucket", bucket_col(n_buckets))

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
        back = spark.read.schema(out.schema).option("basePath", data_path) \
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

    # the summary equals a re-read of the lineage: the rows committed
    # before this run plus the rows this run appended
    return {
        "run_id": run_id,
        "buckets_skipped": skipped,
        "buckets_total_committed": len(set(committed) | set(written)),
        "docs_committed": sum(r.doc_count for r in prior) + docs,
    }
