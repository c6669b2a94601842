"""Incremental extraction via Structured Streaming (SURVEY.md §2.6).

The reference has no stream engine; its closest behaviors are background
batch jobs with progress counters and idempotent re-runs
(/root/reference/api_server.py:230-348). The batch job in ``plans.job``
covers that contract with lineage + resume; this module adds the genuinely
streaming form for corpora that GROW: a file-source stream over the
documents directory, the same Arrow kernel per micro-batch, exactly-once
file tracking via the streaming checkpoint.

Design notes:
- ``availableNow`` trigger = "drain everything new, then stop" — the
  idiomatic incremental-batch pattern; re-invoking processes only files
  added since the last run (the checkpoint is the file ledger).
- the kernel runs with ``chunk=False``: giant-doc chunking reassembles via
  groupBy, which append-mode streaming disallows without watermarks, and a
  streaming micro-batch is already size-bounded by ``maxFilesPerTrigger``.
- ``stream_extract_with_lineage`` uses ``foreachBatch`` to reuse the exact
  batch write path (bucket dirs + lineage rows) per micro-batch — each
  micro-batch commit is the streaming analog of one resumable batch run.
- the running-state faces (token sketch, group mass, Bloom bits, recrawl
  state) are plain streaming aggregations: their merge laws (max, sum,
  min/max, set union) are algebraic, so Spark's checkpointed state store
  holds the running state and a replayed micro-batch reloads the state
  version before it — no double count. ``_publish`` copies the whole
  aggregate to ``output_dir/<name>`` after every micro-batch, so readers
  see plain parquet. The KMV source sketch is the one hand-written merge
  (Spark has no bounded bottom-k aggregate); see ``stream_source_sketch``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from rag_document_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from rag_document_parser_spark.plans.job import bucket_col, doc_hash_col, extract
from rag_document_parser_spark.schema import INPUT_SCHEMA
from rag_document_parser_spark.session import skip_unchanged_zip_reloads

def _start(writer, output_dir: str):
    """Checkpoint under ``output_dir/_checkpoint``; drain what is new
    (``availableNow``), then stop. Returns the started query."""
    return (writer
            .option("checkpointLocation",
                    os.path.join(output_dir, "_checkpoint"))
            .trigger(availableNow=True)
            .start())


def _append(df, output_dir: str):
    """Append-mode parquet sink at ``output_dir/data``."""
    return _start(df.writeStream.format("parquet")
                  .option("path", os.path.join(output_dir, "data"))
                  .outputMode("append"), output_dir)


def _publish(agg, output_dir: str, name: str):
    """Complete-mode sink for a running streaming aggregate: after every
    micro-batch, overwrite ``output_dir/<name>`` with the WHOLE aggregate.

    The aggregate itself lives in the checkpointed state store, never in
    the published table, so nothing here reads the path it overwrites
    and nothing is collected to the driver. A micro-batch replayed after
    a crash recomputes from the state version before it and re-publishes
    the same table. The aggregate is materialized (``localCheckpoint``)
    BEFORE the overwrite starts deleting the old table, so a micro-batch
    that fails — say, on a checkpoint whose state store is missing —
    leaves the previous table in place. The overwrite itself is not
    atomic: a reader racing it, or a crash inside it, sees a missing or
    partial table until the next (or replayed) micro-batch publishes.
    """
    path = os.path.join(output_dir, name)

    def write(batch_df, _batch_id):
        batch_df.localCheckpoint().coalesce(1).write.mode("overwrite") \
            .parquet(path)

    return _start(agg.writeStream.outputMode("complete").foreachBatch(write),
                  output_dir)


def _docs_stream(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int = 1):
    """The documents table the sketch, mass, Bloom and KMV faces read."""
    return (spark.readStream
            .schema("doc_id long, text string, lang string, source string, "
                    "n_chars long")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir))


def _extract_deduped(spark: SparkSession, input_dir: str,
                     cfg: ExtractConfig, watermark: str):
    """``ingest_ts``-stamped input → watermark-bounded exact dedup on the
    raw span array → Arrow kernel."""
    schema = T.StructType(
        list(INPUT_SCHEMA.fields)
        + [T.StructField("ingest_ts", T.TimestampType())])
    stream = spark.readStream.schema(schema).parquet(input_dir)
    deduped = (
        stream.withColumn("doc_hash", F.xxhash64("spans"))
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["doc_hash"])
    )
    return extract(deduped.select("doc_id", "spans"), cfg, chunk=False)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int | None = None,
):
    """File-source stream → Arrow kernel → parquet sink. Returns the query.

    Exactly-once per input file: the checkpoint under
    ``<output_dir>/_checkpoint`` records processed files, so a second
    invocation only extracts files added in between.
    """
    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return _append(extract(stream, cfg, chunk=False), output_dir)


def stream_extract_dedup_unbounded(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
):
    """Incremental extraction with UNBOUNDED stateful cross-batch dedup.

    .. warning:: state grows with distinct corpus size — one state-store
       row per distinct content hash, forever. At web scale this variant
       OOMs the state store by design; it exists for bounded replays and
       tests. Use ``stream_extract_dedup`` (watermark-bounded, the
       default) for anything long-running.

    ``dropDuplicates`` on the content hash uses the streaming state store:
    a doc whose cleaned content was already emitted in ANY earlier
    micro-batch (even a previous invocation — state lives in the
    checkpoint) is dropped, keyed on the order-sensitive doc_hash. This is
    the streaming form of ``operators.dedup.exact_dedup`` keep-first
    semantics.
    """
    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir)
    out = extract(stream, cfg, chunk=False)
    deduped = (
        out.withColumn(
            "doc_hash",
            F.xxhash64(F.col("spans_clean")))  # content only: clones under
        .dropDuplicates(["doc_hash"])          # new doc_ids still dedupe
    )
    return _append(deduped, output_dir)


def stream_extract_dedup_bounded(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    watermark: str = "1 hour",
):
    """Incremental extraction with WATERMARK-BOUNDED stateful dedup.

    The production-shaped variant (and what the unsuffixed
    ``stream_extract_dedup`` name points at): input rows
    carry an ``ingest_ts`` event-time column; ``withWatermark`` +
    ``dropDuplicatesWithinWatermark`` keep a content-hash state row only
    until the watermark passes it, so state size is bounded by the dedup
    window's arrival volume instead of growing with distinct corpus size
    (the scale-killer of the unbounded form). Consequence by design: a
    duplicate arriving more than ``watermark`` after its original is
    re-emitted — exactly the documented semantics of
    dropDuplicatesWithinWatermark.

    Dedup runs BEFORE the kernel (hash of the raw span array): dropping a
    duplicate after extracting it would waste the extraction work, and
    xxhash64 of the nested array costs far less than the kernel.
    """
    return _append(_extract_deduped(spark, input_dir, cfg, watermark),
                   output_dir)


# The unsuffixed name is the production-shaped (state-bounded) variant:
# reaching for the short name must never silently opt into unbounded state.
stream_extract_dedup = stream_extract_dedup_bounded


def stream_curate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    watermark: str = "1 hour",
    min_words: int = 5,
    max_words: int = 100_000,
    min_alpha_ratio: float = 0.1,
):
    """Incremental curation: the streamable subset of ``plans.curate``.

    watermark-bounded exact dedup (before the kernel — duplicates never
    pay extraction) → Arrow kernel → quality gate → PII scrub, emitting
    ``(doc_id, n_pii, content)`` survivors per
    micro-batch. Quality and PII are row-local (stateless, append-safe);
    the corpus-level passes (boilerplate strip, cross-batch exact/near
    dedup beyond the watermark window) are inherently batch — run
    ``plans.curate`` over the accumulated sink periodically for those.
    """
    from rag_document_parser_spark.operators.pii import PII_RULES, redact_pii
    from rag_document_parser_spark.operators.textstats import quality_exprs

    out = _extract_deduped(spark, input_dir, cfg, watermark)
    doc = out.select(
        "doc_id", "route", "title", "success",
        F.array_join(F.col("spans_clean").getField("text"), "\n\n")
        .alias("content"))
    q = quality_exprs(F.col("content"))
    gated = doc.where(
        F.col("success") & q["n_words"].between(min_words, max_words)
        & (q["alpha_ratio"] >= min_alpha_ratio))
    red = redact_pii(gated.select("doc_id", "content"), text_col="content")
    n_pii = sum(F.col(f"n_{name}") for name, _, _ in PII_RULES)
    final = red.select("doc_id", n_pii.cast("long").alias("n_pii"),
                       F.col("redacted").alias("content"))
    return _append(final, output_dir)


def stream_shard_progress(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    n_shards: int = 16,
):
    """Custom stateful operator via ``applyInPandasWithState``: per-shard
    RUNNING totals across micro-batches (the A14 batch-progress ledger as
    live streaming state).

    Documents shard by ``pmod(xxhash64(doc_id), n_shards)`` — the same
    deterministic keying as the batch job's buckets — and each shard
    keeps (total_docs, total_spans) in the state store. Every micro-batch
    emits one row per touched shard with the batch delta AND the
    cumulative totals; state survives restarts through the checkpoint, so
    a later invocation continues the counts. This is the
    arbitrary-stateful form the built-in dropDuplicates/window aggs can't
    express: monotone cross-batch accumulators with custom update logic.
    """
    out_schema = T.StructType([
        T.StructField("shard", T.IntegerType()),
        T.StructField("batch_docs", T.LongType()),
        T.StructField("batch_spans", T.LongType()),
        T.StructField("total_docs", T.LongType()),
        T.StructField("total_spans", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("total_docs", T.LongType()),
        T.StructField("total_spans", T.LongType()),
    ])

    def update(key, pdfs, state):
        skip_unchanged_zip_reloads()
        docs = 0
        spans = 0
        for pdf in pdfs:
            docs += len(pdf)
            spans += int(pdf["n_spans"].sum())
        if state.exists:
            (td, ts) = state.get
        else:
            td, ts = 0, 0
        td, ts = td + docs, ts + spans
        state.update((td, ts))
        import pandas as pd

        yield pd.DataFrame({"shard": [key[0]], "batch_docs": [docs],
                            "batch_spans": [spans], "total_docs": [td],
                            "total_spans": [ts]})

    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir)
    staged = stream.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
        .alias("shard"),
        F.coalesce(F.size("spans"), F.lit(0)).cast("long").alias("n_spans"))
    counted = staged.groupBy("shard").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)
    return _append(counted, output_dir)


def stream_extract_with_lineage(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
):
    """Same stream, but each micro-batch commits through the batch write
    path: bucket-partitioned data + per-bucket lineage rows tagged with the
    micro-batch id (the ST1 progress ledger, queryable as a table)."""

    data_path = os.path.join(output_dir, "data")
    lineage_path = os.path.join(output_dir, "lineage")

    def commit_batch(batch_df, batch_id: int) -> None:
        out = (batch_df
               .withColumn("doc_hash", doc_hash_col())
               .withColumn("bucket", bucket_col(cfg.n_buckets)))
        out.persist()
        try:
            out.write.mode("append").partitionBy("bucket").parquet(data_path)
            (out.groupBy(F.col("bucket").alias("partition_id"))
             .agg(F.count("*").alias("doc_count"),
                  F.lower(F.hex(F.bit_xor("doc_hash"))).alias("checksum"),
                  (F.sum("wall_us") / 1000).cast("long").alias("wall_ms"))
             .withColumn("run_id", F.concat(F.lit("stream-"), F.lit(batch_id)))
             .write.mode("append").parquet(lineage_path))
        finally:
            out.unpersist()

    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir)
    out = extract(stream, cfg, chunk=False)
    return _start(out.writeStream.foreachBatch(commit_batch), output_dir)


def stream_token_sketch(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    max_files_per_trigger: int = 1,
):
    """Running HyperLogLog distinct-token registers over a growing
    documents directory — the streaming face of the sketch tier.

    The per-language register table (64 rows/language,
    operators/sketches.hll_registers) is a MAX aggregate, so it runs as
    a streaming aggregation: the state store keeps the running
    registers, and the HLL merge law (test_hll_registers_merge_by_max)
    makes them equal the registers of everything ever streamed,
    regardless of batch boundaries. ``_publish`` writes them to
    ``output_dir/registers`` after every micro-batch. State is
    fixed-size by construction (registers, never tokens).
    ``availableNow`` + ``maxFilesPerTrigger`` drains the backlog in
    bounded batches and stops.
    """
    from rag_document_parser_spark.operators.dedup import words
    from rag_document_parser_spark.operators.sketches import hll_registers

    stream = _docs_stream(spark, input_dir, max_files_per_trigger)
    toks = stream.select("lang", F.explode(words(F.col("text"))).alias("term"))
    return _publish(hll_registers(toks, group_cols=("lang",)),
                    output_dir, "registers")


def stream_group_mass(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    group_col: str = "lang",
    size_col: str = "n_chars",
    max_files_per_trigger: int = 1,
):
    """Running per-group corpus mass over a growing documents directory
    — the streaming face of the mixture tier.

    ``(group, n_docs, mass)`` is a count/sum streaming aggregation: the
    state store keeps the running sums, so the table ``_publish`` writes
    to ``output_dir/mass`` after every micro-batch equals a batch
    aggregate over everything ever streamed, regardless of batch
    boundaries or replays. Feeding it to
    ``operators.mixture.weights_from_mass`` then yields EXACTLY the
    tempered shares a batch ``temperature_weights`` would compute over
    the full corpus — the test pins that equality. State is |groups|
    rows.
    """
    stream = _docs_stream(spark, input_dir, max_files_per_trigger)
    mass = (stream.groupBy(F.col(group_col).alias("group"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col(size_col)).cast("long").alias("mass")))
    return _publish(mass, output_dir, "mass")


def stream_integrity_ledger(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    n_buckets: int = 16,
):
    """Streaming face of ``operators.integrity``: per-bucket CUMULATIVE
    bit_xor digests across micro-batches via ``applyInPandasWithState``.

    Rows hash and bucket exactly like the batch ``leaf_checksums``
    (md5-60 of ``doc_id || 0x1f || payload``, md5 bucket of doc_id), and
    xor is commutative — so once a stream has drained a corpus, each
    bucket's cumulative digest (and its md5 ``node_hash``) EQUALS the
    batch leaf digest of the same rows, regardless of how the files were
    split across micro-batches or runs (the unit test pins this
    stream/batch agreement). Each batch emits the touched buckets with
    batch deltas and the running digest; re-invoking continues from the
    checkpointed state, making this a live integrity ledger for a
    growing corpus.

    The expensive work (md5, json render) runs JVM-side in the
    pre-shuffle projection; the stateful Python op only folds int64
    xors per bucket — one vectorized reduce per batch-group.
    """
    from rag_document_parser_spark.operators.dedup import _md5_long

    out_schema = T.StructType([
        T.StructField("idx", T.LongType()),
        T.StructField("batch_docs", T.LongType()),
        T.StructField("total_docs", T.LongType()),
        T.StructField("xor_digest", T.LongType()),
        T.StructField("node_hash", T.StringType()),
    ])
    state_schema = T.StructType([
        T.StructField("total_docs", T.LongType()),
        T.StructField("xor_digest", T.LongType()),
    ])

    def update(key, pdfs, state):
        skip_unchanged_zip_reloads()
        import hashlib

        import numpy as np
        import pandas as pd

        docs, x = 0, 0
        for pdf in pdfs:
            docs += len(pdf)
            if len(pdf):
                x ^= int(np.bitwise_xor.reduce(
                    pdf["h"].to_numpy(dtype="int64")))
        td, tx = state.get if state.exists else (0, 0)
        td, tx = td + docs, tx ^ x
        state.update((td, tx))
        yield pd.DataFrame({
            "idx": [key[0]], "batch_docs": [docs], "total_docs": [td],
            "xor_digest": [tx],
            "node_hash": [hashlib.md5(str(tx).encode()).hexdigest()]})

    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir)
    staged = stream.select(
        (_md5_long(F.concat("doc_id", F.lit("mk"))) % n_buckets)
        .cast("long").alias("idx"),
        _md5_long(F.concat("doc_id", F.lit("\x1f"), F.to_json("spans")))
        .alias("h"))
    ledger = staged.groupBy("idx").applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)
    return _append(ledger, output_dir)


def stream_bloom_state(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    n: int = 3,
    m_bits: int = 1 << 15,
):
    """Streaming face of the Bloom decontamination filter: the eval
    set GROWS (new benchmarks land over time), so the filter's set-bit
    positions are maintained incrementally. The set-bit table is a
    streaming aggregation keyed on ``pos`` (the merge law
    ``bloom_build`` documents: filters with identical geometry merge by
    union), held in the state store and published to
    ``output_dir/bloom`` after every micro-batch. Bit-setting is
    idempotent and commutative, so after draining any split of the eval
    corpus the state EQUALS the batch ``bloom_build`` over everything
    ever streamed (test-pinned), and ``bloom_decontaminate``'s
    broadcast-semi-join chain can read the state table directly in
    place of a freshly built filter. (``groupBy(pos)`` rather than
    ``distinct``: complete mode needs an aggregation.)

    State is bounded by ``m_bits`` rows regardless of how much eval
    data ever streams — the property that makes the Bloom form the
    right cross-batch decontamination state (the exact shingle-string
    state grows with the eval corpus; cf. the bounded/unbounded dedup
    split at ``stream_extract_dedup``).
    """
    from rag_document_parser_spark.operators.bloom import bloom_build
    from rag_document_parser_spark.operators.dedup import word_shingles

    stream = _docs_stream(spark, input_dir)
    sh = stream.select(
        F.explode(word_shingles(F.col("text"), n)).alias("term"))
    bits = bloom_build(sh, m_bits=m_bits).groupBy("pos").count().select("pos")
    return _publish(bits, output_dir, "bloom")


def stream_source_sketch(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    k: int = 128,
):
    """Streaming face of the KMV source-overlap sketches: each
    micro-batch computes its per-source bottom-k content-hash sketch
    (``corpstats.source_sketch``) and union-merges it into the state
    at ``output_dir/sketch`` via ``merge_source_sketches`` — the KMV
    merge law (bottom-k of a union equals bottom-k of the union of
    bottom-ks) makes the accumulated state EQUAL the batch sketch of
    everything ever streamed, regardless of batch boundaries
    (test-pinned). ``corpstats.overlap_from_sketches`` reads the state
    directly for the pairwise Jaccard matrix.

    The one hand-written merge in this module: Spark has no bounded
    bottom-k aggregate for the state store to hold, so the state is the
    published table itself. It is bounded by sources × k rows, and it is
    collected to the driver before the rewrite so the overwrite never
    races the read of the same path. The merge is idempotent (a hash
    already in the bottom-k stays, once), so a replayed micro-batch
    cannot double-count. The overwrite is NOT atomic: a crash after it
    has deleted the old table and before the new one is written loses
    the state, and the replayed batch then rebuilds it from that batch
    alone.
    """
    from rag_document_parser_spark.operators.corpstats import (
        merge_source_sketches, source_sketch)

    state_path = os.path.join(output_dir, "sketch")

    def merge_batch(batch_df, _batch_id):
        delta = source_sketch(batch_df, k=k)
        if os.path.isdir(state_path):
            prev = spark.read.parquet(state_path)
            delta = merge_source_sketches(prev, delta, k=k)
        rows = delta.collect()
        if rows:
            spark.createDataFrame(rows, delta.schema).coalesce(1) \
                .write.mode("overwrite").parquet(state_path)

    stream = _docs_stream(spark, input_dir)
    return _start(stream.writeStream.foreachBatch(merge_batch), output_dir)


def stream_recrawl_state(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    id_col: str = "url_id",
    ts_col: str = "ts",
    changed_col: str = "changed",
    max_files_per_trigger: int = 1,
):
    """Running per-URL fetch-history state over a growing fetch log —
    the streaming face of ``operators.frontier.recrawl_schedule``.

    The batch operator's per-entity quantities ``(n_obs, n_changed,
    first_us, last_us)`` are algebraic (count/sum/min/max), so they run
    as one streaming aggregation: the state store keeps the running
    values, and the table ``_publish`` writes to ``output_dir/state``
    after every micro-batch equals a batch aggregate over every fetch
    ever streamed, regardless of batch boundaries or replays.
    ``recrawl_from_state`` then applies the identical closed-form
    interval arithmetic, so the streamed schedule is bit-equal to
    batch ``recrawl_schedule`` on the union — the test pins it. State
    is |urls| fixed-width rows.
    """
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(ts_col, T.TimestampType()),
        T.StructField(changed_col, T.BooleanType()),
    ])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .parquet(input_dir))
    state = (stream.select(
        F.col(id_col).alias("url_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(changed_col).cast("long").alias("_ch"))
        .groupBy("url_id")
        .agg(F.count("*").alias("n_obs"),
             F.sum("_ch").alias("n_changed"),
             F.min("_us").alias("first_us"),
             F.max("_us").alias("last_us")))
    return _publish(state, output_dir, "state")


def recrawl_from_state(spark: SparkSession, output_dir: str,
                       min_interval_s: int = 3600,
                       max_interval_s: int = 30 * 86_400):
    """The schedule implied by ``stream_recrawl_state``'s persisted
    state — the same closed form as the batch operator, so streamed ≡
    batch on identical fetch history."""
    lo = int(min_interval_s) * 1_000_000
    hi = int(max_interval_s) * 1_000_000
    st = spark.read.parquet(os.path.join(output_dir, "state"))
    raw = F.expr("(last_us - first_us) div nullif(n_changed, 0)")
    interval = F.when(
        (F.col("n_obs") < 2) | (F.col("n_changed") == 0), F.lit(hi)
    ).otherwise(F.least(F.greatest(raw, F.lit(lo)), F.lit(hi)))
    return st.select("url_id",
                     F.col("n_obs").cast("long").alias("n_obs"),
                     F.col("n_changed").cast("long").alias("n_changed"),
                     interval.cast("long").alias("interval_us"),
                     (F.col("last_us") + interval).cast("long")
                     .alias("next_fetch_us"))
