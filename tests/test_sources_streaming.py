"""sources/ (decode, readers) and streaming/ (incremental extraction)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from rag_document_parser_spark.corpus import fixture_df
from rag_document_parser_spark.sources import (
    decode_text_payloads,
    read_csv_capped,
)
from rag_document_parser_spark.streaming import (
    stream_extract,
    stream_extract_with_lineage,
)
from rag_document_parser_spark.plans.job import extract


def test_decode_text_payloads_mixed_encodings(spark):
    rows = [
        ("utf8", "héllo wörld".encode("utf-8")),
        ("utf16", "wide chars".encode("utf-16")),
        ("cp1252", "caf\xe9 “quoted”".encode("cp1252")),
        ("empty", b""),
        ("none", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    out = {r.doc_id: (r.text, r.encoding)
           for r in decode_text_payloads(df).collect()}
    assert out["utf8"] == ("héllo wörld", "utf-8")
    assert out["empty"] == ("", "utf-8")
    assert out["none"] == (None, None)
    # utf-16 bytes fail utf-8 validation → BOM sniff → utf-16 (BOM consumed)
    assert out["utf16"][1] == "utf-16"
    assert out["utf16"][0] == "wide chars"
    # cp1252 bytes: the byte-histogram sniff (chardet analog, conf > 0.7)
    # decodes them CORRECTLY — previously the fixed list's utf-16 leg
    # "succeeded" bytewise and garbled them
    assert out["cp1252"] == ("caf\xe9 “quoted”", "cp1252")


def test_decode_sniffs_bomless_utf16_and_cp1252(spark):
    """S8 chardet-analog: BOM-less utf-16 both endiannesses and an
    even-length cp1252 payload (the case the fixed fallback list gets
    wrong: Python's utf-16 codec rarely raises) decode correctly; low-
    confidence garbage still falls through the reference's fixed list."""
    from rag_document_parser_spark.sources.decode import sniff_encoding

    rows = [
        ("le", "bomless little endian".encode("utf-16-le")),
        ("be", "bomless big endian".encode("utf-16-be")),
        ("cp", "smart “quotes” – dash, caf\xe9 – ok".encode("cp1252")),
        ("junk", bytes([0x81, 0x8D, 0x00, 0xFF, 0x81, 0x90, 0x00, 0x9D])),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload binary")
    out = {r.doc_id: (r.text, r.encoding)
           for r in decode_text_payloads(df).collect()}
    assert out["le"] == ("bomless little endian", "utf-16-le")
    assert out["be"] == ("bomless big endian", "utf-16-be")
    assert out["cp"] == ("smart “quotes” – dash, caf\xe9 – ok", "cp1252")
    # garbage: sniff confidence stays under the 0.7 gate
    enc, conf = sniff_encoding(rows[3][1])
    assert conf <= 0.7
    assert out["junk"][1] in ("utf-16", "latin-1")  # fixed-list fallthrough


def test_read_csv_capped(spark, tmp_path):
    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("a,b,c,d\n")
        for i in range(50):
            f.write(f"{i},x{i},y{i},z{i}\n")
    df = read_csv_capped(spark, p, max_rows=10, max_columns=2)
    assert df.columns == ["a", "b"]
    assert df.count() == 10


def _write_slice(df, path):
    df.write.mode("append").parquet(path)


def test_read_csv_caps_per_file(spark, tmp_path):
    """The row cap binds per input FILE (reference caps each spreadsheet
    independently), not as one global limit over a multi-file load."""
    from rag_document_parser_spark.sources import read_csv_capped

    for f, n in [("a", 9), ("b", 3)]:
        lines = ["c1,c2"] + [f"{f}{i},{i}" for i in range(n)]
        (tmp_path / f"{f}.csv").write_text("\n".join(lines))
    df = read_csv_capped(spark, str(tmp_path), max_rows=5)
    by_prefix = {k: v for k, v in
                 df.groupBy(F.substring("c1", 1, 1).alias("p"))
                 .count().collect()}
    assert by_prefix == {"a": 5, "b": 3}  # a capped, b intact


def test_json_results_sink_roundtrip(spark, tmp_path):
    """S6: extraction output -> JSON-lines sink -> readable back with the
    same doc set and span payloads."""
    from rag_document_parser_spark.sources import write_json_results

    out = extract(fixture_df(spark, seed=31, n_docs=40), chunk=False)
    path = str(tmp_path / "results")
    write_json_results(out.select("doc_id", "route", "success",
                                  F.to_json("spans_clean").alias("spans_json")),
                       path)
    back = spark.read.json(path)
    assert back.count() == 40
    assert set(back.columns) >= {"doc_id", "route", "success"}


def test_csv_table_export(spark, tmp_path):
    """S7: rendered table spans exported per doc as CSV partitions."""
    from rag_document_parser_spark.sources import export_tables_csv

    docs = [{"doc_id": "t1", "spans": [
        {"kind": "table", "text": "h1\th2\na\tb", "media_ref": None,
         "offset": 0}]},
            {"doc_id": "t2", "spans": [
                {"kind": "text", "text": "no tables", "media_ref": None,
                 "offset": 0}]}]
    from rag_document_parser_spark.schema import INPUT_SCHEMA

    out = extract(spark.createDataFrame(docs, schema=INPUT_SCHEMA),
                  chunk=False)
    path = str(tmp_path / "tables")
    export_tables_csv(out, path)
    back = spark.read.option("multiLine", "true").csv(path)
    rows = back.collect()
    assert len(rows) == 1  # only the rendered table doc exports
    assert "h1 | h2" in rows[0][1]


def test_stream_extract_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    all_docs = fixture_df(spark, seed=11, n_docs=80)
    first = all_docs.where(F.xxhash64("doc_id") % 2 == 0)
    second = all_docs.subtract(first)

    _write_slice(first, in_dir)
    q = stream_extract(spark, in_dir, out_dir)
    q.awaitTermination(120)
    got1 = spark.read.parquet(os.path.join(out_dir, "data"))
    n1 = got1.count()
    assert n1 == first.count()

    # second run picks up ONLY the newly-added files (checkpoint ledger)
    _write_slice(second, in_dir)
    q = stream_extract(spark, in_dir, out_dir)
    q.awaitTermination(120)
    got2 = spark.read.parquet(os.path.join(out_dir, "data"))
    assert got2.count() == all_docs.count()
    assert got2.select("doc_id").distinct().count() == all_docs.count()

    # streamed output == batch output for the same input
    batch = {r.doc_id: [tuple(s) for s in r.spans_clean]
             for r in extract(all_docs, chunk=False).collect()}
    streamed = {r.doc_id: [tuple(s) for s in r.spans_clean]
                for r in got2.collect()}
    assert batch == streamed


def test_stream_extract_dedup_across_batches(spark, tmp_path):
    """State-store dedup (unbounded variant): a content-identical doc
    arriving in a LATER micro-batch run (under a new doc_id) is dropped."""
    from rag_document_parser_spark.streaming import (
        stream_extract_dedup_unbounded,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs = fixture_df(spark, seed=21, n_docs=30)
    _write_slice(docs, in_dir)
    q = stream_extract_dedup_unbounded(spark, in_dir, out_dir)
    q.awaitTermination(120)
    n1 = spark.read.parquet(os.path.join(out_dir, "data")).count()

    # clone every doc under a new id; contents identical → all dropped
    clones = docs.select(F.concat(F.lit("clone-"), "doc_id").alias("doc_id"),
                         "spans")
    _write_slice(clones, in_dir)
    q = stream_extract_dedup_unbounded(spark, in_dir, out_dir)
    q.awaitTermination(120)
    got = spark.read.parquet(os.path.join(out_dir, "data"))
    assert got.count() == n1  # no clone survived the state store
    assert got.where(F.col("doc_id").startswith("clone-")).count() == 0


def test_stream_extract_dedup_short_name_is_bounded():
    """Reaching for the short name must give the watermark-bounded
    (production-shaped) variant, never unbounded state."""
    from rag_document_parser_spark.streaming import (
        stream_extract_dedup as short,
        stream_extract_dedup_bounded as bounded,
    )

    assert short is bounded


def test_stream_dedup_bounded_state_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate inside the watermark is
    dropped; once the watermark passes, the state row is evicted and a
    much-later duplicate is re-emitted (bounded state, by design)."""
    import datetime as dt

    from pyspark.sql import types as T

    from rag_document_parser_spark.schema import INPUT_SCHEMA
    from rag_document_parser_spark.streaming import stream_extract_dedup_bounded

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    schema = T.StructType(
        list(INPUT_SCHEMA.fields)
        + [T.StructField("ingest_ts", T.TimestampType())])
    spans = [{"kind": "text", "text": "same payload", "media_ref": None,
              "offset": 0}]
    other = [{"kind": "text", "text": "different", "media_ref": None,
              "offset": 0}]
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    def run(rows):
        _write_slice(spark.createDataFrame(rows, schema=schema), in_dir)
        q = stream_extract_dedup_bounded(spark, in_dir, out_dir,
                                         watermark="1 hour")
        q.awaitTermination(120)
        return sorted(r.doc_id for r in
                      spark.read.parquet(os.path.join(out_dir, "data"))
                      .select("doc_id").collect())

    # batch 1: original A + unrelated B
    got = run([("A", spans, ts(0)), ("B", other, ts(5))])
    assert got == ["A", "B"]

    # batch 2: dup of A within the watermark -> dropped; C at +4h
    # advances the watermark far past A's state row
    got = run([("dupA-early", spans, ts(30)), ("C", other + spans, ts(240))])
    assert got == ["A", "B", "C"]  # early dup dropped

    # batch 3: dup of A long after eviction -> re-emitted (state bounded)
    got = run([("dupA-late", spans, ts(270))])
    assert got == ["A", "B", "C", "dupA-late"]


def test_stream_extract_with_lineage(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs = fixture_df(spark, seed=13, n_docs=40)
    _write_slice(docs, in_dir)
    q = stream_extract_with_lineage(spark, in_dir, out_dir)
    q.awaitTermination(120)
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    assert lineage.agg(F.sum("doc_count")).collect()[0][0] == 40
    assert lineage.where(~F.col("run_id").startswith("stream-")).count() == 0
    data = spark.read.parquet(os.path.join(out_dir, "data"))
    assert data.count() == 40


def test_stream_shard_progress_accumulates_state(spark, tmp_path):
    """applyInPandasWithState: per-shard running totals persist in the
    state store across separate availableNow invocations."""
    from rag_document_parser_spark.streaming import stream_shard_progress

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    b1 = fixture_df(spark, seed=61, n_docs=40)
    _write_slice(b1, in_dir)
    q = stream_shard_progress(spark, in_dir, out_dir, n_shards=4)
    q.awaitTermination(120)
    first = spark.read.parquet(os.path.join(out_dir, "data"))
    t1 = first.agg(F.sum("batch_docs")).collect()[0][0]
    assert t1 == 40
    # batch totals == running totals on the first batch
    assert first.where(F.col("batch_docs") != F.col("total_docs")).count() == 0

    b2 = fixture_df(spark, seed=62, n_docs=25)
    _write_slice(b2, in_dir)
    q = stream_shard_progress(spark, in_dir, out_dir, n_shards=4)
    q.awaitTermination(120)
    rows = spark.read.parquet(os.path.join(out_dir, "data")).collect()
    assert sum(r.batch_docs for r in rows) == 65
    # cumulative totals grew across invocations: the latest row per shard
    # carries batch1+batch2 counts
    latest = {}
    for r in rows:
        if r.shard not in latest or r.total_docs > latest[r.shard]:
            latest[r.shard] = r.total_docs
    assert sum(latest.values()) == 65


def test_stream_curate(spark, tmp_path):
    """Streaming curation: watermarked exact dedup + quality gate + PII
    scrub per micro-batch; second invocation drains only new files."""
    import datetime as dt

    from pyspark.sql import types as T

    from rag_document_parser_spark.schema import INPUT_SCHEMA
    from rag_document_parser_spark.streaming import stream_curate

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    schema = T.StructType(
        list(INPUT_SCHEMA.fields)
        + [T.StructField("ingest_ts", T.TimestampType())])

    def span(text):
        return [{"kind": "text", "text": text, "media_ref": None,
                 "offset": 0}]

    t0 = dt.datetime(2026, 1, 1, 9, 0, 0)
    good = span("please reach me at bob@example.com for the complete "
                "longitudinal dataset and all archives")

    def run(rows):
        _write_slice(spark.createDataFrame(rows, schema=schema), in_dir)
        q = stream_curate(spark, in_dir, out_dir, watermark="1 hour")
        q.awaitTermination(120)
        return {r["doc_id"]: r for r in
                spark.read.parquet(os.path.join(out_dir, "data")).collect()}

    got = run([
        ("good", good, t0),
        ("tiny", span("hi"), t0),
    ])
    assert set(got) == {"good"}          # tiny quality-gated
    assert got["good"]["n_pii"] == 1
    assert "<EMAIL>" in got["good"]["content"]
    assert "bob@example.com" not in got["good"]["content"]

    # second drain: a within-watermark duplicate is dropped by state,
    # the fresh doc passes; only the new file is processed
    got = run([
        ("dup-of-good", good, t0 + dt.timedelta(minutes=5)),
        ("later", span("a brand new document with plenty of words "
                       "to clear the quality gate"),
         t0 + dt.timedelta(minutes=10)),
    ])
    assert set(got) == {"good", "later"}
    assert got["later"]["n_pii"] == 0


def test_stream_token_sketch_merges_across_batches(spark, tmp_path):
    """The streamed HLL state must equal the batch registers of the
    union — regardless of how the corpus was split into micro-batches
    (the merge law under foreachBatch)."""
    from rag_document_parser_spark.operators.dedup import words
    from rag_document_parser_spark.operators.sketches import hll_registers
    from rag_document_parser_spark.streaming.incremental import (
        stream_token_sketch)

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    rows_a = [(i, f"alpha beta tok{i} gamma", "en", "s", 20)
              for i in range(40)]
    rows_b = [(100 + i, f"un deux mot{i}", "fr", "s", 12)
              for i in range(25)]
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    spark.createDataFrame(rows_a, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    spark.createDataFrame(rows_b, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    q = stream_token_sketch(spark, in_dir, out_dir, max_files_per_trigger=1)
    q.awaitTermination(120)
    # at least 2 micro-batches ran (one file each)
    assert q.lastProgress is not None

    got = {(r["lang"], r["bucket"]): r["rho"]
           for r in spark.read.parquet(out_dir + "/registers").collect()}
    whole = spark.createDataFrame(rows_a + rows_b, schema)
    want = {(r["lang"], r["bucket"]): r["rho"]
            for r in hll_registers(
                whole.select("lang",
                             F.explode(words(F.col("text"))).alias("term")),
                group_cols=("lang",)).collect()}
    assert got == want


def test_stream_group_mass_matches_batch_weights(spark, tmp_path):
    """The streamed (group, n_docs, mass) state sum-merged across
    micro-batches must equal the batch aggregate of the union, and
    weights_from_mass over the state must equal temperature_weights
    over the full corpus — the mixture tier's streaming face."""
    from rag_document_parser_spark.operators import mixture as MX
    from rag_document_parser_spark.streaming.incremental import (
        stream_group_mass)

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    rows_a = [(i, "t", "en", "s", 10 + i % 7) for i in range(40)]
    rows_b = [(100 + i, "t", "fr", "s", 5 + i % 3) for i in range(25)]
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    spark.createDataFrame(rows_a, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    spark.createDataFrame(rows_b, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    q = stream_group_mass(spark, in_dir, out_dir, max_files_per_trigger=1)
    q.awaitTermination(120)

    state = spark.read.parquet(out_dir + "/mass")
    whole = spark.createDataFrame(rows_a + rows_b, schema)
    want_mass = {(r["group"]): (r["n_docs"], r["mass"]) for r in
                 whole.groupBy(F.col("lang").alias("group"))
                 .agg(F.count("*").alias("n_docs"),
                      F.sum("n_chars").alias("mass")).collect()}
    got_mass = {r["group"]: (r["n_docs"], r["mass"])
                for r in state.collect()}
    assert got_mass == want_mass
    want = sorted(map(tuple, MX.temperature_weights(
        whole, "lang", size_col="n_chars", alpha="0.5").collect()))
    got = sorted(map(tuple, MX.weights_from_mass(
        state, alpha="0.5").collect()))
    assert got == want
    # ...and the UniMax allocation over the streamed state equals the
    # batch allocation — the state IS unimax_allocation's input shape
    want_u = sorted(map(tuple, MX.unimax_allocation(
        whole.groupBy(F.col("lang").alias("group"))
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").cast("long").alias("mass")),
        budget_tokens=900).collect()))
    got_u = sorted(map(tuple, MX.unimax_allocation(
        state, budget_tokens=900).collect()))
    assert got_u == want_u


def test_stream_integrity_ledger_matches_batch_leaves(spark, tmp_path):
    """The streaming cumulative digests must CONVERGE to the batch
    Merkle leaves: after draining a corpus across two incremental
    runs, each bucket's final node_hash equals
    ``integrity.leaf_checksums`` over the same rows — xor is
    commutative, so the micro-batch split cannot matter."""
    from rag_document_parser_spark.operators import integrity as IG
    from rag_document_parser_spark.streaming import (
        stream_integrity_ledger,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs = fixture_df(spark, seed=31, n_docs=60)
    first = docs.where(F.xxhash64("doc_id") % 2 == 0)
    second = docs.subtract(first)

    _write_slice(first, in_dir)
    q = stream_integrity_ledger(spark, in_dir, out_dir)
    q.awaitTermination(120)
    _write_slice(second, in_dir)
    q = stream_integrity_ledger(spark, in_dir, out_dir)
    q.awaitTermination(120)

    ledger = spark.read.parquet(os.path.join(out_dir, "data"))
    # final state per bucket = the row with the highest running count
    final = {r.idx: r for r in ledger.collect()
             if r.total_docs == max(
                 x.total_docs for x in ledger.collect()
                 if x.idx == r.idx)}
    batch = {r.idx: r.node_hash for r in IG.leaf_checksums(
        docs.select("doc_id",
                    F.to_json(F.col("spans")).alias("text")),
        n_buckets=16).collect()}
    assert sum(r.total_docs for r in final.values()) == docs.count()
    for idx, r in final.items():
        assert batch[idx] == r.node_hash, idx
    # untouched buckets digest the empty sentinel on the batch side
    import hashlib
    empty = hashlib.md5(b"0").hexdigest()
    for idx in set(range(16)) - set(final):
        assert batch[idx] == empty


def test_stream_bloom_state_matches_batch_filter(spark, tmp_path):
    """The incrementally-merged Bloom state must EQUAL the batch
    filter over the streamed union (bit-setting is idempotent and
    commutative), and decontamination against the state must equal
    decontamination against a fresh batch build."""
    from rag_document_parser_spark.operators.bloom import (
        bloom_build, bloom_decontaminate)
    from rag_document_parser_spark.operators.dedup import word_shingles
    from rag_document_parser_spark.streaming import stream_bloom_state

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    part_a = [(i, f"the shared benchmark passage number {i} appears "
               f"verbatim in eval set alpha", "en", "s", 50)
              for i in range(15)]
    part_b = [(100 + i, f"another held out evaluation question {i} "
               f"with distinctive phrasing", "en", "s", 50)
              for i in range(15)]
    spark.createDataFrame(part_a, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    q = stream_bloom_state(spark, in_dir, out_dir)
    q.awaitTermination(120)
    spark.createDataFrame(part_b, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    q = stream_bloom_state(spark, in_dir, out_dir)
    q.awaitTermination(120)

    state = spark.read.parquet(out_dir + "/bloom")
    whole = spark.createDataFrame(part_a + part_b, schema)
    batch = bloom_build(whole.select(
        F.explode(word_shingles(F.col("text"), 3)).alias("term")))
    assert {r.pos for r in state.collect()} == \
        {r.pos for r in batch.collect()}

    # screening against the streamed state behaves like the batch
    # filter: the eval-quoting doc flags, the unrelated one does not
    corpus = spark.createDataFrame(
        [(1000, part_a[3][1] + " plus trailing context", "en", "s", 60),
         (1001, "entirely unrelated text about arctic terns and "
          "migratory distances across hemispheres", "en", "s", 60)],
        schema)
    flags = {r.id: bool(r.contaminated) for r in
             bloom_decontaminate(corpus, whole).collect()}
    assert flags[1000] and not flags[1001]


def test_stream_source_sketch_matches_batch(spark, tmp_path):
    """The incrementally-merged KMV state must EQUAL the batch sketch
    over the streamed union (the bottom-k merge law), and the pairwise
    overlap read from the state must equal the batch source_overlap
    estimate columns."""
    from rag_document_parser_spark.operators.corpstats import (
        overlap_from_sketches, source_overlap, source_sketch)
    from rag_document_parser_spark.streaming import stream_source_sketch

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    # srcP and srcQ share the 'both' docs; split so shared docs arrive
    # in DIFFERENT batches than their counterparts
    part_a = ([(i, f"both corpora carry passage {i}", "en", "srcP", 30)
               for i in range(8)]
              + [(50 + i, f"only srcP text {i}", "en", "srcP", 20)
                 for i in range(6)])
    part_b = ([(100 + i, f"both corpora carry passage {i}", "en",
                "srcQ", 30) for i in range(8)]
              + [(150 + i, f"only srcQ text {i}", "en", "srcQ", 20)
                 for i in range(6)])
    spark.createDataFrame(part_a, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    q = stream_source_sketch(spark, in_dir, out_dir, k=16)
    q.awaitTermination(120)
    spark.createDataFrame(part_b, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    q = stream_source_sketch(spark, in_dir, out_dir, k=16)
    q.awaitTermination(120)

    state = spark.read.parquet(out_dir + "/sketch")
    whole = spark.createDataFrame(part_a + part_b, schema)
    batch = source_sketch(whole, k=16)
    assert sorted(map(tuple, state.collect())) == \
        sorted(map(tuple, batch.collect()))

    # pairwise estimate from the streamed state == batch source_overlap
    got = overlap_from_sketches(state, k=16).collect()
    want = source_overlap(whole, k=16).collect()
    assert [(r["source_a"], r["source_b"], r["k_merged"], r["n_both"],
             r["jaccard_e6"]) for r in got] == \
        [(r["source_a"], r["source_b"], r["k_merged"], r["n_both"],
          r["jaccard_e6"]) for r in want]
    # k=16 covers the union (14+14 distinct, 8 shared -> union 20 > 16):
    # bottom-16 sketch estimate still lands in [0, 1e6] and is nonzero
    assert 0 < got[0]["jaccard_e6"] <= 1_000_000


def test_stream_recrawl_state_matches_batch_schedule(spark, tmp_path):
    """The streamed per-URL fetch state, merged across micro-batches,
    must yield the exact schedule batch recrawl_schedule computes on
    the union — the crawl tier's streaming face."""
    from datetime import datetime

    from rag_document_parser_spark.operators.frontier import (
        recrawl_schedule)
    from rag_document_parser_spark.streaming.incremental import (
        recrawl_from_state, stream_recrawl_state)

    def t(h):
        return datetime(2024, 3, 1, h)

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    batch_a = [(1, t(0), False), (1, t(1), True), (2, t(0), False)]
    batch_b = [(1, t(2), False), (1, t(5), True),
               (2, t(3), False), (3, t(4), True)]
    schema = "url_id long, ts timestamp, changed boolean"
    spark.createDataFrame(batch_a, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    spark.createDataFrame(batch_b, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    q = stream_recrawl_state(spark, in_dir, out_dir,
                             max_files_per_trigger=1)
    q.awaitTermination(120)

    got = sorted(map(tuple, recrawl_from_state(
        spark, out_dir, min_interval_s=3600,
        max_interval_s=86_400).collect()))
    want = sorted(map(tuple, recrawl_schedule(
        spark.createDataFrame(batch_a + batch_b, schema),
        min_interval_s=3600, max_interval_s=86_400).collect()))
    assert got == want and len(got) == 3


def _replay_faces():
    """face -> (stream fn, published state dir, input schema, the two
    input files, the batch aggregate of their union)."""
    from datetime import datetime

    from rag_document_parser_spark.operators.bloom import bloom_build
    from rag_document_parser_spark.operators.corpstats import source_sketch
    from rag_document_parser_spark.operators.dedup import (
        word_shingles, words)
    from rag_document_parser_spark.operators.sketches import hll_registers
    from rag_document_parser_spark.streaming import incremental as inc

    docs = ("doc_id long, text string, lang string, source string, "
            "n_chars long")
    # 'en' lands in both files, so a re-merged batch shows in every face
    doc_parts = (
        [(i, f"alpha beta tok{i} gamma delta", "en", "srcP", 20 + i % 7)
         for i in range(30)],
        [(100 + i, f"un deux mot{i} trois quatre", "fr", "srcQ", 12 + i % 3)
         for i in range(20)]
        + [(200 + i, f"alpha beta tok{i} gamma delta", "en", "srcQ", 20)
           for i in range(5)])
    fetches = "url_id long, ts timestamp, changed boolean"

    def t(h):
        return datetime(2024, 3, 1, h)

    fetch_parts = ([(1, t(0), False), (1, t(1), True), (2, t(0), False)],
                   [(1, t(2), False), (1, t(5), True), (2, t(3), False)])

    def toks(w):
        return w.select("lang", F.explode(words(F.col("text"))).alias("term"))

    return {
        "token_sketch": (
            inc.stream_token_sketch, "registers", docs, doc_parts,
            lambda w: hll_registers(toks(w), group_cols=("lang",))),
        "group_mass": (
            inc.stream_group_mass, "mass", docs, doc_parts,
            lambda w: w.groupBy(F.col("lang").alias("group")).agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("mass"))),
        "bloom_state": (
            inc.stream_bloom_state, "bloom", docs, doc_parts,
            lambda w: bloom_build(w.select(F.explode(
                word_shingles(F.col("text"), 3)).alias("term")))),
        "source_sketch": (
            inc.stream_source_sketch, "sketch", docs, doc_parts,
            lambda w: source_sketch(w, k=128)),
        "recrawl_state": (
            inc.stream_recrawl_state, "state", fetches, fetch_parts,
            lambda w: w.select(
                "url_id", F.unix_micros("ts").alias("us"),
                F.col("changed").cast("long").alias("ch"))
            .groupBy("url_id").agg(
                F.count("*").alias("n_obs"), F.sum("ch").alias("n_changed"),
                F.min("us").alias("first_us"),
                F.max("us").alias("last_us"))),
    }


@pytest.mark.parametrize("face", ["token_sketch", "group_mass",
                                  "bloom_state", "source_sketch",
                                  "recrawl_state"])
def test_stream_state_replay_is_exactly_once(spark, tmp_path, face):
    """A crash between a micro-batch's state write and its checkpoint
    commit leaves ``offsets/<id>`` without ``commits/<id>``, and the
    restart replays batch <id>. The published state must still equal
    the batch aggregate of the union: the replay must not fold the
    batch in a second time."""
    run, state_dir, schema, parts, batch_agg = _replay_faces()[face]
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    for rows in parts:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    run(spark, in_dir, out_dir).awaitTermination(120)

    commits = os.path.join(out_dir, "_checkpoint", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 1  # one micro-batch per input file
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run(spark, in_dir, out_dir).awaitTermination(120)

    want = batch_agg(spark.createDataFrame(parts[0] + parts[1], schema))
    got = spark.read.parquet(os.path.join(out_dir, state_dir))
    assert sorted(map(tuple, got.select(*want.columns).collect())) == \
        sorted(map(tuple, want.collect()))
