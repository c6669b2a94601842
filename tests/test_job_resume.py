"""Job-level tests: checkpoint resume, lineage integrity, giant docs."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rag_document_parser_spark.config import ExtractConfig
from rag_document_parser_spark.corpus import fixture_df, generate_fixture_docs
from rag_document_parser_spark.plans.job import extract, read_lineage, run_job
from rag_document_parser_spark.semantics import clean_doc

CFG = ExtractConfig(n_buckets=16)


def _reread(spark, out):
    """The summary counters recomputed from the committed lineage."""
    row = read_lineage(spark, out).agg(
        F.count_distinct("partition_id").alias("b"),
        F.sum("doc_count").alias("d")).collect()[0]
    return row["b"], row["d"] or 0


def test_resume_skips_committed_partitions(spark, tmp_path):
    out = str(tmp_path / "job")
    df = fixture_df(spark, seed=42, n_docs=120)

    # partial run: only 5 buckets commit, then "failure"
    r1 = run_job(spark, df, out, CFG, fail_after_buckets=5, run_id="r1")
    assert r1["buckets_total_committed"] == 5
    # the summary comes from the resume probe plus the lineage write's
    # observed metrics, never from a re-read, yet must equal one
    assert (r1["buckets_total_committed"], r1["docs_committed"]) == \
        _reread(spark, out)

    # resume: must skip the 5 committed buckets and finish the rest
    r2 = run_job(spark, df, out, CFG, run_id="r2")
    assert r2["buckets_skipped"] == 5
    assert (r2["buckets_total_committed"], r2["docs_committed"]) == \
        _reread(spark, out)

    lineage = read_lineage(spark, out)
    # no duplicate lineage rows per partition
    dupes = lineage.groupBy("partition_id").count().where(F.col("count") > 1)
    assert dupes.count() == 0

    # final data: every doc exactly once
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 120
    assert data.select("doc_id").distinct().count() == 120

    # a third run is a full no-op
    r3 = run_job(spark, df, out, CFG, run_id="r3")
    assert r3["docs_committed"] == 120
    assert (r3["buckets_total_committed"], r3["docs_committed"]) == \
        _reread(spark, out)
    assert spark.read.parquet(f"{out}/data").count() == 120


def _stage_orphans(spark, df, out):
    """Simulate a crash between data write and lineage append: data for
    every doc of ``df`` under ``out``, no lineage rows at all."""
    staged = extract(df, CFG).withColumn(
        "doc_hash", F.xxhash64("doc_id", "spans_clean")).withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(CFG.n_buckets)).cast("int"))
    staged.write.mode("overwrite").partitionBy("bucket").parquet(f"{out}/data")


def test_stale_bucket_dirs_not_swept_into_lineage(spark, tmp_path):
    """A crashed run's orphan data (written but never recorded in lineage)
    must not be marked committed by a later run that didn't process those
    buckets — otherwise resume would silently skip them forever."""
    out = str(tmp_path / "job")
    df = fixture_df(spark, seed=7, n_docs=100)
    _stage_orphans(spark, df, out)

    # a later run over a SUBSET of the corpus (some buckets absent)
    sub = fixture_df(spark, seed=7, n_docs=100).limit(10)
    run_job(spark, sub, out, CFG, run_id="partial")

    lineage = read_lineage(spark, out)
    sub_buckets = {
        r.bucket for r in sub.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(CFG.n_buckets)).cast("int")
            .alias("bucket")).distinct().collect()}
    committed = {r.partition_id for r in lineage.collect()}
    # only buckets this run processed are committed; orphans stay pending
    assert committed == sub_buckets
    assert len(committed) < CFG.n_buckets


def test_fresh_run_does_not_commit_orphan_bucket_dirs(spark, tmp_path):
    """resume=False declares a fresh full run, but orphan bucket dirs
    already under out_dir for buckets absent from the input are still not
    this run's: only the buckets it wrote are committed."""
    out = str(tmp_path / "job")
    _stage_orphans(spark, fixture_df(spark, seed=7, n_docs=100), out)
    sub = fixture_df(spark, seed=7, n_docs=100).limit(10)
    r = run_job(spark, sub, out, CFG, resume=False, run_id="fresh")

    sub_buckets = {r.b for r in sub.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(CFG.n_buckets)).cast("int")
        .alias("b")).distinct().collect()}
    lineage = read_lineage(spark, out).collect()
    assert {x.partition_id for x in lineage} == sub_buckets
    assert len(sub_buckets) < CFG.n_buckets
    assert sum(x.doc_count for x in lineage) == 10
    assert r["buckets_total_committed"] == len(sub_buckets)
    assert r["docs_committed"] == 10


def test_empty_input_commits_nothing(spark, tmp_path):
    out = str(tmp_path / "job")
    df = fixture_df(spark, seed=42, n_docs=40)
    r = run_job(spark, df.limit(0), out, CFG, run_id="empty")
    assert (r["buckets_skipped"], r["buckets_total_committed"],
            r["docs_committed"]) == (0, 0, 0)
    assert read_lineage(spark, out).count() == 0
    # a later resume still processes the whole input
    r = run_job(spark, df, out, CFG, run_id="resume")
    assert r["buckets_skipped"] == 0
    assert r["docs_committed"] == 40
    assert spark.read.parquet(f"{out}/data").count() == 40


def test_run_job_spark_job_count(spark, tmp_path):
    """The commit path rides the writes: pin the Spark jobs each kind of
    run launches, so bookkeeping jobs cannot creep back in unnoticed.
    Counts observed on Spark 4.1."""
    sc = spark.sparkContext
    df = fixture_df(spark, seed=42, n_docs=120)
    summary = {}

    def jobs(run_id, out, **kw):
        group = f"{tmp_path.name}-{run_id}"
        sc.setJobGroup(group, run_id)
        try:
            summary[run_id] = run_job(spark, df, str(tmp_path / out), CFG,
                                      run_id=run_id, **kw)
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    got = {
        "fresh": jobs("fresh", "a", resume=False),
        "crash": jobs("crash", "b", fail_after_buckets=5),
        "resume": jobs("resume", "b"),
        "noop": jobs("noop", "b"),
    }
    assert got == {"fresh": 4, "crash": 6, "resume": 5, "noop": 1}
    # the no-op resume returns before building a plan; its one job is the
    # lineage probe, and its summary still equals a re-read of the lineage
    noop = summary["noop"]
    assert noop["buckets_skipped"] == CFG.n_buckets
    assert (noop["buckets_total_committed"], noop["docs_committed"]) == \
        _reread(spark, str(tmp_path / "b"))


def test_lineage_checksum_matches_recompute(spark, tmp_path):
    out = str(tmp_path / "job")
    df = fixture_df(spark, seed=13, n_docs=60)
    run_job(spark, df, out, CFG, run_id="only")
    data = spark.read.parquet(f"{out}/data")
    recomputed = (
        data.groupBy("bucket")
        .agg(F.lower(F.hex(F.bit_xor("doc_hash"))).alias("checksum2"),
             F.count("*").alias("cnt2"))
    )
    lineage = read_lineage(spark, out)
    joined = lineage.join(recomputed,
                          lineage.partition_id == recomputed.bucket)
    bad = joined.where(
        (F.col("checksum") != F.col("checksum2")) | (F.col("doc_count") != F.col("cnt2"))
    )
    assert bad.count() == 0
    assert joined.count() == lineage.count()


def test_giant_doc_matches_clean_doc(spark):
    giant = 5000
    df = fixture_df(spark, seed=42, n_docs=30, giant_doc_spans=giant)
    row = extract(df, CFG).where(F.col("doc_id") == "doc-giant").collect()[0]
    docs = {d["doc_id"]: d for d in
            generate_fixture_docs(seed=42, n_docs=30, giant_doc_spans=giant)}
    expected, _, _, _, _ = clean_doc(docs["doc-giant"]["spans"], CFG)
    got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in row["spans_clean"]]
    exp = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in expected]
    assert got == exp


def test_fresh_run_with_giant_doc_writes_one_file_per_bucket(spark, tmp_path):
    """The job is one narrow pipeline behind the bucket exchange, so each
    bucket dir is written by exactly one task, the giant doc's too."""
    out = str(tmp_path / "job")
    df = fixture_df(spark, seed=42, n_docs=120, giant_doc_spans=5000)
    r = run_job(spark, df, out, CFG, resume=False, run_id="fresh")
    assert r["docs_committed"] == 121
    data = os.path.join(out, "data")
    files = {d: len([f for f in os.listdir(os.path.join(data, d))
                     if f.endswith(".parquet")])
             for d in os.listdir(data) if d.startswith("bucket=")}
    assert len(files) == r["buckets_total_committed"]
    assert set(files.values()) == {1}, files


def test_chunked_tie_breaks_and_title_are_exact(spark):
    """Duplicate offsets must keep the original-array-position tie-break,
    and the doc title must be the first titled kept span in READING
    order even when array order disagrees."""
    html_a = "<html><head><title>zeta last</title></head><body><p>late block body text</p></body></html>"
    html_b = "<html><head><title>alpha first</title></head><body><p>early block body text</p></body></html>"
    rows = [
        # 10 spans all at offset=5: order must stay 0..9 (array position)
        ("ties", [("text", f"tie {j}", None, 5) for j in range(10)]),
        # titled html spans: the HIGH offset title comes first in the
        # array, the LOW one last — array-order selection would pick 'zeta'
        ("titles", [("html", html_a, None, 9)]
         + [("text", f"filler {j}", None, 10 + j) for j in range(4)]
         + [("html", html_b, None, 1)]),
        # duplicate-offset titled spans: position decides
        ("titles-tied", [("html", html_a, None, 3)]
         + [("text", f"f{j}", None, 0) for j in range(4)]
         + [("html", html_b, None, 3)]),
    ]
    df = spark.createDataFrame(rows, schema="doc_id string, spans "
                               "array<struct<kind:string,text:string,"
                               "media_ref:string,offset:int>>")
    cfg = ExtractConfig(normalize_unicode=False, flatten_json=False)
    got = {r["doc_id"]: r for r in extract(df, cfg).collect()}
    texts = [s["text"] for s in got["ties"]["spans_clean"]]
    assert texts == [f"tie {j}" for j in range(10)]
    assert got["titles"]["title"] == "alpha first"
    # offset tie at 3: html_a sits at array position 0 → wins
    assert got["titles-tied"]["title"] == "zeta last"


def test_chunked_extract_single_scan_plan(spark):
    """extract scans its input once, behind at most one exchange (none
    with ``stable=True``)."""
    df = fixture_df(spark, seed=7, n_docs=40)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plans = [extract(df, CFG, stable=s)
                 ._jdf.queryExecution().executedPlan().toString()
                 for s in (False, True)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    for plan in plans:
        assert plan.count("Scan ExistingRDD") + plan.count("FileScan") == 1
    assert plans[0].count("Exchange") <= 1
    assert "Exchange" not in plans[1]


def test_chunked_extract_nondeterministic_input_exactly_once(spark):
    """A genuinely non-deterministic input plan (rand-sized span arrays)
    still processes every doc exactly once: the exchange writes its
    shuffle files once, and the kernel reads each row once."""
    base = spark.range(120)
    size = (F.floor(F.rand() * 10) + 1).cast("int")  # 1..10, unseeded
    spans = F.transform(
        F.sequence(F.lit(0), size - 1),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.concat(F.lit("t"), i.cast("string")).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset")))
    df = base.select(F.concat(F.lit("d"), F.col("id").cast("string"))
                     .alias("doc_id"), spans.alias("spans"))
    out = extract(df, CFG).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == 120
    assert len(set(ids)) == 120
    assert all(r["success"] for r in out)


def test_pre_bucketed_job_matches_standard(spark, tmp_path):
    """A bucket-partitioned input (Iceberg bucketBy analog) with
    pre_bucketed=True must produce the identical committed dataset as the
    standard salted-exchange path — only the plan differs (no wide-row
    shuffle)."""
    from rag_document_parser_spark.corpus import spans_df_from_documents

    sf = "/root/testdata/sf0.001"
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    std = spans_df_from_documents(spark, sf)
    run_job(spark, std, a_dir, CFG, run_id="std")
    pre = spans_df_from_documents(spark, sf, bucket_for=CFG.n_buckets)
    run_job(spark, pre, b_dir, CFG, run_id="pre", pre_bucketed=True)

    da = spark.read.parquet(f"{a_dir}/data")
    db = spark.read.parquet(f"{b_dir}/data")
    ha = {(r.doc_id, r.doc_hash, r.bucket) for r in
          da.select("doc_id", "doc_hash", "bucket").collect()}
    hb = {(r.doc_id, r.doc_hash, r.bucket) for r in
          db.select("doc_id", "doc_hash", "bucket").collect()}
    assert ha == hb and len(ha) == 500
    # lineage checksums agree bucket-for-bucket
    la = {r.partition_id: (r.doc_count, r.checksum)
          for r in read_lineage(spark, a_dir).collect()}
    lb = {r.partition_id: (r.doc_count, r.checksum)
          for r in read_lineage(spark, b_dir).collect()}
    assert la == lb
    # and the pre-bucketed plan has no exchange after the span synthesis:
    # every bucket directory is written by a single aligned task
    buckets = [d for d in os.listdir(f"{b_dir}/data")
               if d.startswith("bucket=")]
    n_files = [len([f for f in os.listdir(f"{b_dir}/data/{d}")
                    if f.endswith(".parquet")]) for d in buckets]
    assert max(n_files) == 1
