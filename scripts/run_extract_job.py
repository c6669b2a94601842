"""spark-submit entry point for the extraction batch job.

Cluster deployment per the north rule:

    python scripts/build_pyfiles_zip.py               # → dist/rdps.zip
    spark-submit --py-files dist/rdps.zip \
        --conf spark.sql.adaptive.enabled=true \
        scripts/run_extract_job.py \
        --input  db.documents_or_parquet_path \
        --output s3://bucket/extract_out \
        --buckets 4096

Re-running the same command resumes: committed buckets (lineage) are
skipped, partially-written buckets are overwritten idempotently.
Local smoke: spark-submit --master 'local[8]' --py-files dist/rdps.zip ...
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser(description="Run the span-extraction batch job")
    p.add_argument("--input", required=True,
                   help="documents source: parquet path or catalog table")
    p.add_argument("--output", required=True, help="output directory/prefix")
    p.add_argument("--buckets", type=int, default=256,
                   help="resume granularity (lineage partitions)")
    p.add_argument("--no-resume", action="store_true",
                   help="ignore committed lineage and process everything")
    p.add_argument("--mult", type=int, default=0,
                   help="TESTING ONLY: synthesize corpus from the driver "
                        "documents table with this multiplier")
    args = p.parse_args()

    # spark-submit provides the session; builder config comes from --conf
    from pyspark.sql import SparkSession

    from rag_document_parser_spark.config import ExtractConfig
    from rag_document_parser_spark.plans.job import run_job
    from rag_document_parser_spark.sources.readers import read_documents

    spark = SparkSession.builder.appName("rdps-extract").getOrCreate()
    if args.mult:
        from rag_document_parser_spark.corpus import spans_df_from_documents

        df = spans_df_from_documents(spark, args.input, mult=args.mult)
    else:
        df = read_documents(spark, args.input)
    summary = run_job(spark, df, args.output,
                      ExtractConfig(n_buckets=args.buckets),
                      resume=not args.no_resume)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
