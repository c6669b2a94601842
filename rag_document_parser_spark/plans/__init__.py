from rag_document_parser_spark.plans.curate import curate, curation_report
from rag_document_parser_spark.plans.ingest import (
    ingest_snapshot,
    read_ingest_ledger,
)
from rag_document_parser_spark.plans.job import (
    extract,
    read_lineage,
    run_job,
)

__all__ = ["run_job", "extract", "read_lineage",
           "curate", "curation_report", "ingest_snapshot",
           "read_ingest_ledger"]
