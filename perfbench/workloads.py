"""The benchmark's workloads and how their inputs are laid out on disk.

Every workload is a closed loop with one client: a rep runs the
production job (``plans.job.run_job``) to completion before the next one
starts.
"""

from __future__ import annotations

import itertools
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

import xxh64

# The job's resume granularity (``ExtractConfig.n_buckets``). The default
# of 256 costs every job a fixed ~8 s on 4 cores (256 partition files
# written, listed and read back), which leaves no room for repeated reps
# in a run; 32 keeps the same code paths at an eighth of that cost.
N_BUCKETS = 32

SPAN = pa.struct([pa.field("kind", pa.string()), pa.field("text", pa.string()),
                  pa.field("media_ref", pa.string()),
                  pa.field("offset", pa.int32())])
INPUT = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                   pa.field("spans", pa.list_(SPAN))])


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_docs: int
    n_giant: int = 0
    giant_spans: int = 0
    # one input file per bucket; each rep resumes, pre_bucketed, from the
    # state a crash after ``crash_after`` buckets left behind
    bucketed: bool = False
    crash_after: int = 0


WORKLOADS = {w.name: w for w in [
    Workload("mixed_fresh",
             "paper route mix plus 4 giant docs, 8 unbucketed files, fresh "
             "run: the headline path; every layer works, chunk included",
             n_docs=6000, n_giant=4, giant_spans=9000),
    Workload("bucketed_resume",
             "one file per bucket, pre_bucketed resume after a crash at half "
             "the buckets: bypasses exchange and chunk, stresses commit",
             n_docs=8000, bucketed=True, crash_after=N_BUCKETS // 2),
]}


def bucket_ids(doc_ids: list[str]) -> list[int]:
    """The job's deterministic bucket of each doc."""
    return [xxh64.bucket(d, N_BUCKETS) for d in doc_ids]


def write_input(rows: list[dict], buckets: list[int], path: str,
                bucketed: bool, n_files: int = 8) -> int:
    """Write the rows as parquet under ``path``; returns bytes written.

    Unbucketed: ``n_files`` files of consecutive rows. Bucketed: one file
    per bucket, the layout of a table bucket-partitioned on write."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=INPUT)
    if bucketed:
        order = sorted(range(len(rows)), key=buckets.__getitem__)
        for b, idx in itertools.groupby(order, key=buckets.__getitem__):
            pq.write_table(table.take(list(idx)),
                           os.path.join(path, f"bucket-{b:05d}.parquet"))
    else:
        n = table.num_rows
        for i in range(n_files):
            lo, hi = i * n // n_files, (i + 1) * n // n_files
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(path, f"part-{i:05d}.parquet"))
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path))
