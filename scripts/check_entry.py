"""Local replica of the driver's correctness harness.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, and compares row count, column names, and the
order-insensitive value multiset. Usage:

    python scripts/check_entry.py [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as E  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return repr(v)
    return str(v)


def df_to_multiset(pdf):
    cols = sorted(pdf.columns)
    rows = ["\x01".join(norm_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def main():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false")
             # no \r progress bar interleaved with the PASS/FAIL lines
             .config("spark.ui.showConsoleProgress", "false")
             .appName("check_entry").getOrCreate())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, os_ = E.queries(), E.oracle_sql()
    only = set(sys.argv[1:])
    fails = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:400]}")
            fails += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"OK?  {name}: rows-only ({len(spdf)} rows)")
            continue
        try:
            ddf = con.sql(sql).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:400]}")
            fails += 1
            continue
        scols, srows = df_to_multiset(spdf)
        dcols, drows = df_to_multiset(ddf)
        status = []
        if len(srows) != len(drows):
            status.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if scols != dcols:
            status.append(f"cols spark={scols} duck={dcols}")
        if not status and srows != drows:
            diff = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
            status.append(f"values differ; first diffs: {diff}")
        if status:
            print(f"FAIL {name}: " + " | ".join(status))
            fails += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{'ALL PASS' if fails == 0 else f'{fails} FAILURES'}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
