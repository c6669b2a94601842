"""Driver-contract harness replica: every queries() entry vs its DuckDB
oracle at sf0.001 (the driver runs the same comparison at sf0.01).
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = "events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _multiset(pdf):
    def norm(v):
        if v is None:
            return "<NULL>"
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return repr(v)
        return str(v)

    cols = sorted(pdf.columns)
    return cols, sorted(
        "\x01".join(norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None))


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_matches_oracle(spark, duck, name):
    spdf = E.queries()[name](spark, SF_DIR).toPandas()
    sql = E.oracle_sql().get(name)
    assert sql is not None, f"{name} has no oracle"
    ddf = duck.sql(sql).df()
    scols, srows = _multiset(spdf)
    dcols, drows = _multiset(ddf)
    assert scols == dcols
    assert len(srows) == len(drows)
    assert srows == drows


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.limit(5).collect()
    assert {"doc_id", "route", "n_spans", "content"} <= set(df.columns)
    assert len(rows) > 0


def test_phash_pairs_plans_as_the_first_query_of_a_session(duck):
    """The driver runs queries() in order in one fresh session, so the
    front query must also plan when nothing ran before it: a Union of two
    range projections made phash_pairs fail there with `key not found:
    id#3L`. A child process gives the fresh session."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[1]')"
        ".config('spark.driver.memory', '512m')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        "import __spark_entry__ as E\n"
        "print('rows', len(E.queries()['phash_pairs'](spark, %r)"
        ".toPandas()))\n" % (repo, SF_DIR))
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    want = len(duck.sql(E.oracle_sql()["phash_pairs"]).df())
    assert f"rows {want}\n" in r.stdout
