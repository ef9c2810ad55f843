"""Driver-contract self-checks: entry() smoke, key consistency, and a
fast DuckDB parity pass at sf0.001 over a representative subset (the
full sf0.01 gate is scripts/check_parity.py / the driver itself)."""

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from scripts.check_parity import TABLES, normalize

SUBSET = [
    "pk_census",
    "column_match_ratios",
    "row_diff",
    "unique_violations",
    "stats_documents",
    "dedup_exact",
    "langid",
    "tpch_q1",
]


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["partition", "column", "check", "metric", "threshold", "passed"]


def test_oracle_keys_subset_of_queries():
    qs = set(entry.queries())
    os_ = set(entry.oracle_sql())
    assert os_ <= qs
    assert len(os_) >= 25  # keep the oracle surface wide


@pytest.mark.parametrize("name", SUBSET)
def test_parity_sf0001(spark, name, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sdf = normalize(entry.queries()[name](spark, sf_dir).toPandas())
    odf = normalize(con.execute(entry.oracle_sql()[name]).df())
    assert list(sdf.columns) == list(odf.columns)
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False, check_exact=True)
