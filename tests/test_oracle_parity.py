"""Mimic the driver's correctness gate: run every queries() entry and its
oracle_sql() DuckDB twin at a small scale factor and compare row count,
column names, and (order-insensitively) values.

This is the same comparison CORRECTNESS_r{N}.json records, run locally
so regressions surface in pytest first.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from r2rml_parser_spark.oracles import canonical_rows, oracle_db  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

ORACLED = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entrymod.queries()) - set(ORACLED))


@pytest.fixture(scope="module")
def duck():
    return oracle_db(SF_DIR)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    df = q(spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = canonical_rows(spark_cols, df.collect())

    res = duck.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = canonical_rows(duck_cols, res.fetchall())

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rowcount {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    if spark_rows != duck_rows:
        diffs = [(a, b) for a, b in zip(spark_rows, duck_rows) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
    assert df.schema


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
