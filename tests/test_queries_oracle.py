"""Every queries() entry must match its DuckDB oracle at sf0.001 —
the local twin of the driver's CORRECTNESS gate (sf0.01 there)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from beats_spark.queries import QUERIES as TABLE
from tests.harness import compare

import os

SF = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_catalog_consistency():
    # every oracle key must have a query; queries without oracle are the
    # documented weaker rows-only checks
    assert set(ORACLES) <= set(QUERIES)


def test_query_table_names_unique():
    # catalog() is a dict over the table: a repeated row would silently
    # replace the earlier one and drop a query from its checked position
    names = [name for name, _, _ in TABLE]
    assert len(names) == len(set(names)), sorted({n for n in names if names.count(n) > 1})


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    compare(spark, SF, name, QUERIES[name], ORACLES[name])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
