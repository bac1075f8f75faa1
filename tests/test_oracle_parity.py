"""Replicates the driver's t2 correctness gate locally: every declared query
runs in Spark AND in DuckDB (oracle SQL) on the same parquet, through
``tools/driver_sim.compare`` — column names, canonical column types, row
count and the order-insensitive multiset of values must match exactly.
"""

from __future__ import annotations

import pytest
from driver_sim import compare

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL

ORACLES = entry_mod.oracle_sql()
ALL_QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    sdf = ALL_QUERIES[name](spark, SF_SMALL)
    rows = [tuple(r) for r in sdf.collect()]
    problems = compare(sdf.dtypes, rows, duck, ORACLES[name])
    assert not problems, f"{name}: {'; '.join(problems)}"


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark):
    df = ALL_QUERIES[name](spark, SF_SMALL)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
