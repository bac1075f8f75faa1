"""``driver_sim.compare``, the one Spark-vs-DuckDB check, on hand-written
Spark-side results: DuckDB only, no Spark session."""

from __future__ import annotations

import datetime

import duckdb
import pytest
from driver_sim import compare, duck_views


@pytest.fixture
def con():
    with duckdb.connect() as c:
        yield c


def test_match_ignores_column_and_row_order(con):
    sql = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)"
    rows = [("b", 2), ("a", 1)]
    assert compare([("v", "string"), ("k", "int")], rows, con, sql) == []


def test_column_name_mismatch(con):
    sql = "SELECT 1 AS k"
    problems = compare([("key", "int")], [(1,)], con, sql)
    assert problems == ["cols ['key'] != ['k']"]


def test_bigint_is_not_integer(con):
    sql = "SELECT CAST(1 AS INTEGER) AS k"
    problems = compare([("k", "bigint")], [(1,)], con, sql)
    assert problems == ["types spark!=oracle {'k': ('bigint', 'int')}"]


def test_row_count_mismatch(con):
    sql = "SELECT CAST(1 AS BIGINT) AS k"
    problems = compare([("k", "bigint")], [(1,), (1,)], con, sql)
    assert problems == ["rowcount 2 != 1"]


def test_value_mismatch(con):
    sql = "SELECT CAST(1 AS BIGINT) AS k"
    problems = compare([("k", "bigint")], [(2,)], con, sql)
    assert problems == ["values differ, e.g. [((2,), (1,))]"]


def test_nan_equals_nan(con):
    sql = "SELECT CAST('NaN' AS DOUBLE) AS x"
    assert compare([("x", "double")], [(float("nan"),)], con, sql) == []


def test_tz_aware_equals_naive_datetime(con):
    sql = "SELECT TIMESTAMP '2024-01-01 10:00:00' AS ts"
    aware = datetime.datetime(2024, 1, 1, 10, tzinfo=datetime.timezone.utc)
    assert compare([("ts", "timestamp")], [(aware,)], con, sql) == []


def test_tuple_cell_equals_list_cell(con):
    sql = "SELECT [1, 2]::BIGINT[] AS xs"
    assert compare([("xs", "array<bigint>")], [((1, 2),)], con, sql) == []


def test_oracle_error_propagates(con):
    with pytest.raises(duckdb.Error):
        compare([("k", "int")], [], con, "SELECT * FROM no_such_table")


def test_duck_views_reads_files_and_part_directories(tmp_path):
    (tmp_path / "nation.parquet").mkdir()
    with duckdb.connect() as src:
        src.execute(f"COPY (SELECT 1 AS r) TO '{tmp_path}/region.parquet'")
        for i in range(2):
            src.execute(
                f"COPY (SELECT {i} AS n) TO "
                f"'{tmp_path}/nation.parquet/part-{i}.parquet'"
            )
    with duck_views(str(tmp_path)) as con:
        assert con.execute("SELECT r FROM region").fetchall() == [(1,)]
        assert con.execute("SELECT SUM(n) FROM nation").fetchall() == [(1,)]
        views = con.execute(
            "SELECT view_name FROM duckdb_views() WHERE NOT internal"
        ).fetchall()
    assert {v for v, in views} == {"region", "nation"}  # missing: no view
