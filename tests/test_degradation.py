"""NULL-group / empty-table degradation of driver-facing queries.

r9 ADVICE: three registered queries raised ``TypeError`` on data shapes
the sibling queries degrade through gracefully — ``sorted()`` over dict
keys containing ``None`` (NULL ``o_orderstatus`` / ``o_orderpriority``)
and ``int(None)`` on an empty ``documents`` table.  These tests build a
synthetic sf_dir exhibiting each shape and pin the graceful path.
"""

from __future__ import annotations

import shutil

import pytest
from driver_sim import compare, duck_views

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL

QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def degraded_sf(spark, tmp_path_factory):
    """An sf_dir whose orders table has NULL status/priority rows and
    whose documents table is EMPTY (schema preserved)."""
    from pyspark.sql import functions as F

    out = tmp_path_factory.mktemp("degraded_sf")
    for t in ("region", "nation", "customer", "supplier", "part",
              "lineitem", "events", "embeddings"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", out / f"{t}.parquet")
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    o.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ),
    ).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(str(out / "_o"))
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    d.limit(0).coalesce(1).write.mode("overwrite").parquet(str(out / "_d"))
    # the loaders read <table>.parquet as a path (file OR directory)
    shutil.move(str(out / "_o"), str(out / "orders.parquet"))
    shutil.move(str(out / "_d"), str(out / "documents.parquet"))
    return str(out)


def test_order_percentiles_by_status_null_group(spark, degraded_sf):
    rows = QUERIES["order_percentiles_by_status"](spark, degraded_sf).collect()
    by_status = {r["status"]: r for r in rows}
    assert None in by_status  # NULL group kept, sorted last, not raised
    assert by_status[None]["n_orders"] > 0
    assert by_status[None]["p50"] is not None


def test_winsorized_priority_prices_null_group(spark, degraded_sf):
    rows = QUERIES["winsorized_priority_prices"](spark, degraded_sf).collect()
    by_prio = {r["priority"]: r for r in rows}
    assert None in by_prio
    r = by_prio[None]
    assert r["p05"] <= r["winsorized_avg"] <= r["p95"]


@pytest.mark.parametrize(
    "name", ["winsorized_priority_prices", "order_percentiles_by_status"]
)
def test_null_group_queries_match_oracle_on_null_data(
    name, spark, degraded_sf
):
    """The driver's oracle compare never sees NULL groups (the testdata
    has none), so impl-vs-oracle NULL semantics must be pinned here: the
    oracle SQL runs on the DEGRADED tables and must produce the same
    multiset — this is the test that catches an inner join silently
    dropping the NULL group on one side only (r10 review finding)."""
    sdf = QUERIES[name](spark, degraded_sf)
    rows = [tuple(r) for r in sdf.collect()]
    with duck_views(degraded_sf) as con:
        problems = compare(
            sdf.dtypes, rows, con, entry_mod.oracle_sql()[name]
        )
    assert not problems, "; ".join(problems)


def test_dag_corpus_pipeline_incremental_empty_corpus(spark, degraded_sf):
    rows = QUERIES["dag_corpus_pipeline_incremental"](
        spark, degraded_sf
    ).collect()
    assert all(r["n_docs"] == 0 for r in rows)
