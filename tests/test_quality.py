"""Quality-layer checks (SURVEY §5) on sf0.001 tables."""

from __future__ import annotations

import pytest

from e_commerce_data_lakehouse_spark import quality as q

SF = "/root/testdata/sf0.001"


def test_uniqueness(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    assert q.uniqueness(cust, ["c_custkey"]).passed
    line = spark.read.parquet(f"{SF}/lineitem.parquet")
    r = q.uniqueness(line, ["l_orderkey"])  # lineitem repeats orderkey
    assert not r.passed
    with pytest.raises(AssertionError):
        r.expect()


def test_retention_rate():
    r = q.retention_from_counts(1000, 800)
    assert r.passed and r.details["rate"] == 0.8
    assert not r.details["healthy"]
    assert q.retention_from_counts(1000, 960).details["healthy"]
    assert not q.retention_from_counts(1000, 10).passed
    # an empty source retains everything
    assert q.retention_from_counts(0, 0).passed


def test_approx_count_distinct_within_tolerance(spark):
    """The scale path for A8: HLL sketch vs exact distinct — relative error
    must stay within the sketch's configured bound (rsd=0.02 → ~2%)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF}/orders.parquet")
    exact, approx = ev.agg(
        F.countDistinct("o_custkey").alias("e"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("a"),
    ).collect()[0]
    assert abs(approx - exact) / exact < 0.05


def test_fk_orphan_stats_counts_orphans_and_nulls(spark):
    from e_commerce_data_lakehouse_spark.quality import checks as qc

    child = spark.createDataFrame(
        [(1,), (2,), (9,), (None,)], "fk int"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    row = qc.fk_orphan_stats(child, "fk", parent, "pk", "c.fk->p.pk").first()
    assert row.relationship == "c.fk->p.pk"
    assert row.n_child_rows == 4
    assert row.n_orphans == 2  # the 9 and the NULL
    assert row.ref_ok is False


# ---------------------------------------------------------------------------
# robust_outlier_stats (median/MAD)
# ---------------------------------------------------------------------------
def test_robust_outliers_flags_far_point(spark):
    from e_commerce_data_lakehouse_spark.quality import checks as qc

    # group 'a': 9 values near 100 plus one at 100000 — median/MAD barely
    # move, the far point must flag
    rows = [("a", v) for v in [98, 99, 99, 100, 100, 100, 101, 101, 102]]
    rows.append(("a", 100000))
    df = spark.createDataFrame(rows, "g string, v long")
    out = qc.robust_outlier_stats(df, "g", "v").collect()[0]
    assert out["n_rows"] == 10
    assert out["n_outliers"] == 1
    # med2 = 2*median(98..102 plus outlier) = 100+100 = 200
    assert out["med2_v"] == 200
    assert out["outlier_share_ppm"] == 100000


def test_robust_outliers_vs_zscore_masking(spark):
    from e_commerce_data_lakehouse_spark.quality import checks as qc

    # the classic masking case: the huge point inflates stddev so much a
    # merely-large point hides from 3-sigma, but MAD still catches both
    import statistics

    vals = [100] * 20 + [500, 1000000]
    mean = statistics.mean(vals)
    sd = statistics.stdev(vals)
    assert abs(500 - mean) < 3 * sd  # z-score misses 500
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    out = qc.robust_outlier_stats(df, "g", "v").collect()[0]
    assert out["n_outliers"] == 2  # MAD flags both 500 and 1000000


def test_robust_outliers_zero_mad_group(spark):
    from e_commerce_data_lakehouse_spark.quality import checks as qc

    # constant group: MAD = 0, any deviation flags, equal values don't
    df = spark.createDataFrame(
        [("c", 5), ("c", 5), ("c", 5), ("c", 6)], "g string, v long"
    )
    out = qc.robust_outlier_stats(df, "g", "v").collect()[0]
    assert out["mad4_v"] == 0
    assert out["n_outliers"] == 1


def test_robust_outliers_null_semantics(spark):
    """SQL count semantics pinned: n_rows is COUNT(*) including
    NULL-value rows, the medians ignore NULLs, and an all-NULL group
    still gets an output row with NULL statistics (the pre-histogram
    behavior a grouped percentile aggregate had)."""
    from e_commerce_data_lakehouse_spark.quality import checks as qc

    df = spark.createDataFrame(
        [("a", 10), ("a", None), ("a", 12), ("x", None), ("x", None)],
        "g string, v long",
    )
    out = {r["g"]: r for r in qc.robust_outlier_stats(df, "g", "v").collect()}
    assert set(out) == {"a", "x"}
    assert out["a"]["n_rows"] == 3  # NULL row counted
    assert out["a"]["med2_v"] == 22  # median of {10, 12} -> 2x11
    assert out["x"]["n_rows"] == 2
    assert out["x"]["med2_v"] is None and out["x"]["mad4_v"] is None
    assert out["x"]["n_outliers"] == 0 and out["x"]["outlier_share_ppm"] == 0
