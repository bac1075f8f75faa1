"""exact_quantiles_cont must be BIT-identical to F.percentile.

The operator replaces Spark's exact ``percentile`` aggregate (which
buffers every value in one final merge task) with a distributed
histogram + sharded-cumulative-count plan, reproducing
``Percentile.getPercentile``'s interpolation arithmetic driver-side.
These tests pin the bit-equality on adversarial shapes: heavy ties,
NULLs, single-row / two-row groups, groups spanning many partitions,
decimals, and negative values.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.operators.ranking import (
    exact_quantiles_cont,
)

PROBS = [0.0, 0.01, 0.25, 0.5, 0.6180339887, 0.75, 0.99, 1.0]


def _spark_percentile(spark, rows, probs, schema="v double"):
    df = spark.createDataFrame(rows, schema)
    got = df.agg(
        *[F.percentile("v", p).alias(f"q{i}") for i, p in enumerate(probs)]
    ).first()
    return [got[f"q{i}"] for i in range(len(probs))]


def _check_global(spark, rows, schema="v double", probs=PROBS):
    df = spark.createDataFrame(rows, schema)
    qs, totals = exact_quantiles_cont(df, "v", probs, num_partitions=7)
    exp = _spark_percentile(spark, rows, probs, schema)
    n_nonnull = sum(1 for (v,) in rows if v is not None)
    if n_nonnull == 0:
        assert qs == {} and totals == {}
        return
    assert totals[()] == n_nonnull
    for p, e in zip(probs, exp):
        g = qs[()][p]
        assert g == e, f"p={p}: got {g!r} expected {e!r}"


def test_random_doubles_bit_match(spark):
    rng = random.Random(42)
    rows = [(rng.uniform(-1e6, 1e6),) for _ in range(2000)]
    _check_global(spark, rows)


def test_heavy_ties_and_nulls(spark):
    rng = random.Random(7)
    rows = [(float(rng.choice([1.5, 2.5, 2.5, 2.5, 9.0])),) for _ in range(997)]
    rows += [(None,)] * 123
    _check_global(spark, rows)


def test_tiny_inputs(spark):
    _check_global(spark, [(3.25,)])
    _check_global(spark, [(1.0,), (2.0,)])
    _check_global(spark, [(5.0,), (5.0,), (5.0,)])  # equal-key early return


def test_all_null_returns_empty(spark):
    _check_global(spark, [(None,), (None,)])


def test_decimal_input_matches(spark):
    # DECIMAL(12,2) like o_totalprice: interpolation happens after the
    # same decimal->double cast the JVM does
    rng = random.Random(3)
    rows = [(round(rng.uniform(1, 99999), 2),) for _ in range(500)]
    from decimal import Decimal

    dec_rows = [(Decimal(f"{v:.2f}"),) for (v,) in rows]
    df = spark.createDataFrame(dec_rows, "v decimal(12,2)")
    qs, _ = exact_quantiles_cont(df, "v", PROBS, num_partitions=5)
    exp = df.agg(
        *[F.percentile("v", p).alias(f"q{i}") for i, p in enumerate(PROBS)]
    ).first()
    for i, p in enumerate(PROBS):
        assert qs[()][p] == exp[f"q{i}"]


def test_grouped_bit_match_groups_span_partitions(spark):
    rng = random.Random(11)
    rows = [
        (rng.choice(["A", "B", "C"]), rng.uniform(-100, 100))
        for _ in range(3000)
    ]
    rows += [("D", 42.0)]  # single-row group
    rows += [("E", None), ("E", 1.0), ("E", 2.0)]  # group with a NULL
    df = spark.createDataFrame(rows, "g string, v double")
    # num_partitions >> groups forces every big group across partitions
    qs, totals = exact_quantiles_cont(
        df, "v", PROBS, group_cols=["g"], num_partitions=13
    )
    exp = (
        df.groupBy("g")
        .agg(
            *[
                F.percentile("v", p).alias(f"q{i}")
                for i, p in enumerate(PROBS)
            ],
            F.count("v").alias("n"),
        )
        .collect()
    )
    for r in exp:
        g = (r["g"],)
        assert totals[g] == r["n"]
        for i, p in enumerate(PROBS):
            assert qs[g][p] == r[f"q{i}"], (r["g"], p)


def test_grouped_matches_duckdb_quantile_cont(spark, duck):
    """Cross-engine: the same doubles DuckDB's quantile_cont produces
    (the oracle the registry queries hash against)."""
    rng = random.Random(19)
    rows = [
        (rng.choice(["x", "y"]), float(rng.randint(0, 50)) / 4.0)
        for _ in range(801)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    qs, _ = exact_quantiles_cont(
        df, "v", [0.25, 0.5, 0.75], group_cols=["g"], num_partitions=6
    )
    con = duck
    con.execute("CREATE OR REPLACE TABLE _tq AS SELECT * FROM (VALUES "
                + ",".join(f"('{g}', {v!r})" for g, v in rows)
                + ") t(g, v)")
    try:
        exp = con.execute(
            "SELECT g, quantile_cont(v, 0.25), quantile_cont(v, 0.5),"
            " quantile_cont(v, 0.75) FROM _tq GROUP BY g ORDER BY g"
        ).fetchall()
        for g, e25, e50, e75 in exp:
            assert qs[(g,)][0.25] == e25
            assert qs[(g,)][0.5] == e50
            assert qs[(g,)][0.75] == e75
    finally:
        con.execute("DROP TABLE _tq")


def test_exact_values_at_ranks_brute_force(spark):
    """exact_values_at must return the i-th smallest raw value per
    group (the winsorize/MAD rank contract), pinned against a local
    sort; raw type is preserved (no double cast)."""
    from decimal import Decimal

    from e_commerce_data_lakehouse_spark.operators.ranking import (
        exact_values_at,
    )

    rng = random.Random(23)
    rows = [
        (rng.choice(["hi", "lo"]), Decimal(f"{rng.randint(0, 3000) / 4:.2f}"))
        for _ in range(1501)
    ]
    df = spark.createDataFrame(rows, "g string, v decimal(12,2)")

    def ranks(n):  # p05/p95 ceil-rank indices plus the extremes
        return {0, (n * 5 + 99) // 100 - 1, (n * 95 + 99) // 100 - 1, n - 1}

    vals, totals = exact_values_at(
        df, "v", ranks, group_cols=["g"], num_partitions=11
    )
    by_g: dict[str, list] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, lst in by_g.items():
        lst.sort()
        n = len(lst)
        assert totals[(g,)] == n
        for i in ranks(n):
            got = vals[(g,)][i]
            assert isinstance(got, Decimal)
            assert got == lst[i], (g, i)


@pytest.mark.parametrize("key_type", ["float", "double"])
def test_exact_values_at_rejects_float_group_keys(spark, key_type):
    """NaN != NaN breaks every driver-side dict keyed by group, so a
    FloatType or DoubleType group column fails loudly up front instead
    of silently losing the NaN group."""
    from e_commerce_data_lakehouse_spark.operators.ranking import (
        exact_values_at,
    )

    df = spark.createDataFrame(
        [(1.0, 1.0), (float("nan"), 2.0), (None, 3.0)],
        f"g {key_type}, v double",
    )
    with pytest.raises(ValueError, match="float group column"):
        exact_values_at(df, "v", lambda n: {0}, group_cols=["g"])


def test_null_group_key_kept(spark):
    """SQL GROUP BY keeps the NULL group; the pick pass must too
    (pandas groupby drops NaN keys unless told otherwise)."""
    rng = random.Random(13)
    rows = [(None if i % 3 == 0 else "g", float(rng.randint(0, 99)))
            for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v double")
    qs, totals = exact_quantiles_cont(
        df, "v", [0.25, 0.75], group_cols=["g"], num_partitions=4
    )
    exp = (
        df.groupBy("g")
        .agg(
            F.percentile("v", 0.25).alias("a"),
            F.percentile("v", 0.75).alias("b"),
            F.count("v").alias("n"),
        )
        .collect()
    )
    assert len(exp) == 2
    for r in exp:
        assert totals[(r["g"],)] == r["n"]
        assert qs[(r["g"],)][0.25] == r["a"]
        assert qs[(r["g"],)][0.75] == r["b"]


def test_weighted_histogram_equals_expanded_multiset(spark):
    """weight_col contract: quantiles of a (value, multiplicity)
    histogram == quantiles of the expanded raw multiset (and ==
    F.percentile on the expanded frame)."""
    rng = random.Random(31)
    hist_rows = [
        (g, float(v), rng.randint(1, 7))
        for g in ("a", "b")
        for v in rng.sample(range(1000), 40)
    ]
    expanded = [(g, v) for g, v, w in hist_rows for _ in range(w)]
    hdf = spark.createDataFrame(hist_rows, "g string, v double, w long")
    edf = spark.createDataFrame(expanded, "g string, v double")
    probs = [0.1, 0.5, 0.9]
    qh, th = exact_quantiles_cont(
        hdf, "v", probs, group_cols=["g"], weight_col="w", num_partitions=5
    )
    qe, te = exact_quantiles_cont(
        edf, "v", probs, group_cols=["g"], num_partitions=5
    )
    assert th == te
    assert qh == qe
    exp = (
        edf.groupBy("g")
        .agg(*[F.percentile("v", p).alias(f"q{i}") for i, p in enumerate(probs)])
        .collect()
    )
    for r in exp:
        for i, p in enumerate(probs):
            assert qh[(r["g"],)][p] == r[f"q{i}"]


def test_fractional_position_bit_match(spark):
    """Irrational-ish probs whose position lands strictly between two
    close values — the case where the two algebraically-equal
    interpolation forms (weighted vs lo + delta*frac) can differ by one
    ulp; the operator must reproduce the JVM's weighted form exactly."""
    rows = [(0.1,), (0.30000000000000004,), (0.7,), (1.9,), (2.3000000000000003,)]
    _check_global(
        spark, rows, probs=[1 / 3, 2 / 3, 0.123456789, 0.9876543210123]
    )


def test_nullable_int_group_key_stays_integral(spark):
    """An integral group column CONTAINING nulls degrades to float64 in
    the Arrow->pandas pick pass (NaN has no int64 home); the operator
    must restore schema-typed int keys in both the emitted rows and the
    driver-side group dicts (r9 ADVICE)."""
    from e_commerce_data_lakehouse_spark.operators.ranking import (
        exact_values_at,
    )

    rng = random.Random(17)
    rows = [
        (None if i % 5 == 0 else i % 3, float(rng.randint(0, 999)))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "g long, v double")
    vals, totals = exact_values_at(
        df, "v", lambda n: {0, n - 1}, group_cols=["g"], num_partitions=4
    )
    assert set(totals) == {(None,), (0,), (1,), (2,)}
    for g in totals:
        assert g[0] is None or type(g[0]) is int
        exp = sorted(v for gg, v in rows if gg == g[0])
        assert vals[g][0] == exp[0]
        assert vals[g][len(exp) - 1] == exp[-1]


def test_runaway_group_guard_raises(spark):
    """The bounded-group_cols contract is enforced by the operator
    itself (r9 VERDICT #6): exceeding max_groups raises before any
    driver-side per-group dict materializes."""
    import pytest

    from e_commerce_data_lakehouse_spark.operators.ranking import (
        exact_values_at,
    )

    df = spark.range(500).select(
        F.col("id").alias("g"), F.col("id").cast("double").alias("v")
    )
    with pytest.raises(ValueError, match="max_groups"):
        exact_values_at(
            df, "v", lambda n: {0}, group_cols=["g"], max_groups=100
        )
    # raising the cap (or disabling) restores normal operation
    vals, totals = exact_values_at(
        df, "v", lambda n: {0}, group_cols=["g"], max_groups=None
    )
    assert len(totals) == 500


def test_fast_path_matches_distributed(spark, monkeypatch):
    """The r12 adaptive small-histogram fast path (driver-side order
    statistics over a bounded limit-collect) must return EXACTLY what
    the distributed range-shard + pick machinery returns — same
    by_group values (raw types), same totals — including weighted
    histograms, NULL group keys, float NaN ordering (Spark sorts NaN
    greatest), and decimal values."""
    import random
    from decimal import Decimal

    from e_commerce_data_lakehouse_spark.operators import ranking as rk

    rng = random.Random(23)
    rows = [
        (None if i % 7 == 0 else i % 3, float(rng.randint(0, 99)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "g long, v double")
    idx = lambda n: {0, n // 3, n - 1}  # noqa: E731

    fast = rk.exact_values_at(df, "v", idx, group_cols=["g"])
    monkeypatch.setattr(rk, "_SMALL_HIST_ROWS", 0)  # force distributed
    dist = rk.exact_values_at(df, "v", idx, group_cols=["g"])
    assert fast[1] == dist[1]  # totals
    assert fast[0] == dist[0]

    # a NaN-bearing histogram must ROUTE to the distributed path (the
    # Arrow pick pass's legacy NaN->None surface is preserved, not
    # re-implemented): both calls below run the same machinery and agree
    monkeypatch.undo()
    ndf = spark.createDataFrame(
        [(0, float("nan")), (0, 1.0), (0, 2.0)], "g int, v double"
    )
    fast_n = rk.exact_values_at(ndf, "v", lambda n: {n - 1},
                                group_cols=["g"])
    monkeypatch.setattr(rk, "_SMALL_HIST_ROWS", 0)
    dist_n = rk.exact_values_at(ndf, "v", lambda n: {n - 1},
                                group_cols=["g"])
    assert fast_n == dist_n

    # weighted-histogram form, decimal values (type fidelity: Decimal in,
    # Decimal out on both paths)
    wrows = [
        (i % 2, Decimal(f"{rng.randint(0, 50)}.25"), rng.randint(1, 4))
        for i in range(200)
    ]
    wdf = spark.createDataFrame(wrows, "g int, v decimal(10,2), w long")
    monkeypatch.undo()
    fast_w = rk.exact_values_at(
        wdf, "v", idx, group_cols=["g"], weight_col="w"
    )
    monkeypatch.setattr(rk, "_SMALL_HIST_ROWS", 0)
    dist_w = rk.exact_values_at(
        wdf, "v", idx, group_cols=["g"], weight_col="w"
    )
    assert fast_w[1] == dist_w[1]
    assert fast_w[0] == dist_w[0]
    for g, picks in fast_w[0].items():
        for v in picks.values():
            assert isinstance(v, Decimal)
