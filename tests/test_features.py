"""covariance_fixed: the GEMM partial-aggregation must be exact.

The operator's contract is that per-partition int64 GEMM partials summed
across partitions equal a single-pass computation — i.e. the result is
partition-layout independent (the mergeability a 1000-executor run
relies on) and matches a NumPy reference on the same quantized inputs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark import entry_queries as eq
from e_commerce_data_lakehouse_spark.operators import features as ft

SF = "/root/testdata/sf0.001"


def _as_matrix(df, scale=10**6):
    rows = df.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # same quantization as the SQL side: round half away from zero
    return np.trunc(X * scale + np.copysign(0.5, X)).astype(np.int64)


def _collect_cov(df):
    return {
        (r["dim_i"], r["dim_j"]): (
            r["n_vectors"],
            r["sum_prod"],
            r["sum_i"],
            r["sum_j"],
            int(r["cov_num"]),
        )
        for r in df.collect()
    }


def test_covariance_matches_numpy_reference(spark):
    emb = eq.load(spark, SF, "embeddings")["embeddings"]
    got = _collect_cov(ft.covariance_fixed(emb, "embedding", dim=64))
    Q = _as_matrix(emb)
    n = Q.shape[0]
    G = Q.T @ Q
    s = Q.sum(axis=0)
    assert len(got) == 64 * 65 // 2
    for (i, j), (nv, sp, si, sj, cn) in got.items():
        assert i <= j
        assert nv == n
        assert sp == G[i, j]
        assert si == s[i] and sj == s[j]
        assert cn == int(n) * int(G[i, j]) - int(s[i]) * int(s[j])


def test_covariance_partition_layout_independent(spark):
    """Mergeability: 1 partition and 16 partitions must agree exactly —
    the property that makes the partial-GEMM shape valid at any scale."""
    emb = eq.load(spark, SF, "embeddings")["embeddings"]
    one = _collect_cov(
        ft.covariance_fixed(emb.coalesce(1), "embedding", dim=64)
    )
    many = _collect_cov(
        ft.covariance_fixed(emb.repartition(16), "embedding", dim=64)
    )
    assert one == many


def test_covariance_diagonal_nonnegative(spark):
    """Variance numerators (diagonal) are mathematically >= 0; a negative
    one would mean integer overflow slipped through."""
    emb = eq.load(spark, SF, "embeddings")["embeddings"]
    cov = ft.covariance_fixed(emb, "embedding", dim=64)
    bad = cov.filter(
        (F.col("dim_i") == F.col("dim_j")) & (F.col("cov_num") < 0)
    ).count()
    assert bad == 0


def test_preference_pairs_ends_apart_and_margin(spark):
    """Chosen score is the group max, rejected the group min, margin
    consistent, and the two doc ids differ even in all-tied groups."""
    out = {
        (r["lang"], r["source"]): r
        for r in eq.preference_pairs(spark, SF).collect()
    }
    docs = eq.load(spark, SF, "documents")["documents"]
    scored = docs.select(
        "lang",
        "source",
        "doc_id",
        F.size(F.array_distinct(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("score"),
    ).collect()
    groups: dict = {}
    for r in scored:
        groups.setdefault((r["lang"], r["source"]), []).append(
            (r["score"], r["doc_id"])
        )
    for key, members in groups.items():
        if len(members) < 2:
            assert key not in out
            continue
        r = out[key]
        assert r["chosen_score"] == max(s for s, _ in members)
        assert r["rejected_score"] == min(s for s, _ in members)
        assert r["score_margin"] == r["chosen_score"] - r["rejected_score"]
        assert r["chosen_doc_id"] != r["rejected_doc_id"]
        assert r["n_docs"] == len(members)


def test_epoch_shuffle_is_a_permutation_per_epoch(spark):
    """Every epoch contains every doc exactly once; positions are dense
    1..n per (epoch, shard); and epoch orders actually differ."""
    rows = eq.epoch_shuffle(spark, SF).collect()
    docs = {
        r["doc_id"]
        for r in eq.load(spark, SF, "documents")["documents"]
        .select("doc_id")
        .collect()
    }
    by_epoch: dict = {}
    by_shard: dict = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r["doc_id"])
        by_shard.setdefault((r["epoch"], r["shard"]), []).append(r["pos"])
    assert set(by_epoch) == {0, 1, 2}
    for _, ids in by_epoch.items():
        assert sorted(ids) == sorted(docs)
    for _, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic: two runs identical
    again = eq.epoch_shuffle(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # epochs genuinely reshuffle: the shard assignment of docs differs
    shard_of = {
        (r["epoch"], r["doc_id"]): r["shard"] for r in rows
    }
    diffs = sum(
        1
        for d in docs
        if shard_of[(0, d)] != shard_of[(1, d)]
    )
    assert diffs > len(docs) // 2


def test_whiten_covariance_is_identity(spark):
    """Whitened output must have sample covariance ~ I (up to the eps
    ridge) and preserve every row."""
    emb = eq.load(spark, SF, "embeddings")["embeddings"]
    out = ft.whiten(emb, "vec_id", "embedding", dim=64)
    rows = out.collect()
    assert len(rows) == emb.count()
    Y = np.array([r["whitened"] for r in rows], dtype=np.float64)
    C = np.cov(Y, rowvar=False)
    assert np.abs(C - np.eye(64)).max() < 0.05


def test_whiten_partition_layout_independent(spark):
    emb = eq.load(spark, SF, "embeddings")["embeddings"]
    a = {
        r["vec_id"]: tuple(r["whitened"])
        for r in ft.whiten(emb.coalesce(1), "vec_id", "embedding", 64).collect()
    }
    b = {
        r["vec_id"]: tuple(r["whitened"])
        for r in ft.whiten(
            emb.repartition(16), "vec_id", "embedding", 64
        ).collect()
    }
    assert a == b


def test_global_row_number_equals_window_row_number(spark):
    """The distributed two-pass ranking must equal the single-task global
    window it replaces, carry the exact row count as ``total_col``, and be
    independent of input partitioning — also with NULL order keys, on an
    empty frame and on a single row."""
    from pyspark.sql import Window

    from e_commerce_data_lakehouse_spark.caching import release_persisted
    from e_commerce_data_lakehouse_spark.operators import ranking as rk

    df = spark.range(997).select(
        F.col("id"), ((F.col("id") * 131) % 97).alias("v")
    )
    inputs = (
        df,
        df.withColumn("v", F.when(F.col("id") % 10 != 0, F.col("v"))),
        df.filter(F.col("id") < 0),
        df.filter(F.col("id") == 500),
    )
    w = Window.orderBy(F.col("v").desc(), "id")
    for frame in inputs:
        expect = {
            r["id"]: r["rn"]
            for r in frame.select(
                "id", F.row_number().over(w).alias("rn")
            ).collect()
        }
        for layout in (frame.coalesce(1), frame.repartition(16)):
            rows = rk.global_row_number(
                layout, [F.col("v").desc(), F.col("id")], total_col="n"
            ).collect()
            assert {r["id"]: r["global_rank"] for r in rows} == expect
            assert all(r["n"] == len(expect) for r in rows)
            release_persisted()


def test_ntile_from_rank_matches_sql_ntile(spark):
    from pyspark.sql import Window

    from e_commerce_data_lakehouse_spark.operators import ranking as rk

    # (12, 5) is the first case where the even-spread one-liner
    # floor((rn-1)k/n)+1 diverges from SQL NTILE; (5, 7) is k > n
    for n, k in [(10, 5), (11, 5), (12, 5), (7, 3), (5, 7), (1, 4)]:
        df = spark.range(n).select(F.col("id"))
        w = Window.orderBy("id")
        rows = df.select(
            "id",
            F.ntile(k).over(w).alias("want"),
            F.row_number().over(w).alias("rn"),
        ).select(
            "want", rk.ntile_from_rank("rn", n, k).alias("got")
        ).collect()
        assert all(r["want"] == r["got"] for r in rows), (n, k)


def test_global_cumsum_equals_window_cumsum(spark):
    """The distributed prefix sum must equal the single-task cumulative
    window it replaces (SUM OVER ROWS UNBOUNDED PRECEDING), carry the
    exact grand total when asked, and be independent of input
    partitioning — including negative values, a partition-straddling
    layout, NULL order keys, an empty frame and a single row."""
    from pyspark.sql import Window

    from e_commerce_data_lakehouse_spark.caching import release_persisted
    from e_commerce_data_lakehouse_spark.operators import ranking as rk

    df = spark.range(997).select(
        F.col("id"), ((F.col("id") * 131) % 97).alias("k")
    ).withColumn("v", (F.col("k") - 48).cast("long"))
    inputs = (
        df,
        df.withColumn("k", F.when(F.col("id") % 10 != 0, F.col("k"))),
        df.filter(F.col("id") < 0),
        df.filter(F.col("id") == 500),
    )
    w = Window.orderBy(F.col("k").desc(), "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for frame in inputs:
        want = frame.select(
            "id", "v", F.sum("v").over(w).alias("cum")
        ).collect()
        expect = {r["id"]: r["cum"] for r in want}
        total = sum(r["v"] for r in want)
        for layout in (frame.coalesce(1), frame.repartition(16)):
            rows = rk.global_cumsum(
                layout,
                [F.col("k").desc(), "id"],
                "v",
                out_col="cum",
                total_col="tot",
            ).collect()
            assert {r["id"]: r["cum"] for r in rows} == expect
            assert all(r["tot"] == total for r in rows)
            release_persisted()
