"""Backend contract suite: the SAME lifecycle assertions against every
storage backend (r10 VERDICT ask #5 — the real-Delta seam).

Each test takes a ``make_table`` factory parameterized over backend
kinds.  The parquet-snapshot backend runs everywhere; the delta rows
construct ``ManagedTable(..., backend="delta")`` and skip with the
reasoned :class:`BackendUnavailable` message in-sandbox (no delta-spark
runtime — README "Delta install attempt").  On a cluster with
``delta-spark`` installed the identical assertions run against real
Delta — a config flip, not a test rewrite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.sources.backends import (
    BackendUnavailable,
    make_backend,
)
from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable

BACKENDS = ["parquet", "delta"]


@pytest.fixture(params=BACKENDS)
def make_table(request, spark, tmp_path):
    """Factory: name -> ManagedTable on the param backend (skips with the
    backend's own unavailability reason when its runtime is absent)."""
    kind = request.param
    counter = {"n": 0}

    def factory(**kwargs):
        counter["n"] += 1
        try:
            return ManagedTable(
                spark,
                str(tmp_path / f"t{counter['n']}"),
                backend=kind,
                **kwargs,
            )
        except BackendUnavailable as e:
            pytest.skip(f"backend {kind!r} unavailable: {e}")

    factory.backend = kind
    return factory


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ts long")


def test_create_read_roundtrip(make_table, spark):
    t = make_table()
    t.create(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    assert t.exists()
    got = sorted((r.k, r.v, r.ts) for r in t.read().collect())
    assert got == [(1, "a", 10), (2, "b", 20)]
    assert t.read().columns == ["k", "v", "ts"]


def test_overwrite_creates_new_version_and_time_travel(make_table, spark):
    t = make_table()
    t.create(_df(spark, [(1, "a", 10)]))
    v0 = t.history()[-1]
    t.overwrite(_df(spark, [(9, "z", 90)]))
    assert len(t.history()) >= 2
    assert [r.k for r in t.read().collect()] == [9]
    assert [r.k for r in t.read(version_as_of=v0).collect()] == [1]


def test_append_accumulates(make_table, spark):
    t = make_table()
    t.create(_df(spark, [(1, "a", 10)]))
    t.append(_df(spark, [(2, "b", 20)]))
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_merge_scd1_upserts(make_table, spark):
    t = make_table()
    t.create(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    t.merge_scd1(_df(spark, [(2, "B", 21), (3, "c", 30)]), ["k"])
    got = dict((r.k, r.v) for r in t.read().collect())
    assert got == {1: "a", 2: "B", 3: "c"}


def test_merge_scd1_evaluates_updates_once(make_table, spark):
    """The duplicate probe and the commit both read one materialization
    of ``updates``: every row of its lineage is evaluated exactly once
    (a counting UDF in the lineage)."""
    t = make_table()
    t.create(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    evaluated = spark.sparkContext.accumulator(0)

    def seen(_k):
        evaluated.add(1)
        return True

    updates = _df(spark, [(2, "B", 21), (3, "c", 30), (4, "d", 40)]).filter(
        F.udf(seen, "boolean")("k")
    )
    t.merge_scd1(updates, ["k"])
    assert evaluated.value == 3
    got = dict((r.k, r.v) for r in t.read().collect())
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_row_count_matches_data(make_table, spark):
    t = make_table()
    t.create(_df(spark, [(i, "x", i) for i in range(25)]))
    assert t.row_count() == 25


def test_append_once_is_idempotent(make_table, spark):
    t = make_table()
    t.create(_df(spark, [(1, "a", 10)]))
    assert t.append_once(_df(spark, [(2, "b", 20)]), "batch-1") is True
    assert t.append_once(_df(spark, [(2, "b", 20)]), "batch-1") is False
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_partitioned_write_and_empty_commit(make_table, spark):
    t = make_table(partition_by=("v",))
    t.create(_df(spark, [(1, "a", 10), (2, "b", 20)]))
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    # column ORDER survives the partition layout (sidecar / txn-log
    # schema — a naive partitioned read appends partition cols at the
    # end, which is exactly what the sidecar exists to prevent)
    assert t.read().columns == ["k", "v", "ts"]
    # an ALL-EMPTY commit must stay readable with the original schema
    t.overwrite(_df(spark, []).filter("1=0"))
    assert t.read().count() == 0
    assert t.read().columns == ["k", "v", "ts"]


def test_unknown_backend_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown backend"):
        make_backend("iceberg", spark, str(tmp_path / "x"))


def test_delta_backend_unavailable_reason_is_reasoned(spark, tmp_path):
    """In-sandbox the delta backend must fail CONSTRUCTION with the
    documented reason (never fail later mid-write); on a cluster with
    delta-spark this test simply ensures construction succeeds."""
    try:
        make_backend("delta", spark, str(tmp_path / "d"))
    except BackendUnavailable as e:
        assert "delta-spark" in str(e)
    else:
        import importlib.util

        assert importlib.util.find_spec("delta") is not None
