"""Round-13 optimization internals.

Pins the behaviors the r13 changes introduced:

- ``exact_values_at``'s Arrow fast path (``toArrow`` + vectorized
  driver solve) must equal the distributed pick pass on adversarial
  shapes — string/NULL group keys, date values, decimal weights, runs
  spanning many partitions — and must NOT fire for TimestampType values
  (tz-dependent collect surface, r12 ADVICE) while still firing for
  TimestampNTZ.
- ``global_row_number``/``global_cumsum`` must not drop a
  CALLER-owned persist (r12 ADVICE).
- ``run_available_now_parquet`` must reproduce the memory sink's row
  semantics for complete/append/update drains without registering any
  session-lifetime table.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from e_commerce_data_lakehouse_spark.operators import ranking as rk


def _both_paths(monkeypatch, df, value_col, idx, **kw):
    monkeypatch.undo()
    fast = rk.exact_values_at(df, value_col, idx, **kw)
    monkeypatch.setattr(rk, "_SMALL_HIST_ROWS", 0)  # force distributed
    dist = rk.exact_values_at(df, value_col, idx, **kw)
    monkeypatch.undo()
    return fast, dist


def test_arrow_fast_path_string_keys_date_values(spark, monkeypatch):
    """String group keys (incl. NULL and empty string — adjacent runs
    must not merge) with DATE values, groups spanning partitions."""
    import random

    rng = random.Random(11)
    keys = [None, "", "a", "b", "zz"]
    rows = [
        (rng.choice(keys), datetime.date(2020, 1, 1 + rng.randint(0, 27)))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v date")
    idx = lambda n: {0, n // 2, n - 1}  # noqa: E731
    fast, dist = _both_paths(
        monkeypatch, df, "v", idx, group_cols=["g"], num_partitions=7
    )
    assert fast[1] == dist[1]
    assert fast[0] == dist[0]
    assert len(fast[1]) == len(keys)
    for picks in fast[0].values():
        for v in picks.values():
            assert isinstance(v, datetime.date)


def test_arrow_fast_path_timestamp_gating(spark, monkeypatch):
    """TimestampType must NOT take the driver fast path (collect surface
    is session-tz-dependent); TimestampNTZ must."""
    rows = [
        (datetime.datetime(2021, 3, 1, 12, 0, i),) for i in range(20)
    ]
    tdf = spark.createDataFrame(rows, "v timestamp")
    ndf = spark.createDataFrame(rows, "v timestamp_ntz")

    called = {"n": 0}
    real = rk._order_stats_from_arrow

    def spy(*a, **k):
        called["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(rk, "_order_stats_from_arrow", spy)
    vals_t, tot_t = rk.exact_values_at(tdf, "v", lambda n: {0, n - 1})
    assert called["n"] == 0  # timestamp stayed distributed
    vals_n, tot_n = rk.exact_values_at(ndf, "v", lambda n: {0, n - 1})
    assert called["n"] == 1  # ntz took the fast path
    assert tot_t[()] == tot_n[()] == 20
    # same instants, same picked positions — naive datetimes equal
    assert vals_t[()] == vals_n[()]
    assert isinstance(vals_n[()][0], datetime.datetime)


def test_arrow_fast_path_timestamp_group_key_routes_distributed(
    spark, monkeypatch
):
    """A TimestampType GROUP KEY must route to the distributed pick pass:
    toArrow returns tz-aware key cells while the offsets collect returns
    naive ones, so the driver solver's dict lookups would miss."""
    called = {"n": 0}
    real = rk._order_stats_from_arrow

    def spy(*a, **k):
        called["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(rk, "_order_stats_from_arrow", spy)
    rows = [
        (datetime.datetime(2022, 5, 1 + i % 2, 8), float(i))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "g timestamp, v double")
    vals, totals = rk.exact_values_at(
        df, "v", lambda n: {0, n - 1}, group_cols=["g"]
    )
    assert called["n"] == 0  # stayed distributed
    assert sum(totals.values()) == 30
    assert len(totals) == 2
    for g, picks in vals.items():
        assert picks[0] == min(
            v for gt, v in rows
            if (gt.replace(tzinfo=None) if gt.tzinfo else gt)
            == (g[0].replace(tzinfo=None) if g[0].tzinfo else g[0])
        )


def test_arrow_fast_path_nan_routes_distributed_without_collect(
    spark, monkeypatch
):
    """A NaN-bearing float histogram must route to the pick pass and the
    driver solver must never run (the NaN flag rides the offsets
    aggregate — no wasted collect)."""
    monkeypatch.setattr(
        rk,
        "_order_stats_from_arrow",
        lambda *a, **k: pytest.fail("fast path ran on NaN histogram"),
    )
    df = spark.createDataFrame(
        [(0, float("nan")), (0, 1.0), (0, 2.0)], "g int, v double"
    )
    vals, totals = rk.exact_values_at(
        df, "v", lambda n: {n - 1}, group_cols=["g"]
    )
    assert totals[(0,)] == 3
    # legacy surface: NaN sorts greatest and collects as None via the
    # pick pass's pyarrow NaN->null coercion
    assert vals[(0,)][2] is None


def test_caller_persist_survives_global_row_number(spark):
    """r12 ADVICE: a caller-persisted input must still be cached after
    global_row_number/global_cumsum ran (the operators used to
    unconditionally unpersist it)."""
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "id long, v long"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        ranked = rk.global_row_number(df, ["id"])
        assert ranked.count() == 100
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
        summed = rk.global_cumsum(df, ["id"], "v")
        assert summed.count() == 100
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
    finally:
        df.unpersist()


def test_run_available_now_parquet_matches_memory_sink(spark, tmp_path):
    """The executor-side parquet drain must reproduce the memory sink's
    rows for a complete-mode windowed aggregate, and register NO table."""
    import uuid

    from e_commerce_data_lakehouse_spark.streaming.pipeline import (
        drain_available_now,
        hourly_event_counts,
        run_available_now_parquet,
        stream_events,
    )

    src = str(tmp_path / "events_src")
    rows = [
        (i, i % 3, f"t{i % 2}", float(i),
         datetime.datetime(2024, 1, 1, i % 24, 0, 0))
        for i in range(200)
    ]
    schema = (
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp"
    )
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = stream_events(spark, src, schema, ts_from_nanos="ts")
    agg = hourly_event_counts(stream)
    got = run_available_now_parquet(agg, str(tmp_path / "drain"))

    table = f"ref_{uuid.uuid4().hex[:8]}"
    stream2 = stream_events(spark, src, schema, ts_from_nanos="ts")
    drain_available_now(
        hourly_event_counts(stream2),
        str(tmp_path / "ckpt_ref"),
        "memory",
        "complete",
        query_name=table,
    )
    ref = spark.table(table)

    # names + types + rows identical; nullability is NOT compared — the
    # parquet reader relaxes every field to nullable (reader contract)
    # while the memory sink kept the plan's flags, and the driver's
    # oracle hash sees names + simpleString types only
    assert got.schema.fieldNames() == ref.schema.fieldNames()
    assert [f.dataType for f in got.schema.fields] == [
        f.dataType for f in ref.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
    # the drain registered nothing in the catalog
    assert not any(
        t.name.startswith("drain_") for t in spark.catalog.listTables()
    )


def test_run_available_now_parquet_append_mode(spark, tmp_path):
    """Append-mode drain accumulates batch rows — equal to the batch
    distinct over the bounded source (the streaming_dedup_keys shape)."""
    from e_commerce_data_lakehouse_spark.streaming.pipeline import (
        run_available_now_parquet,
        stream_events,
    )
    from e_commerce_data_lakehouse_spark.streaming.stateful import (
        streaming_dedup,
    )

    src = str(tmp_path / "ev2")
    rows = [
        (i, i % 7, "view", 1.0, datetime.datetime(2024, 2, 1, 8, 0, i % 50))
        for i in range(300)
    ]
    schema = (
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp"
    )
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = stream_events(spark, src, schema, ts_from_nanos="ts")
    keyed = stream.withColumn("day", F.to_date("ts"))
    deduped = streaming_dedup(
        keyed, ["user_id", "day"], "ts", watermark="24 hours"
    ).select("user_id", "day")
    got = run_available_now_parquet(
        deduped,
        str(tmp_path / "drain"),
        output_mode="append",
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(
            tuple,
            spark.read.parquet(src)
            .select("user_id", F.to_date("ts").alias("day"))
            .distinct()
            .collect(),
        )
    )
