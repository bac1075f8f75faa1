"""The SAME sessionize expression must work under readStream with a
watermark — the streaming-capable claim in operators/aggregates.sessionize,
verified instead of asserted."""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.operators import aggregates as agg


def test_sessionize_streaming_matches_batch(spark, tmp_path):
    rows = [
        # u1: two sessions (10:00-10:10 block, then 11:00)
        ("u1", "2024-01-01 10:00:00"),
        ("u1", "2024-01-01 10:10:00"),
        ("u1", "2024-01-01 11:00:00"),
        # u2: one session
        ("u2", "2024-01-01 09:00:00"),
        ("u2", "2024-01-01 09:20:00"),
    ]
    src = str(tmp_path / "src")
    batch_df = (
        spark.createDataFrame(rows, ["user_id", "ts_raw"])
        .withColumn("ts", F.col("ts_raw").cast("timestamp"))
        .drop("ts_raw")
    )
    batch_df.coalesce(1).write.parquet(src)

    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in agg.sessionize(batch_df, "user_id", "ts", gap="30 minutes").collect()
    }
    assert len(batch) == 3

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
    )
    q = (
        agg.sessionize(stream, "user_id", "ts", gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_out").collect()
    }
    assert streamed == batch


def test_append_mode_sessions_emit_only_watermark_closed(spark, tmp_path):
    """run_available_now_append drains ONLY the sessions the final
    watermark (max event time - delay) has closed, exactly once, into a
    ManagedTable — and the flush batch AvailableNow runs after the last
    data batch is what emits them (append mode emits nothing while the
    watermark still trails the data)."""
    from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable
    from e_commerce_data_lakehouse_spark.streaming.pipeline import (
        run_available_now_append,
    )

    rows = [
        # u1: an early session (closed by the final watermark) and a late
        # one ending within the 1h delay of max ts (still open in state)
        ("u1", "2024-01-01 08:00:00"),
        ("u1", "2024-01-01 08:05:00"),
        ("u1", "2024-01-01 11:50:00"),
        # u2: one early closed session
        ("u2", "2024-01-01 07:00:00"),
        # max ts → watermark = 11:00
        ("u3", "2024-01-01 12:00:00"),
    ]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, ["user_id", "ts_raw"])
        .withColumn("ts", F.col("ts_raw").cast("timestamp"))
        .drop("ts_raw")
        .coalesce(1)
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
    )
    sessions = agg.sessionize(stream, "user_id", "ts", gap="30 minutes")
    target = ManagedTable(spark, str(tmp_path / "sink"))
    run_available_now_append(sessions, str(tmp_path / "ck"), target)
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in target.read().collect()
    }
    # closed: u1@08:00 (ends 08:35 < 11:00), u2@07:00 (ends 07:30).
    # open: u1@11:50 (ends 12:20 > 11:00), u3@12:00 (ends 12:30).
    assert got == {
        ("u1", "2024-01-01 08:00:00", 2),
        ("u2", "2024-01-01 07:00:00", 1),
    }
    # exactly-once: replaying an already-committed batch id is a no-op
    before = target.read().count()
    assert target.append_once(target.read(), "b0") is False
    assert target.read().count() == before


def test_append_mode_emits_session_ending_exactly_at_watermark(
    spark, tmp_path
):
    """Pin the eviction TIE (r7 ADVICE #4): a session whose end equals the
    final watermark exactly (end == max(ts) − delay) IS emitted by
    Spark's append-mode session-window eviction — measured, not assumed —
    which is why the streaming_sessions_append oracle closes sessions
    with ``session_end <= max(ts) − delay`` (inclusive).  One second past
    the tie stays open.  If a Spark upgrade flips this boundary, this
    test fails before the sf-grown driver data can."""
    from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable
    from e_commerce_data_lakehouse_spark.streaming.pipeline import (
        run_available_now_append,
    )

    rows = [
        ("u_tie", "2024-01-01 10:30:00"),  # ends 11:00:00 == watermark
        ("u_under", "2024-01-01 10:29:59"),  # ends 10:59:59 < watermark
        ("u_over", "2024-01-01 10:30:01"),  # ends 11:00:01 > watermark
        ("umax", "2024-01-01 12:00:00"),  # max ts → watermark = 11:00:00
    ]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, ["user_id", "ts_raw"])
        .withColumn("ts", F.col("ts_raw").cast("timestamp"))
        .drop("ts_raw")
        .coalesce(1)
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
    )
    sessions = agg.sessionize(stream, "user_id", "ts", gap="30 minutes")
    target = ManagedTable(spark, str(tmp_path / "sink"))
    run_available_now_append(sessions, str(tmp_path / "ck"), target)
    got = {r["user_id"] for r in target.read().collect()}
    assert got == {"u_tie", "u_under"}, got


def test_bucketed_session_stream_converges_to_batch(spark, tmp_path):
    """r11 VERDICT #2: the day-bucketed streaming stage + batch edge
    stitch must equal the single-pass batch sessionize — including a
    CROSS-MIDNIGHT session (merged by the stitch), a session spanning
    THREE days (chained merges), an exact last+gap tie at a midnight
    boundary (session_window's INCLUSIVE merge, defect class #9), and a
    mid-day session that never touches a boundary."""
    import random

    from e_commerce_data_lakehouse_spark.streaming.pipeline import (
        bucketed_session_stream,
    )

    rows = [
        # u1: session crossing midnight (23:50 -> 00:10 next day)
        ("u1", "2024-01-01 23:50:00", 1.0),
        ("u1", "2024-01-02 00:10:00", 2.0),
        # u1: separate mid-day session
        ("u1", "2024-01-02 12:00:00", 3.0),
        # u2: session spanning THREE days (events every ~20 min around
        # both midnights)
        ("u2", "2024-01-01 23:55:00", 1.0),
        ("u2", "2024-01-02 00:15:00", 1.0),
        ("u2", "2024-01-02 23:58:00", 5.0),
        ("u2", "2024-01-03 00:20:00", 7.0),
        # u3: exact tie at the boundary — event at exactly prev + gap
        # (00:25 = 23:55 + 30 min) must MERGE
        ("u3", "2024-01-01 23:55:00", 1.0),
        ("u3", "2024-01-02 00:25:00", 1.0),
        # u3: and an event one second past a gap elsewhere splits
        ("u3", "2024-01-02 10:00:00", 1.0),
        ("u3", "2024-01-02 10:30:01", 1.0),
    ]
    # plus random bulk so buckets hold interior sessions too
    rng = random.Random(7)
    for i in range(200):
        day = rng.choice(("01", "02", "03"))
        rows.append(
            (
                f"u{rng.randrange(4)}",
                f"2024-01-{day} {rng.randrange(8, 20):02d}:"
                f"{rng.randrange(60):02d}:00",
                float(i),
            )
        )
    src = str(tmp_path / "src")
    batch_df = (
        spark.createDataFrame(rows, ["user_id", "ts_raw", "value"])
        .withColumn("ts", F.col("ts_raw").cast("timestamp"))
        .drop("ts_raw")
    )
    batch_df.coalesce(1).write.parquet(src)

    want = sorted(
        map(
            tuple,
            agg.sessionize(
                batch_df,
                "user_id",
                "ts",
                gap="30 minutes",
                aggs=[
                    F.count("*").cast("long").alias("n_events"),
                    F.sum(F.col("value").cast("decimal(30,6)")).alias(
                        "sum_value"
                    ),
                ],
            ).collect(),
        ),
        key=repr,
    )

    stream = (
        spark.readStream.schema("user_id string, value double, ts timestamp")
        .format("parquet")
        .load(src)
    )
    local = bucketed_session_stream(
        stream,
        "user_id",
        "ts",
        gap="30 minutes",
        watermark="2 hours",
        aggs=[
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("sum_value"),
        ],
    )
    q = (
        local.writeStream.format("memory")
        .queryName("bkt_sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(
            tuple,
            agg.stitch_sessions(
                spark.table("bkt_sess_out"),
                "user_id",
                "__day",
                gap="30 minutes",
                sum_cols=["n_events", "sum_value"],
            )
            .select(
                "user_id", "session_start", "session_end", "n_events",
                "sum_value",
            )
            .collect(),
        ),
        key=repr,
    )
    assert got == want


def test_stitch_sessions_rejects_temp_collisions(spark):
    import datetime as dt

    import pytest as pt

    df = spark.createDataFrame(
        [("u1", dt.date(2024, 1, 1), dt.datetime(2024, 1, 1),
          dt.datetime(2024, 1, 1, 0, 30), 1)],
        "user_id string, __day date, session_start timestamp, "
        "session_end timestamp, __chain long",
    )
    with pt.raises(ValueError, match="__chain"):
        agg.stitch_sessions(df, "user_id", "__day")


def test_complete_parquet_drain_matches_memory_sink(spark, tmp_path):
    """r12: the executor-side complete-mode drain
    (run_available_now_parquet, complete mode) must leave exactly the final
    complete result in the directory — across MULTIPLE micro-batches
    (each foreachBatch overwrite replaces the previous), since the
    entry-query swap away from the memory sink exists precisely because
    the driver-side collect aborted at gen-sf10 (maxResultSize)."""
    from e_commerce_data_lakehouse_spark.streaming.pipeline import (
        run_available_now_parquet,
    )

    rows = [
        ("u1", "2024-01-01 10:00:00"),
        ("u1", "2024-01-01 10:10:00"),
        ("u1", "2024-01-01 11:00:00"),
        ("u2", "2024-01-01 09:00:00"),
        ("u2", "2024-01-01 09:20:00"),
    ]
    src = str(tmp_path / "src")
    batch_df = (
        spark.createDataFrame(rows, ["user_id", "ts_raw"])
        .withColumn("ts", F.col("ts_raw").cast("timestamp"))
        .drop("ts_raw")
    )
    # two files + maxFilesPerTrigger=1 forces >=2 micro-batches, so the
    # test exercises overwrite-replaces-overwrite, not just one batch
    batch_df.limit(2).coalesce(1).write.mode("append").parquet(src)
    batch_df.subtract(batch_df.limit(2)).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    want = sorted(
        map(
            tuple,
            agg.sessionize(
                batch_df, "user_id", "ts", gap="30 minutes"
            ).collect(),
        ),
        key=repr,
    )

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .withWatermark("ts", "1 hour")
    )
    drained = run_available_now_parquet(
        agg.sessionize(stream, "user_id", "ts", gap="30 minutes"),
        str(tmp_path / "sink"),
        output_mode="complete",
    )
    got = sorted(map(tuple, drained.collect()), key=repr)
    assert got == want
