"""Structured Streaming variants of the reference's hand-rolled batch
incrementals (SURVEY §2.10).

The reference consumes Kafka with repeated bounded reads + ~120 LoC of manual
JSON offset checkpointing per job (T1, ``transactions_processor.py:27-116``)
and recomputes windowed aggregates over the whole history (T5).  The
idiomatic replacements:

- ``readStream`` + ``Trigger.AvailableNow`` + engine-managed
  ``checkpointLocation`` → exactly-once bounded ingestion;
- watermarked tumbling-window aggregation → incremental window state instead
  of full recompute.

Kafka itself isn't in the container, so tests drive these with the file
source (identical semantics: source → watermark → window agg → sink).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from e_commerce_data_lakehouse_spark.session import scratch_dir


def stream_events(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    ts_from_nanos: str | None = "ts",
    glob: str | None = None,
) -> DataFrame:
    """File-source stream over parquet events (stand-in for the Kafka
    source; swap ``.format('kafka')`` + value decode on a real cluster).

    ``path`` must be a directory (file-source requirement); use ``glob`` to
    select one table's files inside it.
    """
    reader = spark.readStream.schema(schema_ddl).format("parquet")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if ts_from_nanos:
        # Normalize to TimestampType (not NTZ): watermarks require TIMESTAMP;
        # with the session pinned to UTC the instant equals the NTZ value and
        # the final result casts back to NTZ for oracle comparison.  A bigint
        # column is epoch-nanos (TIMESTAMP(NANOS) parquet under nanosAsLong);
        # anything else is already a timestamp and only needs the cast.
        if dict(df.dtypes).get(ts_from_nanos) == "bigint":
            # integer division, NOT `/1000` double division: epoch-nanos
            # (~1.7e18) exceed double's 2^53 exact range, so the double path
            # can truncate 1 µs off — and the batch path (entry_queries.load)
            # uses exact `div`, so stream and batch must agree bit-for-bit.
            df = df.withColumn(
                ts_from_nanos,
                F.timestamp_micros(F.expr(f"`{ts_from_nanos}` div 1000")),
            )
        else:
            df = df.withColumn(
                ts_from_nanos, F.col(ts_from_nanos).cast("timestamp")
            )
    return df


def bucketed_session_stream(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    bucket_col: str = "__day",
    aggs: list | None = None,
) -> DataFrame:
    """The SKEW-ROBUST streaming sessionization stage (r11 VERDICT #2,
    the one measured past-bar scale shape: 15.31× max/median task at
    skew30): group by ``(key, to_date(ts), session_window(ts, gap))``
    instead of ``(key, session_window)``.

    The day bucket is a PLAIN derived column (``to_date``, not a second
    ``window()`` call — Spark's one-time-window restriction doesn't
    apply; probed in-sandbox, r12), so a hot key's session-window state
    splits across state-store partitions by day: the merge work per
    partition is bounded by the key's per-day activity, not its total
    history, and state for closed days is evicted by the watermark
    exactly as before.  The output is LOCAL (per-day) sessions; a
    downstream batch pass (:func:`operators.aggregates.stitch_sessions`)
    merges the ≤ 2 boundary sessions per (key, day) into global ones —
    the same two-pass shape as the batch ``sessionize_bucketed``.

    ``aggs`` must be SUM-combinable partials (the stitch sums them)."""
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            key_col,
            F.to_date(ts_col).alias(bucket_col),
            F.session_window(ts_col, gap).alias("__sw"),
        )
        .agg(*(aggs or [F.count("*").alias("n_events")]))
    )
    return out.select(
        key_col,
        bucket_col,
        F.col("__sw.start").alias("session_start"),
        F.col("__sw.end").alias("session_end"),
        *[c for c in out.columns if c not in (key_col, bucket_col, "__sw")],
    )


def hourly_event_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """T5 done right: watermarked tumbling window — state is bounded by the
    watermark horizon instead of recomputing all history each run."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("hw"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("hw.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def drain_available_now(
    result: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None] | str,
    output_mode: str = "append",
    query_name: str | None = None,
) -> StreamingQuery:
    """Start ``result`` under ``Trigger.AvailableNow`` with its
    checkpoint, wait until it has drained everything available, and
    return the terminated query.  ``sink`` is a ``foreachBatch``
    function or a sink format name (``"memory"``, ``"noop"``).

    Stateful width: AQE never re-plans a stateful streaming shuffle, so
    every micro-batch runs all ``spark.sql.shuffle.partitions``
    state-store partitions — each one a state load and commit — however
    little data the batch holds.  The width is pinned to
    ``defaultParallelism`` (the cores) for the ``start()`` call only and
    the session's own value is restored right after: the stream clones
    the session at ``start()`` and records the width in its offset log,
    so the caller's later work is untouched.  The width is fixed at a
    query's first start; a restart from an existing checkpoint keeps the
    width recorded there.  A ``foreachBatch`` sink's batch frame belongs
    to the cloned session, so batch work derived from it starts its
    (AQE-coalesced) shuffles at the same width."""
    writer = (
        result.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    writer = (
        writer.foreachBatch(sink) if callable(sink) else writer.format(sink)
    )
    if query_name is not None:
        writer = writer.queryName(query_name)
    spark = result.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        q = writer.start()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    q.awaitTermination()
    return q


def run_available_now_append(
    result: DataFrame, checkpoint_dir: str, target
) -> None:
    """Drain an APPEND-mode streaming aggregate into a real table sink
    (``ManagedTable`` — the parquet-snapshot Delta stand-in), exactly
    once per micro-batch via ``append_once`` txn markers.

    This is the PRODUCTION shape for watermark-closed session/window
    aggregates: append mode emits a window only after the watermark
    passes its end, so (a) sink rows are immutable — no complete-mode
    rewrite of the whole result per batch, and (b) driver/collect never
    sees the result set (the memory sink materializes the entire COMPLETE
    output on the driver, which caps the complete-mode oracle vehicle at
    ~sf3 — SCALING.md).  State is bounded by the watermark horizon;
    output volume per batch is just the newly-finalized windows.

    AvailableNow note: after the last data batch, the engine runs one
    more (empty) batch so windows finalized by the final watermark are
    flushed — the drained sink therefore holds every session whose end
    ≤ max(event time) − watermark delay, which is what the oracle
    checks."""
    drain_available_now(
        result,
        checkpoint_dir,
        lambda batch, batch_id: target.append_once(batch, f"b{batch_id}"),
    )


def run_available_now_parquet(
    result: DataFrame,
    path: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain a bounded stream into a parquet directory EXECUTOR-SIDE and
    return a batch DataFrame over it — the memory sink's exact row
    semantics (complete: each batch replaces the result; append/update:
    each batch's output rows accumulate) without either driver-side
    materialization or a session-lifetime in-memory table.

    Why not the memory sink (r12 VERDICT #1): ``format("memory")`` (a)
    collects every batch's output to the DRIVER (caps complete mode at
    driver heap / maxResultSize — the sf10 sweep hit it), and (b)
    registers a temp view backed by driver memory that
    ``spark.catalog.clearCache()`` does NOT drop, so a long-lived
    session running many streaming queries accumulates dead result
    tables for its whole life.  foreachBatch writes stay on the
    executors, the returned frame reads ordinary parquet, and nothing
    outlives the caller's temp directory.

    The checkpoint is this call's own: a fresh ``scratch_dir("ckpt_")``
    (the bounded replay is per-call), deleted after the drain, since
    keeping it would only leak disk across a many-query session.  In
    append/update mode the zero-row files are deleted too, once, after
    the drain: the batch AvailableNow runs after the data to flush the
    watermark usually emits nothing, yet its write leaves an empty file
    that every read of the drain would open.
    """
    import shutil

    checkpoint_dir = scratch_dir("ckpt_")
    mode = "overwrite" if output_mode == "complete" else "append"
    drain_available_now(
        result,
        checkpoint_dir,
        lambda batch, _id: batch.write.mode(mode).parquet(path),
        output_mode,
    )
    shutil.rmtree(checkpoint_dir, ignore_errors=True)
    if mode == "append":
        _delete_empty_parquet_files(path)
    # explicit schema: exact streaming result types (and a valid empty
    # frame even if no batch produced rows)
    return result.sparkSession.read.schema(result.schema).parquet(path)


def _delete_empty_parquet_files(path: str) -> None:
    """Remove every zero-row parquet file (and its checksum) in ``path``."""
    import glob
    import os

    import pyarrow.parquet as pq

    for f in glob.glob(os.path.join(path, "*.parquet")):
        if pq.read_metadata(f).num_rows == 0:
            os.remove(f)
            crc = os.path.join(path, f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)

