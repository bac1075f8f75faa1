"""Streaming sinks & stateful operators beyond built-in window aggs.

Three upgrades over the reference's batch-incremental scripts (SURVEY §2.10):

- :func:`foreach_batch_merge` — the exactly-once sink idiom: each micro-batch
  MERGEs into the target on its business key, so replays after failure
  collapse instead of duplicating (the reference is at-least-once: offsets
  saved after a blind append, ``transactions_processor.py:336-342``).
- :func:`streaming_dedup` — ``dropDuplicatesWithinWatermark``: cross-batch
  dedup with state bounded by the watermark horizon (the reference dedups
  only within a batch — SURVEY T4's noted semantic gap).
- :func:`running_totals_per_key` — a custom stateful operator via
  ``applyInPandasWithState`` (Arrow-batched GroupState): running per-key
  aggregates that built-in streaming aggs can't express incrementally with
  custom state transition logic.

Scale notes: state stores shard by grouping key across executors; watermarks
bound state size; all state transitions are Arrow-batched pandas, not
row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable
from e_commerce_data_lakehouse_spark.streaming.pipeline import (
    drain_available_now,
)


def foreach_batch_merge(
    stream: DataFrame,
    target: ManagedTable,
    keys: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
):
    """Exactly-once streaming upsert: every micro-batch is deduped within
    itself (keep-latest on ``order_col``) then MERGEd into ``target`` on
    ``keys``.  Checkpoint + idempotent MERGE = effective exactly-once even
    when a batch is replayed.  Drains everything available
    (:func:`~e_commerce_data_lakehouse_spark.streaming.pipeline.drain_available_now`)
    and returns the terminated query.

    With ``order_col`` the merge is *order-aware* (``merge_latest``): a
    micro-batch carrying a stale re-delivery cannot clobber a newer silver
    row, so the end state equals the batch keep-latest result regardless of
    micro-batch arrival order.
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import keep_latest

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if order_col is not None:
            batch = keep_latest(batch, keys, order_col)
            target.merge_latest(batch, keys, order_col)
        else:
            batch = batch.dropDuplicates(keys)
            target.merge_scd1(batch, keys)

    return drain_available_now(stream, checkpoint_dir, _merge)


def streaming_dedup(
    stream: DataFrame, keys: list[str], ts_col: str, watermark: str = "1 hour"
) -> DataFrame:
    """Cross-batch streaming dedup with bounded state: a key seen within the
    watermark horizon is dropped on re-arrival.  This is the streaming form
    of W1/T4 — the reference could re-emit duplicates across incremental
    runs; here the state store remembers keys until the watermark passes."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("events_total", LongType(), False),
        StructField("batch_events", LongType(), False),
    ]
)

_STATE_SCHEMA = StructType([StructField("total", LongType(), False)])


def running_totals_per_key(
    stream: DataFrame, key_col: str, watermark_col: str, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful op: cumulative event count per key across all
    micro-batches, via ``applyInPandasWithState``.

    The state transition (carry a running total forward) is not expressible
    as a built-in streaming agg in update mode with custom semantics; the
    GroupState API holds one small tuple per key, sharded across the
    cluster by the grouping key, with Arrow-batched input.
    """

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        (total,) = state.get if state.exists else (0,)
        total += n
        state.update((total,))
        yield pd.DataFrame(
            {"key": [str(key[0])], "events_total": [total], "batch_events": [n]}
        )

    return (
        stream.withWatermark(watermark_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
