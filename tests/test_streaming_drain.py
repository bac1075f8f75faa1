"""The one AvailableNow start path (``pipeline.drain_available_now``): a
first start sizes the stateful shuffle to ``defaultParallelism``, the
session's own ``spark.sql.shuffle.partitions`` is left as it was (also when
``start()`` raises), and a checkpoint written at another width resumes at
that width, exactly once.  A parquet drain in append mode leaves no
zero-row file behind."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable
from e_commerce_data_lakehouse_spark.streaming.pipeline import (
    drain_available_now,
    hourly_event_counts,
    run_available_now_append,
    run_available_now_parquet,
)
from e_commerce_data_lakehouse_spark.streaming.stateful import (
    streaming_dedup,
)

KEY = "spark.sql.shuffle.partitions"
SCHEMA = "event_id long, event_type string, value double, ts timestamp"


def _deliver(spark, path, rows):
    spark.createDataFrame(
        rows, "event_id long, event_type string, value double, t string"
    ).select(
        "event_id", "event_type", "value",
        F.col("t").cast("timestamp").alias("ts"),
    ).coalesce(1).write.mode("append").parquet(path)


def _stream(spark, path):
    return spark.readStream.schema(SCHEMA).format("parquet").load(path)


def _state_partitions(checkpoint_dir):
    return sorted(
        int(d) for d in os.listdir(f"{checkpoint_dir}/state/0") if d.isdigit()
    )


@pytest.fixture()
def session_width(spark):
    """Run with the session's shuffle width at 3 (not defaultParallelism)
    and put the fixture session's value back afterwards."""
    old = spark.conf.get(KEY)
    spark.conf.set(KEY, "3")
    yield 3
    spark.conf.set(KEY, old)


def test_first_start_sizes_state_to_default_parallelism(
    spark, tmp_path, session_width
):
    src = str(tmp_path / "ev")
    _deliver(spark, src, [
        (i, f"t{i % 3}", float(i), f"2024-01-01 0{i % 6}:00:00")
        for i in range(40)
    ])
    ckpt = str(tmp_path / "ck")
    q = drain_available_now(
        hourly_event_counts(_stream(spark, src)), ckpt, "noop"
    )
    width = spark.sparkContext.defaultParallelism
    assert width != session_width
    widths = {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    }
    assert widths == {width}
    assert _state_partitions(ckpt) == list(range(width))
    assert spark.conf.get(KEY) == str(session_width)


def test_session_width_restored_when_start_raises(spark, tmp_path):
    src = str(tmp_path / "ev")
    _deliver(spark, src, [(1, "a", 1.0, "2024-01-01 00:00:00")])
    old = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "5")
        # complete mode without an aggregation fails inside start()
        with pytest.raises(AnalysisException, match="(?i)complete"):
            drain_available_now(
                _stream(spark, src), str(tmp_path / "ck1"), "noop",
                output_mode="complete",
            )
        assert spark.conf.get(KEY) == "5"
        # a session that never set the width keeps it unset
        spark.conf.unset(KEY)
        with pytest.raises(AnalysisException, match="(?i)complete"):
            drain_available_now(
                _stream(spark, src), str(tmp_path / "ck2"), "noop",
                output_mode="complete",
            )
        assert spark.conf.get(KEY, None) is None
    finally:
        spark.conf.set(KEY, old)


def test_checkpoint_written_at_another_width_resumes_exactly_once(
    spark, tmp_path
):
    """A checkpoint left by a plain ``start()`` at width 3 (what the
    engine wrote before the drain helper sized the state) resumes
    through the helper at width 3 with no duplicate and no lost row."""
    src = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ck")
    target = ManagedTable(spark, str(tmp_path / "tgt"))

    def dedup():
        return streaming_dedup(
            _stream(spark, src), ["event_id"], "ts", watermark="12 hours"
        )

    _deliver(spark, src, [
        (i, "view", float(i), f"2024-01-01 0{i % 8}:00:00")
        for i in range(20)
    ])
    old = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "3")
        (
            dedup().writeStream.foreachBatch(
                lambda b, i: target.append_once(b, f"b{i}")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set(KEY, old)
    assert _state_partitions(ckpt) == [0, 1, 2]

    # second delivery: ten new ids plus re-deliveries of ids 5 and 7
    _deliver(spark, src, [
        *[(100 + i, "buy", 1.0, f"2024-01-01 0{i % 8}:30:00")
          for i in range(10)],
        (5, "view", 5.0, "2024-01-01 05:00:00"),
        (7, "view", 7.0, "2024-01-01 07:00:00"),
    ])
    run_available_now_append(dedup(), ckpt, target)
    assert _state_partitions(ckpt) == [0, 1, 2]
    ids = [r.event_id for r in target.read().collect()]
    assert sorted(ids) == sorted([*range(20), *range(100, 110)])

    # nothing new: a third drain changes nothing
    run_available_now_append(dedup(), ckpt, target)
    assert target.read().count() == 30


def _row_counts(path):
    return [
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    ]


def test_windowed_append_drain_leaves_no_zero_row_file(spark, tmp_path):
    """The batch that only flushes the watermark writes no rows; its
    empty file is gone after the drain and the drained rows are the
    memory sink's rows."""
    src = str(tmp_path / "ev")
    _deliver(spark, src, [
        (i, f"t{i % 3}", float(i), f"2024-01-01 0{i % 8}:00:00")
        for i in range(48)
    ])
    drain = str(tmp_path / "drain")
    got = run_available_now_parquet(
        hourly_event_counts(_stream(spark, src)),
        drain,
        output_mode="append",
    )
    counts = _row_counts(drain)
    assert counts and 0 not in counts

    drain_available_now(
        hourly_event_counts(_stream(spark, src)),
        str(tmp_path / "ck_ref"),
        "memory",
        "append",
        query_name="append_drain_ref",
    )
    ref = spark.table("append_drain_ref")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
    assert got.count() == sum(counts) > 0


def test_all_empty_append_drain_returns_typed_empty_frame(spark, tmp_path):
    src = str(tmp_path / "ev")
    _deliver(spark, src, [(1, "a", 1.0, "2024-01-01 00:00:00")])
    result = hourly_event_counts(_stream(spark, src).filter("value < 0"))
    drain = str(tmp_path / "drain")
    got = run_available_now_parquet(result, drain, output_mode="append")
    assert _row_counts(drain) == []
    # the parquet reader relaxes nullability; names and types are kept
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in result.schema.fields
    ]
    assert got.count() == 0


def test_scratch_dirs_are_removed_at_interpreter_exit(tmp_path):
    """Drains, checkpoints and throwaway lakehouses get their directory
    from ``session.scratch_dir``: one root per process under TMPDIR,
    removed when the interpreter exits."""
    code = (
        "import os\n"
        "from e_commerce_data_lakehouse_spark.session import scratch_dir\n"
        "for prefix in ('drain_', 'ckpt_', 'dag_'):\n"
        "    d = scratch_dir(prefix)\n"
        "    open(os.path.join(d, 'part'), 'w').write('x')\n"
        "    print(d)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    made = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert len(made) == 3 and len({os.path.dirname(d) for d in made}) == 1
    assert all(d.startswith(str(tmp_path)) for d in made)
    assert os.listdir(tmp_path) == []
