"""``tools/measure.py``: one timed noop run, and the jobs and stages it
ran read in-process from the status store (the UI stays disabled)."""

from __future__ import annotations

import pytest

from tools.measure import Meter


def test_measure_reads_the_runs_jobs_and_stages(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    meter = Meter(spark)
    sc = spark.sparkContext

    def build():
        return (
            spark.range(0, 20000, numPartitions=8)
            .selectExpr("id % 13 AS k")
            .groupBy("k")
            .count()
        )

    sc.setJobGroup("measure_run", "measured run")
    try:
        run = meter.measure(build)
    finally:
        sc.setJobGroup("", "")
    ids = sc.statusTracker().getJobIdsForGroup("measure_run")
    assert ids and sorted(j.id for j in run.jobs) == sorted(ids)

    rec = run.record()
    assert rec["jobs"] == len(ids)
    assert 0 < rec["job_s"] <= round(run.seconds, 3)
    assert rec["job_s"] + rec["gap_s"] == pytest.approx(
        round(run.seconds, 3), abs=1e-9
    )

    stages = meter.stages(run)
    assert len(stages) == rec["stages"] > 0
    for s in stages:
        assert s.task_ms is not None
        median, top = s.task_ms
        assert 0 <= median <= top
