"""DAG scheduler contract (plans/scheduler.py): dependency order,
retries, timeout-with-job-group-cancel, failure propagation, and the
pure cron parser — the Airflow semantics of the reference's
``lakehouse_pipeline_dag.py`` (retries=1 / cmd_timeout /
schedule_interval), executable in-process."""

from __future__ import annotations

import time
from datetime import datetime

import pytest

from e_commerce_data_lakehouse_spark.plans.scheduler import (
    Dag,
    DagCycleError,
    cron_next,
)


def test_topological_order_is_deterministic_and_dep_correct():
    dag = Dag("t")
    log = []
    # registered intentionally out of order; b and c both depend on a,
    # d needs both
    dag.add("d", lambda: log.append("d"), deps=("b", "c"))
    dag.add("c", lambda: log.append("c"), deps=("a",))
    dag.add("b", lambda: log.append("b"), deps=("a",))
    dag.add("a", lambda: log.append("a"))
    assert dag.topo_order() == ["a", "b", "c", "d"]  # sorted ready set
    runs = dag.run()
    assert [r.status for r in runs] == ["success"] * 4
    assert log == ["a", "b", "c", "d"]


def test_cycle_and_unknown_dep_raise():
    dag = Dag("t")
    dag.add("a", lambda: None, deps=("b",))
    dag.add("b", lambda: None, deps=("a",))
    with pytest.raises(DagCycleError):
        dag.topo_order()
    dag2 = Dag("t2")
    dag2.add("a", lambda: None, deps=("nope",))
    with pytest.raises(ValueError, match="unknown"):
        dag2.topo_order()


def test_retries_then_success_and_failure_propagation():
    calls = {"flaky": 0, "never": 0}

    def flaky():
        calls["flaky"] += 1
        if calls["flaky"] < 3:
            raise RuntimeError("transient")
        return "ok"

    def always_fails():
        calls["never"] += 1
        raise RuntimeError("permanent")

    dag = Dag("t")
    dag.add("flaky", flaky, retries=2)
    dag.add("broken", always_fails, deps=("flaky",), retries=1)
    dag.add("downstream", lambda: "unreachable", deps=("broken",))
    dag.add("independent", lambda: "fine")
    runs = {r.name: r for r in dag.run()}
    assert runs["flaky"].status == "success"
    assert runs["flaky"].attempts == 3
    assert runs["flaky"].result == "ok"
    assert runs["broken"].status == "failed"
    assert runs["broken"].attempts == 2
    assert "permanent" in runs["broken"].error
    assert runs["downstream"].status == "upstream_failed"
    assert calls["never"] == 2  # retried exactly once
    assert runs["independent"].status == "success"  # not downstream of broken


def test_timeout_marks_task_and_runs_no_downstream():
    def slow():
        time.sleep(1.5)
        return "late"

    dag = Dag("t")
    dag.add("slow", slow, retries=0, timeout=0.2)
    dag.add("after", lambda: "x", deps=("slow",))
    runs = {r.name: r for r in dag.run()}
    assert runs["slow"].status == "timeout"
    assert "timeout" in runs["slow"].error
    assert runs["after"].status == "upstream_failed"


def test_timeout_cancels_spark_job_group(spark):
    """The watchdog must stop the CLUSTER-side work, not just abandon
    the thread: a deliberately huge aggregation with a 3 s timeout must
    return control promptly because the job group is cancelled (without
    the cancel, this action runs for minutes)."""

    def huge():
        # bit_xor never overflows (sum would ANSI-throw immediately and
        # the task would FAIL fast instead of timing out)
        return (
            spark.range(0, 1 << 40, 1, 64)
            .selectExpr("bit_xor(xxhash64(id)) s")
            .collect()
        )

    dag = Dag("t")
    dag.add("huge", huge, retries=0, timeout=3)
    t0 = time.monotonic()
    runs = dag.run(spark)
    assert runs[0].status == "timeout"
    assert time.monotonic() - t0 < 45  # cancel unwound, not a full run


def test_cron_next_pinned_cases():
    # reference DAG schedules: daily at 00:00 / 02:00 / 04:00
    assert cron_next("0 0 * * *", datetime(2024, 1, 1, 0, 0)) == datetime(
        2024, 1, 2, 0, 0
    )
    assert cron_next("0 2 * * *", datetime(2024, 1, 1, 1, 59)) == datetime(
        2024, 1, 1, 2, 0
    )
    # strictly-after: an exact hit moves to the next fire
    assert cron_next("30 4 * * *", datetime(2024, 1, 1, 4, 30)) == datetime(
        2024, 1, 2, 4, 30
    )
    # steps, ranges, lists
    assert cron_next("*/15 * * * *", datetime(2024, 1, 1, 10, 16)) == datetime(
        2024, 1, 1, 10, 30
    )
    assert cron_next("0 9-17 * * *", datetime(2024, 1, 1, 17, 30)) == datetime(
        2024, 1, 2, 9, 0
    )
    assert cron_next("5 0 1,15 * *", datetime(2024, 1, 2, 0, 0)) == datetime(
        2024, 1, 15, 0, 5
    )
    # day-of-week: 2024-01-01 is a Monday (cron dow 1); next Sunday (0)
    assert cron_next("0 12 * * 0", datetime(2024, 1, 1, 0, 0)) == datetime(
        2024, 1, 7, 12, 0
    )
    # dom OR dow when both restricted (standard cron quirk):
    # fires on the 3rd (a Wednesday? irrelevant — dom matches) AND on
    # every Monday; from Jan 1 (Mon) noon the next is Jan 3 not Jan 8
    assert cron_next("0 0 3 * 1", datetime(2024, 1, 1, 12, 0)) == datetime(
        2024, 1, 3, 0, 0
    )
    # month rollover + Feb 29 (leap)
    assert cron_next("0 0 29 2 *", datetime(2023, 3, 1, 0, 0)) == datetime(
        2024, 2, 29, 0, 0
    )
    with pytest.raises(ValueError):
        cron_next("60 * * * *", datetime(2024, 1, 1))
    with pytest.raises(ValueError):
        cron_next("* * * *", datetime(2024, 1, 1))


def test_cron_vixie_compat():
    """r8 ADVICE: dow 7 is the Sunday alias, and a bare value with a
    step means 'from that value to the field max' (Vixie), so a real
    Airflow schedule using either form ports without edits."""
    # dow 7 == Sunday: 2024-01-07 is a Sunday
    assert cron_next("0 12 * * 7", datetime(2024, 1, 1, 0, 0)) == datetime(
        2024, 1, 7, 12, 0
    )
    # '5-7' spans Fri, Sat, Sun-alias: from Thursday Jan 4, next is Fri
    assert cron_next("0 0 * * 5-7", datetime(2024, 1, 4, 12, 0)) == datetime(
        2024, 1, 5, 0, 0
    )
    # '5/15' == '5-59/15': after 00:06 the next fire is 00:20, not 01:05
    assert cron_next("5/15 * * * *", datetime(2024, 1, 1, 0, 6)) == datetime(
        2024, 1, 1, 0, 20
    )
    # hour '20/2' == '20-23/2'
    assert cron_next("0 20/2 * * *", datetime(2024, 1, 1, 20, 30)) == datetime(
        2024, 1, 1, 22, 0
    )
    # 8 is still out of range for dow
    with pytest.raises(ValueError):
        cron_next("* * * * 8", datetime(2024, 1, 1))


def test_stuck_attempt_does_not_block_later_tasks():
    """r8 ADVICE: a timed-out attempt whose thread never unwinds (a
    pure-Python sleep the job-group cancel cannot stop) must not queue
    later tasks behind it — they run on fresh executors — and the stuck
    task is abandoned without a racing retry."""
    t0 = time.monotonic()

    dag = Dag("t")

    def semi_stuck():
        time.sleep(2.0)  # outlives the 0.2s timeout, unwinds in grace

    dag.add("stuck", semi_stuck, retries=1, timeout=0.2)
    dag.add("independent", lambda: "ran")
    runs = {r.name: r for r in dag.run()}
    assert runs["stuck"].status == "timeout"
    assert runs["independent"].status == "success"
    # both attempts happened (thread unwound within grace => retry ran)
    assert runs["stuck"].attempts == 2
    assert time.monotonic() - t0 < 30
