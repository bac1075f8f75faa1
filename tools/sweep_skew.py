"""Proactive skew-robustness sweep (r9 VERDICT #8).

Runs the join/groupBy operator family against the deliberately skewed
tables from ``tools/gen_skew_data.py`` (one key = 20% of all rows) and
measures REAL per-task durations from Spark's status store: for every
stage a swept op executes, the max/median executorRunTime ratio.  The
pass bar is the verdict's: no task > ``--bar`` (default 8)× the median
task time of its stage — i.e. AQE's skew split, broadcast planning, map-
side partial aggregation, or explicit salting must be absorbing the hot
key.  Ops expected to straggle (the window keep-latest) are swept
anyway, labeled ``expect_skew``: the artifact shows the failure AND the
repaired sibling side by side.

Stage filter: ≥ 8 tasks and median run time ≥ 50 ms (tiny-stage jitter
is not skew evidence).  An op with no stage through the filter reads
``unmeasured`` and fails the exit code like ``skewed`` and ``unknown``
(:func:`row_status`).

Usage: python tools/sweep_skew.py [--skew-dir .scaledata/skew1]
           [--dim-dir .scaledata/sf1] [--out artifacts/sweep_skew.jsonl]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from e_commerce_data_lakehouse_spark.operators import (  # noqa: E402
    aggregates,
    dedup,
)
from e_commerce_data_lakehouse_spark.operators.joins import (  # noqa: E402
    salted_join,
)
from e_commerce_data_lakehouse_spark.session import scratch_dir  # noqa: E402
from e_commerce_data_lakehouse_spark.streaming.pipeline import (  # noqa: E402
    drain_available_now,
)
from tools.measure import Meter, boot  # noqa: E402


def _stage_ratios(stages: list) -> list[dict]:
    """max/median executorRunTime for every completed stage with >= 8
    tasks and median >= 50 ms."""
    out = []
    for st in stages:
        if st.tasks < 8:
            continue
        # a stage without a task summary is recorded visibly rather than
        # silently dropped — a straggler must not be reported ok by
        # omission
        if st.task_ms is None:
            out.append(
                {"stage": st.id, "tasks": st.tasks, "ratio": None,
                 "summary_error": True}
            )
            continue
        med, mx = st.task_ms
        if med < 50.0:
            continue
        out.append(
            {
                "stage": st.id,
                "tasks": st.tasks,
                "median_ms": round(med, 1),
                "max_ms": round(mx, 1),
                "ratio": round(mx / med, 2) if med else None,
            }
        )
    return out


def row_status(
    stages: list[dict], bar: float, expect_skew: bool
) -> tuple[str, float | None]:
    """An op's sweep status and its worst measured ratio, from the
    :func:`_stage_ratios` rows of the stages it ran.

    - ``skewed``: a measured stage is above ``bar`` and the op is not
      ``expect_skew`` — even when another stage's summary is missing,
      so a measured straggler never hides behind ``unknown``;
    - ``unknown``: a qualifying stage has no task summary, so it was
      not measured and must not read as in-bar by omission;
    - ``unmeasured``: no stage passed the filter, so there is nothing
      to judge (AQE coalesces small shuffles below 8 tasks);
    - ``ok`` otherwise.

    Every status but ``ok`` fails the sweep's exit code."""
    measured = [s["ratio"] for s in stages if s["ratio"] is not None]
    worst = max(measured) if measured else None
    if worst is not None and worst > bar and not expect_skew:
        return "skewed", worst
    if any(s.get("summary_error") for s in stages):
        return "unknown", worst
    if not stages:
        return "unmeasured", worst
    return "ok", worst


def _run_streaming_sessions(
    spark, skew_dir: str, bucketed: bool = False
) -> None:
    """Watermarked streaming session_window over the skew events (the
    registered ``streaming_user_sessions`` shape), drained via
    AvailableNow into a noop sink.  Returns None — the op executes its
    own query (the OPS loop writes DataFrame-returning builds itself).
    ``bucketed=True`` runs the day-bucketed grouping key instead (the
    ``streaming_user_sessions_bucketed`` streaming stage, r11 VERDICT
    #2) — the hot key's merge state splits across day partitions."""
    # schema from the batch read of the SAME file — a string literal
    # here would silently yield NULL columns if the generator schema
    # drifted, and the sweep would measure near-empty sessions
    # instead of failing (r11 ADVICE)
    schema = spark.read.parquet(f"{skew_dir}/events_skew.parquet").schema
    sdf = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events_skew.parquet")
        .load(skew_dir)
    )
    # watermarks require TIMESTAMP; the generator writes NTZ — with
    # the session pinned to UTC the instant equals the NTZ value
    # (same contract as streaming/pipeline.stream_events)
    sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    keys = ["user_id"]
    if bucketed:
        keys.append(F.to_date("ts").alias("__day"))
    res = (
        sdf.withWatermark("ts", "2 hours")
        .groupBy(
            *keys, F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count("*").alias("n"))
    )
    drain_available_now(res, scratch_dir("skew_sessions_ckpt_"), "noop")


def main() -> None:
    ap = argparse.ArgumentParser()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap.add_argument("--skew-dir", default=f"{root}/.scaledata/skew1")
    ap.add_argument("--dim-dir", default=f"{root}/.scaledata/sf1")
    ap.add_argument("--out", default=f"{root}/artifacts/sweep_skew.jsonl")
    ap.add_argument("--bar", type=float, default=8.0)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated op names to sweep (default: all)",
    )
    args = ap.parse_args()

    spark = boot("skew_sweep", args.skew_dir)
    meter = Meter(spark)

    events = spark.read.parquet(f"{args.skew_dir}/events_skew.parquet")
    orders = spark.read.parquet(f"{args.skew_dir}/orders_skew.parquet")
    customer = spark.read.parquet(f"{args.dim_dir}/customer.parquet")

    smj_customer = customer.hint("merge")  # force sort-merge (no broadcast)

    OPS = [
        # name, build-fn, expect_skew (straggler by construction — kept in
        # the sweep so the artifact shows the bite next to the repair)
        (
            "groupby_user_agg",
            lambda: events.groupBy("user_id").agg(
                F.count("*").alias("n"), F.sum("value").alias("v")
            ),
            False,  # partial agg combines the hot key map-side
        ),
        (
            "groupby_type_distinct_users",
            lambda: events.groupBy("event_type").agg(
                F.countDistinct("user_id").alias("u")
            ),
            False,  # two-phase expansion on (type, user)
        ),
        (
            "keep_latest_window",
            lambda: dedup.keep_latest(
                events, ["user_id"], "ts", ["event_id"]
            ),
            True,  # per-key window: hot key sorts in ONE task
        ),
        (
            "keep_latest_agg",
            lambda: dedup.keep_latest_agg(
                events, ["user_id"], "ts", ["event_id"]
            ),
            False,  # the skew-robust repair (map-side max(struct))
        ),
        (
            "join_smj_orders_customer",
            lambda: orders.join(
                smj_customer, orders.o_custkey == smj_customer.c_custkey
            ).select("o_orderkey", "o_totalprice", "c_mktsegment"),
            False,  # AQE skewJoin must split the hot partition
        ),
        (
            "join_broadcast_orders_customer",
            lambda: orders.join(
                F.broadcast(customer),
                orders.o_custkey == customer.c_custkey,
            ).select("o_orderkey", "o_totalprice", "c_mktsegment"),
            False,  # broadcast: no shuffle on the hot key at all
        ),
        (
            "join_salted_orders_customer",
            lambda: salted_join(
                orders,
                customer.withColumnRenamed("c_custkey", "o_custkey"),
                ["o_custkey"],
                n_salts=16,
            ).select("o_orderkey", "o_totalprice", "c_mktsegment"),
            False,  # explicit salting (the beyond-AQE defense)
        ),
        (
            "hot_filter_topn",
            lambda: events.filter(F.col("event_type") == "view")
            .groupBy("user_id")
            .agg(F.sum("value").alias("v"))
            .orderBy(F.desc("v"))
            .limit(100),
            False,
        ),
        (
            "session_window_hot_user",
            lambda: events.groupBy(
                "user_id", F.session_window("ts", "30 minutes")
            ).agg(F.count("*").alias("n")),
            True,  # per-key merging sort: the hot user's rows land in one
            # task (measured 3.9x at skew10 — under the bar HERE, but the
            # ratio grows with data; tracked so the trend is visible)
        ),
        (
            "seq_number_hot_user",
            lambda: events.withColumn(
                "rn",
                F.expr(
                    "row_number() OVER "
                    "(PARTITION BY user_id ORDER BY ts, event_id)"
                ),
            ).filter("rn <= 5"),
            True,  # same structural shape; scan-dominated at this scale
        ),
        (
            "seq_number_bucketed_hot_user",
            lambda: aggregates.sequence_number_bucketed(
                events, "user_id", "ts", tiebreakers=["event_id"],
                out_col="rn", bucket="1 day",
            ).filter("rn <= 5"),
            False,  # the seq_number repair: local row_number per (key,
            # 1-day bucket) + prefix-sum offsets — no task holds more
            # than one bucket of the hot key (r10 VERDICT ask #3)
        ),
        (
            "seq_number_hybrid_hot_user",
            lambda: aggregates.sequence_number_hybrid(
                events, "user_id", "ts", tiebreakers=["event_id"],
                out_col="rn", bucket="1 day", sample_fraction=0.01,
            ).filter("rn <= 5"),
            False,  # the r12 router (production thresholds): the planted
            # hot key exceeds the straggler criterion and takes the
            # bucketed path, every other key the plain window — measured
            # here so the routed form's flatness is a sweep row, not an
            # assertion (r11 VERDICT ask #7)
        ),
        (
            "silver_dedup_agg_stage",
            lambda: dedup.keep_latest_agg(
                events.filter(F.col("event_id").isNotNull()
                              & F.col("value").isNotNull()),
                ["user_id"], "ts", None,
            ),
            False,  # the swapped medallion bronze→silver dedup stage
            # shape (clean filter + keep_latest_agg, r11: pipeline now
            # runs the robust form, not just the exhibit query)
        ),
        (
            "session_bucketed_hot_user",
            lambda: aggregates.sessionize_bucketed(
                events,
                "user_id",
                "ts",
                gap="30 minutes",
                bucket="1 day",
                partial_aggs=[F.count("*").alias("n")],
                tiebreakers=["event_id"],
            ),
            False,  # the session_window repair: bucket-and-stitch splits
            # the hot key across day buckets (hash-proven sibling:
            # user_sessions_bucketed)
        ),
        (
            "streaming_user_sessions",
            lambda: _run_streaming_sessions(spark, args.skew_dir),
            True,  # the UNBUCKETED streaming shape, kept in the sweep so
            # the artifact shows the bite next to the repair: one
            # state-store partition merges the hot key's whole history
            # (5.21x at skew10 -> 15.31x at skew30, r11)
        ),
        (
            "streaming_user_sessions_bucketed",
            lambda: _run_streaming_sessions(
                spark, args.skew_dir, bucketed=True
            ),
            False,  # the repair (r11 VERDICT #2): day-bucketed grouping
            # key splits the hot key's session state across day
            # partitions; the batch edge-stitch downstream merges
            # cross-midnight sessions (hash-proven sibling:
            # streaming_user_sessions_bucketed)
        ),
    ]

    if args.only:
        wanted = set(args.only.split(","))
        unknown_ops = wanted - {n for n, _, _ in OPS}
        if unknown_ops:
            raise SystemExit(f"--only names not in OPS: {sorted(unknown_ops)}")
        OPS = [op for op in OPS if op[0] in wanted]

    rows, failed = [], []
    for name, build, expect_skew in OPS:
        # streaming ops return None: they execute themselves
        [run] = meter.runs(build)
        wall = round(run.seconds, 2)
        stages = _stage_ratios(meter.stages(run))
        status, worst = row_status(stages, args.bar, expect_skew)
        if status != "ok":
            failed.append(name)
        row = {
            "query": name,
            "skew_dir": os.path.basename(args.skew_dir.rstrip("/")),
            "wall_sec": wall,
            "worst_task_ratio": worst,
            "bar": args.bar,
            "expect_skew": expect_skew,
            "status": status,
            "stages": stages,
        }
        rows.append(row)
        print(json.dumps({k: row[k] for k in
                          ("query", "wall_sec", "worst_task_ratio",
                           "expect_skew", "status")}))

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    print(f"swept {len(rows)} ops, {len(failed)} not ok: {failed}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
