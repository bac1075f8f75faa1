"""The one measurement loop of ``bench.py`` and the timing tools.

:func:`boot` starts the engine session and warms it; :meth:`Meter.measure`
times one build plus its noop-sink write (full plan execution, no driver
collect); the jobs a run submitted are read from the status store
in-process through ``perfbench.spans.SparkJobs`` (the UI stays disabled),
and :meth:`Meter.stages` adds per-stage detail from the same store.  Jobs
and stages are read after the timer stops, never inside a timed region.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from perfbench import spans

WARM_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
Build = Callable[[], DataFrame | None]


def boot(app_name: str, sf_dir: str | None = None) -> SparkSession:
    """The engine session with its one-time costs paid: codegen and
    parquet reader classes, the Arrow Python-worker fork, and each table
    footer under ``sf_dir``.  Nothing is cached, so a query's first run
    still pays its own plan compilation."""
    from pyspark.sql.functions import pandas_udf

    from e_commerce_data_lakehouse_spark.session import get_spark

    spark = get_spark(app_name=app_name)
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = pandas_udf(lambda s: s, "long")
    spark.range(32).repartition(32).select(warm("id")).collect()
    for t in WARM_TABLES if sf_dir else ():
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).limit(1).count()
    return spark


@dataclass
class Run:
    """One timed run and the Spark jobs it submitted."""

    seconds: float
    wall0: float  # epoch start, comparable with Spark job timestamps
    jobs: list[spans.Job]

    def record(self) -> dict:
        """Jobs, completed stages, time with a job running versus the gap
        between jobs (``job_s + gap_s`` = the run's seconds, 3 decimals),
        shuffle written and spill."""
        intervals = [(j.start, j.end) for j in self.jobs]
        end = self.wall0 + self.seconds
        job_s = round(spans.union_seconds(intervals, self.wall0, end), 3)
        return {
            "jobs": len(self.jobs),
            "stages": sum(j.stages for j in self.jobs),
            "job_s": job_s,
            "gap_s": round(round(self.seconds, 3) - job_s, 3),
            "shuffle_mb": _mb(j.shuffle_write_bytes for j in self.jobs),
            "spill_mb": _mb(j.spill_bytes for j in self.jobs),
        }


@dataclass
class Stage:
    """The last attempt of one completed stage."""

    id: int
    tasks: int
    run_s: float  # executor run time summed over tasks
    input_mb: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    name: str
    # (median, max) task run time in ms; None without a task summary
    task_ms: tuple[float, float] | None


def _mb(byte_counts) -> float:
    return round(sum(byte_counts) / 1e6, 3)


def _or(option, default):
    return option.get() if option.isDefined() else default


class Meter:
    """Timed noop-sink runs of query builds on one session."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._jobs = spans.SparkJobs(spark)
        self._store = self._jobs._store

    def measure(self, build: Build) -> Run:
        """Time ``build()`` plus the noop write of what it returns.  A
        build that returns None ran its own jobs (a streaming drain)."""
        self._jobs.collect_new()  # jobs of earlier work are not this run's
        wall0 = time.time()
        t0 = time.monotonic()
        df = build()
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        seconds = time.monotonic() - t0
        return Run(seconds, wall0, self._jobs.collect_new())

    def runs(self, build: Build, n: int = 1) -> list[Run]:
        """``n`` back-to-back runs of one query, after dropping what
        earlier queries persisted; the cache stays live between the runs,
        so a second run is a warm run."""
        self.spark.catalog.clearCache()
        return [self.measure(build) for _ in range(n)]

    def describe(self, job_id: int) -> str:
        """The job's description, else its call-site name."""
        jd = self._store.job(job_id)
        return _or(jd.description(), jd.name())

    def stages(self, run: Run) -> list[Stage]:
        """Every completed stage of the run's jobs, with task-time
        quantiles (skipped stages reused earlier output)."""
        sc = self.spark.sparkContext
        qs = sc._gateway.new_array(sc._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        ids = {
            sid
            for j in run.jobs
            for sid in self._jobs._as_list(self._store.job(j.id).stageIds())
        }
        out = []
        for sid in sorted(ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            summary = self._store.taskSummary(sid, sd.attemptId(), qs)
            rt = None
            if summary.isDefined():
                rt = summary.get().executorRunTime()
            out.append(
                Stage(
                    sid,
                    sd.numCompleteTasks(),
                    sd.executorRunTime() / 1000,
                    sd.inputBytes() / 1e6,
                    sd.shuffleReadBytes() / 1e6,
                    sd.shuffleWriteBytes() / 1e6,
                    _or(sd.description(), sd.name()),
                    (rt.apply(0), rt.apply(1)) if rt is not None else None,
                )
            )
        return out


def funnel_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Measured cut ratio of the MinHash estimate funnel on the documents
    table: band-join candidate pairs vs pairs that reach the exact verify
    UDF.  Counted outside any timed run."""
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        minhash_lsh_parts,
    )

    spark.catalog.clearCache()
    docs = eq.load(spark, sf_dir, "documents")["documents"]
    parts = minhash_lsh_parts(docs, "doc_id", "text")
    n_band = parts["band_candidates"].count()
    n_funneled = parts["funneled"].count()
    spark.catalog.clearCache()
    return {
        "band_candidates": n_band,
        "verify_input": n_funneled,
        "cut_ratio": round(n_band / n_funneled, 3) if n_funneled else None,
    }
