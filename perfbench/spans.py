"""Spans around the calls into each engine layer, plus Spark job records.

The tracer wraps the engine's layer entry points from the outside (the
engine itself is not modified): ``ManagedTable`` and ``FileLedger``
methods, ``read_csv``, and every task function handed to a scheduler
``Dag``.  Workloads add their own spans around each query build and
write.  Spans are kept in memory and written out once, at the end.

The scheduler runs each task on a worker thread while the caller waits
for it, so at most one thread is inside a traced call at any time and
one shared span stack gives the right parents.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

TABLE_METHODS = (
    "read",
    "append",
    "append_once",
    "overwrite",
    "merge_scd1",
    "row_count",
)
LEDGER_METHODS = ("new_files", "mark_processed")


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark job timestamps
    end: float
    parent: int | None
    op: int
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans while ``active``; ``op`` tags the current operation."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self.active = False
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        from e_commerce_data_lakehouse_spark.plans.scheduler import Dag
        from e_commerce_data_lakehouse_spark.sources import files
        from e_commerce_data_lakehouse_spark.sources.incremental import (
            FileLedger,
        )
        from e_commerce_data_lakehouse_spark.sources.sinks import (
            ManagedTable,
        )

        for m in TABLE_METHODS:
            self._wrap(ManagedTable, m, f"sources.ManagedTable.{m}")
        for m in LEDGER_METHODS:
            self._wrap(FileLedger, m, f"sources.FileLedger.{m}")
        # orders_dag imports read_csv from the module at call time
        self._wrap(files, "read_csv", "sources.read_csv")

        tracer = self
        orig_add = Dag.add

        @functools.wraps(orig_add)
        def add(dag, name, fn, *args, **kwargs):
            span_name = f"task:{dag.name}:{name}"

            def traced_fn():
                with tracer.span(span_name):
                    return fn()

            return orig_add(dag, name, traced_fn, *args, **kwargs)

        Dag.add = add
        self._restore.append((Dag, "add", orig_add))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_seconds(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: int
    shuffle_write_bytes: int
    spill_bytes: int


class SparkJobs:
    """Reads finished jobs from the Spark application's status store.

    Works with the UI disabled: the status store is fed by the listener
    bus either way.  Call :meth:`drain` before reading so every job-end
    event of the operation has been applied.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._store = self._sc.statusStore()
        self.drain()
        self.next_id = self._max_job_id() + 1

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _as_list(self, seq) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def _max_job_id(self) -> int:
        jobs = self._as_list(self._store.jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def _job(self, jid: int) -> Job | None:
        from py4j.protocol import Py4JJavaError

        try:
            jd = self._store.job(jid)
        except Py4JJavaError:
            return None
        sub, done = jd.submissionTime(), jd.completionTime()
        start = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        end = done.get().getTime() / 1000.0 if done.isDefined() else start
        group = jd.jobGroup().get() if jd.jobGroup().isDefined() else None
        stages = shuffle = spill = 0
        for sid in self._as_list(jd.stageIds()):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            stages += 1
            shuffle += sd.shuffleWriteBytes()
            spill += sd.diskBytesSpilled()
        return Job(jid, group, start, end, stages, shuffle, spill)

    def collect_new(self) -> list[Job]:
        """Every job submitted since the previous call."""
        self.drain()
        out = []
        while True:
            job = self._job(self.next_id)
            if job is None:
                break
            out.append(job)
            self.next_id += 1
        return out

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory
        return sum(
            b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()
        ) / 1000.0

    def storage_mb(self) -> float:
        """Memory plus disk held by persisted and checkpointed RDD blocks."""
        return sum(
            info.memSize() + info.diskSize()
            for info in self._sc.getRDDStorageInfo()
        ) / 1e6


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> None:
    """Attach each job to the innermost span open when it was submitted."""
    for job in jobs:
        best = None
        for s in spans:
            if s.start <= job.start <= s.end and (
                best is None or s.start >= best.start
            ):
                best = s
        if best is not None:
            best.jobs.append(job.id)

