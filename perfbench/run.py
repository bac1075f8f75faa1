"""Lakehouse benchmark: write-path increments and an analyst query mix.

Usage (from the repository root)::

    python3 perfbench/run.py --workload increments --seed 1 \
        --seconds 20 --trace 0

Workloads (see ``workloads.py``): ``increments`` (an orders delivery and
a document batch per operation) and ``analyst_queries`` (one pass over a
query mix per operation).  One process, one client, closed loop, Spark
``local[4]``.  The run:

1. builds the seeded inputs (cached per seed under ``.perfbench/cache``);
2. boots the engine session and sets up a warm state (``setup_s``);
3. records host evidence (a fixed CPU loop, a fixed Spark aggregation,
   load1), then times operations for ``--seconds`` (whole operations:
   another one starts only if it is expected to fit, and at least one
   runs), checking every operation's output untimed, then records the
   host evidence again;
4. prints the end-to-end metrics (``--trace 0``) or the per-layer
   metrics (``--trace 1``) as the last line of stdout, after one
   ``perfbench-run`` line with the per-operation times and host evidence.

A traced run measures twice as long and traces every second operation;
the per-layer metrics come from the traced ones, and
``trace.overhead_s`` is the traced median minus the untraced median.
Spans and per-operation records are written to ``.perfbench/out``.

Every run works in its own directory under ``.perfbench/``, with
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's temporary directory
inside it, and removes it at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import asdict

import host
import inputs
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
JVM_HEAP = "3g"

MEDALLION_TASKS = ("bronze", "silver", "gold_star", "rollup", "catalog")
CORPUS_TASKS = (
    "ingest_bronze",
    "curate_silver",
    "decontaminate",
    "publish_gold",
    "catalog",
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point every temporary-file location of this process, the JVM and
    the Python workers into the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM (the launcher and Spark's own): temp dir inside the run, and no
    # hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def boot(run_dir: str):
    from e_commerce_data_lakehouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        parent[int(d)] = ppid
    out, frontier = [], {os.getpid()}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        out.extend(kids)
        frontier = kids
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - kill below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while any(alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in procs:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def checked(check, op: int) -> list[str]:
    """A check's problems; a check that raises is one more problem."""
    try:
        return check(op)
    except Exception as e:  # noqa: BLE001 - reported as a failed check
        return [f"check raised {type(e).__name__}: {e}"]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Times one workload's operations; traces every second one on request."""

    def __init__(self, args: argparse.Namespace, run_dir: str) -> None:
        self.tracer = spans.Tracer()
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        cls = workloads.WORKLOADS[args.workload]
        cache = inputs.cache_dir(
            os.path.join(ROOT, ".perfbench", "cache"), cls.name, args.seed
        )
        self.w = cls(work, cache, args.seed, self.tracer.span)
        self.job_records: list[dict] = []
        self.next_op = 0

    def measure(self, spark, seconds: float, trace: bool) -> list[dict]:
        """Time whole operations for ``seconds``; with ``trace``, every
        second operation runs traced, so both kinds see the same warmth."""
        w, tracer = self.w, self.tracer
        jobs = spans.SparkJobs(spark) if trace else None
        records = []
        t_start = time.perf_counter()
        while True:
            op = self.next_op
            self.next_op += 1
            traced = trace and len(records) % 2 == 1
            w.stage(op)
            rec: dict = {"op": op, "traced": traced}
            if traced:
                jobs.collect_new()  # drop jobs of earlier checks
                files0 = workloads.file_state(w.lakehouse)
                gc0 = jobs.gc_seconds()
                tracer.install()
                tracer.op, tracer.active = op, True
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                w.run(op)
                error = None
            except Exception as e:  # noqa: BLE001 - counted as failed
                error = f"{type(e).__name__}: {e}"
            rec["seconds"] = time.perf_counter() - t0
            rec["detail"] = dict(w.detail)
            if traced:
                tracer.active = False
                tracer.uninstall()
                rec["layers"] = self.layers(
                    op, wall0, rec["seconds"], jobs, gc0, files0
                )
            rec["rows"] = w.input_rows(op)
            rec["problems"] = [error] if error else checked(w.check, op)
            if not error:
                rec["stored_ratio"] = w.stored_ratio(op)
            records.append(rec)
            # start another operation only if one more of the same length
            # still fits in the window (a traced run needs a traced op)
            elapsed = time.perf_counter() - t_start
            if elapsed + elapsed / len(records) > seconds and (
                not trace or len(records) >= 2
            ):
                break
        return records

    def layers(self, op, wall0, seconds, jobs, gc0, files0) -> dict:
        """Per-layer figures of one traced operation.  Time inside a layer
        is given as its share of the operation's wall time: a workload
        that bypasses a layer reads 0 there, and shares of one operation
        do not move with the host's speed."""
        op_spans = self.tracer.op_spans(op)
        new_jobs = jobs.collect_new()
        spans.attribute_jobs(op_spans, new_jobs)
        out: dict[str, float] = {}

        def share(pred) -> float:
            return sum(s.seconds for s in op_spans if pred(s.name)) / seconds

        for t in MEDALLION_TASKS:
            out[f"medallion.{t}.share"] = share(
                lambda n, t=t: n == f"task:orders_lakehouse:{t}"
            )
        for t in CORPUS_TASKS:
            out[f"corpus.{t}.share"] = share(
                lambda n, t=t: n.startswith("task:corpus_incremental")
                and n.endswith(f":{t}")
            )
        # the operation's time outside any scheduler task body (DAG
        # construction, ordering, worker threads), where a DAG ran at all
        tasks = share(lambda n: n.startswith("task:"))
        out["scheduler.overhead.share"] = 1.0 - tasks if tasks else 0.0
        for cls, methods in (
            ("ManagedTable", spans.TABLE_METHODS),
            ("FileLedger", spans.LEDGER_METHODS),
        ):
            for m in methods:
                name = f"sources.{cls}.{m}"
                out[f"{name}.calls"] = sum(
                    1 for s in op_spans if s.name == name
                )
                out[f"{name}.share"] = share(lambda n, name=name: n == name)
        files1 = workloads.file_state(self.w.lakehouse)
        written = [p for p, st in files1.items() if files0.get(p) != st]
        out["sources.bytes_written_per_op"] = sum(files1[p][0] for p in written)
        out["sources.files_written_per_op"] = len(written)
        for q in workloads.MIX:
            out[f"query.{q}.share"] = share(
                lambda n, q=q: n.startswith(f"query:{q}:")
            )
        job_s = spans.union_seconds(
            [(j.start, j.end) for j in new_jobs], wall0, wall0 + seconds
        )
        out["spark.jobs"] = len(new_jobs)
        out["spark.stages"] = sum(j.stages for j in new_jobs)
        out["spark.job_s"] = job_s
        out["spark.gap_s"] = seconds - job_s
        out["spark.shuffle_mb"] = (
            sum(j.shuffle_write_bytes for j in new_jobs) / 1e6
        )
        out["spark.spill_mb"] = sum(j.spill_bytes for j in new_jobs) / 1e6
        out["jvm.gc_s"] = jobs.gc_seconds() - gc0
        out["executor.storage_mb"] = jobs.storage_mb()
        self.job_records.extend(dict(asdict(j), op=op) for j in new_jobs)
        return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    engine = os.path.join(ROOT, "e_commerce_data_lakehouse_spark", "__init__.py")
    gen = os.path.join(ROOT, "tools", "gen_scale_data.py")
    if not (os.path.isfile(engine) and os.path.isfile(gen)):
        print(f"perfbench: engine sources not found under {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    phases: dict[str, float] = {}  # seconds per phase of the run
    spark = None
    try:
        runner = Runner(args, run_dir)
        w = runner.w
        ticks0 = host.cpu_ticks()
        t = time.perf_counter()
        w.prepare()  # seeded inputs, untimed
        phases["prepare"] = time.perf_counter() - t
        t0 = time.perf_counter()
        spark = boot(run_dir)
        phases["boot"] = time.perf_counter() - t0
        w.setup(spark)
        setup_s = time.perf_counter() - t0
        t = time.perf_counter()
        w.after_setup()
        before = host.snapshot(spark)
        window = args.seconds * (2 if args.trace else 1)
        ops = runner.measure(spark, window, trace=bool(args.trace))
        after = host.snapshot(spark)
        final = checked(w.final_check, ops[-1]["op"])
        phases["measure_and_check"] = time.perf_counter() - t
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        peak_rss = host.vm_hwm_mb(jvm_pid) + host.vm_hwm_mb()
        steal = host.steal_fraction(ticks0, host.cpu_ticks())
        t = time.perf_counter()
        shutdown(spark)
        spark = None
        phases["shutdown"] = time.perf_counter() - t
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    ops[-1]["problems"] += final
    failed = sum(1 for r in ops if r["problems"])
    plain = [r for r in ops if not r["traced"]]
    traced = [r for r in ops if r["traced"]]
    host_ev = {
        "calib_cpu_s": [before["calib_cpu_s"], after["calib_cpu_s"]],
        "calib_spark_s": [before["calib_spark_s"], after["calib_spark_s"]],
        "load1": [before["load1"], after["load1"]],
        "steal_frac": steal,
        "nproc": os.cpu_count(),
    }
    if args.trace:
        metrics = {
            k: median([r["layers"][k] for r in traced])
            for k in traced[0]["layers"]
        }
        metrics["host.calib_cpu_s"] = statistics.mean(host_ev["calib_cpu_s"])
        metrics["host.calib_spark_s"] = statistics.mean(
            host_ev["calib_spark_s"]
        )
        metrics["host.load1"] = max(host_ev["load1"])
        metrics["host.steal_frac"] = steal
        metrics["mem.peak_rss_mb"] = peak_rss
        p50_traced = median([r["seconds"] for r in traced])
        metrics["trace.op_p50_s"] = p50_traced
        metrics["trace.overhead_s"] = p50_traced - median(
            [r["seconds"] for r in plain]
        )
    else:
        good = [r for r in plain if not r["problems"]]
        metrics = {
            "op_p50_s": median([r["seconds"] for r in plain]),
            "setup_s": setup_s,
            "rows_per_s": sum(r["rows"] for r in good)
            / max(sum(r["seconds"] for r in good), 1e-9),
            "stored_bytes_per_input_byte": median(
                [r["stored_ratio"] for r in good]
            ),
        }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(plain),
        "traced_ops": len(traced),
        "op_seconds": [round(r["seconds"], 3) for r in ops],
        "op_detail": [
            {k: round(v, 3) for k, v in r["detail"].items()} for r in ops
        ],
        "problems": [p for r in ops for p in r["problems"]],
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "peak_rss_mb": round(peak_rss, 1),
        "host": host_ev,
    }
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    with open(stem + ".json", "w") as f:
        json.dump(dict(summary, ops=ops, metrics=metrics), f)
    if args.trace:
        runner.tracer.dump(stem + "-spans.json")
        with open(stem + "-jobs.json", "w") as f:
            json.dump(runner.job_records, f)
    units = unit_table()
    print("perfbench-run " + json.dumps(summary, separators=(",", ":")))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            },
            separators=(",", ":"),
        )
    )
    return 0


def unit_table() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
