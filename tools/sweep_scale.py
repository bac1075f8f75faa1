"""One-pass robustness sweep of every registered query at a scale point.

A throw-hunt, not a timing run: execute each registry query end-to-end
into a noop sink at gen-sf10 (100x the driver's correctness-gate data)
and record ok/exception per query.  This is the harness that caught the
r6 scale-only defect classes the sf0.01 oracle gate cannot see:

- int32 rank/row_number overflowing a *1e6 ppm multiply (ANSI throw),
- BIGINT overflow on micros sums crossing 2^63 (ANSI throw),
- deserialized caches/checkpoints OOMing the heap near ~5e7 rows,
- complete-mode memory sinks materializing corpus-sized state.

Methodology notes:
- 32 GB driver heap (`SPARK_DRIVER_MEMORY=32g`) — the documented
  requirement for the graph family at sf10 (240M-edge pagerank).
- per-query isolation: `spark.catalog.clearCache()` +
  `caching.release_persisted()` + gc between queries, so one query's
  persists can't evict or OOM the next.
- RESUMABLE: every attempt appends a `start` line to the jsonl log
  before running and an `ok`/`exc` line after; a rerun skips anything
  with a final status.  If the JVM dies mid-query, the dangling `start`
  line names the killer — resume with `--skip <name>`.

Usage:
  SPARK_DRIVER_MEMORY=32g python tools/sweep_scale.py \
      [--sf-dir .scaledata/sf10] [--log .scaledata/sweep_sf10.jsonl] \
      [--skip name ...] [--only name ...] [--after name]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import traceback
from functools import partial

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from e_commerce_data_lakehouse_spark import entry_queries as eq  # noqa: E402
from e_commerce_data_lakehouse_spark.caching import (  # noqa: E402
    release_persisted,
)
from tools.measure import Meter, boot, funnel_stats  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(ROOT, ".scaledata/sf10"))
    ap.add_argument(
        "--log", default=os.path.join(ROOT, ".scaledata/sweep_sf10.jsonl")
    )
    ap.add_argument(
        "--skip",
        nargs="+",
        default=[],
        help="name=reason pairs; a reason is REQUIRED so the artifact of "
        "record is self-describing (r8 verdict hygiene ask)",
    )
    ap.add_argument("--only", nargs="+", default=None)
    ap.add_argument("--after", default=None)
    ap.add_argument(
        "--no-funnel",
        action="store_true",
        help="skip the per-run minhash band->verify funnel counters",
    )
    args = ap.parse_args()

    skips: dict[str, str] = {}
    for s in args.skip:
        if "=" not in s:
            ap.error(f"--skip {s!r}: use name=reason (reason is required)")
        n, r = s.split("=", 1)
        skips[n] = r

    done: set[str] = set()
    if os.path.exists(args.log):
        with open(args.log) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("status") in ("ok", "exc", "skip"):
                    done.add(rec["q"])

    names = sorted(eq.QUERIES)
    if args.only:
        names = [n for n in names if n in set(args.only)]
    if args.after:
        names = [n for n in names if n > args.after]

    spark = boot("sweep_scale")
    meter = Meter(spark)

    log = open(args.log, "a")

    def emit(rec: dict) -> None:
        log.write(json.dumps(rec) + "\n")
        log.flush()

    if not args.no_funnel:
        # candidate-explosion telemetry in the artifact of record: the
        # minhash band-join -> estimate-funnel -> exact-verify counters
        # at THIS sweep's scale point (same stats bench.py publishes at
        # sf0.1), so a blown-up candidate stage is visible in the jsonl
        # even when the query still finishes
        try:
            emit(
                {
                    "status": "funnel",
                    "sf_dir": args.sf_dir,
                    **funnel_stats(spark, args.sf_dir),
                }
            )
        except Exception as e:  # noqa: BLE001 — telemetry, not a gate
            emit({"status": "funnel", "err": f"{type(e).__name__}: {e}"})

    n_ok = n_exc = 0
    for name in names:
        if name in done:
            continue
        if name in skips:
            emit({"q": name, "status": "skip", "reason": skips[name]})
            continue
        emit({"q": name, "status": "start"})
        t = time.time()
        try:
            [run] = meter.runs(partial(eq.QUERIES[name].spark_fn, spark,
                                       args.sf_dir))
            emit({"q": name, "status": "ok", "secs": round(run.seconds, 1)})
            n_ok += 1
            print(f"SWEEP OK  {name} {run.seconds:.1f}s", flush=True)
        except Exception as e:  # noqa: BLE001 — throw-hunt: record and go on
            emit(
                {
                    "q": name,
                    "status": "exc",
                    "secs": round(time.time() - t, 1),
                    "err": f"{type(e).__name__}: {str(e)[:400]}",
                    "trace": traceback.format_exc()[-1500:],
                }
            )
            n_exc += 1
            print(f"SWEEP EXC {name}: {type(e).__name__}", flush=True)
        finally:
            try:
                spark.catalog.clearCache()
                release_persisted()
                gc.collect()
            except Exception:  # noqa: BLE001
                pass
    print(f"sweep done: {n_ok} ok, {n_exc} exc (log: {args.log})")


if __name__ == "__main__":
    main()
