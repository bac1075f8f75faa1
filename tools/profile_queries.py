"""Per-query job/stage profile: where does each headline query's time go?

Usage: python tools/profile_queries.py <query> [<query> ...] [--sf=DIR]

For each named query (default: the bench pair's slowest twelve), runs the
query cold + warm against the noop sink through ``bench.py``'s loop
(``tools/measure.py``) and prints per-run:

- wall seconds,
- the jobs the run submitted (duration, description, completed-stage
  count), their summed time and the scheduling gap between them,
- for the warm run, shuffle read/write bytes and task time of the five
  slowest stages.

This is the guide's §1 loop (empirical: find the slowest stage, decide
whether it is shuffle, compute, or scheduling) made scriptable.  Job and
stage figures come from the Spark status store in-process, so the UI
stays disabled.  Profiling only; bench.py remains the timing of record.
"""

from __future__ import annotations

import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e_commerce_data_lakehouse_spark import entry_queries as eq
from tools.measure import Meter, boot

DEFAULT = [
    "streaming_corpus_ingest",
    "global_dw_catalog",
    "robust_price_outliers",
    "part_pagerank",
    "rfm_segments",
    "incremental_dup_clusters",
    "corpus_gold_train_by_lang",
    "containment_dup_flags",
    "late_sole_supplier",
    "leakage_safe_split_counts",
    "dedup_keep_best",
    "dup_clusters_cc",
]


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        else:
            names.append(a)
    names = names or DEFAULT

    spark = boot("profile", sf_dir)
    meter = Meter(spark)
    for name in names:
        build = partial(eq.QUERIES[name].spark_fn, spark, sf_dir)
        for run, r in zip(("cold", "warm"), meter.runs(build, 2)):
            job_time = sum(j.end - j.start for j in r.jobs)
            print(
                f"{name} [{run}] wall={r.seconds:.3f}s jobs={len(r.jobs)} "
                f"job_time_sum={job_time:.3f}s "
                f"sched_gap={r.seconds - job_time:.3f}s"
            )
            for j in r.jobs:
                print(
                    f"    job {j.id:>5} {j.end - j.start:7.3f}s "
                    f"stages={j.stages} {meter.describe(j.id)[:90]}"
                )
        # shuffle and task time of the warm run's 5 slowest stages
        for s in sorted(meter.stages(r), key=lambda s: -s.run_s)[:5]:
            print(
                f"    stage {s.id:>5} runTime={s.run_s:7.2f}s tasks={s.tasks} "
                f"in={s.input_mb:8.1f}MB shufR={s.shuffle_read_mb:8.1f}MB "
                f"shufW={s.shuffle_write_mb:8.1f}MB  {s.name[:70]}"
            )
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
