"""Oracle gate at generator scale (VERDICT r8 ask #3).

The gen-sf10 robustness sweep proves EXECUTION at 100x the
correctness-gate data, but its noop sink checks no ANSWERS.  This tool
closes the gap for the scale-sensitive exact families: it re-runs the
driver_sim hash compare (vanilla SparkSession vs the registered DuckDB
oracle SQL) at a generator scale point DuckDB can still chew (gen-sf1 =
100x the sf0.01 gate), for the query families whose r6-r8 defects were
all answer-threatening only at scale:

- ranking / global-cumsum arithmetic (int32 rank*1e6, BIGINT*100 micros),
- token-set similarity (prefix-filter losslessness under a real vocab),
- fixed-point LM / Gini / ABC / EWMA arithmetic (qlog2 mantissa class),
- graph fixpoints (pagerank rounds, k-core peeling),
- basket co-occurrence pair counting.

Quadratic ORACLES (the all-pairs fuzzy_name_matches SQL, the fixpoint
cluster oracles whose pair base is all-pairs jaccard) are skipped WITH A
REASON — the artifact is self-describing; every run row is
ok / fail / skip(reason).  A DuckDB watchdog interrupts oracles that
exceed --oracle-timeout, and results larger than --max-rows are skipped
rather than silently half-compared.

Usage:
  SPARK_DRIVER_MEMORY=16g python tools/oracle_gate.py \
      [--sf-dir .scaledata/sf1] [--out .scaledata/oracle_gen_sf1.jsonl] \
      [--queries n1 n2 ... | default scale-sensitive set] \
      [--oracle-timeout 900] [--max-rows 3000000]

Records append to ``--out``, by default under the gitignored
``.scaledata/``; a run meant for a committed artifact names its
``artifacts/...`` file with an explicit ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from driver_sim import compare, duck_views  # noqa: E402

# The scale-sensitive exact families (r6-r8 defect classes).  Entries
# are (name, skip_reason_or_None): a reason marks a query whose ORACLE
# is quadratic in DuckDB at this scale — the Spark side has its own
# sf10 sweep row; the oracle simply cannot replay 1e9+ pair operations.
SCALE_SENSITIVE: list[tuple[str, str | None]] = [
    # ranking / global cumsum / fixed-point shares
    ("rfm_segments", None),
    ("abc_revenue_classes", None),
    ("classifier_decile_lift", None),
    ("customer_global_spend_rank", None),
    ("order_value_gini", None),
    ("quality_topfrac_per_lang", None),
    ("event_type_share", None),
    # fixed-point arithmetic (qlog2 / EWMA / coherence / mixtures)
    ("ngram_lm_scores", None),
    ("ewma_daily_revenue", None),
    ("bigram_coherence_scores", None),
    ("source_mixture_weights", None),
    # token-set similarity (prefix-filter losslessness at a real vocab)
    ("near_dup_token_jaccard", None),
    ("containment_dup_flags", None),
    ("fuzzy_decontamination", None),
    (
        "fuzzy_name_matches_blocked",
        "oracle is the all-pairs blocked levenshtein: ~9e8 pair DPs in "
        "DuckDB at gen-sf1 (customer=150k, ~25 nations) — hours; Spark "
        "side is sf10-swept and hash-proven at sf0.01/0.1",
    ),
    ("dup_clusters_cc", None),  # recursive-CTE fixpoint: 150.7 s, feasible
    # graph fixpoints
    (
        "part_pagerank",
        "oracle is the 5-round UNROLLED rank-propagation CTE: at gen-sf1 "
        "(24M co-purchase edges) DuckDB materializes rank x edges joins "
        "per round and spilled >64 GB of temp before dying (measured, "
        "r9) — disk-infeasible in-sandbox; Spark side is sf10-swept "
        "(214 s, 240M edges) and hash-proven at sf0.01/0.1 + gen-sf0.1",
    ),
    ("copurchase_triangles", None),
    ("kcore_copurchase", None),
    # basket pair counting
    ("basket_association_rules", None),
    # GEMM covariance partials
    ("embedding_covariance", None),
]

# Additional reasoned skips applied only in --all mode: queries whose
# SPARK side is quadratic by contract/data at generator scale (their
# scale-path siblings are the gated forms; the exact forms are
# hash-proven at sf0.01/0.1).
ALL_MODE_SKIPS: dict[str, str] = {
    "fuzzy_name_matches": (
        "quadratic by contract on BOTH engines at gen-sf1 (~9e8 in-block "
        "banded levenshtein DPs); lossless sibling "
        "fuzzy_name_matches_blocked carries the family (same oracle SQL, "
        "hash-proven at sf0.01/0.1, sf10-swept)"
    ),
    "embedding_near_dup": (
        "output-quadratic BY DATA at generator scale (tight synthetic "
        "clusters; documented r8 sweep skip) — embedding_near_dup_lsh is "
        "the scale path and is gated rows-only here"
    ),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(ROOT, ".scaledata/sf1"))
    ap.add_argument(
        "--out", default=os.path.join(ROOT, ".scaledata/oracle_gen_sf1.jsonl")
    )
    ap.add_argument("--queries", nargs="+", default=None)
    ap.add_argument(
        "--all",
        action="store_true",
        help="gate the WHOLE registry (not just the scale-sensitive "
        "set); known-infeasible oracles keep their reasoned skips",
    )
    ap.add_argument("--oracle-timeout", type=float, default=900.0)
    ap.add_argument("--max-rows", type=int, default=3_000_000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("oracle-gate")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        # NOT part of the driver contract (driver_sim stays vanilla):
        # this tool runs the whole registry at 100x the gate data in one
        # JVM, and the pyspark default 1g heap is marginal there — the
        # r10 full gate OOM'd mid-registry in an ObjectHashAggregate
        # spill under concurrent host load with the default heap.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", "12g"),
        )
        .getOrCreate()
    )
    import __spark_entry__ as mod

    queries = mod.queries()
    oracles = mod.oracle_sql()

    con = duck_views(args.sf_dir)

    if args.queries:
        todo = [(n, None) for n in args.queries]
    elif args.all:
        reasons = dict(SCALE_SENSITIVE) | ALL_MODE_SKIPS
        todo = [(n, reasons.get(n)) for n in sorted(queries)]
    else:
        todo = SCALE_SENSITIVE
    # resumable like sweep_scale: rows already carrying a final status
    # for this sf_dir are not re-run
    done: set[str] = set()
    if os.path.exists(args.out):
        with open(args.out) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if rec.get("sf_dir") == args.sf_dir and rec.get(
                    "status"
                ) in ("ok", "fail", "skip"):
                    done.add(rec["q"])
    todo = [(n, r) for n, r in todo if n not in done]
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    out = open(args.out, "a")

    def emit(rec: dict) -> None:
        rec["sf_dir"] = args.sf_dir
        out.write(json.dumps(rec) + "\n")
        out.flush()

    n_ok = n_fail = n_skip = 0
    for name, skip_reason in todo:
        if skip_reason is not None:
            emit({"q": name, "status": "skip", "reason": skip_reason})
            n_skip += 1
            print(f"GATE SKIP {name}: {skip_reason[:80]}", flush=True)
            continue
        t0 = time.time()
        rec: dict = {"q": name}
        try:
            sdf = queries[name](spark, args.sf_dir)
            dtypes = sdf.dtypes
            # count BEFORE collect: an output-quadratic result must be
            # skipped without ever materializing on the driver
            n_rows = sdf.count()
            if n_rows > args.max_rows:
                rec.update(
                    status="skip",
                    spark_rows=n_rows,
                    spark_secs=round(time.time() - t0, 1),
                    reason=f"result {n_rows} rows > --max-rows "
                    f"{args.max_rows}: too large for an in-driver "
                    f"compare",
                )
                emit(rec)
                n_skip += 1
                print(f"GATE SKIP {name}: {n_rows} rows", flush=True)
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001 — gate records, not raises
            rec.update(
                status="fail",
                secs=round(time.time() - t0, 1),
                err=f"spark: {type(e).__name__}: {str(e)[:300]}",
            )
            emit(rec)
            n_fail += 1
            print(f"GATE FAIL {name} (spark)", flush=True)
            continue
        rec["spark_rows"] = len(srows)
        rec["spark_secs"] = round(time.time() - t0, 1)
        if name not in oracles or oracles[name] is None:
            rec.update(status="ok", check="rows-only")
            emit(rec)
            n_ok += 1
            print(f"GATE OK   {name} rows-only {len(srows)}", flush=True)
            continue
        t1 = time.time()
        finished = threading.Event()

        def watchdog() -> None:
            if not finished.wait(args.oracle_timeout):
                con.interrupt()

        th = threading.Thread(target=watchdog, daemon=True)
        th.start()
        try:
            problems = compare(dtypes, srows, con, oracles[name])
        except Exception as e:  # noqa: BLE001 — timeout or oracle error
            finished.set()
            interrupted = time.time() - t1 >= args.oracle_timeout - 1
            rec.update(
                status="skip" if interrupted else "fail",
                secs=round(time.time() - t1, 1),
                reason=(
                    f"oracle exceeded {args.oracle_timeout}s "
                    f"(interrupted)"
                )
                if interrupted
                else None,
                err=None
                if interrupted
                else f"oracle: {type(e).__name__}: {str(e)[:300]}",
            )
            emit(rec)
            if interrupted:
                n_skip += 1
                print(f"GATE SKIP {name}: oracle timeout", flush=True)
            else:
                n_fail += 1
                print(f"GATE FAIL {name} (oracle)", flush=True)
            continue
        finished.set()
        rec["oracle_secs"] = round(time.time() - t1, 1)
        if problems:
            rec.update(status="fail", err="; ".join(problems)[:500])
            emit(rec)
            n_fail += 1
            print(f"GATE FAIL {name}: {problems[0][:120]}", flush=True)
        else:
            rec.update(status="ok", check="hash-match")
            emit(rec)
            n_ok += 1
            print(
                f"GATE OK   {name} hash-match {len(srows)} rows "
                f"(spark {rec['spark_secs']}s, oracle {rec['oracle_secs']}s)",
                flush=True,
            )
    print(f"gate done: {n_ok} ok, {n_fail} fail, {n_skip} skip -> {args.out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
