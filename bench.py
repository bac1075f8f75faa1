"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(per-query sec), "sf"}.

Queries execute against the noop sink — full plan execution without
driver-side collect overhead, which is the honest measure of engine
throughput (collect would measure py4j serialization of result rows).

Each query runs twice and the SECOND run is reported: the first run pays
one-time costs that amortize to zero at scale (Janino whole-stage-codegen
compilation, Python-worker pool fork, broadcast build of static dims) and
that dominated run-to-run variance at sf0.1 (e.g. the MinHash pipeline:
~17 s cold vs ~3 s warm, entirely compile time).  Warm timings are the
per-query throughput signal; set SPARK_GRAFT_BENCH_COLD=1 to report
first-run timings instead.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from e_commerce_data_lakehouse_spark import entry_queries as eq
from tools.measure import Meter, boot, funnel_stats

HEADLINE = [
    "pricing_summary",
    "daily_revenue",
    "star_revenue_by_region",
    "top_customers",
    "dedup_latest_events",
    "hourly_device_health",
    "customer_360",
    "union_activity",
    "union_activity_bucketed",
    "operational_daily",
    "dim_date",
    "dedup_exact",
    "near_dup_token_jaccard",
    "near_dup_minhash_lsh",
    "near_dup_simhash",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "doc_text_stats",
    "multimodal_decode",
    "streaming_hourly_counts",
    "asof_purchase_view",
    "user_sessions",
    "user_sessions_window",
    "langid_predictions",
    "global_dw_catalog",
    "training_corpus_build",
    "shipping_priority_top10",
    "small_quantity_orders",
    "late_order_priority_counts",
    "cheapest_unit_price_lines",
    "inactive_customers_1998",
    "big_spender_customers",
    "customer_spend_quartiles",
    "revenue_mom_growth",
    "top_orders_per_month",
    "dataset_split_counts",
    "sequence_packing",
    "source_quota_sample",
    "pii_scrub_preview",
    "repetition_flags",
    "dup_ngram_flags",
    "benchmark_contamination",
    "bloom_contamination",
    "hard_negative_topk",
    "winnowing_near_dup",
    "curated_pretraining_set",
    "dup_clusters_cc",
    "dsir_importance_sample",
    "ann_ivfpq_topk",
    "multimodal_embed_topk",
    "semantic_dedup",
    "heavy_hitter_tokens",
    "incremental_near_dup",
    "incremental_near_dup_stored",
    "scd2_customer_dim",
    "funnel_view_click_purchase",
    "dedup_keep_best",
    "token_rarity_scores",
    "sketch_monthly_distinct_users",
    "span_dedup_c4",
    "bigram_coherence_scores",
    "bpe_token_stats",
    "fuzzy_decontamination",
    "quality_topfrac_per_lang",
    "containment_dup_flags",
    "quality_classifier_scores",
    "cross_source_dup_matrix",
    "token_budget_fill",
    "split_leakage_audit",
    "corpus_version_diff",
    "classifier_auc",
    "html_text_extraction",
    "url_canonical_hosts",
    "packing_efficiency",
    "snapshot_drift_histogram",
    "bin_packing_nextfit",
    "part_pagerank",
    "incremental_dup_clusters",
    "streaming_sketch_distinct",
    "ngram_lm_scores",
    "cms_trigram_frequencies",
    "copurchase_triangles",
    "weighted_doc_sample",
    "basket_association_rules",
    "robust_price_outliers",
    "hybrid_search_rrf",
    "gopher_quality_flags",
    "temperature_lang_mixture",
    "mmr_diversified_topk",
    "kcore_copurchase",
    "streaming_dedup_keys",
    "salted_brand_revenue",
    "rolling_active_users",
    "leakage_safe_split_counts",
    "winsorized_priority_prices",
    "order_percentiles",
    "order_percentiles_by_status",
    "classifier_decile_lift",
    "streaming_running_totals",
    "event_transition_matrix",
    "revenue_spike_flags",
    # round 6
    "late_sole_supplier",
    "rfm_segments",
    "ship_delay_business_days",
    "preference_pairs",
    "epoch_shuffle",
    "embedding_covariance",
    "streaming_user_sessions",
    "retrieval_eval_knn",
    "negative_part_samples",
    "quantile_norm_scores",
    "streaming_merge_upsert",
    "cohort_ltv_curves",
    "session_paths_topk",
    "dq_expectations_report",
    "customer_global_spend_rank",
    # round 10
    "multimodal_ppm_luminance",
    "multimodal_wav_stats",
    "streaming_corpus_ingest",
    "dedup_latest_events_agg",
    "corpus_gold_train_by_lang",
    "user_sessions_bucketed",
]


def _host_snapshot() -> dict:
    """1-min load average + live process count at a point in time, so a
    contaminated bench vintage is self-describing (r9 VERDICT #1: the
    1.27× warm drift sat in untouched code and could only be attributed
    to host contention by forensics — record the evidence up front)."""
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    try:
        nproc = sum(1 for d in os.listdir("/proc") if d.isdigit())
    except OSError:
        nproc = None
    return {"load1": load1, "nproc": nproc}


def _proc_snapshot() -> dict:
    """Driver-side memory/worker evidence sampled between queries (r12
    VERDICT #1: the 32-core driver vintage collapsed late in the run and
    nothing recorded whether driver heap / Python-worker pool / ambient
    load was the cause — sample it per query so the artifact adjudicates
    itself).  One /proc scan: JVM driver RSS, summed Python-worker RSS,
    live pyspark worker count, load1.  Runs OUTSIDE the timed region."""
    jvm_rss_kb = 0
    py_rss_kb = 0
    n_workers = 0
    try:
        pids = [d for d in os.listdir("/proc") if d.isdigit()]
    except OSError:
        pids = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        is_jvm = b"org.apache.spark" in cmd and b"java" in cmd.split(b"\0", 1)[0]
        is_pyworker = b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd
        if not (is_jvm or is_pyworker):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                rss_kb = 0
                for line in f:
                    if line.startswith("VmRSS:"):
                        rss_kb = int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
        if is_jvm:
            jvm_rss_kb += rss_kb
        else:
            py_rss_kb += rss_kb
            n_workers += 1
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    return {
        "load1": load1,
        "jvm_rss_mb": jvm_rss_kb // 1024,
        "py_rss_mb": py_rss_kb // 1024,
        "n_pyworkers": n_workers,
    }


def _wait_quiet(max_minutes: float, threshold: float = 2.0) -> dict:
    """Poll load1 until the host is quiet (< threshold) or the budget is
    spent — so a bench launched right after other work produces an
    ADJUDICABLE vintage instead of a self-flagged contaminated one (r11
    VERDICT #5: every driver-run BENCH_r{N}.json started hot).  Returns
    the wait evidence for the host record."""
    t0 = time.monotonic()
    while True:
        # measure elapsed FIRST: a quiet exit right after a sleep must
        # report the time actually waited, not the previous iteration's
        # (r12 review: the stale value under-reported by one interval)
        waited = time.monotonic() - t0
        try:
            load1 = os.getloadavg()[0]
        except OSError:
            return {"waited_sec": 0, "quiet": None}
        if load1 < threshold:
            return {"waited_sec": round(waited, 1), "quiet": True,
                    "load1": round(load1, 2)}
        if waited >= max_minutes * 60:
            return {"waited_sec": round(waited, 1), "quiet": False,
                    "load1": round(load1, 2)}
        time.sleep(10.0)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    # --wait-quiet[=minutes] / SPARK_GRAFT_WAIT_QUIET=minutes: ON by
    # default (5 min) so the driver's own artifact has a chance of being
    # adjudicable; 0 disables.  The wait happens BEFORE the start
    # snapshot — the snapshot then records the load the queries actually
    # ran under.
    wait_min = 5.0
    env_wait = os.environ.get("SPARK_GRAFT_WAIT_QUIET")
    if env_wait is not None:
        wait_min = float(env_wait)
    for a in sys.argv[1:]:
        if a == "--wait-quiet":
            wait_min = 5.0
        elif a.startswith("--wait-quiet="):
            wait_min = float(a.split("=", 1)[1])
    wait_evidence = (
        _wait_quiet(wait_min) if wait_min > 0 else {"waited_sec": 0,
                                                    "quiet": None}
    )
    host_start = _host_snapshot()
    spark = boot("bench", sf_dir)
    meter = Meter(spark)

    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD") == "1"
    timings: dict[str, float] = {}
    cold_timings: dict[str, float] = {}
    breakdown: dict[str, dict] = {}
    per_query_host: dict[str, dict] = {}
    for name in HEADLINE:
        # an independent job: what the previous query persisted is
        # dropped (leaked entries once cost unrelated queries 0.5-1 s)
        build = partial(eq.QUERIES[name].spark_fn, spark, sf_dir)
        runs = meter.runs(build, 1 if cold else 2)
        cold_timings[name] = round(runs[0].seconds, 3)
        timings[name] = round(runs[-1].seconds, 3)
        # read and sampled AFTER the timed runs — evidence, not overhead
        breakdown[name] = runs[-1].record()
        per_query_host[name] = _proc_snapshot()

    total = round(sum(timings.values()), 3)
    # The driver records only the LAST ~2000 chars of stdout (BENCH_r02's
    # "parsed": null came from a line that outgrew that window and lost its
    # head).  Keep the printed line compact — 2-decimal timings, no spaces
    # — and put the full record (cold timings, per-query deltas vs the
    # previous round) in BENCH_LOCAL_FULL.json next to this script.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        # achieved candidate-cut ratio of the minhash estimate funnel
        # (band-join candidates -> exact-verify input), measured, not
        # claimed — counted outside the timed runs
        "funnel": funnel_stats(spark, sf_dir),
        # end-to-end medallion ETL (raw CSV -> bronze -> silver -> gold ->
        # rollup -> catalog) at this sf, per-stage seconds — the reference's
        # production path, vs its 1800 s/stage Airflow budget (VERDICT r3 #6)
        "medallion": _medallion_stats(spark, sf_dir),
        "value_cold": round(sum(cold_timings.values()), 3),
        # host-contention evidence: 1-min load + process count at
        # start/end (+ cpu count); a vintage where load1 >> cpus at
        # either endpoint cannot adjudicate a regression
        "host": {
            "cpus": os.cpu_count(),
            # the ACTUAL parallelism the queries ran under, not the host
            # core count (r12 VERDICT #2: a run with SPARK_GRAFT_CPUS=8
            # still stamped "cpus": 32, so no A/B claim could prove its
            # own master) — additions-only, the harness contract holds
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get(
                "spark.sql.shuffle.partitions", None
            ),
            "start": host_start,
            "end": _host_snapshot(),
            "wait_quiet": wait_evidence,
        },
    }
    # flag a contaminated vintage at generation time, not at adjudication:
    # a 1-min START load average above 2.0 means other work already owned
    # the host when the run began, so the timings can't adjudicate a
    # regression (round-close convention: compare only clean-pair
    # vintages).  END load is recorded for forensics but not thresholded —
    # the bench's own local[32] run legitimately drives it to ~10.
    if host_start.get("load1") is not None and host_start["load1"] > 2.0:
        out["host"]["warning"] = (
            f"start load1 {host_start['load1']} (>2.0): contaminated "
            "vintage, timings not adjudicable"
        )
    full = dict(
        out,
        queries=timings,
        queries_cold=cold_timings,
        # the reported run's Spark jobs, completed stages, job time vs
        # the gap between jobs (job_s + gap_s = the query's seconds),
        # shuffle written and spill
        queries_spark=breakdown,
        # per-query host evidence (load1 / driver-JVM RSS / python-worker
        # pool) — the r12 late-run-collapse forensics, full record only
        per_query_host=per_query_host,
    )
    prev = _load_previous_round(timings)
    if prev:
        full["vs_previous"] = prev
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_LOCAL_FULL.json"), "w") as f:
            json.dump(full, f)
    except OSError:
        pass  # read-only checkout: the stdout line is the record
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # stay inside the driver's stdout-tail window
        out["queries"] = {
            k: round(v, 2)
            for k, v in sorted(timings.items(), key=lambda kv: -kv[1])[:40]
        }
        out["queries_truncated_see"] = "BENCH_LOCAL_FULL.json"
        line = json.dumps(out, separators=(",", ":"))
    print(line)
    spark.stop()


def _medallion_stats(spark, sf_dir: str) -> dict:
    """One timed end-to-end run of the orders medallion pipeline (the
    reference's production ETL path) in a throwaway workdir.  ``total`` is
    pipeline-only (raw-CSV re-export of the parquet testdata is setup, not
    ETL); ``stages`` holds the scheduler's seconds per DAG task
    (``raw_export`` included, for transparency)."""
    from e_commerce_data_lakehouse_spark.plans.medallion import (
        e2e_orders_pipeline,
    )
    from e_commerce_data_lakehouse_spark.session import scratch_dir

    spark.catalog.clearCache()
    runs, _ = e2e_orders_pipeline(spark, sf_dir, scratch_dir("medallion_"))
    stages = {r.name: round(r.seconds, 2) for r in runs}
    total = round(sum(r.seconds for r in runs if r.name != "raw_export"), 3)
    return {"total": total, "stages": stages}


def _load_previous_round(timings: dict[str, float]) -> dict | None:
    """Delta vs the newest BENCH_r{N}.json in the repo root, so regressions
    are visible in the bench output itself (warm-vs-warm, same metric)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    if not rounds:
        return None
    n, path = max(rounds)
    try:
        with open(path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    if "parsed" in prev:  # the driver wraps our JSON line under "parsed"
        prev = prev["parsed"] or {}
    prev_q = prev.get("queries", {})
    return {
        "round": n,
        "total_sec": prev.get("value"),
        "per_query_delta_sec": {
            k: round(v - prev_q[k], 3)
            for k, v in timings.items()
            if k in prev_q
        },
    }


if __name__ == "__main__":
    main()
