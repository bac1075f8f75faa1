"""Scale-proof bench: measure how the dedup/ANN family scales with data.

Runs the seven queries VERDICT r3 named (the ones whose 100 TB story was
argued from plans, not measurements) over the deterministic scale series
produced by ``tools/gen_scale_data.py`` and records per-query warm
timings, output rows, and sf-to-sf scaling factors.

Methodology:
- Same generator at every scale point (gen-sf0.1 -> gen-sf3, 30x data),
  so a timing ratio is a pure data-scaling factor, not a
  distribution-shift artifact.  The driver's own sf0.1 dir is also run as
  a cross-check column (timings comparable => the generated data is not
  trivially easier).
- Warm timings (second run; cold also recorded): Janino codegen compile
  and Python-worker fork amortize to zero at scale and would otherwise
  dominate the small points.
- The timed loop is bench.py's (``tools/measure.py``): noop sink,
  clearCache() between queries.

A query "scales" if time grows <= ~linearly in rows (modulo the shuffle
log factor and the fixed per-job floor that dominates sub-second points).
Output: SCALE_BENCH.json at the repo root + a human table on stdout.

Usage: python tools/bench_scale.py [--sfs 0.1 0.3 1 3] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from e_commerce_data_lakehouse_spark import entry_queries as eq  # noqa: E402
from tools.measure import Meter, boot  # noqa: E402

# the relational/window/sessionization core (r4 extension): measured over
# the generator's TPC-H-ish star + event stream so the non-dedup half of
# the engine gets the same same-generator-both-ends scaling evidence
RELATIONAL_TARGETS = [
    "pricing_summary",
    "star_revenue_by_region",
    "user_sessions",
    "dedup_latest_events",
    "hourly_device_health",
    "operational_daily",
    "asof_purchase_view",
    "union_activity",
    "incremental_watermark",
    "monthly_summary",
    "scd2_customer_dim",
    "top_customers",
    "streaming_hourly_counts",
    "global_dw_catalog",
]

TARGETS = [
    "near_dup_minhash_lsh",
    "incremental_near_dup",
    "incremental_near_dup_stored",
    "dup_clusters_cc",
    "cc_over_lsh_pairs",
    "semantic_dedup",
    "ann_ivfpq_topk",
    "sequence_packing",
    "bloom_contamination",
    "span_dedup_c4",
    "winnowing_near_dup",
    "fuzzy_decontamination",
    "bpe_token_stats",
    "fuzzy_decon_fixed_bench",
    "bloom_fixed_bench",
]


def _cc_over_lsh_pairs(spark, sf_dir: str):
    """The at-scale dedup composition: connected components over
    MinHash-LSH pairs.  The registry's ``dup_clusters_cc`` keeps the
    blocked token-Jaccard pair source because that is what a DuckDB
    recursive CTE can replay — but blocked all-pairs verify is quadratic
    in block size, so above ~sf1 the honest scale measurement is CC fed
    by the banded-LSH pair generator (linear candidate volume at constant
    dup rate)."""
    from e_commerce_data_lakehouse_spark.operators import dedup as dd
    from e_commerce_data_lakehouse_spark.operators import graph as gr

    docs = eq.load(spark, sf_dir, "documents")["documents"]
    pairs = dd.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=8, shingle_n=12,
        verify_threshold=0.5,
    ).selectExpr("id_a", "id_b")
    return gr.cluster_members(pairs, "id_a", "id_b")


def _fixed_bench_sides(spark, sf_dir: str):
    """Corpus/benchmark split with a FIXED-SIZE benchmark (~50 docs at
    every sf): the registry's contamination queries carve the benchmark
    out of the corpus (doc_id % 97), so benchmark size — and with it true
    contamination volume — grows WITH the corpus and the series measures
    output growth, not engine scaling.  A real decontamination run has a
    fixed benchmark; these variants isolate the corpus axis."""
    from pyspark.sql import functions as F

    docs = eq.load(spark, sf_dir, "documents")["documents"]
    bench = docs.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 5000))
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return corpus, bench


def _fuzzy_decon_fixed_bench(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from e_commerce_data_lakehouse_spark.operators import dedup as dd

    corpus, bench = _fixed_bench_sides(spark, sf_dir)
    pairs = dd.token_jaccard_pairs_between(
        corpus.select("doc_id", "lang", "text"),
        bench.select("doc_id", "lang", "text"),
        "doc_id", "text", ["lang"], threshold=0.9,
    )
    return pairs.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_bench_near_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )


def _bloom_fixed_bench(spark, sf_dir: str):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    corpus, bench = _fixed_bench_sides(spark, sf_dir)
    return cp.bloom_confirmed_contamination(corpus, bench, n=4)


def _simhash_dedup_groups(spark, sf_dir: str):
    """The at-scale simhash composition: signature build + identical-
    simhash grouping (hamming-0 dedup) — one hash aggregate over the
    signatures, output bounded by document count.  The registry's
    ``near_dup_simhash`` materializes every hamming<=3 PAIR, which on the
    synthetic 30-word vocab is output-quadratic (long docs saturate to
    identical token sets -> one mega-bucket; the true pair count at
    gen-sf10 is ~10^10 — no engine materializes that).  Same reasoning as
    ``cc_over_lsh_pairs`` vs ``dup_clusters_cc``."""
    from pyspark.sql import functions as F

    from e_commerce_data_lakehouse_spark.operators import dedup as dd

    docs = eq.load(spark, sf_dir, "documents")["documents"]
    toks = dd.ensure_parallelism(docs).selectExpr(
        "doc_id AS __id",
        "explode(array_distinct(split("
        + dd.normalize_text_sql("text")
        + ", ' '))) AS __t",
    ).selectExpr("__id", "xxhash64(__t) AS __h")
    votes = toks.groupBy("__id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (__h & shiftleft(1L, {b})) != 0 "
                f"THEN 1 ELSE -1 END) AS v{b}"
            )
            for b in range(64)
        ]
    )
    sim_sql = "CAST(0 AS BIGINT)"
    for b in range(64):
        sim_sql = (
            f"({sim_sql} | CASE WHEN v{b} > 0 THEN shiftleft(1L, {b}) "
            "ELSE CAST(0 AS BIGINT) END)"
        )
    sh = votes.selectExpr("__id", f"{sim_sql} AS __sim")
    return sh.groupBy("__sim").agg(
        F.min("__id").alias("survivor_id"),
        F.count("*").cast("long").alias("group_size"),
    )


def _streaming_stateful_totals(spark, sf_dir: str):
    """Custom stateful streaming at scale: running per-user totals via
    Arrow ``applyInPandasWithState`` over the events file stream
    (AvailableNow drain).  Measures the GroupState path — per-key state
    sharded by the grouping key, Arrow-batched input — which the batch
    queries never exercise."""
    from e_commerce_data_lakehouse_spark.session import scratch_dir
    from e_commerce_data_lakehouse_spark.streaming import stateful as st
    from e_commerce_data_lakehouse_spark.streaming.pipeline import (
        run_available_now_parquet,
        stream_events,
    )

    eq.load(spark, sf_dir)  # session settings (UTC + nanosAsLong)
    schema = eq._events_stream_schema(spark, sf_dir)
    stream = stream_events(spark, sf_dir, schema, glob="events.parquet")
    totals = st.running_totals_per_key(stream, "user_id", "ts")
    # executor-side drain: no driver collect, no session-lifetime table
    return run_available_now_parquet(
        totals,
        scratch_dir("stateful_scale_"),
        output_mode="update",
    )


def _medallion_e2e(spark, sf_dir: str):
    """The reference's full production ETL (raw CSV drops → ledger bronze
    → watermark+dedup+MERGE silver → gold star → rollup → catalog) in a
    throwaway workdir.  Timing includes the raw-CSV export stage (the
    series wants a comparable total per point; bench.py separates it)."""
    import shutil
    import tempfile

    from e_commerce_data_lakehouse_spark.plans.medallion import (
        e2e_orders_pipeline,
    )

    workdir = tempfile.mkdtemp(prefix="medallion_scale_")
    try:
        _results, tables = e2e_orders_pipeline(spark, sf_dir, workdir)
        # the pipeline already materialized everything; hand run_point a
        # bounded frame that survives workdir cleanup
        rollup = tables["agg_daily"].read().localCheckpoint()
        return rollup
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


_INC_CC_STATE: dict = {}


def _incremental_cc_merge(spark, sf_dir: str):
    """The incremental-CC value proposition, isolated: given STORED corpus
    component labels and a new batch's LSH pairs (both eagerly
    checkpointed on first call — the state a daily build reads from its
    cluster store), time ONLY ``connected_components_incremental``'s
    contraction + relabel.  The warm number answers "what does folding a
    ~10% batch into yesterday's clusters cost vs re-walking the graph?"
    — compare against ``cc_over_lsh_pairs`` (the full recompute) at the
    same sf."""
    from pyspark.sql import functions as F

    from e_commerce_data_lakehouse_spark.operators import dedup as dd
    from e_commerce_data_lakehouse_spark.operators import graph as gr

    state = _INC_CC_STATE.get(sf_dir)
    if state is None:
        docs = eq.load(spark, sf_dir, "documents")["documents"]
        is_batch = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10)) == 0
        corpus = docs.filter(~is_batch)
        batch = docs.filter(is_batch)
        corpus_pairs = dd.minhash_lsh_pairs(
            corpus, "doc_id", "text", num_hashes=32, bands=8,
            shingle_n=12, verify_threshold=0.5,
        ).selectExpr("id_a", "id_b")
        stored = gr.connected_components(
            corpus_pairs, "id_a", "id_b"
        ).localCheckpoint()
        new_edges = dd.minhash_lsh_pairs_incremental(
            batch, corpus, "doc_id", "text", num_hashes=32, bands=8,
            shingle_n=12, verify_threshold=0.5, assume_disjoint_ids=True,
        ).selectExpr("id_a AS src", "id_b AS dst").localCheckpoint()
        state = _INC_CC_STATE[sf_dir] = (stored, new_edges)
    stored, new_edges = state
    return gr.connected_components_incremental(stored, new_edges)


SYNTHETIC = {
    "cc_over_lsh_pairs": _cc_over_lsh_pairs,
    "incremental_cc_merge": _incremental_cc_merge,
    "fuzzy_decon_fixed_bench": _fuzzy_decon_fixed_bench,
    "bloom_fixed_bench": _bloom_fixed_bench,
    "medallion_e2e": _medallion_e2e,
    "simhash_dedup_groups": _simhash_dedup_groups,
    "streaming_stateful_totals": _streaming_stateful_totals,
}


def run_point(meter, sf_dir: str, runs: int, targets: list[str]) -> dict:
    spark = meter.spark
    out = {}
    for name in targets:
        fn = SYNTHETIC.get(name) or eq.QUERIES[name].spark_fn
        timings = [
            round(r.seconds, 3)
            for r in meter.runs(partial(fn, spark, sf_dir), runs)
        ]
        # row count outside the timed loop (second job over the same plan)
        rows = fn(spark, sf_dir).count()
        out[name] = {"warm": timings[-1], "cold": timings[0], "rows": rows}
        print(f"  {name}: warm {timings[-1]:.2f}s rows {rows}", flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sfs", nargs="+", type=float, default=[0.1, 0.3, 1, 3])
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--gen-root", default=os.path.join(ROOT, ".scaledata"))
    ap.add_argument("--driver-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--no-driver", action="store_true")
    ap.add_argument(
        "--queries",
        nargs="+",
        default=TARGETS,
        help="query names, or the literal 'relational' for the "
        "star/window/sessionization target set",
    )
    args = ap.parse_args()
    if args.queries == ["relational"]:
        args.queries = RELATIONAL_TARGETS

    spark = boot("bench_scale")
    meter = Meter(spark)

    # merge into an existing record so points can run as separate
    # invocations (bounded wall-clock each) and accumulate
    out_path = os.path.join(ROOT, "SCALE_BENCH.json")
    points: dict[str, dict] = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            points = json.load(f).get("points", {})

    def record(label: str, d: str) -> None:
        print(f"== {label} ({d})", flush=True)
        got = run_point(meter, d, args.runs, args.queries)
        points.setdefault(label, {}).update(got)
        with open(out_path, "w") as f:
            json.dump({"metric": "scale_series", "points": points}, f, indent=1)

    if not args.no_driver and args.driver_dir and os.path.isdir(args.driver_dir):
        record("driver_sf0.1", args.driver_dir)
    for sf in args.sfs:
        d = os.path.join(args.gen_root, f"sf{sf:g}")
        if not os.path.isdir(d):
            raise SystemExit(f"missing {d}; run tools/gen_scale_data.py {sf:g}")
        record(f"gen_sf{sf:g}", d)

    # ratios per query over the widest gen-sf span where both ends exist
    have = sorted(
        float(k[len("gen_sf"):]) for k in points if k.startswith("gen_sf")
    )
    summary = {"metric": "scale_series", "points": points}
    if len(have) >= 2:
        ratios = {}
        qs = {q for k in points if k.startswith("gen_sf") for q in points[k]}
        for q in sorted(qs):
            at = [s for s in have if q in points[f"gen_sf{s:g}"]]
            if len(at) < 2:
                continue
            lo, hi = f"gen_sf{at[0]:g}", f"gen_sf{at[-1]:g}"
            ratios[q] = {
                "data_x": round(at[-1] / at[0], 2),
                "time_x": round(
                    points[hi][q]["warm"] / max(points[lo][q]["warm"], 1e-9), 2
                ),
                "rows_x": round(
                    points[hi][q]["rows"] / max(points[lo][q]["rows"], 1), 2
                ),
                "span": [lo, hi],
            }
        summary["scaling"] = ratios
        summary["note"] = (
            "time_x <= data_x (modulo shuffle log factor and the fixed "
            "per-job floor that dominates sub-second points) = scales; "
            "rows_x >> data_x marks output-bound queries (the RESULT grows "
            "superlinearly, e.g. saturated token-set Jaccard on the tiny "
            "synthetic vocab). All points share one generator and one code "
            "vintage, so ratios are pure data-scaling factors."
        )
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)

    cols = list(points)
    known = TARGETS + RELATIONAL_TARGETS
    extra = sorted(
        {q for c in cols for q in points[c]} - set(known)
    )
    shown = [
        q for q in known + extra if any(q in points[c] for c in cols)
    ]
    print(f"\n{'query':<28}" + "".join(f"{c:>16}" for c in cols))
    for q in shown:
        line = f"{q:<28}"
        for c in cols:
            p = points[c].get(q)
            line += (
                f"{p['warm']:>9.2f}s r{p['rows']:<5}" if p else " " * 16
            )
        r = summary.get("scaling", {}).get(q)
        if r:
            line += f"  t{r['time_x']:.2f}x/d{r['data_x']:g}x"
        print(line)
    print("\nwrote SCALE_BENCH.json", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
