"""Corpus medallion: the training-data half of the lakehouse lifecycle.

The reference's medallion chain curates TRANSACTIONS
(``Airflow Dags/lakehouse_pipeline_dag.py`` — raw → bronze → silver →
gold, one Airflow DAG of shell stages); this module runs the same
lifecycle over the DOCUMENT corpus, because at 100 TB the corpus is the
asset the pipeline exists to produce:

- **bronze** — raw ingest of every document, annotated once with the
  stateless per-row facts every later stage needs (quality score,
  normalized-content fingerprint, whitespace token count) so no
  downstream stage re-derives them from text;
- **silver_curated** — the benchmark set (``doc_id % 97 = 0``, the
  repo-wide held-out convention) is EXCLUDED, low-quality docs
  (< 0.5) are dropped, and exact near-copies collapse to the lowest
  doc_id per fingerprint (one shuffle on the high-cardinality fp key);
- **silver_clean** — benchmark decontamination: any curated doc sharing
  a distinct word 4-gram with a benchmark doc is removed
  (``corpus.ngram_overlap`` — gram equi-join, never doc×doc);
- **gold** — deterministic content-hash train/val/test split
  (``corpus.dataset_split`` — stable under re-runs and insertions) plus
  the stage CATALOG (per-stage doc and token counts), the table a
  corpus owner actually reads.

Stages run as a dependency DAG through :mod:`plans.scheduler` (retries,
timeouts, upstream-failed propagation — the in-process Airflow
contract), each materialized as a :class:`ManagedTable` snapshot so
every intermediate is time-travelable and re-runs are idempotent
overwrite commits.

Scale notes: every stage is one codegen scan + at most one shuffle on a
high-cardinality key (fp, gram, doc_id); the benchmark gram side is
~1/97 of the corpus, deduplicated before the broadcast join; the
catalog is built from six 1-row aggregates — no data rows ever reach
the driver.  The gold write IS laid out ``partitionBy(split, lang)``
(``GOLD_PARTITION``) so a training reader's ``split='train' AND
lang='en'`` filter prunes at the DIRECTORY level before any file is
opened; at 100 TB the ManagedTable snapshots swap for Delta/Iceberg
commits (SCALING.md §6).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.functions import text as tx
from e_commerce_data_lakehouse_spark.operators import corpus as cp
from e_commerce_data_lakehouse_spark.plans.medallion import StageResult
from e_commerce_data_lakehouse_spark.plans.scheduler import Dag
from e_commerce_data_lakehouse_spark.sources.sinks import (
    ManagedTable,
    release_checkpoint,
)
from e_commerce_data_lakehouse_spark.streaming.pipeline import (
    drain_available_now,
)

BENCH_MOD = 97  # doc_id % 97 == 0 -> held-out benchmark (repo convention)
# Gold's physical layout: training readers filter on (split, lang), so
# those are the hive-partition directories — partition pruning, no scan.
GOLD_PARTITION = ("split", "lang")
QUALITY_FLOOR = 0.5
DECON_NGRAM = 4  # word n-gram size (synthetic corpus: 4, prod default 8)


def _written(table: ManagedTable) -> StageResult:
    # row_count() = parquet-footer metadata (Delta: txn-log stats) — the
    # old read().count() launched a Spark job per stage just to report
    # the row count the storage layer already knows (guide §1.2: these
    # pipelines are JOB-COUNT bound — profiled 28-31 sequential jobs with
    # 1.7-2.3 s of pure scheduling gap per run)
    return StageResult(table.row_count())


# The batch stages and the incremental per-batch body share the three
# definitions below: the incremental path's claim to produce tables
# bit-identical to the batch rebuild rests on both using the same ones.
def _annotate(docs: DataFrame) -> DataFrame:
    """The bronze projection: the stateless per-row facts every later
    stage reads (quality score, normalized-content fingerprint,
    whitespace token count) — map-only codegen expressions."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        "text",
        tx.quality_score(text).alias("quality"),
        tx.fingerprint(text).alias("fp"),
        tx.whitespace_token_count(text).alias("n_tok"),
    )


def _benchmark(df: DataFrame) -> DataFrame:
    """The held-out benchmark docs (``doc_id % 97 = 0``)."""
    return df.filter(F.col("doc_id") % BENCH_MOD == 0)


def _curation_gate(df: DataFrame) -> DataFrame:
    """Hold out the benchmark and drop docs under the quality floor."""
    return df.filter(
        (F.col("doc_id") % BENCH_MOD != 0)
        & (F.col("quality") >= QUALITY_FLOOR)
    )


def _keep_min_doc(df: DataFrame) -> DataFrame:
    """Collapse exact near-copies to the LOWEST doc_id per fingerprint
    as ONE hash aggregate: ``min(struct(doc_id, rest...))`` picks the
    same row the old ``row_number() OVER (PARTITION BY fp ORDER BY
    doc_id) = 1`` window picked (doc_id is unique, so the struct's
    first field alone decides), but gets map-side partial aggregation —
    duplicate fingerprints collapse to their local winner BEFORE the
    shuffle, and the reduce side is a hash merge instead of a per-group
    sort (guide §2.3 "aggregate before you shuffle"; the same
    window→agg swap the orders medallion's dedup already runs).  The
    corpus schemas here are all orderable types (no maps), so the
    struct comparison is legal."""
    cols = df.columns
    rest = [c for c in cols if c not in ("fp", "doc_id")]
    return (
        df.groupBy("fp")
        .agg(F.min(F.struct("doc_id", *rest)).alias("__r"))
        .select(*[
            F.col(f"__r.{c}").alias(c) if c != "fp" else F.col("fp")
            for c in cols
        ])
    )


def ingest_bronze(docs: DataFrame, bronze: ManagedTable) -> StageResult:
    """Raw → bronze: annotate once (quality, fingerprint, token count) —
    stateless codegen expressions, map-only."""
    bronze.overwrite(_annotate(docs))
    return _written(bronze)


def curate_silver(
    bronze: ManagedTable, silver_curated: ManagedTable
) -> StageResult:
    """Bronze → silver_curated: hold out the benchmark, gate on quality,
    collapse exact near-copies to the lowest doc_id per fingerprint."""
    silver_curated.overwrite(_keep_min_doc(_curation_gate(bronze.read())))
    return _written(silver_curated)


def decontaminate_silver(
    bronze: ManagedTable,
    silver_curated: ManagedTable,
    silver_clean: ManagedTable,
) -> StageResult:
    """silver_curated → silver_clean: drop every doc sharing a distinct
    word 4-gram with the benchmark set (GPT-3 appendix-C shape via
    ``corpus.ngram_overlap`` — gram equi-join, then one anti join)."""
    bench = _benchmark(bronze.read())
    curated = silver_curated.read()
    contaminated = cp.ngram_overlap(curated, bench, n=DECON_NGRAM).select(
        "doc_id"
    )
    silver_clean.overwrite(curated.join(contaminated, "doc_id", "left_anti"))
    return _written(silver_clean)


def publish_gold(
    silver_clean: ManagedTable, gold: ManagedTable
) -> StageResult:
    """silver_clean → gold: deterministic content-hash split column,
    written ``partitionBy(split, lang)`` (the table is constructed with
    ``GOLD_PARTITION``) so downstream training readers prune to their
    split/language without touching the rest of the corpus."""
    gold.overwrite(
        cp.dataset_split(silver_clean.read(), "doc_id", val_pct=10,
                         test_pct=10)
    )
    return _written(gold)


def build_catalog(
    tables: dict[str, ManagedTable], catalog: ManagedTable
) -> StageResult:
    """Stage catalog: (stage, n_docs, n_tokens) — six 1-row aggregates
    (bounded), unioned and snapshotted; the corpus owner's dashboard."""

    def stat(stage: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
        )

    # ONE scan of gold for all three splits (bounded: <= 3 rows back);
    # empty splits still get their catalog row
    gold_stats = {
        r["split"]: (int(r["n_docs"]), int(r["n_tokens"]))
        for r in tables["gold"].read()
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
        )
        .collect()
    }
    spark = catalog.spark
    gold_rows = spark.createDataFrame(
        [
            (f"gold_{s}", *gold_stats.get(s, (0, 0)))
            for s in ("train", "val", "test")
        ],
        "stage string, n_docs long, n_tokens long",
    )
    out = (
        stat("bronze", tables["bronze"].read())
        .unionByName(stat("silver_curated", tables["silver_curated"].read()))
        .unionByName(stat("silver_clean", tables["silver_clean"].read()))
        .unionByName(gold_rows)
    )
    catalog.overwrite(out)
    return _written(catalog)


_CORPUS_TABLE_NAMES = (
    "bronze",
    "silver_curated",
    "silver_clean",
    "contaminated",
    "gold",
    "catalog",
)


def _corpus_tables(
    spark: SparkSession,
    workdir: str,
    names: tuple[str, ...] = _CORPUS_TABLE_NAMES,
) -> dict[str, ManagedTable]:
    """The ONE table constructor every path (batch, incremental,
    streaming) shares — gold always carries ``GOLD_PARTITION``, so a
    layout change can never drift between the batch build and the
    incremental/streaming maintenance whose convergence oracle assumes
    bit-identical tables."""
    return {
        name: ManagedTable(
            spark,
            os.path.join(workdir, name),
            partition_by=GOLD_PARTITION if name == "gold" else (),
        )
        for name in names
    }


def run_incremental(
    spark: SparkSession,
    workdir: str,
    batches: list[DataFrame],
    txn_ids: list[str] | None = None,
) -> tuple[list[list], dict[str, ManagedTable]]:
    """Incremental corpus curation: each batch flows through the same
    bronze→silver→gold lifecycle with O(delta) COMPUTE — the operating
    mode of a 100 TB pipeline, where re-curating the full corpus per
    arrival is not an option.

    Per batch (each stage a task in a per-batch scheduler DAG):

    - **ingest** — ``append_once`` with a batch transaction id: a
      re-delivered batch is a recorded no-op (exactly-once, the S12
      txn-marker machinery), and every downstream stage sees an empty
      delta;
    - **curate** — quality gate + benchmark holdout on the DELTA only;
      within-batch fp-dedup (keep lowest doc_id), then an anti-join
      against the STORED silver fingerprints (the
      ``incremental_near_dup_stored`` pattern: new data joins state,
      state is never rebuilt);
    - **decontaminate** — two delta-bounded gram joins: new curated
      docs × ALL benchmark grams, plus previously-stored curated docs ×
      grams of the NEWLY-ARRIVED benchmark docs (a new benchmark can
      retroactively contaminate an old doc — the union of the two is
      exactly the full-rebuild contaminated set).  Newly found ids
      append to a stored ``contaminated`` ledger; ``silver_clean`` is
      rewritten as one anti-join (at 100 TB: a Delta MERGE DELETE —
      compute stays delta-bounded, only the rewrite is O(table));
    - **gold/catalog** — stateless recompute over silver_clean.

    CONVERGENCE CONTRACT: when batches arrive in doc_id-monotone order
    (an append-only log with increasing ids — production ingest), the
    final tables are BIT-IDENTICAL to the single-batch
    :func:`corpus_dag` rebuild, because first-arrival-wins dedup
    coincides with keep-lowest-doc_id; the registered
    ``dag_corpus_pipeline_incremental`` query reuses the full-rebuild
    oracle VERBATIM, so the driver hash proves the incremental
    maintenance converges.  Out-of-order batches degrade gracefully to
    deterministic first-arrival-wins.

    Returns (per-batch TaskRun lists, tables).
    """
    tables = _corpus_tables(spark, workdir)
    if txn_ids is None:
        txn_ids = [f"batch_{i}" for i in range(len(batches))]
    all_runs: list[list] = []
    for i, batch in enumerate(batches):
        all_runs.append(
            ingest_corpus_batch(spark, tables, batch, txn_ids[i], label=str(i))
        )
    return all_runs, tables


def ingest_corpus_batch(
    spark: SparkSession,
    tables: dict[str, ManagedTable],
    batch: DataFrame,
    txn: str,
    label: str = "0",
) -> list:
    """One corpus delta through the incremental lifecycle (the per-batch
    body shared by :func:`run_incremental` and the streaming
    :func:`run_streaming` foreachBatch sink).  Exactly-once via
    ``append_once(txn)``: a re-delivered ``txn`` short-circuits every
    stage to a no-op.  Returns the batch's TaskRun list.

    The batch is annotated ONCE: one job checkpoints the annotated batch
    (eager ``localCheckpoint``) and counts it with ``DataFrame.observe``;
    the bronze append, ``curate_silver`` and ``decontaminate``'s
    new-benchmark side all read that checkpoint instead of re-running
    the annotation over the batch lineage.  Every checkpoint the batch
    makes (the annotated batch, the stored and new curated sets, the new
    contaminated ids) is released once the DAG has run."""
    state: dict[str, object] = {}

    def ingest() -> StageResult:
        # a re-delivered batch short-circuits the whole chain: no
        # annotation, stored-table reads, checkpoints or rewrites for an
        # empty delta (the O(delta) contract includes delta = 0), so the
        # marker is checked before anything runs
        if tables["bronze"].has_txn(txn):
            state["skip"] = True
            return StageResult(0)
        rows = Observation("corpus_batch")
        delta = (
            _annotate(batch)
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        state["skip"] = not tables["bronze"].append_once(delta, txn)
        state["delta"] = delta
        return StageResult(0 if state["skip"] else rows.get["n"])  # BATCH rows

    def unless_replayed(fn):
        return lambda: StageResult(0) if state["skip"] else fn()

    def curate() -> StageResult:
        in_batch = _keep_min_doc(_curation_gate(state["delta"]))
        sc_t = tables["silver_curated"]
        # localCheckpoint (eager), NOT persist: the append below
        # writes INTO the directory these plans read, and Spark's
        # path-refresh invalidates + re-lists caches on that path —
        # a cached `prev` would silently re-include the rows we are
        # appending and the anti-join would erase the whole batch.
        # Checkpointing severs the plan from the file source.
        if sc_t.exists():
            prev = sc_t.read().localCheckpoint(eager=True)
            state["prev_curated"] = prev
            survivors = in_batch.join(
                prev.select("fp"), "fp", "left_anti"
            )
        else:
            state["prev_curated"] = None
            survivors = in_batch
        survivors = survivors.localCheckpoint(eager=True)
        state["new_curated"] = survivors
        # commit even an EMPTY first batch: downstream stages read
        # this table, and a never-created table fails them all.  ONE
        # count job (survivors is an eager localCheckpoint, but each
        # .count() was still its own Spark job)
        n_surv = survivors.count()
        if n_surv > 0 or not sc_t.exists():
            sc_t.append(survivors)
        return StageResult(n_surv)  # delta rows, not table size

    def decontaminate() -> StageResult:
        new_curated = state["new_curated"]
        prev = state["prev_curated"]
        bench_all = _benchmark(tables["bronze"].read())
        bench_new = _benchmark(state["delta"])
        found = cp.ngram_overlap(
            new_curated, bench_all, n=DECON_NGRAM
        ).select("doc_id")
        if prev is not None:
            found = found.unionByName(
                cp.ngram_overlap(
                    prev, bench_new, n=DECON_NGRAM
                ).select("doc_id")
            )
        ct = tables["contaminated"]
        if ct.exists():
            # detach before appending into the directory the plan
            # reads (the ManagedTable.append caveat)
            new_ids = found.join(
                ct.read(), "doc_id", "left_anti"
            ).localCheckpoint(eager=True)
            state["new_ids"] = new_ids
            ct.append(new_ids)
        else:
            ct.overwrite(found)
        tables["silver_clean"].overwrite(
            tables["silver_curated"].read().join(
                ct.read(), "doc_id", "left_anti"
            )
        )
        return _written(tables["silver_clean"])

    def gold_task() -> StageResult:
        return publish_gold(tables["silver_clean"], tables["gold"])

    def catalog_task() -> StageResult:
        return build_catalog(
            {
                k: tables[k]
                for k in (
                    "bronze",
                    "silver_curated",
                    "silver_clean",
                    "gold",
                )
            },
            tables["catalog"],
        )

    # retries=0: these stages append to stored tables, so a re-run is
    # not idempotent (a retried ingest finds its own txn marker and
    # would skip the batch)
    dag = Dag(f"corpus_incremental_b{label}", schedule="0 2 * * *")
    dag.add("ingest_bronze", ingest, retries=0)
    dag.add(
        "curate_silver",
        unless_replayed(curate),
        deps=["ingest_bronze"],
        retries=0,
    )
    dag.add(
        "decontaminate",
        unless_replayed(decontaminate),
        deps=["curate_silver"],
        retries=0,
    )
    dag.add(
        "publish_gold",
        unless_replayed(gold_task),
        deps=["decontaminate"],
        retries=0,
    )
    dag.add(
        "catalog",
        unless_replayed(catalog_task),
        deps=["publish_gold"],
        retries=0,
    )
    try:
        return dag.run(spark)
    finally:
        for name in ("delta", "prev_curated", "new_curated", "new_ids"):
            release_checkpoint(state.get(name))


def run_streaming(
    spark: SparkSession,
    workdir: str,
    docs_stream: DataFrame,
    checkpoint_dir: str,
) -> tuple[list[list], dict[str, ManagedTable]]:
    """Streaming corpus ingestion: the T1 exactly-once story the orders
    side has (``streaming/stateful.py``), applied to the corpus — a
    ``readStream`` of raw documents drains through
    ``foreachBatch(ingest_corpus_batch)`` with AvailableNow, so each
    micro-batch flows bronze→silver→gold with O(delta) compute under TWO
    independent exactly-once layers:

    1. the engine's ``checkpointLocation`` (a restarted query never
       re-plans a committed micro-batch), and
    2. ``append_once(f"b{batch_id}")`` txn markers (a batch REPLAYED
       after a crash between sink execution and checkpoint commit — the
       at-least-once window of foreachBatch — is a recorded no-op, the
       Delta ``txnAppId``/``txnVersion`` contract).

    Convergence inherits :func:`run_incremental`'s contract: micro-batch
    file order is doc_id-monotone in the tests and the registered query,
    so the drained tables are bit-identical to the single-batch
    :func:`corpus_dag` rebuild and the FULL-REBUILD oracle hash applies
    verbatim.  Returns (per-micro-batch TaskRun lists, tables).
    """
    tables = _corpus_tables(spark, workdir)
    all_runs: list[list] = []

    def _sink(batch: DataFrame, batch_id: int) -> None:
        runs = ingest_corpus_batch(
            spark, tables, batch, f"b{batch_id}", label=f"s{batch_id}"
        )
        all_runs.append(runs)
        bad = [r.name for r in runs if r.status != "success"]
        if bad:
            # fail the streaming query (so the checkpoint does NOT
            # commit this batch) instead of silently dropping a stage
            raise RuntimeError(
                f"corpus streaming batch {batch_id} stages failed: {bad}"
            )

    drain_available_now(docs_stream, checkpoint_dir, _sink)
    return all_runs, tables


def corpus_dag(
    spark: SparkSession, sf_dir: str, workdir: str
) -> tuple[Dag, dict[str, ManagedTable]]:
    """The corpus curation chain as a scheduler DAG (same contract as
    ``medallion.orders_dag``: the scheduler's retries=1 / 1800 s task
    defaults, linear dependencies, every stage an idempotent overwrite
    commit)."""
    from e_commerce_data_lakehouse_spark.entry_queries import load

    tables = _corpus_tables(
        spark,
        workdir,
        names=("bronze", "silver_curated", "silver_clean", "gold",
               "catalog"),
    )
    docs = load(spark, sf_dir, "documents")["documents"]
    dag = Dag("corpus_lakehouse", schedule="0 2 * * *")
    dag.add("ingest_bronze", lambda: ingest_bronze(docs, tables["bronze"]))
    dag.add(
        "curate_silver",
        lambda: curate_silver(tables["bronze"], tables["silver_curated"]),
        deps=["ingest_bronze"],
    )
    dag.add(
        "decontaminate",
        lambda: decontaminate_silver(
            tables["bronze"], tables["silver_curated"], tables["silver_clean"]
        ),
        deps=["curate_silver"],
    )
    dag.add(
        "publish_gold",
        lambda: publish_gold(tables["silver_clean"], tables["gold"]),
        deps=["decontaminate"],
    )
    dag.add(
        "catalog",
        lambda: build_catalog(tables, tables["catalog"]),
        deps=["publish_gold"],
    )
    return dag, tables
