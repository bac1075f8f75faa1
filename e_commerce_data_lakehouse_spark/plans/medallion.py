"""Medallion pipeline composition: raw → bronze → silver → gold → global DW.

The reference runs this as five Airflow DAGs of shell-launched scripts, one
linear chain per domain (``Airflow Dags/lakehouse_pipeline_dag.py:31-252``),
with every stage re-implementing its own session, paths, incremental
bookkeeping, and verification prints.  The engine expresses the same
lifecycle as composable stage functions over :class:`ManagedTable`s, with
quality gates *between* stages (promotion fails loudly instead of printing).

Each stage is incremental and idempotent:

- raw→bronze: file-ledger ingest (S10) — re-running with no new files is a
  no-op.
- bronze→silver: high-watermark rows (T2) + within-batch dedup-keep-latest
  (W1) + MERGE upsert on the business key, so re-delivered rows collapse
  instead of duplicating (fixes the reference's cross-batch dedup gap, T4).
- silver→gold: SCD-1 dim merges (S14/S15) + date-key fact build with the
  ``-1`` sentinel (P10) + full-recompute aggregates (T5 semantics).

Scale notes: no ``collect()`` of data rows anywhere; dims are broadcast in
the fact build (J1/J2); facts are written partitioned by date columns so
downstream reads prune; aggregates recompute from facts (at 100 TB you'd
swap the recompute for an incremental window merge — the operator is the
same, the write mode changes).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark import quality as q
from e_commerce_data_lakehouse_spark.operators.dedup import (
    keep_latest,
    keep_latest_agg,
)
from e_commerce_data_lakehouse_spark.operators.joins import date_key_lookup
from e_commerce_data_lakehouse_spark.operators.merge import incremental_rows
from e_commerce_data_lakehouse_spark.plans.scheduler import Dag, TaskRun
from e_commerce_data_lakehouse_spark.sources.files import (
    with_lineage,
    with_partition_columns,
)
from e_commerce_data_lakehouse_spark.sources.incremental import (
    FileLedger,
    ingest_new_files,
)
from e_commerce_data_lakehouse_spark.sources.sinks import (
    ManagedTable,
    release_checkpoint,
)


@dataclass
class StageResult:
    """What a stage reports.  The task name, attempts and seconds live
    on the scheduler's :class:`plans.scheduler.TaskRun`, which times
    every attempt, so stages never time themselves."""

    rows_written: int


def ingest_raw_to_bronze(
    ledger: FileLedger,
    discovered: list[str],
    read_fn: Callable[[list[str]], DataFrame],
    bronze: ManagedTable,
    ts_col: str,
) -> StageResult:
    """Raw→bronze: ledger-gated ingest (``ingest_new_files``) + lineage +
    partition columns (``csv_to_deltalake_table.py`` minus the
    driver-side file loop)."""
    if not ingest_new_files(
        ledger,
        discovered,
        read_fn,
        lambda df: bronze.append(
            with_partition_columns(with_lineage(df), ts_col)
        ),
    ):
        return StageResult(0)
    # row_count() = storage metadata (parquet footers / Delta txn-log
    # stats) — no Spark job for a number the storage layer knows
    return StageResult(bronze.row_count())


def contains_map_type(dtype) -> bool:
    """True when a MapType is embedded at ANY depth (map, array<map>,
    struct-of-map, …) — ``max(struct)`` cannot order such a column
    (maps have no canonical element order)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return True
    if isinstance(dtype, ArrayType):
        return contains_map_type(dtype.elementType)
    if isinstance(dtype, StructType):
        return any(contains_map_type(f.dataType) for f in dtype.fields)
    return False


def bronze_to_silver(
    bronze: ManagedTable,
    silver: ManagedTable,
    key: list[str],
    ts_col: str,
    clean_fn: Callable[[DataFrame], DataFrame] | None = None,
    min_retention: float = 0.5,
) -> StageResult:
    """Bronze→silver: watermark incremental (T2) + clean + dedup-keep-latest
    (W1) + keyed MERGE (cross-batch dedup, unlike the reference's T4 gap).

    The dedup form follows from the schema.  Orderable payloads take the
    SKEW-ROBUST ``keep_latest_agg`` form (``max(struct)``, partially
    aggregated map-side: ~n_partitions rows per key at the reducer no
    matter how hot the key — the window form sorts every row of a key in
    one task, 1.2× task skew on the planted 20%-hot key and growing with
    data, r10 sweep).  Equivalence is hash-proven
    (``dedup_latest_events_agg`` carries the window oracle verbatim).
    A map-typed (non-orderable) payload column, which ``max(struct)``
    rejects at analysis, takes the window form ``keep_latest``.

    The deduped delta is materialized ONCE (eager ``localCheckpoint``)
    and everything downstream reads that: the row counts come from
    ``DataFrame.observe`` metrics of the same materializing job (n_in =
    watermark-passed bronze rows before ``clean_fn``, n_out = deduped
    rows), the no-new-rows exit and the ``min_retention`` gate read
    (n_in, n_out) before anything is committed, and the MERGE reads the
    checkpoint (:meth:`ManagedTable.merge_scd1` does not materialize it
    again).  bronze → clean → dedup runs once per increment instead of
    once per count, gate and merge read.  The checkpoint is released on
    every exit: no new rows, a failed gate, or after the MERGE."""
    src = bronze.read()
    if silver.exists():
        batch = incremental_rows(src, silver.read(), ts_col)
    else:
        batch = src
    seen, kept = Observation("bronze_to_silver_in"), Observation(
        "bronze_to_silver_out"
    )
    observed = batch.observe(seen, F.count(F.lit(1)).alias("n"))
    cleaned = clean_fn(observed) if clean_fn else observed
    dedup_fn = (
        keep_latest
        if any(contains_map_type(f.dataType) for f in cleaned.schema.fields)
        else keep_latest_agg
    )
    deduped = (
        dedup_fn(cleaned, key, ts_col)
        .observe(kept, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    try:
        n_in, n_out = seen.get["n"], kept.get["n"]
        if n_in == 0:
            return StageResult(0)
        q.retention_from_counts(
            n_in, n_out, warn_below=min_retention
        ).expect()
        silver.merge_scd1(deduped, key)
    finally:
        release_checkpoint(deduped)
    out = silver.read()
    q.uniqueness(out, key).expect()
    # metadata-only count of the just-committed snapshot (== out.count())
    return StageResult(silver.row_count())


def silver_to_gold_star(
    silver: ManagedTable,
    dim_specs: dict[str, tuple[ManagedTable, list[str], list[str]]],
    fact: ManagedTable,
    dim_date: DataFrame,
    fact_ts_col: str,
    fact_cols: list[str],
    date_key_name: str = "date_key",
) -> StageResult:
    """Silver→gold: dim SCD-1 merges + fact build with broadcast date-key
    lookup and the ``-1`` sentinel (``silver_to_gold_transactions.py:57-118``).

    The fact carries silver's calendar ``year``/``month``/``day``
    columns, which bronze ingest derived from ``fact_ts_col``
    (:func:`sources.files.with_partition_columns`).  A row without a
    timestamp gets null ones: ingest's ``current_date`` fallback must
    not put a wall-clock month into the fact.

    ``dim_specs``: name → (table, key_cols, attr_cols); each dim is the
    distinct projection of its columns (A9) merged SCD-1 on the key.
    """
    s = silver.read().cache()
    try:
        for _, (dim_table, keys, attrs) in dim_specs.items():
            dim_df = s.select(*keys, *attrs).distinct()
            dim_table.merge_scd1(dim_df, keys)
        has_ts = F.col(fact_ts_col).isNotNull()
        fact_df = date_key_lookup(
            s, dim_date, fact_ts_col, out_col=date_key_name
        ).select(
            *fact_cols,
            date_key_name,
            *[
                F.when(has_ts, F.col(c)).alias(c)
                for c in ("year", "month", "day")
            ],
        )
        fact.overwrite(fact_df)
        n = fact.row_count()  # footer metadata, no Spark job
    finally:
        s.unpersist()
    return StageResult(n)


def gold_daily_rollup(
    fact: ManagedTable,
    agg_table: ManagedTable,
    date_key_name: str,
    value_col: str,
    id_col: str,
) -> StageResult:
    """Gold aggregate: daily operational rollup (A4), full recompute +
    overwrite (the reference's T5 semantics)."""
    df = (
        fact.read()
        .groupBy(date_key_name)
        .agg(
            F.sum(value_col).alias("total_value"),
            F.count(id_col).alias("record_count"),
            F.avg(value_col).alias("avg_value"),
        )
    )
    agg_table.overwrite(df)
    return StageResult(agg_table.row_count())


def build_catalog_table(
    spark: SparkSession, tables: dict[str, ManagedTable]
) -> DataFrame:
    """T6: the ``_catalog`` monitoring table (``create_global_dw.py:451-540``)
    — one row per managed table with row count, version, and status.

    The reference rebuilds this driver-side with a full ``count()`` Spark
    job per table; counts here come from parquet footer metadata
    (:meth:`ManagedTable.row_count` — what Delta serves from txn-log
    stats), so the whole sweep launches zero data-reading jobs."""
    rows = []
    for name, t in tables.items():
        if t.exists():
            vs = t.history()
            rows.append((name, t.row_count(), vs[-1], "active"))
        else:
            rows.append((name, 0, -1, "missing"))
    return spark.createDataFrame(
        rows, "table_name string, row_count long, version int, status string"
    )


def orders_dag(
    spark: SparkSession, sf_dir: str, workdir: str
) -> tuple[Dag, dict[str, ManagedTable]]:
    """The orders chain as a :class:`plans.scheduler.Dag` — the
    reference's Airflow chain (``lakehouse_pipeline_dag.py:31-71``:
    raw → kafka/minio → bronze → silver → gold, ``retries=1``,
    ``cmd_timeout=1800``, the scheduler's task defaults) rebuilt on the
    in-process scheduler, so the dependency/retry/timeout contract is
    executable and testable instead of deferred to an external
    orchestrator.  Returns the UN-RUN dag plus the table handles; each
    task's ``fn`` yields the stage's :class:`StageResult`.  Tasks communicate through the tables on disk
    (exactly like the reference's stages) — the only in-memory handoff
    is the raw file list."""
    import glob

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from e_commerce_data_lakehouse_spark.functions.dates import build_dim_date
    from e_commerce_data_lakehouse_spark.sources.files import read_csv

    raw_schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", DateType()),
        ]
    )

    ledger = FileLedger(spark, f"{workdir}/ledger")
    tables = {
        "bronze_orders": ManagedTable(spark, f"{workdir}/bronze_orders"),
        "silver_orders": ManagedTable(spark, f"{workdir}/silver_orders"),
        "dim_customer_ids": ManagedTable(spark, f"{workdir}/dim_customer_ids"),
        # the fact is PHYSICALLY laid out by its calendar month — the
        # reference's fact layout (``csv_to_deltalake_table.py:520``
        # hive y/m/d; global facts by date key, ``create_global_dw.py:263``)
        # at month grain: the reference's day grain measured 14,428
        # files and a 51 s fact write at sf0.1, and even gen-sf10
        # holds ~190k orders per month, far below what one directory
        # serves well.  Date-ranged reads prune at the scan;
        # optimized_write bin-packs each commit's files per partition
        # directory.
        "fact_orders": ManagedTable(
            spark,
            f"{workdir}/fact_orders",
            partition_by=("year", "month"),
            optimized_write=True,
        ),
        "agg_daily": ManagedTable(spark, f"{workdir}/agg_daily"),
    }
    state: dict[str, object] = {}

    def raw_export() -> StageResult:
        # raw deliveries are external inputs: export once, reuse on
        # re-runs (a fresh Spark CSV write mints new part-file names,
        # which the ledger would rightly treat as new deliveries and
        # re-ingest)
        if not glob.glob(f"{workdir}/raw/drop_*/*.csv"):
            orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                F.col("o_orderdate").cast("date").alias("o_orderdate"),
            )
            dup = orders.filter(F.dayofmonth("o_orderdate") % 2 == 1).limit(
                max(1, orders.count() // 100)
            )
            odd = orders.filter(F.dayofmonth("o_orderdate") % 2 == 1)
            even = orders.filter(F.dayofmonth("o_orderdate") % 2 == 0)
            for name, part in (
                ("drop_a", even.unionByName(dup)),
                ("drop_b", odd.unionByName(dup)),
            ):
                part.write.option("header", "true").mode("overwrite").csv(
                    f"{workdir}/raw/{name}"
                )
        state["raw_files"] = sorted(glob.glob(f"{workdir}/raw/drop_*/*.csv"))
        return StageResult(len(state["raw_files"]))

    def bronze() -> StageResult:
        return ingest_raw_to_bronze(
            ledger,
            state["raw_files"],
            lambda paths: read_csv(spark, paths, raw_schema),
            tables["bronze_orders"],
            "o_orderdate",
        )

    def silver() -> StageResult:
        return bronze_to_silver(
            tables["bronze_orders"],
            tables["silver_orders"],
            key=["o_orderkey"],
            ts_col="o_orderdate",
            clean_fn=lambda df: df.filter(
                F.col("o_orderkey").isNotNull() & (F.col("o_totalprice") > 0)
            ),
        )

    def gold_star() -> StageResult:
        return silver_to_gold_star(
            tables["silver_orders"],
            dim_specs={
                "dim_customer_ids": (
                    tables["dim_customer_ids"],
                    ["o_custkey"],
                    [],
                )
            },
            fact=tables["fact_orders"],
            dim_date=build_dim_date(spark, "1992-01-01", "2001-12-31"),
            fact_ts_col="o_orderdate",
            fact_cols=["o_orderkey", "o_custkey", "o_totalprice"],
        )

    def rollup() -> StageResult:
        return gold_daily_rollup(
            tables["fact_orders"],
            tables["agg_daily"],
            "date_key",
            "o_totalprice",
            "o_orderkey",
        )

    def catalog() -> StageResult:
        return StageResult(build_catalog_table(spark, tables).count())

    dag = Dag("orders_lakehouse", schedule="0 0 * * *")
    dag.add("raw_export", raw_export)
    dag.add("bronze", bronze, deps=("raw_export",))
    dag.add("silver", silver, deps=("bronze",))
    dag.add("gold_star", gold_star, deps=("silver",))
    dag.add("rollup", rollup, deps=("gold_star",))
    dag.add("catalog", catalog, deps=("rollup",))
    return dag, tables


def e2e_orders_pipeline(
    spark: SparkSession, sf_dir: str, workdir: str
) -> tuple[list[TaskRun], dict[str, ManagedTable]]:
    """The reference's production path as ONE call: raw CSV drops →
    bronze (file-ledger ingest) → silver (watermark + clean + dedup +
    MERGE) → gold star (dims + date-key fact) → daily rollup → catalog.

    Mirrors ``Airflow Dags/lakehouse_pipeline_dag.py``'s orders chain at
    library level so ``bench.py`` can record an end-to-end ETL number with
    a per-stage breakdown (VERDICT r3 #6) against the reference's
    1800 s/stage Airflow budget.  Raw-file creation (re-exporting the
    parquet testdata as two CSV deliveries with ~1% cross-file duplicates)
    is the ``raw_export`` task; callers benching only the pipeline can
    drop that task's seconds.

    Since r8 this is a thin wrapper over :func:`orders_dag` run through
    the in-process scheduler (dependency order + retries + timeouts —
    the reference's Airflow contract); a non-success task raises with
    the scheduler's report so promotion failures stay loud.  Returns
    the scheduler's :class:`TaskRun` list (name, attempts, seconds and
    the stage's :class:`StageResult`) plus the table handles.
    """
    dag, tables = orders_dag(spark, sf_dir, workdir)
    runs = dag.run(spark)
    bad = [r for r in runs if r.status != "success"]
    if bad:
        raise RuntimeError(
            "pipeline failed: "
            + "; ".join(f"{r.name}={r.status} ({r.error})" for r in bad)
        )
    return runs, tables
