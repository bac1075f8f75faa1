"""Global DW: the cross-domain consolidation layer as ONE composed pipeline.

The reference's ``create_global_dw.py`` (559 lines) rebuilds nine global
tables in sequence, re-reading each per-domain gold table from S3 for every
table it feeds — the activity union alone is recomputed three times (for the
activity fact, the customer-360 agg, and the monthly summary).  Here the
whole layer is one composition over shared, persisted intermediates:

- the conformed activity union (U1+W2) is built ONCE — its fact-table write
  is the materialization point, and customer-360 / operational-daily /
  monthly all re-read the written parquet with column pruning (at 100 TB a
  disk-backed table beats a serialized memory persist of the same rows, and
  each downstream aggregate reads only its 2-3 columns);
- dims are tiny distinct projections (A9) → broadcast downstream;
- every output lands in a :class:`ManagedTable` (snapshot-versioned), and
  the run closes with the ``_catalog`` monitoring table (T6,
  ``create_global_dw.py:451-540``) served ENTIRELY from parquet footer
  metadata — zero data-reading jobs for monitoring.

Scale notes: no ``collect()`` of data rows; the expensive shuffles (union,
per-actor window, daily/monthly aggregates) each happen exactly once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.functions.exact import dsum, sum_money
from e_commerce_data_lakehouse_spark.operators import aggregates as agg
from e_commerce_data_lakehouse_spark.operators.union import union_conform
from e_commerce_data_lakehouse_spark.plans.medallion import (
    build_catalog_table,
)
from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable


@dataclass
class GlobalDW:
    """Handles to the built global tables plus the catalog DataFrame."""

    tables: dict[str, ManagedTable]
    catalog: DataFrame


def _activity_union(orders: DataFrame, events: DataFrame) -> DataFrame:
    """U1: schema-conformed union of the order and event activity streams,
    with the per-actor activity_sequence (W2) and the date columns the
    fact is laid out by (the reference: ``create_global_dw.py:263``
    partitions the activity fact by ``activity_date_key``).

    The sequence runs the HEAT-ROUTED hybrid since r12
    (``aggregates.sequence_number_hybrid``): hot actors take the bucketed
    form (one task would otherwise sort a hot actor's whole history — a
    guaranteed straggler at 100 TB), everyone else the plain window.
    r11 ran the bucketed form UNCONDITIONALLY, which priced uniform data
    at 3.3× the window plan and regressed ``global_dw_catalog`` 2.1×
    (r11 ``weak`` #1); the router pays one column-pruned
    ``groupBy(actor).count()`` pass instead.  Output is identical on
    every path — ``union_activity_bucketed`` and ``union_activity_hybrid``
    both carry the window query's oracle verbatim.

    Physical layout columns: ``activity_date_key`` (the reference's
    column) plus the calendar (activity_year, activity_month,
    activity_day) of ``activity_ts``; a null timestamp leaves all four
    null.  :func:`build_global_dw` partitions the fact by year and
    month."""
    orders_act = orders.select(
        F.col("o_custkey").alias("actor_id"),
        F.col("o_orderkey").alias("activity_id"),
        F.lit("order").alias("activity_type"),
        F.col("o_orderdate").alias("activity_ts"),
        F.col("o_totalprice").alias("amount"),
    )
    events_act = events.select(
        F.col("user_id").alias("actor_id"),
        F.col("event_id").alias("activity_id"),
        F.col("event_type").alias("activity_type"),
        F.col("ts").alias("activity_ts"),
        F.col("value").alias("amount"),
    )
    return (
        agg.sequence_number_hybrid(
            union_conform([orders_act, events_act]),
            "actor_id",
            "activity_ts",
            tiebreakers=["activity_type", "activity_id"],
            out_col="__seq",
            bucket="1 day",
            # heat from a 1% seeded sample: a straggler actor holds a
            # task-sized share of rows, which no uniform sample misses,
            # and the exact counts pass measured 1.76x the window plan
            # it was routing for (sf10)
            sample_fraction=0.01,
        )
        .withColumn("activity_sequence", F.col("__seq").cast("int"))
        .drop("__seq")
        .withColumn(
            "activity_date_key",
            F.date_format(F.to_date("activity_ts"), "yyyyMMdd").cast("int"),
        )
        .withColumns(
            {
                "activity_year": F.year("activity_ts"),
                "activity_month": F.month("activity_ts"),
                "activity_day": F.dayofmonth("activity_ts"),
            }
        )
    )


def build_global_dw(
    spark: SparkSession,
    base_path: str,
    orders: DataFrame,
    events: DataFrame,
    customer: DataFrame,
    part: DataFrame,
    dim_date: DataFrame,
) -> GlobalDW:
    """Build the nine-table global layer under ``base_path``.

    Mirrors ``create_global_dw.py:456-466``'s table set on the testdata
    domains: orders/customer/part stand in for the transactions star,
    events for the IoT/social activity streams.
    """
    # the activity fact is physically partitioned by its calendar month —
    # the reference's fact layout (``create_global_dw.py:263`` partitions
    # it by activity_date_key) at month grain, so date-ranged downstream
    # reads prune at the scan (see orders_dag's fact_orders for why not
    # day grain).  The daily fact (``:345`` partitions it by date_key)
    # is left UNPARTITIONED deliberately: it is one row per day by
    # construction at every scale, so partitioning it means one
    # directory per row — pure filesystem overhead with nothing to
    # prune (the whole table is smaller than one healthy parquet file).
    fact_partitioning = {
        "global_fact_customer_activity": ("activity_year", "activity_month"),
    }
    t = {
        name: ManagedTable(
            spark,
            f"{base_path}/{name}",
            partition_by=fact_partitioning.get(name, ()),
            optimized_write=name in fact_partitioning,
        )
        for name in [
            "global_dim_date",
            "global_dim_customer",
            "global_dim_product",
            "global_fact_customer_activity",
            "global_fact_operational_daily",
            "global_agg_customer_360",
            "global_agg_monthly_summary",
        ]
    }

    # -- wave 1: dims + the activity fact, CONCURRENT (guide §2.6) ---------
    # The three dim writes and the fact build touch disjoint tables and
    # disjoint inputs; submitting them from a small thread pool lets the
    # tiny dim jobs back-fill executor cores the fact build's stage tails
    # leave idle (actions are only sequential because driver code calls
    # them sequentially).  Job descriptions are thread-local, so each job
    # stays correctly labelled.  The fact write IS the materialization
    # point: the union + per-actor sequence compute exactly once into
    # parquet, and the downstream aggregates re-read the written table
    # with column pruning (cheaper than a serialized memory persist of
    # the full rows, and identical semantics).
    from concurrent.futures import ThreadPoolExecutor

    wave1 = {
        "global_dim_date": lambda: dim_date,
        "global_dim_customer": lambda: customer.select(
            "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
        ),
        "global_dim_product": lambda: part.select(
            "p_partkey", "p_name", "p_type", "p_brand"
        ),
        "global_fact_customer_activity": lambda: _activity_union(
            orders, events
        ),
    }
    with ThreadPoolExecutor(max_workers=len(wave1)) as pool:
        futs = [
            pool.submit(lambda n=n, b=build: t[n].overwrite(b()))
            for n, build in wave1.items()
        ]
        for f in futs:
            f.result()
    activity = t["global_fact_customer_activity"].read()

    # daily operational fact: ONE conditional-aggregation scan of the fact
    # (was: spine distinct + order slice agg + event slice agg + two left
    # joins — three fact scans and three shuffles; guide §2.3/§2.4).  A
    # date appears iff it has any activity (== the old spine), order/event
    # metrics come from condition-gated aggregates over the same rows the
    # old slices kept, and absent-side metrics coalesce to the old
    # fill-zero values.  A NULL activity_type contributes its date and
    # neither side — exactly the old outer-spine semantics.
    is_order = F.col("activity_type") == "order"

    def build_op_daily() -> DataFrame:
        return (
            activity.groupBy(
                F.to_date("activity_ts").alias("activity_date")
            ).agg(
                F.coalesce(
                    sum_money(F.when(is_order, F.col("amount"))),
                    F.lit(0.0),
                ).alias("order_revenue"),
                F.count(F.when(is_order, F.lit(1))).alias("n_orders"),
                F.coalesce(
                    dsum(F.when(~is_order, F.col("amount"))), F.lit(0.0)
                ).alias("event_value"),
                F.count(F.when(~is_order, F.lit(1))).alias("n_events"),
            )
        )

    # customer-360 (A5/A6) from the written union's event slice
    def build_c360() -> DataFrame:
        ev_slice = activity.filter(~is_order).select(
            F.col("actor_id").alias("user_id"),
            F.col("activity_type").alias("event_type"),
            F.col("amount").alias("value"),
        )
        return agg.customer_360(ev_slice)

    # monthly rollup (A12) from the order slice
    def build_monthly() -> DataFrame:
        return agg.monthly_summary(
            activity.filter(is_order), "activity_ts", "amount"
        )

    # -- wave 2: the three downstream aggregates, CONCURRENT (§2.6) -------
    wave2 = {
        "global_fact_operational_daily": build_op_daily,
        "global_agg_customer_360": build_c360,
        "global_agg_monthly_summary": build_monthly,
    }
    with ThreadPoolExecutor(max_workers=len(wave2)) as pool:
        futs = [
            pool.submit(lambda n=n, b=build: t[n].overwrite(b()))
            for n, build in wave2.items()
        ]
        for f in futs:
            f.result()

    return GlobalDW(tables=t, catalog=build_catalog_table(spark, t))
