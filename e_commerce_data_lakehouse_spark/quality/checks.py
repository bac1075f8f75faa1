"""Quality layer: the reference's print-based verifications as real checks.

The reference verifies by inspection — per-run prints of counts, null
coverage, retention %, uniqueness (``verify_dbt_results.py:41-204``,
``iot_bronze_to_silver.py:241-316``, ``csv_to_deltalake_table.py:455-473``).
None of them fail the job.  The engine turns each into a
:class:`CheckResult`-returning function plus an ``expect`` wrapper that
raises, so pipelines can gate promotion (bronze→silver→gold) on data quality.

Scale note: every check is a single distributed aggregate (one job, no
``collect()`` of data rows — only the scalar results come back).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from e_commerce_data_lakehouse_spark.caching import tracked_persist

# robust_outlier_stats: per-group stat lookups attach as a literal
# when-chain at or below this many groups (saves the tiny-frame
# createDataFrame + broadcast-build jobs); above it the broadcast join
# returns — a thousands-deep when-chain would blow codegen.
_LOOKUP_CHAIN_MAX = 64


@dataclass(frozen=True)
class CheckResult:
    name: str
    passed: bool
    details: dict

    def expect(self) -> "CheckResult":
        if not self.passed:
            raise AssertionError(f"quality check failed: {self.name}: {self.details}")
        return self


def uniqueness(df: DataFrame, keys: list[str]) -> CheckResult:
    """Dedup invariant ``COUNT(DISTINCT key) == COUNT(*)``
    (``iot_bronze_to_silver.py:244-249``) — one pass, no self-join."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("distinct_keys"),
    ).collect()[0]
    return CheckResult(
        name=f"uniqueness({','.join(keys)})",
        passed=row["rows"] == row["distinct_keys"],
        details={"rows": row["rows"], "distinct_keys": row["distinct_keys"]},
    )


def retention_from_counts(
    s: int, t: int, warn_below: float = 0.5, ok_above: float = 0.95
) -> CheckResult:
    """Silver/bronze retention thresholds over the source and target row
    counts ``s`` and ``t`` (``verify_dbt_results.py:142-169``): <50% fails
    (cleaning dropped too much), >95% is healthy, in between is a
    pass-with-warning.  The counts come from the caller (e.g.
    ``DataFrame.observe`` metrics of the job that materialized the
    target), so the gate costs no count job."""
    rate = t / s if s else 1.0
    return CheckResult(
        name="retention_rate",
        passed=rate >= warn_below,
        details={"source": s, "target": t, "rate": round(rate, 4),
                 "healthy": rate >= ok_above},
    )


def fk_orphan_stats(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    relationship: str,
) -> DataFrame:
    """One-row referential-integrity audit for a child->parent FK:
    (relationship, n_child_rows, n_orphans, ref_ok).

    Shape: ONE pass over the child with a left join against the DISTINCT
    parent-key set and a conditional count — never a separate count job
    plus an anti-join job (two child scans), and never a 1-row cross join
    to glue counts together (that plants a BroadcastNestedLoopJoin).  The
    distinct parent-key side broadcasts for dimension-sized parents and
    degrades to a shuffle join for fact-sized ones; NULL child keys count
    as orphans in both engines (a NULL FK matches nothing).
    """
    pk = parent.select(F.col(parent_key).alias("__pk")).distinct()
    return (
        child.join(pk, F.col(child_key) == F.col("__pk"), "left")
        .agg(
            F.count("*").cast("long").alias("n_child_rows"),
            F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
        .select(
            F.lit(relationship).alias("relationship"),
            "n_child_rows",
            "n_orphans",
            (F.col("n_orphans") == 0).alias("ref_ok"),
        )
    )


def robust_outlier_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k_x10000: int = 44478,
) -> DataFrame:
    """Per-group robust (median/MAD) outlier audit in EXACT integer
    arithmetic — the anomaly gate that survives the heavy tails a
    mean/stddev z-score is wrecked by (one mega-order inflates sigma and
    hides every other outlier; the median and MAD barely move).

    ``value_col`` must be integral (e.g. money in cents).  All statistics
    live in doubled/quadrupled units so they stay integers: ``med2`` is
    2x the group median (the interpolated median of ints is a half-int,
    so 2x it — the sum of the two central order statistics — is exact),
    ``mad4`` is 4x the MAD (2x the median of the 2x-unit absolute
    deviations ``d = |2*value - med2|``).  The flag |x - med| > K * MAD
    with K = ``k_x10000 / 10000`` (default 4.4478 = 3 x 1.4826, the
    normal-consistent 3-sigma-equivalent) is evaluated multiplied
    through: ``2 * 10000 * d > k_x10000 * mad4`` — pure BIGINT compares,
    bit-identical in Spark and DuckDB.

    Scale shape: ONE scan of the base data, then pure histogram domain.
    The (group, value) histogram is built once and persisted; the group
    medians, the deviation histogram (``d = |2v − med2|`` maps DISTINCT
    values, then re-aggregates — never touches base rows again), the MAD
    medians, and the weighted flag counts all run over it via
    ``ranking.exact_quantiles_cont(weight_col=...)`` (range-sharded
    cumulative counts; a grouped ``percentile`` aggregate would buffer
    each group's FULL value list in its one reduce task — a memory
    ceiling at 100 TB).  ``2·median`` of BIGINTs is an
    exactly-representable double (int or half-int below 2^52), so the
    BIGINT cast is lossless and bit-matches the SQL
    ``CAST(2 * quantile_cont(...) AS BIGINT)`` oracle.  Contract:
    ``group_col`` is bounded-cardinality (an audit dimension —
    priority/status/segment), the plan-sweep window whitelist's
    contract; per-group value counts are unbounded.  The 5-row stats
    tables broadcast back between passes.
    """
    from e_commerce_data_lakehouse_spark.operators import ranking as rk

    spark = df.sparkSession
    vals = df.select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    )
    g_field = vals.schema["__g"]
    # ONE pass over the base data for EVERYTHING: the (group, value)
    # histogram keeps a NULL-value bucket so the per-group row counts
    # (SQL COUNT(*) semantics: medians ignore NULLs, the row count does
    # not, and an all-NULL group still gets an output row with NULL
    # statistics) come from a histogram-sized re-aggregate of the same
    # persisted frame — the old separate COUNT(*) pass re-scanned the
    # base table (guide §2.3/§1.2: don't pay a second full pass for a
    # bounded side-statistic the first pass already saw)
    hist_all = tracked_persist(
        vals.groupBy("__g", "__v").agg(
            F.count("*").cast("long").alias("__w")
        )
    )
    counts_all = {
        r["__g"]: int(r["__n"])
        for r in hist_all.groupBy("__g")
        .agg(F.sum("__w").cast("long").alias("__n"))
        .collect()
    }
    hist = hist_all.filter(F.col("__v").isNotNull())
    med_q, _ = rk.exact_quantiles_cont(
        hist, "__v", [0.5], group_cols=["__g"], weight_col="__w"
    )
    # the per-group medians/MADs are bounded driver-side dicts: attach
    # them to the histogram as a LITERAL when-chain lookup instead of a
    # createDataFrame + broadcast join — the r12 profile priced each of
    # those tiny-frame broadcast builds at 0.2-0.5 s of job latency (4
    # such jobs per audit), pure overhead for a ≤-handful-of-groups
    # audit dimension.  NULL-group semantics preserved exactly: the old
    # inner join dropped NULL-__g rows (NULL != NULL), and the chain's
    # NULL default sends that group's deviations to NULL, which the
    # quantile machinery filters and the outlier condition zeroes — same
    # outputs.  Guarded: past _LOOKUP_CHAIN_MAX groups the broadcast
    # join returns (a 10k-deep when-chain is a codegen bomb).
    def _lookup_long(mapping: dict):
        expr = F.lit(None).cast("long")
        for gv, val in mapping.items():
            if gv is None:
                continue  # match the inner join: NULL group -> NULL
            expr = F.when(F.col("__g") == F.lit(gv), F.lit(val)).otherwise(
                expr
            )
        return expr

    med_map = {gk[0]: int(2 * q[0.5]) for gk, q in med_q.items()}
    if len(med_map) <= _LOOKUP_CHAIN_MAX:
        med2_col = _lookup_long(med_map)
    else:
        med = spark.createDataFrame(
            list(med_map.items()),
            StructType([g_field, StructField("med2", LongType())]),
        )
        med2_col = None
    # deviation HISTOGRAM: distinct values map to d and re-aggregate
    # (two values can fold onto one d) — histogram-sized, not base-sized
    dev_src = (
        hist.select(
            "__g",
            F.abs(2 * F.col("__v") - med2_col).alias("__d"),
            "__w",
        )
        if med2_col is not None
        else hist.join(F.broadcast(med), "__g").select(
            "__g",
            F.abs(2 * F.col("__v") - F.col("med2")).alias("__d"),
            "__w",
        )
    )
    dev_hist = tracked_persist(
        dev_src.groupBy("__g", "__d").agg(F.sum("__w").alias("__w"))
    )
    mad_q, _ = rk.exact_quantiles_cont(
        dev_hist, "__d", [0.5], group_cols=["__g"], weight_col="__w"
    )
    stats = {
        gk[0]: (int(2 * med_q[gk][0.5]), int(2 * q[0.5]))
        for gk, q in mad_q.items()
    }
    out_counts: dict = {}
    if stats:
        mad_map = {gv: m4 for gv, (_m2, m4) in stats.items()}
        if len(mad_map) <= _LOOKUP_CHAIN_MAX:
            flagged = dev_hist.select(
                "__g", "__d", "__w",
                _lookup_long(mad_map).alias("mad4"),
            )
        else:
            mad = spark.createDataFrame(
                list(mad_map.items()),
                StructType([g_field, StructField("mad4", LongType())]),
            )
            flagged = dev_hist.join(F.broadcast(mad), "__g")
        # weighted outlier counts over the deviation histogram — one
        # bounded row per group
        out_counts = {
            r["__g"]: int(r["__n"] or 0)
            for r in flagged.groupBy("__g")
            .agg(
                F.sum(
                    F.when(
                        2 * 10000 * F.col("__d")
                        > k_x10000 * F.col("mad4"),
                        F.col("__w"),
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("__n")
            )
            .collect()
        }
    rows = []
    for gv in sorted(counts_all, key=repr):
        n_all = counts_all[gv]
        med2, mad4 = stats.get(gv, (None, None))
        n_out = out_counts.get(gv, 0)
        rows.append(
            (gv, med2, mad4, n_all, n_out, (n_out * 1_000_000) // n_all)
        )
    return spark.createDataFrame(
        rows,
        StructType(
            [
                StructField(group_col, g_field.dataType),
                StructField("med2_" + value_col, LongType()),
                StructField("mad4_" + value_col, LongType()),
                StructField("n_rows", LongType()),
                StructField("n_outliers", LongType()),
                StructField("outlier_share_ppm", LongType()),
            ]
        ),
    )
