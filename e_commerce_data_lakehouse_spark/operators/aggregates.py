"""Aggregation operators (SURVEY §2.4, §2.5, §2.6).

A1-A15 re-expressed as composable DataFrame builders.  All money/double
aggregates go through the exact-decimal helpers in ``functions.exact`` so
results are order-insensitive (reproducible at any parallelism — see that
module's docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.functions.exact import (
    avg_money,
    sum_money,
)


def _assert_temp_names_free(
    df: DataFrame, names: tuple[str, ...], op: str
) -> None:
    """The bucketed window forms inject fixed ``__``-prefixed temp columns;
    an input that already carries one would be silently overwritten and
    dropped, corrupting output (r11 ADVICE).  Fail loudly instead."""
    clash = sorted(set(df.columns) & set(names))
    if clash:
        raise ValueError(
            f"{op}: input columns {clash} collide with internal temp "
            f"column names {sorted(names)} — rename them before calling"
        )


def conditional_sum(cond: Column, value: Column | None = None) -> Column:
    """A5: ``sum(when(cond, value|1).otherwise(0))`` — hand-rolled pivot."""
    v = F.lit(1) if value is None else value
    return F.sum(F.when(cond, v).otherwise(F.lit(0)))


def customer_360(
    events: DataFrame,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """A5+A6: per-user conditional counts over the activity stream plus the
    weighted ``customer_score`` (``create_global_dw.py:362-381``:
    score = 3*transactions + 1*images + 2*posts; here mapped onto the events
    table's activity types)."""
    weights = weights or {"purchase": 3, "view": 2, "click": 1}
    counts = [
        conditional_sum(F.col("event_type") == t).cast("long").alias(f"n_{t}")
        for t in ("purchase", "view", "click", "signup", "error")
    ]
    purchase_value = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.col("value").cast("decimal(30,6)"),
        ).otherwise(F.lit(0).cast("decimal(30,6)"))
    ).cast("double")
    score = sum(
        (F.col(f"n_{t}") * F.lit(w) for t, w in weights.items()),
        F.lit(0),
    )
    return (
        events.groupBy("user_id")
        .agg(*counts, purchase_value.alias("purchase_value"))
        .withColumn("customer_score", score.cast("long"))
    )


def pct_of_total(
    df: DataFrame, key_cols: list[str], round_to: int = 2
) -> DataFrame:
    """A15/W3: group counts + percentage-of-total via an unbounded window
    (``csv_bronze_to_silver.py:333-341``)."""
    counts = df.groupBy(*key_cols).count()
    total = Window.partitionBy()
    return counts.select(
        *key_cols,
        F.col("count").alias("n"),
        F.round(F.col("count") * 100.0 / F.sum("count").over(total), round_to).alias(
            "pct"
        ),
    )


def hourly_health(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """W4/A3: tumbling 1-hour window multi-aggregate — the IoT
    ``agg_device_health_hourly`` shape (``silver_to_gold_iot_sensors.py:98-116``).

    Uses ``F.window`` (streaming-capable); emits window start/end as plain
    timestamp columns.
    """
    w = F.window(F.col(ts_col), "1 hour")
    val = F.col(value_col)
    return (
        df.groupBy(w.alias("hw"), *key_cols)
        .agg(
            F.round(
                F.sum(val.cast("decimal(30,6)")).cast("double") / F.count(val), 6
            ).alias("avg_value"),
            F.min(val).alias("min_value"),
            F.max(val).alias("max_value"),
            F.count("*").cast("long").alias("n_readings"),
            F.max(F.col(ts_col)).alias("last_reading_in_window"),
        )
        .select(
            F.col("hw.start").alias("hour_start"),
            *key_cols,
            "avg_value",
            "min_value",
            "max_value",
            "n_readings",
            "last_reading_in_window",
        )
    )


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """A10: GROUP BY key HAVING COUNT(*) > 1
    (``iot_bronze_to_silver.py:83-110``)."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .withColumn("extra_rows", (F.col("n") - 1).cast("long"))
    )


def segment_by_score(
    scored: DataFrame,
    score_col: str = "customer_score",
    bands: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """A14: CASE-band segmentation + per-segment stats
    (``explore_global_dw_aggregates.py:87-103``)."""
    bands = bands or [(50, "platinum"), (25, "gold"), (10, "silver"), (0, "bronze")]
    expr = None
    for threshold, name in bands:
        cond = F.col(score_col) >= threshold
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    seg = expr.otherwise("bronze").alias("segment")
    return (
        scored.select(seg, F.col(score_col))
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(
                F.sum(F.col(score_col).cast("decimal(30,2)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_score"),
            F.min(score_col).cast("long").alias("min_score"),
            F.max(score_col).cast("long").alias("max_score"),
        )
    )


def monthly_summary(
    orders: DataFrame, date_col: str, amount_col: str
) -> DataFrame:
    """A12: month rollup with month name (``create_global_dw.py:402-440``)."""
    d = F.col(date_col)
    return (
        orders.groupBy(
            F.year(d).alias("year"),
            F.month(d).alias("month"),
            F.date_format(d, "MMMM").alias("month_name"),
        )
        .agg(
            sum_money(amount_col).alias("total_revenue"),
            F.count("*").cast("long").alias("n_orders"),
            avg_money(amount_col).alias("avg_order_value"),
        )
    )


def yearly_summary(
    orders: DataFrame, date_col: str, amount_col: str
) -> DataFrame:
    """A13: YoY rollup (``explore_global_dw_aggregates.py:173-179``)."""
    return (
        orders.groupBy(F.year(F.col(date_col)).alias("year"))
        .agg(
            sum_money(amount_col).alias("total_revenue"),
            F.count("*").cast("long").alias("n_orders"),
            avg_money(amount_col).alias("avg_order_value"),
        )
    )


def grand_totals(df: DataFrame, value_col: str, ts_col: str) -> DataFrame:
    """A7: keyless whole-table aggregate (min/max dates + value stats,
    ``generate_dim_date.py:49-54``, ``explore_global_dw_aggregates.py:155-162``)."""
    v = F.col(value_col)
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct(ts_col).cast("long").alias("n_distinct_ts"),
        F.min(ts_col).alias("min_ts"),
        F.max(ts_col).alias("max_ts"),
        F.sum(v.cast("decimal(30,6)")).cast("double").alias("sum_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Session assignment by inactivity gap (``F.session_window``): events of
    one key within ``gap`` of each other merge into one session; a session's
    end is reported as ``last_event + gap``.  The merge is INCLUSIVE: an
    event at exactly ``last_event + gap`` still joins the session (probed
    r10 — Spark merges the tie; the repo's gaps-and-islands oracles use
    ``> gap`` accordingly, defect class #9: the old ``>=`` oracles agreed
    with the engine only because no exact-tie pair existed in any data
    vintage).

    One shuffle on the key; session merging is Spark's native session-window
    state logic, streaming-capable with a watermark (the same expression
    works under ``readStream``).
    """
    out = df.groupBy(key_col, F.session_window(ts_col, gap).alias("__sw")).agg(
        *(aggs or [F.count("*").alias("n_events")])
    )
    return out.select(
        key_col,
        F.col("__sw.start").alias("session_start"),
        F.col("__sw.end").alias("session_end"),
        *[c for c in out.columns if c not in (key_col, "__sw")],
    )


_MICROS_PER = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def _duration_micros(s: str) -> int:
    """'30 minutes' / '1 day' → micros (the subset session ops use)."""
    n, unit = s.split()
    return int(n) * _MICROS_PER[unit.rstrip("s")]


def sessionize_bucketed(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    bucket: str = "1 day",
    partial_aggs: list[Column] | None = None,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Skew-robust :func:`sessionize`: bucket-and-stitch instead of one
    per-key merging sort.

    ``session_window`` (and the gaps-and-islands window) concentrates
    EVERY row of a key into one task — the r10 skew sweep measures the
    planted 20%-hot user at 4.8× the median task time at skew10, and the
    ratio grows linearly with data.  This splits the work by coarse time
    bucket first:

    1. **local pass** — gaps-and-islands windowed by ``(key, bucket)``
       (the hot key now spreads across #buckets tasks; rows per task are
       bounded by the key's per-bucket activity, not its total);
    2. **stitch pass** — only a bucket's temporally FIRST and LAST local
       session can merge across the boundary (any middle session is
       separated from both by ≥ gap inside its own bucket), so the
       boundary frame is ≤ 2 rows per (key, bucket) — bounded by
       time-range/bucket, independent of row count.  A second
       gaps-and-islands over that small frame chains multi-bucket
       sessions, and SUM-combinable partials merge per chain.

    ``partial_aggs``: phase-1 aggregate Columns whose phase-2 combine is
    SUM (count → sum, decimal sum → sum) — the caller casts/rounds AFTER.
    Semantics equal :func:`sessionize` exactly — including the INCLUSIVE
    merge at an exactly-``gap`` tie (defect class #9; see
    :func:`sessionize`) — for any ``bucket ≥ gap``; equivalence is
    pytest-pinned on boundary-crossing and exact-tie data and the
    registered ``user_sessions_bucketed`` carries the window query's
    oracle verbatim.
    """
    _assert_temp_names_free(
        df,
        ("__tm", "__bkt", "__new", "__sid", "__smin", "__send", "__is_edge",
         "__chain"),
        "sessionize_bucketed",
    )
    gap_us = _duration_micros(gap)
    bkt_us = _duration_micros(bucket)
    if bkt_us < gap_us:
        raise ValueError(
            f"bucket ({bucket}) must be >= gap ({gap}): a session can "
            "span at most one boundary per bucket only when buckets are "
            "at least gap-sized"
        )
    ties = [F.col(t) for t in (tiebreakers or [])]
    # session_window silently DROPS null-timestamp rows (no session to
    # assign them to); match that here, or the bucketed form would emit
    # an extra NULL-start/NULL-end session per key and diverge from
    # :func:`sessionize` on exactly the NULL-degradation shapes the
    # equivalence tests pin (r10 ADVICE)
    df = df.filter(F.col(ts_col).isNotNull())
    # NTZ timestamps go through a cast (the engine pins the session to
    # UTC, so the instant equals the NTZ value and the mapping is
    # monotone — same contract as streaming/pipeline.stream_events)
    base = df.withColumn(
        "__tm", F.unix_micros(F.col(ts_col).cast("timestamp"))
    ).withColumn("__bkt", F.expr(f"__tm div {bkt_us}"))
    w = Window.partitionBy(key_col, "__bkt").orderBy(F.col("__tm"), *ties)
    flagged = base.withColumn(
        "__new",
        F.when(
            F.lag("__tm").over(w).isNull()
            | (F.col("__tm") - F.lag("__tm").over(w) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn(
        "__sid",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    partials = list(partial_aggs or [F.count("*").alias("n_events")])
    local = flagged.groupBy(key_col, "__bkt", "__sid").agg(
        F.min("__tm").alias("__smin"),
        (F.max("__tm") + gap_us).alias("__send"),
        *partials,
    )
    reserved = {key_col, "__bkt", "__sid", "__smin", "__send"}
    names = [c for c in local.columns if c not in reserved]
    # phase 2 over microseconds: ``__send`` already carries ``+ gap``, the
    # shape :func:`stitch_sessions` expects; distinct sessions of one key
    # never share ``__smin``
    out = stitch_sessions(
        local, key_col, "__bkt", start_col="__smin", end_col="__send",
        sum_cols=names,
    )
    # return the INPUT column's timestamp flavor (an NTZ input yields NTZ
    # session bounds, matching what session_window does — and what the
    # driver's collect-side tz conversion expects)
    ts_type = df.schema[ts_col].dataType.simpleString()
    return out.select(
        key_col,
        F.timestamp_micros(F.col("__smin")).cast(ts_type).alias(
            "session_start"
        ),
        F.timestamp_micros(F.col("__send")).cast(ts_type).alias(
            "session_end"
        ),
        *names,
    )


def stitch_sessions(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    gap: str = "30 minutes",
    start_col: str = "session_start",
    end_col: str = "session_end",
    sum_cols: list[str] | None = None,
) -> DataFrame:
    """Merge per-bucket LOCAL sessions into global ones — the batch
    stitch pass of bucket-and-stitch sessionization, factored out so a
    STREAMING stage can produce the local sessions (r11 VERDICT #2).

    Input rows must be gap-maximal within each ``(key, bucket)`` (what
    ``session_window`` grouped by ``(key, day)`` emits: ``end`` = last
    event + gap), with ``bucket ≥ gap``.  Then only a bucket's
    temporally FIRST and LAST local session can merge across a boundary
    (a middle session is ≥ gap from both inside its own bucket), so the
    chain pass runs on ≤ 2 rows per (key, bucket) — bounded by
    time-range/bucket, independent of row count — while middle sessions
    pass through untouched.  Two local sessions merge when
    ``next.start ≤ prev.end`` (``end`` already carries ``+ gap``; the
    tie is INCLUSIVE, matching ``session_window``'s merge of an event at
    exactly last + gap — defect class #9).  ``sum_cols``: partial
    aggregate columns whose combine is SUM.  :func:`sessionize_bucketed`
    runs its phase 2 through this function over microsecond columns."""
    _assert_temp_names_free(
        df, ("__is_edge", "__chain"), "stitch_sessions"
    )
    sums = list(sum_cols or [])
    pb = Window.partitionBy(key_col, bucket_col)
    flagged = df.withColumn(
        "__is_edge",
        (F.col(start_col) == F.min(start_col).over(pb))
        | (F.col(start_col) == F.max(start_col).over(pb)),
    )
    middle = flagged.filter(~F.col("__is_edge")).drop(
        "__is_edge", bucket_col
    )
    wc = Window.partitionBy(key_col).orderBy(start_col)
    chained = flagged.filter(F.col("__is_edge")).withColumn(
        "__chain",
        F.sum(
            F.when(
                F.lag(end_col).over(wc).isNull()
                | (F.col(start_col) > F.lag(end_col).over(wc)),
                1,
            ).otherwise(0)
        ).over(wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    merged = (
        chained.groupBy(key_col, "__chain")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
            *[F.sum(c).alias(c) for c in sums],
        )
        .drop("__chain")
    )
    cols = [key_col, start_col, end_col, *sums]
    return middle.select(*cols).unionByName(merged.select(*cols))


def sequence_number_bucketed(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreakers: list[str],
    out_col: str = "seq",
    bucket: str = "1 day",
) -> DataFrame:
    """Skew-robust per-key sequence numbering (W2): equals
    ``ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts, ties…)`` without
    sorting every row of a key inside one task.

    The plain window concentrates a hot key's entire history into one
    task (the r10 skew sweep measures ``seq_number_hot_user`` at 1.24×
    median task time on the planted 20%-hot key, growing with data).
    Bucketed form:

    1. **local pass** — ``row_number`` windowed by ``(key, time-bucket)``:
       the hot key spreads across #buckets tasks, each task bounded by
       the key's per-bucket activity;
    2. **offset pass** — per-(key, bucket) row counts (≤1 row per
       key·bucket — bounded by time-range/bucket, independent of row
       count), prefix-summed per key ordered by bucket;
    3. **combine** — join the offsets back on ``(key, bucket)`` (both
       sides already hash-partitioned on those keys; AQE broadcasts the
       offsets frame when it is small) and add: ``seq = local + offset``.

    Bucketing is a pure function of the LEADING order column, so bucket
    order respects ``ts`` order and ordering within a bucket by
    ``(ts, ties…)`` equals the global window order — equivalence is
    hash-proven (``union_activity_bucketed`` carries ``union_activity``'s
    oracle verbatim).  Rows with NULL ``ts`` land in a sentinel first
    bucket, matching the window form's ASC NULLS FIRST placement; rows
    with a NULL key survive too (null-safe offsets join) — one NULL-key
    partition, exactly like the window form."""
    _assert_temp_names_free(
        df,
        ("__tm", "__bkt", "__lrn", "__cnt", "__off", "__ok", "__ob"),
        "sequence_number_bucketed",
    )
    bkt_us = _duration_micros(bucket)
    ties = [F.col(t) for t in tiebreakers]
    # sentinel keeps the null-ts bucket joinable (plain equi-join drops
    # null keys) and first in bucket order (= NULLS FIRST of the window)
    sentinel = -(1 << 62)
    base = df.withColumn(
        "__tm", F.unix_micros(F.col(ts_col).cast("timestamp"))
    ).withColumn(
        "__bkt", F.coalesce(F.expr(f"__tm div {bkt_us}"), F.lit(sentinel))
    )
    wl = Window.partitionBy(key_col, "__bkt").orderBy(
        F.col("__tm").asc_nulls_first(), *ties
    )
    local = base.withColumn("__lrn", F.row_number().over(wl))
    counts = local.groupBy(key_col, "__bkt").agg(F.count("*").alias("__cnt"))
    wo = (
        Window.partitionBy(key_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(wo), F.lit(0))
    ).select(
        F.col(key_col).alias("__ok"), F.col("__bkt").alias("__ob"), "__off"
    )
    # NULL-safe on the key: the window form (and the SQL oracles) treat
    # NULL keys as their own partition, so a plain equi-join here would
    # silently drop them (r11 review — the same defect class as the r9
    # eqNullSafe broadcast-join finding); __bkt is never NULL (sentinel)
    return (
        local.join(
            offsets,
            F.col(key_col).eqNullSafe(F.col("__ok"))
            & (F.col("__bkt") == F.col("__ob")),
            "inner",
        )
        .withColumn(out_col, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__tm", "__bkt", "__lrn", "__off", "__ok", "__ob")
    )


def sequence_number_hybrid(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreakers: list[str],
    out_col: str = "seq",
    bucket: str = "1 day",
    hot_multiple: float = 8.0,
    straggler_task_multiple: float = 2.0,
    max_hot_keys: int = 1_000,
    sample_fraction: float = 1.0,
    min_sampled_rows: int = 20,
) -> DataFrame:
    """Per-key sequence numbering routed by KEY HEAT (r11 VERDICT #1):
    hot keys take :func:`sequence_number_bucketed`, everything else the
    plain ``row_number`` window — same output either way (equivalence is
    hash-proven), so routing is purely a physical-plan decision.

    Why not always-bucketed: the r11 sf10 sweep priced the bucketed form
    at **3.3×** the window form on UNIFORM data (extra per-bucket window
    + offsets join) while the window form's measured skew was only 1.35×
    at skew30 — paying 3.3× everywhere to hedge a 1.35× shape was the
    wrong default (r11 ``weak`` #1, the ``global_dw_catalog``
    regression).  Why not always-window: one task holds a hot key's
    ENTIRE history — a guaranteed straggler at 100 TB.  The router pays
    one cheap column-pruned ``groupBy(key).count()`` pass, then:

    - a key is HOT when its row count exceeds
      ``max(hot_multiple × mean rows/key,
      straggler_task_multiple × total rows / shuffle partitions)`` —
      the first term is relative concentration, the second is the
      straggler criterion proper (a key bigger than a few tasks' fair
      share serializes its task no matter how many keys exist);
    - hot keys are collected as a bounded literal list (≤
      ``max_hot_keys``; the IN-predicate routes WITHOUT a join or extra
      shuffle).  More hot keys than the cap — a pathological
      everything-is-hot distribution — falls back to all-bucketed,
      the conservative plan;
    - no hot keys (the common, uniform case): the whole frame takes the
      window path — total cost is the window plan plus the counts pass.

    NULL keys route like any other key (the window form puts them in one
    partition; if that partition is hot it belongs on the bucketed
    path).

    ``sample_fraction`` < 1 measures key heat on a seeded SAMPLE instead
    of exact counts: routing is a purely physical decision (both paths
    produce identical output), and a straggler key by definition holds
    ≥ a task's fair share of rows — a fraction that survives any
    uniform sample — so exact counts buy nothing but a full extra
    aggregate (measured at sf10: the exact pass cost 1.76× the plain
    window it was routing for).  All thresholds compare in SAMPLED
    units; ``min_sampled_rows`` floors the threshold so Poisson flukes
    on rare keys can't route them (keys too small to appear ≥ that
    often in the sample are by construction too small to straggle at a
    sensible fraction).  The sampled-mean term overstates the true mean
    (keys with zero sampled rows drop out) — conservative: it only
    raises the bar for the relative term, never the straggler term."""
    src = (
        df
        if sample_fraction >= 1.0
        else df.sample(fraction=sample_fraction, seed=42)
    )
    # persist the counts frame: the stats row and the hot-key probe are
    # two jobs over it, and without the persist each would re-scan the
    # source (two extra column-pruned passes instead of one)
    counts = src.groupBy(key_col).agg(F.count("*").alias("__hcnt")).persist()
    try:
        stats = counts.agg(
            F.avg("__hcnt").alias("mean"), F.sum("__hcnt").alias("total")
        ).collect()[0]
        if stats["total"] is None:  # empty input: window path, no extra work
            return _sequence_window(df, key_col, ts_col, tiebreakers, out_col)
        n_shuffle = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        thr = max(
            hot_multiple * float(stats["mean"]),
            straggler_task_multiple
            * float(stats["total"])
            / max(n_shuffle, 1),
        )
        if sample_fraction < 1.0:
            thr = max(thr, float(min_sampled_rows))
        # bounded-metadata collect: hot keys only, capped — the cap probe
        # is limit(max+1), the same pattern as the medallion touched-keys
        # read
        hot_rows = (
            counts.filter(F.col("__hcnt") > thr)
            .select(key_col)
            .limit(max_hot_keys + 1)
            .collect()
        )
    finally:
        counts.unpersist()
    if len(hot_rows) > max_hot_keys:
        return sequence_number_bucketed(
            df, key_col, ts_col, tiebreakers, out_col=out_col, bucket=bucket
        )
    if not hot_rows:
        return _sequence_window(df, key_col, ts_col, tiebreakers, out_col)
    keys = [r[0] for r in hot_rows]
    non_null = [k for k in keys if k is not None]
    in_hot = F.col(key_col).isin(non_null) if non_null else F.lit(False)
    # three-valued logic: isin() is NULL on a NULL key — resolve it to
    # whether the NULL-key group itself was measured hot, so the cold
    # branch's negation can't silently drop NULL-key rows
    is_hot = F.when(
        F.col(key_col).isNull(), F.lit(None in keys)
    ).otherwise(in_hot)
    hot_seq = sequence_number_bucketed(
        df.filter(is_hot), key_col, ts_col, tiebreakers,
        out_col=out_col, bucket=bucket,
    )
    cold_seq = _sequence_window(
        df.filter(~is_hot), key_col, ts_col, tiebreakers, out_col
    )
    return cold_seq.unionByName(hot_seq.select(*cold_seq.columns))


def _sequence_window(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreakers: list[str],
    out_col: str,
) -> DataFrame:
    """The plain W2 form: ``ROW_NUMBER() OVER (PARTITION BY key ORDER BY
    ts NULLS FIRST, ties…)`` — the right plan when no key dominates."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc_nulls_first(), *[F.col(t) for t in tiebreakers]
    )
    return df.withColumn(out_col, F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (incremental rollup maintenance)
# ---------------------------------------------------------------------------
def sketch_distinct_rollup(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HyperLogLog sketches of ``value_col`` — the MERGEABLE
    building block for distinct counts at 100 TB.

    COUNT(DISTINCT) is not decomposable: yesterday's count plus today's
    count over-counts returning values, so exact incremental maintenance
    must re-scan history.  An HLL sketch IS decomposable — union of
    partials equals the sketch of the union, exactly (same algorithm,
    associative) — so a gold table can store one small binary sketch per
    (day, dim) and answer "distinct users over ANY date range" by unioning
    sketches, never re-reading raw events.  ``lg_k=12`` ≈ 4 KB per sketch,
    ~1.6% relative error."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
    )


def sketch_union_estimate(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str = "sketch",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Roll stored sketches up to coarser groups: union partial sketches
    and estimate.  One hash aggregate over the (tiny) sketch table."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(out_col)
    )


def cms_cells(
    token_counts: DataFrame,
    token_col: str = "token",
    count_col: str = "n",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch cells (Cormode & Muthukrishnan 2005) from a
    pre-aggregated token-count table: (j, bucket, c) with
    ``bucket = md5-hash_j(token) % width`` for each of ``depth``
    independent hash rows.

    CMS updates are additive, so folding pre-aggregated counts is
    identical to per-occurrence updates — and cells MERGE across corpus
    shards / time partitions by plain cell-wise addition, which is the
    whole point at 100 TB: a gold layer stores one depth x width integer
    grid per partition (~32 KB here) and answers frequency queries over
    any partition range by summing grids, never re-reading tokens.

    The hash family is the first 7 hex digits of ``md5(j || ':' || token)``
    — bit-identical in Spark and DuckDB (same engine-portability argument
    as ``corpus.hash_bucket``), so unlike the HLL family the *entire*
    sketch, not just an error bound, is oracle-checkable.  Rows explode
    ``depth`` ways off the vocab-sized count table (never off the corpus
    stream), then one hash aggregate collapses to the fixed grid.
    """
    rows = token_counts.select(
        F.col(token_col).alias("__t"),
        F.col(count_col).alias("__c"),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("j"), F.col("__t"))), 1, 7
            ),
            16,
            10,
        ).cast("bigint")
        % width
    )
    return rows.groupBy("j", bucket.alias("bucket")).agg(
        F.sum("__c").cast("long").alias("c")
    )


def cms_estimates(
    cells: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-frequency estimates for ``probes[token_col]`` from CMS cells:
    min over the ``depth`` rows of the probed cell (0 when the cell was
    never touched).  Guarantees estimate >= true count (no false
    negatives); overestimate is bounded by collisions.  The cells side is
    a fixed ``depth*width`` grid — always a broadcast build."""
    p = probes.select(F.col(token_col).alias("__t")).distinct()
    fanned = p.select(
        "__t",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("j"), F.col("__t"))), 1, 7
            ),
            16,
            10,
        ).cast("bigint")
        % width,
    )
    return (
        fanned.join(F.broadcast(cells), ["j", "bucket"], "left")
        .groupBy("__t")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_count"))
        .select(F.col("__t").alias(token_col), "cms_count")
    )
