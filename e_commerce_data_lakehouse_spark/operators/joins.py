"""Join operators: star joins, date-key lookups, fold-joins.

Reference behaviors covered: J1 (left equi-join on column list,
``silver_to_gold_transactions.py:97``), J2 (join on ``to_date(ts) ==
full_date``, ``silver_to_gold_transactions.py:98``), J3 (inner key join),
J4 (left enrichment + fillna flag, ``create_global_dw.py:130-133``),
J5 (iterated fold of left joins, ``create_global_dw.py:325-331``),
P10 (-1 date-key sentinel, ``silver_to_gold_transactions.py:113``).

Scale notes: dimension sides are explicitly ``broadcast()``-hinted when the
caller declares them small (dims in a star schema are orders of magnitude
smaller than facts); large-dim joins are left to AQE, which will pick
sort-merge + skew-split at runtime.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def star_join(
    fact: DataFrame,
    dims: list[tuple[DataFrame, list[str] | Column, str]],
) -> DataFrame:
    """Join a fact to several dimensions.

    ``dims`` entries are (dim_df, join_on, how).  Dimension inputs are
    broadcast-hinted — in a star schema the dim side is small relative to the
    fact, and a broadcast-hash join avoids shuffling the 100 TB fact side.
    """
    out = fact
    for dim, on, how in dims:
        out = out.join(F.broadcast(dim), on, how)
    return out


def date_key_lookup(
    df: DataFrame,
    dim_date: DataFrame,
    ts_col: str,
    out_col: str = "date_key",
    sentinel: int = -1,
) -> DataFrame:
    """Left-join dim_date on ``to_date(ts) == full_date``; unmatched rows get
    the -1 sentinel (never NULL) — J2 + P9 + P10."""
    dd = F.broadcast(dim_date.select("date_key", "full_date"))
    joined = df.join(dd, F.to_date(F.col(ts_col)) == F.col("full_date"), "left")
    return (
        joined.withColumn(out_col, F.coalesce(F.col("date_key"), F.lit(sentinel)))
        .drop("full_date")
        .drop(*(["date_key"] if out_col != "date_key" else []))
    )


def fold_left_join(
    base: DataFrame,
    others: list[DataFrame],
    on: list[str],
    fill_zero_cols: list[str] | None = None,
) -> DataFrame:
    """J5: fold a list of per-domain metric DataFrames onto a base via left
    joins, then zero-fill metric columns (``create_global_dw.py:325-338``)."""
    out = reduce(lambda acc, d: acc.join(d, on, "left"), others, base)
    if fill_zero_cols:
        out = out.fillna(dict.fromkeys(fill_zero_cols, 0))
    return out


def salted_join(
    large: DataFrame,
    small: DataFrame,
    keys: list[str],
    n_salts: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-busting equi-join: hot keys on the large side are spread across
    ``n_salts`` shuffle partitions; the small side is replicated ×n_salts so
    every salted partition still finds its match.

    AQE's skew-join split (enabled in the session factory) handles most skew
    at runtime; explicit salting is for the pathological case AQE can't fix —
    a single key too hot for ANY single task (e.g. one user with 1% of a
    100 TB fact).  Cost: small side shuffles ×n_salts — use only when
    ``small`` is modest (but too big / too row-multiplying to broadcast).

    Only ``inner`` and ``left`` (outer on the LARGE side) preserve join
    semantics under salting: the small side is replicated ×n_salts, so a
    right/full outer join would emit every unmatched small-side row once
    per salt replica.  Those modes are rejected.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "the small side is replicated per salt, so right/full outer "
            "would duplicate unmatched small-side rows n_salts times"
        )
    salt = F.floor(F.rand(seed) * n_salts).cast("int")
    l_salted = large.withColumn("__salt", salt)
    s_salted = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l_salted.join(s_salted, [*keys, "__salt"], how).drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` for the same key (backward, inclusive — DuckDB /
    pandas ``merge_asof`` semantics).  Spark has no built-in as-of join; the
    classic range-join formulation explodes into an inequality cross join.

    Plan shape: union both sides tagged, ONE shuffle+sort on
    ``(key, ts, tag)``, then ``last(col, ignorenulls)`` over an unbounded
    preceding window carries the most recent right values forward onto left
    rows — O(n log n) total, no pairwise product, partitioned by key so a
    1000-executor cluster sorts each key's timeline locally.

    ``tolerance`` (optional, an SQL interval body like ``'1 HOUR'``)
    bounds the lookback — pandas ``merge_asof(tolerance=...)`` semantics:
    a match older than ``left_ts − tolerance`` is nulled out (inclusive
    at the boundary).  The carried match timestamp makes this a pure
    post-window projection: same single shuffle, no extra pass.

    ``right`` must be unique per ``(on, right_ts)`` (pre-dedup with
    ``keep_latest``) — equal-timestamp duplicates would make "the" latest
    row ambiguous.
    """
    l_tagged = left.withColumn("__t", F.col(left_ts)).withColumn("__tag", F.lit(1))
    r_tagged = (
        right.select(F.col(on), F.col(right_ts).alias("__t"), *right_cols)
        .withColumn("__tag", F.lit(0))
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # right rows sort before left rows at equal ts (tag 0 < 1) -> inclusive
    w = (
        Window.partitionBy(on)
        .orderBy("__t", "__tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fill_cols = list(right_cols)
    if tolerance is not None:
        # carry the matched right timestamp so the tolerance check is a
        # projection on the already-windowed frame
        unioned = unioned.withColumn(
            "__rt", F.when(F.col("__tag") == 0, F.col("__t"))
        )
        fill_cols.append("__rt")
    filled = unioned.select(
        "*",
        *[
            F.last(c, ignorenulls=True).over(w).alias(f"__asof_{c}")
            for c in fill_cols
        ],
    )
    out = filled.filter(F.col("__tag") == 1)
    if tolerance is not None:
        in_window = F.col("__asof___rt") >= F.col("__t") - F.expr(
            f"INTERVAL {tolerance}"
        )
        for c in right_cols:
            out = out.withColumn(
                f"__asof_{c}", F.when(in_window, F.col(f"__asof_{c}"))
            )
        out = out.drop("__rt", "__asof___rt")
    out = out.drop("__tag", "__t", *right_cols)
    for c in right_cols:
        out = out.withColumnRenamed(f"__asof_{c}", c)
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    bucket_width: int,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Scale-safe point-in-interval join: left rows whose numeric
    ``left_point`` falls in ``[right_start, right_end]`` (inclusive).

    Spark plans a raw inequality join as BroadcastNestedLoopJoin — the one
    shape that can never scale out (and that the repo-wide plan sweep
    forbids).  Grid bucketing restores an equi-join: points land in
    ``floor(p / w)``; each interval explodes to every bucket it overlaps;
    the join key is the bucket (plus any ``extra_keys``), followed by the
    exact BETWEEN filter.  A matching pair meets in exactly ONE bucket
    (the point's), so no dedup pass is needed.  Explode factor is
    ``interval_len / w + 1`` — pick ``bucket_width`` near the typical
    interval length so it stays O(1).

    Inner join only: outer semantics don't survive the interval explode
    (same reasoning as ``salted_join``).  Columns must be numeric — cast
    timestamps/dates to epoch units first.
    """
    lb = F.floor(F.col(left_point) / bucket_width).alias("__rjb")
    l2 = left.withColumn("__rjb", lb)
    r2 = right.withColumn(
        "__rjb",
        F.explode(
            F.sequence(
                F.floor(F.col(right_start) / bucket_width),
                F.floor(F.col(right_end) / bucket_width),
            )
        ),
    )
    keys = [*(extra_keys or []), "__rjb"]
    return (
        l2.join(r2, keys, "inner")
        .filter(F.col(left_point).between(F.col(right_start), F.col(right_end)))
        .drop("__rjb")
    )
