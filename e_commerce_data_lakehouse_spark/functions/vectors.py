"""Vector/embedding functions: cosine similarity, dot product, norms.

Implemented as Catalyst higher-order functions (``zip_with`` +
``aggregate``) over ``array<float>`` columns cast to double — JVM-side,
codegen-friendly, no UDF.  The fold order inside one array is fixed
(left-to-right), so results are deterministic; final values are rounded
before they participate in ranking or hashing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, scale: int = 6) -> Column:
    """Rounded cosine similarity.  Rounding (default 1e-6) absorbs the
    associativity noise between engines so ranking and hash-matching are
    stable."""
    return F.round(dot(a, b) / (norm(a) * norm(b)), scale)


def dot_fixed_sql(a_sql: str, b_sql: str, dim: int) -> str:
    """Unrolled fixed-dimension dot product as ONE SQL string.

    ``zip_with``/``aggregate`` higher-order functions run in the
    interpreted expression evaluator per ELEMENT — measured ~45M lambda
    evals for one sf0.3 semantic-dedup pair stage (the whole query's hot
    loop).  With the dimension known, the same sum unrolls into plain
    arithmetic that whole-stage codegen compiles.  The leading
    ``CAST(0 AS DOUBLE)`` and left-to-right association reproduce the
    fold's float addition order EXACTLY, so results are bit-identical to
    :func:`dot` (pinned by ``tests/test_similarity.py``).
    """
    terms = " + ".join(
        f"CAST({a_sql}[{i}] AS DOUBLE) * CAST({b_sql}[{i}] AS DOUBLE)"
        for i in range(dim)
    )
    return f"(CAST(0 AS DOUBLE) + {terms})"


def norm_fixed(a_sql: str, dim: int) -> Column:
    """Unrolled fixed-dimension L2 norm (``SQRT`` of :func:`dot_fixed_sql`
    of a vector with itself), for precomputing per-ROW norms before a
    pair join (norms cost n evaluations instead of n², and the post-join
    stage shrinks to one unrolled sum — see :func:`cosine_prenormed`)."""
    return F.expr(f"SQRT({dot_fixed_sql(a_sql, a_sql, dim)})")


def cosine_prenormed(
    a_sql: str, b_sql: str, na_sql: str, nb_sql: str, dim: int,
    scale: int = 6,
) -> Column:
    """Fixed-dimension :func:`cosine` as one parsed codegen expression,
    with the two norms read from precomputed columns (built with
    :func:`norm_fixed` BEFORE the pair join).  Same rounding and float
    op order as :func:`cosine` — ``ROUND(dot / (na * nb), scale)`` —
    and the post-join expression holds ONE unrolled sum instead of
    three.  That matters twice at scale: norms are evaluated once per row
    instead of once per pair, and a predicate on the cosine no longer
    blows the whole-stage-codegen method over Janino's 64 KB limit when
    Catalyst duplicates the expression into the pushed-down filter (observed: the label-blocked 64-dim pair
    stage compiled interpreted before this split).
    """
    d = dot_fixed_sql(a_sql, b_sql, dim)
    return F.expr(f"ROUND({d} / ({na_sql} * {nb_sql}), {scale})")


def infer_dim(df, vec_col: str) -> int:
    """Array length of ``vec_col`` from one row (bounded scalar job).
    All vectors in a column share one dimension by contract; a ragged row
    surfaces as an ANSI index error in the unrolled expression instead of
    a silent null."""
    row = df.selectExpr(f"size({vec_col}) AS s").first()
    return int(row["s"])
