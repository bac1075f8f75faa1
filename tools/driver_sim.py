"""Simulate the driver's verify pass against this repo's contract.

Creates a *vanilla* SparkSession (deliberately NOT the engine's factory — the
driver owns its session), imports ``__spark_entry__``, smoke-checks
``entry()``, then runs every ``queries()`` entry at the given sf dir and
checks it with :func:`compare` against ``oracle_sql()`` run in DuckDB.

:func:`compare` and :func:`duck_views` are the one Spark-vs-DuckDB check:
``tools/oracle_gate.py`` and the tier-1 tests call them too.

Usage: python tools/driver_sim.py [sf_dir] [query_name ...]
(with query names given, only those queries are checked and entry() is
skipped — for fast targeted iteration)
"""

from __future__ import annotations

import datetime
import math
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e_commerce_data_lakehouse_spark.catalog import TESTDATA_TABLES  # noqa: E402


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        [tuple(norm_cell(r[i]) for i in order) for r in rows], key=repr
    )


def canon_type(t: str) -> str:
    """Map a DuckDB DESCRIBE type or Spark simpleString to one canonical
    name, so the type-sensitivity of the driver's value hash can be
    simulated.  Integer widths stay distinct (the driver's hash treats
    DuckDB HUGEINT vs Spark BIGINT as a mismatch — CORRECTNESS_r01
    customer_360); timestamp flavors are collapsed (the driver's own
    normalization strips tz)."""
    t = t.strip().lower()
    if t.endswith("[]"):  # DuckDB list syntax
        return f"list<{canon_type(t[:-2])}>"
    if t.startswith("array<") and t.endswith(">"):
        return f"list<{canon_type(t[6:-1])}>"
    if t.startswith("timestamp"):
        return "timestamp"
    aliases = {
        "integer": "int",
        "varchar": "string",
        "hugeint": "int128",
        "ubigint": "uint64",
        "real": "float",
    }
    return aliases.get(t, t)


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table in ``sf_dir``.
    A table is ``<name>.parquet``, a file or a directory of part files;
    a table the directory lacks gets no view (generator directories may
    hold a subset)."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p += "/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(dtypes, rows, con, sql: str) -> list[str]:
    """Check a Spark result against the oracle ``sql`` run on ``con``.

    ``dtypes`` is the frame's ``(name, simpleString)`` list and ``rows``
    its collected rows as tuples.  Checked: sorted column names, then
    ``canon_type`` types, row count and the ``normalize``d value multiset.
    Returns the problems found; an empty list is a hash-match.  An error
    raised by the oracle propagates."""
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    scols = [c for c, _ in dtypes]
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
    else:
        otypes = {
            r[0]: canon_type(r[1])
            for r in con.execute(f"DESCRIBE {sql}").fetchall()
        }
        stypes = {c: canon_type(t) for c, t in dtypes}
        mism = {
            c: (stypes[c], otypes[c])
            for c in stypes
            if stypes[c] != otypes.get(c)
        }
        if mism:
            problems.append(f"types spark!=oracle {mism}")
    if len(rows) != len(orows):
        problems.append(f"rowcount {len(rows)} != {len(orows)}")
    if not problems:
        a, b = normalize(rows, scols), normalize(orows, ocols)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
            problems.append(f"values differ, e.g. {diff}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as mod

    con = duck_views(sf_dir)

    only = set(sys.argv[2:])
    if not only:
        n = mod.entry(spark).count()
        print(f"entry(): OK rows={n}")

    queries = mod.queries()
    oracles = mod.oracle_sql()
    if only:
        unknown = only - set(queries)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 1
        queries = {k: v for k, v in queries.items() if k in only}
    failed = []
    for name, fn in sorted(queries.items()):
        try:
            sdf = fn(spark, sf_dir)
            dtypes = sdf.dtypes
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only check, {len(srows)} rows")
            continue
        try:
            problems = compare(dtypes, srows, con, oracles[name])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle raised {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failed.append(name)
        else:
            print(f"ok    {name}: {len(srows)} rows hash-match")
    print(f"\n{len(queries) - len(failed)}/{len(queries)} queries pass")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
