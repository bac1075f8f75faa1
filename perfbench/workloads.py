"""The workloads: the write-path increments and the analyst read path.

Each workload prepares its seeded inputs (untimed, cached), sets up a
warm lakehouse or session state (timed as set-up), and then offers one
operation that the runner times from the outside.  Every operation
starts from the same state: before each delivery the increments
workload restores its lakehouses from snapshots taken after set-up, so
every operation does the same kind of work and their median compares
like with like.  Output checks run after each operation, untimed.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

import inputs


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        if root == path:
            dirs[:] = [d for d in dirs if d not in skip]
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def file_state(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def duckdb_rows(sql: str, tables: dict[str, object]) -> tuple[list, list]:
    import duckdb

    con = duckdb.connect()
    try:
        for name, src in tables.items():
            if isinstance(src, str):
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')"
                )
            else:
                con.register(name, src)
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def same_rows(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """None when both results hold the same rows (driver_sim's
    normalization: column order and row order do not matter)."""
    from driver_sim import normalize

    if sorted(spark_cols) != sorted(oracle_cols):
        return f"columns {sorted(spark_cols)} != {sorted(oracle_cols)}"
    if len(spark_rows) != len(oracle_rows):
        return f"{len(spark_rows)} rows != oracle {len(oracle_rows)}"
    a = normalize([tuple(r) for r in spark_rows], list(spark_cols))
    b = normalize([tuple(r) for r in oracle_rows], list(oracle_cols))
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, e.g. {diff}"
    return None


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class Workload:
    """Interface the runner drives; see the module docstring."""

    name = ""
    lakehouse = ""  # directory whose written files an operation counts

    def __init__(self, work: str, cache: str, seed: int, span) -> None:
        self.work = work
        self.cache = cache
        self.seed = seed
        self.span = span  # context-manager factory; no-op when untraced
        self.detail: dict[str, float] = {}  # per-part seconds of last op

    def prepare(self) -> None:
        """Build or load the seeded inputs (untimed)."""

    def setup(self, spark) -> None:
        """Warm state before the first operation (timed as set-up)."""

    def after_setup(self) -> None:
        """Untimed work that follows set-up."""

    def stage(self, op: int) -> None:
        """Untimed preparation of operation ``op``."""

    def run(self, op: int) -> None:
        """The timed operation."""

    def check(self, op: int) -> list[str]:
        """Problems found in the operation's output (untimed)."""
        return []

    def final_check(self, last_op: int) -> list[str]:
        return []

    def input_rows(self, op: int) -> int:
        raise NotImplementedError

    def stored_ratio(self, op: int) -> float:
        """Bytes stored after the operation per input byte it was given."""
        raise NotImplementedError


class _Snapshot:
    """A lakehouse directory restored from a snapshot before each op.

    The lakehouse is always rebuilt at the same absolute path, because
    the file ledger and the lineage column record absolute file paths."""

    def __init__(self, live: str, snap: str) -> None:
        self.live, self.snap = live, snap

    def take(self) -> None:
        shutil.copytree(self.live, self.snap)

    def restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snap, self.live)


class OrdersPart(Workload):
    """Quarterly gen-sf1 ``orders`` deliveries through the orders
    medallion (bronze, silver MERGE, gold star, rollup, catalog) onto a
    lakehouse that already holds the first quarter."""

    def prepare(self) -> None:
        self.quarters = inputs.orders_quarters(self.cache, self.seed)
        self.work = os.path.join(self.work, "orders")
        self.base = self.quarters[0]
        self.lakehouse = os.path.join(self.work, "lakehouse")
        self.snap = _Snapshot(self.lakehouse, os.path.join(self.work, "snap"))
        self.deliveries: dict[int, tuple[pa.Table, str]] = {}

    def _drop(self, n: int, table: pa.Table) -> str:
        d = os.path.join(self.lakehouse, "raw", f"drop_{n:03d}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-0.csv")
        pcsv.write_csv(table, path)
        return path

    def _pipeline(self, spark) -> None:
        from e_commerce_data_lakehouse_spark.plans.medallion import (
            e2e_orders_pipeline,
        )

        e2e_orders_pipeline(spark, self.cache, self.lakehouse)

    def setup(self, spark) -> None:
        self.spark = spark
        self.base_csv = self._drop(0, self.base)
        self._pipeline(spark)
        self.snap.take()
        self.stage(-1)  # warm-up delivery (the last quarter), discarded
        self.run(-1)

    def stage(self, op: int) -> None:
        self.snap.restore()
        quarter = self.quarters[1 + op % (len(self.quarters) - 1)]
        delivery = inputs.with_redeliveries(quarter, self.base, self.seed, op)
        self.deliveries = {op: (delivery, self._drop(1, delivery))}
        self.spark.catalog.clearCache()

    def run(self, op: int) -> None:
        self._pipeline(self.spark)

    def input_rows(self, op: int) -> int:
        return self.deliveries[op][0].num_rows

    def input_bytes(self, op: int) -> int:
        return os.path.getsize(self.base_csv) + os.path.getsize(
            self.deliveries[op][1]
        )

    def stored_bytes(self, op: int) -> int:
        return dir_bytes(self.lakehouse, skip=("raw",))

    def check(self, op: int) -> list[str]:
        from pyspark.sql import functions as F

        from e_commerce_data_lakehouse_spark.sources.sinks import (
            ManagedTable,
        )

        problems = []
        delivery, csv = self.deliveries[op]
        silver = ManagedTable(
            self.spark, os.path.join(self.lakehouse, "silver_orders")
        ).read()
        n, n_keys = silver.agg(
            F.count("*"), F.countDistinct("o_orderkey")
        ).first()
        want = len(
            set(self.base["o_orderkey"].to_pylist())
            | set(delivery["o_orderkey"].to_pylist())
        )
        if n != n_keys or n != want:
            problems.append(
                f"silver rows {n}, distinct keys {n_keys}, expected {want}"
            )
        got = {
            r["date_key"]: (r["total_value"], r["record_count"], r["avg_value"])
            for r in ManagedTable(
                self.spark, os.path.join(self.lakehouse, "agg_daily")
            ).read().collect()
        }
        # orders_dag's dim_date numbers days from 1992-01-01 as key 1
        _, rows = duckdb_rows(
            f"""
            SELECT date_diff('day', DATE '1992-01-01', o_orderdate) + 1,
                   SUM(o_totalprice), COUNT(o_orderkey), AVG(o_totalprice)
            FROM (SELECT DISTINCT * FROM read_csv(
                    ['{self.base_csv}', '{csv}'], header = true,
                    columns = {{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT',
                               'o_orderstatus': 'VARCHAR',
                               'o_totalprice': 'DOUBLE',
                               'o_orderdate': 'DATE'}}))
            GROUP BY 1
            """,
            {},
        )
        want_agg = {r[0]: r[1:] for r in rows}
        if set(got) != set(want_agg):
            odd = sorted(set(got) ^ set(want_agg), key=str)[:4]
            problems.append(f"rollup date keys differ from DuckDB: {odd}")
        else:
            bad = [
                k
                for k, (s, c, a) in want_agg.items()
                if got[k][1] != c
                or not close(got[k][0], s)
                or not close(got[k][2], a)
            ]
            if bad:
                problems.append(f"rollup differs from DuckDB on {bad[:3]}")
        return problems


class CorpusPart(Workload):
    """doc_id-ordered batches of gen documents through the incremental
    corpus medallion onto a corpus that already holds a base batch."""

    BASE_DOCS = 4000
    BATCH_DOCS = 2000
    N_BATCHES = 8

    def prepare(self) -> None:
        n = self.BASE_DOCS + self.N_BATCHES * self.BATCH_DOCS
        self.docs = inputs.documents(self.cache, self.seed, n)
        self.work = os.path.join(self.work, "corpus")
        self.lakehouse = os.path.join(self.work, "lakehouse")
        self.incoming = os.path.join(self.work, "incoming")
        os.makedirs(self.incoming, exist_ok=True)
        self.snap = _Snapshot(self.lakehouse, os.path.join(self.work, "snap"))
        self.batches: dict[int, tuple[pa.Table, str]] = {}

    def _land(self, name: str, table: pa.Table) -> str:
        path = os.path.join(self.incoming, f"{name}.parquet")
        pq.write_table(table, path)
        return path

    def _ingest(self, path: str, txn: str):
        from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
            run_incremental,
        )

        runs, tables = run_incremental(
            self.spark, self.lakehouse, [self.spark.read.parquet(path)], [txn]
        )
        bad = [r.name for r in runs[0] if r.status != "success"]
        if bad:
            raise RuntimeError(f"corpus stages failed: {bad}")
        return runs[0], tables

    def setup(self, spark) -> None:
        self.spark = spark
        self.base = self.docs.slice(0, self.BASE_DOCS)
        self.base_path = self._land("base", self.base)
        self._ingest(self.base_path, "base")
        self.snap.take()
        self.stage(-1)  # warm-up batch (the last one), discarded
        self.run(-1)

    def _batch_no(self, op: int) -> int:
        return op % self.N_BATCHES

    def stage(self, op: int) -> None:
        self.snap.restore()
        k = self._batch_no(op)
        batch = self.docs.slice(
            self.BASE_DOCS + k * self.BATCH_DOCS, self.BATCH_DOCS
        )
        self.batches = {op: (batch, self._land(f"batch_{op}", batch))}
        self.spark.catalog.clearCache()

    def run(self, op: int) -> None:
        self._ingest(self.batches[op][1], f"batch_{self._batch_no(op)}")

    def input_rows(self, op: int) -> int:
        return self.batches[op][0].num_rows

    def input_bytes(self, op: int) -> int:
        return os.path.getsize(self.base_path) + os.path.getsize(
            self.batches[op][1]
        )

    def stored_bytes(self, op: int) -> int:
        return dir_bytes(self.lakehouse)

    def check(self, op: int) -> list[str]:
        """The incremental tables converge to a full rebuild on the same
        documents: the catalog matches the rebuild's DuckDB oracle."""
        from e_commerce_data_lakehouse_spark import entry_queries as eq
        from e_commerce_data_lakehouse_spark.sources.sinks import (
            ManagedTable,
        )

        cat = ManagedTable(
            self.spark, os.path.join(self.lakehouse, "catalog")
        ).read().select("stage", "n_docs", "n_tokens")
        rows = cat.collect()
        docs = pa.concat_tables([self.base, self.batches[op][0]])
        ocols, orows = duckdb_rows(
            eq.QUERIES["dag_corpus_pipeline_incremental"].oracle,
            {"documents": docs},
        )
        diff = same_rows(cat.columns, rows, ocols, orows)
        return [f"catalog vs rebuild oracle: {diff}"] if diff else []

    def final_check(self, last_op: int) -> list[str]:
        """Replaying the last batch under its transaction id is a no-op."""
        from e_commerce_data_lakehouse_spark.sources.sinks import (
            ManagedTable,
        )

        def versions():
            return {
                n: ManagedTable(
                    self.spark, os.path.join(self.lakehouse, n)
                ).history()
                for n in sorted(os.listdir(self.lakehouse))
            }

        before = versions()
        size = dir_bytes(self.lakehouse)
        runs, _ = self._ingest(
            self.batches[last_op][1], f"batch_{self._batch_no(last_op)}"
        )
        problems = []
        if any(r.result.rows_written for r in runs):
            problems.append("replayed txn wrote rows")
        if versions() != before or dir_bytes(self.lakehouse) != size:
            problems.append("replayed txn changed the tables")
        return problems


MIX = {
    # query -> tables it reads (for rows/s and bytes per input byte)
    "customer_360": ("events",),
    "dedup_latest_events_agg": ("events",),
    "streaming_hourly_counts": ("events",),
}


class AnalystQueries(Workload):
    """One client cycling a fixed mix of registered queries over seeded
    gen-sf1 tables; one operation is one pass over the mix."""

    name = "analyst_queries"

    def prepare(self) -> None:
        self.data = inputs.analyst_tables(self.cache, self.seed)
        self.lakehouse = os.environ["TMPDIR"]  # where the queries' scratch goes
        meta = {
            t: pq.ParquetFile(os.path.join(self.data, f"{t}.parquet"))
            for t in inputs.ANALYST_TABLES
        }
        self.pass_rows = sum(
            meta[t].metadata.num_rows for ts in MIX.values() for t in ts
        )
        self.pass_bytes = sum(
            os.path.getsize(os.path.join(self.data, f"{t}.parquet"))
            for ts in MIX.values()
            for t in ts
        )
        self.problems: list[str] = []

    def _query(self, name: str):
        from e_commerce_data_lakehouse_spark import entry_queries as eq

        with self.span(f"query:{name}:build"):
            return eq.QUERIES[name].spark_fn(self.spark, self.data)

    def setup(self, spark) -> None:
        """Warm-up: one pass exactly like a measured one."""
        self.spark = spark
        self.stage(-1)
        self.run(-1)

    def after_setup(self) -> None:
        """Each query once more, collected, against its registered DuckDB
        oracle (normalized as ``tools/driver_sim.py`` does)."""
        from e_commerce_data_lakehouse_spark import entry_queries as eq

        views = {
            t: os.path.join(self.data, f"{t}.parquet")
            for t in inputs.ANALYST_TABLES
        }
        for name in MIX:
            self.spark.catalog.clearCache()
            df = self._query(name)
            cols, rows = df.columns, df.collect()
            ocols, orows = duckdb_rows(eq.QUERIES[name].oracle, views)
            diff = same_rows(cols, rows, ocols, orows)
            if diff:
                self.problems.append(f"{name}: {diff}")
        self.spark.catalog.clearCache()

    def stage(self, op: int) -> None:
        self.scratch_before = dir_bytes(self.lakehouse)

    def run(self, op: int) -> None:
        for name in MIX:
            self.spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = self._query(name)
            with self.span(f"query:{name}:write"):
                df.write.format("noop").mode("overwrite").save()
            self.detail[name] = time.perf_counter() - t0

    def check(self, op: int) -> list[str]:
        # a pass ran every query, so a query that failed its oracle check
        # makes every pass wrong
        return list(self.problems)

    def input_rows(self, op: int) -> int:
        return self.pass_rows

    def stored_ratio(self, op: int) -> float:
        added = dir_bytes(self.lakehouse) - self.scratch_before
        return added / self.pass_bytes


class Increments(Workload):
    """One delivery cycle per operation: an orders delivery lands through
    the orders medallion, then a document batch through the incremental
    corpus medallion.  The operation's time is the delivery-to-gold
    freshness of both domains."""

    name = "increments"

    def __init__(self, work, cache, seed, span) -> None:
        super().__init__(work, cache, seed, span)
        self.parts = [OrdersPart(work, cache, seed, span),
                      CorpusPart(work, cache, seed, span)]
        self.lakehouse = work

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)

    def stage(self, op: int) -> None:
        for p in self.parts:
            p.stage(op)

    def run(self, op: int) -> None:
        for p, key in zip(self.parts, ("orders_s", "corpus_s")):
            t0 = time.perf_counter()
            p.run(op)
            self.detail[key] = time.perf_counter() - t0

    def check(self, op: int) -> list[str]:
        return [m for p in self.parts for m in p.check(op)]

    def final_check(self, last_op: int) -> list[str]:
        return [m for p in self.parts for m in p.final_check(last_op)]

    def input_rows(self, op: int) -> int:
        return sum(p.input_rows(op) for p in self.parts)

    def stored_ratio(self, op: int) -> float:
        stored = sum(p.stored_bytes(op) for p in self.parts)
        return stored / sum(p.input_bytes(op) for p in self.parts)


WORKLOADS = {w.name: w for w in (Increments, AnalystQueries)}

