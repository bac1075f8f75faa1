"""Sources/sinks layer tests (SURVEY §2.1 S6-S20) on tmp dirs + sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from e_commerce_data_lakehouse_spark import sources as src

SF = "/root/testdata/sf0.001"


def test_csv_roundtrip_schema_bound(spark, tmp_path):
    df = spark.read.parquet(f"{SF}/region.parquet")
    out = str(tmp_path / "csv")
    df.write.option("header", "true").csv(out)
    schema = StructType(
        [
            StructField("r_regionkey", LongType()),
            StructField("r_name", StringType()),
            StructField("r_comment", StringType()),
        ]
    )
    back = src.read_csv(spark, out, schema)
    assert back.count() == df.count()
    assert [f.name for f in back.schema.fields] == [
        "r_regionkey", "r_name", "r_comment",
    ]
    # S20 lineage: every row names the CSV part file it came from
    files = {r["source_file"] for r in src.with_lineage(back).collect()}
    assert files and all(f.endswith(".csv") for f in files)


def test_partition_columns_fallback_and_repair(spark):
    df = spark.createDataFrame(
        [("2024-03-05",), (None,)], ["d"]
    ).withColumn("d", F.col("d").cast("date"))
    p = src.with_partition_columns(df, "d")
    rows = {r["year"] for r in p.collect()}
    assert 2024 in rows  # null row falls back to current_date, non-null keeps 2024


def test_file_ledger_incremental(spark, tmp_path):
    ledger = src.FileLedger(spark, str(tmp_path / "ledger"))
    files = [f"/data/f{i}.csv" for i in range(10)]
    assert ledger.new_files(files) == sorted(files)
    ledger.mark_processed(files[:7])
    assert ledger.new_files(files) == sorted(files[7:])
    # idempotent re-run: nothing new after marking all
    ledger.mark_processed(files[7:])
    assert ledger.new_files(files) == []


def test_file_ledger_uri_path_reads_existing(spark, tmp_path):
    """A scheme'd (file:/) path must NOT short-circuit on os.path.exists —
    an existing remote-style ledger read as first-run would silently
    reprocess (duplicate-ingest) every file.  ADVICE r5 regression."""
    plain = str(tmp_path / "ledger")
    src.FileLedger(spark, plain).mark_processed(["/data/a.csv"])
    uri = src.FileLedger(spark, "file://" + plain)
    assert uri.new_files(["/data/a.csv", "/data/b.csv"]) == ["/data/b.csv"]
    # and a missing scheme'd ledger still degrades to first-run quietly
    missing = src.FileLedger(spark, "file://" + str(tmp_path / "nope"))
    assert missing.new_files(["/data/a.csv"]) == ["/data/a.csv"]


def test_ingest_new_files_loop(spark, tmp_path):
    ledger = src.FileLedger(spark, str(tmp_path / "ledger"))
    data = tmp_path / "in"
    data.mkdir()
    for i in range(3):
        (data / f"f{i}.txt").write_text(f"line{i}\n")
    discovered = sorted(str(p) for p in data.glob("*.txt"))
    written = []
    n = src.ingest_new_files(
        ledger,
        discovered,
        read_fn=lambda paths: spark.read.text(paths),
        write_fn=lambda df: written.append(df.count()),
    )
    assert n == 3 and written == [3]
    # second run: no new files, write_fn not called
    n2 = src.ingest_new_files(
        ledger, discovered,
        read_fn=lambda p: spark.read.text(p),
        write_fn=lambda df: written.append(df.count()),
    )
    assert n2 == 0 and written == [3]


def test_managed_table_merge_lifecycle(spark, tmp_path):
    t = src.ManagedTable(spark, str(tmp_path / "dim"))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "name"]
    )
    t.create(base)
    updates = spark.createDataFrame(
        [(2, "B2"), (3, "c")], ["id", "name"]
    )
    t.merge_scd1(updates, ["id"])
    got = {(r["id"], r["name"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c")}


def test_managed_table_time_travel(spark, tmp_path):
    t = src.ManagedTable(spark, str(tmp_path / "tt"))
    t.create(spark.createDataFrame([(1, "a")], ["id", "name"]))          # v0
    t.merge_scd1(spark.createDataFrame([(1, "A2")], ["id", "name"]), ["id"])  # v1
    t.overwrite(spark.createDataFrame([(9, "z")], ["id", "name"]))       # v2
    assert t.history() == [0, 1, 2]
    assert t.read(version_as_of=0).collect()[0]["name"] == "a"
    assert t.read(version_as_of=1).collect()[0]["name"] == "A2"
    assert t.read().collect()[0]["id"] == 9


def test_managed_table_append_is_file_level(spark, tmp_path):
    t = src.ManagedTable(spark, str(tmp_path / "ap"))
    t.create(spark.createDataFrame([(1,)], ["id"]))
    t.append(spark.createDataFrame([(2,)], ["id"]))
    t.append(spark.createDataFrame([(3,)], ["id"]))
    # appends do not mint snapshots; data lands in the current version
    assert t.history() == [0]
    assert {r["id"] for r in t.read().collect()} == {1, 2, 3}


def test_managed_table_prunes_old_versions(spark, tmp_path):
    from e_commerce_data_lakehouse_spark.sources.backends import KEEP_VERSIONS

    t = src.ManagedTable(spark, str(tmp_path / "prune"))
    t.create(spark.range(100).toDF("id"))
    for n in range(1, KEEP_VERSIONS + 2):
        t.overwrite(spark.range(100 + n).toDF("id"))
    # each commit prunes snapshots beyond the newest KEEP_VERSIONS
    assert t.history() == list(range(2, KEEP_VERSIONS + 2))
    assert t.read().count() == 100 + KEEP_VERSIONS + 1


def test_salted_join_matches_plain_join(spark):
    from e_commerce_data_lakehouse_spark.operators.joins import salted_join

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(cust, ["o_custkey"]).count()
    salted = salted_join(orders, cust, ["o_custkey"], n_salts=8).count()
    assert plain == salted
    # semantics-breaking modes are rejected (small side is replicated, so
    # right/full outer would emit unmatched small rows once per salt)
    import pytest as _pytest

    for bad in ("right", "full", "outer"):
        with _pytest.raises(ValueError):
            salted_join(orders, cust, ["o_custkey"], how=bad)


def test_range_join_matches_naive(spark):
    from e_commerce_data_lakehouse_spark.operators.joins import range_join

    points = spark.createDataFrame(
        [(i, i * 3 % 100) for i in range(200)], ["pid", "p"]
    )
    intervals = spark.createDataFrame(
        [(j, j * 7 % 90, j * 7 % 90 + 12) for j in range(40)],
        ["iid", "lo", "hi"],
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "p", "lo", "hi", 10).collect()
    }
    naive = {
        (r["pid"], r["iid"])
        for r in points.crossJoin(intervals)
        .filter(F.col("p").between(F.col("lo"), F.col("hi")))
        .collect()
    }
    assert got == naive and len(got) > 0


def test_scd2_merge_close_open_insert_and_idempotence(spark):
    from e_commerce_data_lakehouse_spark.operators import merge as mg

    dim = spark.createDataFrame(
        [
            (1, "gold", "2020-01-01", None, True),
            (1, "bronze", "2019-01-01", "2020-01-01", False),  # history
            (2, "silver", "2020-01-01", None, True),
            (3, "gold", "2020-01-01", None, True),
        ],
        "k long, tier string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "k", "tier",
        "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
        "is_current",
    )
    updates = spark.createDataFrame(
        [(1, "platinum"), (2, "silver"), (4, "new")], "k long, tier string"
    )
    out = mg.scd2_merge(dim, updates, ["k"], ["tier"], "2021-06-01")
    rows = {(r["k"], r["tier"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
            for r in out.collect()}
    assert rows == {
        (1, "bronze", "2019-01-01", "2020-01-01", False),   # history untouched
        (1, "gold", "2020-01-01", "2021-06-01", False),      # closed
        (1, "platinum", "2021-06-01", "None", True),         # opened
        (2, "silver", "2020-01-01", "None", True),           # no-op update
        (3, "gold", "2020-01-01", "None", True),             # not in batch
        (4, "new", "2021-06-01", "None", True),              # new key
    }
    # replaying the same batch must be a no-op (idempotent apply)
    again = mg.scd2_merge(out, updates, ["k"], ["tier"], "2021-07-01")
    rows2 = {(r["k"], r["tier"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
             for r in again.collect()}
    assert rows2 == rows


def test_managed_table_append_once_is_idempotent(spark, tmp_path):
    t = src.ManagedTable(spark, str(tmp_path / "ao"))
    batch = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    assert t.append_once(batch, "batch-0001") is True
    assert t.append_once(batch, "batch-0001") is False  # replay -> no-op
    assert t.read().count() == 2
    assert t.append_once(batch, "batch-0002") is True   # new txn appends
    assert t.read().count() == 4
