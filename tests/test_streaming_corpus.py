"""Streaming corpus ingestion (r9 VERDICT #3): the corpus medallion fed
by Structured Streaming must (a) converge to the batch full-rebuild
answer across multiple doc_id-monotone micro-batches, and (b) treat a
crash-replayed micro-batch as a recorded no-op (the foreachBatch
at-least-once window closed by ``append_once`` txn markers).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
    corpus_dag,
    ingest_corpus_batch,
    run_streaming,
)

SF = "/root/testdata/sf0.001"


def _doc_stream(spark, src_dir: str, max_files: int | None = 1):
    schema = "doc_id long, lang string, text string"
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("latestFirst", "false")
    )
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.load(src_dir)


def _write_monotone_files(spark, src_dir: str) -> int:
    """documents split into two doc_id-ordered files, mtimes ordered so
    the file source delivers them as two monotone micro-batches."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(lo) + int(hi)) // 2
    for i, pred in enumerate(
        [F.col("doc_id") <= mid, F.col("doc_id") > mid]
    ):
        part_dir = f"{src_dir}/_p{i}"
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            part_dir
        )
        (src,) = [
            f for f in os.listdir(part_dir) if f.endswith(".parquet")
        ]
        dst = f"{src_dir}/batch_{i}.parquet"
        os.rename(f"{part_dir}/{src}", dst)
        t = time.time() + i * 10  # strictly increasing mtimes
        os.utime(dst, (t, t))
    return docs.count()


def _catalog_rows(tables) -> dict:
    return {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in tables["catalog"].read().collect()
    }


def test_streamed_catalog_equals_batch_rebuild(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_monotone_files(spark, src)
    runs, streamed = run_streaming(
        spark,
        str(tmp_path / "work"),
        _doc_stream(spark, src),
        str(tmp_path / "ckpt"),
    )
    assert len(runs) == 2  # maxFilesPerTrigger=1 -> one batch per file
    assert all(r.status == "success" for batch in runs for r in batch)

    dag, full = corpus_dag(spark, SF, str(tmp_path / "full"))
    assert all(r.status == "success" for r in dag.run(spark))
    assert _catalog_rows(streamed) == _catalog_rows(full)
    # table-level convergence, not just counts
    for name in ("silver_clean", "gold"):
        a = streamed[name].read()
        b = full[name].read().select(*a.columns)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_replayed_micro_batch_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between sink execution and
    checkpoint commit re-delivers the same (batch_id, data).  The txn
    marker must make the replay a recorded no-op — every stage
    short-circuits and no table changes."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_monotone_files(spark, src)
    runs, tables = run_streaming(
        spark,
        str(tmp_path / "work"),
        _doc_stream(spark, src),
        str(tmp_path / "ckpt"),
    )
    before = _catalog_rows(tables)
    versions_before = {n: t._versions() for n, t in tables.items()}

    # replay micro-batch 1 exactly as the engine would re-deliver it
    batch1 = spark.read.parquet(f"{src}/batch_1.parquet")
    replay = ingest_corpus_batch(spark, tables, batch1, "b1", label="replay")
    assert all(r.status == "success" for r in replay)
    # every stage short-circuited
    assert all(r.result.rows_written == 0 for r in replay)
    assert _catalog_rows(tables) == before
    assert {n: t._versions() for n, t in tables.items()} == versions_before


def test_restart_processes_only_new_files(spark, tmp_path):
    """Engine-level exactly-once: restarting from the same checkpoint
    after a new file arrives processes ONLY the new file (batch ids
    continue, committed batches never re-plan)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    n_docs = _write_monotone_files(spark, src)
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    runs1, tables = run_streaming(spark, work, _doc_stream(spark, src), ckpt)
    assert len(runs1) == 2

    # a third file arrives: fresh ids far above the existing range,
    # gram-disjoint text so it survives curation
    extra = spark.createDataFrame(
        [(10_000_000 + i, "en",
          f"zeta{i} eta{i} theta{i} iota{i} kappa{i} " * 12)
         for i in range(1, 30)],
        "doc_id long, lang string, text string",
    )
    extra.coalesce(1).write.mode("overwrite").parquet(f"{src}/_p2")
    (f3,) = [f for f in os.listdir(f"{src}/_p2") if f.endswith(".parquet")]
    os.rename(f"{src}/_p2/{f3}", f"{src}/batch_2.parquet")

    runs2, tables2 = run_streaming(
        spark, work, _doc_stream(spark, src), ckpt
    )
    assert len(runs2) == 1  # only the new file
    cat = _catalog_rows(tables2)
    assert cat["bronze"][0] == n_docs + 29
