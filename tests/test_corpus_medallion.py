"""Corpus medallion DAG: stage invariants, idempotence, failure paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
    BENCH_MOD,
    QUALITY_FLOOR,
    corpus_dag,
)

SF = "/root/testdata/sf0.001"


def _run(spark, tmp_path):
    dag, tables = corpus_dag(spark, SF, str(tmp_path))
    runs = dag.run(spark)
    return runs, tables


def test_all_stages_succeed_and_funnel_narrows(spark, tmp_path):
    runs, tables = _run(spark, tmp_path)
    assert [r.status for r in runs] == ["success"] * 5
    assert [r.name for r in runs] == [
        "ingest_bronze",
        "curate_silver",
        "decontaminate",
        "publish_gold",
        "catalog",
    ]
    cat = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in tables["catalog"].read().collect()
    }
    assert set(cat) == {
        "bronze",
        "silver_curated",
        "silver_clean",
        "gold_train",
        "gold_val",
        "gold_test",
    }
    # the funnel only narrows, and gold partitions the clean set exactly
    assert cat["bronze"][0] >= cat["silver_curated"][0]
    assert cat["silver_curated"][0] >= cat["silver_clean"][0]
    assert cat["silver_clean"][0] == (
        cat["gold_train"][0] + cat["gold_val"][0] + cat["gold_test"][0]
    )
    assert cat["silver_clean"][1] == (
        cat["gold_train"][1] + cat["gold_val"][1] + cat["gold_test"][1]
    )
    assert cat["silver_clean"][0] > 0  # non-vacuous at sf0.001


def test_silver_invariants(spark, tmp_path):
    _, tables = _run(spark, tmp_path)
    silver = tables["silver_curated"].read()
    # benchmark held out, quality gated, fingerprints unique
    assert silver.filter(F.col("doc_id") % BENCH_MOD == 0).count() == 0
    assert silver.filter(F.col("quality") < QUALITY_FLOOR).count() == 0
    n = silver.count()
    assert silver.select("fp").distinct().count() == n
    # dedup kept the LOWEST doc_id per fingerprint
    bronze = tables["bronze"].read().filter(
        (F.col("doc_id") % BENCH_MOD != 0)
        & (F.col("quality") >= QUALITY_FLOOR)
    )
    expected = bronze.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    assert silver.join(expected, ["fp", "doc_id"]).count() == n


def test_clean_set_shares_no_gram_with_benchmark(spark, tmp_path):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    _, tables = _run(spark, tmp_path)
    bench = tables["bronze"].read().filter(F.col("doc_id") % BENCH_MOD == 0)
    clean = tables["silver_clean"].read()
    assert cp.ngram_overlap(clean, bench, n=4).count() == 0


def test_rerun_is_idempotent(spark, tmp_path):
    runs1, tables = _run(spark, tmp_path)
    cat1 = sorted(
        map(tuple, tables["catalog"].read().collect()), key=repr
    )
    dag2, tables2 = corpus_dag(spark, SF, str(tmp_path))
    runs2 = dag2.run(spark)
    assert [r.status for r in runs2] == ["success"] * 5
    cat2 = sorted(
        map(tuple, tables2["catalog"].read().collect()), key=repr
    )
    assert cat1 == cat2
    # overwrite commits bump the snapshot version — time travel works
    assert len(tables2["catalog"].history()) >= 2


def _split_batches(spark):
    from e_commerce_data_lakehouse_spark.entry_queries import load

    docs = load(spark, SF, "documents")["documents"]
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (int(lo) + int(hi)) // 2
    return [
        docs.filter(F.col("doc_id") <= mid),
        docs.filter(F.col("doc_id") > mid),
    ]


def test_incremental_converges_to_full_rebuild(spark, tmp_path):
    """doc_id-monotone batches -> bit-identical tables to the one-shot
    rebuild (the convergence contract the driver oracle hash also pins).
    Regression guard for the append-path cache-refresh bug: appending
    survivors into silver_curated invalidated the cached stored-
    fingerprint frame, which re-listed the directory, saw its own
    output, and erased the batch — localCheckpoint detachment fixes it.
    """
    from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
        run_incremental,
    )

    dag, full = corpus_dag(spark, SF, str(tmp_path / "full"))
    assert [r.status for r in dag.run(spark)] == ["success"] * 5
    runs, incr = run_incremental(
        spark, str(tmp_path / "incr"), _split_batches(spark)
    )
    assert all(r.status == "success" for batch in runs for r in batch)
    for name in ("bronze", "silver_curated", "silver_clean", "catalog"):
        a, b = full[name].read(), incr[name].read()
        assert a.count() == b.count(), name
        # symmetric difference empty on the full row content
        cols = sorted(a.columns)
        assert (
            a.select(cols).exceptAll(b.select(cols)).count() == 0
            and b.select(cols).exceptAll(a.select(cols)).count() == 0
        ), name


def test_incremental_redelivery_is_noop(spark, tmp_path):
    """Re-delivering a committed batch (same txn id) must change
    nothing: the append_once marker makes every downstream stage see an
    empty delta."""
    from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
        run_incremental,
    )

    b1, b2 = _split_batches(spark)
    runs, t = run_incremental(
        spark, str(tmp_path), [b1, b2, b2], txn_ids=["b1", "b2", "b2"]
    )
    assert all(r.status == "success" for batch in runs for r in batch)
    # third (re-delivered) batch: every stage a recorded no-op
    assert all(r.result.rows_written == 0 for r in runs[2])
    # ...and no table was rewritten: the catalog has exactly the two
    # snapshot versions the two real batches committed
    assert len(t["catalog"].history()) == 2
    n_clean = {
        r["stage"]: r["n_docs"] for r in t["catalog"].read().collect()
    }["silver_clean"]
    assert n_clean == t["silver_clean"].read().count()


def test_incremental_batch_is_annotated_once(spark, tmp_path):
    """The bronze append, the ingest row count, curation and the
    new-benchmark side of decontamination all read one checkpoint of the
    annotated batch: each batch row's lineage (a counting UDF) is
    evaluated exactly once — for a first batch and for a batch merged
    into stored tables."""
    from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
        run_incremental,
    )

    evaluated = spark.sparkContext.accumulator(0)

    def seen(_doc_id):
        evaluated.add(1)
        return True

    counted = F.udf(seen, "boolean")
    b1, b2 = (b.filter(counted("doc_id")) for b in _split_batches(spark))
    n1, n2 = b1.count(), b2.count()
    evaluated.value = 0
    runs, _ = run_incremental(spark, str(tmp_path), [b1, b2])
    assert all(r.status == "success" for batch in runs for r in batch)
    assert [batch[0].result.rows_written for batch in runs] == [n1, n2]
    assert evaluated.value == n1 + n2


def test_replayed_txn_launches_no_spark_job(spark, tmp_path):
    """O(delta) with delta = 0: a replayed txn is recognised from its
    marker before the batch is annotated or materialized, so no stage
    launches a Spark job (statusTracker job ids under the test's and
    every stage's job group)."""
    from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
        ingest_corpus_batch,
        run_incremental,
    )

    b1, _ = _split_batches(spark)
    _, tables = run_incremental(spark, str(tmp_path), [b1], txn_ids=["b1"])
    sc = spark.sparkContext
    sc.setJobGroup("replayed_txn", "replayed corpus txn")
    try:
        runs = ingest_corpus_batch(spark, tables, b1, "b1", label="replay")
    finally:
        sc.setJobGroup("", "")
    assert [r.status for r in runs] == ["success"] * 5
    assert all(r.result.rows_written == 0 for r in runs)
    groups = ["replayed_txn"] + [
        f"dag:corpus_incremental_breplay:{r.name}" for r in runs
    ]
    tracker = sc.statusTracker()
    assert {g: list(tracker.getJobIdsForGroup(g)) for g in groups} == {
        g: [] for g in groups
    }


def test_incremental_empty_first_batch(spark):
    """A first batch containing only benchmark docs must not wedge the
    pipeline: silver tables commit empty and the next batch proceeds."""
    import tempfile

    from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
        BENCH_MOD,
        run_incremental,
    )

    long_txt = "kappa lambda mu nu xi omicron pi rho " * 15
    b1 = spark.createDataFrame(
        [(BENCH_MOD, "en", long_txt)], "doc_id long, lang string, text string"
    )  # single benchmark doc -> zero curate survivors
    b2 = spark.createDataFrame(
        [(
            2 * BENCH_MOD + 1,
            "en",
            "sigma tau upsilon phi chi psi omega digamma " * 15,
        )],
        "doc_id long, lang string, text string",
    )  # gram-disjoint from the benchmark doc -> survives decontamination
    runs, t = run_incremental(spark, tempfile.mkdtemp(), [b1, b2])
    assert all(r.status == "success" for batch in runs for r in batch)
    assert t["silver_curated"].read().count() == 1  # only the b2 doc
    assert t["silver_clean"].read().count() == 1


def test_late_benchmark_retroactively_evicts(spark):
    """A benchmark doc arriving in batch 2 must evict an already-stored
    clean doc that shares a gram with it — the old-docs x new-bench-gram
    delta join."""
    import tempfile

    from e_commerce_data_lakehouse_spark.plans.corpus_medallion import (
        BENCH_MOD,
        run_incremental,
    )

    # long, punctuation-free, stopword-free texts so the quality gate
    # (length_cap/500 factor) passes
    good = "alpha beta gamma delta epsilon zeta eta theta " * 15
    other = "zebra yak xylophone walrus vulture toucan stork " * 15
    # doc 1: clean in batch 1; doc 2*97: benchmark arriving in batch 2
    # sharing doc 1's exact 4-gram prefix
    rows1 = [(1, "en", good), (2, "en", other)]
    rows2 = [(2 * BENCH_MOD, "en", "alpha beta gamma delta unrelated")]
    schema = "doc_id long, lang string, text string"
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)
    runs, t = run_incremental(spark, tempfile.mkdtemp(), [b1, b2])
    assert all(r.status == "success" for batch in runs for r in batch)
    clean_ids = {r["doc_id"] for r in t["silver_clean"].read().collect()}
    assert 1 not in clean_ids  # retroactively contaminated
    assert 2 in clean_ids


def test_stage_failure_propagates(spark, tmp_path):
    dag, tables = corpus_dag(spark, SF, str(tmp_path))

    def boom():
        raise RuntimeError("planted curation failure")

    dag.tasks["curate_silver"].fn = boom
    dag.tasks["curate_silver"].retries = 0
    runs = {r.name: r for r in dag.run(spark)}
    assert runs["ingest_bronze"].status == "success"
    assert runs["curate_silver"].status == "failed"
    assert runs["decontaminate"].status == "upstream_failed"
    assert runs["publish_gold"].status == "upstream_failed"
    assert runs["catalog"].status == "upstream_failed"
    assert not tables["silver_clean"].exists()


def test_gold_layout_partitioned_and_pruned(spark, tmp_path):
    """r9 VERDICT #2: gold is physically laid out partitionBy(split,
    lang), and a split+lang-filtered read prunes to those directories
    (PartitionFilters in the scan — no data file outside the requested
    partition is planned)."""
    import contextlib
    import glob
    import io

    runs, tables = _run(spark, tmp_path)
    assert all(r.status == "success" for r in runs)
    gold = tables["gold"]
    vdir = gold._vpath(gold._versions()[-1])
    # hive layout on disk: split=*/lang=* directories hold the files
    part_files = glob.glob(f"{vdir}/split=*/lang=*/*.parquet")
    assert part_files, "gold files not under split=/lang= directories"
    assert glob.glob(f"{vdir}/split=train/lang=en/*.parquet")

    df = gold.read().filter(
        (F.col("split") == "train") & (F.col("lang") == "en")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pf = plan.split("PartitionFilters")[1][:200]
    assert "split" in pf and "lang" in pf, pf
    # and the filtered read matches the unpartitioned semantics
    n = df.count()
    assert n > 0
    assert n == gold.read().filter(
        "split = 'train' and lang = 'en'"
    ).count()
