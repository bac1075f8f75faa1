"""Unit tests for the corpus-curation operators (operators/corpus.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.operators import corpus as cp

SF = "/root/testdata/sf0.001"


def test_dataset_split_is_deterministic_and_stable(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = cp.dataset_split(docs, "doc_id")
    b = cp.dataset_split(docs.repartition(7), "doc_id")  # layout-independent
    ja = {r["doc_id"]: r["split"] for r in a.select("doc_id", "split").collect()}
    jb = {r["doc_id"]: r["split"] for r in b.select("doc_id", "split").collect()}
    assert ja == jb
    assert set(ja.values()) == {"train", "val", "test"}
    # roughly 80/10/10 (hash buckets, not exact)
    n = len(ja)
    n_train = sum(1 for v in ja.values() if v == "train")
    assert 0.6 * n < n_train < 0.95 * n


def test_dataset_split_subset_invariant(spark):
    """A document's split must not change when the corpus grows — the
    anti-leakage property randomSplit does not have."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    full = {
        r["doc_id"]: r["split"]
        for r in cp.dataset_split(docs, "doc_id").collect()
    }
    half = {
        r["doc_id"]: r["split"]
        for r in cp.dataset_split(
            docs.filter(F.col("doc_id") % 2 == 0), "doc_id"
        ).collect()
    }
    assert all(full[k] == v for k, v in half.items())


def test_stratified_sample_rates(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sampled = cp.stratified_sample(
        docs, "lang", "doc_id", {"en": 100, "de": 0}
    )
    langs = {r["lang"] for r in sampled.select("lang").distinct().collect()}
    assert "de" not in langs
    n_en = docs.filter(F.col("lang") == "en").count()
    assert sampled.filter(F.col("lang") == "en").count() == n_en


def test_pii_scrub_patterns(spark):
    rows = [
        ("mail me at jane.doe+spam@sub.example.co.uk thanks",),
        ("server 192.168.001.1 and phone 415-555-0199",),
        ("nothing sensitive here",),
        ("25-989-741-2988",),
    ]
    df = spark.createDataFrame(rows, ["t"])
    got = [
        r["s"] for r in df.select(cp.pii_scrub(F.col("t")).alias("s")).collect()
    ]
    assert got[0] == "mail me at [EMAIL] thanks"
    assert got[1] == "server [IP] and phone [PHONE]"
    assert got[2] == "nothing sensitive here"
    assert "[PHONE]" in got[3]


def test_word_repetition_stats(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w"), (3, "  q  q  ")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["top_word_count"], r["n_words"], r["top_word_frac"])
        for r in cp.word_repetition_stats(df).collect()
    }
    assert got[1] == (3, 4, 0.75)
    assert got[2] == (1, 4, 0.25)
    assert got[3] == (2, 2, 1.0)


def test_ngram_overlap_blocks_on_grams(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx the quick brown fox jumps yy"),  # shares 2 distinct 5-grams? no: n=4
            (2, "completely different words entirely here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_shared_grams"]
        for r in cp.ngram_overlap(corpus, bench, n=4).collect()
    }
    # doc 1 contains "the quick brown fox" and "quick brown fox jumps"
    assert out == {1: 2}


def test_winnowing_guarantee(spark):
    """Winnowing's defining property: two docs sharing a substring of
    length >= k + w - 1 share at least one fingerprint."""
    from e_commerce_data_lakehouse_spark.operators import dedup as dd

    shared = "the quick brown fox jumps over the lazy dog near the river"
    df = spark.createDataFrame(
        [
            (1, f"prefix one {shared} suffix alpha"),
            (2, f"other beginning {shared} different tail"),
            (3, "entirely unrelated content with no overlap at all okay"),
        ],
        ["doc_id", "text"],
    )
    fps = dd.winnow_fingerprints(df, k=24, w=10)
    by_doc = {
        r["doc_id"]: set()
        for r in fps.select("doc_id").distinct().collect()
    }
    for r in fps.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    pairs = dd.winnowing_pairs(df, min_shared=1).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 2)}


def test_uniform01_range_and_determinism(spark):
    df = spark.range(0, 200).select(cp.uniform01(F.col("id")).alias("u"))
    rows = [r["u"] for r in df.collect()]
    assert all(0.0 <= u < 1.0 for u in rows)
    rows2 = [r["u"] for r in df.collect()]
    assert rows == rows2
    # spread sanity: a content hash should not collapse to a few values
    assert len(set(rows)) > 190


def test_dsir_separates_target_like_documents(spark):
    # Target vocab and off-target vocab are disjoint, so the importance
    # ratio must clearly separate the two populations.
    tgt_text = "alpha beta gamma delta epsilon zeta eta theta"
    off_text = "uno dos tres cuatro cinco seis siete ocho"
    rows = [(i, tgt_text, True) for i in range(30)]
    rows += [(100 + i, off_text, False) for i in range(30)]
    # one mixed doc: half target-like, half not
    rows.append((500, "alpha beta gamma delta uno dos tres cuatro", False))
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_tgt"])
    w = {
        r["doc_id"]: r["weight"]
        for r in cp.dsir_importance(
            df, "doc_id", "text", F.col("is_tgt"), n_features=512
        ).collect()
    }
    assert w[0] == 1.0  # target docs: ratio > 1, clipped
    assert w[100] < 0.15  # off-target docs: heavily down-weighted
    assert w[100] < w[500] < w[0]  # mixed doc sits in between


def test_importance_sample_rate_tracks_weight(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), F.lit(0.25).alias("weight")
    )
    kept = cp.importance_sample(df, "doc_id").count()
    assert 400 < kept < 600  # ~25% of 2000, hash-uniformity tolerance
    # weight 1.0 keeps everything, weight 0.0 keeps nothing
    allw = df.withColumn("weight", F.lit(1.0))
    assert cp.importance_sample(allw, "doc_id").count() == 2000
    none = df.withColumn("weight", F.lit(0.0))
    assert cp.importance_sample(none, "doc_id").count() == 0


def test_heavy_hitters_exact_under_partitioning(spark):
    # Skewed corpus split across many partitions: the Misra-Gries candidate
    # phase must not lose any true heavy hitter (pigeonhole superset
    # guarantee) and the recount must make results exactly equal the naive
    # full count, regardless of partition boundaries.
    rows = []
    for i in range(400):
        rows.append((i, "alpha beta " + ("alpha " if i % 2 == 0 else "gamma ") + "delta"))
    rows.append((999, "omega rare unique tokens here"))
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(16)
    got = {
        r["token"]: r["n_occurrences"]
        for r in cp.heavy_hitter_tokens(df, "text", min_frac=0.05).collect()
    }
    # exact counts: alpha 600, beta 400, gamma 200, delta 400; total 1605
    total = 400 * 4 + 5
    import math

    thresh = math.ceil(0.05 * total)
    expected = {"alpha": 600, "beta": 400, "gamma": 200, "delta": 400}
    expected = {t: n for t, n in expected.items() if n >= thresh}
    assert got == expected
    assert "omega" not in got


def test_incremental_lsh_equals_restricted_full_run(spark):
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import dedup as dd

    docs = eq.load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    full = dd.minhash_lsh_pairs(docs, "doc_id", "text", verify_threshold=0.5)
    batch_ids = {r["doc_id"] for r in docs.filter("doc_id >= 400").select("doc_id").collect()}
    expected = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in full.collect()
        if r["id_a"] in batch_ids or r["id_b"] in batch_ids
    }
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dd.minhash_lsh_pairs_incremental(
            docs.filter("doc_id >= 400"), docs.filter("doc_id < 400"),
            "doc_id", "text", verify_threshold=0.5,
        ).collect()
    }
    assert got == expected
    assert all(a >= 400 or b >= 400 for a, b, _ in got)


def test_incremental_lsh_stored_signatures_equal(spark, tmp_path):
    """Stored-signature path: corpus signatures persisted to a ManagedTable
    and read back must give byte-identical pairs to the recompute path, and
    the stored plan must contain exactly ONE shingle explode+agg (over the
    batch) instead of one over batch+corpus."""
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import dedup as dd
    from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable
    from pyspark.sql import functions as F

    docs = eq.load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    is_batch = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10)) == 0
    batch, corpus = docs.filter(is_batch), docs.filter(~is_batch)

    table = ManagedTable(spark, str(tmp_path / "sig_store"))
    table.create(dd.minhash_signatures(corpus, "doc_id", "text"))

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dd.minhash_lsh_pairs_incremental(
                batch, corpus, "doc_id", "text", **kw
            ).collect()
        }

    recomputed = pairs()
    stored_df = dd.minhash_lsh_pairs_incremental(
        batch, corpus, "doc_id", "text", corpus_signatures=table.read()
    )
    stored = {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in stored_df.collect()
    }
    assert stored == recomputed and stored

    # corpus signatures must come from the signature-table parquet scan
    # (since r4 it sits INSIDE the persisted union's InMemoryRelation —
    # one cached frame serves the band join and both funnel probes — so it
    # prints as a FileScan in the cached plan), and no shingle explode may
    # sit over the corpus filter (NOT pmod(...) = 0) — the corpus
    # explode+agg is gone; only the batch side (pmod(...) = 0) shingles.
    plan = stored_df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan, "signature union no longer cached"
    sig_scans = [
        l
        for l in plan.splitlines()
        if ("Relation" in l or "FileScan" in l)
        and "mh_0" in l
        and "parquet" in l
    ]
    assert sig_scans, "signature-table parquet scan missing from plan"
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Generate explode(sequence" not in l:
            continue
        src = next(
            (
                lines[j]
                for j in range(i + 1, min(i + 15, len(lines)))
                if "pmod(xxhash64" in lines[j]
            ),
            "",
        )
        assert "NOT" not in src, f"corpus-side shingle explode survived:\n{src}"


def test_incremental_lsh_stored_bands_and_validation(spark, tmp_path):
    """r4 stored-signature upgrades: (a) a table written with ``bands=``
    carries precomputed band keys and still gives byte-identical pairs;
    (b) a table built with different parameters fails fast instead of
    silently missing pairs (ADVICE r3: the exact-verify stage protects
    precision, not recall, so a silent mismatch loses recall)."""
    import pytest

    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import dedup as dd
    from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable
    from pyspark.sql import functions as F

    docs = eq.load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    is_batch = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10)) == 0
    batch, corpus = docs.filter(is_batch), docs.filter(~is_batch)

    sigs = dd.minhash_signatures(corpus, "doc_id", "text", bands=8)
    assert [f"band_{b}" in sigs.columns for b in range(8)] == [True] * 8
    meta = dd.signature_params(sigs)
    assert meta and int(meta["shingle_n"]) == 12 and int(meta["bands"]) == 8

    table = ManagedTable(spark, str(tmp_path / "sig_store_banded"))
    table.create(sigs)
    # metadata survives the parquet round-trip (Spark schema JSON in footer)
    assert dd.signature_params(table.read()) is not None

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dd.minhash_lsh_pairs_incremental(
                batch, corpus, "doc_id", "text", **kw
            ).collect()
        }

    assert pairs(corpus_signatures=table.read()) == pairs() != set()

    with pytest.raises(ValueError, match="shingle_n"):
        dd.minhash_lsh_pairs_incremental(
            batch, corpus, "doc_id", "text",
            corpus_signatures=table.read(), shingle_n=7,
        )
    with pytest.raises(ValueError, match="mh_"):
        dd.minhash_lsh_pairs_incremental(
            batch, corpus, "doc_id", "text",
            corpus_signatures=table.read().drop("mh_31"),
        )


def test_incremental_lsh_overlapping_ids_deduped(spark):
    """A doc re-ingested in the batch under an id already in the corpus
    must not fan out the funnel/verify joins: by default the corpus copy is
    anti-joined away (batch wins), so pairs involving that id appear once
    and no self-pair survives (ADVICE r3 #2)."""
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import dedup as dd

    docs = eq.load(spark, "/root/testdata/sf0.001", "documents")["documents"]
    batch = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter("doc_id % 5 <> 0 OR doc_id % 10 = 0")  # overlap!
    got = dd.minhash_lsh_pairs_incremental(
        batch, corpus, "doc_id", "text"
    ).collect()
    keys = [(r["id_a"], r["id_b"]) for r in got]
    assert len(keys) == len(set(keys)), "fan-out duplicated pairs"
    assert all(a != b for a, b in keys), "self-pair leaked"
    # and equals the clean-disjoint run (overlap resolved batch-side)
    clean = dd.minhash_lsh_pairs_incremental(
        batch, docs.filter("doc_id % 5 <> 0"), "doc_id", "text"
    ).collect()
    assert {(r["id_a"], r["id_b"], r["jaccard"]) for r in got} == {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in clean
    }


def test_sequence_packing_invariants(spark):
    """Packing bookkeeping must be internally consistent per bucket:
    offsets in [0, seq_len), seq_id non-decreasing along the (bucket, id)
    concatenation order, and the cumulative arithmetic exact."""
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    docs = eq.load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    rows = (
        cp.sequence_packing(docs, "doc_id", "text", seq_len=2048, n_buckets=8)
        .orderBy("bucket", "doc_id")
        .collect()
    )
    assert rows
    by_bucket: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["seq_offset"] < 2048
        by_bucket.setdefault(r["bucket"], []).append(r)
    for rs in by_bucket.values():
        cum = 0
        prev_seq = 0
        for r in rs:
            assert r["seq_id"] == cum // 2048
            assert r["seq_offset"] == cum % 2048
            assert r["seq_id"] >= prev_seq
            prev_seq = r["seq_id"]
            cum += r["n_tokens"]


def test_quota_sample_caps_and_group_limit(spark):
    """Every group capped at the quota, deterministic membership, and the
    physical plan carries WindowGroupLimit (partial per-partition top-N
    before the shuffle — the skew guard)."""
    from pyspark.sql import functions as F

    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    docs = eq.load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    out = cp.quota_sample(
        docs.select("doc_id", "source", "n_chars"),
        "source",
        [F.col("n_chars").desc(), F.col("doc_id")],
        quota=3,
    )
    counts = out.groupBy("source").count().collect()
    assert counts and all(r["count"] <= 3 for r in counts)
    expected = {
        r["doc_id"]
        for r in docs.selectExpr(
            "doc_id",
            "row_number() over (partition by source"
            " order by n_chars desc, doc_id) rk",
        )
        .filter("rk <= 3")
        .collect()
    }
    assert {r["doc_id"] for r in out.collect()} == expected
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_incremental_lifecycle_with_signature_store(spark, tmp_path):
    """The daily-corpus-build lifecycle end-to-end: dedup a batch against
    the signature STORE, roll the batch's signatures into the store
    (O(batch) append, no corpus recompute), then dedup the NEXT batch
    against the grown store.  Each day's pairs must equal the recompute
    path over the same corpus — the store never drifts."""
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import dedup as dd
    from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable

    docs = eq.load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    day0 = docs.filter("doc_id < 300")
    batch1 = docs.filter("doc_id >= 300 and doc_id < 400")
    batch2 = docs.filter("doc_id >= 400")

    store = ManagedTable(spark, str(tmp_path / "sig_store"))
    store.create(dd.minhash_signatures(day0, "doc_id", "text"))

    def pairs(batch, corpus, sigs=None):
        return {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dd.minhash_lsh_pairs_incremental(
                batch, corpus, "doc_id", "text", corpus_signatures=sigs
            ).collect()
        }

    # day 1: batch1 vs stored day-0 signatures == recompute path
    got1 = pairs(batch1, day0, sigs=store.read())
    assert got1 == pairs(batch1, day0)

    # roll batch1 into the store: O(batch) append, no corpus recompute
    store.append(dd.minhash_signatures(batch1, "doc_id", "text"))

    # day 2: corpus is now day0+batch1; the grown store must agree with a
    # from-scratch recompute over that corpus
    corpus2 = docs.filter("doc_id < 400")
    got2 = pairs(batch2, corpus2, sigs=store.read())
    assert got2 == pairs(batch2, corpus2)
    assert got2  # non-vacuous: the sf0.01 slice contains planted near-dups


def test_dup_ngram_fraction_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "w x y z"),          # all distinct -> 0.0
            (3, "solo"),             # no bigrams -> 0.0
            (4, "q q q q"),          # qq qq qq -> 3 total 1 distinct -> 2/3
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", cp.dup_ngram_fraction(F.col("text"), n=2).alias("f")
        ).collect()
    }
    assert got[1] == 0.6
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] == round(2 / 3, 6)


def test_bloom_contamination_superset_of_exact(spark):
    """The Bloom pre-filter of ``bloom_confirmed_contamination`` must have
    NO false negatives: every doc the exact gram join flags passes the
    filter with at least as many distinct grams; and the false-positive
    overhead stays small."""
    from e_commerce_data_lakehouse_spark import entry_queries as eq

    docs = eq.load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    exact = {
        r["doc_id"]: r["n_shared_grams"]
        for r in cp.ngram_overlap(corpus, bench, n=4).collect()
    }
    flagged = cp._bloom_flagged(
        corpus, bench, 4, "doc_id", "text", bits_per_item=16, k_hashes=7
    )
    bloom = {
        r["doc_id"]: r["n_flagged_grams"]
        for r in flagged.groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_flagged_grams"))
        .collect()
    }
    assert exact, "exact contamination must be non-vacuous on this corpus"
    for doc, n_exact in exact.items():
        assert bloom.get(doc, 0) >= n_exact, f"false negative on doc {doc}"
    # false positives scale with the number of corpus grams TESTED (not
    # with the exact-hit volume): ~2e-4 fpp at 16 bits/item, 7 probes.
    # Bound at 10x theory to keep the test stable.
    n_corpus_grams = (
        corpus.selectExpr(
            "greatest(size(split(trim(text), '\\\\s+')) - 3, 0) AS g"
        )
        .agg({"g": "sum"})
        .collect()[0][0]
    )
    false_pos = sum(bloom.values()) - sum(exact.values())
    assert false_pos <= max(20, 10 * 2e-4 * n_corpus_grams)


def test_span_dedup_keeps_first_occurrence_and_reassembles(spark):
    """Known-answer case: a span repeated across docs survives only in the
    lowest (id, position) occurrence; unique spans all survive; a doc made
    entirely of earlier content comes back empty."""
    w = 3  # span width for the test
    a = "one two three four five six"          # spans: [one two three][four five six]
    b = "one two three seven eight nine"       # first span dups a's
    c = "one two three four five six"          # all spans dup a's
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in cp.span_dedup(df, "doc_id", "text", span_w=w).collect()
    }
    assert rows[1]["n_spans"] == 2 and rows[1]["n_spans_kept"] == 2
    assert rows[1]["text_deduped"] == a
    assert rows[2]["n_spans"] == 2 and rows[2]["n_spans_kept"] == 1
    assert rows[2]["text_deduped"] == "seven eight nine"
    assert rows[3]["n_spans"] == 2 and rows[3]["n_spans_kept"] == 0
    assert rows[3]["text_deduped"] == ""


def test_span_dedup_partial_tail_span_and_conservation(spark):
    """Tail spans shorter than span_w are first-class spans; across the
    corpus, each distinct span is kept exactly once."""
    df = spark.createDataFrame(
        [(10, "a b c d e"), (11, "d e")], ["doc_id", "text"]
    )  # width 2 -> doc 10: [a b][c d][e]; doc 11: [d e] (distinct from [c d])
    out = cp.span_dedup(df, "doc_id", "text", span_w=2)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[10]["n_spans"] == 3 and got[10]["n_spans_kept"] == 3
    assert got[11]["n_spans"] == 1 and got[11]["n_spans_kept"] == 1
    # total kept == number of distinct spans corpus-wide
    from e_commerce_data_lakehouse_spark.operators.dedup import normalize_text  # noqa: F401

    total_kept = sum(r["n_spans_kept"] for r in got.values())
    assert total_kept == 4


def test_token_containment_pairs_known_answer(spark):
    """Short doc fully contained in a long one: containment ~1 with low
    Jaccard — the asymmetric signal; the reverse orientation fails the
    threshold; unrelated docs produce nothing."""
    from e_commerce_data_lakehouse_spark.operators import dedup as dd

    rows = [
        (1, "en", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "en", "alpha beta gamma delta"),      # contained in 1
        (3, "en", "iota kappa lambda mu"),        # unrelated
        (4, "de", "alpha beta gamma delta"),      # other block
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        (r["id_contained"], r["id_container"]): r["containment"]
        for r in dd.token_containment_pairs(
            df, "doc_id", "text", ["lang"], threshold=0.9
        ).collect()
    }
    assert got == {(2, 1): 1.0}


def test_token_jaccard_pairs_between_matches_self_join_restriction(spark):
    """Cross-set pairs equal the self-join pairs restricted to one side in
    each set (orientation normalized)."""
    from e_commerce_data_lakehouse_spark.operators import dedup as dd
    from e_commerce_data_lakehouse_spark import entry_queries as eq

    docs = eq.load(spark, "/root/testdata/sf0.01", "documents")["documents"]
    base = docs.select("doc_id", "lang", "text")
    a = base.filter(F.col("doc_id") % 97 != 0)
    b = base.filter(F.col("doc_id") % 97 == 0)
    cross = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dd.token_jaccard_pairs_between(
            a, b, "doc_id", "text", ["lang"], threshold=0.9
        ).collect()
    }
    full = dd.token_jaccard_pairs(
        base, "doc_id", "text", ["lang"], threshold=0.9
    ).collect()
    want = set()
    for r in full:
        ia, ib = r["id_a"], r["id_b"]
        for x, y in ((ia, ib), (ib, ia)):
            if x % 97 != 0 and y % 97 == 0:
                want.add((x, y, r["jaccard"]))
    assert cross == want and len(want) > 0


def test_quality_classifier_votes_known_answer(spark):
    """Hand-computable corpus: tokens exclusive to positive docs vote +1,
    exclusive-negative tokens vote -1, and the majority vote decides."""
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    rows = [
        # positive docs share 'good'; negative docs share 'bad'
        (1, True, "good good shiny"),
        (2, True, "good solid"),
        (3, False, "bad bad rusty"),
        (4, False, "bad shiny"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "pos", "text"])
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["pos_votes"],
            r["neg_votes"],
            r["predicted_positive"],
        )
        for r in cp.quality_classifier_votes(
            df, "doc_id", "text", "pos"
        ).collect()
    }
    # totals: pos tokens = 5, neg tokens = 5 -> vote = sign(pos_cnt - neg_cnt)
    # good: (3,0) +1;  bad: (0,3) -1;  shiny: (1,1) 0;  solid: (1,0) +1;
    # rusty: (0,1) -1
    assert got == {
        1: (3, 2, 0, True),
        2: (2, 2, 0, True),
        3: (3, 0, 3, False),
        4: (2, 0, 1, False),
    }


def test_cross_group_dup_matrix_full_and_prefix(spark):
    """Full-text form counts only exact duplicates across groups; the
    prefix form also catches shared leads / truncated mirrors."""
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    rows = [
        (1, "s1", "alpha beta gamma delta"),
        (2, "s2", "alpha beta gamma delta"),     # exact dup of 1
        (3, "s2", "alpha beta gamma DIFFERENT"), # shares 3-word prefix
        (4, "s3", "unrelated text entirely"),
        (5, "s1", "alpha beta gamma delta"),     # same fp, same pair s1<s2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    full = {
        (r["group_a"], r["group_b"]): r["n_shared_fingerprints"]
        for r in cp.cross_group_dup_matrix(
            df, "doc_id", "text", "source"
        ).collect()
    }
    assert full == {("s1", "s2"): 1}
    pre = {
        (r["group_a"], r["group_b"]): r["n_shared_fingerprints"]
        for r in cp.cross_group_dup_matrix(
            df, "doc_id", "text", "source", prefix_words=3
        ).collect()
    }
    # prefix-3 collapses docs 1,2,3,5 to one fingerprint -> still one
    # shared fp per group pair, but now it exists only between s1 and s2
    assert pre == {("s1", "s2"): 1}


def test_token_budget_fill_greedy_semantics(spark):
    """Keeps docs in order until the budget is crossed; the crossing doc
    is included; later docs are dropped; groups fill independently."""
    from pyspark.sql import functions as F
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    rows = [
        # (doc_id, grp, n_tokens) — order within grp is by doc_id
        (1, "a", 40),   # cum_before 0   -> keep
        (2, "a", 50),   # cum_before 40  -> keep (crosses 60)
        (3, "a", 10),   # cum_before 90  -> drop
        (4, "b", 60),   # cum_before 0   -> keep (exactly fills)
        (5, "b", 1),    # cum_before 60  -> drop (60 < 60 is false)
        (6, "c", 5),    # cum_before 0   -> keep (group under budget)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "n_tokens"])
    got = {
        r["doc_id"]: (r["fill_rank"], r["cum_before"])
        for r in cp.token_budget_fill(
            df, "grp", [F.col("doc_id")], "n_tokens", budget=60
        ).collect()
    }
    assert got == {1: (1, 0), 2: (2, 40), 4: (1, 0), 6: (1, 0)}


def test_token_budget_fill_plan_has_window_group_limit(spark):
    """The rank pre-filter must compile to WindowGroupLimit so a dominant
    group never ships more than budget rows per input partition."""
    from pyspark.sql import functions as F
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).alias("grp"),
        F.lit(7).alias("n_tokens"),
    )
    out = cp.token_budget_fill(
        df, "grp", [F.col("doc_id")], "n_tokens", budget=50
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_snapshot_diff_statuses(spark):
    """Known-answer: every status arises, and absent-in-both ids don't
    appear at all."""
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "same  TEXT"), (2, "has changed"), (4, "brand new")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["status"]
        for r in cp.snapshot_diff(old, new).collect()
    }
    # doc 1: normalization (case/whitespace) makes the fingerprints equal
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_binary_auc_known_answers(spark):
    """AUC = 1 for a perfect scorer, 0.5 contribution for ties, and the
    hand-computed value for a mixed case."""
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    perfect = spark.createDataFrame(
        [(10, True), (9, True), (2, False), (1, False)], ["s", "y"]
    )
    r = cp.binary_auc(perfect, "s", "y").first()
    assert (r["auc_num"], r["auc_den"], r["auc"]) == (8, 8, 1.0)

    all_tied = spark.createDataFrame(
        [(5, True), (5, False), (5, True), (5, False)], ["s", "y"]
    )
    r = cp.binary_auc(all_tied, "s", "y").first()
    assert r["auc"] == 0.5

    # scores: pos {3, 1}, neg {2}; pairs: (3>2)=1, (1<2)=0 -> AUC = 1/2
    mixed = spark.createDataFrame(
        [(3, True), (1, True), (2, False)], ["s", "y"]
    )
    r = cp.binary_auc(mixed, "s", "y").first()
    assert (r["auc_num"], r["auc_den"], r["auc"]) == (2, 4, 0.5)
    assert (r["n_pos"], r["n_neg"]) == (2, 1)


def test_binary_auc_degenerate_single_class(spark):
    """One-class input: AUC undefined -> auc_den 0, auc NULL."""
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    only_pos = spark.createDataFrame([(3, True), (1, True)], ["s", "y"])
    r = cp.binary_auc(only_pos, "s", "y").first()
    assert r["auc_den"] == 0 and r["auc"] is None
    assert (r["n_pos"], r["n_neg"]) == (2, 0)


def test_bin_packing_validity_and_ffd_dominance(spark):
    """Bin-packing invariants on real documents: assignments are total and
    valid; FFD never uses more bins than next-fit and never beats the
    ceil(total/cap) lower bound; both strategies are deterministic."""
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    docs = eq.load(spark, SF, "documents")["documents"]
    cap = 512

    def collect(strategy):
        return (
            cp.bin_pack_docs(
                docs, "doc_id", "text", seq_len=cap, n_buckets=8,
                strategy=strategy,
            )
            .orderBy("doc_id")
            .collect()
        )

    for strategy in ("nextfit", "ffd"):
        rows = collect(strategy)
        assert len(rows) == docs.count()  # total: every doc assigned
        fills: dict[tuple, int] = {}
        singles: dict[tuple, int] = {}
        for r in rows:
            key = (r["bucket"], r["bin_id"])
            fills[key] = fills.get(key, 0) + r["n_tokens"]
            singles[key] = max(singles.get(key, 0), r["n_tokens"])
        for key, fill in fills.items():
            # a bin may exceed cap only when a single oversized doc owns it
            assert fill <= cap or singles[key] > cap, (strategy, key, fill)
        # determinism: a second run produces the identical assignment
        assert rows == collect(strategy)

    by_bucket_nf: dict[int, int] = {}
    by_bucket_ffd: dict[int, int] = {}
    small_tokens: dict[int, int] = {}  # tokens of docs that fit a bin
    n_oversized: dict[int, int] = {}
    for r in collect("nextfit"):
        b = r["bucket"]
        by_bucket_nf[b] = max(by_bucket_nf.get(b, 0), r["bin_id"] + 1)
        if r["n_tokens"] > cap:
            n_oversized[b] = n_oversized.get(b, 0) + 1
        else:
            small_tokens[b] = small_tokens.get(b, 0) + r["n_tokens"]
    for r in collect("ffd"):
        by_bucket_ffd[r["bucket"]] = max(
            by_bucket_ffd.get(r["bucket"], 0), r["bin_id"] + 1
        )
    for b in by_bucket_nf:
        # Empirical, data-pinned regression check — NOT a theorem: FFD can
        # use more bins than next-fit (cap 10, id-order [4,3,3,5,5,4,3,3]
        # gives NF=3, FFD=4).  It holds on this generated corpus; if the
        # generator changes and this trips, relax to a ratio bound rather
        # than "fixing" the packer.
        assert by_bucket_ffd[b] <= by_bucket_nf[b]
        # exact lower bound: an oversized doc can never share its bin
        # (fill > cap admits no further doc), so a perfect packer needs
        # one bin per oversized doc plus ceil(rest / cap)
        lower = n_oversized.get(b, 0) + -(-small_tokens.get(b, 0) // cap)
        assert by_bucket_ffd[b] >= max(lower, 1)


def test_bin_packing_rejects_unknown_strategy(spark):
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    import pytest

    docs = eq.load(spark, SF, "documents")["documents"]
    with pytest.raises(ValueError):
        cp.bin_pack_docs(docs, "doc_id", "text", strategy="bestfit")


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (corpus.weighted_sample)
# ---------------------------------------------------------------------------
def test_weighted_sample_deterministic_and_partition_independent(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    rows = [(i, 1 + (i % 50) * 100) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, w long")
    s1 = {r.id for r in cp.weighted_sample(df, "id", "w", 100).collect()}
    s2 = {
        r.id
        for r in cp.weighted_sample(df.repartition(13), "id", "w", 100).collect()
    }
    s3 = {r.id for r in cp.weighted_sample(df, "id", "w", 100).collect()}
    assert s1 == s2 == s3 and len(s1) == 100


def test_weighted_sample_favors_heavy_rows(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    # half the rows have 100x the weight: they should dominate the sample
    rows = [(i, 10000 if i % 2 == 0 else 100) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, w long")
    picked = [r.id for r in cp.weighted_sample(df, "id", "w", 200).collect()]
    heavy = sum(1 for i in picked if i % 2 == 0)
    assert heavy > 150  # E[heavy] ~ 198; far above the unweighted 100


def test_weighted_sample_drops_nonpositive_weights(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    # zero/negative weights have no A-ES inclusion probability: they must
    # never be drawn, even when n exceeds the positive-weight row count
    # (ADVICE r5: previously greatest(w, 1.0) silently sampled them as 1).
    rows = [(i, i - 10) for i in range(30)]  # w in [-10, 19]
    df = spark.createDataFrame(rows, "id long, w long")
    picked = cp.weighted_sample(df, "id", "w", 25).collect()
    assert len(picked) == 19  # only w >= 1 rows (ids 11..29)
    assert all(r.id >= 11 for r in picked)


def test_weighted_sample_plan_is_take_ordered(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    df = spark.range(1000).selectExpr("id", "1 + id % 7 AS w")
    plan = (
        cp.weighted_sample(df, "id", "w", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# Gopher rule-based quality flags (corpus.gopher_quality_flags)
# ---------------------------------------------------------------------------
def test_gopher_flags_rules_fire_individually(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    good = " ".join(["the", "a", "word", "here"] * 15)  # 60 words, stopwords ok
    rows = [
        (1, good),
        (2, "the a short doc"),  # < 50 words
        (3, " ".join(["supercalifragilistic"] * 60)),  # mean len > 10, no stop
        (4, good + " " + "# " * 20),  # symbol ratio > 0.1
        (5, " ".join(["the", "a"] + ["12345"] * 58)),  # alpha ratio < 0.8
        (6, " ".join(["word", "other"] * 30)),  # < 2 distinct stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in cp.gopher_quality_flags(df).collect()}
    assert got[1]["gopher_pass"]
    assert not got[2]["flag_word_count"] and not got[2]["gopher_pass"]
    assert not got[3]["flag_mean_word_len"]
    assert not got[4]["flag_symbol_ratio"]
    assert not got[5]["flag_alpha_words"]
    assert not got[6]["flag_stopwords"]


def test_gopher_flags_integer_exact_boundaries(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    # exactly 50 words / mean word length exactly 3 and exactly 10 pass
    # (bounds are inclusive, integer compares — no float epsilon anywhere)
    w50 = " ".join(["the"] + ["abc"] * 49)  # 50 words, mean exactly 3
    mean10 = " ".join(["the", "a"] + ["abcdefghij"] * 58)  # mean <= 10
    df = spark.createDataFrame(
        [(1, w50), (2, mean10)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in cp.gopher_quality_flags(df).collect()}
    assert got[1]["flag_word_count"] and got[1]["flag_mean_word_len"]
    assert got[2]["flag_mean_word_len"]


# ---------------------------------------------------------------------------
# Temperature-scaled mixture sampling (corpus.temperature_mixture_sample)
# ---------------------------------------------------------------------------
def test_temperature_mixture_upsamples_low_resource_groups(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    # 900 'big' rows vs 100 'small': proportional sampling gives small 10%
    # of the draw; alpha=0.5 gives it sqrt(100)/(sqrt(900)+sqrt(100)) = 25%.
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, g string")
    out = cp.temperature_mixture_sample(df, "g", "id", 100)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(
        F.count("*").alias("n")).collect()}
    # quotas: w_big=30e6, w_small=10e6, W=40e6 -> 75 and 25
    assert counts == {"big": 75, "small": 25}


def test_temperature_mixture_deterministic_and_min_quota(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    rows = [(i, f"g{min(i, 5)}") for i in range(400)]  # g5 dominates; g0..g4 singletons
    df = spark.createDataFrame(rows, "id long, g string")
    s1 = sorted(r["id"] for r in cp.temperature_mixture_sample(df, "g", "id", 50).collect())
    s2 = sorted(
        r["id"]
        for r in cp.temperature_mixture_sample(
            df.repartition(17), "g", "id", 50
        ).collect()
    )
    assert s1 == s2
    # every group draws at least one row (floor-quota guarantee)
    got_groups = {
        r["g"]
        for r in cp.temperature_mixture_sample(df, "g", "id", 50)
        .select("g")
        .distinct()
        .collect()
    }
    assert got_groups == {f"g{i}" for i in range(6)}


def test_temperature_mixture_rejects_unsupported_alpha(spark):
    from e_commerce_data_lakehouse_spark.operators import corpus as cp

    import pytest

    df = spark.createDataFrame([(1, "a")], "id long, g string")
    with pytest.raises(ValueError):
        cp.temperature_mixture_sample(df, "g", "id", 10, alpha_num=2, alpha_den=3)


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every near-dup cluster lands wholly inside ONE split — the property
    the leakage_safe_split_counts query is built on."""
    from e_commerce_data_lakehouse_spark import entry_queries as eq
    from e_commerce_data_lakehouse_spark.operators import graph as gr

    docs = eq.load(spark, SF, "documents")["documents"]
    pairs = eq.near_dup_token_jaccard(spark, SF)
    comp = gr.connected_components(pairs, "id_a", "id_b")
    m = docs.join(comp, docs["doc_id"] == comp["id"], "left").select(
        "doc_id", F.coalesce("comp", "doc_id").alias("ck")
    )
    split = cp.dataset_split(m, "ck")
    straddlers = (
        split.groupBy("ck")
        .agg(F.count_distinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddlers == 0
    # and there exists at least one multi-doc cluster, so the guarantee
    # is exercised, not vacuous
    assert (
        split.groupBy("ck").count().filter(F.col("count") > 1).count() > 0
    )


def test_prefix_filtered_pairs_match_bruteforce(spark):
    """The r8 prefix-filtered candidate generation must be LOSSLESS: on a
    seeded random corpus (short/long docs, shared head words, planted
    near-dups, multiple blocks) both token_jaccard_pairs and
    token_containment_pairs must equal a Python brute force over all
    same-block pairs — including threshold-boundary scores that ROUND up
    to t (the 5e-7 window the prefix size is derived from)."""
    import itertools
    import random as _random

    from e_commerce_data_lakehouse_spark.operators import dedup as dd

    rng = _random.Random(7)
    head = ["the", "a", "of", "data", "spark"]
    tail = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(120):
        n = rng.choice([4, 6, 10, 20, 40])
        words = [rng.choice(head)] + [
            rng.choice(head) if rng.random() < 0.4 else rng.choice(tail)
            for _ in range(n - 1)
        ]
        rows.append((i, rng.choice(["en", "de"]), " ".join(words)))
        if rng.random() < 0.3:  # planted near-dup: mutate 0-2 words
            m = list(words)
            for _ in range(rng.randint(0, 2)):
                m[rng.randrange(len(m))] = rng.choice(tail)
            rows.append((1000 + i, rows[-1][1], " ".join(m)))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])

    # brute force on normalized distinct token sets per (lang) block
    def tokset(text):
        return set(text.split(" "))  # already normalized words

    docs = {r[0]: (r[1], tokset(r[2])) for r in rows}
    want_j, want_c = set(), set()
    for x, y in itertools.combinations(sorted(docs), 2):
        (lx, tx), (ly, ty) = docs[x], docs[y]
        if lx != ly:
            continue
        inter = len(tx & ty)
        j = round(inter / len(tx | ty), 6)
        if j >= 0.8:
            want_j.add((x, y))
        for a, b in ((x, y), (y, x)):
            ca = round(inter / len(docs[a][1]), 6)
            if ca >= 0.8:
                want_c.add((a, b))

    got_j = {
        (r["id_a"], r["id_b"])
        for r in dd.token_jaccard_pairs(
            df, "doc_id", "text", ["lang"], threshold=0.8
        ).collect()
    }
    got_c = {
        (r["id_contained"], r["id_container"])
        for r in dd.token_containment_pairs(
            df, "doc_id", "text", ["lang"], threshold=0.8
        ).collect()
    }
    assert got_j == want_j and len(want_j) > 5
    assert got_c == want_c and len(want_c) > len(want_j)

    # r9: the BETWEEN form (benchmark-side prefix index, corpus token
    # stream probe) must be lossless on the same corpus — split it into
    # corpus (id % 3 != 0) vs benchmark (id % 3 == 0), brute force the
    # cross pairs at a boundary-exercising threshold
    corpus = df.filter(F.col("doc_id") % 3 != 0)
    bench = df.filter(F.col("doc_id") % 3 == 0)
    want_b = set()
    for x, y in itertools.product(sorted(docs), sorted(docs)):
        if x % 3 == 0 or y % 3 != 0:
            continue
        (lx, tx), (ly, ty) = docs[x], docs[y]
        if lx != ly:
            continue
        j = round(len(tx & ty) / len(tx | ty), 6)
        if j >= 0.8:
            want_b.add((x, y))
    got_b = {
        (r["id_a"], r["id_b"])
        for r in dd.token_jaccard_pairs_between(
            corpus, bench, "doc_id", "text", ["lang"], threshold=0.8
        ).collect()
    }
    assert got_b == want_b and len(want_b) > 0
