"""Unit semantics of the n-gram-profile language-ID operator."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.operators import langid as lid


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_trigram_counts_basic(spark):
    df = _df(spark, [(1, "en", "ababa")])
    got = Counter(
        r["trigram"]
        for r in lid.exploded_trigrams(df, ["doc_id"], "text").collect()
    )
    assert got == {"aba": 2, "bab": 1}  # one row per occurrence


def test_trigram_counts_lowercases_and_skips_short(spark):
    df = _df(spark, [(1, "en", "ABCA"), (2, "en", "ab"), (3, "en", "")])
    rows = lid.exploded_trigrams(df, ["doc_id"], "text").collect()
    assert {r["doc_id"] for r in rows} == {1}
    assert {r["trigram"] for r in rows} == {"abc", "bca"}


def test_profile_rank_tiebreak_is_trigram_asc(spark):
    # both trigrams occur once -> rank decided by trigram name
    df = _df(spark, [(1, "en", "xyza")])  # xyz, yza each once
    prof = lid.language_profiles_from_corpus(df, "lang", "text", top_n=1)
    prof = prof.collect()
    assert len(prof) == 1 and prof[0]["trigram"] == "xyz"


def test_classify_argmax_and_tiebreak(spark):
    corpus = _df(
        spark,
        [
            (1, "aa", "hello hello hello"),
            (2, "bb", "world world world"),
        ],
    )
    prof = lid.language_profiles_from_corpus(corpus, "lang", "text", top_n=50)
    pred = {
        r["doc_id"]: r["predicted_lang"]
        for r in lid.classify_corpus(
            corpus, prof, ["doc_id", "lang"], "text"
        ).collect()
    }
    assert pred == {1: "aa", 2: "bb"}


def test_classify_drops_docs_with_no_profile_overlap(spark):
    corpus = _df(spark, [(1, "aa", "hello hello")])
    prof = lid.language_profiles_from_corpus(corpus, "lang", "text", top_n=50)
    stranger = _df(spark, [(9, "??", "zzzqqq")])
    out = lid.classify_corpus(stranger, prof, ["doc_id", "lang"], "text")
    assert out.count() == 0


def test_predictions_learn_corpus_bias(spark):
    """On the synthetic corpus the classifier must at least be total
    (every doc >= 3 chars classified exactly once) and deterministic."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prof = lid.language_profiles_from_corpus(docs, "lang", "text", top_n=50)
    out = lid.classify_corpus(docs, prof, ["doc_id", "lang"], "text")
    n_docs = docs.filter(F.length("text") >= 3).count()
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
