"""N-gram-profile language identification (training-data pipeline op).

Extends the reference's script-block language ID (the `detect_script`
expression; reference keeps a `lang`-style field at
`social_to_deltalake_table.py:296-327`) into the classic n-gram-profile
classifier: build a per-language character-trigram profile from a labeled
corpus, then classify documents by trigram overlap with each profile.

Scale design (100 TB):
- Trigram extraction is `explode(sequence(...))` + `substr` — pure codegen,
  no Python, no arrays materialized per row (the substr runs lazily per
  exploded index).  This beat higher-order-function pipelines ~5x in the
  MinHash work; same shape reused here.
- The profile build aggregates (lang, trigram) DIRECTLY from the exploded
  stream — partial aggregation collapses each map partition to the distinct
  trigram set (bounded: |languages| x |alphabet|^3), so the shuffle is tiny
  no matter the corpus size.  No doc-keyed intermediate, no persist.
- Scoring re-explodes and hash-joins the broadcast profile (n_languages x
  top_n rows) BEFORE any shuffle: occurrences not in any profile die
  map-side, and the only shuffle is the partial-aggregated
  (doc, profile_lang) score table — ~|docs| x |languages| rows.
  Re-reading the text twice (two codegen scans) is far cheaper than
  shuffling and caching a per-doc trigram table at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.operators.dedup import ensure_parallelism


def exploded_trigrams(df: DataFrame, cols: list[str], text_col: str) -> DataFrame:
    """One row per character-trigram occurrence of lowercased text.

    Docs shorter than 3 chars produce no rows (same as the oracle's
    `generate_series` yielding an empty range).  The guard also keeps
    Spark's `sequence` from producing a *descending* range when
    ``length - 2 < 1`` (sequence infers step -1 when start > stop).

    The input is repartitioned if under-partitioned (single-file tables
    scan as ONE task; the explode stage must spread across cores).
    """
    t = F.lower(F.col(text_col))
    return (
        ensure_parallelism(df)
        .filter(F.length(F.col(text_col)) >= 3)
        .select(*cols, t.alias("_t"))
        .select(
            *cols,
            F.explode(F.sequence(F.lit(1), F.length("_t") - 2)).alias("_i"),
            F.col("_t"),
        )
        .select(*cols, F.col("_t").substr(F.col("_i"), F.lit(3)).alias("trigram"))
    )


def language_profiles_from_corpus(
    df: DataFrame, lang_col: str, text_col: str, top_n: int = 50
) -> DataFrame:
    """Top-N trigrams per language, aggregated straight off the exploded
    trigram stream — the scale path: no doc-keyed intermediate, the shuffle
    carries only the partial-aggregated (lang, trigram) pairs."""
    by_lang = (
        exploded_trigrams(df, [lang_col], text_col)
        .groupBy(lang_col, "trigram")
        .agg(F.count(F.lit(1)).alias("lang_count"))
    )
    return _rank_profiles(by_lang, lang_col, top_n)


def _rank_profiles(by_lang: DataFrame, lang_col: str, top_n: int) -> DataFrame:
    w = Window.partitionBy(lang_col).orderBy(F.desc("lang_count"), F.asc("trigram"))
    return (
        by_lang.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.col(lang_col).alias("profile_lang"),
            "trigram",
            F.col("lang_count").cast("long").alias("lang_count"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def classify_corpus(
    df: DataFrame, profiles: DataFrame, id_cols: list[str], text_col: str
) -> DataFrame:
    """Assign each document the language whose profile it overlaps most.

    Single pass: explode → broadcast-join the profile → count matches per
    (doc, language) → argmax.  Score = the number of the document's
    trigram occurrences that hit that language's profile.  The profile
    side is broadcast (tiny), so non-matching occurrences are dropped
    map-side and no doc-keyed trigram table is shuffled; argmax tiebreak
    is language name asc.  Documents sharing no trigram with any profile
    drop out (inner join) — deterministic on both engines."""
    scores = (
        exploded_trigrams(df, id_cols, text_col)
        .join(F.broadcast(profiles.select("profile_lang", "trigram")), "trigram")
        .groupBy(*id_cols, "profile_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("score"))
    )
    return _argmax(scores, id_cols)


def _argmax(scores: DataFrame, id_cols: list[str]) -> DataFrame:
    w = Window.partitionBy(*id_cols).orderBy(F.desc("score"), F.asc("profile_lang"))
    return (
        scores.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*id_cols, F.col("profile_lang").alias("predicted_lang"), "score")
    )
