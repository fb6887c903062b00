"""Composable training-data pipeline stages — the library API behind
the registry queries, for users assembling their own cleaning cascade:

    from pyspark_distributed_kmodes_spark import pipeline as P

    docs = spark.read.parquet(".../documents.parquet")
    clean = P.pack_sequences(
        P.decontaminate(
            P.near_dedup(P.exact_dedup(P.quality_filter(docs))),
            eval_docs,
        )
    )

Every stage takes and returns a DataFrame with at least (doc_id, text)
— stages compose in any order and stay lazy (one job at the end, with
the documented exceptions below). The registry queries (a52, a56, a63,
a97, a98, a75, b06) are the oracle-gated forms of the same logic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.functions.shingles import shingles


def quality_filter(
    docs: DataFrame,
    min_words: int = 20,
    min_unique_ratio: float = 0.3,
    max_top_bigram_frac: float | None = None,
) -> DataFrame:
    """Length + lexical-diversity gate (a52), optionally with the
    Gopher-style repetition cap (a99). Pure filters — no shuffle."""
    # split (and the derived bigram array) materialized once per row —
    # captured in a transform/filter lambda they re-run per element
    # (r13 HOF-capture fix); helper columns dropped before returning
    words = F.col("_w")
    keep = (F.size(words) >= min_words) & (
        F.size(F.array_distinct(words)).cast("double") / F.size(words) > min_unique_ratio
    )
    out = docs.withColumn("_w", F.split("text", " ")).filter(keep)
    if max_top_bigram_frac is not None:
        bigrams = F.col("_bg")
        bg_expr = F.when(
            F.size(words) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - 1),
                lambda i: F.array_join(F.slice(words, i, 2), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        # per-row top-bigram fraction via higher-order folds (no explode)
        top = F.array_max(
            F.transform(
                F.array_distinct(bigrams),
                lambda b: F.size(F.filter(bigrams, lambda x: x == b)),
            )
        )
        frac = top.cast("double") / F.size(bigrams)
        out = out.withColumn("_bg", bg_expr).filter(
            (F.size(bigrams) == 0) | (frac <= max_top_bigram_frac)
        ).drop("_bg")
    return out.drop("_w")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per byte-identical text (q56). One shuffle
    on the content hash."""
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return docs.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def near_dedup(docs: DataFrame, threshold: float = 0.2, max_df: int = 100_000) -> DataFrame:
    """Drop every non-canonical member of each near-duplicate cluster
    (trigram Jaccard ≥ threshold, connected components — a97/a98 with
    the exact-dup collapse cascade). Keeps the minimum doc_id per
    cluster. NOTE: runs the iterative CC loop — executes jobs eagerly.
    """
    from pyspark_distributed_kmodes_spark.operators.dedup import near_dup_components

    cc = near_dup_components(docs, threshold=threshold, max_df=max_df)
    losers = cc.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


def decontaminate(train: DataFrame, eval_docs: DataFrame, min_shared_shingles: int = 1) -> DataFrame:
    """Remove training docs sharing ≥ min_shared_shingles distinct word
    trigrams with the eval set (a75). Eval shingles broadcast — for a
    real benchmark the sweep is a map-side scan of the corpus."""
    tr_sh = shingles(train, short_doc="text")
    ev_sh = shingles(eval_docs, short_doc="text").select("shingle").distinct()
    hits = (
        tr_sh.join(F.broadcast(ev_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_shared_shingles)
        .select("doc_id")
    )
    return train.join(hits, "doc_id", "left_anti")


def pack_sequences(docs: DataFrame, target_words: int = 256, shard_col: str = "source") -> DataFrame:
    """Assign each doc a pack_id by concat-and-chunk packing within its
    shard (b06). Adds n_words, start_offset, pack_id columns."""
    n_words = F.size(F.split("text", " ")).cast("bigint")
    w = Window.partitionBy(shard_col).orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        docs.withColumn("n_words", n_words)
        .withColumn("start_offset", F.sum("n_words").over(w) - F.col("n_words"))
        .withColumn("pack_id", F.floor(F.col("start_offset") / target_words).cast("bigint"))
    )


def with_stage_metrics(docs: DataFrame, stage: str):
    """Attach free in-flight data-quality counters to a pipeline stage
    via df.observe: rows, docs, total/avg chars, null-text count — the
    metrics land with the FIRST action on the returned DataFrame, no
    extra job or second scan.

    Returns (df, observation); read observation.get after an action:

        df, obs = P.with_stage_metrics(P.quality_filter(docs), "quality")
        df.write.parquet(out)
        print(obs.get)   # {'n_rows': ..., 'n_null_text': ..., ...}

    Scale: Observation is an accumulator-backed listener — counters
    merge per-task on the executors; nothing is collected beyond one
    metrics row, so it costs nothing at 100 TB (unlike a .count() per
    stage, which doubles every scan).
    """
    from pyspark.sql import Observation

    obs = Observation(f"stage_{stage}")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("n_null_text"),
        F.sum(F.length("text")).alias("total_chars"),
        F.avg(F.length("text")).alias("avg_chars"),
    )
    return observed, obs


def compression_filter(docs: DataFrame, min_ratio: float = 0.05, max_ratio: float = 0.95) -> DataFrame:
    """Compression-ratio gate (z28's signal as a stage): drop documents
    that deflate too well (templated/repeated) or barely at all
    (random noise). Arrow-batched zlib — the one Python stage in the
    cascade; place it AFTER the cheap JVM filters so it sees fewer
    rows."""
    import zlib

    @F.pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [len(zlib.compress(t.encode(), 6)) / max(len(t.encode()), 1) for t in texts]
        )

    return docs.filter(_ratio(F.col("text")).between(min_ratio, max_ratio))


def weighted_sample(docs: DataFrame, k_per_stratum: int, stratum_col: str = "lang") -> DataFrame:
    """Deterministic weighted sampling stage (z01's A-ES): keep the k
    most exponential-key-favored documents per stratum, inclusion odds
    proportional to token count — reproducible across runs and
    partitionings (no RNG state)."""
    nw = F.size(F.split("text", " "))
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    u = (F.conv(h, 16, 10).cast("bigint").cast("double") + 0.5) / float(2**32)
    key = -F.log(u) / nw
    return (
        docs.withColumn("_rk", F.row_number().over(Window.partitionBy(stratum_col).orderBy(key, F.asc("doc_id"))))
        .filter(F.col("_rk") <= k_per_stratum)
        .drop("_rk")
    )
