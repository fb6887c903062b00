"""Word-trigram shingle index: the distinct word trigrams of each doc.

The one builder behind every operator that compares docs by shingle
set (exact Jaccard and containment pairs, MinHash signatures, eval-set
decontamination, snapshot novelty). Each doc's set is deduplicated
LOCALLY (array_distinct inside the row), so building the index costs
no cross-row distinct exchange.

`short_doc` says what a doc with fewer than 3 words contributes:
"empty" (no shingles, what the DuckDB oracles' empty slice range
yields) or "text" (its whole text as its one shingle, so MinHash and
decontamination still see it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.sources.tables import spread


def shingle_arrays(docs: DataFrame, short_doc: str = "empty") -> DataFrame:
    """(doc_id, sh: array<string>) — a doc's distinct word trigrams.
    Signature folds consume the array without exploding it."""
    # the split is its own projection BEFORE the transform: an
    # expression captured inside a higher-order-function lambda is
    # re-evaluated PER ELEMENT (O(words²) splits per doc)
    if short_doc not in ("empty", "text"):
        raise ValueError(f"short_doc must be 'empty' or 'text', got {short_doc!r}")
    words = F.col("_w")
    n = F.size(words)
    short = F.array(F.col("text")) if short_doc == "text" else F.array().cast("array<string>")
    sh = F.when(
        n >= 3,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), n - 2), lambda i: F.array_join(F.slice(words, i, 3), " "))
        ),
    ).otherwise(short)
    return spread(docs, "doc_id").withColumn("_w", F.split("text", " ")).select("doc_id", sh.alias("sh"))


def shingles(docs: DataFrame, short_doc: str = "empty") -> DataFrame:
    """(doc_id, n_sh, shingle) — one row per distinct shingle of a doc.
    `n_sh` is the doc's set size, taken from the same array the explode
    consumes, so it equals the doc's row count here: exact-Jaccard and
    containment joins group it through instead of re-aggregating sizes
    and joining them back to the pairs."""
    # the explode argument is WRAPPED in a CASE: a bare column generator
    # triggers InferFiltersFromGenerate, whose inferred size(...) > 0
    # filter is pushed below the projections with the full expression
    # substituted back in — re-running the per-element split per row
    # (measured 2x the whole pipeline). A CASE generator is skipped by
    # the rule; empty arrays explode to no rows either way.
    return shingle_arrays(docs, short_doc).select(
        "doc_id",
        F.size("sh").alias("n_sh"),
        F.explode(F.when(F.size("sh") > 0, F.col("sh"))).alias("shingle"),
    )
