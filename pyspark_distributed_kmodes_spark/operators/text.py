"""Text-analysis operators for LLM training-data pipelines.

Word counting, quality scoring, token counting, language heuristics,
document fingerprinting, and n-gram Jaccard similarity — all JVM
built-ins (split/explode/regexp/md5), no Python UDFs, so every query
whole-stage-codegens and scales linearly with document count.
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.functions.deterministic import davg, pround, sql_davg
from pyspark_distributed_kmodes_spark.functions.shingles import shingles as doc_shingles
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.sources.tables import table

# Fixed stopword list for quality scoring (language-agnostic heuristic;
# the corpus vocabulary is pseudo-words, so we use its common fillers).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


@query(
    "qo50_word_count",
    oracle="""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 50
""",
    tags=("text",),
    bench=True,
)
def qo50_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-50 word count: explode → groupBy → top-k.

    Scale: the explode fans out ~40× but partial aggregation collapses
    it map-side before the shuffle; top-k via TakeOrderedAndProject.
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(50)
    )


@query(
    "qo51_lang_profile",
    oracle=f"""
SELECT lang, source,
       COUNT(*) AS n_docs,
       {sql_davg('n_chars')} AS avg_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang, source
ORDER BY lang, source
""",
    tags=("text",),
)
def qo51_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: doc counts and length stats per (lang, source)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("n_chars").alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


@query(
    "qo52_quality_score",
    oracle=f"""
SELECT doc_id,
       n_words,
       (CAST(floor((CAST(n_chars AS DOUBLE) / n_words) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS chars_per_word,
       (CAST(floor((CAST(n_stop AS DOUBLE) / n_words) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS stopword_ratio,
       (CAST(floor((CAST(n_unique AS DOUBLE) / n_words) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS unique_ratio,
       CASE WHEN n_words >= 20 AND CAST(n_unique AS DOUBLE) / n_words > 0.3
            THEN 1 ELSE 0 END AS passes_quality
FROM (
  SELECT doc_id, n_chars,
         len(string_split(text, ' ')) AS n_words,
         len(list_filter(string_split(text, ' '),
             w -> list_contains({list(STOPWORDS)!r}, w))) AS n_stop,
         len(list_distinct(string_split(text, ' '))) AS n_unique
  FROM documents
) t
ORDER BY doc_id
""",
    tags=("text",),
)
def qo52_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, stopword ratio, lexical
    diversity, and a pass/fail gate — the standard pre-training filter
    stack, computed entirely with array built-ins."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    base = d.select(
        "doc_id",
        "n_chars",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("bigint").alias("n_stop"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_unique"),
    )
    return base.select(
        "doc_id",
        "n_words",
        pround(F.col("n_chars").cast("double") / F.col("n_words"), 6).alias("chars_per_word"),
        pround(F.col("n_stop").cast("double") / F.col("n_words"), 6).alias("stopword_ratio"),
        pround(F.col("n_unique").cast("double") / F.col("n_words"), 6).alias("unique_ratio"),
        F.when((F.col("n_words") >= 20) & (F.col("n_unique").cast("double") / F.col("n_words") > 0.3), 1)
        .otherwise(0)
        .alias("passes_quality"),
    ).orderBy("doc_id")


@query(
    "qo53_token_count",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_tokens,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_words
FROM documents
GROUP BY lang
ORDER BY lang
""",
    tags=("text",),
)
def qo53_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (alpha runs | digit runs |
    single non-alnum) vs whitespace words — the budget metric every
    training-data pipeline needs."""
    d = table(spark, sf_dir, "documents")
    tokens = F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens)).cast("bigint").alias("total_tokens"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_words"),
        )
        .orderBy("lang")
    )


@query(
    "qo54_doc_fingerprint",
    oracle="""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
       md5(text) AS exact_hash
FROM documents
ORDER BY doc_id
""",
    tags=("text", "dedup"),
)
def qo54_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact content hash + an order-insensitive
    bag-of-words fingerprint (sorted unique words → md5), the cheap
    first stage of a dedup cascade."""
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(words)), " ")).alias("fingerprint"),
        F.md5(F.col("text")).alias("exact_hash"),
    ).orderBy("doc_id")


_O55_ORACLE = """
WITH shingles AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                  i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingle
    FROM documents
  ) t
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       (CAST(floor((CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common)) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.2
ORDER BY doc_a, doc_b
"""


def ngram_jaccard_pairs(
    d: DataFrame,
    threshold: float = 0.2,
    max_df: int | None = None,
    materialize: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-trigram Jaccard pairs over a `documents`-shaped DataFrame.

    Inverted-index formulation: per-doc DISTINCT shingles are computed
    locally (array_distinct — the round-12 form paid a full cross-row
    .distinct() exchange for a dedup each row already contains), then
    the index self-joins on shingle (only docs SHARING a shingle ever
    meet — no cross join), counts intersections,
    Jaccard = |∩| / (|A|+|B|-|∩|).

    `max_df` — stop-shingle cap: a shingle appearing in more than max_df
    documents is removed from the universe (sizes AND intersections)
    before the pair join. At 100 TB a single boilerplate trigram shared
    by 1M docs would otherwise create a 10^12-pair bucket; hot shingles
    only connect unrelated docs. The hot set is tiny by construction
    (df > max_df) so it broadcasts into a left-anti join. MinHash (q63)
    is the sub-quadratic successor at full scale.

    Round-13 note: a grouped-bucket form (collect_list per shingle +
    local i<j pair expansion, replacing the self-join) was prototyped
    and MEASURED SLOWER (16 vs 7 JVM-CPU-seconds at sf0.1): the df
    census + per-shingle list aggregation each cost as much as the
    whole distinct+self-join path, which AQE turns into a broadcast
    hash join at this scale. Kept: the self-join, which also streams
    hot buckets instead of materializing per-shingle arrays.

    Short docs (< 3 words) yield no shingles — same as the SQL oracle,
    where the slice range is empty.

    `shingles` — an optional pre-built AND pre-materialized index in
    `functions.shingles.shingles`' (doc_id, n_sh, shingle) shape; callers
    that need the same index for another pass hand it in so it is
    computed once (qg04: truth pairs + MinHash signatures). A provided
    index is used as-is (no second lineage cut). Invariant: `n_sh`
    equals the doc's row count in the index BEFORE any `max_df` filter
    (the cap is subtracted here); an index without `n_sh` raises
    ValueError.
    """
    provided = shingles is not None
    if shingles is None:
        shingles = doc_shingles(d)
    elif "n_sh" not in shingles.columns:
        raise ValueError("ngram_jaccard_pairs: the shingles index must carry n_sh")
    # the per-doc set size `n_sh` rides on every index row, so the pair
    # join GROUPS the sizes through instead of re-deriving them with an
    # index-wide aggregate + two pair⋈sizes joins (at 100 TB the sizes
    # table is corpus-sized — those two joins were two full shuffles of
    # the pair set)
    corr = None  # per-doc count of CAPPED shingles (max_df path only)
    if max_df is not None:
        # materialize the RAW index FIRST (r13): the census aggregate and
        # the anti-join left side both consume it, so checkpointing after
        # the anti-join paid the explode twice and re-ran the whole census
        # pipeline inside the checkpoint job. One raw materialization +
        # census-from-checkpoint + lazy anti-join is the same 100 TB size
        # class with one explode pass instead of three.
        if materialize and not provided:
            shingles = shingles.transform(cut_lineage)
        hot = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        # max_df removes hot shingles from the universe, so a doc's
        # EFFECTIVE size is n_sh minus its hot members. The correction
        # table is bounded by docs-that-contain-a-hot-shingle (usually
        # empty; hot sets are tiny by construction) and joins the pairs
        # twice by broadcast.
        corr = (
            shingles.join(F.broadcast(hot), "shingle", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hot"))
        )
        shingles = shingles.join(F.broadcast(hot), "shingle", "left_anti")
    # the shingle index feeds both self-join sides (plus the hot-set
    # scan above): materialize once instead of recomputing the
    # scan+explode per consumer — the same size class as the shuffle
    # that built it, and the ~10 callers of this helper all inherit the
    # fix (scan-lint). materialize=False keeps the lineage inspectable
    # for plan pins (test_plans: the anti-join must stay in the shape).
    elif materialize and not provided:
        shingles = shingles.transform(cut_lineage)
    a = shingles.alias("a")
    b = shingles.alias("b")
    # na/nb are functionally dependent on doc_a/doc_b — grouping by them
    # adds no groups
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if corr is not None:
        ca = corr.select(F.col("doc_id").alias("doc_a"), F.col("n_hot").alias("_ha"))
        cb = corr.select(F.col("doc_id").alias("doc_b"), F.col("n_hot").alias("_hb"))
        pairs = (
            pairs.join(F.broadcast(ca), "doc_a", "left")
            .join(F.broadcast(cb), "doc_b", "left")
            .select(
                "doc_a",
                "doc_b",
                "n_common",
                (F.col("na") - F.coalesce("_ha", F.lit(0))).alias("na"),
                (F.col("nb") - F.coalesce("_hb", F.lit(0))).alias("nb"),
            )
        )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        pairs.filter(jac >= threshold)
        .select("doc_a", "doc_b", pround(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@query("qo55_ngram_jaccard", oracle=_O55_ORACLE, tags=("text", "dedup"))
def qo55_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection via exact 3-gram Jaccard (see
    ngram_jaccard_pairs). max_df=100_000 leaves test-scale results
    untouched (corpus df max ≪ 100k) while capping the join fan-out."""
    d = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.2, max_df=100_000)


@query(
    "qo56_exact_dedup",
    oracle="""
SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
       COUNT(*) AS n_copies,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM documents
GROUP BY 1
HAVING COUNT(*) >= 1
ORDER BY fingerprint
""",
    tags=("text", "dedup"),
    bench=True,
)
def qo56_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (hash-based) dedup: group by content fingerprint, keep the
    lowest doc_id. The groupBy-on-hash formulation shuffles only
    (hash, id) pairs — never full text — which is what survives 100 TB.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(words)), " "))
    return (
        d.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .orderBy("fingerprint")
    )


@query(
    "qo57_tfidf_top_terms",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word
), df AS (
  SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.word,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
), ranked AS (
  SELECT doc_id, word, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rn
  FROM scored
)
SELECT doc_id, word, tfidf, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= 3
ORDER BY doc_id, rn
""",
    tags=("text",),
)
def qo57_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document, smooth-idf variant
    (idf = ln((N+1)/(df+1)) + 1, scikit-style), all relational:
    explode → two aggregations → join → window top-k. No ml-lib state;
    the idf table is a reusable artifact at scale (broadcastable).
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a 1-row DF cross-joined into the idf table: keeps
    # the whole computation one lazy plan (no separate driver action)
    n_docs_df = d.groupBy().agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    # idf spans the full VOCABULARY — data-dependent size, so no forced
    # broadcast (AQE picks one at small SF); only the 1-row corpus count
    # is hinted
    idf = df_.crossJoin(F.broadcast(n_docs_df))
    tfidf = F.round(F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6)
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word").asc())
    return (
        tf.join(idf, "word")
        .select("doc_id", "word", tfidf.alias("tfidf"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("doc_id", "rn")
    )


@query(
    "qm58_language_id",
    oracle="""
WITH tri AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, greatest(len(text) - 2, 1) + 1),
                i -> substr(text, i, 3))) AS tri
  FROM documents
), counts AS (
  SELECT lang, tri, COUNT(*) AS cnt FROM tri WHERE doc_id % 10 < 8 GROUP BY 1, 2
), profile AS (
  SELECT lang AS cand_lang, tri, ln(cnt + 1) AS weight
  FROM (SELECT lang, tri, cnt,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tri ASC) AS rn
        FROM counts)
  WHERE rn <= 50
), scored AS (
  SELECT t.doc_id, t.lang AS true_lang, p.cand_lang,
         CAST(SUM(CAST((CAST(floor((p.weight) * 1000000000.0 + 0.5) AS DOUBLE) / 1000000000.0) AS DECIMAL(25,12))) AS DOUBLE) AS score
  FROM tri t JOIN profile p USING (tri)
  WHERE t.doc_id % 10 >= 8
  GROUP BY 1, 2, 3
)
SELECT doc_id, true_lang, cand_lang AS predicted_lang,
       (CAST(floor(score * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang ASC) AS rn
      FROM scored)
WHERE rn = 1
ORDER BY doc_id
""",
    tags=("text", "ml"),
)
def qm58_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via character-trigram profiles, fully
    relational: train per-lang top-50 trigram weights on a deterministic
    80% split (doc_id % 10 < 8), classify the rest by weighted trigram
    overlap (argmax lang; ties → lang asc).

    NOTE: this synthetic corpus shares one vocabulary across langs, so
    accuracy ≈ chance here; the operator is the real langid shape
    (profiles broadcast; test side scales linearly). Hash-gated since
    round 3: per-candidate scores sum pround(9)-rounded ln-weights in
    exact DECIMAL, so the argmax compares bit-identical doubles on both
    engines (rows-only before — the raw float sum was order-dependent).

    Key history: q58 -> m58 in round 8 (number = query identity). q58's
    only driver appearance (as a58, round 2) predated this oracle, which
    made it the registry's single oracle-gated key with no driver hash
    row; the m-prefix sorts it inside the round-9 window so the driver
    finally hash-verifies it.
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    trigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(1))),
        lambda i: F.col("text").substr(i, F.lit(3)),
    )
    from pyspark_distributed_kmodes_spark.sources.tables import spread

    d = spread(d, "doc_id")
    exploded = d.select("doc_id", "lang", F.explode(trigrams).alias("tri"))
    train = exploded.filter(F.col("doc_id") % 10 < 8)
    test = d.filter(F.col("doc_id") % 10 >= 8)

    counts = train.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("cnt"))
    w_top = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tri").asc())
    profile = (
        counts.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 50)
        .select("lang", "tri", F.log(F.col("cnt") + 1).alias("weight"))
        .withColumnRenamed("lang", "cand_lang")
    )

    test_tris = test.select("doc_id", F.col("lang").alias("true_lang"), F.explode(trigrams).alias("tri"))
    scored = (
        test_tris.join(F.broadcast(profile), "tri")
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(F.sum(pround(F.col("weight"), 9).cast("decimal(25,12)")).cast("double").alias("score"))
    )
    w_pick = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand_lang").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("cand_lang").alias("predicted_lang"), pround(F.col("score"), 6).alias("score"))
        .orderBy("doc_id")
    )


@query(
    "qo59_rolling_hash",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(7 AS BIGINT),
           list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                          c -> CAST(ascii(c) AS BIGINT))),
         (acc, h) -> (acc * 131 + h) % 2147483647) AS poly_hash,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
             w -> list_reduce(
                    list_prepend(CAST(7 AS BIGINT),
                      list_transform(list_filter(string_split(w, ''), c -> c <> ''),
                                     c -> CAST(ascii(c) AS BIGINT))),
                    (acc, h) -> (acc * 131 + h) % 2147483647))),
         (acc, h) -> (acc + h) % 2147483647) AS bag_hash
FROM documents
ORDER BY doc_id
""",
    tags=("text", "dedup"),
)
def qo59_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprints, engine-portable exact
    integer math (base-131 char fold mod 2^31-1):

    - poly_hash: order-sensitive Rabin-Karp-style hash of the full text
      (chunk-boundary detection at scale uses this same fold windowed).
    - bag_hash: order-INSENSITIVE sum of per-word poly hashes — the
      cheap commutative fingerprint for shuffled near-duplicates.
    """
    M = 2147483647

    def char_fold(col):
        chars = F.filter(F.split(col, ""), lambda c: c != "")
        return F.aggregate(
            F.transform(chars, lambda c: F.ascii(c).cast("bigint")),
            F.lit(7).cast("bigint"),
            lambda acc, h: (acc * 131 + h) % M,
        )

    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    bag = F.aggregate(
        F.transform(words, char_fold),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc + h) % M,
    )
    return d.select("doc_id", char_fold(F.col("text")).alias("poly_hash"), bag.alias("bag_hash")).orderBy("doc_id")


@query(
    "qo95_stratified_sample",
    oracle="""
SELECT lang, COUNT(*) AS n_sampled,
       CAST(MIN(doc_id) AS BIGINT) AS min_id, CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM documents
WHERE (lang = 'en' AND doc_id % 100 < 50)
   OR (lang <> 'en' AND doc_id % 100 < 10)
GROUP BY lang
ORDER BY lang
""",
    tags=("text", "sampling"),
)
def qo95_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep 50% of English, 10% of
    everything else, selected by a stable key-mod predicate (id-hash
    sampling — reproducible across runs/engines/cluster sizes, unlike
    rand()-based Bernoulli sampling). The upsampling/downsampling
    primitive of training-data mixture construction."""
    d = table(spark, sf_dir, "documents")
    keep = ((F.col("lang") == "en") & (F.col("doc_id") % 100 < 50)) | (
        (F.col("lang") != "en") & (F.col("doc_id") % 100 < 10)
    )
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )


@query(
    "qo96_source_mixture",
    oracle="""
WITH quotas AS (
  SELECT * FROM (VALUES ('src0', 40), ('src1', 20), ('src2', 10)) AS q(source, quota)
), ranked AS (
  SELECT d.doc_id, d.source, d.n_chars, q.quota,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d JOIN quotas q USING (source)
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM ranked
WHERE rn <= quota
GROUP BY source
ORDER BY source
""",
    tags=("text", "sampling"),
)
def qo96_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture construction: per-source quotas filled with the
    best documents (longest first, deterministic tie-break) — the
    weighted-mixing step that turns a raw corpus into a training mix.
    Quota table broadcasts; selection is the windowed top-k pattern."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    quotas = spark.createDataFrame([("src0", 40), ("src1", 20), ("src2", 10)], ["source", "quota"])
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        d.join(F.broadcast(quotas), "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("quota"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").cast("bigint").alias("total_chars"))
        .orderBy("source")
    )


@query(
    "qo94_normalized_dedup",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY norm_text) AS canonical_doc_id,
       CAST(COUNT(*) OVER (PARTITION BY norm_text) AS BIGINT) AS n_variants
FROM norm
ORDER BY doc_id
""",
    tags=("text", "dedup"),
)
def qo94_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-invariant exact dedup: lowercase, strip
    punctuation, collapse whitespace, then group identical normalized
    forms — catches the case/punctuation variants that byte-exact
    dedup (q56) misses. Canonical = min doc_id per group.

    All JVM built-ins (lower/regexp_replace/trim + two window
    functions over one shuffle on the normalized text); regex class
    `[^a-z0-9 ]` behaves identically in Java and RE2, so Spark and the
    DuckDB oracle normalize byte-for-byte alike.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""), r" +", " ")
    )
    w = W.partitionBy("norm_text")
    return (
        d.select("doc_id", norm.alias("norm_text"))
        .select(
            "doc_id",
            F.min("doc_id").over(w).alias("canonical_doc_id"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_variants"),
        )
        .orderBy("doc_id")
    )


@query(
    "qo99_repetition_ratio",
    oracle="""
WITH bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(string_split(text, ' '))),
                i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS bigram
  FROM documents
), cnt AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       (CAST(floor((CAST(MAX(c) AS DOUBLE) / SUM(c)) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS top_bigram_frac,
       CASE WHEN CAST(MAX(c) AS DOUBLE) / SUM(c) > 0.1 THEN 1 ELSE 0 END AS repetitive
FROM cnt
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def qo99_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (Gopher-style): fraction of a
    document's bigrams occupied by its single most frequent bigram;
    high values flag boilerplate/spam for pre-training removal.

    Shape: explode bigrams → (doc, bigram) count → per-doc max/sum.
    Both aggregations partial-combine map-side, so the shuffles move
    counts, not bigram text fan-out.
    """
    d = table(spark, sf_dir, "documents")
    # split materialized once per row — captured in the transform lambda
    # it re-runs per bigram position (r13 HOF-capture fix)
    words = F.col("_w")
    # guarded: single-word docs yield no bigrams (the oracle's range is
    # empty); unguarded sequence(1, 0) would descend through 0 and crash
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(words) - 1), lambda i: F.array_join(F.slice(words, i, 2), " ")),
    ).otherwise(F.array().cast("array<string>"))
    cnt = (
        d.withColumn("_w", F.split("text", " "))
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    frac = F.max("c").cast("double") / F.sum("c")
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            pround(frac, 6).alias("top_bigram_frac"),
            F.when(frac > 0.1, 1).otherwise(0).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


# PII patterns kept dialect-portable: the same regex must mean the same
# thing to Java's regex engine (Spark) and DuckDB's RE2.
EMAIL_RE = r"[a-z0-9._]+@[a-z0-9]+\.[a-z]+"
PHONE_RE = r"\d{3}-\d{4}"


@query(
    "qb27_pii_redaction",
    oracle=f"""
WITH planted AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN ' call 555-0142' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INTEGER) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM planted
ORDER BY doc_id
""",
    tags=("text", "pii"),
)
def qb27_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: count and redact email /
    phone patterns per document. The synthetic corpus carries no PII, so
    deterministic spans are planted first (doc_id-keyed, identically in
    the oracle) — the redaction itself is the operator under test, and
    the md5 of the redacted text pins the full output byte-for-byte.

    Scale: pure JVM regexp_replace/extract_all per row — whole-stage
    codegen, no shuffle at all before the presentation sort; at 100 TB
    this is the cheapest kind of pass (embarrassingly parallel scan).
    """
    d = table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-0142")).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(planted, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(planted, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(planted, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    ).orderBy("doc_id")


@query(
    "qb31_quality_quantile_filter",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         (CAST(floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' '))) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS unique_ratio
  FROM documents
), thr AS (
  SELECT (CAST(floor((quantile_cont(unique_ratio, 0.1)) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS p10 FROM scored
)
SELECT s.doc_id, s.unique_ratio, t.p10
FROM scored s, thr t
WHERE s.unique_ratio >= t.p10
ORDER BY s.doc_id
""",
    tags=("text", "quality"),
)
def qb31_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-thresholded quality filter: drop the worst-decile
    documents by lexical diversity, where the cutoff is LEARNED from the
    corpus (10th percentile) rather than fixed — the adaptive form every
    production filter stack ends up needing. Both sides round the score
    and the threshold to 6 decimals before comparing, so the boundary
    decision is engine-exact.

    Scale: the scalar percentile is one tiny aggregate cross-joined
    back (broadcast of ONE row); at 100 TB swap the exact percentile
    for approx_percentile with a documented error bound — the plan
    shape (score scan → 1-row agg → broadcast filter scan) is
    unchanged.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scored = d.select(
        "doc_id",
        pround(
            F.size(F.array_distinct(words)).cast("double") / F.size(words), 6
        ).alias("unique_ratio"),
    )
    thr = scored.agg(pround(F.expr("percentile(unique_ratio, 0.1)"), 6).alias("p10"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("unique_ratio") >= F.col("p10"))
        .orderBy("doc_id")
    )


@query(
    "qb32_source_dedup_report",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
       (CAST(floor((1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS dup_rate
FROM documents
GROUP BY source
ORDER BY source
""",
    tags=("text", "dedup", "agg"),
)
def qb32_source_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: how much of each ingest source is
    byte-identical redundancy — the monitoring table that decides which
    sources get aggressive dedup (or get dropped). One hash + one
    groupBy; COUNT DISTINCT is Spark's partial-aggregated exact
    distinct (two-phase hash expand), no window, no join.
    """
    d = table(spark, sf_dir, "documents")
    h = F.md5("text")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct(h).cast("bigint").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct(h)).cast("bigint").alias("n_dup_docs"),
            pround(1.0 - F.countDistinct(h).cast("double") / F.count(F.lit(1)), 6).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "qb33_boilerplate_shingles",
    oracle="""
WITH grams AS (
  SELECT source, doc_id, unnest(
           list_transform(range(1, len(string_split(text, ' ')) - 1),
                          i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
         ) AS shingle
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), df AS (
  SELECT source, shingle, COUNT(DISTINCT doc_id) AS doc_freq
  FROM grams GROUP BY source, shingle
), ranked AS (
  SELECT source, shingle, doc_freq,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY doc_freq DESC, shingle) AS rk
  FROM df
)
SELECT source, shingle, CAST(doc_freq AS BIGINT) AS doc_freq,
       CAST(rk AS INTEGER) AS rk
FROM ranked
WHERE rk <= 5
ORDER BY source, rk
""",
    tags=("text", "dedup"),
)
def qb33_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the 5 highest-document-frequency word
    trigrams per ingest source — the diagnostic that motivates (and
    sizes) the stop-shingle `max_df` cap in the dedup pipeline:
    shingles near the top of this table are template/boilerplate spans
    that connect unrelated documents and quadratically inflate pair
    joins.

    Plan: guarded shingle explode → distinct (doc, shingle) →
    (source, shingle) count with map-side combine → per-source top-5
    window over the small df table. The explode is the only
    corpus-sized stage.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    # split materialized once per row (r13 HOF-capture fix)
    words = F.col("_w")
    n = F.size(words)
    shingle_arr = F.when(
        n >= 3,
        F.transform(F.sequence(F.lit(1), n - 2), lambda i: F.array_join(F.slice(words, i, 3), " ")),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark_distributed_kmodes_spark.sources.tables import spread

    df_tbl = (
        spread(d, "doc_id")
        .withColumn("_w", F.split("text", " "))
        .select("source", "doc_id", F.explode(shingle_arr).alias("shingle"))
        .distinct()
        .groupBy("source", "shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    w = W.partitionBy("source").orderBy(F.col("doc_freq").desc(), "shingle")
    return (
        df_tbl.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "shingle", F.col("doc_freq").cast("bigint").alias("doc_freq"), F.col("rk").cast("int").alias("rk"))
        .orderBy("source", "rk")
    )


@query("qe28_compression_quality", oracle=None, tags=("text", "quality"))
def qe28_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality proxy: deflate each document and
    report compressed/raw size per source — the classic "too
    compressible = templated/repetitive, incompressible = random
    noise" filter (Gopher's repetition rules in one number), computed
    with an Arrow-batched pandas UDF (zlib level 6 is deterministic
    for a fixed library, but NOT SQL-expressible — rows-only, with
    repetition-sensitivity and partitioning-invariance property
    tests). qg18_char_ngram_compressibility is the HASH-GATED twin:
    the same quality signal as a distinct char-4-gram ratio that the
    DuckDB oracle verifies exactly; this query stays as the
    production-fidelity zlib number.

    Scale: pure per-row CPU in the Python stage (the corpus never
    shuffles before the per-source rollup); ratios round to 9 decimals
    and sum in exact DECIMAL so the report is partition-order-free.
    """
    import zlib

    @F.pandas_udf("double")
    def ratio_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [len(zlib.compress(t.encode(), 6)) / max(len(t.encode()), 1) for t in texts]
        )

    from pyspark_distributed_kmodes_spark.sources.tables import spread

    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    scored = d.select("source", pround(ratio_udf(F.col("text")), 9).alias("r"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            pround(
                F.sum(F.col("r").cast("decimal(25,12)")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_ratio"),
            pround(F.min("r"), 6).alias("min_ratio"),
            pround(F.max("r"), 6).alias("max_ratio"),
        )
        .orderBy("source")
    )
