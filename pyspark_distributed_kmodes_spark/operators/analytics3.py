"""Round-4 analytics extensions, third batch (f17-f21): label-quality
and pipeline-health audits — language-ID agreement, n-gram eval-set
decontamination (the GPT-3 method at segment granularity), model-score
calibration, shard skew, and daily event-mix drift.

Same staging as f01-f16: keys sort after the live 50-entry window and
rotate in next round; all oracle-gated, all green on the local mirror.
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_distributed_kmodes_spark.functions.deterministic import pround, sql_pround
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.sources.tables import table

# q58's langid pipeline as a reusable oracle prefix (text.py:368 — the
# same dedup-across-queries convention as the near-dup edge CTE)
_LANGID_CTE = """
tri AS (
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
), pred AS (
  SELECT doc_id, true_lang, cand_lang AS predicted_lang
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang ASC) AS rn
        FROM scored)
  WHERE rn = 1
)"""


@query(
    "qf17_langid_agreement",
    oracle=f"""
WITH {_LANGID_CTE}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_tested,
       CAST(SUM(CASE WHEN p.predicted_lang = p.true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       {sql_pround('CAST(SUM(CASE WHEN p.predicted_lang = p.true_lang THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 6)} AS agreement_rate
FROM pred p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY d.source
ORDER BY d.source
""",
    tags=("text", "quality", "audit"),
)
def qf17_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit: per source, how often does q58's trained
    language-ID model AGREE with the corpus's lang labels on the
    held-out split — the mislabeled-metadata detector every multilingual
    curation pipeline runs, because a source whose labels the model
    can't reproduce either has dirty labels or out-of-profile text,
    and both mean "don't trust lang-conditional sampling there".
    (On this shared-vocabulary synthetic corpus agreement ~ chance;
    the operator is the real audit shape.)

    Scale: q58's pipeline unchanged (profiles are a 50x|langs|
    broadcast; scoring is linear in held-out trigrams), plus one
    doc_id join and a per-source aggregate. Integer counts, one
    division, pround(6).
    """
    from pyspark_distributed_kmodes_spark.operators.text import qm58_language_id

    pred = qm58_language_id(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    agree = F.sum((F.col("predicted_lang") == F.col("true_lang")).cast("int"))
    return (
        pred.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tested"),
            agree.cast("bigint").alias("n_agree"),
            pround(agree.cast("double") / F.count(F.lit(1)), 6).alias("agreement_rate"),
        )
        .orderBy("source")
    )


_DECON_N = 8  # n-gram width for eval-overlap detection
_EVAL_SOURCE = "src19"  # held-out "benchmark" source


@query(
    "qf18_ngram_decontamination",
    oracle=f"""
WITH grams AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, len(string_split(text, ' ')) - {_DECON_N - 2}),
                i -> array_to_string(string_split(text, ' ')[i:i + {_DECON_N - 1}], ' '))) AS g
  FROM documents
), eval_grams AS (
  SELECT DISTINCT g FROM grams WHERE source = '{_EVAL_SOURCE}'
), hits AS (
  SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_shared
  FROM grams t JOIN eval_grams e ON e.g = t.g
  WHERE t.source <> '{_EVAL_SOURCE}'
  GROUP BY t.doc_id
)
SELECT d.doc_id, d.source,
       CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
       CAST(h.doc_id IS NOT NULL AS INTEGER) AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.source <> '{_EVAL_SOURCE}'
ORDER BY d.doc_id
""",
    tags=("dedup", "training", "decontamination"),
    bench=True,
)
def qf18_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram eval-set decontamination (the GPT-3 report's method):
    flag every training document sharing at least one {_DECON_N}-word
    n-gram with the held-out benchmark source — q75's hash-level
    decontamination only catches verbatim documents; n-gram overlap
    catches a benchmark QUESTION quoted inside an otherwise-unique
    page, which is how eval leakage actually happens.

    Scale: the join key is the n-gram itself (inverted index — only
    docs SHARING an n-gram ever meet, never corpus x eval), as a
    LEFT SEMI join so the eval side needs no global distinct and the
    probe cannot fan out. Per-doc n-gram dedup is local
    (array_distinct), keeping the count a per-doc unique-overlap
    measure with plain COUNT(*). Integer counts only.
    """
    d = table(spark, sf_dir, "documents")
    # split materialized once per row — captured in the transform lambda
    # it re-runs per n-gram position (r13 HOF-capture fix)
    words = F.col("_w")
    n_words = F.size(words)
    starts = F.sequence(F.lit(1), n_words - (_DECON_N - 1))
    # per-doc distinct n-grams computed LOCALLY (array_distinct): the
    # old cross-row .distinct() paid a full (doc, source, gram)
    # exchange for a dedup the row already contains. Docs shorter than
    # the width have no n-grams (unguarded, the sequence would run DOWN
    # through 0 and crash F.slice).
    grams = d.withColumn("_w", F.split("text", " ")).select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                n_words >= _DECON_N,
                F.array_distinct(
                    F.transform(starts, lambda s: F.array_join(F.slice(words, s, _DECON_N), " "))
                ),
            )
        ).alias("g"),
    )
    eval_grams = grams.filter(F.col("source") == _EVAL_SOURCE).select("g")
    # left_semi keeps each unique (train doc, gram) row at most once —
    # the eval side needs NO global distinct and the join cannot fan
    # out, so the per-doc COUNT(*) below equals COUNT(DISTINCT g)
    # without distinct-set aggregation state
    hits = (
        grams.filter(F.col("source") != _EVAL_SOURCE)
        .join(eval_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        d.filter(F.col("source") != _EVAL_SOURCE)
        .select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared_ngrams"),
            F.col("n_shared").isNotNull().cast("int").alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_CAL_M = 2147483647


@query(
    "qf19_score_calibration",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, md5(text) AS h,
         CAST(list_reduce(
           list_prepend(CAST(7 AS BIGINT),
             list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                            c -> CAST(ascii(c) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % {_CAL_M}) % 1000 AS DOUBLE) / 1000.0 AS score
  FROM documents
), dupes AS (
  SELECT h, COUNT(*) AS c FROM scored GROUP BY h
), bucketed AS (
  SELECT CAST(floor(s.score * 10.0) AS INTEGER) AS bucket,
         CAST(d.c > 1 AS INTEGER) AS is_dup
  FROM scored s JOIN dupes d ON d.h = s.h
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup,
       {sql_pround('CAST(SUM(is_dup) AS DOUBLE) / COUNT(*)', 6)} AS dup_rate
FROM bucketed
GROUP BY bucket
ORDER BY bucket
""",
    tags=("training", "quality", "audit"),
)
def qf19_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-score calibration report: bucket qb13's quality scores
    into deciles and measure the exact-duplicate rate per bucket —
    the "is the classifier's score actually predictive?" check run
    before a score threshold gates terabytes (a useful quality score
    should correlate with SOMETHING ground-truthable; dup-rate is the
    cheapest such target).

    Here the scorer runs as a pure JVM `reduce` over characters (the
    same base-131 fold qb13 computes in a pandas UDF — demonstrating
    the Arrow batch and the codegen formulations of one model side by
    side). Scale: one scoring scan, one hash-count shuffle, one join
    back, a 10-bucket aggregate. Integer counts, one division,
    pround(6).
    """
    d = table(spark, sf_dir, "documents")
    score = (
        F.expr(
            f"reduce(filter(split(text, ''), c -> c <> ''), 7L, "
            f"(acc, c) -> (acc * 131L + ascii(c)) % {_CAL_M}L) % 1000L"
        ).cast("double")
        / 1000.0
    )
    scored = d.select("doc_id", F.md5("text").alias("h"), score.alias("score"))
    dupes = scored.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    bucketed = scored.join(dupes, "h").select(
        F.floor(F.col("score") * 10.0).cast("int").alias("bucket"),
        (F.col("c") > 1).cast("int").alias("is_dup"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dup"),
            pround(F.sum("is_dup").cast("double") / F.count(F.lit(1)), 6).alias("dup_rate"),
        )
        .orderBy("bucket")
    )


_N_SHARDS = 8  # must match e20


@query(
    "qf20_shard_skew_audit",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(range(1, 9), i ->
               (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
               * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) AS h
  FROM documents
), per AS (
  SELECT CAST(h % {_N_SHARDS} AS INTEGER) AS shard,
         COUNT(*) AS n_docs, SUM(n_tokens) AS n_tokens
  FROM keyed GROUP BY 1
), tot AS (
  SELECT SUM(n_tokens) AS t, COUNT(*) AS n_shards FROM per
)
SELECT p.shard,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       {sql_pround('CAST(p.n_tokens AS DOUBLE) / t.t', 6)} AS token_share,
       {sql_pround('CAST(p.n_tokens AS DOUBLE) * t.n_shards / t.t', 6)} AS skew_vs_mean
FROM per p CROSS JOIN tot t
ORDER BY p.shard
""",
    tags=("curation", "training", "audit"),
)
def qf20_shard_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard balance audit for e20's deterministic shuffle:
    per shard, document and TOKEN counts plus each shard's load
    relative to the mean — dataloaders synchronize on the slowest
    shard, so a skew_vs_mean of 1.3 means ~30% of every epoch is
    idle time; this is the number that decides between modulo
    sharding and explicit token balancing (e33's packing analysis
    feeds the same decision).

    Scale: the e20 hash placement re-derived in one projection (same
    md5 fold, bit-identical), then a {_N_SHARDS}-group aggregation
    and a 1-row totals broadcast. Integer sums, single divisions,
    pround(6).
    """
    from pyspark_distributed_kmodes_spark.operators.curation3 import _hash_u

    d = table(spark, sf_dir, "documents")
    # e20's integer hash: the same md5-hex fold _hash_u scales to (0,1)
    h = (_hash_u(F.col("doc_id")) * F.lit(float(2**32)) - 0.5).cast("bigint")
    keyed = d.select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        (h % _N_SHARDS).cast("int").alias("shard"),
    )
    per = keyed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("n_shards"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            pround(F.col("n_tokens").cast("double") / F.col("t"), 6).alias("token_share"),
            pround(
                F.col("n_tokens").cast("double") * F.col("n_shards") / F.col("t"), 6
            ).alias("skew_vs_mean"),
        )
        .orderBy("shard")
    )


_MIX_WIN = 7  # trailing days forming the baseline mix


@query(
    "qf21_daily_mix_drift",
    oracle=f"""
WITH per AS (
  SELECT epoch_us(date_trunc('day', ts)) // {86_400_000_000} AS di, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT d.di, t.event_type, COALESCE(p.n, 0) AS n
  FROM (SELECT DISTINCT di FROM per) d
  CROSS JOIN (SELECT DISTINCT event_type FROM per) t
  LEFT JOIN per p ON p.di = d.di AND p.event_type = t.event_type
), framed AS (
  SELECT di, event_type, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY di ASC
                      ROWS BETWEEN {_MIX_WIN} PRECEDING AND 1 PRECEDING) AS trail_n,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY di ASC
                        ROWS BETWEEN {_MIX_WIN} PRECEDING AND 1 PRECEDING) AS n_prev
  FROM grid
), totals AS (
  SELECT di,
         SUM(n) AS day_total,
         SUM(trail_n) AS trail_total,
         MIN(n_prev) AS min_prev
  FROM framed GROUP BY di
), terms AS (
  SELECT f.di, t.day_total,
         (f.n - t.day_total * (CAST(f.trail_n AS DOUBLE) / t.trail_total))
         * (f.n - t.day_total * (CAST(f.trail_n AS DOUBLE) / t.trail_total))
         / (t.day_total * (CAST(f.trail_n AS DOUBLE) / t.trail_total)) AS chi2_term
  FROM framed f JOIN totals t ON t.di = f.di
  WHERE t.min_prev = {_MIX_WIN} AND t.trail_total > 0 AND f.trail_n > 0
)
SELECT CAST(di AS BIGINT) AS day_index,
       CAST(day_total AS BIGINT) AS n_events,
       {sql_pround('SUM(chi2_term)', 6)} AS chi2
FROM terms GROUP BY di, day_total ORDER BY day_index
""",
    tags=("events", "drift", "anomaly"),
)
def qf21_daily_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type mix drift: chi-square of each day's event-type
    distribution against the trailing {_MIX_WIN}-day pooled mix — the
    composition tripwire that fires when (say) errors surge even
    though total volume looks normal (d14 watches VOLUME; this
    watches SHAPE; f01 does the same for static corpora).

    Scale: the stream collapses to per-(day, type) counts (one
    map-side-combined shuffle); the dense day x type grid, the
    trailing windows (partitioned BY TYPE — parallel over types, each
    walking the bounded day grid), and the chi-square aggregation are
    all domain-bounded. Determinism: counts are exact integers;
    expected frequencies and chi-square terms are one fixed IEEE
    chain; zero-expectation rows are excluded identically on both
    engines; pround(6).
    """
    e = table(spark, sf_dir, "events")
    di = (F.unix_micros(F.date_trunc("day", "ts")) / 86_400_000_000).cast("bigint")
    # bounded day x type census with lattice + totals consumers:
    # materialize once (scan-lint)
    per = e.groupBy(di.alias("di"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    ).transform(cut_lineage)
    days = per.select("di").distinct()
    types = per.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(per, ["di", "event_type"], "left")
        .select("di", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("di").rowsBetween(-_MIX_WIN, -1)
    framed = grid.select(
        "di",
        "event_type",
        "n",
        F.sum("n").over(w).alias("trail_n"),
        F.count(F.lit(1)).over(w).alias("n_prev"),
    )
    totals = framed.groupBy("di").agg(
        F.sum("n").alias("day_total"),
        F.sum("trail_n").alias("trail_total"),
        F.min("n_prev").alias("min_prev"),
    )
    j = framed.join(totals, "di").filter(
        (F.col("min_prev") == _MIX_WIN) & (F.col("trail_total") > 0) & (F.col("trail_n") > 0)
    )
    expected = F.col("day_total") * (F.col("trail_n").cast("double") / F.col("trail_total"))
    term = (F.col("n") - expected) * (F.col("n") - expected) / expected
    return (
        j.select("di", "day_total", term.alias("chi2_term"))
        .groupBy("di", "day_total")
        .agg(pround(F.sum("chi2_term"), 6).alias("chi2"))
        .select(
            F.col("di").cast("bigint").alias("day_index"),
            F.col("day_total").cast("bigint").alias("n_events"),
            "chi2",
        )
        .orderBy("day_index")
    )


@query(
    "qf22_deletion_propagation",
    oracle=f"""
WITH forget AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0
), audit AS (
  SELECT e.user_id IN (SELECT user_id FROM forget) AS is_forgotten, COUNT(*) AS n
  FROM events e GROUP BY 1
)
SELECT CAST((SELECT COUNT(*) FROM forget) AS BIGINT) AS n_users_forgotten,
       CAST(COALESCE(SUM(CASE WHEN is_forgotten THEN n END), 0) AS BIGINT) AS n_rows_deleted,
       CAST(COALESCE(SUM(CASE WHEN NOT is_forgotten THEN n END), 0) AS BIGINT) AS n_rows_remaining,
       CAST((SELECT COUNT(*) FROM events e JOIN forget f ON f.user_id = e.user_id
             WHERE NOT EXISTS (SELECT 1 FROM forget f2 WHERE f2.user_id = e.user_id)) AS BIGINT) AS n_leaked
FROM audit
""",
    tags=("platform", "privacy"),
)
def qf22_deletion_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation report: given a deletion set
    (deterministic stub: user_id % 7 = 0 — in production, the DSAR
    list), count the rows that must go, the rows that stay, and —
    the column auditors actually read — `n_leaked`: rows belonging to
    a forgotten user that a correctly-executed deletion would still
    retain (structurally 0 here; a non-zero after a real deletion run
    means the anti-join missed a shard). Deletion itself is one
    left_anti join; this is its verification twin.

    Scale: one distinct-set build + one user-keyed aggregation; the
    leak probe is a join against the (small) deletion set, never a
    second full scan per user. Exact integers only.
    """
    e = table(spark, sf_dir, "events")
    forget = e.filter(F.col("user_id") % 7 == 0).select("user_id").distinct()
    forget = forget.transform(cut_lineage)  # three consumers
    n_forget = forget.agg(F.count(F.lit(1)).cast("bigint").alias("n_users_forgotten"))
    deleted = e.join(forget, "user_id", "left_semi")
    remaining = e.join(forget, "user_id", "left_anti")
    # the verification twin: rows of forgotten users surviving the anti-join
    leaked = remaining.join(forget, "user_id", "left_semi")
    c_del = deleted.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows_deleted"))
    c_rem = remaining.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows_remaining"))
    c_leak = leaked.agg(F.count(F.lit(1)).cast("bigint").alias("n_leaked"))
    return (
        n_forget.crossJoin(F.broadcast(c_del))
        .crossJoin(F.broadcast(c_rem))
        .crossJoin(F.broadcast(c_leak))
    )


_DISC_PS = [(25, 1), (50, 2), (75, 3)]  # (percent, ordinal) pairs


@query(
    "qf23_percentile_disc",
    oracle="""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars ASC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       CAST(MIN(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN n_chars END) AS BIGINT) AS p25_disc,
       CAST(MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN n_chars END) AS BIGINT) AS p50_disc,
       CAST(MIN(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN n_chars END) AS BIGINT) AS p75_disc
FROM ranked
GROUP BY source
ORDER BY source
""",
    tags=("analytics", "statistics"),
)
def qf23_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (percentile_disc semantics: the smallest
    actual element whose cumulative rank reaches p — always a value
    that EXISTS in the data) of document length per source —
    completing the percentile family next to q14/e17's interpolating
    percentile_cont: discrete quantiles are what you want when the
    value is an ID-like or categorical-ordinal quantity where an
    interpolated 1037.5 is meaningless.

    Portability is the point of the formulation: both engines compute
    rn == ceil(p*n) on exact integers, so the oracle can't drift the
    way interpolation edge cases can. One rank window per source +
    one grouped conditional-min pass.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    aggs = [
        F.min(
            F.when(F.col("rn") == F.ceil(p / 100.0 * F.col("n")).cast("bigint"), F.col("n_chars"))
        )
        .cast("bigint")
        .alias(f"p{p}_disc")
        for p, _ in _DISC_PS
    ]
    return ranked.groupBy("source").agg(*aggs).orderBy("source")


_H2_XBIN = 16  # n_words bin width
_H2_YBIN = 8  # n_distinct bin width


@query(
    "qf24_histogram_2d",
    oracle=f"""
WITH pts AS (
  SELECT len(string_split(text, ' ')) // {_H2_XBIN} AS xb,
         len(list_distinct(string_split(text, ' '))) // {_H2_YBIN} AS yb
  FROM documents
), tot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM pts
)
SELECT CAST(p.xb AS INTEGER) AS words_bin, CAST(p.yb AS INTEGER) AS distinct_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {sql_pround('COUNT(*) / t.t', 6)} AS frac
FROM pts p CROSS JOIN tot t
GROUP BY p.xb, p.yb, t.t
ORDER BY words_bin, distinct_bin
""",
    tags=("analytics", "profiling"),
)
def qf24_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint 2-D histogram of (length, vocabulary) — the corpus-shape
    heatmap read next to d06's frontier: q92's 1-D histograms say the
    marginals look fine; the joint grid exposes the off-diagonal mass
    (long-but-repetitive docs) that marginals hide.

    Scale: binning is a per-row integer division; ONE shuffle on the
    bounded (xb, yb) grid key with map-side combine; the total is a
    1-row broadcast. Integer counts, one division, pround(6).
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    pts = d.select(
        F.floor(F.size(words) / _H2_XBIN).cast("int").alias("words_bin"),
        F.floor(F.size(F.array_distinct(words)) / _H2_YBIN).cast("int").alias("distinct_bin"),
    )
    tot = pts.agg(F.count(F.lit(1)).cast("double").alias("t"))
    return (
        pts.groupBy("words_bin", "distinct_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "words_bin",
            "distinct_bin",
            "n_docs",
            pround(F.col("n_docs") / F.col("t"), 6).alias("frac"),
        )
        .orderBy("words_bin", "distinct_bin")
    )


@query(
    "qf25_order_reconciliation",
    oracle="""
WITH o_side AS (
  SELECT o.o_orderkey, COUNT(l.l_orderkey) AS n_lines
  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey
), orphan_lines AS (
  SELECT COUNT(*) AS n FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN n_lines = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_childless_orders,
       CAST(SUM(n_lines) AS BIGINT) AS n_matched_lines,
       CAST((SELECT n FROM orphan_lines) AS BIGINT) AS n_orphan_lines,
       CAST(MAX(n_lines) AS BIGINT) AS max_lines_per_order
FROM o_side
""",
    tags=("quality", "audit", "join"),
)
def qf25_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity reconciliation between the two fact
    tables: orders with no line items, line items whose order does
    not exist, matched-row totals and fan-out bounds — the
    cross-table audit e14's single-table constraints cannot express,
    and the first report run after any partial backfill.

    Scale: ONE outer join keyed o_orderkey carries the childless and
    matched counts; the orphan probe is one anti-join — both
    co-partitioned fact-fact shuffles on the same key (AQE reuses the
    exchange). Exact integers only.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o_side = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )
    orphans = li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
    c_orphan = orphans.agg(F.count(F.lit(1)).cast("bigint").alias("n_orphan_lines"))
    return (
        o_side.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum((F.col("n_lines") == 0).cast("int")).cast("bigint").alias("n_childless_orders"),
            F.sum("n_lines").cast("bigint").alias("n_matched_lines"),
            F.max("n_lines").cast("bigint").alias("max_lines_per_order"),
        )
        .crossJoin(F.broadcast(c_orphan))
        .select(
            "n_orders", "n_childless_orders", "n_matched_lines", "n_orphan_lines", "max_lines_per_order"
        )
    )


@query(
    "qf26_seasonality_profile",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
         dayofweek(o_orderdate) + 1 AS dow,  -- DuckDB Sun=0; Spark Sun=1
         SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
), per_dow AS (
  SELECT dow, COUNT(*) AS n_days, SUM(cents) AS cents FROM daily GROUP BY dow
), base AS (
  SELECT CAST(SUM(cents) AS DOUBLE) / SUM(n_days) AS overall_daily FROM per_dow
)
SELECT CAST(p.dow AS INTEGER) AS day_of_week,
       CAST(p.n_days AS BIGINT) AS n_days,
       CAST(p.cents AS BIGINT) AS total_cents,
       {sql_pround('(CAST(p.cents AS DOUBLE) / p.n_days) / b.overall_daily', 6)} AS seasonal_index
FROM per_dow p CROSS JOIN base b
ORDER BY day_of_week
""",
    tags=("analytics", "timeseries"),
)
def qf26_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index of order revenue: mean daily
    revenue per weekday divided by the overall daily mean — the
    seasonal-adjustment factor that turns d14's rolling anomaly
    detector from "Mondays always alarm" into a usable tripwire
    (divide by the index before scoring).

    Scale: revenue pre-aggregates per (day, dow), then a 7-group
    rollup and a 1-row broadcast base rate. Determinism: integer
    cents; dayofweek is a calendar function identical on both
    engines; two divisions in a fixed chain, pround(6).
    """
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day"),
        F.dayofweek("o_orderdate").alias("dow"),
    ).agg(F.sum(cents).alias("cents"))
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("cents").alias("cents")
    )
    base = per_dow.agg(
        (F.sum("cents").cast("double") / F.sum("n_days")).alias("overall_daily")
    )
    return (
        per_dow.crossJoin(F.broadcast(base))
        .select(
            F.col("dow").cast("int").alias("day_of_week"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("cents").cast("bigint").alias("total_cents"),
            pround(
                (F.col("cents").cast("double") / F.col("n_days")) / F.col("overall_daily"), 6
            ).alias("seasonal_index"),
        )
        .orderBy("day_of_week")
    )


@query(
    "qf27_char_entropy",
    oracle=f"""
WITH chars AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ''), c -> c <> '')) AS c
  FROM documents
), freq AS (
  SELECT doc_id, c, COUNT(*) AS k FROM chars GROUP BY doc_id, c
), tot AS (
  SELECT doc_id, SUM(k) AS n FROM freq GROUP BY doc_id
), terms AS (
  SELECT f.doc_id,
         CAST(round(-(CAST(f.k AS DOUBLE) / t.n) * ln(CAST(f.k AS DOUBLE) / t.n), 9) AS DECIMAL(25,12)) AS term,
         t.n
  FROM freq f JOIN tot t ON t.doc_id = f.doc_id
)
SELECT doc_id,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_chars_counted,
       {sql_pround('CAST(SUM(term) AS DOUBLE)', 6)} AS char_entropy
FROM terms GROUP BY doc_id ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def qf27_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (in
    nats) — the cheapest gibberish/boilerplate detector: natural text
    sits in a narrow entropy band, base64 blobs and ascii art above
    it, repeated padding far below; e28's zlib ratio measures the
    same thing but needs Python — this is the pure-JVM relational
    formulation, and it IS hash-gatable where zlib is not.

    Scale: explode to per-(doc, char) counts (alphabet-bounded fanout
    after the groupBy, map-side combined), one join on doc totals,
    one grouped sum. Determinism: p = k/n single divisions of exact
    ints, ln on identical doubles, round(9)->DECIMAL per term (the
    qb12 contract), pround(6).
    """
    d = table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", ""), lambda c: c != F.lit(""))).alias("c"),
    )
    freq = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    tot = freq.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k").cast("double") / F.col("n")
    term = F.round(-p * F.log(p), 9).cast("decimal(25,12)")
    return (
        freq.join(tot, "doc_id")
        .select("doc_id", "n", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.any_value("n").cast("bigint").alias("n_chars_counted"),
            pround(F.sum("term").cast("double"), 6).alias("char_entropy"),
        )
        .orderBy("doc_id")
    )
