"""Round-6 staged extensions (j01+): ML evaluation statistics
(ROC-AUC, confusion matrix, Cohen's kappa, nearest-centroid eval),
classical hypothesis tests (one-way ANOVA, Mann-Whitney U), financial
time-series ops (max drawdown, rolling correlation, Theil-Sen slope,
seasonal strength), graph assortativity, mergeable-histogram algebra,
and two more real sources (binaryFile, line-text round trip).

Keys are j-prefixed: j sorts AFTER i28, so these stay OUTSIDE the
(exactly full) round-6 driver window by design and rotate in next
round — the same staging that worked for z/e/f/h (history in
__spark_entry__.py). All are oracle-gated and pass the local mirror.

Engine style unchanged: pure JVM DataFrame ops, pround floor-rounding
on every oracle-gated double, DECIMAL-summed float aggregates, every
ORDER BY carries a unique tie-break, scalar-only output columns,
bounded-lattice windows only (see tests/test_analytics7.py pins).
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_distributed_kmodes_spark.functions.deterministic import (
    davg,
    dsum,
    pround,
    sql_davg,
    sql_dsum,
    sql_pround,
)
from pyspark_distributed_kmodes_spark.functions.shingles import shingles
from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold, _sql_md5fold
from pyspark_distributed_kmodes_spark.operators.curation2 import _dterm, _sql_dterm
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import spread, table


# ---------------------------------------------------------------------------
# j01 — exact ROC-AUC via the rank statistic


@query(
    "qj01_roc_auc",
    oracle=f"""
WITH users AS (
  SELECT user_id,
         CAST({_sql_md5fold('CAST(user_id AS VARCHAR)')} % 10000 AS DOUBLE) / 10000 AS score,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INTEGER) AS label
  FROM events GROUP BY user_id
), dict AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(label) AS BIGINT) AS pos
  FROM users GROUP BY score
), ranked AS (
  SELECT score, cnt, pos,
         SUM(cnt) OVER (ORDER BY score ASC) AS cum
  FROM dict
), moms AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
         CAST(SUM(CAST(pos * (cum - (cnt - 1) / 2.0) AS DECIMAL(25,6))) AS DOUBLE) AS r_pos
  FROM ranked
)
SELECT n_pos, n_neg,
       {sql_pround('(r_pos - n_pos * (n_pos + 1) / 2.0) / NULLIF(CAST(n_pos AS DOUBLE) * n_neg, 0)', 6)} AS auc,
       {sql_pround('2.0 * ((r_pos - n_pos * (n_pos + 1) / 2.0) / NULLIF(CAST(n_pos AS DOUBLE) * n_neg, 0)) - 1.0', 6)} AS gini
FROM moms
""",
    tags=("ml", "statistics"),
)
def qj01_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC as the Mann-Whitney rank statistic — the
    standard offline eval for a ranking model, computed without a
    threshold sweep: AUC = (R⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻) with AVERAGE
    ranks over tied scores (the statistically-correct tie handling),
    where R⁺ comes from the score DICTIONARY: per distinct score the
    average rank is cum − (cnt−1)/2, so the ordered window runs over
    the bounded score lattice, never over users. Pairs with i13's
    decile gains (same md5 pseudo-score and purchase label).

    Scale: per-user collapse → score-dictionary collapse → one
    bounded-lattice cumulative window → 1-row moments. Rank sums are
    exact (multiples of 0.5, DECIMAL-summed); the one float division
    happens identically on both engines.
    """
    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("label")
    ).select(
        ((_md5fold(F.col("user_id").cast("string")) % 10000).cast("double") / 10000).alias("score"),
        "label",
    )
    dict_ = users.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"), F.sum("label").cast("bigint").alias("pos")
    )
    ws = Window.orderBy(F.asc("score"))  # bounded: score dictionary (<=10000)
    ranked = dict_.withColumn("cum", F.sum("cnt").over(ws))
    moms = ranked.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n_neg"),
        F.sum(
            (F.col("pos") * (F.col("cum") - (F.col("cnt") - 1) / 2.0)).cast("decimal(25,6)")
        )
        .cast("double")
        .alias("r_pos"),
    )
    # NULLIF guard: a degenerate corpus (all-positive or all-negative
    # labels) has no defined AUC — emit NULL, never divide by zero
    auc = (F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0) / F.nullif(
        F.col("n_pos").cast("double") * F.col("n_neg"), F.lit(0.0)
    )
    return moms.select(
        "n_pos", "n_neg", pround(auc, 6).alias("auc"), pround(2.0 * auc - 1.0, 6).alias("gini")
    )


# ---------------------------------------------------------------------------
# j02 — one-way ANOVA across order priorities


@query(
    "qj02_anova_f",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS s
  FROM orders GROUP BY 1
), tot AS (
  -- second moment as an INTEGER-quantized sum (floor(x^2 + 0.5) per
  -- row): a DECIMAL(38,6) sum at ~1e13 magnitude casts to DOUBLE
  -- through DuckDB's int128 path with ulp drift vs Spark's
  -- BigDecimal path, but an int64 sum casts identically on both
  -- engines at any magnitude (hardware-rounded conversion); the
  -- +-0.5-per-row quantization is negligible against x^2 ~ 1e10 and
  -- identical on both sides
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(floor(o_totalprice * o_totalprice + 0.5) AS BIGINT)) AS DOUBLE) AS ss,
         CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS k
  FROM orders
), parts AS (
  -- per-group s^2/n terms floor-quantized to integers before the
  -- decimal sum: at ~1e15 magnitude a 6-fraction-digit decimal cast
  -- exceeds the 2^53 exact envelope and the two engines round the
  -- off-grid double differently (the b08 class); floor(x + 0.5) is
  -- pure IEEE and engine-identical at any magnitude
  SELECT t.n, t.k,
         CAST(SUM(CAST(floor(g.s * g.s / g.n + 0.5) AS DECIMAL(25,0))) AS DOUBLE) - t.s * t.s / t.n AS ssb,
         t.ss - CAST(SUM(CAST(floor(g.s * g.s / g.n + 0.5) AS DECIMAL(25,0))) AS DOUBLE) AS ssw
  FROM g CROSS JOIN tot t
  GROUP BY t.n, t.k, t.s, t.ss
)
SELECT CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n - k AS BIGINT) AS df_within,
       {sql_pround('ssb', 3)} AS ss_between,
       {sql_pround('ssw', 3)} AS ss_within,
       {sql_pround('(ssb / (k - 1)) / (ssw / (n - k))', 6)} AS f_stat,
       {sql_pround('ssb / (ssb + ssw)', 9)} AS eta_squared
FROM parts
""",
    tags=("statistics",),
)
def qj02_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order value across the five priorities: the
    F statistic and effect size (eta²) assembled from per-group
    moments. First moments are exact decimal sums (the qg16/i06
    discipline); second moments and the Σ(s_g²/n_g) reduction are
    INTEGER-quantized through floor(x+0.5) and summed as int64 —
    decimal sums this large cast to double with engine-divergent ulps
    (DuckDB int128 path vs Spark BigDecimal), while int64→double is
    hardware-rounded identically on both; the ±0.5-per-term
    quantization is negligible against x² ~ 1e10. The missing member
    of the hypothesis-test family next to qg15's chi-square and
    qg17's z-test: "does the group mean differ" for a CONTINUOUS
    measure over >2 groups.

    Scale: two map-side-combinable aggregates (5 group rows + 1 total
    row), then constant-size arithmetic — one logical pass over the
    fact table per aggregate, no windows.
    """
    o = table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("s"),
    )
    g = g.transform(cut_lineage)  # 5 rows, reused by tot's k
    # totals straight from the fact scan (no double->decimal roundtrip
    # of the big second moments — the b08 divergence class)
    tot = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("tn"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("ts"),
        # integer-quantized second moment: int64 sums cast to double
        # identically on both engines at any magnitude (see oracle note)
        F.sum(F.floor(F.col("o_totalprice") * F.col("o_totalprice") + 0.5).cast("bigint"))
        .cast("double")
        .alias("tss"),
    ).crossJoin(F.broadcast(g.agg(F.count(F.lit(1)).alias("k"))))
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("tn", "k", "ts", "tss")
        .agg(
            # floor-quantized: engine-identical at any magnitude
            F.sum(
                F.floor(F.col("s") * F.col("s") / F.col("n") + 0.5).cast("decimal(25,0)")
            )
            .cast("double")
            .alias("sgg")
        )
        .select(
            "tn",
            "k",
            (F.col("sgg") - F.col("ts") * F.col("ts") / F.col("tn")).alias("ssb"),
            (F.col("tss") - F.col("sgg")).alias("ssw"),
        )
    )
    return parts.select(
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("tn") - F.col("k")).cast("bigint").alias("df_within"),
        pround(F.col("ssb"), 3).alias("ss_between"),
        pround(F.col("ssw"), 3).alias("ss_within"),
        pround((F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("tn") - F.col("k"))), 6).alias(
            "f_stat"
        ),
        pround(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 9).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# j03 — Mann-Whitney U (tie-corrected) on doc lengths


@query(
    "qj03_mann_whitney_u",
    oracle=f"""
WITH vals AS (
  SELECT n_chars AS v,
         CAST(COUNT(*) FILTER (WHERE source = 'src0') AS BIGINT) AS n0,
         CAST(COUNT(*) FILTER (WHERE source = 'src1') AS BIGINT) AS n1
  FROM documents WHERE source IN ('src0', 'src1')
  GROUP BY n_chars
), ranked AS (
  SELECT v, n0, n1, n0 + n1 AS t,
         SUM(n0 + n1) OVER (ORDER BY v ASC) AS cum
  FROM vals
), moms AS (
  SELECT CAST(SUM(n0) AS BIGINT) AS m0, CAST(SUM(n1) AS BIGINT) AS m1,
         CAST(SUM(CAST(n1 * (cum - (t - 1) / 2.0) AS DECIMAL(25,6))) AS DOUBLE) AS r1,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
  FROM ranked
)
SELECT m0 AS n_src0, m1 AS n_src1,
       {sql_pround('r1 - m1 * (m1 + 1) / 2.0', 6)} AS u_stat,
       {sql_pround(
           '((r1 - m1 * (m1 + 1) / 2.0) - CAST(m0 AS DOUBLE) * m1 / 2.0)'
           ' / sqrt(CAST(m0 AS DOUBLE) * m1 / 12.0 * ((m0 + m1 + 1)'
           '        - CAST(tie3 AS DOUBLE) / ((m0 + m1) * CAST(m0 + m1 - 1 AS DOUBLE))))', 6)} AS z_score
FROM moms
""",
    tags=("statistics",),
)
def qj03_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U (Wilcoxon rank-sum) comparing the
    document-length distributions of two sources — the nonparametric
    "are these distributions shifted" test that qd10's KS complements
    with a max-gap statistic: U from average ranks over the shared
    VALUE DICTIONARY, the normal-approximation z with the standard
    tie-correction Σ(t³−t) computed from the same dictionary.

    Scale: the ordered window runs over distinct n_chars values
    (bounded lattice), never rows — the same two-collapse shape as
    j01's AUC (to which U is algebraically equivalent).
    """
    d = table(spark, sf_dir, "documents").filter(F.col("source").isin("src0", "src1"))
    vals = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum((F.col("source") == "src0").cast("int")).cast("bigint").alias("n0"),
        F.sum((F.col("source") == "src1").cast("int")).cast("bigint").alias("n1"),
    )
    wv = Window.orderBy(F.asc("v"))  # bounded: n_chars dictionary
    ranked = vals.withColumn("t", F.col("n0") + F.col("n1")).withColumn(
        "cum", F.sum(F.col("n0") + F.col("n1")).over(wv)
    )
    moms = ranked.agg(
        F.sum("n0").cast("bigint").alias("m0"),
        F.sum("n1").cast("bigint").alias("m1"),
        F.sum((F.col("n1") * (F.col("cum") - (F.col("t") - 1) / 2.0)).cast("decimal(25,6)"))
        .cast("double")
        .alias("r1"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("bigint").alias("tie3"),
    )
    u = F.col("r1") - F.col("m1") * (F.col("m1") + 1) / 2.0
    n = F.col("m0") + F.col("m1")
    var = (
        F.col("m0").cast("double")
        * F.col("m1")
        / 12.0
        * ((n + 1) - F.col("tie3").cast("double") / (n * (n - 1).cast("double")))
    )
    return moms.select(
        F.col("m0").alias("n_src0"),
        F.col("m1").alias("n_src1"),
        pround(u, 6).alias("u_stat"),
        pround((u - F.col("m0").cast("double") * F.col("m1") / 2.0) / F.sqrt(var), 6).alias(
            "z_score"
        ),
    )


# ---------------------------------------------------------------------------
# j04 — confusion matrix + per-class precision/recall/F1


@query(
    "qj04_confusion_matrix",
    oracle=f"""
WITH preds AS (
  SELECT CAST(label AS BIGINT) AS truth,
         CAST((label + CASE WHEN {_sql_md5fold('CAST(vec_id AS VARCHAR)')} % 10 < 2 THEN 1 ELSE 0 END) % 3 AS BIGINT) AS pred
  FROM embeddings
), per_class AS (
  SELECT c.cls,
         CAST((SELECT COUNT(*) FROM preds p WHERE p.truth = c.cls AND p.pred = c.cls) AS BIGINT) AS tp,
         CAST((SELECT COUNT(*) FROM preds p WHERE p.truth <> c.cls AND p.pred = c.cls) AS BIGINT) AS fp,
         CAST((SELECT COUNT(*) FROM preds p WHERE p.truth = c.cls AND p.pred <> c.cls) AS BIGINT) AS fn
  FROM (SELECT DISTINCT CAST(label AS BIGINT) AS cls FROM embeddings) c
)
SELECT cls, tp, fp, fn,
       {sql_pround('CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0)', 6)} AS precision,
       {sql_pround('CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0)', 6)} AS recall,
       {sql_pround('2.0 * tp / NULLIF(2.0 * tp + fp + fn, 0)', 6)} AS f1
FROM per_class ORDER BY cls
""",
    tags=("ml", "statistics"),
)
def qj04_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confusion-matrix metrics (precision/recall/F1) for a
    deterministic pseudo-classifier (true label md5-perturbed with 20%
    class-shift noise — the engine-portable stand-in for a model
    prediction column): the standard multi-class eval table, keyed by
    class. F1 uses the 2tp/(2tp+fp+fn) form — no intermediate
    rounding of precision/recall feeding a second division.

    Scale: one (truth, pred) cell aggregate (|classes|² cells), then
    per-class sums over the bounded cell table — the fact table is
    scanned once.
    """
    e = table(spark, sf_dir, "embeddings")
    preds = e.select(
        F.col("label").cast("bigint").alias("truth"),
        (
            (
                F.col("label")
                + F.when(_md5fold(F.col("vec_id").cast("string")) % 10 < 2, 1).otherwise(0)
            )
            % 3
        )
        .cast("bigint")
        .alias("pred"),
    )
    cells = preds.groupBy("truth", "pred").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cells = cells.transform(cut_lineage)  # bounded: |classes|^2
    classes = cells.select(F.col("truth").alias("cls")).union(
        cells.select(F.col("pred"))
    ).distinct()
    tp = cells.filter(F.col("truth") == F.col("pred")).select(
        F.col("truth").alias("cls"), F.col("c").alias("tp")
    )
    fp = (
        cells.filter(F.col("truth") != F.col("pred"))
        .groupBy(F.col("pred").alias("cls"))
        .agg(F.sum("c").cast("bigint").alias("fp"))
    )
    fn = (
        cells.filter(F.col("truth") != F.col("pred"))
        .groupBy(F.col("truth").alias("cls"))
        .agg(F.sum("c").cast("bigint").alias("fn"))
    )
    out = (
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("bigint").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("bigint").alias("fn"),
        )
    )
    return out.select(
        "cls",
        "tp",
        "fp",
        "fn",
        pround(F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)), 6).alias(
            "precision"
        ),
        pround(F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)), 6).alias(
            "recall"
        ),
        pround(
            2.0 * F.col("tp") / F.nullif(2.0 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)),
            6,
        ).alias("f1"),
    ).orderBy("cls")


# ---------------------------------------------------------------------------
# j05 — maximum drawdown of the daily revenue series


@query(
    "qj05_max_drawdown",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, {sql_dsum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
), tracked AS (
  SELECT day, rev,
         MAX(rev) OVER (ORDER BY day ASC) AS peak
  FROM daily
), dd AS (
  SELECT day, rev, peak, (peak - rev) / peak AS drawdown
  FROM tracked
), worst AS (
  SELECT day, rev, peak, drawdown FROM dd ORDER BY drawdown DESC, day ASC LIMIT 1
)
SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS trough_day,
       {sql_pround('rev', 6)} AS trough_rev,
       {sql_pround('peak', 6)} AS peak_rev,
       {sql_pround('drawdown', 9)} AS max_drawdown
FROM worst
""",
    tags=("timeseries", "statistics"),
)
def qj05_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily revenue series — the largest
    peak-to-trough relative drop ((running-max − value)/running-max),
    the risk statistic that rolling means hide: a series can trend up
    while hiding a 60% crash. Trough day reported with the earliest-
    day tie-break.

    Scale: fact table collapses to the day lattice first; the running
    max is one bounded-lattice ordered window (i11's CUSUM shape);
    revenue partials are exact decimal sums, so peak/rev are
    engine-identical before the single division.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum("o_totalprice").alias("rev")
    )
    wd = Window.orderBy(F.asc("day"))  # bounded: day lattice
    tracked = daily.withColumn("peak", F.max("rev").over(wd))
    dd = tracked.withColumn("drawdown", (F.col("peak") - F.col("rev")) / F.col("peak"))
    worst = dd.orderBy(F.desc("drawdown"), F.asc("day")).limit(1)
    return worst.select(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast("bigint").alias(
            "trough_day"
        ),
        pround(F.col("rev"), 6).alias("trough_rev"),
        pround(F.col("peak"), 6).alias("peak_rev"),
        pround(F.col("drawdown"), 9).alias("max_drawdown"),
    )


# ---------------------------------------------------------------------------
# j06 — rolling correlation between two segments' daily order counts

_J06_WIN = 28
_J06_A = "BUILDING"
_J06_B = "MACHINERY"


@query(
    "qj06_rolling_correlation",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o.o_orderdate AS DATE) AS day,
         CAST(COUNT(*) FILTER (WHERE c.c_mktsegment = '{_J06_A}') AS BIGINT) AS ca,
         CAST(COUNT(*) FILTER (WHERE c.c_mktsegment = '{_J06_B}') AS BIGINT) AS cb
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
), rolled AS (
  SELECT day,
         COUNT(*) OVER w AS n,
         SUM(ca) OVER w AS sx, SUM(cb) OVER w AS sy,
         SUM(ca * ca) OVER w AS sxx, SUM(cb * cb) OVER w AS syy,
         SUM(ca * cb) OVER w AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ASC ROWS BETWEEN {_J06_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS day_idx,
       CAST(n AS BIGINT) AS n,
       {sql_pround(
           '(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)'
           ' / NULLIF(sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)'
           '            * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 0)', 6)} AS rolling_corr
FROM rolled
WHERE n = {_J06_WIN}
ORDER BY day_idx
""",
    tags=("timeseries", "statistics"),
)
def qj06_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_J06_WIN}-day rolling Pearson correlation between two market
    segments' daily order counts — the co-movement monitor behind
    "did these product lines decouple": exact integer moments per
    frame (counts, so every windowed sum is exact), one float
    expression per day, NULL when a frame is degenerate.

    Scale: the fact table collapses to the day lattice (with both
    segment counts as columns of ONE row per day — a single filtered
    aggregate, not two scans), and the six frame sums run in one
    ordered window pass over the bounded lattice.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    daily = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")), o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum((F.col("c_mktsegment") == _J06_A).cast("int")).cast("bigint").alias("ca"),
            F.sum((F.col("c_mktsegment") == _J06_B).cast("int")).cast("bigint").alias("cb"),
        )
    )
    w = (
        Window.orderBy(F.asc("day")).rowsBetween(-(_J06_WIN - 1), 0)
    )  # bounded: day lattice
    rolled = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("ca").over(w).alias("sx"),
        F.sum("cb").over(w).alias("sy"),
        F.sum(F.col("ca") * F.col("ca")).over(w).alias("sxx"),
        F.sum(F.col("cb") * F.col("cb")).over(w).alias("syy"),
        F.sum(F.col("ca") * F.col("cb")).over(w).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - sx * F.col("sx"))
        * (n * F.col("syy").cast("double") - sy * F.col("sy"))
    )
    return (
        rolled.filter(F.col("n") == _J06_WIN)
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast("bigint").alias(
                "day_idx"
            ),
            F.col("n").cast("bigint").alias("n"),
            pround(num / F.nullif(den, F.lit(0.0)), 6).alias("rolling_corr"),
        )
        .orderBy("day_idx")
    )


# ---------------------------------------------------------------------------
# j07 — degree assortativity of the near-dup graph

from pyspark_distributed_kmodes_spark.operators.analytics6 import _I_SHINGLE_CTE  # noqa: E402


@query(
    "qj07_degree_assortativity",
    oracle=f"""
WITH {_I_SHINGLE_CTE.lstrip()},
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT p.u, p.v FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.u JOIN sizes sb ON sb.doc_id = p.v
  WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.2
), und AS (
  SELECT u AS s, v AS t FROM edges UNION ALL SELECT v, u FROM edges
), deg AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY s
), de AS (
  SELECT ds.d AS du, dt.d AS dv
  FROM und e JOIN deg ds ON ds.node = e.s JOIN deg dt ON dt.node = e.t
), moms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(du) AS BIGINT) AS sx, CAST(SUM(dv) AS BIGINT) AS sy,
         CAST(SUM(du * du) AS BIGINT) AS sxx, CAST(SUM(dv * dv) AS BIGINT) AS syy,
         CAST(SUM(du * dv) AS BIGINT) AS sxy
  FROM de
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       {sql_pround(
           '(m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)'
           ' / NULLIF(sqrt((m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)'
           '            * (m * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 0)', 6)} AS assortativity
FROM moms
""",
    tags=("graph", "statistics", "dedup"),
)
def qj07_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph — the Pearson
    correlation of endpoint degrees over the symmetrized edge list:
    positive = duplicate CLIQUES (high-degree docs link to each
    other), negative = hub-and-spoke boilerplate (hubs link to
    leaves). The one-number global summary next to qe22's per-node
    local structure, and a cheap fingerprint of WHAT KIND of
    duplication a corpus has before choosing a dedup policy.

    Scale: edges are dedup-pair output (bounded by true duplication);
    degrees come from one groupBy over the edge list and the moment
    pass is one more join+aggregate over edges — exact integer
    moments, one float expression.
    """
    d = table(spark, sf_dir, "documents")
    from pyspark_distributed_kmodes_spark.operators.text import ngram_jaccard_pairs

    edges = ngram_jaccard_pairs(d, threshold=0.2).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    und = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )
    und = und.transform(cut_lineage)
    deg = und.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    de = (
        und.join(deg.select(F.col("node").alias("s"), F.col("d").alias("du")), "s")
        .join(deg.select(F.col("node").alias("t"), F.col("d").alias("dv")), "t")
        .select("du", "dv")
    )
    moms = de.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("du").cast("bigint").alias("sx"),
        F.sum("dv").cast("bigint").alias("sy"),
        F.sum(F.col("du") * F.col("du")).cast("bigint").alias("sxx"),
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("syy"),
        F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("sxy"),
    )
    m = F.col("m")
    num = m * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (m * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        * (m * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    return moms.select(
        (m / 2).cast("bigint").alias("n_edges"),
        pround(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# j08 — binaryFile source (real multimodal file ingestion)

_J08_N = 100


@query(
    "qj08_binaryfile_source",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(len(text)) AS BIGINT) AS bytes_total,
       CAST(SUM({_sql_md5fold('text')}) AS BIGINT) AS content_checksum
FROM documents WHERE doc_id < {_J08_N}
""",
    tags=("source", "multimodal"),
)
def qj08_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in `binaryFile` source end-to-end — the REAL
    ingestion path for the multimodal lane (images/audio arrive as
    opaque files; multimodal/binary.py starts from a binary COLUMN,
    this op produces that column from actual files on disk): {_J08_N}
    documents are materialized as individual files, read back via
    spark.read.format("binaryFile") (path, modificationTime, length,
    content columns), and the audit checksums the content bytes
    against the source table — hash-match proves byte-exact ingestion.

    Scale: binaryFile lists and reads files in parallel across
    executors with a partition per file group; the md5 fold runs on
    the binary column JVM-side. The small driver-side file write here
    is fixture setup (bounded {_J08_N}), not part of the operator.
    Idempotent temp dir + eager materialization (h10 discipline).
    """
    import os
    import shutil

    base = scratch_dir("qj08_bin")
    try:
        d = table(spark, sf_dir, "documents")
        rows = (
            d.filter(F.col("doc_id") < _J08_N).select("doc_id", "text").collect()
        )  # bounded: _J08_N fixture files
        for r in rows:
            with open(os.path.join(base, f"doc_{r.doc_id:05d}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))
        back = spark.read.format("binaryFile").load(base)
        out = back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("length").cast("bigint").alias("bytes_total"),
            F.sum(
                F.conv(F.substring(F.md5(F.col("content")), 1, 8), 16, 10).cast("bigint")
            )
            .cast("bigint")
            .alias("content_checksum"),
        )
        return out.transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# j09 — line-text source round trip


@query(
    "qj09_text_source_roundtrip",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(len(text)) AS BIGINT) AS chars_total,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct
FROM documents
""",
    tags=("source",),
)
def qj09_text_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source round trip (spark.read/write.text) —
    the rawest ingestion format in the source matrix after parquet/
    ORC/CSV/JSONL/binaryFile: documents' text written one line per
    record, read back as the `value` column, aggregates pinned to the
    source table (line order is NOT preserved across files — the
    audit is deliberately order-free, which is the honest contract of
    a line source).

    Scale: text write/read shards per partition like any file sink;
    no schema, no footer — the format you get handed, not the one you
    choose. Idempotent temp dir + eager materialization.
    """
    import shutil

    base = scratch_dir("qj09_text")
    try:
        d = table(spark, sf_dir, "documents")
        d.select("text").write.mode("overwrite").text(base + "/lines")
        back = spark.read.text(base + "/lines")
        out = back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.length("value")).cast("bigint").alias("chars_total"),
            F.countDistinct("value").cast("bigint").alias("n_distinct"),
        )
        return out.transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# j10 — Cohen's kappa between two deterministic annotators


@query(
    "qj10_cohens_kappa",
    oracle=f"""
WITH ann AS (
  SELECT {_sql_md5fold('text')} % 3 AS a1,
         {_sql_md5fold('reverse(text)')} % 3 AS a2
  FROM documents
), cells AS (
  SELECT a1, a2, CAST(COUNT(*) AS BIGINT) AS c FROM ann GROUP BY a1, a2
), tot AS (
  SELECT SUM(c) AS n FROM cells
), marg AS (
  SELECT r.a, CAST(r.rc AS BIGINT) AS rc, CAST(co.cc AS BIGINT) AS cc
  FROM (SELECT a1 AS a, SUM(c) AS rc FROM cells GROUP BY a1) r
  JOIN (SELECT a2 AS a, SUM(c) AS cc FROM cells GROUP BY a2) co ON co.a = r.a
), agree AS (
  SELECT CAST(SUM(CASE WHEN a1 = a2 THEN c ELSE 0 END) AS BIGINT) AS diag FROM cells
)
SELECT CAST(t.n AS BIGINT) AS n,
       {sql_pround('CAST(g.diag AS DOUBLE) / t.n', 9)} AS po,
       {sql_pround(f"CAST(SUM({_sql_dterm('(CAST(m.rc AS DOUBLE) / t.n) * (CAST(m.cc AS DOUBLE) / t.n)')}) AS DOUBLE)", 9)} AS pe,
       {sql_pround(
           f"(CAST(g.diag AS DOUBLE) / t.n - CAST(SUM({_sql_dterm('(CAST(m.rc AS DOUBLE) / t.n) * (CAST(m.cc AS DOUBLE) / t.n)')}) AS DOUBLE))"
           f" / (1.0 - CAST(SUM({_sql_dterm('(CAST(m.rc AS DOUBLE) / t.n) * (CAST(m.cc AS DOUBLE) / t.n)')}) AS DOUBLE))", 6)} AS kappa
FROM marg m CROSS JOIN tot t CROSS JOIN agree g
GROUP BY t.n, g.diag
""",
    tags=("statistics", "ml"),
)
def qj10_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected inter-annotator agreement
    between two deterministic md5 pseudo-annotators (text vs
    reversed-text hash, 3 classes): kappa = (p_o − p_e)/(1 − p_e)
    with expected agreement from the marginal products. THE quality
    gate for labeling pipelines (raw agreement overstates consensus
    when classes are imbalanced); the pseudo-annotators make the
    computation hash-gateable without a model dependency.

    Scale: one 9-cell contingency aggregate; marginals from the
    cells; the 3-term p_e reduction is pround→DECIMAL summed so its
    order can't drift the hash.
    """
    d = table(spark, sf_dir, "documents")
    ann = d.select(
        (_md5fold(F.col("text")) % 3).alias("a1"),
        (_md5fold(F.reverse(F.col("text"))) % 3).alias("a2"),
    )
    cells = ann.groupBy("a1", "a2").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cells = cells.transform(cut_lineage)  # bounded: 9 cells
    tot = cells.agg(F.sum("c").alias("n"))
    rmarg = cells.groupBy(F.col("a1").alias("a")).agg(F.sum("c").alias("rc"))
    cmarg = cells.groupBy(F.col("a2").alias("a")).agg(F.sum("c").alias("cc"))
    agree = cells.agg(
        F.sum(F.when(F.col("a1") == F.col("a2"), F.col("c")).otherwise(0)).alias("diag")
    )
    marg = rmarg.join(cmarg, "a")
    pe_term = _dterm(
        (F.col("rc").cast("double") / F.col("n")) * (F.col("cc").cast("double") / F.col("n"))
    )
    out = (
        marg.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(agree))
        .groupBy("n", "diag")
        .agg(F.sum(pe_term).cast("double").alias("pe_raw"))
    )
    po = F.col("diag").cast("double") / F.col("n")
    return out.select(
        F.col("n").cast("bigint").alias("n"),
        pround(po, 9).alias("po"),
        pround(F.col("pe_raw"), 9).alias("pe"),
        pround((po - F.col("pe_raw")) / (1.0 - F.col("pe_raw")), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# j11 — seasonal strength (weekday effect size on daily revenue)


@query(
    "qj11_seasonal_strength",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(floor({sql_dsum('o_totalprice')} / 1000.0 + 0.5) AS BIGINT) AS z
  FROM orders GROUP BY 1
), marked AS (
  SELECT dayofweek(day) AS dow, z FROM daily
), g AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(z) AS BIGINT) AS sz
  FROM marked GROUP BY dow
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(z * z) AS BIGINT) AS szz,
         CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS k
  FROM marked
), parts AS (
  SELECT t.n, t.k,
         CAST(SUM(CAST(floor(CAST(g.sz AS DOUBLE) * g.sz / g.n + 0.5) AS DECIMAL(25,0))) AS DOUBLE)
           - CAST(t.sz AS DOUBLE) * t.sz / t.n AS ssb,
         CAST(t.szz AS DOUBLE) - CAST(t.sz AS DOUBLE) * t.sz / t.n AS sst
  FROM g CROSS JOIN tot t
  GROUP BY t.n, t.k, t.sz, t.szz
)
SELECT CAST(n AS BIGINT) AS n_days,
       {sql_pround('ssb / NULLIF(sst, 0)', 9)} AS seasonal_strength,
       {sql_pround('(ssb / (k - 1)) / NULLIF((sst - ssb) / (n - k), 0)', 6)} AS f_stat
FROM parts
""",
    tags=("timeseries", "statistics"),
)
def qj11_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal STRENGTH of the weekday pattern in daily revenue: the
    fraction of day-to-day revenue variance explained by day-of-week
    (eta² of a one-way decomposition over the 7 weekday groups, plus
    its F) — the one-number answer to "is qf26's weekday profile
    signal or noise". Revenue is quantized to kilodollars
    (floor(rev/1000 + 0.5)) so every moment is an exact int64 sum at
    any corpus size (the j02 recipe; the ±0.5k$ quantization is
    negligible against daily revenue and identical on both engines).

    Scale: fact table → day lattice → 7-group integer moments; all
    windows absent, all reductions map-side combinable.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.floor(dsum("o_totalprice") / 1000.0 + 0.5).cast("bigint").alias("z")
    )
    # Sunday-based 0..6 on both engines (Spark dayofweek is 1-based)
    marked = daily.select((F.dayofweek("day") - 1).alias("dow"), "z")
    g = marked.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("z").cast("bigint").alias("sz")
    )
    g = g.transform(cut_lineage)  # 7 rows
    tot = marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("tn"),
        F.sum("z").cast("bigint").alias("tsz"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("tszz"),
    ).crossJoin(F.broadcast(g.agg(F.count(F.lit(1)).alias("k"))))
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("tn", "k", "tsz", "tszz")
        .agg(
            F.sum(
                F.floor(F.col("sz").cast("double") * F.col("sz") / F.col("n") + 0.5).cast(
                    "decimal(25,0)"
                )
            )
            .cast("double")
            .alias("sgg")
        )
        .select(
            "tn",
            "k",
            (F.col("sgg") - F.col("tsz").cast("double") * F.col("tsz") / F.col("tn")).alias("ssb"),
            (
                F.col("tszz").cast("double")
                - F.col("tsz").cast("double") * F.col("tsz") / F.col("tn")
            ).alias("sst"),
        )
    )
    return parts.select(
        F.col("tn").cast("bigint").alias("n_days"),
        pround(F.col("ssb") / F.nullif(F.col("sst"), F.lit(0.0)), 9).alias("seasonal_strength"),
        pround(
            (F.col("ssb") / (F.col("k") - 1))
            / F.nullif((F.col("sst") - F.col("ssb")) / (F.col("tn") - F.col("k")), F.lit(0.0)),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# j12 — mergeable equi-width histogram audit

_J12_BINS = 32
_J12_SHARDS = 8


@query(
    "qj12_histogram_merge_audit",
    oracle=f"""
WITH rng AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
), binned AS (
  SELECT o_orderkey % {_J12_SHARDS} AS shard,
         LEAST(CAST(floor((o_totalprice - r.lo) / ((r.hi - r.lo) / {_J12_BINS})) AS BIGINT), {_J12_BINS - 1}) AS bin
  FROM orders CROSS JOIN rng r
), per_shard AS (
  SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS c FROM binned GROUP BY shard, bin
), merged AS (
  SELECT bin, CAST(SUM(c) AS BIGINT) AS n FROM per_shard GROUP BY bin
), direct AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM binned GROUP BY bin
)
SELECT m.bin, m.n, m.n = d.n AS merged_agrees
FROM merged m JOIN direct d ON d.bin = m.bin
ORDER BY m.bin
""",
    tags=("statistics", "audit"),
)
def qj12_histogram_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram: {_J12_BINS} bins over the order-
    value range built independently per shard (orderkey % {_J12_SHARDS})
    and merged by addition, oracle-asserted equal to the direct
    histogram — the count-vector counterpart of i05's mergeable
    quantiles, and the algebra behind every distributed histogram/
    heatmap service (per-partition partials, additive merge, no
    second data pass). The shared bin EDGES come from a broadcast
    1-row (min, max) so every shard bins identically.

    Scale: one range aggregate + two grouped counts; the merge sees
    shards × bins rows.
    """
    o = table(spark, sf_dir, "orders")
    rng = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    binned = o.crossJoin(F.broadcast(rng)).select(
        (F.col("o_orderkey") % _J12_SHARDS).alias("shard"),
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / _J12_BINS)
            ).cast("bigint"),
            F.lit(_J12_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    binned = binned.transform(cut_lineage)  # reused by both paths
    merged = (
        binned.groupBy("shard", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("bin")
        .agg(F.sum("c").cast("bigint").alias("n"))
    )
    direct = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("bigint").alias("d_n"))
    return (
        merged.join(direct, "bin")
        .select("bin", "n", (F.col("n") == F.col("d_n")).alias("merged_agrees"))
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# j13 — lag-bounded Theil-Sen slope of daily order counts

_J13_MAX_LAG = 60


@query(
    "qj13_theilsen_slope",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), slopes AS (
  SELECT CAST(b.cnt - a.cnt AS DOUBLE) / (b.day - a.day) AS slope
  FROM daily a JOIN daily b
    ON b.day > a.day AND b.day <= a.day + INTERVAL {_J13_MAX_LAG} DAY
), dict AS (
  SELECT slope, CAST(COUNT(*) AS BIGINT) AS c FROM slopes GROUP BY slope
), cum AS (
  SELECT slope, c,
         SUM(c) OVER (ORDER BY slope ASC) AS cum,
         SUM(c) OVER () AS n
  FROM dict
)
SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
       MIN(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN slope END) AS median_slope
FROM cum
""",
    tags=("timeseries", "statistics"),
)
def qj13_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-bounded Theil-Sen trend estimator: the median of pairwise
    slopes (c₂−c₁)/(d₂−d₁) over day pairs at most {_J13_MAX_LAG} days
    apart — the robust trend line ordinary OLS (i06) can't give you
    when outlier days exist; the lag bound keeps the pair set at
    |days|·{_J13_MAX_LAG} (linear in the lattice, not quadratic) and
    weights the estimate toward local trend, which is standard
    practice for long series. Slopes are exact integer ratios, so
    both engines compute bit-identical doubles; the median is the
    disc convention over the slope DICTIONARY.

    Scale: day-lattice self-join with a range bound (the qb35
    interval-join shape), dictionary collapse, one bounded cumulative
    window over distinct slope values.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    daily = daily.transform(cut_lineage)  # bounded lattice, used twice
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(
        b,
        (F.col("b.day") > F.col("a.day"))
        & (F.col("b.day") <= F.date_add(F.col("a.day"), _J13_MAX_LAG)),
    ).select(
        (
            (F.col("b.cnt") - F.col("a.cnt")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope")
    )
    dict_ = slopes.groupBy("slope").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ws = Window.orderBy(F.asc("slope"))  # bounded: slope dictionary
    cum = dict_.select(
        "slope",
        "c",
        F.sum("c").over(ws).alias("cum"),
    ).crossJoin(F.broadcast(dict_.agg(F.sum("c").alias("n"))))
    return cum.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.min(
            F.when(F.col("cum") >= F.ceil(0.5 * F.col("n")).cast("bigint"), F.col("slope"))
        ).alias("median_slope"),
    )


# ---------------------------------------------------------------------------
# j14 — nearest-centroid classifier evaluation


@query(
    "qj14_nearest_centroid_eval",
    oracle=f"""
WITH pe AS (
  SELECT vec_id, CAST(label AS BIGINT) AS lbl, t.pos, CAST(t.val AS DOUBLE) AS x
  FROM (
    SELECT vec_id, label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {{'pos': i - 1, 'val': embedding[i]}})) AS t
    FROM embeddings
  ) s
), cent AS (
  SELECT lbl AS cl, pos,
         {sql_pround('CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 9)} AS c
  FROM pe GROUP BY lbl, pos
), d AS (
  SELECT p.vec_id, p.lbl, c.cl,
         CAST(SUM({_sql_dterm('(p.x - c.c) * (p.x - c.c)')}) AS DOUBLE) AS d2
  FROM pe p JOIN cent c ON c.pos = p.pos
  GROUP BY p.vec_id, p.lbl, c.cl
), r AS (
  SELECT vec_id, lbl, cl,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) AS rn
  FROM d
)
SELECT lbl AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN cl = lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       {sql_pround('CAST(SUM(CASE WHEN cl = lbl THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 6)} AS accuracy
FROM r WHERE rn = 1
GROUP BY lbl ORDER BY label
""",
    tags=("ml", "vector"),
)
def qj14_nearest_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier evaluated in-engine: per-label mean
    vectors (qb08's dimension-wise centroid, pround(9)-stabilized so
    both engines hold bit-identical prototypes), every embedding
    assigned to its closest centroid by exact squared L2 (DECIMAL-
    summed per-dimension terms), per-class accuracy reported — the
    "are these labels even separable by prototypes" triage that runs
    before any model training, next to qc13's cohesion and qe25's
    separation.

    Scale: posexplode is bounded by dims (×64, not ×N²); the distance
    join is (vec, dim) ⋈ broadcast-sized (label, dim) centroids; the
    argmin is a per-vector window over |labels| candidates.
    """
    e = table(spark, sf_dir, "embeddings")
    pe = e.select(
        "vec_id",
        F.col("label").cast("bigint").alias("lbl"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    cent = pe.groupBy(F.col("lbl").alias("cl"), "pos").agg(
        pround(
            F.sum(F.col("x").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 9
        ).alias("c")
    )
    d = (
        pe.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "lbl", "cl")
        .agg(F.sum(_dterm((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))).cast("double").alias("d2"))
    )
    wv = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cl"))
    r = d.withColumn("rn", F.row_number().over(wv)).filter(F.col("rn") == 1)
    return (
        r.groupBy(F.col("lbl").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("cl") == F.col("lbl")).cast("int")).cast("bigint").alias("n_correct"),
        )
        .withColumn("accuracy", pround(F.col("n_correct").cast("double") / F.col("n"), 6))
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# j15 — Kaplan-Meier reorder-survival curve

_J15_MAX_WEEKS = 26


@query(
    "qj15_kaplan_meier",
    oracle=f"""
WITH firsts AS (
  SELECT o_custkey,
         MIN(CAST(o_orderdate AS DATE)) AS d1
  FROM orders GROUP BY o_custkey
), nxt AS (
  SELECT f.o_custkey, f.d1,
         MIN(CAST(o.o_orderdate AS DATE)) AS d2
  FROM firsts f
  LEFT JOIN orders o
    ON o.o_custkey = f.o_custkey AND CAST(o.o_orderdate AS DATE) > f.d1
  GROUP BY f.o_custkey, f.d1
), spans AS (
  SELECT o_custkey,
         CASE WHEN d2 IS NULL THEN NULL
              ELSE CAST(floor((d2 - d1) / 7.0) AS BIGINT) END AS event_week,
         CAST(floor(((SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders) - d1) / 7.0) AS BIGINT) AS censor_week
  FROM nxt
), obs AS (
  SELECT LEAST(COALESCE(event_week, censor_week), censor_week) AS week,
         CASE WHEN event_week IS NOT NULL AND event_week <= censor_week THEN 1 ELSE 0 END AS event
  FROM spans
), weekly AS (
  SELECT week,
         CAST(COUNT(*) AS BIGINT) AS n_leaving,
         CAST(SUM(event) AS BIGINT) AS d
  FROM obs WHERE week <= {_J15_MAX_WEEKS} GROUP BY week
), risk AS (
  SELECT week, d, n_leaving,
         SUM(n_leaving) OVER (ORDER BY week DESC) AS n_at_risk
  FROM weekly
), km AS (
  -- absorbing zero: once a week has d = n_at_risk the curve is 0 from
  -- there on (ln(0) is undefined; the flag replaces it exactly)
  SELECT week, d, n_at_risk,
         CASE WHEN MAX(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY week ASC) = 1 THEN 0.0
              ELSE exp(SUM(CASE WHEN d < n_at_risk
                           THEN {_sql_dterm('ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)')} END)
                       OVER (ORDER BY week ASC)) END AS s
  FROM risk
)
SELECT week, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS n_events,
       {sql_pround('s', 6)} AS survival
FROM km ORDER BY week
""",
    tags=("statistics", "timeseries"),
)
def qj15_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-reorder: per customer,
    the weeks from first order to second order (event) or to the data
    horizon (right-censored); S(t) = Π(1 − d_t/n_t) over weekly risk
    sets — THE estimator for "how long until customers come back"
    under censoring, which naive averages get wrong (they drop or
    mis-count the customers who haven't reordered YET). The product
    runs as exp(Σ ln(·)) with pround→DECIMAL-summed log terms, so the
    cumulative window is order-exact on both engines.

    Scale: two per-customer collapses (first + next order date), a
    weekly-bucket aggregate, and two windows over the bounded WEEK
    lattice (risk set = reverse cumulative count, survival = forward
    cumulative log-sum).
    """
    o = table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d1")
    )
    later = o.select("o_custkey", F.col("o_orderdate").cast("date").alias("d"))
    nxt = (
        firsts.join(later, "o_custkey")
        .filter(F.col("d") > F.col("d1"))
        .groupBy("o_custkey", "d1")
        .agg(F.min("d").alias("d2"))
    )
    horizon = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("hz"))
    spans = (
        firsts.join(nxt.select("o_custkey", "d2"), "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("d2").isNotNull(),
                F.floor(F.datediff(F.col("d2"), F.col("d1")) / 7.0).cast("bigint"),
            ).alias("event_week"),
            F.floor(F.datediff(F.col("hz"), F.col("d1")) / 7.0).cast("bigint").alias(
                "censor_week"
            ),
        )
    )
    obs = spans.select(
        F.least(F.coalesce("event_week", F.col("censor_week")), F.col("censor_week")).alias(
            "week"
        ),
        (
            F.col("event_week").isNotNull()
            & (F.col("event_week") <= F.col("censor_week"))
        )
        .cast("int")
        .alias("event"),
    )
    weekly = (
        obs.filter(F.col("week") <= _J15_MAX_WEEKS)
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_leaving"),
            F.sum("event").cast("bigint").alias("d"),
        )
    )
    wdesc = Window.orderBy(F.desc("week"))  # bounded: week lattice
    wasc = Window.orderBy(F.asc("week"))
    risk = weekly.withColumn("n_at_risk", F.sum("n_leaving").over(wdesc))
    # absorbing zero: once d = n_at_risk the curve is 0 from there on
    # (ln(0) is undefined; the flag replaces it exactly)
    safe_term = F.when(
        F.col("d") < F.col("n_at_risk"),
        _dterm(F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk"))),
    )
    km = risk.withColumn(
        "s",
        F.when(
            F.max((F.col("d") >= F.col("n_at_risk")).cast("int")).over(wasc) == 1, F.lit(0.0)
        ).otherwise(F.exp(F.sum(safe_term).over(wasc))),
    )
    return km.select(
        "week",
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        pround(F.col("s"), 6).alias("survival"),
    ).orderBy("week")


# ---------------------------------------------------------------------------
# j16 — generalized means (arithmetic / geometric / harmonic)


@query(
    "qj16_generalized_means",
    oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_pround(sql_davg('l_extendedprice'), 6)} AS mean_arith,
       {sql_pround(f"exp(CAST(SUM({_sql_dterm('ln(l_extendedprice)')}) AS DOUBLE) / COUNT(*))", 6)} AS mean_geom,
       {sql_pround(f"COUNT(*) / CAST(SUM({_sql_dterm('1.0 / l_extendedprice')}) AS DOUBLE)", 6)} AS mean_harm
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("statistics", "relational"),
)
def qj16_generalized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean means per group in one pass: arithmetic (exact
    decimal sum), geometric (exp of the DECIMAL-summed log terms —
    the right average for ratios and growth rates), harmonic (the
    right average for rates like latency-per-item; n/Σ(1/x)) — the
    AM ≥ GM ≥ HM family every metrics layer eventually needs and
    float-sum engines silently make irreproducible. All three share
    one grouped aggregate; log/reciprocal terms go through
    pround(9)→DECIMAL so accumulation order can't drift the hash.

    Scale: one map-side-combinable grouped aggregate, three reductions.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            pround(davg("l_extendedprice"), 6).alias("mean_arith"),
            pround(
                F.exp(F.sum(_dterm(F.log("l_extendedprice"))).cast("double") / F.count(F.lit(1))),
                6,
            ).alias("mean_geom"),
            pround(
                F.count(F.lit(1)) / F.sum(_dterm(F.lit(1.0) / F.col("l_extendedprice"))).cast("double"),
                6,
            ).alias("mean_harm"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# j17 — near-dup threshold sensitivity sweep

_J17_THRESHOLDS = (0.1, 0.2, 0.3, 0.5)


def _j17_sql_arm(th: float) -> str:
    return f"""
SELECT CAST({th} AS DOUBLE) AS threshold,
       CAST((SELECT COUNT(*) FROM scored WHERE jac >= {th}) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(DISTINCT node) FROM (
             SELECT u AS node FROM scored WHERE jac >= {th}
             UNION SELECT v FROM scored WHERE jac >= {th}) t) AS BIGINT) AS n_docs_touched"""


@query(
    "qj17_dedup_threshold_sweep",
    oracle=f"""
WITH {_I_SHINGLE_CTE.lstrip()},
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT p.u, p.v,
         CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) AS jac
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.u JOIN sizes sb ON sb.doc_id = p.v
)
{' UNION ALL '.join(_j17_sql_arm(t) for t in _J17_THRESHOLDS)}
ORDER BY threshold
""",
    tags=("dedup", "audit"),
)
def qj17_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup THRESHOLD sensitivity sweep: edge count and documents
    touched at Jaccard >= 0.1/0.2/0.3/0.5, all read off ONE pair
    computation — the tuning run a curation team does before fixing
    the dedup threshold (too low merges topical neighbors, too high
    misses boilerplate), answered without re-shingling per candidate
    threshold.

    Scale: the expensive stage (inverted-index pair join) runs ONCE
    and is localCheckpointed; each threshold arm is a filter +
    two aggregates over the bounded pair list. This is the reason to
    keep (pair, n_common, sizes) as the dedup intermediate instead of
    materializing only the thresholded edges.
    """
    d = table(spark, sf_dir, "documents")
    sh = shingles(d).transform(cut_lineage)
    a = sh.alias("a")
    b = sh.alias("b")
    scored = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("u"),
            F.col("b.doc_id").alias("v"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .select(
            "u",
            "v",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jac"),
        )
        .transform(cut_lineage)  # ONE pair computation, 4 threshold reads
    )
    out = None
    for th in _J17_THRESHOLDS:
        edges = scored.filter(F.col("jac") >= th)
        touched = edges.select(F.col("u").alias("node")).union(
            edges.select(F.col("v"))
        )
        arm = (
            edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            .crossJoin(
                F.broadcast(
                    touched.agg(F.countDistinct("node").cast("bigint").alias("n_docs_touched"))
                )
            )
            .select(
                F.lit(th).cast("double").alias("threshold"), "n_edges", "n_docs_touched"
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("threshold")


# ---------------------------------------------------------------------------
# j18 — quality-filter attrition funnel

_J18_MIN_CHARS = 120
_J18_MAX_REP = 0.45  # max share of the most frequent word
_J18_MIN_WORDS = 20


@query(
    "qj18_filter_attrition_funnel",
    oracle=f"""
WITH scored AS (
  SELECT source,
         n_chars >= {_J18_MIN_CHARS} AS g1,
         len(string_split(text, ' ')) >= {_J18_MIN_WORDS} AS g2,
         (SELECT MAX(c) FROM (
            SELECT COUNT(*) AS c FROM unnest(string_split(text, ' ')) AS t(w) GROUP BY w
          ) m) <= {_J18_MAX_REP} * len(string_split(text, ' ')) AS g3
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE g1) AS BIGINT) AS pass_len,
       CAST(COUNT(*) FILTER (WHERE g1 AND g2) AS BIGINT) AS pass_words,
       CAST(COUNT(*) FILTER (WHERE g1 AND g2 AND g3) AS BIGINT) AS pass_all,
       {sql_pround('CAST(COUNT(*) FILTER (WHERE g1 AND g2 AND g3) AS DOUBLE) / COUNT(*)', 6)} AS keep_rate
FROM scored
GROUP BY source
ORDER BY source
""",
    tags=("text", "curation", "audit"),
)
def qj18_filter_attrition_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ATTRITION FUNNEL: the three standard gates
    (min chars, min words, max top-word repetition share) applied as
    a sequenced funnel with per-source survival counts at each stage
    — the report every curation pipeline ships alongside its filtered
    corpus, because "keep rate 62%" is useless without knowing WHICH
    gate ate the 38%. Components exist as standalone scores
    (q52/qg10); the funnel composition and its ledger are the
    operator here.

    Scale: ONE scan, all gates computed as row-local expressions (the
    top-word share via aggregate() over the word array — no explode,
    no shuffle per gate), one grouped rollup.
    """
    d = table(spark, sf_dir, "documents")
    # split materialized once per row — captured in the nested lambdas it
    # re-ran per (distinct word × word) compare (r13 HOF-capture fix)
    words = F.col("_w")
    nw = F.size(words)
    # top-word count without explode: fold the distinct words' counts
    top = F.array_max(
        F.transform(
            F.array_distinct(words),
            lambda w: F.size(F.filter(words, lambda x: x == w)),
        )
    )
    scored = d.withColumn("_w", F.split("text", " ")).select(
        "source",
        (F.col("n_chars") >= _J18_MIN_CHARS).alias("g1"),
        (nw >= _J18_MIN_WORDS).alias("g2"),
        (top <= _J18_MAX_REP * nw).alias("g3"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("g1").cast("int")).cast("bigint").alias("pass_len"),
            F.sum((F.col("g1") & F.col("g2")).cast("int")).cast("bigint").alias("pass_words"),
            F.sum((F.col("g1") & F.col("g2") & F.col("g3")).cast("int"))
            .cast("bigint")
            .alias("pass_all"),
        )
        .withColumn(
            "keep_rate",
            pround(F.col("pass_all").cast("double") / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )
