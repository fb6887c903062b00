"""Round-6 staged extensions, third batch (originally k01+, driver-green
in CORRECTNESS_r08 and rotated out as qk01-qk50 in round 9 — number =
query identity; rotation history in __spark_entry__.py).

Batch contents: rank-based k-sample tests (Friedman, Kruskal-Wallis,
Cochran's Q, Kendall's W, sign test), forecast-quality decomposition
(Brier/Murphy), robust effect sizes (Cohen's d / Hedges' g), tail
coverage vs the Chebyshev bound, plus time-series, behavioral and
text/curation operators in later sections.

Engine style unchanged: pure JVM DataFrame ops, pround floor-rounding
on every oracle-gated double, DECIMAL-summed float aggregates, unique
ORDER BY tie-breaks, scalar-only outputs, partition-less windows only
over bounded aggregates, explicit floor() on every fractional->int
cast (DuckDB CAST rounds, Spark truncates).
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_distributed_kmodes_spark.functions.deterministic import (
    dsum,
    pround,
    sql_dsum,
    sql_pround,
)
from pyspark_distributed_kmodes_spark.functions.shingles import shingle_arrays
from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold, _mh_mins, _sql_md5fold
from pyspark_distributed_kmodes_spark.operators.analytics8 import _SQL_DAY_IDX, _day_idx
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table


# ---------------------------------------------------------------------------
# k01 — Friedman test: priorities ranked within year blocks


@query(
    "qk01_friedman_test",
    oracle=f"""
WITH cells AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS blk, o_orderpriority AS trt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) / COUNT(*) AS m
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT a.blk, a.trt,
         1 + CAST(SUM(CASE WHEN b.m < a.m THEN 1 ELSE 0 END) AS DOUBLE)
           + CAST(SUM(CASE WHEN b.m = a.m AND b.trt <> a.trt THEN 1 ELSE 0 END) AS DOUBLE) / 2 AS rk
  FROM cells a JOIN cells b ON a.blk = b.blk
  GROUP BY a.blk, a.trt, a.m
), rsums AS (
  SELECT trt, CAST(SUM(CAST(rk * 2 AS BIGINT)) AS BIGINT) AS r2   -- ranks are multiples of 0.5
  FROM ranked GROUP BY trt
), dims AS (
  SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS b, CAST(COUNT(DISTINCT trt) AS BIGINT) AS k
  FROM cells
)
SELECT d.b AS n_blocks, d.k AS n_treatments,
       {sql_pround('''12.0 / (d.b * d.k * (d.k + 1)) * SUM((CAST(r.r2 AS DOUBLE) / 2) * (CAST(r.r2 AS DOUBLE) / 2))
         - 3.0 * d.b * (d.k + 1)''', 6)} AS friedman_chi2
FROM rsums r CROSS JOIN dims d
GROUP BY d.b, d.k
""",
    tags=("statistics",),
)
def qk01_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test — do order priorities differ consistently in
    mean order value ACROSS year blocks? Mean value per (year,
    priority) cell, priorities ranked WITHIN each year (average ranks
    on ties via the pairwise count formula, computed by a bounded
    35-cell self-join on the block key), then chi2_F = 12/(bk(k+1))
    SUM R_j^2 - 3b(k+1). The repeated-measures analog of j02's one-way
    ANOVA: blocking by year removes the year-to-year level shift that
    would otherwise swamp the treatment effect.

    Determinism: cell means are exact-decimal-sum / count; ranks are
    multiples of 0.5, carried as exact integers (rk*2) through the
    rank-sum aggregation; only the final chi2 expression is float.

    Scale: one grouped pass collapses any row count to the bounded
    (years x priorities) grid; everything after is broadcast-sized.
    """
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double") / F.count(F.lit(1))).alias(
            "m"
        )
    )
    a, b = cells.alias("a"), cells.alias("b")
    ranked = (
        a.join(F.broadcast(b), F.col("a.blk") == F.col("b.blk"))
        .groupBy(F.col("a.blk").alias("blk"), F.col("a.trt").alias("trt"), F.col("a.m").alias("m"))
        .agg(
            (
                1
                + F.sum(F.when(F.col("b.m") < F.col("a.m"), 1).otherwise(0)).cast("double")
                + F.sum(
                    F.when((F.col("b.m") == F.col("a.m")) & (F.col("b.trt") != F.col("a.trt")), 1).otherwise(0)
                ).cast("double")
                / 2
            ).alias("rk")
        )
    )
    rsums = ranked.groupBy("trt").agg(
        F.sum((F.col("rk") * 2).cast("bigint")).cast("bigint").alias("r2")
    )
    dims = cells.agg(
        F.count_distinct("blk").cast("bigint").alias("b"),
        F.count_distinct("trt").cast("bigint").alias("k"),
    )
    j = rsums.crossJoin(F.broadcast(dims))
    chi2 = 12.0 / (F.col("b") * F.col("k") * (F.col("k") + 1)) * F.sum(
        (F.col("r2").cast("double") / 2) * (F.col("r2").cast("double") / 2)
    ) - 3.0 * F.col("b") * (F.col("k") + 1)
    return j.groupBy("b", "k").agg(pround(chi2, 6).alias("friedman_chi2")).select(
        F.col("b").alias("n_blocks"), F.col("k").alias("n_treatments"), "friedman_chi2"
    )


# ---------------------------------------------------------------------------
# k02 — Cochran's Q: weekly purchase incidence per user

_K02_WEEKS = 4


@query(
    "qk02_cochran_q",
    oracle=f"""
WITH base AS (
  SELECT user_id, ({_SQL_DAY_IDX} - (SELECT MIN({_SQL_DAY_IDX}) FROM events)) // 7 AS wk,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events
), grid AS (
  SELECT user_id, wk, MAX(p) AS x
  FROM base WHERE wk < {_K02_WEEKS} GROUP BY user_id, wk
), users AS (
  SELECT DISTINCT user_id FROM base
), filled AS (
  SELECT u.user_id, w.wk, COALESCE(g.x, 0) AS x
  FROM users u CROSS JOIN (SELECT unnest(range({_K02_WEEKS})) AS wk) w
  LEFT JOIN grid g ON g.user_id = u.user_id AND g.wk = w.wk
), li AS (
  SELECT user_id, CAST(SUM(x) AS BIGINT) AS l FROM filled GROUP BY user_id
), gj AS (
  SELECT wk, CAST(SUM(x) AS BIGINT) AS g FROM filled GROUP BY wk
), moms AS (
  SELECT CAST(SUM(l) AS BIGINT) AS sl, CAST(SUM(l * l) AS BIGINT) AS sl2,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM li
), q AS (
  SELECT CAST(SUM(g * g) AS BIGINT) AS sg2 FROM gj
)
SELECT m.n_users AS n_users, CAST({_K02_WEEKS} AS BIGINT) AS n_weeks,
       {sql_pround(f'''CAST({_K02_WEEKS} - 1 AS DOUBLE) * ({_K02_WEEKS} * q.sg2 - CAST(m.sl AS DOUBLE) * m.sl)
         / ({_K02_WEEKS} * m.sl - m.sl2)''', 6)} AS cochran_q
FROM moms m CROSS JOIN q
""",
    tags=("statistics", "events"),
)
def qk02_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test for equality of purchase incidence across the
    first {_K02_WEEKS} weeks, PAIRED by user (each user contributes a
    binary did-purchase flag per week): Q = (k-1)(k SUM G_j^2 -
    (SUM L_i)^2) / (k SUM L_i - SUM L_i^2) with G_j the week totals and
    L_i the per-user totals — the k-sample extension of j27's McNemar,
    and the right test for "did conversion change week over week"
    because it respects the user pairing that qg17's independent
    two-proportion z-test throws away. Absent (user, week) pairs are
    explicit zeros via the bounded user x week grid.

    Scale: one grouped pass to the SPARSE (user, week) grid — the
    zero-fill is algebraic (absent pairs contribute 0 to every L_i,
    G_j and moment), so no user x week cross join is materialized —
    then integer-only moment sums; a single float division at the end.
    The SQL oracle keeps the explicit filled grid for readability;
    the values are identical.
    """
    e = table(spark, sf_dir, "events")
    di = _day_idx()
    lo = e.agg(F.min(di).alias("lo"))
    base = e.crossJoin(F.broadcast(lo)).select(
        "user_id",
        F.floor((di - F.col("lo")) / 7).alias("wk"),
        (F.col("event_type") == "purchase").cast("int").alias("p"),
    )
    grid = (
        base.filter(F.col("wk") < _K02_WEEKS)
        .groupBy("user_id", "wk")
        .agg(F.max("p").alias("x"))
        .transform(cut_lineage)  # compact int grid; feeds L_i and G_j (scan-lint)
    )
    # The explicit user x week zero-fill is algebraically removable:
    # absent pairs contribute 0 to every L_i, G_j and moment, so L_i
    # comes straight from the sparse grid, G_j from a constant-width
    # week-lattice left join, and only n_users needs the full distinct
    # user count. This drops the crossJoin fan-out AND the second full
    # pass the filled grid cost (scan-lint: 8 -> 3 events scans).
    n_users = base.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    li = grid.groupBy("user_id").agg(F.sum("x").cast("bigint").alias("l"))
    weeks = spark.range(_K02_WEEKS).select(F.col("id").alias("wk"))
    gj = weeks.join(
        grid.groupBy("wk").agg(F.sum("x").cast("bigint").alias("g0")), "wk", "left"
    ).select(F.coalesce(F.col("g0"), F.lit(0)).alias("g"))
    moms = li.agg(
        F.sum("l").cast("bigint").alias("sl"),
        F.sum(F.col("l") * F.col("l")).cast("bigint").alias("sl2"),
    ).crossJoin(F.broadcast(n_users))
    q = gj.agg(F.sum(F.col("g") * F.col("g")).cast("bigint").alias("sg2"))
    jj = moms.crossJoin(F.broadcast(q))
    k = _K02_WEEKS
    qstat = (
        F.lit(float(k - 1))
        * (k * F.col("sg2") - F.col("sl").cast("double") * F.col("sl"))
        / (k * F.col("sl") - F.col("sl2"))
    )
    return jj.select(
        "n_users",
        F.lit(k).cast("bigint").alias("n_weeks"),
        pround(qstat, 6).alias("cochran_q"),
    )


# ---------------------------------------------------------------------------
# k03 — Kruskal-Wallis H across languages over the length dictionary


@query(
    "qk03_kruskal_wallis",
    oracle=f"""
WITH lattice AS (
  SELECT n_chars AS v, lang, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY n_chars, lang
), vtot AS (
  SELECT v, CAST(SUM(cnt) AS BIGINT) AS t FROM lattice GROUP BY v
), ranked AS (
  SELECT v, t, SUM(t) OVER (ORDER BY v ASC) AS cum FROM vtot
), avg_rank AS (
  SELECT v, cum - (t - 1) / 2.0 AS ar, t FROM ranked
), grp AS (
  SELECT l.lang, CAST(SUM(l.cnt) AS BIGINT) AS n_j,
         CAST(SUM(CAST(l.cnt * (a.ar * 2) AS DECIMAL(38,0))) AS DOUBLE) / 2 AS rsum
  FROM lattice l JOIN avg_rank a ON l.v = a.v
  GROUP BY l.lang
), nn AS (
  SELECT CAST(SUM(n_j) AS BIGINT) AS n FROM grp
), ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tt FROM vtot
), h AS (
  SELECT CAST(SUM(CAST({sql_pround('(rsum / n_j - (nn.n + 1) / 2.0) * (rsum / n_j - (nn.n + 1) / 2.0) * n_j', 6)} AS DECIMAL(25,6))) AS DOUBLE) AS s
  FROM grp CROSS JOIN nn
)
SELECT nn.n AS n, (SELECT COUNT(*) FROM grp) AS k,
       {sql_pround('''(12.0 / (CAST(nn.n AS DOUBLE) * (nn.n + 1)) * h.s)
         / (1.0 - CAST(ties.tt AS DOUBLE) / (CAST(nn.n AS DOUBLE) * nn.n * nn.n - nn.n))''', 6)} AS h_stat
FROM h CROSS JOIN nn CROSS JOIN ties
""",
    tags=("statistics", "text"),
)
def qk03_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test — do the per-language document-length
    DISTRIBUTIONS differ in location? — the k-sample generalization of
    j03's Mann-Whitney, with average ranks over the shared length
    dictionary (cum - (t-1)/2 per value, j01's trick, so the only
    ordered pass is a cumulative window over the bounded lattice) and
    the standard tie correction 1 - SUM(t^3 - t)/(N^3 - N). Complements
    j21 (which tests SHAPE against normality) and j48 (means of two
    groups, assuming little).

    Determinism: average ranks are multiples of 0.5 carried as exact
    integers (ar*2) through the DECIMAL rank-sum; the per-group
    deviation terms are floor-quantized before the final sum.

    Scale: one groupBy to the (value, lang) lattice; the global window
    consumes the value dictionary aggregate only.
    """
    d = table(spark, sf_dir, "documents")
    # bounded (value, lang) lattice with four consumers (vtot, ranks,
    # groups, ties): materialize once (scan-lint)
    lattice = d.groupBy(F.col("n_chars").alias("v"), "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).transform(cut_lineage)
    vtot = lattice.groupBy("v").agg(F.sum("cnt").cast("bigint").alias("t"))
    w = Window.orderBy(F.asc("v"))  # bounded: length dictionary
    ranked = vtot.withColumn("cum", F.sum("t").over(w))
    avg_rank = ranked.select("v", "t", (F.col("cum") - (F.col("t") - 1) / 2.0).alias("ar"))
    grp = (
        lattice.join(avg_rank.select("v", "ar"), "v")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_j"),
            (F.sum((F.col("cnt") * (F.col("ar") * 2)).cast("decimal(38,0)")).cast("double") / 2).alias(
                "rsum"
            ),
        )
    )
    nn = grp.agg(F.sum("n_j").cast("bigint").alias("n"))
    ties = vtot.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("bigint").alias("tt")
    )
    dev = F.col("rsum") / F.col("n_j") - (F.col("n") + 1) / 2.0
    h = (
        grp.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(pround(dev * dev * F.col("n_j"), 6).cast("decimal(25,6)"))
            .cast("double")
            .alias("s")
        )
    )
    kcnt = grp.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    j = h.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(kcnt))
    nD = F.col("n").cast("double")
    hstat = (12.0 / (nD * (F.col("n") + 1)) * F.col("s")) / (
        1.0 - F.col("tt").cast("double") / (nD * F.col("n") * F.col("n") - F.col("n"))
    )
    return j.select("n", "k", pround(hstat, 6).alias("h_stat"))


# ---------------------------------------------------------------------------
# k04 — Brier score with the Murphy decomposition

_K04_BINS = 10


@query(
    "qk04_brier_decomposition",
    oracle=f"""
WITH users AS (
  SELECT user_id,
         CAST({_sql_md5fold('CAST(user_id AS VARCHAR)')} % 10000 AS DOUBLE) / 10000 AS score,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS label
  FROM events GROUP BY user_id
), binned AS (
  SELECT LEAST(CAST(floor(score * {_K04_BINS}) AS BIGINT), {_K04_BINS - 1}) AS bin, score, label
  FROM users
), bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_k,
         CAST(SUM(label) AS BIGINT) AS pos_k,
         (bin + 0.5) / {_K04_BINS} AS f_k
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(SUM(n_k) AS BIGINT) AS n, CAST(SUM(pos_k) AS BIGINT) AS pos FROM bins
), parts AS (
  SELECT
    CAST(SUM(CAST({sql_pround('n_k * (f_k - CAST(pos_k AS DOUBLE) / n_k) * (f_k - CAST(pos_k AS DOUBLE) / n_k)', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS rel,
    CAST(SUM(CAST({sql_pround('n_k * (CAST(pos_k AS DOUBLE) / n_k - CAST(t.pos AS DOUBLE) / t.n) * (CAST(pos_k AS DOUBLE) / n_k - CAST(t.pos AS DOUBLE) / t.n)', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS res
  FROM bins CROSS JOIN tot t
)
SELECT t.n AS n_users,
       {sql_pround('parts.rel / t.n', 6)} AS reliability,
       {sql_pround('parts.res / t.n', 6)} AS resolution,
       {sql_pround('(CAST(t.pos AS DOUBLE) / t.n) * (1.0 - CAST(t.pos AS DOUBLE) / t.n)', 6)} AS uncertainty,
       {sql_pround('parts.rel / t.n - parts.res / t.n + (CAST(t.pos AS DOUBLE) / t.n) * (1.0 - CAST(t.pos AS DOUBLE) / t.n)', 6)} AS brier_score
FROM parts CROSS JOIN tot t
""",
    tags=("ml", "statistics"),
)
def qk04_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the j01 pseudo-forecast with the MURPHY
    decomposition: Brier = reliability - resolution + uncertainty over
    {_K04_BINS} forecast bins (forecast value = bin midpoint) — the
    decomposition tells a model owner WHETHER a bad score comes from
    miscalibration (reliability, fixable by recalibration) or from the
    model simply not separating outcomes (low resolution, needs new
    features); qf19 plots the calibration curve, this turns it into the
    three scalar diagnostics. Bin assignment uses explicit floor on
    both engines (the round-vs-truncate cast rule).

    Scale: per-user collapse, {_K04_BINS}-row bin aggregate, 1-row out;
    per-bin terms floor-quantized at 1e-9 and DECIMAL-summed.
    """
    e = table(spark, sf_dir, "events")
    users = (
        e.groupBy("user_id")
        .agg(F.max((F.col("event_type") == "purchase").cast("int")).cast("bigint").alias("label"))
        .select(
            ((_md5fold(F.col("user_id").cast("string")) % 10000).cast("double") / 10000).alias(
                "score"
            ),
            "label",
        )
    )
    binned = users.select(
        F.least(F.floor(F.col("score") * _K04_BINS).cast("bigint"), F.lit(_K04_BINS - 1)).alias(
            "bin"
        ),
        "label",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("label").cast("bigint").alias("pos_k"),
    ).withColumn("f_k", (F.col("bin") + 0.5) / _K04_BINS)
    tot = bins.agg(
        F.sum("n_k").cast("bigint").alias("n"), F.sum("pos_k").cast("bigint").alias("pos")
    )
    ok = F.col("pos_k").cast("double") / F.col("n_k")
    obar = F.col("pos").cast("double") / F.col("n")
    parts = bins.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            pround(F.col("n_k") * (F.col("f_k") - ok) * (F.col("f_k") - ok), 9).cast(
                "decimal(25,12)"
            )
        )
        .cast("double")
        .alias("rel"),
        F.sum(pround(F.col("n_k") * (ok - obar) * (ok - obar), 9).cast("decimal(25,12)"))
        .cast("double")
        .alias("res"),
    )
    j = parts.crossJoin(F.broadcast(tot))
    unc = obar * (1.0 - obar)
    return j.select(
        F.col("n").alias("n_users"),
        pround(F.col("rel") / F.col("n"), 6).alias("reliability"),
        pround(F.col("res") / F.col("n"), 6).alias("resolution"),
        pround(unc, 6).alias("uncertainty"),
        pround(F.col("rel") / F.col("n") - F.col("res") / F.col("n") + unc, 6).alias(
            "brier_score"
        ),
    )


# ---------------------------------------------------------------------------
# k05 — Kendall's W: do sources agree on the weekday revenue ranking?


@query(
    "qk05_kendalls_w",
    oracle=f"""
WITH cells AS (
  SELECT source, CAST(dayofweek(ts) AS BIGINT) AS dow,
         {sql_dsum('value')} AS rev
  FROM events e JOIN documents d ON e.user_id % 500 = d.doc_id % 500 AND d.doc_id < 500
  GROUP BY source, 2
), ranked AS (
  SELECT a.source, a.dow,
         CAST(1 + SUM(CASE WHEN b.rev < a.rev OR (b.rev = a.rev AND b.dow < a.dow) THEN 1 ELSE 0 END) AS BIGINT) AS rk
  FROM cells a JOIN cells b ON a.source = b.source
  GROUP BY a.source, a.dow, a.rev
), rsums AS (
  SELECT dow, CAST(SUM(rk) AS BIGINT) AS r FROM ranked GROUP BY dow
), dims AS (
  SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS m, CAST(COUNT(DISTINCT dow) AS BIGINT) AS n
  FROM cells
)
SELECT d.m AS n_judges, d.n AS n_items,
       {sql_pround('''12.0 * SUM((r - CAST(d.m AS DOUBLE) * (d.n + 1) / 2) * (r - CAST(d.m AS DOUBLE) * (d.n + 1) / 2))
         / (CAST(d.m AS DOUBLE) * d.m * (CAST(d.n AS DOUBLE) * d.n * d.n - d.n))''', 6)} AS kendalls_w
FROM rsums CROSS JOIN dims d
GROUP BY d.m, d.n
""",
    tags=("statistics", "events"),
)
def qk05_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W — do different document
    SOURCES (acting as judges via their linked users) agree on the
    ranking of weekdays by revenue? Each source ranks the 7 weekdays by
    its exact decimal revenue sum (deterministic dow tie-break), W =
    12 S / (m^2 (n^3 - n)) over the rank-sum deviations — the standard
    inter-rater agreement statistic (W=1 all judges rank identically,
    W=0 no agreement); complements j10's Cohen kappa which compares two
    judges on categorical labels rather than m judges on rankings.
    The user->doc hash link (user_id%500 = doc_id%500 over the first
    500 docs) is the repo's established deterministic entity bridge.

    Scale: the bridge join collapses immediately into the bounded
    (source x weekday) grid; ranking is a within-source pairwise count
    on that broadcast-sized grid; integer rank sums.
    """
    e = table(spark, sf_dir, "events")
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).select(
        (F.col("doc_id") % 500).alias("bridge"), "source"
    )
    cells = (
        e.withColumn("bridge", F.col("user_id") % 500)
        .join(d, "bridge")
        .groupBy("source", F.dayofweek("ts").cast("bigint").alias("dow"))
        .agg(dsum("value").alias("rev"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    ranked = (
        a.join(F.broadcast(b), F.col("a.source") == F.col("b.source"))
        .groupBy(F.col("a.source").alias("source"), F.col("a.dow").alias("dow"), F.col("a.rev").alias("rev"))
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.col("b.rev") < F.col("a.rev"))
                        | ((F.col("b.rev") == F.col("a.rev")) & (F.col("b.dow") < F.col("a.dow"))),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("rk")
        )
    )
    rsums = ranked.groupBy("dow").agg(F.sum("rk").cast("bigint").alias("r"))
    dims = cells.agg(
        F.count_distinct("source").cast("bigint").alias("m"),
        F.count_distinct("dow").cast("bigint").alias("n"),
    )
    j = rsums.crossJoin(F.broadcast(dims))
    mD = F.col("m").cast("double")
    nD = F.col("n").cast("double")
    dev = F.col("r") - mD * (F.col("n") + 1) / 2
    w = 12.0 * F.sum(dev * dev) / (mD * F.col("m") * (nD * F.col("n") * F.col("n") - F.col("n")))
    return (
        j.groupBy("m", "n")
        .agg(pround(w, 6).alias("kendalls_w"))
        .select(F.col("m").alias("n_judges"), F.col("n").alias("n_items"), "kendalls_w")
    )


# ---------------------------------------------------------------------------
# k06 — sign test: week-over-week daily revenue


@query(
    "qk06_sign_test",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), pairs AS (
  SELECT a.di, a.rev AS cur, b.rev AS prev
  FROM daily a JOIN daily b ON b.di = a.di - 7
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN cur > prev THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       CAST(SUM(CASE WHEN cur < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       {sql_pround('''CASE WHEN SUM(CASE WHEN cur <> prev THEN 1 ELSE 0 END) = 0 THEN 0.0
             ELSE (abs(CAST(SUM(CASE WHEN cur > prev THEN 1 ELSE 0 END)
                      - SUM(CASE WHEN cur < prev THEN 1 ELSE 0 END) AS DOUBLE)) - 1)
                  / sqrt(CAST(SUM(CASE WHEN cur <> prev THEN 1 ELSE 0 END) AS DOUBLE)) END''', 6)} AS z_stat
FROM pairs
""",
    tags=("statistics", "timeseries"),
)
def qk06_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign test on week-over-week daily revenue: pair each day with
    the same weekday one week earlier (removing the weekday effect j11
    quantifies), count ups vs downs, continuity-corrected
    z = (|U - D| - 1)/sqrt(U + D) — the assumption-free "is revenue
    drifting" answer that needs no magnitude model at all (j13's
    Theil-Sen gives the slope; this gives the sign-level significance).

    Scale: day-lattice aggregate, a 7-day-shifted self-join on that
    bounded lattice, one-row integer output with a single sqrt.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(_day_idx().alias("di")).agg(dsum("value").alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.di") == F.col("a.di") - 7).select(
        F.col("a.rev").alias("cur"), F.col("b.rev").alias("prev")
    )
    up = F.sum(F.when(F.col("cur") > F.col("prev"), 1).otherwise(0)).cast("bigint")
    down = F.sum(F.when(F.col("cur") < F.col("prev"), 1).otherwise(0)).cast("bigint")
    ne = F.sum(F.when(F.col("cur") != F.col("prev"), 1).otherwise(0))
    z = F.when(ne == 0, F.lit(0.0)).otherwise(
        (F.abs((up - down).cast("double")) - 1) / F.sqrt(ne.cast("double"))
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        up.alias("n_up"),
        down.alias("n_down"),
        pround(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# k07 — Cohen's d / Hedges' g effect size between language strata


@query(
    "qk07_effect_size_d",
    oracle="""
WITH s AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
), m AS (
  SELECT lang, n, s1 / n AS mean, (s2 - s1 * s1 / n) / (n - 1) AS var_
  FROM s
), w AS (
  SELECT a.n AS n1, b.n AS n2, a.mean - b.mean AS diff,
         ((a.n - 1) * a.var_ + (b.n - 1) * b.var_) / (a.n + b.n - 2) AS pooled
  FROM m a CROSS JOIN m b WHERE a.lang = 'en' AND b.lang = 'de'
)
SELECT n1, n2,
       {D} AS cohens_d,
       {G} AS hedges_g
FROM w
""".replace("{D}", sql_pround("diff / sqrt(pooled)", 6)).replace(
        "{G}",
        sql_pround("(diff / sqrt(pooled)) * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))", 6),
    ),
    tags=("statistics", "text"),
)
def qk07_effect_size_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and the small-sample-corrected Hedges' g for the
    en-vs-de document-length difference — the EFFECT SIZE that j48's
    Welch t deliberately does not give (t grows with sqrt(n), so at
    100 TB everything is "significant"; d is sample-size-free and is
    the number a curation decision should threshold on). Pooled SD
    uses the n-1 variances from exact integer power sums; g applies
    the standard J correction 1 - 3/(4N - 9).

    Scale: identical single-aggregation shape to j48.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "de"))
    c = F.col("n_chars")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(c.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((c * c).cast("decimal(38,0)")).cast("double").alias("s2"),
    )
    m = s.select(
        "lang",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias("var_"),
    )
    a = m.filter(F.col("lang") == "en").alias("a")
    b = m.filter(F.col("lang") == "de").alias("b")
    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n1"),
        F.col("b.n").alias("n2"),
        (F.col("a.mean") - F.col("b.mean")).alias("diff"),
        (
            ((F.col("a.n") - 1) * F.col("a.var_") + (F.col("b.n") - 1) * F.col("b.var_"))
            / (F.col("a.n") + F.col("b.n") - 2)
        ).alias("pooled"),
    )
    dd = F.col("diff") / F.sqrt(F.col("pooled"))
    g = dd * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n2")) - 9.0))
    return w.select("n1", "n2", pround(dd, 6).alias("cohens_d"), pround(g, 6).alias("hedges_g"))


# ---------------------------------------------------------------------------
# k08 — empirical tail coverage vs the Chebyshev bound


@query(
    "qk08_chebyshev_coverage",
    oracle="""
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(19,2)) * CAST(o_totalprice AS DECIMAL(19,2))) AS DOUBLE) AS s2
  FROM orders
), mu AS (
  SELECT n, s1 / n AS mean, sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd FROM s
), ks AS (
  SELECT unnest(range(1, 4)) AS k
), cov AS (
  SELECT ks.k, mu.n,
         CAST(SUM(CASE WHEN o.o_totalprice >= mu.mean - ks.k * mu.sd
                        AND o.o_totalprice <= mu.mean + ks.k * mu.sd THEN 1 ELSE 0 END) AS BIGINT) AS n_within
  FROM orders o CROSS JOIN mu CROSS JOIN ks
  GROUP BY ks.k, mu.n
)
SELECT CAST(k AS BIGINT) AS k,
       n_within,
       {F} AS frac_within,
       {C} AS chebyshev_lower
FROM cov
ORDER BY k
""".replace("{F}", sql_pround("CAST(n_within AS DOUBLE) / n", 6)).replace(
        "{C}", sql_pround("1.0 - 1.0 / (CAST(k AS DOUBLE) * k)", 6)
    ),
    tags=("statistics", "audit"),
)
def qk08_chebyshev_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical coverage of mu +/- k*sigma for k = 1, 2, 3 against the
    distribution-free Chebyshev lower bound 1 - 1/k^2 — the tail-audit
    that says how heavy the order-value distribution actually is:
    coverage near the Chebyshev floor means pathological tails (alerts
    sized on sigma will page constantly), coverage near the normal
    68/95/99.7 means sigma-based rules are safe. Moments come from the
    exact DECIMAL carriers (j33's), thresholds are identical floats on
    both engines, counting is a single scan with a constant 3-way
    fan-out.

    Scale: two passes over orders (moments, then the k x row count),
    the second with a broadcast 1-row moment join; map-side combined.
    """
    o = table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    s = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(price.cast("decimal(38,2)")).cast("double").alias("s1"),
        F.sum(price.cast("decimal(19,2)") * price.cast("decimal(19,2)")).cast("double").alias("s2"),
    )
    mu = s.select(
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))).alias(
            "sd"
        ),
    )
    ks = spark.range(1, 4).select(F.col("id").alias("k"))
    cov = (
        o.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(ks))
        .groupBy("k", "n")
        .agg(
            F.sum(
                F.when(
                    (price >= F.col("mean") - F.col("k") * F.col("sd"))
                    & (price <= F.col("mean") + F.col("k") * F.col("sd")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_within")
        )
    )
    return cov.select(
        F.col("k").cast("bigint").alias("k"),
        "n_within",
        pround(F.col("n_within").cast("double") / F.col("n"), 6).alias("frac_within"),
        pround(1.0 - 1.0 / (F.col("k").cast("double") * F.col("k")), 6).alias("chebyshev_lower"),
    ).orderBy("k")


# ---------------------------------------------------------------------------
# k09 — Bowley skewness / Moors kurtosis from octiles on a bucket lattice

_K09_BUCKET = 1000.0


@query(
    "qk09_bowley_moors",
    oracle=f"""
WITH lattice AS (
  SELECT o_orderpriority AS pri, CAST(floor(o_totalprice / {_K09_BUCKET}) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
), cum AS (
  SELECT pri, b, cnt,
         SUM(cnt) OVER (PARTITION BY pri ORDER BY b ASC) AS c,
         SUM(cnt) OVER (PARTITION BY pri) AS n
  FROM lattice
), octs AS (
  SELECT c.pri, o.i,
         MIN(CASE WHEN c.c >= CAST(ceil(o.i / 8.0 * c.n) AS BIGINT) THEN c.b END) AS ob
  FROM cum c CROSS JOIN (SELECT unnest(range(1, 8)) AS i) o
  GROUP BY c.pri, o.i
), wide AS (
  SELECT pri,
         MAX(CASE WHEN i = 1 THEN ob END) * {_K09_BUCKET} + {_K09_BUCKET / 2} AS e1,
         MAX(CASE WHEN i = 2 THEN ob END) * {_K09_BUCKET} + {_K09_BUCKET / 2} AS e2,
         MAX(CASE WHEN i = 3 THEN ob END) * {_K09_BUCKET} + {_K09_BUCKET / 2} AS e3,
         MAX(CASE WHEN i = 4 THEN ob END) * {_K09_BUCKET} + {_K09_BUCKET / 2} AS e4,
         MAX(CASE WHEN i = 5 THEN ob END) * {_K09_BUCKET} + {_K09_BUCKET / 2} AS e5,
         MAX(CASE WHEN i = 6 THEN ob END) * {_K09_BUCKET} + {_K09_BUCKET / 2} AS e6,
         MAX(CASE WHEN i = 7 THEN ob END) * {_K09_BUCKET} + {_K09_BUCKET / 2} AS e7
  FROM octs GROUP BY pri
)
SELECT pri,
       {sql_pround('(e6 + e2 - 2 * e4) / NULLIF(e6 - e2, 0)', 6)} AS bowley_skew,
       {sql_pround('((e7 - e5) + (e3 - e1)) / NULLIF(e6 - e2, 0)', 6)} AS moors_kurtosis
FROM wide
ORDER BY pri
""",
    tags=("statistics",),
)
def qk09_bowley_moors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based robust distribution shape per order priority:
    Bowley skewness (Q3+Q1-2Q2)/(Q3-Q1) and Moors kurtosis
    ((E7-E5)+(E3-E1))/(E6-E2) from the eight octiles — the outlier-
    immune alternative to j21's moment skew/kurtosis (a single 1e9
    order would swamp the 4th moment; octiles don't move). Octiles are
    discrete quantiles over a ${_K09_BUCKET:.0f}-bucket price lattice
    (smallest bucket whose cumulative count reaches ceil(i/8 * n)),
    evaluated at bucket midpoints — quantization documented, identical
    on both engines by integer arithmetic.

    Scale: one groupBy to the bounded (priority x bucket) lattice;
    octile selection is a constant 7-way fan-out over that aggregate;
    the cumulative windows are partitioned by priority.
    """
    o = table(spark, sf_dir, "orders")
    lattice = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") / _K09_BUCKET).cast("bigint").alias("b"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wc = Window.partitionBy("pri").orderBy(F.asc("b"))
    wn = Window.partitionBy("pri")
    cum = lattice.withColumn("c", F.sum("cnt").over(wc)).withColumn("n", F.sum("cnt").over(wn))
    octs_idx = spark.range(1, 8).select(F.col("id").alias("i"))
    octs = (
        cum.crossJoin(F.broadcast(octs_idx))
        .groupBy("pri", "i")
        .agg(
            F.min(
                F.when(F.col("c") >= F.ceil(F.col("i") / 8.0 * F.col("n")).cast("bigint"), F.col("b"))
            ).alias("ob")
        )
    )
    def e(i: int) -> Column:
        return F.max(F.when(F.col("i") == i, F.col("ob"))) * _K09_BUCKET + _K09_BUCKET / 2

    wide = octs.groupBy("pri").agg(*[e(i).alias(f"e{i}") for i in range(1, 8)])
    bow = (F.col("e6") + F.col("e2") - 2 * F.col("e4")) / F.nullif(
        F.col("e6") - F.col("e2"), F.lit(0.0)
    )
    moors = ((F.col("e7") - F.col("e5")) + (F.col("e3") - F.col("e1"))) / F.nullif(
        F.col("e6") - F.col("e2"), F.lit(0.0)
    )
    return wide.select(
        "pri", pround(bow, 6).alias("bowley_skew"), pround(moors, 6).alias("moors_kurtosis")
    ).orderBy("pri")


# ---------------------------------------------------------------------------
# k10 — Hurst exponent via rescaled-range over dyadic block sizes

_K10_SIZES = (5, 10, 15)


def _k10_sql_rs(m: int) -> str:
    """R/S terms for block size m over the daily series CTE `daily`."""
    return f"""
  SELECT {m} AS m, blk,
         MAX(cdev) - MIN(cdev) AS r,
         sqrt(CAST(SUM(CAST({sql_pround('dev * dev', 6)} AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)) AS s
  FROM (
    SELECT blk, dev,
           SUM(CAST({sql_pround('dev', 6)} AS DECIMAL(25,6))) OVER (PARTITION BY blk ORDER BY di ASC ROWS UNBOUNDED PRECEDING) AS cdev,
           di
    FROM (
      SELECT di, (di - mn) // {m} AS blk,
             rev - CAST(SUM(CAST(rev AS DECIMAL(25,6))) OVER (PARTITION BY (di - mn) // {m}) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY (di - mn) // {m}) AS dev
      FROM daily CROSS JOIN (SELECT MIN(di) AS mn FROM daily)
    )
  ) GROUP BY blk HAVING COUNT(*) = {m}
"""


@query(
    "qk10_hurst_exponent",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), rs AS (
  {' UNION ALL '.join(_k10_sql_rs(m) for m in _K10_SIZES)}
), pts AS (
  SELECT m,
         {sql_pround('ln(CAST(SUM(CAST(' + sql_pround('r / NULLIF(s, 0)', 6) + ' AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))', 6)} AS y,
         {sql_pround('ln(CAST(m AS DOUBLE))', 6)} AS x
  FROM rs GROUP BY m
), ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST({sql_pround('x * y', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST({sql_pround('x * x', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT np AS n_block_sizes,
       {sql_pround('(np * sxy - sx * sy) / (np * sxx - sx * sx)', 6)} AS hurst_h
FROM ols
""",
    tags=("statistics", "timeseries"),
)
def qk10_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily revenue series by classical
    rescaled-range analysis: for block sizes m in {_K10_SIZES}, split
    the day lattice into complete consecutive blocks, compute each
    block's R (range of cumulative mean-deviations) over S (block
    std), average R/S per m, and fit H as the slope of log(R/S) on
    log(m) — H > 0.5 long-range persistence, < 0.5 mean reversion,
    the memory diagnostic beyond i12's fixed-lag ACF. Logs are
    pround-stabilized before the closed-form OLS (transcendental
    outputs never feed a raw cross-engine sum).

    Scale: all windows partition by (block), over the bounded day
    aggregate; the OLS runs on {len(_K10_SIZES)} points.
    """
    e = table(spark, sf_dir, "events")
    # bounded day series, reused once per block size below:
    # materialize once (scan-lint)
    daily = e.groupBy(_day_idx().alias("di")).agg(
        dsum("value").alias("rev")
    ).transform(cut_lineage)
    mn = daily.agg(F.min("di").alias("mn"))
    base = daily.crossJoin(F.broadcast(mn))
    parts = []
    for m in _K10_SIZES:
        blk = F.floor((F.col("di") - F.col("mn")) / m)
        wb = Window.partitionBy(blk)
        dev = F.col("rev") - F.sum(F.col("rev").cast("decimal(25,6)")).over(wb).cast("double") / F.count(
            F.lit(1)
        ).over(wb)
        staged = base.select("di", blk.alias("blk"), dev.alias("dev"))
        wcum = (
            Window.partitionBy("blk").orderBy(F.asc("di")).rowsBetween(Window.unboundedPreceding, 0)
        )
        staged = staged.withColumn(
            "cdev", F.sum(pround(F.col("dev"), 6).cast("decimal(25,6)")).over(wcum)
        )
        rs = (
            staged.groupBy("blk")
            .agg(
                (F.max("cdev") - F.min("cdev")).cast("double").alias("r"),
                F.sqrt(
                    F.sum(pround(F.col("dev") * F.col("dev"), 6).cast("decimal(25,6)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("s"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .filter(F.col("cnt") == m)
            .select(F.lit(m).alias("m"), "r", "s")
        )
        parts.append(rs)
    rs_all = parts[0]
    for p in parts[1:]:
        rs_all = rs_all.unionByName(p)
    pts = rs_all.groupBy("m").agg(
        pround(
            F.log(
                F.sum(pround(F.col("r") / F.nullif(F.col("s"), F.lit(0.0)), 6).cast("decimal(25,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ),
            6,
        ).alias("y"),
        pround(F.log(F.col("m").cast("double")), 6).alias("x"),
    ).select("m", "x", F.col("y"))
    ols = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum(F.col("x").cast("decimal(25,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(25,6)")).cast("double").alias("sy"),
        F.sum(pround(F.col("x") * F.col("y"), 9).cast("decimal(25,12)")).cast("double").alias("sxy"),
        F.sum(pround(F.col("x") * F.col("x"), 9).cast("decimal(25,12)")).cast("double").alias("sxx"),
    )
    h = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return ols.select(F.col("np").alias("n_block_sizes"), pround(h, 6).alias("hurst_h"))


# ---------------------------------------------------------------------------
# k11 — best single changepoint by between-segment sum of squares


@query(
    "qk11_best_single_split",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), pref AS (
  SELECT di,
         SUM(CAST(rev AS DECIMAL(25,6))) OVER (ORDER BY di ASC) AS csum,
         ROW_NUMBER() OVER (ORDER BY di ASC) AS rn,
         (SELECT CAST(SUM(CAST(rev AS DECIMAL(25,6))) AS DOUBLE) FROM daily) AS tot,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n
  FROM daily
), scored AS (
  SELECT di, rn AS n_left, n - rn AS n_right,
         CAST(csum AS DOUBLE) / rn AS mean_left,
         (tot - CAST(csum AS DOUBLE)) / (n - rn) AS mean_right,
         {sql_pround('''rn * (CAST(csum AS DOUBLE) / rn - tot / n) * (CAST(csum AS DOUBLE) / rn - tot / n)
           + (n - rn) * ((tot - CAST(csum AS DOUBLE)) / (n - rn) - tot / n) * ((tot - CAST(csum AS DOUBLE)) / (n - rn) - tot / n)''', 4)} AS bss
  FROM pref WHERE rn < n
)
SELECT CAST(di AS BIGINT) AS split_after_day, n_left, n_right,
       {sql_pround('mean_left', 4)} AS mean_left,
       {sql_pround('mean_right', 4)} AS mean_right,
       bss AS bss
FROM scored
ORDER BY bss DESC, split_after_day ASC
LIMIT 1
""",
    tags=("statistics", "timeseries"),
)
def qk11_best_single_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint of the daily revenue series: the split
    day maximizing the between-segment sum of squares n_l(mu_l - mu)^2
    + n_r(mu_r - mu)^2 (the first step of binary segmentation and the
    regression-tree split criterion) — i11's CUSUM says WHETHER the
    level shifted; this says WHERE, with the left/right means as the
    fitted step function. All candidate splits are scored in ONE pass
    from prefix sums over the day lattice (no per-candidate rescan);
    ties break to the earliest day.

    Scale: prefix sums come from one cumulative window over the
    bounded day aggregate; TakeOrderedAndProject picks the winner.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(_day_idx().alias("di")).agg(dsum("value").alias("rev"))
    tot = daily.agg(
        F.sum(F.col("rev").cast("decimal(25,6)")).cast("double").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy(F.asc("di"))  # bounded: day lattice aggregate
    pref = (
        daily.withColumn("csum", F.sum(F.col("rev").cast("decimal(25,6)")).over(w))
        .withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("rn") < F.col("n"))
    )
    ml = F.col("csum").cast("double") / F.col("rn")
    mr = (F.col("tot") - F.col("csum").cast("double")) / (F.col("n") - F.col("rn"))
    mu = F.col("tot") / F.col("n")
    bss = F.col("rn") * (ml - mu) * (ml - mu) + (F.col("n") - F.col("rn")) * (mr - mu) * (mr - mu)
    scored = pref.select(
        F.col("di").cast("bigint").alias("split_after_day"),
        F.col("rn").cast("bigint").alias("n_left"),
        (F.col("n") - F.col("rn")).cast("bigint").alias("n_right"),
        pround(ml, 4).alias("mean_left"),
        pround(mr, 4).alias("mean_right"),
        pround(bss, 4).alias("bss"),
    )
    return scored.orderBy(F.desc("bss"), F.asc("split_after_day")).limit(1)


# ---------------------------------------------------------------------------
# k12 — seasonal-naive forecast backtest (predict day t by day t-7)


@query(
    "qk12_seasonal_naive_backtest",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), pairs AS (
  SELECT a.rev AS actual, b.rev AS forecast
  FROM daily a JOIN daily b ON b.di = a.di - 7
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts,
       {sql_pround('CAST(SUM(CAST(' + sql_pround('abs(actual - forecast)', 6) + ' AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 6)} AS mae,
       {sql_pround('sqrt(CAST(SUM(CAST(' + sql_pround('(actual - forecast) * (actual - forecast)', 4) + ' AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))', 6)} AS rmse,
       {sql_pround('CAST(SUM(CAST(' + sql_pround('abs(actual - forecast) / actual', 9) + ' AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*)', 6)} AS mape
FROM pairs
""",
    tags=("timeseries", "ml"),
)
def qk12_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict each day by
    the same weekday one week earlier) on daily revenue: MAE, RMSE and
    MAPE over all forecastable days — the baseline every fancier
    forecaster (qe07) must beat, and the standard sanity row in a
    forecast evaluation report. Error terms are pround-quantized and
    DECIMAL-summed; daily revenue here is strictly positive so MAPE's
    division is safe (and would be NULL-skipped, not wrong, if a zero
    day ever appeared).

    Scale: day-lattice aggregate, a 7-day-shifted self-join on that
    bounded lattice, one aggregation row.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(_day_idx().alias("di")).agg(dsum("value").alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("b.di") == F.col("a.di") - 7).select(
        F.col("a.rev").alias("actual"), F.col("b.rev").alias("forecast")
    )
    err = F.col("actual") - F.col("forecast")
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
        pround(
            F.sum(pround(F.abs(err), 6).cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mae"),
        pround(
            F.sqrt(
                F.sum(pround(err * err, 4).cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))
            ),
            6,
        ).alias("rmse"),
        pround(
            F.sum(pround(F.abs(err) / F.col("actual"), 9).cast("decimal(25,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mape"),
    )


# ---------------------------------------------------------------------------
# k13 — Markov stationary distribution of the event-type chain

_K13_SQUARINGS = 5  # P^(2^5) = P^32


@query(
    "qk13_markov_stationary",
    oracle=f"""
WITH steps AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS dst
  FROM events
), counts AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM steps WHERE dst IS NOT NULL GROUP BY src, dst
), p0 AS (
  SELECT src, dst, {sql_pround('CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY src)', 9)} AS p
  FROM counts
){''.join(f''', p{i + 1} AS (
  SELECT a.src, b.dst,
         CAST(SUM(CAST({sql_pround('a.p * b.p', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS p
  FROM p{i} a JOIN p{i} b ON a.dst = b.src
  GROUP BY a.src, b.dst
)''' for i in range(_K13_SQUARINGS))}
SELECT dst AS event_type,
       {sql_pround(f'CAST(SUM(CAST({sql_pround("p", 9)} AS DECIMAL(25,12))) AS DOUBLE) / 5', 6)} AS stationary_prob
FROM p{_K13_SQUARINGS}
GROUP BY dst
ORDER BY event_type
""",
    tags=("statistics", "events"),
    bench=True,
)
def qk13_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user event-type Markov chain:
    the 5x5 transition matrix (qe12's) raised to the 32nd power by
    {_K13_SQUARINGS} repeated SQUARINGS — log-many bounded join-agg
    rounds instead of 32 linear ones, the same doubling idea as the
    pointer-doubling connected components — then averaged over start
    states. The result is where user attention CONVERGES (the long-run
    share of each event type), which a single-step transition matrix
    does not reveal. Each squaring pround-quantizes its products at
    1e-9 and DECIMAL-sums the 5-term dot products, so both engines walk
    the identical rational matrix sequence.

    Scale: transition counting is one lead window partitioned by user
    + a grouped count; every squaring joins two 25-row matrices. The
    k-row matrix is localCheckpoint(eager)ed before and inside the
    loop — without this the self-join doubles the logical plan per
    squaring (2^5 = 32 event-table scans in the static plan), the
    exact lineage blowup the CC / PageRank loops also guard against.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    steps = e.select(
        F.col("event_type").alias("src"), F.lead("event_type").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull())
    counts = steps.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wrow = Window.partitionBy("src")
    p = counts.select(
        "src", "dst", pround(F.col("c").cast("double") / F.sum("c").over(wrow), 9).alias("p")
    ).transform(cut_lineage)
    for _ in range(_K13_SQUARINGS):
        a, b = p.alias("a"), p.alias("b")
        p = (
            a.join(F.broadcast(b), F.col("a.dst") == F.col("b.src"))
            .groupBy(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .agg(
                F.sum(pround(F.col("a.p") * F.col("b.p"), 9).cast("decimal(25,12)"))
                .cast("double")
                .alias("p")
            )
            .transform(cut_lineage)
        )
    return (
        p.groupBy(F.col("dst").alias("event_type"))
        .agg(
            pround(
                F.sum(pround(F.col("p"), 9).cast("decimal(25,12)")).cast("double") / 5, 6
            ).alias("stationary_prob")
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# k14 — user activity-tier migration between month halves

_K14_LOW_MAX = 30  # events; 1..30 = low, 31+ = high


@query(
    "qk14_activity_migration",
    oracle=f"""
WITH bounds AS (
  SELECT MIN({_SQL_DAY_IDX}) AS lo, MAX({_SQL_DAY_IDX}) AS hi FROM events
), halves AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN {_SQL_DAY_IDX} < (b.lo + b.hi + 1) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN {_SQL_DAY_IDX} >= (b.lo + b.hi + 1) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM events CROSS JOIN bounds b GROUP BY user_id, b.lo, b.hi
), tiers AS (
  SELECT CASE WHEN c1 = 0 THEN 'absent' WHEN c1 <= {_K14_LOW_MAX} THEN 'low' ELSE 'high' END AS tier_h1,
         CASE WHEN c2 = 0 THEN 'absent' WHEN c2 <= {_K14_LOW_MAX} THEN 'low' ELSE 'high' END AS tier_h2
  FROM halves
)
SELECT tier_h1, tier_h2, CAST(COUNT(*) AS BIGINT) AS n_users
FROM tiers GROUP BY tier_h1, tier_h2
ORDER BY tier_h1, tier_h2
""",
    tags=("events", "curation"),
)
def qk14_activity_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User activity-tier MIGRATION matrix between the first and second
    half of the observation window (absent / low / high by fixed event
    thresholds): the cohort-movement view that a single churn rate
    (i28) collapses — off-diagonal mass up-right is growth, down-left
    is decay, and the absent->high cell is the influx a capacity plan
    cares about. Fixed thresholds keep the tiering scale-stable (a
    percentile tiering would relabel everyone as the corpus grows).

    Scale: one grouped pass per user with a broadcast bounds row; the
    matrix is at most 3x3.
    """
    e = table(spark, sf_dir, "events")
    di = _day_idx()
    bounds = e.agg(F.min(di).alias("lo"), F.max(di).alias("hi"))
    mid = F.floor((F.col("lo") + F.col("hi") + 1) / 2)
    halves = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(di < mid, 1).otherwise(0)).cast("bigint").alias("c1"),
            F.sum(F.when(di >= mid, 1).otherwise(0)).cast("bigint").alias("c2"),
        )
    )

    def tier(c: Column) -> Column:
        return (
            F.when(c == 0, "absent").when(c <= _K14_LOW_MAX, "low").otherwise("high")
        )

    return (
        halves.select(tier(F.col("c1")).alias("tier_h1"), tier(F.col("c2")).alias("tier_h2"))
        .groupBy("tier_h1", "tier_h2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("tier_h1", "tier_h2")
    )


# ---------------------------------------------------------------------------
# k15 — lexical diversity: global + segmental type-token ratio

_K15_SEG = 50  # words per segment


@query(
    "qk15_lexical_diversity",
    oracle=f"""
WITH segs AS (
  SELECT lang,
         len(list_distinct(string_split(text, ' ')[s:s + {_K15_SEG - 1}])) AS types,
         len(string_split(text, ' ')[s:s + {_K15_SEG - 1}]) AS toks
  FROM documents,
       (SELECT unnest(range(1, (SELECT MAX(len(string_split(text, ' '))) FROM documents) + 1, {_K15_SEG})) AS s)
  WHERE s <= len(string_split(text, ' '))
), per_lang AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(SUM(CAST(types AS BIGINT)) AS BIGINT) AS types_total,
         CAST(SUM(CAST(toks AS BIGINT)) AS BIGINT) AS toks_total,
         CAST(SUM(CAST({sql_pround('CAST(types AS DOUBLE) / toks', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS ttr_sum
  FROM segs GROUP BY lang
)
SELECT lang, n_segments,
       {sql_pround('CAST(types_total AS DOUBLE) / toks_total', 6)} AS pooled_ttr,
       {sql_pround('ttr_sum / n_segments', 6)} AS segmental_ttr
FROM per_lang
ORDER BY lang
""",
    tags=("text", "curation"),
)
def qk15_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per language: pooled type-token ratio plus the
    SEGMENTAL TTR (mean per-{_K15_SEG}-word-window TTR, the MSTTR/MTLD
    family's fix for TTR's length dependence — raw TTR falls as corpora
    grow, so cross-language comparisons need the windowed form).
    Repetitive machine text shows segmental TTR well below natural
    prose; this is the vocabulary-richness quality gate beside qg09's
    vocabulary GROWTH curve and qc14's Zipf slope.

    Scale: the qf13 segmentation idiom (non-overlapping explode, output
    tokens = input tokens); per-segment distinct counting happens
    INSIDE the array (no shuffle); one grouped pass per language.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size(words), F.lit(_K15_SEG))
    seg = F.slice(F.col("w"), F.col("s"), _K15_SEG)
    segs = d.select("lang", F.explode(starts).alias("s"), words.alias("w")).select(
        "lang",
        F.size(F.array_distinct(seg)).alias("types"),
        F.size(seg).alias("toks"),
    )
    per_lang = segs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.col("types").cast("bigint")).cast("bigint").alias("types_total"),
        F.sum(F.col("toks").cast("bigint")).cast("bigint").alias("toks_total"),
        F.sum(
            pround(F.col("types").cast("double") / F.col("toks"), 9).cast("decimal(25,12)")
        )
        .cast("double")
        .alias("ttr_sum"),
    )
    return per_lang.select(
        "lang",
        "n_segments",
        pround(F.col("types_total").cast("double") / F.col("toks_total"), 6).alias("pooled_ttr"),
        pround(F.col("ttr_sum") / F.col("n_segments"), 6).alias("segmental_ttr"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# k16 — casing profile per source


@query(
    "qk16_casing_profile",
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS total,
         CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS uppers,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
         CAST(len(list_filter(string_split(text, ' '), w -> regexp_full_match(w, '[A-Z][a-z]+'))) AS BIGINT) AS title_words
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {sql_pround('CAST(SUM(uppers) AS DOUBLE) / SUM(total)', 6)} AS upper_ratio,
       {sql_pround('CAST(SUM(title_words) AS DOUBLE) / SUM(words)', 6)} AS titlecase_ratio
FROM per_doc
GROUP BY source
ORDER BY source
""",
    tags=("text",),
)
def qk16_casing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casing profile per source: uppercase-character ratio and the
    share of TitleCase words — SHOUTING spam is upper-heavy, headline
    scrapes and navigation menus are titlecase-heavy, clean prose sits
    in a narrow band of both; together with j42's class mix this
    completes the cheap character-level source fingerprint. The
    titlecase test is an exact FULL-match per word (list_filter /
    higher-order filter — no word-boundary regex, whose semantics
    differ between engines).

    Scale: stateless per-row maps (one regexp strip, one array filter,
    all JVM-side) + one groupBy on the bounded source dictionary.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    per_doc = d.select(
        "source",
        F.length("text").cast("bigint").alias("total"),
        (F.length("text") - F.length(F.regexp_replace("text", "[A-Z]", ""))).cast("bigint").alias(
            "uppers"
        ),
        F.size(words).cast("bigint").alias("words"),
        F.size(F.filter(words, lambda w: w.rlike("^[A-Z][a-z]+$"))).cast("bigint").alias(
            "title_words"
        ),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            pround(F.sum("uppers").cast("double") / F.sum("total"), 6).alias("upper_ratio"),
            pround(F.sum("title_words").cast("double") / F.sum("words"), 6).alias(
                "titlecase_ratio"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# k17 — duplicated n-gram mass at document-frequency thresholds

_K17_N = 5  # n-gram width in words
_K17_THRESHOLDS = (2, 5, 10)


@query(
    "qk17_ngram_dup_mass",
    oracle=f"""
WITH grams AS (
  SELECT md5(array_to_string(string_split(text, ' ')[s:s + {_K17_N - 1}], ' ')) AS g
  FROM documents,
       (SELECT unnest(range(1, (SELECT MAX(len(string_split(text, ' '))) FROM documents) + 1)) AS s)
  WHERE s + {_K17_N - 1} <= len(string_split(text, ' '))
), freq AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g
), hist AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS ngrams FROM freq GROUP BY c
), tot AS (
  SELECT CAST(SUM(c * ngrams) AS BIGINT) AS occurrences, CAST(SUM(ngrams) AS BIGINT) AS vocab
  FROM hist
)
SELECT CAST(t.thr AS BIGINT) AS df_threshold,
       tot.occurrences AS occurrences,
       {sql_pround('CAST(COALESCE(SUM(CASE WHEN h.c >= t.thr THEN h.c * h.ngrams END), 0) AS DOUBLE) / tot.occurrences', 6)} AS dup_mass,
       {sql_pround('CAST(COALESCE(SUM(CASE WHEN h.c >= t.thr THEN h.ngrams END), 0) AS DOUBLE) / tot.vocab', 6)} AS dup_vocab_share
FROM hist h CROSS JOIN (SELECT unnest(ARRAY{list(_K17_THRESHOLDS)}) AS thr) t CROSS JOIN tot
GROUP BY t.thr, tot.occurrences, tot.vocab
ORDER BY df_threshold
""",
    tags=("dedup", "text"),
)
def qk17_ngram_dup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated {_K17_N}-gram MASS: what fraction of all {_K17_N}-gram
    occurrences (and of the distinct vocabulary) belongs to n-grams
    repeated at least t times, for t in {_K17_THRESHOLDS} — the
    concentration curve that says how much a repeated-phrase dedup pass
    could remove at each aggressiveness level, WITHOUT materializing a
    top-K ranking: everything reduces to the bounded count-of-counts
    histogram, so no global sort of the n-gram table exists anywhere
    (the top-K form would need one). Pairs with j17 (which sweeps
    document-level Jaccard thresholds) at the phrase level.

    Scale: overlapping shingle explode (output ~ n_tokens x 1), one
    md5-keyed count, one count-of-counts collapse; the threshold scan
    is a constant 3-way fan-out over that tiny histogram.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # docs shorter than the width have no n-grams: unguarded, the
    # sequence would run DOWN through 0 and crash F.slice
    starts = F.when(F.size(words) >= _K17_N, F.sequence(F.lit(1), F.size(words) - (_K17_N - 1)))
    grams = d.select(F.explode(starts).alias("s"), words.alias("w")).select(
        F.md5(F.array_join(F.slice("w", F.col("s"), _K17_N), " ")).alias("g")
    )
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    hist = freq.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("ngrams"))
    tot = hist.agg(
        F.sum(F.col("c") * F.col("ngrams")).cast("bigint").alias("occurrences"),
        F.sum("ngrams").cast("bigint").alias("vocab"),
    )
    thr = spark.createDataFrame([(t,) for t in _K17_THRESHOLDS], "thr int")
    j = hist.crossJoin(F.broadcast(thr)).crossJoin(F.broadcast(tot))
    return (
        j.groupBy("thr", "occurrences", "vocab")
        .agg(
            pround(
                F.coalesce(
                    F.sum(F.when(F.col("c") >= F.col("thr"), F.col("c") * F.col("ngrams"))),
                    F.lit(0),
                ).cast("double")
                / F.col("occurrences"),
                6,
            ).alias("dup_mass"),
            pround(
                F.coalesce(
                    F.sum(F.when(F.col("c") >= F.col("thr"), F.col("ngrams"))), F.lit(0)
                ).cast("double")
                / F.col("vocab"),
                6,
            ).alias("dup_vocab_share"),
        )
        .select(
            F.col("thr").cast("bigint").alias("df_threshold"),
            "occurrences",
            "dup_mass",
            "dup_vocab_share",
        )
        .orderBy("df_threshold")
    )


# ---------------------------------------------------------------------------
# k18 — hapax legomena rate per language


@query(
    "qk18_hapax_rate",
    oracle="""
WITH words AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
), freq AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY lang, w
), stats AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(c) AS BIGINT) AS tokens,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
  FROM freq GROUP BY lang
)
SELECT lang, vocab, tokens, hapax,
       {HV} AS hapax_vocab_share,
       {HT} AS hapax_token_share
FROM stats
ORDER BY lang
""".replace("{HV}", sql_pround("CAST(hapax AS DOUBLE) / vocab", 6)).replace(
        "{HT}", sql_pround("CAST(hapax AS DOUBLE) / tokens", 6)
    ),
    tags=("text", "curation"),
)
def qk18_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per language: the share of vocabulary (and
    of running tokens) made of words occurring exactly once — natural
    corpora sit near 40-60% hapax vocabulary (Zipf's tail); template
    or machine-generated text collapses far below it, and OCR noise
    inflates it — the single cheapest vocabulary-health number, next to
    qc14's Zipf slope which fits the whole curve.

    Scale: one explode to words (token-bounded), one (lang, word)
    count (map-side combined), one per-lang rollup of the bounded
    frequency table.
    """
    d = table(spark, sf_dir, "documents")
    words = d.select("lang", F.explode(F.split("text", " ")).alias("w"))
    freq = words.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    stats = freq.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("c").cast("bigint").alias("tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("hapax"),
    )
    return stats.select(
        "lang",
        "vocab",
        "tokens",
        "hapax",
        pround(F.col("hapax").cast("double") / F.col("vocab"), 6).alias("hapax_vocab_share"),
        pround(F.col("hapax").cast("double") / F.col("tokens"), 6).alias("hapax_token_share"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# k19 — observe(): execution-time metrics collected inside the plan


@query(
    "qk19_observed_scan_metrics",
    oracle=f"""
WITH filtered AS (
  SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_dsum('l_extendedprice')} AS revenue
FROM filtered
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("relational", "audit"),
)
def qk19_observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's `observe()` API — the last uncovered piece of the
    DataFrame surface: an Observation attaches named metrics (row
    count, exact DECIMAL revenue) to the post-filter point of the plan,
    and Spark computes them DURING the action as a CollectMetrics node
    — zero extra passes, unlike a separate .count() which re-runs the
    scan. The query result (per-returnflag rollup) is oracle-gated as
    usual; tests/test_analytics10.py asserts the observed metrics equal
    the aggregate's own totals, proving the plan-embedded audit row
    matches the data a consumer received — the runtime half of qe14's
    declarative constraints.

    Scale: CollectMetrics is a streaming accumulator inside the same
    stage — the idiomatic way to get ingest counters at 100 TB where a
    second audit scan would double the job's I/O.
    """
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    obs = Observation("qk19_scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).alias("revenue_exact"),
    )
    out = (
        observed.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            dsum("l_extendedprice").alias("revenue"),
        )
        .orderBy("l_returnflag")
    )
    # expose the Observation for tests without changing the result shape
    out._k19_observation = obs  # type: ignore[attr-defined]
    return out


# ---------------------------------------------------------------------------
# k20 — peak session concurrency probed at hour boundaries

_K20_IDLE_US = 4 * 3600 * 1_000_000


@query(
    "qk20_peak_concurrency",
    oracle=f"""
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_K20_IDLE_US}
              OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sess AS (
  SELECT user_id,
         MIN(us) AS s_start, MAX(us) AS s_end
  FROM (SELECT user_id, us,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY us ASC ROWS UNBOUNDED PRECEDING) AS island
        FROM marked)
  GROUP BY user_id, island
), hours AS (
  SELECT unnest(range((SELECT MIN(s_start) // 3600000000 FROM sess),
                      (SELECT MAX(s_end) // 3600000000 FROM sess) + 1)) AS h
), conc AS (
  SELECT h.h, CAST(COUNT(s.user_id) AS BIGINT) AS active
  FROM hours h LEFT JOIN sess s
    ON s.s_start <= h.h * 3600000000 AND s.s_end >= h.h * 3600000000
  GROUP BY h.h
)
SELECT CAST(h AS BIGINT) AS hour_index, active AS active_sessions
FROM conc
ORDER BY active DESC, hour_index ASC
LIMIT 5
""",
    tags=("events", "timeseries"),
)
def qk20_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak session concurrency: sessionize (4 h idle islands, j30's
    rule), then probe how many sessions are simultaneously open at each
    HOUR boundary and report the top-5 busiest hours — the capacity-
    planning number ("how many concurrent users must we serve") that
    per-hour event counts do NOT give, because a session spans hours it
    emits no event in. Probing at hour granularity keeps the interval
    overlap a bounded fan-out instead of a full sweep-line sort of all
    starts/ends (exact-to-the-second peaks need the sweep; hourly is
    the planning resolution).

    Scale: sessions come from partitioned windows; the probe join is
    sessions x bounded hour lattice, prunable on the hour range. Top-5
    is a TakeOrderedAndProject.
    """
    e = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    marked = e.select(
        "user_id",
        us.alias("us"),
        F.when((us - F.lag(us).over(w) > _K20_IDLE_US) | F.lag(us).over(w).isNull(), 1)
        .otherwise(0)
        .alias("brk"),
    )
    wi = Window.partitionBy("user_id").orderBy(F.asc("us")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = (
        marked.withColumn("island", F.sum("brk").over(wi))
        .groupBy("user_id", "island")
        .agg(F.min("us").alias("s_start"), F.max("us").alias("s_end"))
    )
    bounds = sess.agg(
        F.floor(F.min("s_start") / 3_600_000_000).alias("h_lo"),
        F.floor(F.max("s_end") / 3_600_000_000).alias("h_hi"),
    ).collect()[0]  # two scalars bound the constant hour lattice
    hours = spark.range(int(bounds.h_lo), int(bounds.h_hi) + 1).select(F.col("id").alias("h"))
    conc = (
        F.broadcast(hours)
        .join(
            sess,
            (F.col("s_start") <= F.col("h") * 3_600_000_000)
            & (F.col("s_end") >= F.col("h") * 3_600_000_000),
            "left",
        )
        .groupBy("h")
        .agg(F.count("user_id").cast("bigint").alias("active"))
    )
    return (
        conc.select(F.col("h").cast("bigint").alias("hour_index"), F.col("active").alias("active_sessions"))
        .orderBy(F.desc("active_sessions"), F.asc("hour_index"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# k21 — GROUPING SETS with grouping_id() level decode


@query(
    "qk21_grouping_id_decode",
    oracle=f"""
SELECT CASE
         WHEN GROUPING(o_orderpriority) = 0 AND GROUPING(yr) = 0 THEN 'priority_year'
         WHEN GROUPING(o_orderpriority) = 0 THEN 'priority_total'
         WHEN GROUPING(yr) = 0 THEN 'year_total'
         ELSE 'grand_total' END AS level,
       COALESCE(o_orderpriority, 'ALL') AS pri,
       COALESCE(CAST(yr AS VARCHAR), 'ALL') AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM (SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS yr, o_totalprice FROM orders)
GROUP BY GROUPING SETS ((o_orderpriority, yr), (o_orderpriority), (yr), ())
ORDER BY level, pri, yr
""",
    tags=("relational",),
)
def qk21_grouping_id_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with the grouping() indicator DECODED into level
    labels — the piece q17's grouping-sets row leaves implicit: a
    consumer of a mixed-granularity result must distinguish "priority
    is NULL because this is the year-total row" from a genuinely NULL
    priority, and grouping()/grouping_id() is the only correct way (the
    COALESCE-to-'ALL' rendering here is safe ONLY because the decode
    happened first). One pass computes all four granularities with
    partial-aggregate reuse.

    Scale: Spark expands grouping sets into one Expand + one hash
    aggregate — a single shuffle for all four levels, vs four separate
    scans if a client issued them naively.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.year("o_orderdate").cast("bigint").alias("yr"), "o_totalprice"
    )
    g = o.groupingSets(
        [["o_orderpriority", "yr"], ["o_orderpriority"], ["yr"], []],
        "o_orderpriority",
        "yr",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
        F.grouping("o_orderpriority").alias("g_pri"),
        F.grouping("yr").alias("g_yr"),
    )
    level = (
        F.when((F.col("g_pri") == 0) & (F.col("g_yr") == 0), "priority_year")
        .when(F.col("g_pri") == 0, "priority_total")
        .when(F.col("g_yr") == 0, "year_total")
        .otherwise("grand_total")
    )
    return g.select(
        level.alias("level"),
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("pri"),
        F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias("yr"),
        "n_orders",
        "revenue",
    ).orderBy("level", "pri", "yr")


# ---------------------------------------------------------------------------
# k22 — distance-metric agreement: cosine vs euclidean top-k overlap

_K22_ANCHORS = 8
_K22_K = 10


@query(
    "qk22_metric_agreement",
    oracle=f"""
WITH anchors AS (
  SELECT vec_id, embedding FROM embeddings
  ORDER BY {_sql_md5fold('CAST(vec_id AS VARCHAR)')} ASC, vec_id ASC
  LIMIT {_K22_ANCHORS}
), scored AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS nbr,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim,
         round(list_distance(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS euc
  FROM anchors a JOIN embeddings b ON b.vec_id <> a.vec_id
), ranked AS (
  SELECT anchor_id, nbr,
         ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, nbr ASC) AS r_cos,
         ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY euc ASC, nbr ASC) AS r_euc
  FROM scored
)
SELECT anchor_id,
       CAST(SUM(CASE WHEN r_cos <= {_K22_K} AND r_euc <= {_K22_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       {sql_pround(f'''CAST(SUM(CASE WHEN r_cos <= {_K22_K} AND r_euc <= {_K22_K} THEN 1 ELSE 0 END) AS DOUBLE)
         / (2 * {_K22_K} - SUM(CASE WHEN r_cos <= {_K22_K} AND r_euc <= {_K22_K} THEN 1 ELSE 0 END))''', 6)} AS jaccard_topk
FROM ranked GROUP BY anchor_id
ORDER BY anchor_id
""",
    tags=("vector", "audit"),
)
def qk22_metric_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-metric agreement audit: for {_K22_ANCHORS} hash-rank
    anchor vectors (FIXED budget — the h12 rule — never a fraction of
    the corpus), compare the top-{_K22_K} neighbor sets under cosine
    similarity vs euclidean distance and report their Jaccard overlap.
    On L2-normalized embeddings the two rankings are identical; raw
    embeddings can disagree badly, and this one-number-per-anchor audit
    is how to decide whether an ANN index built on one metric (q61/q68)
    can serve queries phrased in the other.

    Scale: anchors are a broadcast constant set; scoring is one
    {_K22_ANCHORS} x N fan-out with JVM zip_with/aggregate math (no
    Python); both rankings come from windows partitioned by anchor.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = (
        emb.orderBy(_md5fold(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(_K22_ANCHORS)
        .select(F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("a_emb"))
    )
    j = F.broadcast(anchors).join(emb, F.col("vec_id") != F.col("anchor_id"))
    ax = F.col("a_emb").cast("array<double>")
    bx = F.col("embedding").cast("array<double>")
    dot = F.aggregate(F.zip_with(ax, bx, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.zip_with(ax, ax, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v))
    nb = F.sqrt(F.aggregate(F.zip_with(bx, bx, lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v))
    euc = F.sqrt(
        F.aggregate(F.zip_with(ax, bx, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, v: a + v)
    )
    scored = j.select(
        "anchor_id",
        F.col("vec_id").alias("nbr"),
        F.round(dot / (na * nb), 6).alias("cos_sim"),
        F.round(euc, 6).alias("euc"),
    )
    wc = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), F.asc("nbr"))
    we = Window.partitionBy("anchor_id").orderBy(F.asc("euc"), F.asc("nbr"))
    ranked = scored.withColumn("r_cos", F.row_number().over(wc)).withColumn(
        "r_euc", F.row_number().over(we)
    )
    common = F.sum(
        F.when((F.col("r_cos") <= _K22_K) & (F.col("r_euc") <= _K22_K), 1).otherwise(0)
    ).cast("bigint")
    return (
        ranked.groupBy("anchor_id")
        .agg(
            common.alias("n_common"),
            pround(
                common.cast("double") / (2 * _K22_K - common), 6
            ).alias("jaccard_topk"),
        )
        .orderBy("anchor_id")
    )


# ---------------------------------------------------------------------------
# k23 — XML source round trip (built-in XML support, Spark 4)


@query(
    "qk23_xml_roundtrip",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
GROUP BY lang
ORDER BY lang
""",
    tags=("source",),
)
def qk23_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round trip — Spark 4's built-in XML data source (the
    former spark-xml package, now first-party): documents metadata is
    written as <row> elements under a root tag, read BACK through the
    XML reader with an explicit rowTag, and the per-language rollup of
    the round-tripped data is oracle-gated against the original table —
    proving schema, typing (bigint survives the text encoding), and
    row fidelity. Completes the source matrix: parquet, ORC, CSV, JSON
    lines (custom DataSource), text, binaryFile, and now XML.

    Scale: XML is a line-hostile format (no splittable row boundaries
    in general); the write fans out across partitions into separate
    files, which is exactly how a real export keeps parallelism.
    Cleanup in finally; eager materialization before the temp dir dies.
    """
    import shutil

    base = scratch_dir("qk23_xml")
    try:
        d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        d.write.format("xml").option("rootTag", "docs").option("rowTag", "doc").mode(
            "overwrite"
        ).save(base + "/x")
        back = spark.read.format("xml").option("rowTag", "doc").load(base + "/x")
        return (
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("chars_total"),
                F.sum("doc_id").cast("bigint").alias("id_checksum"),
            )
            .orderBy("lang")
            .transform(cut_lineage)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# k24 — malformed-CSV handling: PERMISSIVE + corrupt-record column

_K24_BAD_MOD = 13  # every 13th row is written malformed


@query(
    "qk24_csv_malformed_audit",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % {_K24_BAD_MOD} = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % {_K24_BAD_MOD} <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(SUM(CASE WHEN doc_id % {_K24_BAD_MOD} <> 3 THEN n_chars END) AS BIGINT) AS clean_chars
FROM documents
""",
    tags=("source", "audit"),
)
def qk24_csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row handling on the CSV path: a CSV export is
    deliberately corrupted (every {_K24_BAD_MOD}th row gets a
    non-numeric n_chars — the classic upstream-typo), then read back in
    PERMISSIVE mode with a `_corrupt_record` rescue column and an
    explicit schema; the audit row counts clean vs corrupt records and
    checksums the clean payload. This is the ingest-robustness contract
    qc01's clean CSV read does not exercise: a 100 TB ingest MUST
    quarantine bad rows (count them, keep the raw line) instead of
    failing the job (FAILFAST) or silently dropping data
    (DROPMALFORMED).

    Scale: one extra string column on the scan; the corrupt check is
    per-row and map-side combined. Cleanup in finally.
    """
    import shutil

    base = scratch_dir("qk24_csv")
    try:
        d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        csv_line = F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.col("lang"),
            F.when(F.col("doc_id") % _K24_BAD_MOD == 3, F.lit("not_a_number")).otherwise(
                F.col("n_chars").cast("string")
            ),
        )
        d.select(csv_line.alias("value")).write.mode("overwrite").text(base + "/c")
        back = (
            spark.read.schema("doc_id LONG, lang STRING, n_chars LONG, _corrupt_record STRING")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(base + "/c")
        )
        # cache: Spark requires materializing before filtering on the
        # rescue column (it is populated during parsing, not planning)
        back = back.cache()
        out = back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("_corrupt_record").isNotNull().cast("int")).cast("bigint").alias(
                "n_corrupt"
            ),
            F.sum(F.col("_corrupt_record").isNull().cast("int")).cast("bigint").alias("n_clean"),
            F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_chars"))).cast("bigint").alias(
                "clean_chars"
            ),
        ).transform(cut_lineage)
        back.unpersist()
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# k25 — parquet compression-codec round trip (zstd)


@query(
    "qk25_parquet_codec_roundtrip",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM({_sql_md5fold("CAST(o_orderkey AS VARCHAR) || '|' || o_orderpriority")} % 1000000) AS BIGINT) AS content_checksum,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders
""",
    tags=("source",),
)
def qk25_parquet_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec round trip: orders written with
    compression=zstd (the modern default for cold analytical data:
    ~30% smaller than snappy at similar decode cost) and read back;
    the oracle gates an order-insensitive content checksum plus the
    exact revenue sum, proving the codec path is lossless end-to-end.
    Codec choice is a pure storage-layer knob — this op pins that the
    QUERY layer cannot tell the difference, which is what licenses a
    fleet-wide recompression job on a 100 TB lake.

    Scale: write cost is the same single pass as any sink; zstd
    trades ~10-20% write CPU for 25-35% size — at 100 TB that is
    double-digit terabytes of storage and scan I/O saved.
    """
    import shutil

    base = scratch_dir("qk25_zstd")
    try:
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        o.write.mode("overwrite").option("compression", "zstd").parquet(base + "/z")
        back = spark.read.parquet(base + "/z")
        return back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                _md5fold(
                    F.concat_ws("|", F.col("o_orderkey").cast("string"), F.col("o_orderpriority"))
                )
                % 1_000_000
            )
            .cast("bigint")
            .alias("content_checksum"),
            dsum("o_totalprice").alias("revenue"),
        ).transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# k26 — first-wins dedup provenance bias


@query(
    "qk26_dedup_provenance_bias",
    oracle="""
WITH fp AS (
  SELECT doc_id, source, md5(lower(text)) AS f FROM documents
), keep AS (
  SELECT f, MIN(doc_id) AS keeper FROM fp GROUP BY f
), labeled AS (
  SELECT fp.source, CASE WHEN fp.doc_id = k.keeper THEN 0 ELSE 1 END AS removed
  FROM fp JOIN keep k ON fp.f = k.f
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(removed) AS BIGINT) AS n_removed,
       {RR} AS removal_rate
FROM labeled GROUP BY source
ORDER BY source
""".replace("{RR}", sql_pround("CAST(SUM(removed) AS DOUBLE) / COUNT(*)", 6)),
    tags=("dedup", "curation"),
)
def qk26_dedup_provenance_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance bias of FIRST-WINS dedup: normalize (lowercase) and
    fingerprint every document, keep the lowest doc_id per fingerprint,
    and report each SOURCE's removal rate — when ingestion order
    correlates with source, first-wins systematically deletes the
    later-ingested sources' copies, silently shifting the corpus mix
    (the bias q65's keep-BEST rule exists to avoid; this measures what
    the naive rule would have done). A removal-rate spread across
    sources is the actionable signal to switch the keep rule or
    re-weight the mixture (qc04) afterwards.

    Scale: md5 fingerprint groupBy (the q56 shape) + one join back on
    the fingerprint; per-source rollup is map-side combined.
    """
    d = table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "source", F.md5(F.lower("text")).alias("f"))
    keep = fp.groupBy("f").agg(F.min("doc_id").alias("keeper"))
    labeled = fp.join(keep, "f").select(
        "source", (F.col("doc_id") != F.col("keeper")).cast("int").alias("removed")
    )
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("removed").cast("bigint").alias("n_removed"),
            pround(F.sum("removed").cast("double") / F.count(F.lit(1)), 6).alias("removal_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# k27 — rate limiting: first event per user-hour, suppression audit


@query(
    "qk27_rate_limit_audit",
    oracle=f"""
WITH ranked AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(date_trunc('hour', ts))
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppressed,
       {sql_pround('CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 6)} AS suppression_rate
FROM ranked GROUP BY event_type
ORDER BY event_type
""",
    tags=("events", "audit"),
)
def qk27_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limit preflight: if delivery were throttled to ONE event
    per user per hour (first wins, deterministic ts + event_id order),
    how much traffic would each event type lose? The keep-first row is
    the standard notification/webhook throttle; the per-type
    suppression rate tells which signals the throttle would starve
    (bursty types lose most — pairs with j28's burstiness index, which
    predicts exactly this). q34's dedup keeps the LATEST per key; the
    throttle keeps the EARLIEST per key-window — both one window.

    Scale: a single row_number window partitioned by (user, hour) —
    high-cardinality partitioning, fully parallel — and one rollup.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.date_trunc("hour", "ts")).orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    ranked = e.select("event_type", F.row_number().over(w).alias("rn"))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum((F.col("rn") > 1).cast("int")).cast("bigint").alias("n_suppressed"),
            pround(
                F.sum((F.col("rn") > 1).cast("int")).cast("double") / F.count(F.lit(1)), 6
            ).alias("suppression_rate"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# k28 — cold-start activity curve by user age


@query(
    "qk28_cold_start_curve",
    oracle=f"""
WITH aged AS (
  SELECT user_id,
         {_SQL_DAY_IDX} - MIN({_SQL_DAY_IDX}) OVER (PARTITION BY user_id) AS age_day
  FROM events
)
SELECT CAST(age_day AS BIGINT) AS age_day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_pround('CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT user_id)', 6)} AS events_per_active
FROM aged GROUP BY age_day
ORDER BY age_day
""",
    tags=("events", "curation"),
)
def qk28_cold_start_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start activity curve: events re-indexed by each user's AGE
    (days since that user's first event) instead of calendar time —
    active-user count and events-per-active-user at age 0, 1, 2, ... is
    the onboarding decay curve product teams tune against, and the
    calendar-free form that makes cohorts of different signup dates
    comparable (qg13's retention matrix is the 2-D calendar x cohort
    view; this is its age-marginal). Age comes from one min-window
    partitioned by user, so no self-join on first-event dates.

    Scale: one partitioned analytic window over events + one grouped
    pass on the bounded age lattice; distinct-user counting is per
    age-day, map-side combined.
    """
    e = table(spark, sf_dir, "events")
    di = _day_idx()
    w = Window.partitionBy("user_id")
    aged = e.select("user_id", (di - F.min(di).over(w)).alias("age_day"))
    return (
        aged.groupBy(F.col("age_day").cast("bigint").alias("age_day"))
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("n_active_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            pround(F.count(F.lit(1)).cast("double") / F.count_distinct("user_id"), 6).alias(
                "events_per_active"
            ),
        )
        .orderBy("age_day")
    )


# ---------------------------------------------------------------------------
# k29 — axis-LSH bucket balance audit

_K29_BITS = 8


@query(
    "qk29_lsh_bucket_balance",
    oracle=f"""
WITH sig AS (
  SELECT CAST({' + '.join(f"(CASE WHEN embedding[{i + 1}] >= 0 THEN 1 ELSE 0 END) * {1 << i}" for i in range(_K29_BITS))} AS BIGINT) AS bucket
  FROM embeddings
), hist AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM sig GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(MAX(c) AS BIGINT) AS max_c
  FROM hist
), ent AS (
  SELECT CAST(SUM(CAST({sql_pround('-(CAST(c AS DOUBLE) / t.n) * ln(CAST(c AS DOUBLE) / t.n)', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS h
  FROM hist CROSS JOIN tot t
)
SELECT t.n_buckets AS n_occupied_buckets,
       CAST({1 << _K29_BITS} AS BIGINT) AS n_possible_buckets,
       {sql_pround('ent.h / ln(2.0)', 6)} AS entropy_bits,
       {sql_pround(f'CAST(t.max_c AS DOUBLE) / (CAST(t.n AS DOUBLE) / {1 << _K29_BITS})', 6)} AS max_over_uniform
FROM ent CROSS JOIN tot t
""",
    tags=("vector", "audit"),
)
def qk29_lsh_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-balance audit for an {_K29_BITS}-bit sign LSH (bit i =
    sign of embedding coordinate i — the deterministic axis-aligned
    family, so the oracle can replay it exactly, unlike q61's seeded
    random hyperplanes): occupancy entropy in bits vs the {_K29_BITS}-
    bit uniform ideal and the largest bucket's load factor. Skewed
    buckets are the failure mode that turns an LSH candidate join
    (q61/qg04) quadratic in one straggler task — this audit prices the
    hash family on the actual corpus BEFORE building the index, and
    doubles as a symmetry check on the embedding distribution itself.

    Scale: the signature is a branch-free per-row expression; one
    groupBy to at most 2^{_K29_BITS} buckets; entropy terms
    pround-quantized and DECIMAL-summed over that bounded histogram.
    """
    emb = table(spark, sf_dir, "embeddings")
    bucket = None
    for i in range(_K29_BITS):
        bit = (F.element_at("embedding", i + 1) >= 0).cast("bigint") * (1 << i)
        bucket = bit if bucket is None else bucket + bit
    hist = emb.select(bucket.cast("bigint").alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = hist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("c").cast("bigint").alias("max_c"),
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = hist.crossJoin(F.broadcast(tot)).agg(
        F.sum(pround(-p * F.log(p), 9).cast("decimal(25,12)")).cast("double").alias("h")
    )
    j = ent.crossJoin(F.broadcast(tot))
    return j.select(
        F.col("n_buckets").alias("n_occupied_buckets"),
        F.lit(1 << _K29_BITS).cast("bigint").alias("n_possible_buckets"),
        pround(F.col("h") / F.log(F.lit(2.0)), 6).alias("entropy_bits"),
        pround(
            F.col("max_c").cast("double") / (F.col("n").cast("double") / (1 << _K29_BITS)), 6
        ).alias("max_over_uniform"),
    )


# ---------------------------------------------------------------------------
# k30 — Pareto concentration: the 80% point of user activity


@query(
    "qk30_pareto_point",
    oracle=f"""
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
), hist AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS users FROM per_user GROUP BY c
), cum AS (
  SELECT c, users,
         SUM(c * users) OVER (ORDER BY c DESC) AS ev_cum,
         SUM(users) OVER (ORDER BY c DESC) AS us_cum,
         (SELECT SUM(c * users) FROM hist) AS ev_tot,
         (SELECT SUM(users) FROM hist) AS us_tot
  FROM hist
)
SELECT CAST(MAX(us_tot) AS BIGINT) AS n_users,
       CAST(MAX(ev_tot) AS BIGINT) AS n_events,
       {sql_pround('''CAST(MIN(CASE WHEN CAST(ev_cum AS DOUBLE) / ev_tot >= 0.8 THEN us_cum END) AS DOUBLE)
         / MAX(us_tot)''', 6)} AS users_frac_for_80pct,
       {sql_pround('''CAST(MAX(CASE WHEN us_cum <= CAST(ceil(us_tot / 10.0) AS BIGINT) THEN ev_cum END) AS DOUBLE)
         / MAX(ev_tot)''', 6)} AS top_decile_event_share
FROM cum
""",
    tags=("events", "statistics"),
)
def qk30_pareto_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of user activity: the minimum fraction of
    (heaviest) users that accounts for 80% of all events, and the event
    share of the top decile — the two numbers behind "80/20" capacity
    and abuse analyses, computed entirely on the COUNT-OF-COUNTS
    histogram: users collapse to (events-per-user, user-count) pairs,
    so the descending cumulative runs over a bounded lattice, never a
    per-user ranking (qd09's Gini integrates the same curve; this reads
    the two operational points off it).

    Scale: per-user count (map-side combined), count-of-counts
    collapse, one bounded-lattice cumulative window, 1-row output.
    """
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    hist = per_user.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("users"))
    tot = hist.agg(
        F.sum(F.col("c") * F.col("users")).alias("ev_tot"), F.sum("users").alias("us_tot")
    )
    w = Window.orderBy(F.desc("c"))  # bounded: count-of-counts lattice
    cum = (
        hist.withColumn("ev_cum", F.sum(F.col("c") * F.col("users")).over(w))
        .withColumn("us_cum", F.sum("users").over(w))
        .crossJoin(F.broadcast(tot))
    )
    frac80 = F.min(
        F.when(F.col("ev_cum").cast("double") / F.col("ev_tot") >= 0.8, F.col("us_cum"))
    ).cast("double") / F.max("us_tot")
    decile = F.max(
        F.when(
            F.col("us_cum") <= F.ceil(F.col("us_tot") / 10.0).cast("bigint"), F.col("ev_cum")
        )
    ).cast("double") / F.max("ev_tot")
    return cum.agg(
        F.max("us_tot").cast("bigint").alias("n_users"),
        F.max("ev_tot").cast("bigint").alias("n_events"),
        pround(frac80, 6).alias("users_frac_for_80pct"),
        pround(decile, 6).alias("top_decile_event_share"),
    )


# ---------------------------------------------------------------------------
# k31 — energy distance between two length distributions


@query(
    "qk31_energy_distance",
    oracle=f"""
WITH la AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents WHERE lang = 'en' GROUP BY n_chars
), lb AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents WHERE lang = 'de' GROUP BY n_chars
), na AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM la),
nb AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM lb),
axy AS (
  SELECT CAST(SUM(CAST(abs(a.v - b.v) * a.c * b.c AS DECIMAL(38,0))) AS DOUBLE) AS s
  FROM la a CROSS JOIN lb b
), axx AS (
  SELECT CAST(SUM(CAST(abs(a.v - b.v) * a.c * b.c AS DECIMAL(38,0))) AS DOUBLE) AS s
  FROM la a CROSS JOIN la b
), ayy AS (
  SELECT CAST(SUM(CAST(abs(a.v - b.v) * a.c * b.c AS DECIMAL(38,0))) AS DOUBLE) AS s
  FROM lb a CROSS JOIN lb b
)
SELECT na.n AS n1, nb.n AS n2,
       {sql_pround('''2.0 * axy.s / (CAST(na.n AS DOUBLE) * nb.n)
         - axx.s / (CAST(na.n AS DOUBLE) * na.n)
         - ayy.s / (CAST(nb.n AS DOUBLE) * nb.n)''', 6)} AS energy_dist_sq,
       {sql_pround('''(CAST(na.n AS DOUBLE) * nb.n / (na.n + nb.n)) *
         (2.0 * axy.s / (CAST(na.n AS DOUBLE) * nb.n)
          - axx.s / (CAST(na.n AS DOUBLE) * na.n)
          - ayy.s / (CAST(nb.n AS DOUBLE) * nb.n))''', 6)} AS energy_stat
FROM na, nb, axy, axx, ayy
""",
    tags=("statistics", "text"),
)
def qk31_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szekely's energy distance between the en and de document-length
    distributions: D^2 = 2 E|X-Y| - E|X-X'| - E|Y-Y'| plus the
    nm/(n+m)-scaled test statistic — the modern two-sample test that is
    consistent against ALL alternatives (KS/h05 is location-dominated,
    j48 tests means only), computed exactly: the three pairwise
    expectation sums run over the bounded length-DICTIONARY cross
    products (|lattice|^2 cells, never row pairs), every |x-y|*c1*c2
    term an exact integer.

    Scale: two grouped lattice collapses, three broadcast lattice-pair
    joins of a few hundred rows each; row count only changes the cnt
    weights.
    """
    d = table(spark, sf_dir, "documents")
    # bounded per-language length lattices; each feeds three of the
    # pairwise-sum arms + a total: materialize once (scan-lint)
    la = d.filter(F.col("lang") == "en").groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).transform(cut_lineage)
    lb = d.filter(F.col("lang") == "de").groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).transform(cut_lineage)

    def pair_sum(x: DataFrame, y: DataFrame) -> DataFrame:
        a, b = x.alias("a"), y.alias("b")
        return a.crossJoin(F.broadcast(b)).agg(
            F.sum(
                (F.abs(F.col("a.v") - F.col("b.v")) * F.col("a.c") * F.col("b.c")).cast(
                    "decimal(38,0)"
                )
            )
            .cast("double")
            .alias("s")
        )

    na = la.agg(F.sum("c").cast("bigint").alias("n1"))
    nb = lb.agg(F.sum("c").cast("bigint").alias("n2"))
    j = (
        pair_sum(la, lb).withColumnRenamed("s", "sxy")
        .crossJoin(F.broadcast(pair_sum(la, la).withColumnRenamed("s", "sxx")))
        .crossJoin(F.broadcast(pair_sum(lb, lb).withColumnRenamed("s", "syy")))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    d2 = (
        2.0 * F.col("sxy") / (n1d * F.col("n2"))
        - F.col("sxx") / (n1d * F.col("n1"))
        - F.col("syy") / (n2d * F.col("n2"))
    )
    return j.select(
        "n1",
        "n2",
        pround(d2, 6).alias("energy_dist_sq"),
        pround((n1d * F.col("n2") / (F.col("n1") + F.col("n2"))) * d2, 6).alias("energy_stat"),
    )


# ---------------------------------------------------------------------------
# k32 — exact 1-D Wasserstein distance between length distributions


@query(
    "qk32_wasserstein_distance",
    oracle="""
WITH la AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents WHERE lang = 'en' GROUP BY n_chars
), lb AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents WHERE lang = 'de' GROUP BY n_chars
), merged AS (
  SELECT COALESCE(a.v, b.v) AS v, COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
  FROM la a FULL OUTER JOIN lb b ON a.v = b.v
), cum AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v ASC) AS cuma,
         SUM(cb) OVER (ORDER BY v ASC) AS cumb,
         LEAD(v) OVER (ORDER BY v ASC) AS v_next,
         (SELECT SUM(ca) FROM merged) AS n1,
         (SELECT SUM(cb) FROM merged) AS n2
  FROM merged
)
SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
       {W} AS wasserstein_1
FROM cum WHERE v_next IS NOT NULL
""".replace(
        "{W}",
        sql_pround(
            "CAST(SUM(CAST(abs(cuma * n2 - cumb * n1) * (v_next - v) AS DECIMAL(38,0))) AS DOUBLE)"
            " / (CAST(MAX(n1) AS DOUBLE) * MAX(n2))",
            6,
        ),
    ),
    tags=("statistics", "text"),
)
def qk32_wasserstein_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 1-D Wasserstein-1 (earth mover's) distance between the en
    and de length distributions: W1 = integral |F1 - F2| dv over the
    merged value lattice, with the CDF difference carried as the exact
    integer cross-product |cuma*n2 - cumb*n1| so the only float op is
    the final division — the distribution-shift magnitude IN THE UNITS
    OF THE VARIABLE (characters), which KS (h05: max gap, unitless) and
    PSI (qf01: binned, unit-free) cannot give. The number a curation
    team quotes as "de docs are ~N characters shorter in distribution".

    Scale: lattice collapse, one full-outer merge of two bounded
    dictionaries, one cumulative window over that aggregate.
    """
    d = table(spark, sf_dir, "documents")
    la = d.filter(F.col("lang") == "en").groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ca")
    )
    lb = d.filter(F.col("lang") == "de").groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    a, b = la.alias("a"), lb.alias("b")
    merged = a.join(b, F.col("a.v") == F.col("b.v"), "full_outer").select(
        F.coalesce(F.col("a.v"), F.col("b.v")).alias("v"),
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    tot = merged.agg(F.sum("ca").alias("n1"), F.sum("cb").alias("n2"))
    w = Window.orderBy(F.asc("v"))  # bounded: merged value lattice
    cum = (
        merged.withColumn("cuma", F.sum("ca").over(w))
        .withColumn("cumb", F.sum("cb").over(w))
        .withColumn("v_next", F.lead("v").over(w))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("v_next").isNotNull())
    )
    num = F.sum(
        (
            F.abs(F.col("cuma") * F.col("n2") - F.col("cumb") * F.col("n1"))
            * (F.col("v_next") - F.col("v"))
        ).cast("decimal(38,0)")
    ).cast("double")
    return cum.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        pround(num / (F.max("n1").cast("double") * F.max("n2")), 6).alias("wasserstein_1"),
    )


# ---------------------------------------------------------------------------
# k33 — two-sample Cramér-von Mises criterion


@query(
    "qk33_cramer_von_mises",
    oracle="""
WITH la AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents WHERE lang = 'en' GROUP BY n_chars
), lb AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents WHERE lang = 'de' GROUP BY n_chars
), merged AS (
  SELECT COALESCE(a.v, b.v) AS v, COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
  FROM la a FULL OUTER JOIN lb b ON a.v = b.v
), cum AS (
  SELECT v, ca + cb AS t,
         SUM(ca) OVER (ORDER BY v ASC) AS cuma,
         SUM(cb) OVER (ORDER BY v ASC) AS cumb,
         (SELECT SUM(ca) FROM merged) AS n1,
         (SELECT SUM(cb) FROM merged) AS n2
  FROM merged
)
SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
       {T} AS cvm_stat
FROM cum
""".replace(
        "{T}",
        sql_pround(
            "CAST(SUM(CAST(CAST(cuma * n2 - cumb * n1 AS DECIMAL(38,0)) * CAST(cuma * n2 - cumb * n1 AS DECIMAL(38,0)) * t AS DECIMAL(38,0))) AS DOUBLE)"
            " / (CAST(MAX(n1) AS DOUBLE) * MAX(n1) * MAX(n2) * MAX(n2) * (MAX(n1) + MAX(n2)))"
            " * (CAST(MAX(n1) AS DOUBLE) * MAX(n2) / (MAX(n1) + MAX(n2)))",
            6,
        ),
    ),
    tags=("statistics", "text"),
)
def qk33_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises criterion between en and de length
    distributions: T = nm/(n+m)^2 * SUM over pooled points of
    t_v (F1 - F2)^2 — the INTEGRATED squared CDF gap, sensitive to
    differences anywhere in the distribution where KS sees only the
    single largest gap (h05) and W1 (k32) weights by distance. The CDF
    differences are exact integer cross-products squared in DECIMAL, so
    both engines sum identical integers; two float ops at the end.

    Scale: identical bounded-lattice shape to k32 (merge + one
    cumulative window over the dictionary).
    """
    d = table(spark, sf_dir, "documents")
    la = d.filter(F.col("lang") == "en").groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("ca")
    )
    lb = d.filter(F.col("lang") == "de").groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cb")
    )
    a, b = la.alias("a"), lb.alias("b")
    merged = a.join(b, F.col("a.v") == F.col("b.v"), "full_outer").select(
        F.coalesce(F.col("a.v"), F.col("b.v")).alias("v"),
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    tot = merged.agg(F.sum("ca").alias("n1"), F.sum("cb").alias("n2"))
    w = Window.orderBy(F.asc("v"))  # bounded: merged value lattice
    cum = (
        merged.withColumn("cuma", F.sum("ca").over(w))
        .withColumn("cumb", F.sum("cb").over(w))
        .withColumn("t", F.col("ca") + F.col("cb"))
        .crossJoin(F.broadcast(tot))
    )
    diff = (F.col("cuma") * F.col("n2") - F.col("cumb") * F.col("n1")).cast("decimal(38,0)")
    ssum = F.sum((diff * diff * F.col("t")).cast("decimal(38,0)")).cast("double")
    n1d = F.max("n1").cast("double")
    n2d = F.max("n2").cast("double")
    t_stat = (
        ssum
        / (n1d * F.max("n1") * F.max("n2") * F.max("n2") * (F.max("n1") + F.max("n2")))
        * (n1d * F.max("n2") / (F.max("n1") + F.max("n2")))
    )
    return cum.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        pround(t_stat, 6).alias("cvm_stat"),
    )


# ---------------------------------------------------------------------------
# k34 — shift-share decomposition of year-over-year revenue-per-order

_K34_Y1, _K34_Y2 = 1997, 1998


@query(
    "qk34_shift_share",
    oracle=f"""
WITH cells AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS rev
  FROM orders WHERE year(o_orderdate) IN ({_K34_Y1}, {_K34_Y2})
  GROUP BY 1, 2
), tot AS (
  SELECT yr, CAST(SUM(n) AS BIGINT) AS n_tot FROM cells GROUP BY yr
), wide AS (
  SELECT c1.grp,
         CAST(c1.n AS DOUBLE) / t1.n_tot AS share1,
         CAST(c2.n AS DOUBLE) / t2.n_tot AS share2,
         c1.rev / c1.n AS rate1,
         c2.rev / c2.n AS rate2
  FROM cells c1 JOIN cells c2 ON c1.grp = c2.grp AND c1.yr = {_K34_Y1} AND c2.yr = {_K34_Y2}
  CROSS JOIN (SELECT n_tot FROM tot WHERE yr = {_K34_Y1}) t1
  CROSS JOIN (SELECT n_tot FROM tot WHERE yr = {_K34_Y2}) t2
)
SELECT
  {sql_pround('SUM(share1 * rate1)', 4)} AS mean_y1,
  {sql_pround('SUM(share2 * rate2)', 4)} AS mean_y2,
  {sql_pround('SUM(share1 * (rate2 - rate1))', 4)} AS within_effect,
  {sql_pround('SUM((share2 - share1) * rate1)', 4)} AS mix_effect,
  {sql_pround('SUM((share2 - share1) * (rate2 - rate1))', 4)} AS interaction_effect,
  {sql_pround('''SUM(share2 * rate2) - SUM(share1 * rate1)
    - (SUM(share1 * (rate2 - rate1)) + SUM((share2 - share1) * rate1)
       + SUM((share2 - share1) * (rate2 - rate1)))''', 4)} AS identity_gap
FROM wide
""",
    tags=("statistics", "relational"),
)
def qk34_shift_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of the {_K34_Y1}->{_K34_Y2} change in
    mean order value: DELTA = within-group rate growth (at old mix) +
    mix shift (at old rates) + interaction — the standard BI answer to
    "did revenue-per-order rise because orders got pricier, or because
    the mix moved toward pricier priorities?", with identity_gap
    pinning the decomposition exactly to the observed delta (gated at
    0). The 5-group sums are plain float ops over per-group exact
    aggregates — identical expressions on both engines, and small
    enough (k=5) that ordering is fixed by the GROUP BY collapse.

    Scale: one filtered grouped pass (year predicate pushed to scan),
    then arithmetic on the bounded (year x priority) grid.
    """
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate").isin(_K34_Y1, _K34_Y2))
    cells = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"), F.col("o_orderpriority").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double").alias("rev"),
    )
    tot = cells.groupBy("yr").agg(F.sum("n").cast("bigint").alias("n_tot"))
    c1 = cells.filter(F.col("yr") == _K34_Y1).alias("c1")
    c2 = cells.filter(F.col("yr") == _K34_Y2).alias("c2")
    t1 = tot.filter(F.col("yr") == _K34_Y1).select(F.col("n_tot").alias("t1"))
    t2 = tot.filter(F.col("yr") == _K34_Y2).select(F.col("n_tot").alias("t2"))
    wide = (
        c1.join(c2, F.col("c1.grp") == F.col("c2.grp"))
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            (F.col("c1.n").cast("double") / F.col("t1")).alias("share1"),
            (F.col("c2.n").cast("double") / F.col("t2")).alias("share2"),
            (F.col("c1.rev") / F.col("c1.n")).alias("rate1"),
            (F.col("c2.rev") / F.col("c2.n")).alias("rate2"),
        )
    )
    within = F.sum(F.col("share1") * (F.col("rate2") - F.col("rate1")))
    mix = F.sum((F.col("share2") - F.col("share1")) * F.col("rate1"))
    inter = F.sum((F.col("share2") - F.col("share1")) * (F.col("rate2") - F.col("rate1")))
    m1 = F.sum(F.col("share1") * F.col("rate1"))
    m2 = F.sum(F.col("share2") * F.col("rate2"))
    return wide.agg(
        pround(m1, 4).alias("mean_y1"),
        pround(m2, 4).alias("mean_y2"),
        pround(within, 4).alias("within_effect"),
        pround(mix, 4).alias("mix_effect"),
        pround(inter, 4).alias("interaction_effect"),
        pround(m2 - m1 - (within + mix + inter), 4).alias("identity_gap"),
    )


# ---------------------------------------------------------------------------
# k35 — Laspeyres / Paasche / Fisher price indices

_K35_BASE, _K35_CUR = 1996, 1998


@query(
    "qk35_price_indices",
    oracle=f"""
WITH py AS (
  SELECT l_partkey AS pk, CAST(year(l_shipdate) AS BIGINT) AS yr,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS p,
         CAST(SUM(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS q
  FROM lineitem WHERE year(l_shipdate) IN ({_K35_BASE}, {_K35_CUR})
  GROUP BY 1, 2
), wide AS (
  SELECT b.pk, b.p AS p0, b.q AS q0, c.p AS p1, c.q AS q1
  FROM py b JOIN py c ON b.pk = c.pk AND b.yr = {_K35_BASE} AND c.yr = {_K35_CUR}
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(CAST({sql_pround('p1 * q0', 4)} AS DECIMAL(25,6))) AS DOUBLE) AS l_num,
         CAST(SUM(CAST({sql_pround('p0 * q0', 4)} AS DECIMAL(25,6))) AS DOUBLE) AS l_den,
         CAST(SUM(CAST({sql_pround('p1 * q1', 4)} AS DECIMAL(25,6))) AS DOUBLE) AS p_num,
         CAST(SUM(CAST({sql_pround('p0 * q1', 4)} AS DECIMAL(25,6))) AS DOUBLE) AS p_den
  FROM wide
)
SELECT n_parts,
       {sql_pround('l_num / l_den', 6)} AS laspeyres,
       {sql_pround('p_num / p_den', 6)} AS paasche,
       {sql_pround('sqrt((l_num / l_den) * (p_num / p_den))', 6)} AS fisher
FROM sums
""",
    tags=("statistics", "relational"),
)
def qk35_price_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche and Fisher price indices for {_K35_CUR} with
    base year {_K35_BASE}, over parts traded in BOTH years (unit price
    = revenue/quantity per part-year, quantity = the index weights):
    Laspeyres holds the old basket, Paasche the new, Fisher is their
    geometric mean — the canonical inflation/deflator construction,
    and the economics-grade counterpart of qe19's raw growth rates.
    Basket terms are pround-quantized then DECIMAL-summed, so the four
    sums are order-free; Fisher uses sqrt (never pow).

    Scale: one filtered grouped pass per (part, year), a self-join on
    partkey to pair the years, one aggregation.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(_K35_BASE, _K35_CUR)
    )
    py = li.groupBy(
        F.col("l_partkey").alias("pk"), F.year("l_shipdate").cast("bigint").alias("yr")
    ).agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(25,2)")).cast("double")
            / F.sum(F.col("l_quantity").cast("decimal(25,2)")).cast("double")
        ).alias("p"),
        F.sum(F.col("l_quantity").cast("decimal(25,2)")).cast("double").alias("q"),
    )
    b = py.filter(F.col("yr") == _K35_BASE).select("pk", F.col("p").alias("p0"), F.col("q").alias("q0"))
    c = py.filter(F.col("yr") == _K35_CUR).select("pk", F.col("p").alias("p1"), F.col("q").alias("q1"))
    wide = b.join(c, "pk")
    sums = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(pround(F.col("p1") * F.col("q0"), 4).cast("decimal(25,6)")).cast("double").alias("l_num"),
        F.sum(pround(F.col("p0") * F.col("q0"), 4).cast("decimal(25,6)")).cast("double").alias("l_den"),
        F.sum(pround(F.col("p1") * F.col("q1"), 4).cast("decimal(25,6)")).cast("double").alias("p_num"),
        F.sum(pround(F.col("p0") * F.col("q1"), 4).cast("decimal(25,6)")).cast("double").alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return sums.select(
        "n_parts",
        pround(lasp, 6).alias("laspeyres"),
        pround(paas, 6).alias("paasche"),
        pround(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# k36 — ABC (Pareto class) inventory classification on a revenue lattice

_K36_BUCKET = 1000.0


@query(
    "qk36_abc_classification",
    oracle=f"""
WITH per_part AS (
  SELECT l_partkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2))) AS DECIMAL(25,2)) AS rev
  FROM lineitem GROUP BY l_partkey
), lattice AS (
  SELECT CAST(floor(rev / {_K36_BUCKET}) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS parts,
         CAST(SUM(rev) AS DECIMAL(25,2)) AS rev
  FROM per_part GROUP BY 1
), cum AS (
  SELECT b, parts, rev,
         COALESCE(SUM(CAST(rev AS DECIMAL(38,2))) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rev_before,
         (SELECT CAST(SUM(rev) AS DECIMAL(38,2)) FROM lattice) AS rev_tot
  FROM lattice
), classed AS (
  SELECT CASE WHEN CAST(rev_before AS DOUBLE) / CAST(rev_tot AS DOUBLE) < 0.8 THEN 'A'
              WHEN CAST(rev_before AS DOUBLE) / CAST(rev_tot AS DOUBLE) < 0.95 THEN 'B'
              ELSE 'C' END AS abc_class,
         parts, rev
  FROM cum
)
SELECT abc_class,
       CAST(SUM(parts) AS BIGINT) AS n_parts,
       {sql_pround('CAST(SUM(CAST(rev AS DECIMAL(38,2))) AS DOUBLE)', 2)} AS revenue,
       {sql_pround('CAST(SUM(CAST(rev AS DECIMAL(38,2))) AS DOUBLE) / CAST(MAX(rev_tot) AS DOUBLE)', 6)} AS revenue_share
FROM (SELECT c.*, (SELECT CAST(SUM(rev) AS DECIMAL(38,2)) FROM lattice) AS rev_tot FROM classed c)
GROUP BY abc_class
ORDER BY abc_class
""",
    tags=("relational", "curation"),
)
def qk36_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: class A =
    revenue buckets whose cumulative (descending) share starts below
    80%, B to 95%, C the tail — the classic Pareto segmentation every
    supply-chain and catalog team runs. Parts collapse first to a
    ${_K36_BUCKET:.0f}-revenue-bucket LATTICE so the descending
    cumulative runs over a bounded aggregate, never a per-part global
    ranking (the k30/j47 discipline); bucket-granular class boundaries
    are deterministic on both engines, revenue stays exact DECIMAL
    until the final share division.

    Scale: per-part rollup (map-side combined), bucket collapse, one
    bounded-lattice window, 3-row output.
    """
    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(25,2)")).cast("decimal(25,2)").alias("rev")
    )
    lattice = per_part.groupBy(
        F.floor(F.col("rev") / _K36_BUCKET).cast("bigint").alias("b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("parts"),
        F.sum("rev").cast("decimal(25,2)").alias("rev"),
    )
    tot = lattice.agg(F.sum(F.col("rev").cast("decimal(38,2)")).cast("decimal(38,2)").alias("rev_tot"))
    w = Window.orderBy(F.desc("b")).rowsBetween(Window.unboundedPreceding, -1)
    cum = lattice.withColumn(
        "rev_before",
        F.coalesce(F.sum(F.col("rev").cast("decimal(38,2)")).over(w), F.lit(0).cast("decimal(38,2)")),
    ).crossJoin(F.broadcast(tot))
    share_before = F.col("rev_before").cast("double") / F.col("rev_tot").cast("double")
    classed = cum.select(
        F.when(share_before < 0.8, "A").when(share_before < 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
        "parts",
        "rev",
        "rev_tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.sum("parts").cast("bigint").alias("n_parts"),
            pround(F.sum(F.col("rev").cast("decimal(38,2)")).cast("double"), 2).alias("revenue"),
            pround(
                F.sum(F.col("rev").cast("decimal(38,2)")).cast("double")
                / F.max("rev_tot").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# k37 — language purity per source


@query(
    "qk37_source_lang_purity",
    oracle=f"""
WITH cells AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY source, lang
), tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY source
), dom AS (
  SELECT source, MAX_BY(lang, lpad(CAST(c AS VARCHAR), 20, '0') || lang) AS dominant_lang, MAX(c) AS dom_c
  FROM cells GROUP BY source
), ent AS (
  SELECT c.source,
         CAST(SUM(CAST({sql_pround('-(CAST(c.c AS DOUBLE) / t.n) * ln(CAST(c.c AS DOUBLE) / t.n)', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS h
  FROM cells c JOIN tot t ON c.source = t.source
  GROUP BY c.source
)
SELECT d.source AS source, t.n AS n_docs, d.dominant_lang AS dominant_lang,
       {sql_pround('CAST(d.dom_c AS DOUBLE) / t.n', 6)} AS purity,
       {sql_pround('ent.h / ln(2.0)', 6)} AS lang_entropy_bits
FROM dom d JOIN tot t ON d.source = t.source JOIN ent ON ent.source = d.source
ORDER BY source
""",
    tags=("text", "curation"),
)
def qk37_source_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language purity per source: the dominant language's share and
    the language entropy in bits — a mixed-language source needs
    per-document language routing before tokenization while a pure one
    can take a source-level fast path, and purity regressions are the
    first symptom of an upstream crawler change (qf17 checks the lang
    LABEL against a heuristic; this profiles the label mix itself).
    Dominant-language ties break lexicographically via max_by on the
    (count, lang) struct — deterministic on both engines.

    Scale: one groupBy to the bounded (source x lang) grid; entropy
    terms pround-quantized and DECIMAL-summed per source.
    """
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cells.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    dom = cells.groupBy("source").agg(
        F.max_by("lang", F.concat(F.lpad(F.col("c").cast("string"), 20, "0"), F.col("lang"))).alias(
            "dominant_lang"
        ),
        F.max("c").alias("dom_c"),
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        cells.join(tot, "source")
        .groupBy("source")
        .agg(F.sum(pround(-p * F.log(p), 9).cast("decimal(25,12)")).cast("double").alias("h"))
    )
    return (
        dom.join(tot, "source")
        .join(ent, "source")
        .select(
            "source",
            F.col("n").alias("n_docs"),
            "dominant_lang",
            pround(F.col("dom_c").cast("double") / F.col("n"), 6).alias("purity"),
            pround(F.col("h") / F.log(F.lit(2.0)), 6).alias("lang_entropy_bits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# k38 — weekday x hour traffic heatmap


@query(
    "qk38_weekday_hour_heatmap",
    oracle=f"""
WITH cells AS (
  SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT dow, hr, n_events,
       {sql_pround('CAST(n_events AS DOUBLE) / (SELECT SUM(n_events) FROM cells)', 6)} AS share
FROM cells
ORDER BY dow, hr
""",
    tags=("events",),
)
def qk38_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekday x hour traffic heatmap — event count and global
    share per (day-of-week, hour) cell, the standard load-profile view
    behind autoscaling schedules and maintenance-window choices (j11
    tests whether weekday seasonality EXISTS; this is the surface to
    read the shape off). At most 7 x 24 = 168 rows regardless of scale.

    Scale: one map-side-combinable groupBy; the share joins a 1-row
    total via a scalar subquery / broadcast.
    """
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.dayofweek("ts").cast("bigint").alias("dow"), F.hour("ts").cast("bigint").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    tot = cells.agg(F.sum("n_events").alias("t"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hr",
            "n_events",
            pround(F.col("n_events").cast("double") / F.col("t"), 6).alias("share"),
        )
        .orderBy("dow", "hr")
    )


# ---------------------------------------------------------------------------
# k39 — event-type co-engagement lift over users


@query(
    "qk39_coengagement_lift",
    oracle=f"""
WITH ue AS (
  SELECT DISTINCT user_id, event_type FROM events
), tot AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM ue GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(COUNT(*) AS BIGINT) AS both_c
  FROM ue a JOIN ue b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.both_c AS n_both,
       {sql_pround('CAST(p.both_c AS DOUBLE) * t.n / (CAST(ma.c AS DOUBLE) * mb.c)', 6)} AS lift
FROM pairs p
JOIN m ma ON ma.event_type = p.type_a
JOIN m mb ON mb.event_type = p.type_b
CROSS JOIN tot t
ORDER BY type_a, type_b
""",
    tags=("events", "statistics"),
)
def qk39_coengagement_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-engagement lift over USERS: for each unordered
    type pair, P(user does both) / (P(A) P(B)) — lift > 1 means the
    behaviors attract, < 1 they substitute; this is qe24's basket-lift
    idea moved from order baskets to user lifetimes, and the
    feature-correlation sanity check before treating event types as
    independent model inputs (qd07's PMI is about ADJACENCY in the
    stream; this ignores order entirely).

    Scale: the stream collapses to distinct (user, type) pairs first
    (at most 5 per user), so the self-join fans each user into at most
    C(5,2)=10 pairs; margins and totals are broadcast-sized.
    """
    e = table(spark, sf_dir, "events")
    # (user, type) distinct pairs feed the margin AND both self-join
    # sides: materialize so the distinct isn't recomputed three times
    # (the df is <= 5 rows/user — same size class as the shuffle that
    # built it) (scan-lint)
    ue = e.select("user_id", "event_type").distinct().transform(cut_lineage)
    tot = e.agg(F.count_distinct("user_id").cast("bigint").alias("n"))
    m = ue.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a, b = ue.alias("a"), ue.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ma = m.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
    mb = m.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            pround(
                F.col("n_both").cast("double") * F.col("n") / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# k40 — naive interval-forecast coverage audit


@query(
    "qk40_interval_forecast_coverage",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), banded AS (
  SELECT a.di, a.rev,
         MIN(b.rev) AS lo, MAX(b.rev) AS hi, CAST(COUNT(b.di) AS BIGINT) AS n_hist
  FROM daily a JOIN daily b ON b.di BETWEEN a.di - 7 AND a.di - 1
  GROUP BY a.di, a.rev
), scored AS (
  SELECT di, CASE WHEN rev BETWEEN lo AND hi THEN 1 ELSE 0 END AS covered,
         hi - lo AS width
  FROM banded WHERE n_hist = 7
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
       CAST(SUM(covered) AS BIGINT) AS n_covered,
       {sql_pround('CAST(SUM(covered) AS DOUBLE) / COUNT(*)', 6)} AS coverage_rate,
       {sql_pround('CAST(SUM(CAST(' + sql_pround('width', 6) + ' AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 6)} AS mean_band_width
FROM scored
""",
    tags=("timeseries", "ml"),
)
def qk40_interval_forecast_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-forecast coverage audit for the naive band predictor
    "tomorrow lies within the past week's [min, max]": empirical
    coverage rate and mean band width over all days with a full 7-day
    history — the calibration check every prediction INTERVAL needs
    (k12 scores point forecasts; an interval is judged by coverage vs
    width, and a band that covers 95% but spans the whole range is
    useless). The banded self-join is the same bounded day-lattice
    shape as j26's EWMA.

    Scale: day-lattice aggregate, <=7-row fan-out per day, one
    aggregation row.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(_day_idx().alias("di")).agg(dsum("value").alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    banded = (
        a.join(
            F.broadcast(b),
            (F.col("b.di") >= F.col("a.di") - 7) & (F.col("b.di") <= F.col("a.di") - 1),
        )
        .groupBy(F.col("a.di").alias("di"), F.col("a.rev").alias("rev"))
        .agg(
            F.min("b.rev").alias("lo"),
            F.max("b.rev").alias("hi"),
            F.count(F.col("b.di")).cast("bigint").alias("n_hist"),
        )
        .filter(F.col("n_hist") == 7)
    )
    covered = F.col("rev").between(F.col("lo"), F.col("hi")).cast("int")
    scored = banded.select(covered.alias("covered"), (F.col("hi") - F.col("lo")).alias("width"))
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        F.sum("covered").cast("bigint").alias("n_covered"),
        pround(F.sum("covered").cast("double") / F.count(F.lit(1)), 6).alias("coverage_rate"),
        pround(
            F.sum(pround(F.col("width"), 6).cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("mean_band_width"),
    )


# ---------------------------------------------------------------------------
# k41 — blocking-key cost model for pairwise dedup


@query(
    "qk41_blocking_key_cost",
    oracle="""
WITH keys AS (
  SELECT 'lang' AS blocking_key, lang AS k FROM documents
  UNION ALL SELECT 'source', source FROM documents
  UNION ALL SELECT 'first_word', string_split(text, ' ')[1] FROM documents
  UNION ALL SELECT 'prefix8', substr(lower(text), 1, 8) FROM documents
), buckets AS (
  SELECT blocking_key, k, CAST(COUNT(*) AS BIGINT) AS c
  FROM keys GROUP BY blocking_key, k
)
SELECT blocking_key,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
FROM buckets
GROUP BY blocking_key
ORDER BY blocking_key
""",
    tags=("dedup", "audit"),
    bench=True,
)
def qk41_blocking_key_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key cost model for pairwise dedup/linkage: for four
    candidate blocking keys (lang, source, first word, lowercase 8-char
    prefix) compute the bucket count, the largest bucket, and the TRUE
    candidate-pair workload sum c*(c-1)/2 — the number that decides
    whether a blocked similarity join (qd04, i10, q55) is feasible,
    BEFORE paying for it. A key whose candidate_pairs approaches n^2/2
    blocks nothing; one with tiny max_bucket but millions of buckets
    under-recalls. This is the one-scan preflight that turns blocking
    from folklore into a measured choice.

    Scale: a 4-way stacked scan (one pass, constant fan-out), one
    groupBy per key space, integer arithmetic only.
    """
    d = table(spark, sf_dir, "documents")
    variants = [
        ("lang", F.col("lang")),
        ("source", F.col("source")),
        ("first_word", F.split("text", " ").getItem(0)),
        ("prefix8", F.substring(F.lower("text"), 1, 8)),
    ]
    stacked = None
    for name, col in variants:
        part = d.select(F.lit(name).alias("blocking_key"), col.alias("k"))
        stacked = part if stacked is None else stacked.unionByName(part)
    buckets = stacked.groupBy("blocking_key", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        buckets.groupBy("blocking_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("c").cast("bigint").alias("max_bucket"),
            # integer DIV — c*(c-1) exceeds 2^53 for buckets past ~100M rows,
            # where FP halving would silently lose pair-count precision
            F.sum(F.expr("(c * (c - 1)) DIV 2")).cast("bigint").alias("candidate_pairs"),
        )
        .orderBy("blocking_key")
    )


# ---------------------------------------------------------------------------
# k42 — pooled vs within-group correlation (ecological-fallacy audit)


@query(
    "qk42_pooled_vs_within_corr",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(year(o_orderdate) AS DOUBLE) AS x,
         o_totalprice AS y
  FROM orders
), moms AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(25,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST({sql_pround('x * y', 4)} AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2))) AS DOUBLE) AS syy
  FROM base GROUP BY grp
), pooled AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
         SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy
  FROM moms
), r AS (
  SELECT 'pooled' AS scope, n,
         (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr
  FROM pooled
  UNION ALL
  SELECT grp AS scope, n,
         (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr
  FROM moms
)
SELECT scope, CAST(n AS BIGINT) AS n, {sql_pround('corr', 6)} AS corr_xy
FROM r ORDER BY scope
""",
    tags=("statistics",),
)
def qk42_pooled_vs_within_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled vs per-group Pearson correlation between order year and
    order value — the ecological-fallacy / Simpson's-paradox audit for
    correlations: a pooled r that disagrees in sign or magnitude with
    every within-priority r means the association is an artifact of
    the group mix, and any model trained on the pooled signal inherits
    the confound (qg16 reports one correlation matrix; this contrasts
    the two aggregation scopes side by side). All six moment sums are
    exact DECIMAL carriers merged by addition for the pooled scope —
    the j33 mergeability pattern applied to bivariate moments.

    Scale: ONE grouped pass produces the per-group carriers; the
    pooled row is their sum — no second scan.
    """
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.year("o_orderdate").cast("double").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    moms = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(25,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(25,2)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(25,6)")).cast("double").alias("sxx"),
        F.sum(pround(F.col("x") * F.col("y"), 4).cast("decimal(25,6)")).cast("double").alias("sxy"),
        F.sum(F.col("y").cast("decimal(19,2)") * F.col("y").cast("decimal(19,2)"))
        .cast("double")
        .alias("syy"),
    )
    pooled = moms.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
        F.sum("syy").alias("syy"),
    ).select(F.lit("pooled").alias("scope"), "n", "sx", "sy", "sxx", "sxy", "syy")
    per = moms.select(
        F.col("grp").alias("scope"), "n", "sx", "sy", "sxx", "sxy", "syy"
    )
    allr = pooled.unionByName(per)
    nD = F.col("n").cast("double")
    corr = (nD * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (nD * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nD * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return allr.select(
        "scope", F.col("n").cast("bigint").alias("n"), pround(corr, 6).alias("corr_xy")
    ).orderBy("scope")


# ---------------------------------------------------------------------------
# k43 — retention half-life from the cold-start curve


@query(
    "qk43_retention_halflife",
    oracle=f"""
WITH aged AS (
  SELECT user_id,
         {_SQL_DAY_IDX} - MIN({_SQL_DAY_IDX}) OVER (PARTITION BY user_id) AS age_day
  FROM events
), curve AS (
  SELECT age_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active
  FROM aged WHERE age_day BETWEEN 1 AND 21 GROUP BY age_day
), pts AS (
  SELECT CAST(age_day AS DOUBLE) AS x, {sql_pround('ln(CAST(active AS DOUBLE))', 6)} AS y
  FROM curve WHERE active > 0
), ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST({sql_pround('x * y', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT np AS n_points,
       {sql_pround('(np * sxy - sx * sy) / (np * sxx - sx * sx)', 6)} AS decay_slope,
       {sql_pround('CASE WHEN (np * sxy - sx * sy) / (np * sxx - sx * sx) < 0 THEN -ln(2.0) / ((np * sxy - sx * sy) / (np * sxx - sx * sx)) END', 6)} AS halflife_days
FROM ols
""",
    tags=("events", "ml"),
)
def qk43_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit log(active users at age d) ~ a + b*d
    over ages 1-21 of k28's cold-start curve (closed-form OLS on the
    bounded age lattice) and report b plus the implied half-life
    -ln2/b — the single scalar an exec dashboard wants from the whole
    curve ("every H days we lose half the remaining cohort"); NULL if
    activity is not decaying (b >= 0), never a misleading negative
    half-life. Log points are pround-stabilized before the closed-form
    sums (the k10 rule for transcendental feeds).

    Scale: one partitioned min-window, one bounded-lattice collapse,
    OLS on <=21 points.
    """
    e = table(spark, sf_dir, "events")
    di = _day_idx()
    w = Window.partitionBy("user_id")
    aged = e.select("user_id", (di - F.min(di).over(w)).alias("age_day"))
    curve = (
        aged.filter(F.col("age_day").between(1, 21))
        .groupBy("age_day")
        .agg(F.count_distinct("user_id").cast("bigint").alias("active"))
    )
    pts = curve.filter(F.col("active") > 0).select(
        F.col("age_day").cast("double").alias("x"),
        pround(F.log(F.col("active").cast("double")), 6).alias("y"),
    )
    ols = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum(F.col("x").cast("decimal(25,6)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(25,6)")).cast("double").alias("sy"),
        F.sum(pround(F.col("x") * F.col("y"), 9).cast("decimal(25,12)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(25,6)")).cast("double").alias("sxx"),
    )
    slope = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return ols.select(
        F.col("np").alias("n_points"),
        pround(slope, 6).alias("decay_slope"),
        pround(F.when(slope < 0, -F.log(F.lit(2.0)) / slope), 6).alias("halflife_days"),
    )


# ---------------------------------------------------------------------------
# k44 — dead-stock audit: parts never ordered, by brand


@query(
    "qk44_dead_stock_audit",
    oracle=f"""
WITH ordered_parts AS (
  SELECT DISTINCT l_partkey FROM lineitem
), flagged AS (
  SELECT p.p_brand AS brand,
         CASE WHEN o.l_partkey IS NULL THEN 1 ELSE 0 END AS dead
  FROM part p LEFT JOIN ordered_parts o ON p.p_partkey = o.l_partkey
)
SELECT brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(dead) AS BIGINT) AS n_dead,
       {sql_pround('CAST(SUM(dead) AS DOUBLE) / COUNT(*)', 6)} AS dead_rate
FROM flagged GROUP BY brand
ORDER BY brand
""",
    tags=("relational", "audit"),
)
def qk44_dead_stock_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-stock audit: the share of each brand's catalog that has
    NEVER appeared on a lineitem — the anti-join coverage question
    every catalog owner asks ("what fraction of SKUs is inventory we
    list but nobody buys"), and the mirror image of i25's referential
    integrity (which finds facts without dimensions; this finds
    dimension rows without facts). Expressed as a left join against
    the DISTINCT ordered-part set so the probe side is collapsed
    before the join, not fanned out by order volume.

    Scale: distinct-collapse of lineitem keys (map-side combined),
    one hash join keyed on partkey, bounded brand rollup.
    """
    p = table(spark, sf_dir, "part").select("p_partkey", F.col("p_brand").alias("brand"))
    ordered = table(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    flagged = p.join(ordered, p.p_partkey == ordered.l_partkey, "left").select(
        "brand", F.col("l_partkey").isNull().cast("int").alias("dead")
    )
    return (
        flagged.groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("dead").cast("bigint").alias("n_dead"),
            pround(F.sum("dead").cast("double") / F.count(F.lit(1)), 6).alias("dead_rate"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# k45 — calendar rollup reconciliation: days vs ISO weeks vs months


@query(
    "qk45_calendar_rollup_reconcile",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DECIMAL(25,2)) AS rev
  FROM orders GROUP BY 1
), weekly AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(rev) AS DECIMAL(38,2)) AS rev
  FROM (SELECT date_trunc('week', d) AS wk, SUM(n) AS n, SUM(rev) AS rev FROM daily GROUP BY 1)
), monthly AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(rev) AS DECIMAL(38,2)) AS rev
  FROM (SELECT date_trunc('month', d) AS mo, SUM(n) AS n, SUM(rev) AS rev FROM daily GROUP BY 1)
), direct AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DECIMAL(38,2)) AS rev
  FROM orders
), spans AS (
  SELECT CAST(COUNT(DISTINCT date_trunc('week', d)) AS BIGINT) AS n_weeks,
         CAST(COUNT(DISTINCT date_trunc('month', d)) AS BIGINT) AS n_months,
         CAST(COUNT(DISTINCT date_trunc('week', d) || '/' || date_trunc('month', d)) AS BIGINT) AS n_week_month_cells
  FROM daily
)
SELECT d.n AS n_orders,
       CAST(CASE WHEN w.n = d.n AND w.rev = d.rev THEN 1 ELSE 0 END AS BIGINT) AS weekly_reconciles,
       CAST(CASE WHEN m.n = d.n AND m.rev = d.rev THEN 1 ELSE 0 END AS BIGINT) AS monthly_reconciles,
       s.n_weeks, s.n_months,
       CAST(s.n_week_month_cells - s.n_weeks AS BIGINT) AS straddling_weeks
FROM direct d CROSS JOIN weekly w CROSS JOIN monthly m CROSS JOIN spans s
""",
    tags=("relational", "audit"),
)
def qk45_calendar_rollup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup reconciliation: daily totals re-aggregated to
    weeks and to months must BOTH reconcile exactly to the direct scan
    (gated at 1), while `straddling_weeks` counts the weeks that cross
    a month boundary — the reason week-level and month-level reports
    can NEVER be derived from each other and every serving layer must
    pick its grain hierarchy (day->week and day->month, never
    week->month). DECIMAL-exact revenue makes the reconciliation an
    equality, not a tolerance.

    Scale: one daily collapse (map-side combined), then all further
    rollups run on the bounded day aggregate.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("decimal(25,2)").alias("rev"),
    )

    def rollup(col: Column) -> DataFrame:
        return (
            daily.groupBy(col.alias("g"))
            .agg(F.sum("n").alias("n"), F.sum("rev").alias("rev"))
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("rev").cast("decimal(38,2)").alias("rev"),
            )
        )

    weekly = rollup(F.date_trunc("week", "d"))
    monthly = rollup(F.date_trunc("month", "d"))
    direct = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("decimal(38,2)").alias("rev"),
    )
    spans = daily.agg(
        F.count_distinct(F.date_trunc("week", "d")).cast("bigint").alias("n_weeks"),
        F.count_distinct(F.date_trunc("month", "d")).cast("bigint").alias("n_months"),
        F.count_distinct(
            F.concat_ws(
                "/",
                F.date_trunc("week", "d").cast("string"),
                F.date_trunc("month", "d").cast("string"),
            )
        )
        .cast("bigint")
        .alias("n_week_month_cells"),
    )
    d_, w_, m_ = direct.alias("d"), weekly.alias("w"), monthly.alias("m")
    j = (
        d_.crossJoin(F.broadcast(w_))
        .crossJoin(F.broadcast(m_))
        .crossJoin(F.broadcast(spans))
    )
    return j.select(
        F.col("d.n").alias("n_orders"),
        ((F.col("w.n") == F.col("d.n")) & (F.col("w.rev") == F.col("d.rev")))
        .cast("bigint")
        .alias("weekly_reconciles"),
        ((F.col("m.n") == F.col("d.n")) & (F.col("m.rev") == F.col("d.rev")))
        .cast("bigint")
        .alias("monthly_reconciles"),
        "n_weeks",
        "n_months",
        (F.col("n_week_month_cells") - F.col("n_weeks")).cast("bigint").alias("straddling_weeks"),
    )


# ---------------------------------------------------------------------------
# k46 — duplication rate conditioned on document length


@query(
    "qk46_dup_rate_by_length",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, n_chars, md5(lower(text)) AS f FROM documents
), freq AS (
  SELECT f, CAST(COUNT(*) AS BIGINT) AS df FROM fp GROUP BY f
), labeled AS (
  SELECT CAST(floor(fp.n_chars / 100) AS BIGINT) AS len_bucket,
         CASE WHEN fr.df > 1 THEN 1 ELSE 0 END AS dup
  FROM fp JOIN freq fr ON fp.f = fr.f
)
SELECT len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dup) AS BIGINT) AS n_duplicated,
       {sql_pround('CAST(SUM(dup) AS DOUBLE) / COUNT(*)', 6)} AS dup_rate
FROM labeled GROUP BY len_bucket
ORDER BY len_bucket
""",
    tags=("dedup", "curation"),
)
def qk46_dup_rate_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rate conditioned on document LENGTH (100-char
    buckets): short documents duplicate far more than long ones in
    every web corpus (navigation stubs, error pages, template
    fragments), and this curve decides whether a minimum-length filter
    (j18's first gate) should run BEFORE the expensive near-dup pass —
    if the short buckets carry most of the duplication, filtering
    first shrinks the pair workload for free. Exact-dup here (md5 of
    lowercased text, q94's normalization), bucketed by the house
    floor rule.

    Scale: fingerprint groupBy + join back on the fingerprint (the
    q56/k26 shape), bounded length-bucket rollup.
    """
    d = table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "n_chars", F.md5(F.lower("text")).alias("f"))
    freq = fp.groupBy("f").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    labeled = fp.join(freq, "f").select(
        F.floor(F.col("n_chars") / 100).cast("bigint").alias("len_bucket"),
        (F.col("df") > 1).cast("int").alias("dup"),
    )
    return (
        labeled.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dup").cast("bigint").alias("n_duplicated"),
            pround(F.sum("dup").cast("double") / F.count(F.lit(1)), 6).alias("dup_rate"),
        )
        .orderBy("len_bucket")
    )


# ---------------------------------------------------------------------------
# k47 — distribution-free median confidence interval (order statistics)


@query(
    "qk47_median_ci",
    oracle=f"""
WITH lattice AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY n_chars
), cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v ASC) AS cum,
         (SELECT SUM(c) FROM lattice) AS n
  FROM lattice
), ranks AS (
  SELECT MAX(n) AS n,
         CAST(floor(CAST(MAX(n) AS DOUBLE) / 2 - 1.959963984540054 * sqrt(CAST(MAX(n) AS DOUBLE)) / 2) AS BIGINT) AS lo_rank,
         CAST(ceil(CAST(MAX(n) AS DOUBLE) / 2 + 1 + 1.959963984540054 * sqrt(CAST(MAX(n) AS DOUBLE)) / 2) AS BIGINT) AS hi_rank
  FROM cum
)
SELECT CAST(r.n AS BIGINT) AS n,
       CAST(MIN(CASE WHEN c.cum >= (r.n + 1) // 2 THEN c.v END) AS BIGINT) AS median_lo_def,
       CAST(MIN(CASE WHEN c.cum >= r.lo_rank THEN c.v END) AS BIGINT) AS ci_lower,
       CAST(MIN(CASE WHEN c.cum >= r.hi_rank THEN c.v END) AS BIGINT) AS ci_upper
FROM cum c CROSS JOIN ranks r
GROUP BY r.n
""",
    tags=("statistics",),
)
def qk47_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median
    document length via the binomial ORDER-STATISTIC method: the CI
    endpoints are the values at ranks n/2 -/+ z*sqrt(n)/2 — no
    resampling at all, unlike qg14's bootstrap (which is the right
    tool for the MEAN but pays x200 compute; for quantiles the exact
    rank method is free). All rank lookups are smallest-value-with-
    cumulative-count queries on the bounded length dictionary; the z
    constant is a shared double literal.

    Scale: one lattice collapse + one cumulative window over it;
    rank selection is a conditional MIN over the same aggregate.
    """
    d = table(spark, sf_dir, "documents")
    lattice = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy(F.asc("v"))  # bounded: length dictionary
    tot = lattice.agg(F.sum("c").alias("n"))
    cum = lattice.withColumn("cum", F.sum("c").over(w)).crossJoin(F.broadcast(tot))
    z = 1.959963984540054
    nD = F.col("n").cast("double")
    lo_rank = F.floor(nD / 2 - z * F.sqrt(nD) / 2).cast("bigint")
    hi_rank = F.ceil(nD / 2 + 1 + z * F.sqrt(nD) / 2).cast("bigint")
    med_rank = F.floor((F.col("n") + 1) / 2).cast("bigint")
    return cum.groupBy("n").agg(
        F.min(F.when(F.col("cum") >= med_rank, F.col("v"))).cast("bigint").alias("median_lo_def"),
        F.min(F.when(F.col("cum") >= lo_rank, F.col("v"))).cast("bigint").alias("ci_lower"),
        F.min(F.when(F.col("cum") >= hi_rank, F.col("v"))).cast("bigint").alias("ci_upper"),
    ).select(F.col("n").cast("bigint").alias("n"), "median_lo_def", "ci_lower", "ci_upper")


# ---------------------------------------------------------------------------
# k48 — two-way ANOVA (priority x year) with interaction


@query(
    "qk48_two_way_anova",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS a, CAST(year(o_orderdate) AS BIGINT) AS b, o_totalprice AS y
  FROM orders
), cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(y AS DECIMAL(25,2))) AS DECIMAL(25,2)) AS s
  FROM base GROUP BY a, b
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(CAST(SUM(s) AS DECIMAL(38,2)) AS DOUBLE) AS s FROM cells
), ssa AS (
  SELECT CAST(SUM(CAST(floor((s_a / n_a - t.s / t.n) * (s_a / n_a - t.s / t.n) * n_a + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS v
  FROM (SELECT a, CAST(SUM(n) AS BIGINT) AS n_a, CAST(CAST(SUM(s) AS DECIMAL(38,2)) AS DOUBLE) AS s_a FROM cells GROUP BY a) CROSS JOIN tot t
), ssb AS (
  SELECT CAST(SUM(CAST(floor((s_b / n_b - t.s / t.n) * (s_b / n_b - t.s / t.n) * n_b + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS v
  FROM (SELECT b, CAST(SUM(n) AS BIGINT) AS n_b, CAST(CAST(SUM(s) AS DECIMAL(38,2)) AS DOUBLE) AS s_b FROM cells GROUP BY b) CROSS JOIN tot t
), sscell AS (
  SELECT CAST(SUM(CAST(floor((CAST(c.s AS DOUBLE) / c.n - t.s / t.n) * (CAST(c.s AS DOUBLE) / c.n - t.s / t.n) * c.n + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS v
  FROM cells c CROSS JOIN tot t
)
SELECT (SELECT CAST(COUNT(DISTINCT a) AS BIGINT) FROM cells) AS n_a_levels,
       (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) FROM cells) AS n_b_levels,
       {sql_pround('ssa.v', 2)} AS ss_priority,
       {sql_pround('ssb.v', 2)} AS ss_year,
       {sql_pround('sscell.v - ssa.v - ssb.v', 2)} AS ss_interaction
FROM ssa, ssb, sscell
""",
    tags=("statistics",),
)
def qk48_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA sums of squares for order value over priority x
    year: main-effect SS for each factor plus the INTERACTION SS
    (cell SS minus both mains) — the question j02's one-way F cannot
    ask: does the priority premium CHANGE across years, or do the
    factors act additively? Computed from the (priority x year) cell
    aggregate only: every SS term is a weighted squared deviation of
    a cell/margin mean from the grand mean, floor-quantized to
    integers (the j20 envelope) and DECIMAL-summed; cell revenue stays
    an exact DECIMAL through every margin re-aggregation (a double
    margin sum is order-dependent and flipped a floor boundary at
    sf0.1 during development — the b08 class, caught by the 3-SF
    sweep).

    Scale: one grouped pass to the bounded 5 x 7 grid; margins and
    totals are re-aggregations of that grid, never of rows.
    """
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("a"), F.year("o_orderdate").cast("bigint").alias("b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("decimal(25,2)").alias("s"),
    ).transform(cut_lineage)  # bounded a x b cell grid; five consumers (scan-lint)
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("decimal(38,2)").cast("double").alias("st"),
    )

    def ss(margin: DataFrame, ncol: str, scol: str) -> DataFrame:
        grand = F.col("st") / F.col("nt")
        dev = F.col(scol).cast("double") / F.col(ncol) - grand
        return margin.crossJoin(F.broadcast(tot)).agg(
            F.sum(F.floor(dev * dev * F.col(ncol) + 0.5).cast("decimal(38,0)"))
            .cast("double")
            .alias("v")
        )

    ma = cells.groupBy("a").agg(
        F.sum("n").cast("bigint").alias("n_a"),
        F.sum("s").cast("decimal(38,2)").alias("s_a"),
    )
    mb = cells.groupBy("b").agg(
        F.sum("n").cast("bigint").alias("n_b"),
        F.sum("s").cast("decimal(38,2)").alias("s_b"),
    )
    ssa = ss(ma, "n_a", "s_a").withColumnRenamed("v", "ssa")
    ssb = ss(mb, "n_b", "s_b").withColumnRenamed("v", "ssb")
    sscell = ss(cells, "n", "s").withColumnRenamed("v", "sscell")
    dims = cells.agg(
        F.count_distinct("a").cast("bigint").alias("n_a_levels"),
        F.count_distinct("b").cast("bigint").alias("n_b_levels"),
    )
    j = (
        ssa.crossJoin(F.broadcast(ssb))
        .crossJoin(F.broadcast(sscell))
        .crossJoin(F.broadcast(dims))
    )
    return j.select(
        "n_a_levels",
        "n_b_levels",
        pround(F.col("ssa"), 2).alias("ss_priority"),
        pround(F.col("ssb"), 2).alias("ss_year"),
        pround(F.col("sscell") - F.col("ssa") - F.col("ssb"), 2).alias("ss_interaction"),
    )


# ---------------------------------------------------------------------------
# k49 — daily distribution drift: Wasserstein-1 of each day vs the corpus

_K49_BUCKET = 1.0  # value quantization for the bounded lattice


@query(
    "qk49_daily_wasserstein_drift",
    oracle=f"""
WITH q AS (
  SELECT {_SQL_DAY_IDX} AS di, CAST(floor(value / {_K49_BUCKET}) AS BIGINT) AS v
  FROM events
), daily AS (
  SELECT di, v, CAST(COUNT(*) AS BIGINT) AS c FROM q GROUP BY di, v
), overall AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM q GROUP BY v
), grid AS (
  SELECT d.di, o.v,
         COALESCE(dd.c, 0) AS cd, o.c AS co,
         (SELECT SUM(c) FROM overall) AS n_o
  FROM (SELECT DISTINCT di FROM daily) d
  CROSS JOIN overall o
  LEFT JOIN daily dd ON dd.di = d.di AND dd.v = o.v
), cum AS (
  SELECT di, v,
         SUM(cd) OVER (PARTITION BY di ORDER BY v ASC) AS cum_d,
         SUM(co) OVER (PARTITION BY di ORDER BY v ASC) AS cum_o,
         SUM(cd) OVER (PARTITION BY di) AS n_d,
         MAX(n_o) OVER (PARTITION BY di) AS n_o,
         LEAD(v) OVER (PARTITION BY di ORDER BY v ASC) AS v_next
  FROM grid
)
SELECT CAST(di AS BIGINT) AS day_index,
       CAST(MAX(n_d) AS BIGINT) AS n_day_events,
       {sql_pround(f'''CAST(SUM(CAST(abs(cum_d * n_o - cum_o * n_d) * (v_next - v) AS DECIMAL(38,0))) AS DOUBLE)
         / (CAST(MAX(n_d) AS DOUBLE) * MAX(n_o)) * {_K49_BUCKET}''', 6)} AS w1_vs_corpus
FROM cum WHERE v_next IS NOT NULL
GROUP BY di
ORDER BY day_index
""",
    tags=("timeseries", "statistics"),
)
def qk49_daily_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distribution drift monitor: the exact 1-D Wasserstein
    distance between each DAY's event-value distribution and the
    whole-corpus distribution, on a unit-quantized value lattice —
    k32's metric turned into the daily monitoring series a data-quality
    pipeline alerts on (qf21 tracks the MIX of types per day; this
    tracks the value distribution's shape, catching e.g. a client
    version that started reporting cents instead of dollars). CDF
    differences are exact integer cross-products per (day, value) cell.

    Scale: two lattice collapses; the day x value grid is (days x
    |lattice|) — bounded both ways; cumulative windows PARTITION by
    day over that aggregate.
    """
    e = table(spark, sf_dir, "events")
    q = e.select(_day_idx().alias("di"), F.floor(F.col("value") / _K49_BUCKET).cast("bigint").alias("v"))
    daily = q.groupBy("di", "v").agg(F.count(F.lit(1)).cast("bigint").alias("cd"))
    overall = q.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    n_o = overall.agg(F.sum("co").alias("n_o"))
    days = daily.select("di").distinct()
    grid = (
        days.crossJoin(F.broadcast(overall))
        .join(daily, ["di", "v"], "left")
        .withColumn("cd", F.coalesce(F.col("cd"), F.lit(0)))
        .crossJoin(F.broadcast(n_o))
    )
    wv = Window.partitionBy("di").orderBy(F.asc("v"))
    wp = Window.partitionBy("di")
    cum = (
        grid.withColumn("cum_d", F.sum("cd").over(wv))
        .withColumn("cum_o", F.sum("co").over(wv))
        .withColumn("n_d", F.sum("cd").over(wp))
        .withColumn("v_next", F.lead("v").over(wv))
        .filter(F.col("v_next").isNotNull())
    )
    num = F.sum(
        (
            F.abs(F.col("cum_d") * F.col("n_o") - F.col("cum_o") * F.col("n_d"))
            * (F.col("v_next") - F.col("v"))
        ).cast("decimal(38,0)")
    ).cast("double")
    return (
        cum.groupBy(F.col("di").cast("bigint").alias("day_index"))
        .agg(
            F.max("n_d").cast("bigint").alias("n_day_events"),
            pround(
                num / (F.max("n_d").cast("double") * F.max("n_o")) * _K49_BUCKET, 6
            ).alias("w1_vs_corpus"),
        )
        .orderBy("day_index")
    )


# ---------------------------------------------------------------------------
# k50 — discrete power-law exponent of the near-dup degree distribution


@query(
    "qk50_powerlaw_alpha",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, md5(array_to_string(string_split(lower(text), ' ')[s:s + 4], ' ')) AS g
  FROM documents,
       (SELECT unnest(range(1, (SELECT MAX(len(string_split(text, ' '))) FROM documents) + 1, 5)) AS s)
  WHERE s + 4 <= len(string_split(lower(text), ' '))
), df AS (
  SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d FROM grams GROUP BY g
), degs AS (
  SELECT d FROM df WHERE d >= 2
), moms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST({sql_pround('ln(CAST(d AS DOUBLE) / 1.5)', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS slog
  FROM degs
)
SELECT n AS n_tail,
       {sql_pround('1.0 + n / slog', 6)} AS alpha_hat,
       {sql_pround('(1.0 + n / slog - 1.0) / sqrt(CAST(n AS DOUBLE))', 6)} AS alpha_se
FROM moms
""",
    tags=("statistics", "dedup"),
)
def qk50_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law exponent of the shared-shingle frequency
    distribution: document frequencies d >= dmin=2 of 5-word shingles
    fit alpha = 1 + n / SUM ln(d/(dmin - 0.5)) (the Clauset-Shalizi-
    Newman continuous-approximation MLE) with its sqrt(n) standard
    error — duplication in web corpora is heavy-tailed, and alpha says
    HOW heavy: alpha near 2 means a few mega-duplicated templates
    dominate (dedup will be cheap and high-yield), large alpha means
    duplication is diffuse (qg22 reports the cluster-size histogram;
    this fits its tail with a parameter comparable across corpora).

    Scale: non-overlapping shingle explode, distinct-doc df count, a
    tail filter, and one aggregation; logs are pround-stabilized
    before the DECIMAL sum (the transcendental rule).
    """
    d = table(spark, sf_dir, "documents")
    words = F.split(F.lower("text"), " ")
    starts = F.sequence(F.lit(1), F.size(words), F.lit(5))
    grams = d.select("doc_id", F.explode(starts).alias("s"), words.alias("w")).filter(
        F.col("s") + 4 <= F.size("w")
    ).select("doc_id", F.md5(F.array_join(F.slice("w", F.col("s"), 5), " ")).alias("g"))
    df = grams.groupBy("g").agg(F.count_distinct("doc_id").cast("bigint").alias("d"))
    degs = df.filter(F.col("d") >= 2)
    moms = degs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            pround(F.log(F.col("d").cast("double") / 1.5), 9).cast("decimal(25,12)")
        )
        .cast("double")
        .alias("slog"),
    )
    alpha = 1.0 + F.col("n") / F.col("slog")
    return moms.select(
        F.col("n").alias("n_tail"),
        pround(alpha, 6).alias("alpha_hat"),
        pround((alpha - 1.0) / F.sqrt(F.col("n").cast("double")), 6).alias("alpha_se"),
    )


# ---------------------------------------------------------------------------
# l02 — deterministic SimHash collision audit (q64's hash-gated twin)

_L02_BITS = 16


@query(
    "ql02_simhash_audit",
    oracle=f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
), hashed AS (
  SELECT doc_id, {_sql_md5fold('w')} AS h FROM words
), sigs AS (
  SELECT doc_id,
         CAST({' + '.join(f"(CASE WHEN SUM(CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) >= 0 THEN {1 << i} ELSE 0 END)" for i in range(_L02_BITS))} AS BIGINT) AS sig
  FROM hashed GROUP BY doc_id
), buckets AS (
  SELECT sig, CAST(COUNT(*) AS BIGINT) AS c FROM sigs GROUP BY sig
)
SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_signatures,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS collision_pairs,
       CAST(MAX(c) AS BIGINT) AS max_bucket
FROM buckets
""",
    tags=("dedup", "text"),
)
def ql02_simhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED SimHash collision audit — the deterministic twin of
    q64 (whose numpy-seeded hyperplanes no SQL oracle can replay): a
    {_L02_BITS}-bit SimHash where bit i is the SIGN of the sum of
    +/-1 votes from bit i of each word-occurrence's md5 fold — the
    Charikar construction with a hash family both engines can compute
    bit-identically. The audit reports the signature-space occupancy
    (documents per signature, candidate collision pairs, largest
    bucket) — exactly the candidate-set size a SimHash dedup pass
    would feed to verification, value-hash-matched end to end.

    Scale: one word explode (token-bounded), one {_L02_BITS}-sum
    groupBy per document (map-side combined), one count-of-buckets
    collapse. No pair join anywhere — the audit sizes the candidate
    set without materializing it.
    """
    d = table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
    hashed = words.select("doc_id", _md5fold(F.col("w")).alias("h"))
    votes = [
        F.when((F.col("h").bitwiseAND(1 << i)) != 0, 1).otherwise(-1) for i in range(_L02_BITS)
    ]
    sig = None
    aggs = []
    for i, v in enumerate(votes):
        aggs.append(F.sum(v).alias(f"b{i}"))
    per_doc = hashed.groupBy("doc_id").agg(*aggs)
    for i in range(_L02_BITS):
        bit = F.when(F.col(f"b{i}") >= 0, 1 << i).otherwise(0)
        sig = bit if sig is None else sig + bit
    sigs = per_doc.select(sig.cast("bigint").alias("sig"))
    buckets = sigs.groupBy("sig").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return buckets.agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_signatures"),
        F.sum(F.expr("(c * (c - 1)) DIV 2")).cast("bigint").alias("collision_pairs"),
        F.max("c").cast("bigint").alias("max_bucket"),
    )


# ---------------------------------------------------------------------------
# l04 — DataFrame-native lateralJoin (Spark 4.0 API)


@query(
    "ql04_lateral_join_api",
    oracle="""
SELECT s.s_suppkey, s.s_name, t.l_orderkey, t.l_extendedprice
FROM supplier s,
LATERAL (SELECT l_orderkey, l_extendedprice FROM lineitem l
         WHERE l.l_suppkey = s.s_suppkey
         ORDER BY l_extendedprice DESC, l_orderkey ASC LIMIT 2) t
ORDER BY s.s_suppkey, t.l_extendedprice DESC, t.l_orderkey
""",
    tags=("join", "lateral"),
)
def ql04_lateral_join_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataFrame-NATIVE lateral join (`DataFrame.lateralJoin`, new
    in Spark 4.0) — the API twin of q37's SQL `LATERAL`: each
    supplier row drives a correlated subquery (its own top-2 lineitems
    by value, `.outer()` marking the correlated column) without any
    spark.sql() string. Catalyst decorrelates the per-row limit into
    the same window/join plan as the SQL form, so this pins that the
    new method reaches feature parity with the SQL front door.

    Scale: decorrelation turns the apparent per-row subquery into one
    partitioned top-k window over lineitem — no N-subquery execution.
    """
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name").alias("s")
    li = table(spark, sf_dir, "lineitem").alias("l")
    sub = (
        li.where(F.col("l.l_suppkey") == F.col("s.s_suppkey").outer())
        .select("l_orderkey", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc())
        .limit(2)
    )
    return s.lateralJoin(sub).orderBy(
        "s_suppkey", F.col("l_extendedprice").desc(), F.col("l_orderkey")
    )


# ---------------------------------------------------------------------------
# l05 — IVF assignment audit under fixed hash-picked centroids

_L05_LISTS = 8


@query(
    "ql05_ivf_assign_audit",
    oracle=f"""
WITH centroids AS (
  SELECT vec_id AS cid, embedding FROM embeddings
  ORDER BY {_sql_md5fold('CAST(vec_id AS VARCHAR)')} ASC, vec_id ASC
  LIMIT {_L05_LISTS}
), scored AS (
  SELECT e.vec_id, c.cid,
         round(list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS d
  FROM embeddings e CROSS JOIN centroids c
), assigned AS (
  SELECT vec_id,
         MIN_BY(cid, lpad(CAST(CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS VARCHAR), 14, '0')
                     || lpad(CAST(cid AS VARCHAR), 10, '0')) AS cid,
         MIN(d) AS d
  FROM scored GROUP BY vec_id
)
SELECT CAST(a.cid AS BIGINT) AS list_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       {sql_pround('CAST(SUM(CAST(' + sql_pround('a.d', 6) + ' AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 6)} AS mean_dist
FROM assigned a
GROUP BY a.cid
ORDER BY list_id
""",
    tags=("vector", "audit"),
)
def ql05_ivf_assign_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED IVF assignment audit — the deterministic half of q68
    (whose k-means-trained coarse quantizer no oracle can replay): fix
    the {_L05_LISTS} inverted-list centroids to hash-rank-picked
    corpus vectors (the h12 fixed-budget rule), assign every embedding
    to its nearest centroid by euclidean distance (ties to the lowest
    centroid id), and value-hash-gate each list's size and mean
    residual distance. This gates the ASSIGNMENT machinery an IVF
    index lives on — bucket routing, distance math, tie handling —
    while training stays property-tested in q68; list-size balance
    here is also the index-health number (one hot list = one hot
    probe shard).

    Scale: centroids are a broadcast constant set; assignment is one
    {_L05_LISTS}-way fan-out with JVM zip_with/aggregate math and a
    min_by collapse — the same per-row cost a real IVF router pays.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = (
        emb.orderBy(_md5fold(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(_L05_LISTS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb"))
    )
    j = emb.crossJoin(F.broadcast(cents))
    ex = F.col("embedding").cast("array<double>")
    cx = F.col("c_emb").cast("array<double>")
    d = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(ex, cx, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, v: a + v
            )
        ),
        6,
    )
    scored = j.select("vec_id", "cid", d.alias("d"))
    key = F.concat(
        F.lpad(F.floor(F.col("d") * 1_000_000 + 0.5).cast("bigint").cast("string"), 14, "0"),
        F.lpad(F.col("cid").cast("string"), 10, "0"),
    )  # DuckDB min_by cannot order by struct: shared padded-string key
    assigned = scored.groupBy("vec_id").agg(
        F.min_by("cid", key).alias("cid"),
        F.min("d").alias("d"),
    )
    return (
        assigned.groupBy(F.col("cid").cast("bigint").alias("list_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            pround(
                F.sum(pround(F.col("d"), 6).cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("mean_dist"),
        )
        .orderBy("list_id")
    )


# ---------------------------------------------------------------------------
# l06 — decile QQ table between two length distributions


@query(
    "ql06_qq_table",
    oracle=f"""
WITH la AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents WHERE lang = 'en' GROUP BY n_chars
), lb AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents WHERE lang = 'de' GROUP BY n_chars
), cuma AS (
  SELECT v, SUM(c) OVER (ORDER BY v ASC) AS cum, (SELECT SUM(c) FROM la) AS n FROM la
), cumb AS (
  SELECT v, SUM(c) OVER (ORDER BY v ASC) AS cum, (SELECT SUM(c) FROM lb) AS n FROM lb
), probes AS (
  SELECT unnest(range(1, 10)) AS d
), q AS (
  SELECT p.d,
         (SELECT MIN(v) FROM cuma WHERE cum >= CAST(ceil(p.d / 10.0 * n) AS BIGINT)) AS q_en,
         (SELECT MIN(v) FROM cumb WHERE cum >= CAST(ceil(p.d / 10.0 * n) AS BIGINT)) AS q_de
  FROM probes p
)
SELECT CAST(d AS BIGINT) AS decile,
       CAST(q_en AS BIGINT) AS q_en,
       CAST(q_de AS BIGINT) AS q_de,
       CAST(q_en - q_de AS BIGINT) AS qq_gap
FROM q ORDER BY decile
""",
    tags=("statistics", "text"),
)
def ql06_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile QQ table between the en and de length distributions: the
    discrete quantile (smallest value at cumulative rank >= ceil(d/10
    n)) of each distribution at the nine deciles, side by side with the
    per-decile gap — the diagnostic CURVE behind the scalar two-sample
    family (h05's KS gives the worst gap, k32's W1 its integral; the
    QQ table shows WHERE the distributions diverge: parallel gaps =
    location shift, fanning gaps = scale difference, sign flips =
    crossing shapes).

    Scale: two lattice collapses + cumulative windows over them; the
    nine probes are a constant fan-out resolved by conditional MINs.
    """
    d = table(spark, sf_dir, "documents")

    def cum_lattice(lang: str) -> DataFrame:
        lat = d.filter(F.col("lang") == lang).groupBy(F.col("n_chars").alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        w = Window.orderBy(F.asc("v"))  # bounded: length dictionary
        tot = lat.agg(F.sum("c").alias("n"))
        return lat.withColumn("cum", F.sum("c").over(w)).crossJoin(F.broadcast(tot))

    probes = spark.range(1, 10).select(F.col("id").alias("d"))

    def deciles(cl: DataFrame, out: str) -> DataFrame:
        j = cl.crossJoin(F.broadcast(probes))
        rank = F.ceil(F.col("d") / 10.0 * F.col("n")).cast("bigint")
        return j.groupBy("d").agg(
            F.min(F.when(F.col("cum") >= rank, F.col("v"))).cast("bigint").alias(out)
        )

    qa = deciles(cum_lattice("en"), "q_en")
    qb = deciles(cum_lattice("de"), "q_de")
    return (
        qa.join(qb, "d")
        .select(
            F.col("d").cast("bigint").alias("decile"),
            "q_en",
            "q_de",
            (F.col("q_en") - F.col("q_de")).cast("bigint").alias("qq_gap"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# l07 — top-k leaderboard stability week over week

_L07_K = 10


@query(
    "ql07_topk_stability",
    oracle=f"""
WITH bounds AS (
  SELECT MIN({_SQL_DAY_IDX}) AS lo, MAX({_SQL_DAY_IDX}) AS hi FROM events
), halves AS (
  SELECT user_id,
         CASE WHEN {_SQL_DAY_IDX} < (b.lo + b.hi + 1) // 2 THEN 1 ELSE 2 END AS half,
         value
  FROM events CROSS JOIN bounds b
), ranked AS (
  SELECT half, user_id,
         ROW_NUMBER() OVER (PARTITION BY half ORDER BY {sql_dsum('value')} DESC, user_id ASC) AS rk
  FROM halves GROUP BY half, user_id
), tops AS (
  SELECT half, user_id FROM ranked WHERE rk <= {_L07_K}
)
SELECT CAST({_L07_K} AS BIGINT) AS k,
       CAST((SELECT COUNT(*) FROM tops a JOIN tops b
             ON a.user_id = b.user_id AND a.half = 1 AND b.half = 2) AS BIGINT) AS n_common,
       {sql_pround(f'''CAST((SELECT COUNT(*) FROM tops a JOIN tops b
             ON a.user_id = b.user_id AND a.half = 1 AND b.half = 2) AS DOUBLE)
         / (2 * {_L07_K} - (SELECT COUNT(*) FROM tops a JOIN tops b
             ON a.user_id = b.user_id AND a.half = 1 AND b.half = 2))''', 6)} AS jaccard
""",
    tags=("events", "audit"),
)
def ql07_topk_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard stability: the top-{_L07_K} users by revenue in the
    first half of the window vs the second half, overlap and Jaccard —
    the churn-at-the-top number behind whale-management and
    top-N-caching decisions (a stable top-K justifies a materialized
    leaderboard; an unstable one means the cache must refresh at the
    half-life this measures). Rankings use exact decimal revenue with
    user_id tie-break (k22's Jaccard@k idea applied across TIME instead
    of across metrics).

    Scale: one grouped pass per (half, user), two partitioned top-k
    windows (WindowGroupLimit prunes to k per half), one k x k join.
    """
    e = table(spark, sf_dir, "events")
    di = _day_idx()
    bounds = e.agg(F.min(di).alias("lo"), F.max(di).alias("hi"))
    mid = F.floor((F.col("lo") + F.col("hi") + 1) / 2)
    halves = e.crossJoin(F.broadcast(bounds)).select(
        "user_id", F.when(di < mid, 1).otherwise(2).alias("half"), "value"
    )
    per_user = halves.groupBy("half", "user_id").agg(dsum("value").alias("rev"))
    w = Window.partitionBy("half").orderBy(F.desc("rev"), F.asc("user_id"))
    tops = per_user.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _L07_K)
    t1 = tops.filter(F.col("half") == 1).select(F.col("user_id").alias("u1"))
    t2 = tops.filter(F.col("half") == 2).select(F.col("user_id").alias("u2"))
    common = t1.join(t2, t1.u1 == t2.u2).agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    return common.select(
        F.lit(_L07_K).cast("bigint").alias("k"),
        "n_common",
        pround(
            F.col("n_common").cast("double") / (2 * _L07_K - F.col("n_common")), 6
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# l08 — log-rank test: time-to-second-purchase across user cohorts


@query(
    "ql08_logrank_test",
    oracle=f"""
WITH purch AS (
  SELECT DISTINCT user_id, {_SQL_DAY_IDX} AS di FROM events WHERE event_type = 'purchase'
), horizon AS (
  SELECT MAX({_SQL_DAY_IDX}) AS hz FROM events
), firsts AS (
  SELECT user_id, MIN(di) AS d1 FROM purch GROUP BY user_id
), per_user AS (
  SELECT f.user_id, f.d1, MIN(p.di) AS d2
  FROM firsts f LEFT JOIN purch p ON p.user_id = f.user_id AND p.di > f.d1
  GROUP BY f.user_id, f.d1
), obs AS (
  SELECT {_sql_md5fold('CAST(user_id AS VARCHAR)')} % 2 AS g,
         CASE WHEN d2 IS NOT NULL THEN d2 - d1 ELSE h.hz - d1 END AS t,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per_user CROSS JOIN horizon h
), tally AS (
  SELECT g, t,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM obs GROUP BY g, t
), grid AS (
  SELECT t.t, g.g, COALESCE(ta.d, 0) AS d, COALESCE(ta.c, 0) AS c
  FROM (SELECT DISTINCT t FROM tally) t
  CROSS JOIN (SELECT unnest(range(0, 2)) AS g) g
  LEFT JOIN tally ta ON ta.t = t.t AND ta.g = g.g
), risk AS (
  SELECT t, g, d,
         CAST((SELECT COUNT(*) FROM obs o WHERE o.g = grid.g) AS BIGINT)
           - CAST(COALESCE(SUM(d + c) OVER (PARTITION BY g ORDER BY t ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
  FROM grid
), wide AS (
  SELECT a.t,
         a.d AS d1, a.n_at_risk AS n1,
         b.d AS d0, b.n_at_risk AS n0
  FROM risk a JOIN risk b ON a.t = b.t AND a.g = 1 AND b.g = 0
  WHERE a.d + b.d > 0 AND a.n_at_risk + b.n_at_risk > 1
), terms AS (
  SELECT
    CAST(SUM(CAST({sql_pround('d1 - CAST(n1 AS DOUBLE) * (d1 + d0) / (n1 + n0)', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS u,
    CAST(SUM(CAST({sql_pround('''CAST(n1 AS DOUBLE) * n0 * (d1 + d0) * (n1 + n0 - d1 - d0)
        / ((CAST(n1 + n0 AS DOUBLE)) * (n1 + n0) * (n1 + n0 - 1))''', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS v,
    CAST(COUNT(*) AS BIGINT) AS n_event_times
  FROM terms_src
), terms_src AS (SELECT * FROM wide)
SELECT n_event_times,
       {sql_pround('u', 6)} AS observed_minus_expected,
       {sql_pround('u / sqrt(v)', 6)} AS logrank_z
FROM terms
""",
    tags=("statistics", "events"),
)
def ql08_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing TIME TO THE SECOND DISTINCT
    PURCHASE DAY between two md5-parity user cohorts, with right censoring at the data horizon
    — the standard survival-curve comparison (j15 draws one cohort's
    Kaplan-Meier; this tests whether two cohorts' curves differ):
    U = sum over event days of (O1 - E1) with E1 = n1 d/n under the
    null, V the hypergeometric variance, z = U/sqrt(V). Risk sets
    come from cohort totals minus a cumulative (events + censored)
    window over the bounded day lattice — never a per-subject scan per
    time point.

    Scale: purchases collapse to one observation per user; everything
    after runs on the (cohort x day) grid; per-day terms are
    pround-quantized and DECIMAL-summed.
    """
    e = table(spark, sf_dir, "events")
    di = _day_idx()
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", di.alias("di"))
        .distinct()  # day granularity: same-day repeats are one visit
    )
    horizon = e.agg(F.max(di).alias("hz"))
    w = Window.partitionBy("user_id").orderBy(F.asc("di"))
    ranked = purch.withColumn("rn", F.row_number().over(w))
    # single-branch first/second extraction: two filter branches of
    # `ranked` would duplicate the whole events lineage in the plan
    per_user = (
        ranked.filter(F.col("rn") <= 2)
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("di"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("di"))).alias("d2"),
        )
    )
    obs = per_user.crossJoin(F.broadcast(horizon)).select(
        (_md5fold(F.col("user_id").cast("string")) % 2).alias("g"),
        F.when(F.col("d2").isNotNull(), F.col("d2") - F.col("d1"))
        .otherwise(F.col("hz") - F.col("d1"))
        .alias("t"),
        F.col("d2").isNotNull().cast("int").alias("ev"),
    )
    # tally is the first BOUNDED intermediate (cohort x day lattice);
    # materialize it so the five downstream consumers (times, grid,
    # totals, both risk branches) don't each replay the events lineage
    tally = obs.groupBy("g", "t").agg(
        F.sum("ev").cast("bigint").alias("d"), F.sum(1 - F.col("ev")).cast("bigint").alias("c")
    ).transform(cut_lineage)
    times = tally.select("t").distinct()
    gs = spark.range(0, 2).select(F.col("id").alias("g"))
    grid = (
        times.crossJoin(F.broadcast(gs))
        .join(tally, ["t", "g"], "left")
        .select(
            "t", "g", F.coalesce(F.col("d"), F.lit(0)).alias("d"), F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    # cohort totals from the tally itself (every observation lands in
    # exactly one (g,t) cell), not from a second pass over obs
    totals = tally.groupBy("g").agg(F.sum(F.col("d") + F.col("c")).cast("bigint").alias("tot"))
    wc = Window.partitionBy("g").orderBy(F.asc("t")).rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        grid.join(F.broadcast(totals), "g")
        .withColumn(
            "n_at_risk",
            F.col("tot") - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wc), F.lit(0)),
        )
        .select("t", "g", "d", "n_at_risk")
    )
    a = risk.filter(F.col("g") == 1).select(
        "t", F.col("d").alias("d1"), F.col("n_at_risk").alias("n1")
    )
    b = risk.filter(F.col("g") == 0).select(
        "t", F.col("d").alias("d0"), F.col("n_at_risk").alias("n0")
    )
    wide = a.join(b, "t").filter(
        (F.col("d1") + F.col("d0") > 0) & (F.col("n1") + F.col("n0") > 1)
    )
    n1d = F.col("n1").cast("double")
    ntot = F.col("n1") + F.col("n0")
    dtot = F.col("d1") + F.col("d0")
    u_term = F.col("d1") - n1d * dtot / ntot
    v_term = (
        n1d
        * F.col("n0")
        * dtot
        * (ntot - dtot)
        / (ntot.cast("double") * ntot * (ntot - 1))
    )
    terms = wide.agg(
        F.sum(pround(u_term, 9).cast("decimal(25,12)")).cast("double").alias("u"),
        F.sum(pround(v_term, 9).cast("decimal(25,12)")).cast("double").alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
    )
    return terms.select(
        "n_event_times",
        pround(F.col("u"), 6).alias("observed_minus_expected"),
        pround(F.col("u") / F.sqrt(F.col("v")), 6).alias("logrank_z"),
    )


# ---------------------------------------------------------------------------
# l09 — fingerprint birthday-bound collision audit


@query(
    "ql09_fingerprint_collision_audit",
    oracle=f"""
WITH folds AS (
  SELECT {_sql_md5fold('text')} AS f32 FROM documents
), exact_dups AS (
  SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS dup_rows FROM documents
), buckets AS (
  SELECT f32, CAST(COUNT(*) AS BIGINT) AS c FROM folds GROUP BY f32
), stats AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS observed_pairs
  FROM buckets
)
SELECT s.n AS n_docs,
       s.observed_pairs - (SELECT dup_rows FROM exact_dups) AS surplus_collisions,
       {sql_pround('CAST(s.n AS DOUBLE) * (s.n - 1) / 2 / 4294967296', 6)} AS birthday_expected,
       CAST((SELECT dup_rows FROM exact_dups) AS BIGINT) AS true_dup_rows
FROM stats s
""",
    tags=("dedup", "audit"),
)
def ql09_fingerprint_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-width audit: documents folded to 32-bit keys collide
    either because the TEXTS are identical (true duplicates, counted
    via full md5) or by hash accident; the surplus over true duplicates
    is compared with the birthday bound n(n-1)/2 / 2^32 — the
    calculation that decides whether a pipeline can key its dedup
    index on a folded 32/64-bit fingerprint or must carry the full
    128-bit digest (q54's fingerprints assume the answer; this
    MEASURES it on the actual corpus: at 100 TB with n ~ 1e10 the
    32-bit expectation is ~1e10 collisions — hence 128-bit keys in
    every production dedup, demonstrable from this one row).

    Scale: one fold groupBy + one distinct-count; integer arithmetic
    plus one float expectation.
    """
    d = table(spark, sf_dir, "documents")
    folds = d.select(_md5fold(F.col("text")).alias("f32"))
    buckets = folds.groupBy("f32").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    stats = buckets.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("(c * (c - 1)) DIV 2")).cast("bigint").alias("observed_pairs"),
    )
    dups = d.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.md5("text"))).cast("bigint").alias("dup_rows")
    )
    j = stats.crossJoin(F.broadcast(dups))
    return j.select(
        F.col("n").alias("n_docs"),
        (F.col("observed_pairs") - F.col("dup_rows")).alias("surplus_collisions"),
        pround(
            F.col("n").cast("double") * (F.col("n") - 1) / 2 / 4294967296.0, 6
        ).alias("birthday_expected"),
        F.col("dup_rows").alias("true_dup_rows"),
    )


# ---------------------------------------------------------------------------
# l10 — cross-language duplicate leakage


@query(
    "ql10_cross_lang_dup_leakage",
    oracle="""
WITH fp AS (
  SELECT md5(lower(text)) AS f, lang FROM documents
), spans AS (
  SELECT f, CAST(COUNT(*) AS BIGINT) AS copies,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs
  FROM fp GROUP BY f
)
SELECT CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
       CAST(SUM(CASE WHEN langs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS cross_lang_groups,
       CAST(SUM(CASE WHEN langs > 1 THEN copies ELSE 0 END) AS BIGINT) AS docs_in_cross_lang_groups,
       CAST(MAX(langs) AS BIGINT) AS max_langs_per_group
FROM spans
""",
    tags=("dedup", "curation"),
)
def ql10_cross_lang_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language duplicate LEAKAGE: fingerprint groups whose
    copies carry MORE THAN ONE language label — each such group is
    either a mislabeled language (the common case: same English
    boilerplate labeled en and de by a flaky classifier) or genuinely
    language-agnostic content (code, numbers); both kinds poison
    per-language statistics (j21/j48/k03 all stratify by lang) and
    leak across per-language dedup shards that assume lang is a safe
    partition key. A nonzero count here means language CANNOT be used
    as a dedup blocking key without this measured recall loss —
    closing the loop with k41's blocking-cost model, which prices
    lang's CPU cost while this prices its correctness.

    Scale: one fingerprint groupBy carrying a distinct-lang count;
    1-row output.
    """
    d = table(spark, sf_dir, "documents")
    fp = d.select(F.md5(F.lower("text")).alias("f"), "lang")
    spans = fp.groupBy("f").agg(
        F.count(F.lit(1)).cast("bigint").alias("copies"),
        F.count_distinct("lang").cast("bigint").alias("langs"),
    )
    return spans.agg(
        F.sum((F.col("copies") > 1).cast("int")).cast("bigint").alias("dup_groups"),
        F.sum((F.col("langs") > 1).cast("int")).cast("bigint").alias("cross_lang_groups"),
        F.sum(F.when(F.col("langs") > 1, F.col("copies")).otherwise(0)).cast("bigint").alias(
            "docs_in_cross_lang_groups"
        ),
        F.max("langs").cast("bigint").alias("max_langs_per_group"),
    )


# ---------------------------------------------------------------------------
# l11-l14 — round-7 conversion twins: oracle-gated fixed-model audits for
# the four remaining rows-only queries without a hash-gated twin (q61
# ann_lsh, q66 minhash_mllib, qb29 kmeans_embeddings, qe15 pca_variance),
# in the l01/l05 style: fix the model (hyperplanes / hash seeds /
# centroids / projection) to something both engines can replay
# deterministically, then hash-gate the MACHINERY the production query
# runs on. No new suite prefix: these extend the existing round-9
# l-staging per the round-6 verdict's backlog freeze.

_L11_TABLES = 4
_L11_BITS = 4


@query(
    "ql11_lsh_routing_audit",
    oracle=f"""
WITH ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), hp0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS h,
         {_sql_md5fold('CAST(vec_id AS VARCHAR)')} AS fk
  FROM embeddings
  ORDER BY fk ASC, vec_id ASC
  LIMIT {_L11_TABLES * _L11_BITS}
), hp AS (
  SELECT h, CAST(ROW_NUMBER() OVER (ORDER BY fk ASC, vec_id ASC) AS INTEGER) - 1 AS hid
  FROM hp0
), bits AS (
  SELECT e.vec_id, hp.hid // {_L11_BITS} AS table_id, hp.hid % {_L11_BITS} AS bit_pos,
         CASE WHEN {sql_pround('list_sum(list_transform(range(1, 65), i -> e.v[i] * hp.h[i]))', 6)} >= 0
              THEN 1 ELSE 0 END AS bit
  FROM ev e CROSS JOIN hp
), keys AS (
  SELECT vec_id, table_id,
         CAST(SUM(CAST(bit * pow(2, bit_pos) AS BIGINT)) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id, table_id
)
SELECT CAST(table_id AS INTEGER) AS table_id, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM keys GROUP BY table_id, bucket
ORDER BY table_id, bucket
""",
    tags=("vector", "approx", "audit"),
)
def ql11_lsh_routing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED LSH routing audit — the deterministic half of q61
    (whose np.random hyperplanes no SQL oracle can replay): fix the
    {_L11_TABLES}x{_L11_BITS} sign-hash hyperplanes to hash-rank-picked
    corpus vectors (the l05/h12 fixed-budget rule), compute every
    vector's per-table bucket key by packing the sign bits of the
    round-6-quantized dot products, and value-hash-gate the resulting
    (table, bucket) occupancy histogram. This gates exactly the routing
    machinery q61 lives on — dot-product sign hashing, bit packing,
    bucket fan-out and balance — while the random-model variant stays
    property-tested (recall floor in test_vectors). Bucket balance here
    is also the candidate-join cost driver: one hot bucket = one
    quadratic hot spot.

    Scale: hyperplanes are a broadcast constant set ({_L11_TABLES * _L11_BITS}
    rows); routing is a constant fan-out with JVM zip_with/aggregate
    math and two grouped aggregations — the same per-row cost the q61
    router pays, with no data-sized shuffle beyond the bucket groupBy.
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    fold = _md5fold(F.col("vec_id").cast("string"))
    hp0 = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("h"), fold.alias("fk"))
        .orderBy(F.asc("fk"), F.asc("vec_id"))
        .limit(_L11_TABLES * _L11_BITS)
    )
    hp = hp0.select(
        "h",
        (
            F.row_number().over(Window.orderBy(F.asc("fk"), F.asc("vec_id"))) - F.lit(1)
        ).cast("integer").alias("hid"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("h"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    bits = emb.crossJoin(F.broadcast(hp)).select(
        "vec_id",
        (F.col("hid") / _L11_BITS).cast("integer").alias("table_id"),
        (F.col("hid") % _L11_BITS).alias("bit_pos"),
        (pround(dot, 6) >= 0).cast("integer").alias("bit"),
    )
    keys = bits.groupBy("vec_id", "table_id").agg(
        F.sum(
            (F.col("bit").cast("double") * F.pow(F.lit(2.0), F.col("bit_pos").cast("double")))
            .cast("bigint")
        )
        .cast("bigint")
        .alias("bucket")
    )
    return (
        keys.groupBy(F.col("table_id").cast("integer").alias("table_id"), "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("table_id", "bucket")
    )


_L12_BANDS = 4  # 8 md5 minhashes -> 4 bands of 2 rows (the qg04 banding)

_L12_SH_CTE = """
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                  i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingle
    FROM documents
  ) t
)"""


@query(
    "ql12_minhash_band_routing",
    oracle=f"""
WITH {_L12_SH_CTE},
sigs AS (
  SELECT doc_id, {', '.join(
      'MIN(' + _sql_md5fold("shingle || '#%d'" % i) + ') AS h%d' % i
      for i in range(8))}
  FROM sh GROUP BY doc_id
), banded AS (
  {' UNION ALL '.join(
      'SELECT doc_id, %d AS band, CAST(h%d AS VARCHAR) || %s || CAST(h%d AS VARCHAR) AS bucket FROM sigs'
      % (b, 2 * b, "','", 2 * b + 1)
      for b in range(_L12_BANDS))}
), sizes AS (
  SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS sz
  FROM banded GROUP BY band, bucket
)
SELECT CAST(band AS INTEGER) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
FROM sizes GROUP BY band ORDER BY band
""",
    tags=("dedup", "approx", "audit"),
)
def ql12_minhash_band_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED minhash band-routing audit — the deterministic twin
    of q66 (whose MLlib MinHashLSH hash seeds no SQL oracle can
    replay): compute the md5-portable 8-minhash signature (qg04/qg05's
    `_mh_mins` family), band it 2-rows-per-band into {_L12_BANDS}
    bucket tables, and value-hash-gate each band's bucket count, max
    bucket size, and total candidate-pair load (sum of C(size,2) over
    buckets). These three numbers ARE the routing behavior of an LSH
    banding index: candidate_pairs is exactly the number of pairs the
    q66 approxSimilarityJoin would test under this banding, and
    max_bucket is the quadratic hot-spot bound. Recall of the banding
    is separately gated by qg04; q66 itself stays rows-only (library
    seeds).

    Scale: one shingle explode + one 8-min groupBy (one shuffle
    computes all mins) + two bounded grouped aggregations; output is
    {_L12_BANDS} rows. No pair join is materialized — the candidate
    count comes from the bucket-size histogram, not from enumerating
    pairs.
    """
    d = table(spark, sf_dir, "documents")
    sigs = _mh_mins(shingle_arrays(d))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(",", F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).alias("bucket"),
            )
            for b in range(_L12_BANDS)
        ]
    )
    banded = sigs.select(F.explode(band_structs).alias("s")).select("s.band", "s.bucket")
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    return (
        sizes.groupBy(F.col("band").cast("integer").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("sz").cast("bigint").alias("max_bucket"),
            # integer DIV, not FP /: sz*(sz-1) can exceed 2^53 at scale and
            # the oracle uses exact // semantics (round-7 ADVICE item)
            F.sum(F.expr("(sz * (sz - 1)) DIV 2")).cast("bigint").alias("candidate_pairs"),
        )
        .orderBy("band")
    )


_L13_K = 8
_L13_KEY = (
    "lpad(CAST(CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS VARCHAR), 14, '0')"
    " || lpad(CAST(cid AS VARCHAR), 10, '0')"
)  # shared (d2, cid) lexicographic min_by key — the l05 padded-string form


@query(
    "ql13_lloyd_step_audit",
    oracle=f"""
WITH ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c
  FROM embeddings
  ORDER BY {_sql_md5fold('CAST(vec_id AS VARCHAR)')} ASC, vec_id ASC
  LIMIT {_L13_K}
), d0 AS (
  SELECT e.vec_id, c0.cid,
         {sql_pround('list_sum(list_transform(range(1, 65), i -> (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i])))', 6)} AS d2
  FROM ev e CROSS JOIN c0
), a0 AS (
  SELECT vec_id, MIN_BY(cid, {_L13_KEY}) AS cid FROM d0 GROUP BY vec_id
), xdim AS (
  SELECT e.vec_id, t.i AS dim, {sql_pround('e.v[t.i]', 6)} AS xq
  FROM ev e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
), c1 AS (
  SELECT a0.cid, x.dim,
         {sql_pround('CAST(SUM(CAST(x.xq AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 9)} AS m
  FROM a0 JOIN xdim x USING (vec_id) GROUP BY a0.cid, x.dim
), d1 AS (
  SELECT x.vec_id, c1.cid,
         {sql_pround('CAST(SUM(CAST(' + sql_pround('(x.xq - c1.m) * (x.xq - c1.m)', 9) + ' AS DECIMAL(25,12))) AS DOUBLE)', 6)} AS d2
  FROM xdim x JOIN c1 ON c1.dim = x.dim
  GROUP BY x.vec_id, c1.cid
), a1 AS (
  SELECT vec_id, MIN_BY(cid, {_L13_KEY}) AS cid, MIN(d2) AS d2 FROM d1 GROUP BY vec_id
), c0d AS (
  SELECT cid, t.i AS dim, {sql_pround('c[t.i]', 6)} AS cq
  FROM c0 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
), shift AS (
  SELECT c0d.cid,
         {sql_pround('CAST(SUM(CAST(' + sql_pround('(c1.m - c0d.cq) * (c1.m - c0d.cq)', 9) + ' AS DECIMAL(25,12))) AS DOUBLE)', 6)} AS shift2
  FROM c0d JOIN c1 ON c1.cid = c0d.cid AND c1.dim = c0d.dim
  GROUP BY c0d.cid
), n0 AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_init FROM a0 GROUP BY cid
), n1 AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_after,
         CAST(SUM(CAST(d2 AS DECIMAL(25,6))) AS DOUBLE) AS inertia
  FROM a1 GROUP BY cid
), stay AS (
  SELECT a0.cid, CAST(COUNT(*) AS BIGINT) AS n_stayed
  FROM a0 JOIN a1 USING (vec_id) WHERE a0.cid = a1.cid GROUP BY a0.cid
)
SELECT CAST(c0.cid AS BIGINT) AS cluster,
       COALESCE(n0.n_init, 0) AS n_init,
       COALESCE(n1.n_after, 0) AS n_after,
       COALESCE(stay.n_stayed, 0) AS n_stayed,
       {sql_pround('COALESCE(n1.inertia, 0.0)', 6)} AS inertia_after,
       COALESCE(shift.shift2, 0.0) AS centroid_shift2
FROM c0
LEFT JOIN n0 ON n0.cid = c0.cid
LEFT JOIN n1 ON n1.cid = c0.cid
LEFT JOIN stay ON stay.cid = c0.cid
LEFT JOIN shift ON shift.cid = c0.cid
ORDER BY cluster
""",
    tags=("vector", "ml", "audit"),
)
def ql13_lloyd_step_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED Lloyd-iteration audit — the deterministic twin of
    qb29 (whose 5-iteration k-means fit no SQL oracle can replay): fix
    the {_L13_K} init centroids to hash-rank-picked corpus vectors,
    then run ONE full Lloyd step with both engines walking identical
    rationals — assign (round-6 packed-array distances, l05's padded
    min_by tie key), update (per-dimension DECIMAL-exact means of
    round-6-quantized components), reassign against the new centroids
    (round-9 term-quantized DECIMAL sums), and report per cluster the
    init/after sizes, how many members stayed, the post-step inertia,
    and the squared centroid shift. This gates every moving part of
    the qb29 fit — argmin tie handling, the mean update, convergence
    accounting — while the multi-iteration trained model stays
    property-tested (monotone cost, repartition determinism in
    test_vectors).

    Scale: assignment is a k-way broadcast fan-out (the production
    shape, ml/kmeans.py); the update and reassignment here run in the
    exploded (vec, dim) relational form so every float sum is an
    order-free DECIMAL aggregate — a k*dim row blowup the AUDIT
    accepts for exactness; the production transform keeps packed
    arrays and JVM argmin.
    """
    emb = table(spark, sf_dir, "embeddings")
    ev = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    fold = _md5fold(F.col("vec_id").cast("string"))
    c0 = (
        emb.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("c"),
            fold.alias("fk"),
        )
        .orderBy(F.asc("fk"), F.asc("cid"))
        .limit(_L13_K)
        .drop("fk")
        .transform(cut_lineage)  # tiny constant set; breaks the reuse lineage
    )

    def _key(d2: Column, cid: Column) -> Column:
        return F.concat(
            F.lpad(F.floor(d2 * 1_000_000 + 0.5).cast("bigint").cast("string"), 14, "0"),
            F.lpad(cid.cast("string"), 10, "0"),
        )

    d2_0 = pround(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    d0 = ev.crossJoin(F.broadcast(c0)).select("vec_id", "cid", d2_0.alias("d2"))
    a0 = d0.groupBy("vec_id").agg(F.min_by("cid", _key(F.col("d2"), F.col("cid"))).alias("cid"))
    xdim = ev.select(
        "vec_id", F.posexplode("v").alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), pround(F.col("x"), 6).alias("xq"))
    c1 = (
        a0.join(xdim, "vec_id")
        .groupBy("cid", "dim")
        .agg(
            pround(
                F.sum(F.col("xq").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 9
            ).alias("m")
        )
        .transform(cut_lineage)  # k*dim rows; reused by d1 and shift
    )
    d1 = (
        xdim.join(c1.select("cid", "dim", "m"), "dim")
        .groupBy("vec_id", "cid")
        .agg(
            pround(
                F.sum(
                    pround((F.col("xq") - F.col("m")) * (F.col("xq") - F.col("m")), 9).cast(
                        "decimal(25,12)"
                    )
                ).cast("double"),
                6,
            ).alias("d2")
        )
    )
    a1 = d1.groupBy("vec_id").agg(
        F.min_by("cid", _key(F.col("d2"), F.col("cid"))).alias("cid"), F.min("d2").alias("d2")
    )
    c0d = c0.select(
        "cid", F.posexplode("c").alias("pos", "cx")
    ).select("cid", (F.col("pos") + 1).alias("dim"), pround(F.col("cx"), 6).alias("cq"))
    shift = (
        c0d.join(c1, ["cid", "dim"])
        .groupBy("cid")
        .agg(
            pround(
                F.sum(
                    pround((F.col("m") - F.col("cq")) * (F.col("m") - F.col("cq")), 9).cast(
                        "decimal(25,12)"
                    )
                ).cast("double"),
                6,
            ).alias("shift2")
        )
    )
    n0 = a0.groupBy("cid").agg(F.count(F.lit(1)).cast("bigint").alias("n_init"))
    n1 = a1.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_after"),
        F.sum(F.col("d2").cast("decimal(25,6)")).cast("double").alias("inertia"),
    )
    stay = (
        a0.alias("x")
        .join(a1.alias("y"), "vec_id")
        .filter(F.col("x.cid") == F.col("y.cid"))
        .groupBy(F.col("x.cid").alias("cid"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_stayed"))
    )
    return (
        c0.select(F.col("cid").cast("bigint").alias("cluster"))
        .join(n0.withColumnRenamed("cid", "cluster"), "cluster", "left")
        .join(n1.withColumnRenamed("cid", "cluster"), "cluster", "left")
        .join(stay.withColumnRenamed("cid", "cluster"), "cluster", "left")
        .join(shift.withColumnRenamed("cid", "cluster"), "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_init", F.lit(0)).cast("bigint").alias("n_init"),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            F.coalesce("n_stayed", F.lit(0)).cast("bigint").alias("n_stayed"),
            pround(F.coalesce("inertia", F.lit(0.0)), 6).alias("inertia_after"),
            F.coalesce("shift2", F.lit(0.0)).alias("centroid_shift2"),
        )
        .orderBy("cluster")
    )


_L14_COMPONENTS = 8


def _l14_signs() -> list[list[float]]:
    """+-1 sign matrix for the fixed projection, derived from md5 parity
    of 'component|dim' so DuckDB replays it bit-for-bit in-query while
    Spark bakes it in as literal arrays (driver-side literals are free;
    int(md5[:8],16) == the positional hex fold of _sql_md5fold)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{c}|{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1.0
            for i in range(1, 65)
        ]
        for c in range(_L14_COMPONENTS)
    ]


@query(
    "ql14_projection_variance_audit",
    oracle=f"""
WITH ev AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), comps AS (
  SELECT unnest(range(0, {_L14_COMPONENTS})) AS c
), proj AS (
  SELECT comps.c,
         {sql_pround("list_sum(list_transform(range(1, 65), d -> (CASE WHEN " + _sql_md5fold("CAST(comps.c AS VARCHAR) || '|' || CAST(d AS VARCHAR)") + " % 2 = 0 THEN 1.0 ELSE -1.0 END) * ev.v[d])) / 8.0", 6)} AS p
  FROM ev CROSS JOIN comps
), stats AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS n,
         {sql_pround('CAST(SUM(CAST(p AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 9)} AS mean_p,
         {sql_pround('CAST(SUM(CAST(' + sql_pround('p * p', 6) + ' AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 9)} AS ex2
  FROM proj GROUP BY c
), vars AS (
  SELECT c, n, {sql_pround('mean_p', 6)} AS mean_proj,
         {sql_pround('ex2 - mean_p * mean_p', 6)} AS var_proj
  FROM stats
)
SELECT CAST(c AS INTEGER) AS component, n, mean_proj, var_proj,
       {sql_pround('var_proj / CAST(SUM(CAST(var_proj AS DECIMAL(25,6))) OVER () AS DOUBLE)', 6)} AS var_ratio
FROM vars
ORDER BY component
""",
    tags=("vector", "ml", "audit"),
)
def ql14_projection_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED projection-variance audit — the deterministic twin of
    qe15 (whose eigendecomposition no SQL oracle can replay): project
    every embedding onto {_L14_COMPONENTS} FIXED +-1-signed components
    (signs = md5 parity of 'component|dim', scaled by 1/sqrt(64) = /8 —
    a seeded random projection both engines reconstruct exactly) and
    hash-gate each component's projected mean, variance, and share of
    total projected variance. This gates the projection + moment
    machinery qe15's variance report is built on — per-component
    DECIMAL-exact sums, the E[x^2]-mean^2 identity, the ratio
    normalization — while the eigen-model itself stays property-tested
    (trace identity, orthonormality, projected-variance == eigenvalue
    in test_vectors).

    Scale: one constant {_L14_COMPONENTS}-way per-row fan-out (JVM
    zip_with/aggregate dot products against literal sign arrays — the
    same per-row cost qe15's covariance accumulation pays), one grouped
    DECIMAL aggregation, and an 8-row window for the ratio. No shuffle
    touches more than corpus-row-count * {_L14_COMPONENTS} scalar rows.
    """
    ev = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    signs = _l14_signs()
    projs = F.array(
        *[
            F.struct(
                F.lit(c).alias("c"),
                pround(
                    F.aggregate(
                        F.zip_with(
                            F.array(*[F.lit(s) for s in signs[c]]),
                            F.col("v"),
                            lambda s, x: s * x,
                        ),
                        F.lit(0.0),
                        lambda acc, t: acc + t,
                    )
                    / 8.0,
                    6,
                ).alias("p"),
            )
            for c in range(_L14_COMPONENTS)
        ]
    )
    proj = ev.select(F.explode(projs).alias("s")).select("s.c", "s.p")
    stats = proj.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        pround(F.sum(F.col("p").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 9).alias(
            "mean_p"
        ),
        pround(
            F.sum(pround(F.col("p") * F.col("p"), 6).cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("ex2"),
    )
    vars_ = stats.select(
        "c",
        "n",
        pround(F.col("mean_p"), 6).alias("mean_proj"),
        pround(F.col("ex2") - F.col("mean_p") * F.col("mean_p"), 6).alias("var_proj"),
    )
    w = Window.partitionBy()  # 8 bounded rows — allowed partition-less window
    return vars_.select(
        F.col("c").cast("integer").alias("component"),
        "n",
        "mean_proj",
        "var_proj",
        pround(
            F.col("var_proj")
            / F.sum(F.col("var_proj").cast("decimal(25,6)")).over(w).cast("double"),
            6,
        ).alias("var_ratio"),
    ).orderBy("component")
