"""Round-6 staged extensions, second batch (j19+): nonparametric and
classical statistics (Kendall tau-b, Brown-Forsythe/Levene, Jarque-Bera,
Cramer's V with bias correction, Mann-Kendall trend, Wald-Wolfowitz runs
test, Durbin-Watson, Welch's t), event/time-series operators (truncated
EWMA control bands, McNemar paired test, burstiness, time-weighted
average, capped sessionization), and engine/infra audits (bitemporal
as-of, FK cascade orphans, mergeable variance, write-audit-publish,
compaction bin-packing, min/max pruning, incremental agg maintenance,
block sampling, group-by cardinality, dynamic partition overwrite).

Keys are j-prefixed (j19-j50): j sorts AFTER i28, so these stay OUTSIDE
the (exactly full) round-6 driver window by design and rotate in next
round with j01-j18 — the same staging that worked for z/e/f/h (history
in __spark_entry__.py). All are oracle-gated unless noted.

Engine style unchanged: pure JVM DataFrame ops, pround floor-rounding on
every oracle-gated double, DECIMAL-summed float aggregates, every ORDER
BY carries a unique tie-break, scalar-only output columns, partition-less
windows only over bounded aggregates.
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
from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold, _sql_md5fold
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scoped_conf, scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import spread, table

_DAY_US = 86_400_000_000


def _day_idx(col: str = "ts") -> Column:
    """Integer day index of a timestamp (µs since epoch DIV day)."""
    return (F.unix_micros(F.date_trunc("day", col)) / _DAY_US).cast("bigint")


_SQL_DAY_IDX = f"epoch_us(date_trunc('day', ts)) // {_DAY_US}"


# ---------------------------------------------------------------------------
# j19 — Kendall tau-b over the joint value dictionary


@query(
    "qj19_kendall_tau",
    oracle="""
WITH cells AS (
  SELECT l_quantity AS q, l_discount AS d, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_quantity, l_discount
), pairs AS (
  SELECT CAST(SUM(CASE WHEN (b.q - a.q) * (b.d - a.d) > 0
                       THEN CAST(a.cnt * b.cnt AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS c_sum,
         CAST(SUM(CASE WHEN (b.q - a.q) * (b.d - a.d) < 0
                       THEN CAST(a.cnt * b.cnt AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS d_sum
  FROM cells a JOIN cells b
    ON (a.q < b.q) OR (a.q = b.q AND a.d < b.d)
), qm AS (
  SELECT CAST(SUM(CAST(cnt * (cnt - 1) AS DECIMAL(38,0))) AS DECIMAL(38,0)) / 2 AS n1
  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS cnt FROM cells GROUP BY q)
), dm AS (
  SELECT CAST(SUM(CAST(cnt * (cnt - 1) AS DECIMAL(38,0))) AS DECIMAL(38,0)) / 2 AS n2
  FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS cnt FROM cells GROUP BY d)
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cells
)
SELECT t.n AS n,
       CAST(p.c_sum AS BIGINT) AS concordant,
       CAST(p.d_sum AS BIGINT) AS discordant,
       {PR}
FROM pairs p, qm, dm, tot t
""".replace(
        "{PR}",
        sql_pround(
            "(CAST(p.c_sum AS DOUBLE) - CAST(p.d_sum AS DOUBLE)) / "
            "sqrt((CAST(t.n AS DOUBLE) * (t.n - 1) / 2 - CAST(qm.n1 AS DOUBLE)) * "
            "(CAST(t.n AS DOUBLE) * (t.n - 1) / 2 - CAST(dm.n2 AS DOUBLE)))",
            6,
        )
        + " AS tau_b",
    ),
    tags=("statistics",),
)
def qj19_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between l_quantity and l_discount
    — the standard nonparametric association measure for heavily-tied
    ordinal data — computed EXACTLY over the joint value DICTIONARY
    (|quantity lattice| x |discount lattice| = 50 x 11 = 550 cells),
    never over row pairs: concordant/discordant weights are cnt_a*cnt_b
    over ordered cell pairs, tie terms n1/n2 come from the marginals,
    tau_b = (C-D)/sqrt((n0-n1)(n0-n2)).

    Scale: one map-side-combinable groupBy collapses any row count to
    the fixed 550-cell dictionary; the theta self-join runs on that
    bounded aggregate (broadcast, ~150k cell pairs regardless of SF).
    All counts stay exact DECIMAL(38,0) until the single final float
    division; at 100 TB the cell counts merely grow, the plan does not.
    """
    li = table(spark, sf_dir, "lineitem")
    # bounded (quantity x discount) dictionary, reused by the theta
    # self-join and both tie margins: materialize once (scan-lint)
    cells = li.groupBy(
        F.col("l_quantity").alias("q"), F.col("l_discount").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt")).transform(cut_lineage)
    a, b = cells.alias("a"), cells.alias("b")
    cond = (F.col("a.q") < F.col("b.q")) | (
        (F.col("a.q") == F.col("b.q")) & (F.col("a.d") < F.col("b.d"))
    )
    prod = (F.col("a.cnt") * F.col("b.cnt")).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    sgn = (F.col("b.q") - F.col("a.q")) * (F.col("b.d") - F.col("a.d"))
    pairs = a.join(F.broadcast(b), cond, "inner").agg(
        F.sum(F.when(sgn > 0, prod).otherwise(zero)).cast("decimal(38,0)").alias("c_sum"),
        F.sum(F.when(sgn < 0, prod).otherwise(zero)).cast("decimal(38,0)").alias("d_sum"),
    )
    qm = (
        cells.groupBy("q")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .agg((F.sum((F.col("cnt") * (F.col("cnt") - 1)).cast("decimal(38,0)")) / 2).alias("n1"))
    )
    dm = (
        cells.groupBy("d")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .agg((F.sum((F.col("cnt") * (F.col("cnt") - 1)).cast("decimal(38,0)")) / 2).alias("n2"))
    )
    tot = cells.agg(F.sum("cnt").cast("bigint").alias("n"))
    j = pairs.crossJoin(F.broadcast(qm)).crossJoin(F.broadcast(dm)).crossJoin(F.broadcast(tot))
    n0 = F.col("n").cast("double") * (F.col("n") - 1) / 2
    tau = (F.col("c_sum").cast("double") - F.col("d_sum").cast("double")) / F.sqrt(
        (n0 - F.col("n1").cast("double")) * (n0 - F.col("n2").cast("double"))
    )
    return j.select(
        "n",
        F.col("c_sum").cast("bigint").alias("concordant"),
        F.col("d_sum").cast("bigint").alias("discordant"),
        pround(tau, 6).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# j20 — Brown-Forsythe (median-based Levene) homogeneity-of-variance test


@query(
    "qj20_levene_test",
    oracle=f"""
WITH med AS (
  SELECT o_orderpriority AS grp, median(o_totalprice) AS med
  FROM orders GROUP BY o_orderpriority
), z AS (
  SELECT m.grp, abs(o.o_totalprice - m.med) AS z
  FROM orders o JOIN med m ON o.o_orderpriority = m.grp
), gstat AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_j, {sql_dsum('z')} AS s_j
  FROM z GROUP BY grp
), gbar AS (
  SELECT grp, n_j, s_j / n_j AS zbar_j FROM gstat
), gl AS (
  SELECT CAST(SUM(n_j) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(s_j * n_j AS DECIMAL(38,6)) / n_j) AS DOUBLE) / SUM(n_j) AS zbar
  FROM gstat
), num AS (
  SELECT CAST(SUM(CAST(floor(n_j * (zbar_j - g.zbar) * (zbar_j - g.zbar) + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS num
  FROM gbar CROSS JOIN gl g
), den AS (
  SELECT CAST(SUM(CAST(floor((z.z - b.zbar_j) * (z.z - b.zbar_j) + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS den
  FROM z JOIN gbar b ON z.grp = b.grp
)
SELECT g.k AS k, g.n AS n,
       {sql_pround('(CAST(g.n AS DOUBLE) - g.k) / (g.k - 1) * num.num / den.den', 6)} AS w_stat
FROM gl g, num, den
""",
    tags=("statistics",),
)
def qj20_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene's test with the median center) for
    homogeneity of o_totalprice variance across the 5 order priorities:
    z_ij = |x_ij - median_j|, W = ((N-k)/(k-1)) * SUM n_j(zbar_j-zbar)^2
    / SUM (z_ij - zbar_j)^2 — the robust pre-check before pooled-variance
    tests (pairs with j02's ANOVA F on means).

    Determinism: group medians are interpolated midpoints of exact cent
    values (bit-identical on both engines); zbar_j is an exact DECIMAL
    sum / count; numerator and denominator terms are floor-quantized to
    integers (values ~1e10 < 2^53, exact) and DECIMAL-summed so the two
    float divisions at the end are the only unordered ops.

    Scale: two grouped passes over orders plus a 5-row broadcast join of
    medians back to rows — no window over raw rows, no driver loop.
    """
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), "o_totalprice"
    )
    med = o.groupBy("grp").agg(F.median("o_totalprice").alias("med"))
    z = o.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("o_totalprice") - F.col("med")).alias("z")
    )
    # 5-row group-stat table with three consumers (gbar, glob, den's
    # broadcast): materialize once so each doesn't replay the orders
    # scan + median join lineage (scan-lint)
    gstat = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_j"), dsum("z").alias("s_j")
    ).transform(cut_lineage)
    gbar = gstat.select("grp", "n_j", (F.col("s_j") / F.col("n_j")).alias("zbar_j"))
    glob = gstat.agg(
        F.sum("n_j").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        (
            F.sum((F.col("s_j") * F.col("n_j")).cast("decimal(38,6)") / F.col("n_j")).cast(
                "double"
            )
            / F.sum("n_j")
        ).alias("zbar"),
    )
    num = (
        gbar.crossJoin(F.broadcast(glob.select("zbar")))
        .agg(
            F.sum(
                F.floor(
                    F.col("n_j") * (F.col("zbar_j") - F.col("zbar")) * (F.col("zbar_j") - F.col("zbar"))
                    + 0.5
                ).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("num")
        )
    )
    den = (
        z.join(F.broadcast(gbar.select("grp", "zbar_j")), "grp")
        .agg(
            F.sum(
                F.floor((F.col("z") - F.col("zbar_j")) * (F.col("z") - F.col("zbar_j")) + 0.5).cast(
                    "decimal(38,0)"
                )
            )
            .cast("double")
            .alias("den")
        )
    )
    j = glob.crossJoin(F.broadcast(num)).crossJoin(F.broadcast(den))
    w = (F.col("n").cast("double") - F.col("k")) / (F.col("k") - 1) * F.col("num") / F.col("den")
    return j.select("k", "n", pround(w, 6).alias("w_stat"))


# ---------------------------------------------------------------------------
# j21 — Jarque-Bera normality test from exact integer power sums


@query(
    "qj21_jarque_bera",
    oracle=f"""
WITH s AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(n_chars * n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(n_chars * n_chars * n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s4
  FROM documents GROUP BY lang
), m AS (
  SELECT lang, n,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM s
)
SELECT lang, n,
       {sql_pround('m3 / (m2 * sqrt(m2))', 6)} AS skewness,
       {sql_pround('m4 / (m2 * m2) - 3', 6)} AS kurtosis_excess,
       {sql_pround('CAST(n AS DOUBLE) / 6 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2))) + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4)', 6)} AS jb_stat
FROM m
ORDER BY lang
""",
    tags=("statistics", "text"),
)
def qj21_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of the per-language document-length
    distribution: skewness g1 = m3/m2^1.5, excess kurtosis g2 = m4/m2^2
    - 3, JB = n/6 (g1^2 + g2^2/4) — the standard screen before any
    normality-assuming downstream stat (pairs with qf10's raw moments by
    adding the TEST, per group).

    Determinism: n_chars is an INTEGER, so the four power sums are exact
    DECIMAL(38,0) (x^4 <= ~1e11 per term, no overflow); every later op
    is written as the identical float expression on both engines, with
    m2^1.5 spelled m2*sqrt(m2) (sqrt is IEEE-correctly-rounded; pow is
    libm-dependent and is avoided).

    Scale: ONE map-side-combinable groupBy over documents; 4-row output.
    """
    d = table(spark, sf_dir, "documents")
    c = F.col("n_chars")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(c.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((c * c).cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum((c * c * c).cast("decimal(38,0)")).cast("double").alias("s3"),
        F.sum((c * c * c * c).cast("decimal(38,0)")).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    m = s.select("lang", "n", m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    g1 = F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    g2 = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    jb = F.col("n").cast("double") / 6 * (g1 * g1 + g2 * g2 / 4)
    return m.select(
        "lang",
        "n",
        pround(g1, 6).alias("skewness"),
        pround(g2, 6).alias("kurtosis_excess"),
        pround(jb, 6).alias("jb_stat"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# j22 — Cramer's V (with Bergsma bias correction) for lang x source


@query(
    "qj22_cramers_v",
    oracle=f"""
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
), rm AS (
  SELECT lang, CAST(SUM(o) AS BIGINT) AS r_tot FROM cells GROUP BY lang
), cm AS (
  SELECT source, CAST(SUM(o) AS BIGINT) AS c_tot FROM cells GROUP BY source
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS c
  FROM cells
), chi AS (
  SELECT CAST(SUM(CAST({sql_pround('(COALESCE(ce.o, 0) - CAST(rm.r_tot AS DOUBLE) * cm.c_tot / t.n) * (COALESCE(ce.o, 0) - CAST(rm.r_tot AS DOUBLE) * cm.c_tot / t.n) / (CAST(rm.r_tot AS DOUBLE) * cm.c_tot / t.n)', 6)} AS DECIMAL(25,6))) AS DOUBLE) AS chi2
  FROM rm CROSS JOIN cm CROSS JOIN tot t
  LEFT JOIN cells ce ON ce.lang = rm.lang AND ce.source = cm.source
)
SELECT t.n AS n, t.r AS r, t.c AS c,
       {sql_pround('chi.chi2', 6)} AS chi2,
       {sql_pround('sqrt(chi.chi2 / t.n / (least(t.r, t.c) - 1))', 6)} AS cramers_v,
       {sql_pround('''sqrt(greatest(0.0, chi.chi2 / t.n - CAST((t.r - 1) * (t.c - 1) AS DOUBLE) / (t.n - 1)) /
         (least(t.r - CAST((t.r - 1) * (t.r - 1) AS DOUBLE) / (t.n - 1),
                t.c - CAST((t.c - 1) * (t.c - 1) AS DOUBLE) / (t.n - 1)) - 1))''', 6)} AS cramers_v_bc
FROM chi CROSS JOIN tot t
""",
    tags=("statistics", "text"),
)
def qj22_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V effect size for the lang x source contingency of the
    document corpus, both the classical estimator sqrt(phi2/min(r-1,c-1))
    and the Bergsma-Wicher bias-CORRECTED version (phi2 shrunk by
    (r-1)(c-1)/(n-1), dimensions shrunk likewise) — chi-square (qg15)
    says "is there association", V says "how much", and the corrected V
    is the one safe to compare across differently-sized corpora.

    Zero cells: the expected-count grid is the FULL r x c cross of the
    two bounded margins (LEFT JOIN puts o=0 where a cell is absent), so
    chi2 includes empty-cell terms exactly like the textbook formula.

    Scale: one groupBy to the bounded cell dictionary; margins and the
    r x c grid are broadcast-sized aggregates. Chi2 terms are
    floor-quantized to the 1e-6 grid and DECIMAL-summed (order-free).
    """
    d = table(spark, sf_dir, "documents")
    # bounded lang x source cell dictionary with four consumers:
    # materialize once so margins don't replay the scan (scan-lint)
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    ).transform(cut_lineage)
    rm = cells.groupBy("lang").agg(F.sum("o").cast("bigint").alias("r_tot"))
    cm = cells.groupBy("source").agg(F.sum("o").cast("bigint").alias("c_tot"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count_distinct("lang").cast("bigint").alias("r"),
        F.count_distinct("source").cast("bigint").alias("c"),
    )
    grid = (
        rm.crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(cells), ["lang", "source"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    chi = grid.agg(F.sum(pround(term, 6).cast("decimal(25,6)")).cast("double").alias("chi2"))
    j = chi.crossJoin(F.broadcast(tot))
    r, c, n = F.col("r"), F.col("c"), F.col("n")
    phi2 = F.col("chi2") / n
    v = F.sqrt(phi2 / (F.least(r, c) - 1))
    phi2c = F.greatest(F.lit(0.0), phi2 - ((r - 1) * (c - 1)).cast("double") / (n - 1))
    rc = r - ((r - 1) * (r - 1)).cast("double") / (n - 1)
    cc = c - ((c - 1) * (c - 1)).cast("double") / (n - 1)
    vbc = F.sqrt(phi2c / (F.least(rc, cc) - 1))
    return j.select(
        "n",
        "r",
        "c",
        pround(F.col("chi2"), 6).alias("chi2"),
        pround(v, 6).alias("cramers_v"),
        pround(vbc, 6).alias("cramers_v_bc"),
    )


# ---------------------------------------------------------------------------
# j23 — Mann-Kendall trend test on the daily event-count series


@query(
    "qj23_mann_kendall",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
), s AS (
  SELECT CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1 WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.di < b.di
), ties AS (
  SELECT CAST(COALESCE(SUM(CAST(t * (t - 1) * (2 * t + 5) AS BIGINT)), 0) AS BIGINT) AS tt
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY cnt)
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
)
SELECT nn.n AS n_days, s.s_stat AS s_stat,
       {sql_pround('(CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5) - ties.tt) / 18.0', 6)} AS var_s,
       {sql_pround('''CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5) - ties.tt) / 18.0)
             WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5) - ties.tt) / 18.0)
             ELSE 0.0 END''', 6)} AS z_stat
FROM s, ties, nn
""",
    tags=("statistics", "events"),
)
def qj23_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall nonparametric trend test on the daily event-count
    series: S = sum over day pairs i<j of sign(c_j - c_i), variance with
    the tie correction sum t(t-1)(2t+5)/18, continuity-corrected
    Z = (S -/+ 1)/sqrt(Var) — the standard monotone-trend detector for
    short daily series where OLS slopes (j13 Theil-Sen's complement) are
    distribution-sensitive.

    Scale: events collapse to the bounded day lattice first (one
    map-side-combinable groupBy); the pair join runs on that ~30-row
    aggregate, broadcast. S and the tie term are exact integers; the
    two float ops at the end are engine-identical.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(_day_idx().alias("di")).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    a, b = daily.alias("a"), daily.alias("b")
    s = a.join(F.broadcast(b), F.col("a.di") < F.col("b.di"), "inner").agg(
        F.sum(
            F.when(F.col("b.cnt") > F.col("a.cnt"), 1)
            .when(F.col("b.cnt") < F.col("a.cnt"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("cnt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.coalesce(
                F.sum((F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).cast("bigint")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = s.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(nn))
    var_s = (
        F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tt")
    ) / 18.0
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        F.col("n").alias("n_days"),
        "s_stat",
        pround(var_s, 6).alias("var_s"),
        pround(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# j24 — Wald-Wolfowitz runs test on daily revenue above/below median


@query(
    "qj24_runs_test",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), med AS (
  SELECT median(rev) AS med FROM daily
), signs AS (
  SELECT di, CASE WHEN rev > med THEN 1 ELSE 0 END AS sgn
  FROM daily CROSS JOIN med
  WHERE rev <> med
), runs AS (
  SELECT CAST(SUM(CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END) AS BIGINT) AS r,
         CAST(SUM(sgn) AS BIGINT) AS n1,
         CAST(SUM(1 - sgn) AS BIGINT) AS n2
  FROM (SELECT sgn, lag(sgn) OVER (ORDER BY di ASC) AS prev FROM signs)
)
SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
       {sql_pround('2.0 * n1 * n2 / (n1 + n2) + 1', 6)} AS expected_runs,
       {sql_pround('''(r - (2.0 * n1 * n2 / (n1 + n2) + 1)) /
        sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
             ((CAST(n1 + n2 AS DOUBLE)) * (n1 + n2) * (n1 + n2 - 1)))''', 6)} AS z_stat
FROM runs
""",
    tags=("statistics", "events"),
)
def qj24_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily revenue
    series: days are labeled above/below the median daily revenue
    (median-equal days dropped, the textbook convention), runs of equal
    labels are counted via one lag over the day lattice, and
    Z = (R - E[R])/sqrt(Var[R]) with E[R] = 2 n1 n2/(n1+n2) + 1 — the
    classical serial-dependence screen that complements i12's ACF
    without assuming stationarity of magnitudes.

    Determinism: daily revenue is a DECIMAL-exact sum cast to double;
    the median is the interpolated midpoint of two identical doubles on
    both engines; all remaining counts are integers.

    Scale: one grouped pass to the ~30-row day aggregate; the lag window
    is partition-less by necessity but consumes that bounded aggregate,
    never raw rows (the repo's bounded-lattice window rule).
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(_day_idx().alias("di")).agg(dsum("value").alias("rev"))
    med = daily.agg(F.median("rev").alias("med"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("med"))
        .select("di", F.when(F.col("rev") > F.col("med"), 1).otherwise(0).alias("sgn"))
    )
    w = Window.orderBy(F.asc("di"))  # bounded: day lattice aggregate
    lagged = signs.withColumn("prev", F.lag("sgn").over(w))
    runs = lagged.agg(
        F.sum(F.when(F.col("prev").isNull() | (F.col("sgn") != F.col("prev")), 1).otherwise(0))
        .cast("bigint")
        .alias("r"),
        F.sum("sgn").cast("bigint").alias("n1"),
        F.sum(1 - F.col("sgn")).cast("bigint").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    er = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    z = (r - er) / F.sqrt(var)
    return runs.select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        r.alias("n_runs"),
        pround(er, 6).alias("expected_runs"),
        pround(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# j25 — Durbin-Watson serial-correlation statistic of the daily series


@query(
    "qj25_durbin_watson",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), mu AS (
  SELECT CAST(SUM(CAST(rev AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS mean_rev,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily
), resid AS (
  SELECT di, rev - mean_rev AS e,
         lag(rev - mean_rev) OVER (ORDER BY di ASC) AS e_prev
  FROM daily CROSS JOIN mu
), sums AS (
  SELECT
    CAST(SUM(CAST({sql_pround('(e - e_prev) * (e - e_prev)', 6)} AS DECIMAL(25,6))) AS DOUBLE) AS num,
    CAST(SUM(CAST({sql_pround('e * e', 6)} AS DECIMAL(25,6))) AS DOUBLE) AS den
  FROM resid
)
SELECT mu.n AS n_days,
       {sql_pround('sums.num / sums.den', 6)} AS dw_stat,
       {sql_pround('1.0 - sums.num / sums.den / 2.0', 6)} AS rho_hat
FROM sums CROSS JOIN mu
""",
    tags=("statistics", "events"),
)
def qj25_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of the mean-centered daily revenue
    series: DW = sum (e_t - e_{t-1})^2 / sum e_t^2 (and the implied
    lag-1 autocorrelation rho_hat = 1 - DW/2) — the classical residual
    serial-correlation diagnostic that complements i12's ACF (which
    reports correlations) with the TEST statistic regression tooling
    expects. Note the numerator's lag skips the first day (NULL e_prev
    drops the term), exactly the textbook definition.

    Determinism: daily revenue and its mean come from exact DECIMAL
    sums; each quadratic term is floor-quantized to the 1e-6 grid and
    DECIMAL-summed, so both engines sum identical rationals in any
    order. The lag window is partition-less but consumes the bounded
    ~30-row day aggregate, never raw events.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(_day_idx().alias("di")).agg(dsum("value").alias("rev"))
    mu = daily.agg(
        (F.sum(F.col("rev").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias(
            "mean_rev"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy(F.asc("di"))  # bounded: day lattice aggregate
    resid = (
        daily.crossJoin(F.broadcast(mu))
        .select("di", (F.col("rev") - F.col("mean_rev")).alias("e"))
        .withColumn("e_prev", F.lag("e").over(w))
    )
    sums = resid.agg(
        F.sum(pround((F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev")), 6).cast("decimal(25,6)"))
        .cast("double")
        .alias("num"),
        F.sum(pround(F.col("e") * F.col("e"), 6).cast("decimal(25,6)")).cast("double").alias("den"),
    )
    j = sums.crossJoin(F.broadcast(mu.select("n")))
    dw = F.col("num") / F.col("den")
    return j.select(
        F.col("n").alias("n_days"),
        pround(dw, 6).alias("dw_stat"),
        pround(1.0 - dw / 2.0, 6).alias("rho_hat"),
    )


# ---------------------------------------------------------------------------
# j26 — truncated-EWMA control band over the daily series

_EWMA_LAM = 0.3
_EWMA_K = 7  # trailing days, inclusive of today


def _ewma_weights() -> list[float]:
    """w_k = lam*(1-lam)^k computed ONCE in Python; both engines parse
    the identical shortest-repr double literals, so no cross-engine
    pow() is ever evaluated."""
    return [_EWMA_LAM * (1.0 - _EWMA_LAM) ** k for k in range(_EWMA_K)]


@query(
    "qj26_ewma_anomaly",
    oracle=f"""
WITH daily AS (
  SELECT {_SQL_DAY_IDX} AS di, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), pairs AS (
  SELECT a.di, a.rev, a.di - b.di AS k, b.rev AS rev_k,
         CASE {' '.join(f"WHEN a.di - b.di = {k} THEN {w!r}" for k, w in enumerate(_ewma_weights()))} END AS w
  FROM daily a JOIN daily b ON b.di BETWEEN a.di - {_EWMA_K - 1} AND a.di
), agg AS (
  SELECT di, rev,
         CAST(SUM(CAST({sql_pround('w * rev_k', 6)} AS DECIMAL(25,6))) AS DOUBLE) AS wsum,
         CAST(SUM(CAST({sql_pround('w', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS wnorm
  FROM pairs GROUP BY di, rev
)
SELECT CAST(di AS BIGINT) AS day_index,
       {sql_pround('rev', 6)} AS rev,
       {sql_pround('wsum / wnorm', 6)} AS ewma,
       {sql_pround('rev - wsum / wnorm', 6)} AS deviation
FROM agg
ORDER BY day_index
""",
    tags=("events", "timeseries"),
)
def qj26_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of daily revenue
    (lambda=0.3, 7-day horizon, weights renormalized over the available
    lags) plus each day's deviation from it — the EWMA control-chart
    baseline (pairs with i11's CUSUM, which detects cumulative shifts;
    EWMA flags single-day excursions). The recursive EWMA definition is
    deliberately truncated to a fixed horizon so it becomes a BANDED
    SELF-JOIN on the day lattice — the declarative, shuffle-once form —
    with the <0.8% tail mass beyond 7 lags renormalized away.

    Determinism: the 7 weights are Python-computed double literals
    (identical shortest-repr parse on both engines — no runtime pow);
    weighted terms are floor-quantized and DECIMAL-summed per day.

    Scale: events collapse to the day lattice first; the band join fans
    each day to <=7 rows regardless of SF.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(_day_idx().alias("di")).agg(dsum("value").alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    k = F.col("a.di") - F.col("b.di")
    w_expr = None
    for kk, ww in enumerate(_ewma_weights()):
        w_expr = F.when(k == kk, F.lit(ww)) if w_expr is None else w_expr.when(k == kk, F.lit(ww))
    pairs = a.join(
        b, (F.col("b.di") >= F.col("a.di") - (_EWMA_K - 1)) & (F.col("b.di") <= F.col("a.di")), "inner"
    ).select(F.col("a.di").alias("di"), F.col("a.rev").alias("rev"), w_expr.alias("w"), F.col("b.rev").alias("rev_k"))
    agg = pairs.groupBy("di", "rev").agg(
        F.sum(pround(F.col("w") * F.col("rev_k"), 6).cast("decimal(25,6)")).cast("double").alias("wsum"),
        F.sum(pround(F.col("w"), 9).cast("decimal(25,12)")).cast("double").alias("wnorm"),
    )
    ew = F.col("wsum") / F.col("wnorm")
    return agg.select(
        F.col("di").cast("bigint").alias("day_index"),
        pround(F.col("rev"), 6).alias("rev"),
        pround(ew, 6).alias("ewma"),
        pround(F.col("rev") - ew, 6).alias("deviation"),
    ).orderBy("day_index")


# ---------------------------------------------------------------------------
# j27 — McNemar paired test: purchase behavior first vs second half


@query(
    "qj27_mcnemar_paired",
    oracle=f"""
WITH bounds AS (
  SELECT MIN({_SQL_DAY_IDX}) AS lo, MAX({_SQL_DAY_IDX}) AS hi FROM events
), per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND {_SQL_DAY_IDX} < (b.lo + b.hi + 1) // 2 THEN 1 ELSE 0 END) AS p1,
         MAX(CASE WHEN event_type = 'purchase' AND {_SQL_DAY_IDX} >= (b.lo + b.hi + 1) // 2 THEN 1 ELSE 0 END) AS p2
  FROM events CROSS JOIN bounds b GROUP BY user_id, b.lo, b.hi
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       CAST(SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       {sql_pround('''CASE WHEN SUM(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END) = 0 THEN 0.0
             ELSE (abs(CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
                      - SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)) - 1)
                  * (abs(CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
                      - SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)) - 1)
                  / (SUM(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END)) END''', 6)} AS mcnemar_chi2
FROM per_user
""",
    tags=("statistics", "events"),
)
def qj27_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: did each user purchase
    in the FIRST half vs the SECOND half of the observation window
    (paired by user), with the continuity-corrected statistic
    (|b-c|-1)^2/(b+c) over the two discordant cells — the right test for
    before/after conversion questions where qg17's two-proportion z-test
    would wrongly treat the halves as independent samples.

    Scale: one grouped pass per user with the midpoint day derived from
    a broadcast 1-row bounds aggregate; output is one row of integers
    plus a single float division.
    """
    e = table(spark, sf_dir, "events")
    di = _day_idx()
    bounds = e.agg(F.min(di).alias("lo"), F.max(di).alias("hi"))
    mid = F.floor((F.col("lo") + F.col("hi") + 1) / 2)
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when((F.col("event_type") == "purchase") & (di < mid), 1).otherwise(0)
            ).alias("p1"),
            F.max(
                F.when((F.col("event_type") == "purchase") & (di >= mid), 1).otherwise(0)
            ).alias("p2"),
        )
    )
    n10 = F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 0), 1).otherwise(0)).cast("bigint")
    n01 = F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 1), 1).otherwise(0)).cast("bigint")
    disc = F.sum(F.when(F.col("p1") != F.col("p2"), 1).otherwise(0))
    chi2 = F.when(disc == 0, F.lit(0.0)).otherwise(
        (F.abs(n10 - n01).cast("double") - 1) * (F.abs(n10 - n01).cast("double") - 1) / disc
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        n10.alias("n10"),
        n01.alias("n01"),
        pround(chi2, 6).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# j28 — burstiness index of inter-arrival gaps per event type


@query(
    "qj28_burstiness_index",
    oracle="""
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts ASC, event_id ASC) AS gap
  FROM events
), s AS (
  SELECT event_type,
         CAST(COUNT(gap) AS BIGINT) AS n_gaps,
         CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS DOUBLE) AS s2
  FROM gaps WHERE gap IS NOT NULL GROUP BY event_type
)
SELECT event_type, n_gaps,
       {M} AS mean_gap_us,
       {CV} AS cv,
       {B} AS burstiness
FROM s
ORDER BY event_type
""".replace("{M}", sql_pround("s1 / n_gaps", 3))
    .replace("{CV}", sql_pround("sqrt(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps)) / (s1 / n_gaps)", 6))
    .replace(
        "{B}",
        sql_pround(
            "(sqrt(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps)) - (s1 / n_gaps)) / "
            "(sqrt(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps)) + (s1 / n_gaps))",
            6,
        ),
    ),
    tags=("events", "timeseries"),
)
def qj28_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness index B = (sigma - mu)/(sigma + mu) of
    inter-arrival gaps per event type (B -> -1 periodic, 0 Poisson,
    -> +1 bursty), plus the coefficient of variation — the standard
    temporal-clustering diagnostic that tells a pipeline whether event
    volume can be microbatched smoothly or arrives in spikes (pairs
    with qf15's gap percentiles by adding the closed-form index).

    Determinism: gaps are exact integer MICROSECONDS (unix_micros
    lag diffs; ties broken by event_id), so the two power sums are
    exact DECIMAL(38,0); sigma/mu/B are engine-identical float ops
    written with sqrt (never pow).

    Scale: the lag window is PARTITIONED by event_type — each partition
    streams independently; no global sort. One grouped pass after.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros("ts")
    gaps = e.select("event_type", (us - F.lag(us).over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    s = gaps.groupBy("event_type").agg(
        F.count("gap").cast("bigint").alias("n_gaps"),
        F.sum(F.col("gap").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap")).cast("double").alias("s2"),
    )
    mu = F.col("s1") / F.col("n_gaps")
    sig = F.sqrt(F.col("s2") / F.col("n_gaps") - mu * mu)
    return s.select(
        "event_type",
        "n_gaps",
        pround(mu, 3).alias("mean_gap_us"),
        pround(sig / mu, 6).alias("cv"),
        pround((sig - mu) / (sig + mu), 6).alias("burstiness"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# j29 — time-weighted average value per user (step-function integral)


@query(
    "qj29_time_weighted_avg",
    oracle="""
WITH stepped AS (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) - epoch_us(ts) AS dur
  FROM events
), s AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_intervals,
         CAST(SUM(CAST(floor(value * dur + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS wsum,
         CAST(SUM(CAST(dur AS DECIMAL(38,0))) AS DOUBLE) AS span
  FROM stepped WHERE dur IS NOT NULL AND dur > 0 GROUP BY user_id
)
SELECT user_id, n_intervals, {TWA} AS twa_value
FROM s
ORDER BY user_id
""".replace("{TWA}", sql_pround("wsum / span", 6)),
    tags=("events", "timeseries"),
)
def qj29_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's `value` signal under
    step-function (last-observation-carried-forward) semantics: each
    reading holds until the user's next event, so TWA = sum(value *
    holding_duration) / total_span — the correct average for irregularly
    sampled gauges where the row-mean (q10 family) over-weights chatty
    periods. Zero-duration holds (same-timestamp events) drop out.

    Determinism: durations are exact integer microseconds from a lead
    window partitioned by user (event_id tie-break); value*dur terms are
    floor-quantized to integers (value <= ~1e2, dur <= ~2.6e9 us, so
    terms < 2^53) and DECIMAL-summed.

    Scale: one partitioned lead window + one grouped pass — both key on
    user_id, so AQE sees a single co-partitioned exchange.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros("ts")
    stepped = e.select("user_id", "value", (F.lead(us).over(w) - us).alias("dur")).filter(
        F.col("dur").isNotNull() & (F.col("dur") > 0)
    )
    s = stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.floor(F.col("value") * F.col("dur") + 0.5).cast("decimal(38,0)"))
        .cast("double")
        .alias("wsum"),
        F.sum(F.col("dur").cast("decimal(38,0)")).cast("double").alias("span"),
    )
    return s.select(
        "user_id", "n_intervals", pround(F.col("wsum") / F.col("span"), 6).alias("twa_value")
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# j30 — sessionization with idle timeout AND a hard duration cap

_SESS_IDLE_US = 4 * 3600 * 1_000_000  # idle gap that breaks a session
_SESS_CAP_US = 12 * 3600 * 1_000_000  # hard cap: split longer sessions


@query(
    "qj30_capped_sessions",
    oracle=f"""
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESS_IDLE_US}
              OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), islands AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us ASC ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
), chunked AS (
  SELECT user_id, island, us,
         (us - MIN(us) OVER (PARTITION BY user_id, island)) // {_SESS_CAP_US} AS chunk
  FROM islands
), sess AS (
  SELECT user_id, island, chunk,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         MAX(us) - MIN(us) AS dur_us
  FROM chunked GROUP BY user_id, island, chunk
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN chunk > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cap_splits,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(MAX(dur_us) AS BIGINT) AS max_dur_us,
       {sql_pround(f'CAST(SUM(CAST(dur_us AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) / 1000000', 6)} AS avg_dur_sec
FROM sess
""",
    tags=("events", "sessionization"),
)
def qj30_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH an idle timeout (4 h gap breaks the
    session — q32's session_window semantics) and a hard duration CAP
    (12 h): idle islands come from the classic running-sum-of-breaks
    window, then any island longer than the cap is split into fixed
    12 h chunks measured from the island start — the declarative
    two-window form of "max session length" that web analytics engines
    apply to bound runaway sessions, without any stateful iteration.

    Determinism: all arithmetic is exact integer microseconds; the one
    float op (average duration) divides a DECIMAL-exact sum.

    Scale: both windows partition by user_id (the islands window also
    groups by island within it), so every pass is parallel per user;
    the final rollup is one map-side-combinable aggregate to one row.
    """
    e = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    marked = e.select(
        "user_id",
        us.alias("us"),
        F.when(
            (us - F.lag(us).over(w) > _SESS_IDLE_US) | F.lag(us).over(w).isNull(), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    wi = Window.partitionBy("user_id").orderBy(F.asc("us")).rowsBetween(Window.unboundedPreceding, 0)
    islands = marked.withColumn("island", F.sum("brk").over(wi))
    wc = Window.partitionBy("user_id", "island")
    chunked = islands.withColumn(
        "chunk", F.floor((F.col("us") - F.min("us").over(wc)) / _SESS_CAP_US)
    )
    sess = chunked.groupBy("user_id", "island", "chunk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    return sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("chunk") > 0, 1).otherwise(0)).cast("bigint").alias("n_cap_splits"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.max("dur_us").cast("bigint").alias("max_dur_us"),
        pround(
            F.sum(F.col("dur_us").cast("decimal(38,0)")).cast("double") / F.count(F.lit(1)) / 1_000_000,
            6,
        ).alias("avg_dur_sec"),
    )


# ---------------------------------------------------------------------------
# j31 — bitemporal point-in-time (valid time + transaction time) as-of

_J31_VALID_ASOF = "1997-01-01"  # valid-time cut V
_J31_TXN_ASOF = "1997-07-01"  # transaction-time cut T


@query(
    "qj31_bitemporal_asof",
    oracle=f"""
WITH revisions AS (
  SELECT l.l_partkey, l.l_extendedprice AS price, l.l_shipdate AS valid_from,
         o.o_orderdate AS recorded_at, l.l_orderkey, l.l_linenumber
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate <= TIMESTAMP '{_J31_TXN_ASOF}'
    AND l.l_shipdate <= TIMESTAMP '{_J31_VALID_ASOF}'
), picked AS (
  SELECT l_partkey, price,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY valid_from DESC, recorded_at DESC,
                                     l_orderkey DESC, l_linenumber DESC) AS rn
  FROM revisions
)
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       {sql_dsum('pk.price')} AS sum_price
FROM picked pk JOIN part p ON pk.l_partkey = p.p_partkey
WHERE pk.rn = 1
GROUP BY p.p_brand
ORDER BY brand
""",
    tags=("join", "cdc"),
)
def qj31_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal point-in-time lookup — the SCD/warehouse query q33's
    single-axis as-of join cannot express: treating each lineitem as a
    price REVISION of its part with valid_from = l_shipdate (when the
    price takes effect) and recorded_at = o_orderdate (when the system
    recorded the commitment), resolve "the price of every part as of valid time V,
    using only facts the system had recorded by transaction time T" —
    i.e. max valid_from <= V among rows with recorded_at <= T, full
    deterministic tie-break — then roll the resolved prices up by brand.

    Scale: both cuts are pushed-down scan predicates; the pick is ONE
    row_number window partitioned by partkey (parallel per key); the
    brand rollup joins the bounded part dimension.
    """
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") <= F.lit(_J31_TXN_ASOF).cast("timestamp"))
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(_J31_VALID_ASOF).cast("timestamp")
    )
    rev = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_partkey",
        F.col("l_extendedprice").alias("price"),
        "l_shipdate",
        F.col("o_orderdate").alias("recorded_at"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.desc("l_shipdate"), F.desc("recorded_at"), F.desc("l_orderkey"), F.desc("l_linenumber")
    )
    picked = rev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        picked.join(p, picked.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"), dsum("price").alias("sum_price"))
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# j32 — referential-integrity cascade: orphan counts across two FK hops


@query(
    "qj32_fk_cascade_orphans",
    oracle="""
WITH deleted_cust AS (
  SELECT c_custkey FROM customer WHERE c_acctbal < 0
), orphan_orders AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM deleted_cust)
), orphan_lines AS (
  SELECT l_orderkey, l_extendedprice FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orphan_orders)
)
SELECT
  CAST((SELECT COUNT(*) FROM deleted_cust) AS BIGINT) AS n_deleted_customers,
  CAST((SELECT COUNT(*) FROM orphan_orders) AS BIGINT) AS n_cascade_orders,
  CAST((SELECT COUNT(*) FROM orphan_lines) AS BIGINT) AS n_cascade_lineitems,
  {REV} AS revenue_removed
""".replace(
        "{REV}",
        "CAST(COALESCE((SELECT SUM(CAST(l_extendedprice AS DECIMAL(25,6))) FROM orphan_lines), 0) AS DOUBLE)",
    ),
    tags=("audit", "join"),
)
def qj32_fk_cascade_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade-delete impact preflight across TWO foreign-key hops:
    deleting negative-balance customers orphans their orders, which
    orphans those orders' lineitems — report the row count at each hop
    and the lineitem revenue that would disappear. i25 audits one FK
    edge for violations; this is the multi-hop blast-radius query a
    GDPR/right-to-be-forgotten pipeline runs BEFORE propagating deletes
    (pairs with qf22's deletion propagation, which executes the delete).

    Scale: two LEFT SEMI joins chained along the key hierarchy (custkey
    -> orderkey), each a plain hash join on the FK — no distinct-collapse
    needed because semi-join semantics dedupe probe hits; counts and the
    DECIMAL revenue sum are map-side combinable.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    deleted = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    orphan_orders = o.join(deleted, o.o_custkey == deleted.c_custkey, "left_semi")
    orphan_lines = li.join(
        orphan_orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi"
    )
    nd = deleted.agg(F.count(F.lit(1)).cast("bigint").alias("n_deleted_customers"))
    no = orphan_orders.agg(F.count(F.lit(1)).cast("bigint").alias("n_cascade_orders"))
    nl = orphan_lines.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cascade_lineitems"),
        F.coalesce(F.sum(F.col("l_extendedprice").cast("decimal(25,6)")), F.lit(0).cast("decimal(25,6)"))
        .cast("double")
        .alias("revenue_removed"),
    )
    return nd.crossJoin(F.broadcast(no)).crossJoin(F.broadcast(nl))


# ---------------------------------------------------------------------------
# j33 — mergeable variance: per-shard exact carriers merge to the global

_J33_SHARDS = 8


@query(
    "qj33_mergeable_variance",
    oracle=f"""
WITH shards AS (
  SELECT {_sql_md5fold('CAST(o_orderkey AS VARCHAR)')} % {_J33_SHARDS} AS shard,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS s1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(19,2)) * CAST(o_totalprice AS DECIMAL(19,2))) AS DECIMAL(38,4)) AS s2
  FROM orders GROUP BY 1
), merged AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s1) AS DECIMAL(38,2)) AS s1,
         CAST(SUM(s2) AS DECIMAL(38,4)) AS s2
  FROM shards
), direct AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS s1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(19,2)) * CAST(o_totalprice AS DECIMAL(19,2))) AS DECIMAL(38,4)) AS s2
  FROM orders
)
SELECT CAST({_J33_SHARDS} AS BIGINT) AS n_shards,
       m.n AS n,
       {sql_pround('CAST(m.s2 AS DOUBLE) / m.n - (CAST(m.s1 AS DOUBLE) / m.n) * (CAST(m.s1 AS DOUBLE) / m.n)', 4)} AS variance_merged,
       {sql_pround('CAST(d.s2 AS DOUBLE) / d.n - (CAST(d.s1 AS DOUBLE) / d.n) * (CAST(d.s1 AS DOUBLE) / d.n)', 4)} AS variance_direct,
       CAST(CASE WHEN m.n = d.n AND m.s1 = d.s1 AND m.s2 = d.s2 THEN 1 ELSE 0 END AS BIGINT) AS carriers_agree
FROM merged m CROSS JOIN direct d
""",
    tags=("statistics", "audit"),
)
def qj33_mergeable_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-variance audit: per-shard EXACT carriers (n, sum,
    sum-of-squares as DECIMALs — o_totalprice is on the cent lattice, so
    x and x^2 are exactly representable) merge by plain addition into
    the global variance, gated against the direct single-pass compute.
    carriers_agree = 1 proves the merge algebra is lossless — the
    property that lets a 1000-executor cluster compute variance with
    one map-side-combined pass and lets h16/i05-style partial rollups
    extend to second moments (Chan's algorithm without its float drift,
    because the carriers are exact).

    Scale: both arms are single map-side-combinable aggregations; the
    shard arm's extra groupBy is the bounded shard dictionary.
    """
    o = table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    carriers = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(price.cast("decimal(38,2)")).cast("decimal(38,2)").alias("s1"),
        F.sum(price.cast("decimal(19,2)") * price.cast("decimal(19,2)"))
        .cast("decimal(38,4)")
        .alias("s2"),
    ]
    shards = o.groupBy(
        (_md5fold(F.col("o_orderkey").cast("string")) % _J33_SHARDS).alias("shard")
    ).agg(*carriers)
    merged = shards.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").cast("decimal(38,2)").alias("s1"),
        F.sum("s2").cast("decimal(38,4)").alias("s2"),
    )
    direct = o.agg(*carriers)

    def var(nc, s1c, s2c):
        return s2c.cast("double") / nc - (s1c.cast("double") / nc) * (s1c.cast("double") / nc)

    m, d = merged.alias("m"), direct.alias("d")
    j = m.crossJoin(F.broadcast(d))
    agree = (
        (F.col("m.n") == F.col("d.n"))
        & (F.col("m.s1") == F.col("d.s1"))
        & (F.col("m.s2") == F.col("d.s2"))
    )
    return j.select(
        F.lit(_J33_SHARDS).cast("bigint").alias("n_shards"),
        F.col("m.n").alias("n"),
        pround(var(F.col("m.n"), F.col("m.s1"), F.col("m.s2")), 4).alias("variance_merged"),
        pround(var(F.col("d.n"), F.col("d.s1"), F.col("d.s2")), 4).alias("variance_direct"),
        agree.cast("bigint").alias("carriers_agree"),
    )


# ---------------------------------------------------------------------------
# j34 — write-audit-publish: validate a staged snapshot, then publish


@query(
    "qj34_write_audit_publish",
    oracle=f"""
WITH src AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 0
), audit AS (
  SELECT CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         + CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
         + CAST(SUM(CASE WHEN n_chars <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
  FROM src
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_published,
       (SELECT n_violations FROM audit) AS n_violations,
       CAST(1 AS BIGINT) AS published,
       CAST(SUM({_sql_md5fold("CAST(doc_id AS VARCHAR) || ':' || lang")} % 1000000) AS BIGINT) AS content_checksum
FROM src
""",
    tags=("source", "audit"),
)
def qj34_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (the Iceberg/Netflix WAP pattern) over the
    parquet sink: the curated snapshot is written to a STAGING path,
    audited there (null keys, duplicate keys, domain violations), and
    only an audit-clean staging dir is atomically renamed to the
    published path; the result row reports what a downstream consumer
    sees AFTER publish — row count, violation count (0 by construction,
    or the publish would have been refused), and an order-insensitive
    content checksum. Extends qe14's declarative constraints with the
    sink choreography that makes them ENFORCEABLE at publish time.

    Scale: one write + one audit aggregation over the staged files +
    one rename (an O(1) metadata op on any real filesystem); the
    checksum is a md5-fold sum, map-side combinable.
    """
    import os
    import shutil

    base = scratch_dir("qj34_wap")
    staging, published = os.path.join(base, "staging"), os.path.join(base, "published")
    try:
        src = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars").filter(
            F.col("n_chars") > 0
        )
        src.write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        audit = staged.agg(
            (
                F.sum(F.col("doc_id").isNull().cast("int"))
                + (F.count(F.lit(1)) - F.count_distinct("doc_id"))
                + F.sum((F.col("n_chars") <= 0).cast("int"))
            )
            .cast("bigint")
            .alias("n_violations")
        )
        n_violations = audit.collect()[0][0]  # 1-row audit scalar: the publish gate
        if n_violations == 0:
            os.rename(staging, published)
        else:  # refused publish: surface the violation count, no rename
            published = staging
        out = spark.read.parquet(published)
        return out.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_published"),
            F.lit(int(n_violations)).cast("bigint").alias("n_violations"),
            F.lit(1 if n_violations == 0 else 0).cast("bigint").alias("published"),
            F.sum(
                _md5fold(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("lang"))) % 1_000_000
            )
            .cast("bigint")
            .alias("content_checksum"),
        ).transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# j35 — compaction planner: sorted-fill bin packing of small files

_J35_TARGET = 50_000  # target bin size in chars


@query(
    "qj35_compaction_binpack",
    oracle=f"""
WITH files AS (
  SELECT source || '/' || lang AS file_id, CAST(SUM(n_chars) AS BIGINT) AS size
  FROM documents GROUP BY source, lang
), planned AS (
  SELECT file_id, size,
         COALESCE(SUM(size) OVER (ORDER BY size DESC, file_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM files
), binned AS (
  SELECT file_id, size, cum_before // {_J35_TARGET} AS bin FROM planned
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(size) AS BIGINT) AS bin_chars
FROM binned GROUP BY bin
ORDER BY bin
""",
    tags=("audit", "source"),
)
def qj35_compaction_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: model each (source, lang) slice as
    a "file" with its total char size, then assign files to target-sized
    compaction bins by sorted-fill — order files largest-first (ties by
    name), take the running size BEFORE each file, bin = that offset DIV
    target — the deterministic, one-window analog of first-fit-decreasing
    that a table-maintenance job (OPTIMIZE/rewrite_data_files) uses to
    plan merge groups. Output is the per-bin manifest a rewrite would
    execute. Pairs with i23 (latest-N compaction keeps newest data; this
    packs by SIZE).

    Scale: the file list is an AGGREGATE (one groupBy over documents);
    the planning window is partition-less by definition (a global plan)
    but runs on that bounded manifest, never rows. At 100 TB a manifest
    is ~1e5 files — still one executor's work.
    """
    d = table(spark, sf_dir, "documents")
    files = d.groupBy(
        F.concat_ws("/", "source", "lang").alias("file_id")
    ).agg(F.sum("n_chars").cast("bigint").alias("size"))
    w = (
        Window.orderBy(F.desc("size"), F.asc("file_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # bounded: file manifest aggregate
    planned = files.withColumn("cum_before", F.coalesce(F.sum("size").over(w), F.lit(0)))
    binned = planned.withColumn("bin", F.floor(F.col("cum_before") / _J35_TARGET))
    return (
        binned.groupBy(F.col("bin").cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_files"), F.sum("size").cast("bigint").alias("bin_chars"))
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# j36 — min/max pruning effectiveness: clustered vs hash layout

_J36_FILES = 16
_J36_LO, _J36_HI = 200, 260  # point-range predicate on n_chars


@query(
    "qj36_minmax_pruning_audit",
    oracle=f"""
WITH lattice AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM documents GROUP BY n_chars
), ranked AS (
  SELECT v, cnt, SUM(cnt) OVER (ORDER BY v ASC) AS cum,
         (SELECT SUM(cnt) FROM lattice) AS total
  FROM lattice
), sorted_assign AS (
  SELECT v, cnt, LEAST(CAST(floor((cum - 1) * {_J36_FILES} / total) AS BIGINT), {_J36_FILES - 1}) AS file_id
  FROM ranked
), sorted_files AS (
  SELECT file_id, MIN(v) AS lo, MAX(v) AS hi, CAST(SUM(cnt) AS BIGINT) AS n_rows
  FROM sorted_assign GROUP BY file_id
), hash_files AS (
  SELECT {_sql_md5fold('CAST(doc_id AS VARCHAR)')} % {_J36_FILES} AS file_id,
         MIN(n_chars) AS lo, MAX(n_chars) AS hi, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY 1
), matched AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rows_matched
  FROM documents WHERE n_chars BETWEEN {_J36_LO} AND {_J36_HI}
)
SELECT layout, n_files, files_scanned, rows_matched FROM (
  SELECT 'clustered' AS layout,
         CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(CASE WHEN hi >= {_J36_LO} AND lo <= {_J36_HI} THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         (SELECT rows_matched FROM matched) AS rows_matched
  FROM sorted_files
  UNION ALL
  SELECT 'hashed' AS layout,
         CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(CASE WHEN hi >= {_J36_LO} AND lo <= {_J36_HI} THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         (SELECT rows_matched FROM matched) AS rows_matched
  FROM hash_files
) ORDER BY layout
""",
    tags=("audit", "source"),
)
def qj36_minmax_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max (zone-map) pruning effectiveness audit: assign documents
    to {_J36_FILES} files under (a) a CLUSTERED layout — files take
    contiguous runs of the sorted n_chars value lattice, the effect of
    `sortWithinPartitions`/Z-ordering on the filter column — and (b) a
    HASH layout (md5 of doc_id), then count how many files a
    `n_chars BETWEEN {_J36_LO} AND {_J36_HI}` scan must read under each
    layout given per-file min/max stats. The clustered layout prunes to
    ~1-2 files; the hash layout reads all {_J36_FILES} — the number a
    100 TB table layout decision turns on, measured rather than assumed
    (pairs with h11, which pins Spark's OWN PartitionFilters; this
    audits the row-group-statistics layer beneath it).

    Scale: the clustered assignment runs on the bounded n_chars VALUE
    DICTIONARY (one groupBy, one cumulative window over ~300 lattice
    rows), never on raw rows; the hash arm is one groupBy.
    """
    d = table(spark, sf_dir, "documents")
    # bounded length lattice; reused by the cumulative ranking and
    # totals: materialize once (scan-lint)
    lattice = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).transform(cut_lineage)
    wcum = Window.orderBy(F.asc("v"))  # bounded: value lattice aggregate
    total = lattice.agg(F.sum("cnt").alias("total"))
    ranked = lattice.withColumn("cum", F.sum("cnt").over(wcum)).crossJoin(F.broadcast(total))
    sorted_assign = ranked.withColumn(
        "file_id",
        F.least(
            F.floor((F.col("cum") - 1) * _J36_FILES / F.col("total")).cast("bigint"),
            F.lit(_J36_FILES - 1),
        ),
    )
    sorted_files = sorted_assign.groupBy("file_id").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.sum("cnt").cast("bigint").alias("n_rows")
    )
    hash_files = d.groupBy(
        (_md5fold(F.col("doc_id").cast("string")) % _J36_FILES).alias("file_id")
    ).agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"), F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    matched = d.filter(F.col("n_chars").between(_J36_LO, _J36_HI)).agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_matched")
    )

    def arm(files: DataFrame, name: str) -> DataFrame:
        scanned = (F.col("hi") >= _J36_LO) & (F.col("lo") <= _J36_HI)
        return (
            files.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_files"),
                F.sum(scanned.cast("int")).cast("bigint").alias("files_scanned"),
            )
            .crossJoin(F.broadcast(matched))
            .select(F.lit(name).alias("layout"), "n_files", "files_scanned", "rows_matched")
        )

    return arm(sorted_files, "clustered").unionByName(arm(hash_files, "hashed")).orderBy("layout")


# ---------------------------------------------------------------------------
# j37 — incremental aggregate (materialized-view) maintenance

_J37_SPLIT = "1999-01-01"  # base/delta split on o_orderdate


@query(
    "qj37_incremental_agg_maintenance",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS pri, CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DECIMAL(25,2)) AS rev
  FROM orders WHERE o_orderdate < TIMESTAMP '{_J37_SPLIT}'
  GROUP BY 1, 2
), delta AS (
  SELECT o_orderpriority AS pri, CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DECIMAL(25,2)) AS rev
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_J37_SPLIT}'
  GROUP BY 1, 2
), merged AS (
  SELECT COALESCE(b.pri, d.pri) AS pri, COALESCE(b.yr, d.yr) AS yr,
         COALESCE(b.cnt, 0) + COALESCE(d.cnt, 0) AS cnt,
         CAST(COALESCE(b.rev, 0) + COALESCE(d.rev, 0) AS DECIMAL(25,2)) AS rev
  FROM base b FULL OUTER JOIN delta d ON b.pri = d.pri AND b.yr = d.yr
), full_ AS (
  SELECT o_orderpriority AS pri, CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DECIMAL(25,2)) AS rev
  FROM orders GROUP BY 1, 2
)
SELECT m.pri AS pri, m.yr AS yr,
       CAST(m.cnt AS BIGINT) AS cnt,
       CAST(m.rev AS DOUBLE) AS rev,
       CAST(CASE WHEN m.cnt = f.cnt AND m.rev = f.rev THEN 1 ELSE 0 END AS BIGINT) AS agrees
FROM merged m JOIN full_ f ON m.pri = f.pri AND m.yr = f.yr
ORDER BY pri, yr
""",
    tags=("audit", "cdc"),
)
def qj37_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance audit: the
    (priority, year) revenue rollup is computed (a) the incremental way
    — a BASE aggregate over history plus a DELTA aggregate over the new
    batch, merged by key addition (the only scan a daily refresh pays
    is the delta) — and (b) by full recompute; `agrees` gates them
    equal per group. The merge is lossless because both carriers (count
    and a DECIMAL(25,2) revenue sum — o_totalprice is on the cent
    lattice) are exact and associative, the same algebra that makes
    qg02's incremental dedup and j33's variance merge safe. This is
    the production refresh pattern for any additive rollup at 100 TB:
    never re-scan the base.

    Scale: three map-side-combinable aggregations (at production only
    the delta one runs per refresh) + a full-outer merge join on the
    bounded group dictionary.
    """
    o = table(spark, sf_dir, "orders")
    split = F.lit(_J37_SPLIT).cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("decimal(25,2)").alias("rev"),
        )

    base = rollup(o.filter(F.col("o_orderdate") < split))
    delta = rollup(o.filter(F.col("o_orderdate") >= split))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(
        d, (F.col("b.pri") == F.col("d.pri")) & (F.col("b.yr") == F.col("d.yr")), "full_outer"
    ).select(
        F.coalesce(F.col("b.pri"), F.col("d.pri")).alias("pri"),
        F.coalesce(F.col("b.yr"), F.col("d.yr")).alias("yr"),
        (F.coalesce(F.col("b.cnt"), F.lit(0)) + F.coalesce(F.col("d.cnt"), F.lit(0))).alias("cnt"),
        (F.coalesce(F.col("b.rev"), F.lit(0)) + F.coalesce(F.col("d.rev"), F.lit(0)))
        .cast("decimal(25,2)")
        .alias("rev"),
    )
    full = rollup(o)
    m, f_ = merged.alias("m"), full.alias("f")
    return (
        m.join(f_, (F.col("m.pri") == F.col("f.pri")) & (F.col("m.yr") == F.col("f.yr")))
        .select(
            F.col("m.pri").alias("pri"),
            F.col("m.yr").alias("yr"),
            F.col("m.cnt").cast("bigint").alias("cnt"),
            F.col("m.rev").cast("double").alias("rev"),
            ((F.col("m.cnt") == F.col("f.cnt")) & (F.col("m.rev") == F.col("f.rev")))
            .cast("bigint")
            .alias("agrees"),
        )
        .orderBy("pri", "yr")
    )


# ---------------------------------------------------------------------------
# j38 — block-sampling estimator with measured relative error

_J38_BLOCK = 64  # rows per simulated block (row-group)
_J38_MOD = 16  # sample 1 block in 16


@query(
    "qj38_block_sample_estimate",
    oracle=f"""
WITH sampled AS (
  SELECT o_totalprice FROM orders
  WHERE {_sql_md5fold(f'CAST(o_orderkey // {_J38_BLOCK} AS VARCHAR)')} % {_J38_MOD} = 0
), est AS (
  SELECT CAST(COUNT(*) AS BIGINT) * {_J38_MOD} AS n_est,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) / COUNT(*) AS mean_est
  FROM sampled
), exact_ AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) / COUNT(*) AS mean_exact
  FROM orders
)
SELECT e.n_exact AS n_exact, s.n_est AS n_est,
       {sql_pround('e.mean_exact', 4)} AS mean_exact,
       {sql_pround('s.mean_est', 4)} AS mean_est,
       {sql_pround('abs(CAST(s.n_est AS DOUBLE) - e.n_exact) / e.n_exact', 6)} AS count_rel_err,
       {sql_pround('abs(s.mean_est - e.mean_exact) / e.mean_exact', 6)} AS mean_rel_err
FROM est s CROSS JOIN exact_ e
""",
    tags=("audit", "statistics"),
)
def qj38_block_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-sampling estimator audit: sample 1-in-{_J38_MOD} BLOCKS of
    {_J38_BLOCK} consecutive order keys (simulating parquet row-group
    sampling, where I/O is saved only if whole blocks are skipped —
    TABLESAMPLE SYSTEM semantics), scale the sampled count/mean up, and
    report the measured relative error against the exact scan. This is
    the estimator a query planner or a stats-refresh job runs at 100 TB
    where a full scan per statistic is unaffordable; the audit
    quantifies the block-correlation penalty vs row-level sampling.

    Both SIDES of the estimate are fully aggregated (no pair join
    downstream): the md5 block filter here is a sample-and-scale
    estimator, not the h12-class stride-sample-into-pair-join pattern
    the sampling lint bans.

    Scale: the sample predicate is computable at scan time; everything
    after is two map-side-combinable aggregations.
    """
    o = table(spark, sf_dir, "orders")
    blk = _md5fold((F.col("o_orderkey") / _J38_BLOCK).cast("bigint").cast("string"))
    sampled = o.filter(blk % _J38_MOD == 0)
    est = sampled.agg(
        (F.count(F.lit(1)) * _J38_MOD).cast("bigint").alias("n_est"),
        (F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double") / F.count(F.lit(1))).alias(
            "mean_est"
        ),
    )
    exact = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        (F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double") / F.count(F.lit(1))).alias(
            "mean_exact"
        ),
    )
    j = est.crossJoin(F.broadcast(exact))
    return j.select(
        "n_exact",
        "n_est",
        pround(F.col("mean_exact"), 4).alias("mean_exact"),
        pround(F.col("mean_est"), 4).alias("mean_est"),
        pround(
            F.abs(F.col("n_est").cast("double") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("count_rel_err"),
        pround(F.abs(F.col("mean_est") - F.col("mean_exact")) / F.col("mean_exact"), 6).alias(
            "mean_rel_err"
        ),
    )


# ---------------------------------------------------------------------------
# j39 — group-by cardinality audit: joint distinct vs independence product


@query(
    "qj39_groupby_cardinality_audit",
    oracle="""
WITH a1 AS (
  SELECT 'orders.priority_x_year' AS pair_name,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_a,
         CAST(COUNT(DISTINCT year(o_orderdate)) AS BIGINT) AS d_b,
         CAST(COUNT(DISTINCT o_orderpriority || '|' || CAST(year(o_orderdate) AS VARCHAR)) AS BIGINT) AS d_joint
  FROM orders
), a2 AS (
  SELECT 'documents.lang_x_source' AS pair_name,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS d_a,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS d_b,
         CAST(COUNT(DISTINCT lang || '|' || source) AS BIGINT) AS d_joint
  FROM documents
)
SELECT pair_name, d_a, d_b, d_joint,
       CAST(d_a * d_b AS BIGINT) AS d_independent,
       {R} AS correlation_factor
FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
ORDER BY pair_name
""".replace("{R}", sql_pround("CAST(d_joint AS DOUBLE) / (d_a * d_b)", 6)),
    tags=("audit",),
)
def qj39_groupby_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column cardinality audit: for two column pairs, compare the
    JOINT distinct count against the independence product |A| x |B| and
    report the correlation factor joint/(|A||B|) — the number behind
    every optimizer's group-by and join output-size estimate (planners
    assume independence; a factor << 1 means correlated columns and an
    estimate off by 1/factor). i21 audits a specific join's fan-out;
    this audits the column-statistics assumption itself, the preflight
    a 100 TB GROUP BY runs before choosing shuffle partition counts.

    Scale: per pair, one aggregate with three distinct counts over
    bounded-cardinality columns; the joint key is concatenated so the
    count is a single pass (no nested distinct shuffle).
    """
    o = table(spark, sf_dir, "orders")
    d = table(spark, sf_dir, "documents")
    a1 = o.agg(
        F.count_distinct("o_orderpriority").cast("bigint").alias("d_a"),
        F.count_distinct(F.year("o_orderdate")).cast("bigint").alias("d_b"),
        F.count_distinct(
            F.concat_ws("|", "o_orderpriority", F.year("o_orderdate").cast("string"))
        )
        .cast("bigint")
        .alias("d_joint"),
    ).select(F.lit("orders.priority_x_year").alias("pair_name"), "d_a", "d_b", "d_joint")
    a2 = d.agg(
        F.count_distinct("lang").cast("bigint").alias("d_a"),
        F.count_distinct("source").cast("bigint").alias("d_b"),
        F.count_distinct(F.concat_ws("|", "lang", "source")).cast("bigint").alias("d_joint"),
    ).select(F.lit("documents.lang_x_source").alias("pair_name"), "d_a", "d_b", "d_joint")
    u = a1.unionByName(a2)
    return u.select(
        "pair_name",
        "d_a",
        "d_b",
        "d_joint",
        (F.col("d_a") * F.col("d_b")).cast("bigint").alias("d_independent"),
        pround(F.col("d_joint").cast("double") / (F.col("d_a") * F.col("d_b")), 6).alias(
            "correlation_factor"
        ),
    ).orderBy("pair_name")


# ---------------------------------------------------------------------------
# j40 — dynamic partition overwrite: rewrite one partition, touch nothing else


@query(
    "qj40_dynamic_partition_overwrite",
    oracle=f"""
WITH after AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2 ELSE o_totalprice END AS price
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       {sql_dsum("CASE WHEN o_orderpriority = '1-URGENT' THEN price ELSE 0 END")} AS urgent_revenue,
       {sql_dsum("CASE WHEN o_orderpriority <> '1-URGENT' THEN price ELSE 0 END")} AS other_revenue
FROM after
""",
    tags=("source", "cdc"),
)
def qj40_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (partitionOverwriteMode=dynamic) over
    a hive-partitioned parquet sink: orders are written partitioned by
    priority, then a rewrite batch containing ONLY the 1-URGENT
    partition (prices doubled, the simulated backfill) is written with
    mode=overwrite — in dynamic mode Spark replaces just the partitions
    present in the batch, leaving the other four untouched on disk
    (static mode would have truncated the whole table: the classic
    production data-loss foot-gun this op pins down). The read-back
    totals are oracle-gated against the expected post-backfill state.

    Scale: partition-selective rewrite is THE idiom for backfilling one
    day/tenant out of a 100 TB table — write cost scales with the
    partition, not the table. Cleanup in finally; the overwrite-mode
    conf is scoped to the backfill write.
    """
    import shutil

    base = scratch_dir("qj40_dpo")
    try:
        o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
        o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(base)
        backfill = (
            spark.read.parquet(base)
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        )
        with scoped_conf(spark, **{"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
            backfill.write.mode("overwrite").partitionBy("o_orderpriority").parquet(base)
        after = spark.read.parquet(base)
        urgent = F.col("o_orderpriority") == "1-URGENT"
        return after.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(urgent.cast("int")).cast("bigint").alias("n_urgent"),
            dsum(F.when(urgent, F.col("o_totalprice")).otherwise(F.lit(0.0))).alias(
                "urgent_revenue"
            ),
            dsum(F.when(~urgent, F.col("o_totalprice")).otherwise(F.lit(0.0))).alias(
                "other_revenue"
            ),
        ).transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# j41 — average precision at score-bucket granularity


@query(
    "qj41_average_precision",
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
         SUM(cnt) OVER (ORDER BY score DESC) AS cum_cnt,
         SUM(pos) OVER (ORDER BY score DESC) AS cum_pos
  FROM dict
), ap AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(cnt) AS BIGINT) AS n_users,
         CAST(SUM(CAST({sql_pround('pos * (CAST(cum_pos AS DOUBLE) / cum_cnt)', 9)} AS DECIMAL(25,12))) AS DOUBLE) AS ap_num
  FROM ranked
)
SELECT n_users, n_pos,
       {sql_pround('ap_num / n_pos', 6)} AS avg_precision
FROM ap
""",
    tags=("ml", "statistics"),
)
def qj41_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision of the ranking model from j01 (md5 pseudo-score
    vs purchase label), at SCORE-BUCKET granularity: users sharing a
    score form one retrieval step, each bucket contributes
    pos_in_bucket * precision_at_bucket_end, AP = sum/n_pos — the
    tie-invariant bucket form of AP (identical to classic AP when
    scores are distinct) that needs NO row-level global ranking: the
    cumulative window runs over the bounded score dictionary exactly
    like j01's rank sums. AP complements AUC: AUC weights all pairs,
    AP concentrates on the head of the ranking — a retrieval/dedup
    threshold decision wants both.

    Scale: per-user collapse, score-dictionary collapse (<=10000 rows
    by construction), one bounded-lattice cumulative window, 1-row out.
    """
    e = table(spark, sf_dir, "events")
    users = (
        e.groupBy("user_id")
        .agg(F.max((F.col("event_type") == "purchase").cast("int")).alias("label"))
        .select(
            ((_md5fold(F.col("user_id").cast("string")) % 10000).cast("double") / 10000).alias(
                "score"
            ),
            "label",
        )
    )
    dict_ = users.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"), F.sum("label").cast("bigint").alias("pos")
    )
    w = Window.orderBy(F.desc("score"))  # bounded: score dictionary (<=10000)
    ranked = dict_.withColumn("cum_cnt", F.sum("cnt").over(w)).withColumn(
        "cum_pos", F.sum("pos").over(w)
    )
    ap = ranked.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("cnt").cast("bigint").alias("n_users"),
        F.sum(
            pround(
                F.col("pos") * (F.col("cum_pos").cast("double") / F.col("cum_cnt")), 9
            ).cast("decimal(25,12)")
        )
        .cast("double")
        .alias("ap_num"),
    )
    return ap.select(
        "n_users", "n_pos", pround(F.col("ap_num") / F.col("n_pos"), 6).alias("avg_precision")
    )


# ---------------------------------------------------------------------------
# j42 — character-class profile per source


@query(
    "qj42_charclass_profile",
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         CAST(length(text) AS BIGINT) AS total,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
         CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS spaces,
         CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS puncts
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(total) AS BIGINT) AS n_chars,
       {sql_pround('CAST(SUM(digits) AS DOUBLE) / SUM(total)', 6)} AS digit_ratio,
       {sql_pround('CAST(SUM(spaces) AS DOUBLE) / SUM(total)', 6)} AS space_ratio,
       {sql_pround('CAST(SUM(puncts) AS DOUBLE) / SUM(total)', 6)} AS punct_ratio
FROM per_doc
GROUP BY source
ORDER BY source
""",
    tags=("text",),
)
def qj42_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source — digit, whitespace and
    punctuation ratios over total characters — the cheap corpus-quality
    fingerprint that catches machine-generated tables (digit-heavy),
    boilerplate navigation (punct-heavy) or whitespace-padded spam
    before any tokenizer runs; the per-class counts are the
    strip-and-diff idiom (len(text) - len(text with class removed)),
    one regexp pass per class, all JVM-side. Complements qf27 (entropy)
    and q52 (stopword/length quality) with the CLASS mix.

    Scale: stateless per-row map + one map-side-combinable groupBy on
    the bounded source dictionary; integer counts, two exact-integer
    sums per ratio, one float division each.
    """
    d = table(spark, sf_dir, "documents")
    total = F.length("text").cast("bigint")

    def cls_count(pattern: str) -> Column:
        return (F.length("text") - F.length(F.regexp_replace("text", pattern, ""))).cast("bigint")

    per_doc = d.select(
        "source",
        total.alias("total"),
        cls_count("[0-9]").alias("digits"),
        cls_count(" ").alias("spaces"),
        cls_count("[.,!?;:]").alias("puncts"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("total").cast("bigint").alias("n_chars"),
            pround(F.sum("digits").cast("double") / F.sum("total"), 6).alias("digit_ratio"),
            pround(F.sum("spaces").cast("double") / F.sum("total"), 6).alias("space_ratio"),
            pround(F.sum("puncts").cast("double") / F.sum("total"), 6).alias("punct_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# j43 — per-language length-percentile tails over the value lattice

_J43_LO, _J43_HI = 0.05, 0.95


@query(
    "qj43_doc_length_percentile",
    oracle=f"""
WITH lattice AS (
  SELECT lang, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY lang, n_chars
), cum AS (
  SELECT lang, v, cnt,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY v ASC) AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS total
  FROM lattice
), cuts AS (
  SELECT lang,
         MAX(CASE WHEN CAST(cum AS DOUBLE) / total <= {_J43_LO} THEN v END) AS low_cut,
         MIN(CASE WHEN CAST(cum AS DOUBLE) / total >= {_J43_HI} THEN v END) AS high_cut
  FROM cum GROUP BY lang
)
SELECT c.lang AS lang,
       CAST(SUM(l.cnt) AS BIGINT) AS n_docs,
       CAST(COALESCE(c.low_cut, -1) AS BIGINT) AS low_cut,
       CAST(c.high_cut AS BIGINT) AS high_cut,
       CAST(COALESCE(SUM(CASE WHEN l.v <= c.low_cut THEN l.cnt END), 0) AS BIGINT) AS n_low_tail,
       CAST(COALESCE(SUM(CASE WHEN l.v >= c.high_cut THEN l.cnt END), 0) AS BIGINT) AS n_high_tail
FROM lattice l JOIN cuts c ON l.lang = c.lang
GROUP BY c.lang, c.low_cut, c.high_cut
ORDER BY lang
""",
    tags=("text", "curation"),
)
def qj43_doc_length_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length tail cuts: the largest length whose
    cumulative share is <= 5% (low_cut) and the smallest with
    cumulative share >= 95% (high_cut), plus how many documents each
    tail holds — the per-STRATUM percentile filter bounds an LLM
    curation pipeline applies before training (too-short docs are
    boilerplate, too-long are concatenation accidents), computed
    entirely on the per-lang length DICTIONARY so no row-level ranking
    exists anywhere. Missing low_cut (no lattice point at or below 5%)
    is reported as -1.

    Scale: one groupBy to the (lang x length) lattice; the cumulative
    windows are PARTITIONED by lang over that bounded aggregate; tail
    counts come from re-joining the lattice (not the rows) to the cuts.
    """
    d = table(spark, sf_dir, "documents")
    lattice = d.groupBy("lang", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wl = Window.partitionBy("lang").orderBy(F.asc("v"))
    wt = Window.partitionBy("lang")
    cum = lattice.withColumn("cum", F.sum("cnt").over(wl)).withColumn(
        "total", F.sum("cnt").over(wt)
    )
    share = F.col("cum").cast("double") / F.col("total")
    cuts = cum.groupBy("lang").agg(
        F.max(F.when(share <= _J43_LO, F.col("v"))).alias("low_cut"),
        F.min(F.when(share >= _J43_HI, F.col("v"))).alias("high_cut"),
    )
    j = lattice.join(F.broadcast(cuts), "lang")
    return (
        j.groupBy("lang", "low_cut", "high_cut")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.coalesce(
                F.sum(F.when(F.col("v") <= F.col("low_cut"), F.col("cnt"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_low_tail"),
            F.coalesce(
                F.sum(F.when(F.col("v") >= F.col("high_cut"), F.col("cnt"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_high_tail"),
        )
        .select(
            "lang",
            "n_docs",
            F.coalesce(F.col("low_cut"), F.lit(-1)).cast("bigint").alias("low_cut"),
            F.col("high_cut").cast("bigint").alias("high_cut"),
            "n_low_tail",
            "n_high_tail",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# j44 — unionByName schema reconciliation across generations


@query(
    "qj44_union_schema_reconcile",
    oracle="""
WITH legacy AS (
  SELECT doc_id, n_chars, NULL AS lang, NULL AS source
  FROM documents WHERE doc_id % 2 = 0
), modern AS (
  SELECT doc_id, n_chars, lang, source
  FROM documents WHERE doc_id % 2 = 1
), unioned AS (
  SELECT * FROM legacy UNION ALL SELECT * FROM modern
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
       CAST(SUM(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_modern,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS langs_seen,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total
FROM unioned
""",
    tags=("source", "relational"),
)
def qj44_union_schema_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema reconciliation across table GENERATIONS with
    unionByName(allowMissingColumns=True): a legacy batch lacking the
    lang/source columns unions with the modern batch BY NAME — Spark
    null-fills the missing columns and aligns by column name, not
    position (positional unionAll would silently mis-bind columns, the
    classic schema-drift corruption) — then one aggregate profiles the
    merged view. i27 tests the READER-side mergeSchema; this is the
    in-plan union-side reconcile an ingest job needs when upstream
    producers upgrade at different times. The even/odd doc_id split is
    a generation SPLIT (both sides fully kept), not a sample.

    Scale: pure narrow ops — two scans of the same source with column
    pruning, a union (no shuffle), one aggregation.
    """
    d = table(spark, sf_dir, "documents")
    legacy = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")
    modern = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "n_chars", "lang", "source")
    unioned = legacy.unionByName(modern, allowMissingColumns=True)
    return unioned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.col("lang").isNull().cast("int")).cast("bigint").alias("n_legacy"),
        F.sum(F.col("lang").isNotNull().cast("int")).cast("bigint").alias("n_modern"),
        F.count_distinct("lang").cast("bigint").alias("langs_seen"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )


# ---------------------------------------------------------------------------
# j45 — boilerplate rate by segment POSITION (head / middle / tail)

_J45_SEG_WORDS = 10


@query(
    "qj45_boilerplate_position",
    oracle=f"""
WITH segs AS (
  SELECT doc_id,
         CAST((s - 1) // {_J45_SEG_WORDS} AS BIGINT) AS seg_idx,
         CAST((len(string_split(text, ' ')) + {_J45_SEG_WORDS - 1}) // {_J45_SEG_WORDS} AS BIGINT) AS n_segs,
         md5(array_to_string(string_split(text, ' ')[s:s + {_J45_SEG_WORDS - 1}], ' ')) AS seg_hash
  FROM documents,
       (SELECT unnest(range(1, (SELECT MAX(len(string_split(text, ' '))) FROM documents) + 1, {_J45_SEG_WORDS})) AS s)
  WHERE s <= len(string_split(text, ' '))
), freq AS (
  SELECT seg_hash, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg_hash
), classed AS (
  SELECT CASE WHEN s.seg_idx = 0 THEN 'head'
              WHEN s.seg_idx = s.n_segs - 1 THEN 'tail'
              ELSE 'middle' END AS position,
         CASE WHEN f.df > 1 THEN 1 ELSE 0 END AS shared
  FROM segs s JOIN freq f ON f.seg_hash = s.seg_hash
)
SELECT position,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(shared) AS BIGINT) AS n_shared,
       {sql_pround('CAST(SUM(shared) AS DOUBLE) / COUNT(*)', 6)} AS shared_frac
FROM classed GROUP BY position
ORDER BY position
""",
    tags=("dedup", "text"),
    bench=True,
)
def qj45_boilerplate_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate rate CONDITIONED on segment position: cut documents
    into {_J45_SEG_WORDS}-word segments (qf13's segmentation), mark a
    segment shared when its hash appears in more than one document,
    and report the shared fraction separately for the FIRST segment,
    the LAST segment, and the middle — web boilerplate (nav headers,
    cookie banners, footers) concentrates at document edges, so
    head/tail rates far above the middle rate are the signature that a
    position-aware line-dedup pass (CCNet's) would pay off, and the
    middle rate approximates the true content duplication floor. A doc
    with one segment counts as 'head'.

    Scale: identical shape to qf13 (non-overlapping explode, md5 keys,
    distinct-doc df, join back on hash) plus a constant-width position
    classification; the final rollup has three rows.
    """
    # spread BEFORE the segment explode + per-segment md5 (r14): the
    # sf-scale documents table is one parquet split, so the hash stage
    # otherwise runs single-core; no-op at real scale (guard).
    d = spread(table(spark, sf_dir, "documents"), "doc_id")
    words = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size(words), F.lit(_J45_SEG_WORDS))
    n_segs = F.floor((F.size(words) + (_J45_SEG_WORDS - 1)) / _J45_SEG_WORDS).cast("bigint")
    segs = d.select(
        "doc_id",
        n_segs.alias("n_segs"),
        F.explode(starts).alias("s"),
        words.alias("w"),
    ).select(
        "doc_id",
        "n_segs",
        F.floor((F.col("s") - 1) / _J45_SEG_WORDS).cast("bigint").alias("seg_idx"),
        F.md5(F.array_join(F.slice("w", F.col("s"), _J45_SEG_WORDS), " ")).alias("seg_hash"),
    )
    freq = segs.groupBy("seg_hash").agg(F.count_distinct("doc_id").alias("df"))
    classed = segs.join(freq, "seg_hash").select(
        F.when(F.col("seg_idx") == 0, "head")
        .when(F.col("seg_idx") == F.col("n_segs") - 1, "tail")
        .otherwise("middle")
        .alias("position"),
        (F.col("df") > 1).cast("int").alias("shared"),
    )
    return (
        classed.groupBy("position")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("shared").cast("bigint").alias("n_shared"),
            pround(F.sum("shared").cast("double") / F.count(F.lit(1)), 6).alias("shared_frac"),
        )
        .orderBy("position")
    )


# ---------------------------------------------------------------------------
# j46 — business-day shipping latency via the weekday-prefix closed form


def _sql_weekday_prefix(date_expr: str) -> str:
    """Weekdays in [1969-12-29 (a Monday), date): closed form
    W(m) = 5*(m//7) + least(m%7, 5) with m = days since that Monday."""
    m = f"(datediff('day', DATE '1969-12-29', {date_expr}))"
    return f"(5 * ({m} // 7) + least({m} % 7, 5))"


def _weekday_prefix(col: Column) -> Column:
    m = F.datediff(col, F.lit("1969-12-29").cast("date"))
    return 5 * F.floor(m / 7) + F.least(m % 7, F.lit(5))


@query(
    "qj46_business_days_latency",
    oracle=f"""
WITH lat AS (
  SELECT o.o_orderpriority AS pri,
         {_sql_weekday_prefix("CAST(l.l_shipdate AS DATE) + 1")}
           - {_sql_weekday_prefix("CAST(o.o_orderdate AS DATE) + 1")} AS bdays
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT pri,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(bdays AS DECIMAL(25,0))) AS BIGINT) AS bdays_total,
       {sql_pround('CAST(SUM(CAST(bdays AS DECIMAL(25,0))) AS DOUBLE) / COUNT(*)', 6)} AS avg_bdays,
       CAST(MAX(bdays) AS BIGINT) AS max_bdays
FROM lat GROUP BY pri
ORDER BY pri
""",
    tags=("relational", "timeseries"),
)
def qj46_business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day (Mon-Fri) shipping latency per order priority:
    weekdays strictly after the order date up to and including the ship
    date, computed with the WEEKDAY-PREFIX closed form — W(d) = number
    of weekdays since a fixed reference Monday, so bdays(a, b] =
    W(b+1) - W(a+1) — pure integer arithmetic per row, NO calendar
    table, no per-day explosion (a date-spine join would fan each of
    the 60k+ rows into its full date range). Calendar-day latency
    (qf16's buckets) overstates SLA breaches that span weekends; this
    is the SLA number as contracts define it.

    Scale: one equi join on the FK and one grouped aggregate; the
    closed form is branch-free and codegen-friendly. Holidays would be
    one broadcast anti-join away, orthogonal to the shape.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("pri"), F.col("o_orderdate").cast("date").alias("od")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "pri",
        (
            _weekday_prefix(F.date_add(F.col("sd"), 1)) - _weekday_prefix(F.date_add(F.col("od"), 1))
        ).alias("bdays"),
    )
    return (
        lat.groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("bdays").cast("decimal(25,0)")).cast("bigint").alias("bdays_total"),
            pround(
                F.sum(F.col("bdays").cast("decimal(25,0)")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_bdays"),
            F.max("bdays").cast("bigint").alias("max_bdays"),
        )
        .orderBy("pri")
    )


# ---------------------------------------------------------------------------
# j47 — repartitionByRange balance audit on quantized boundaries

_J47_PARTS = 8
_J47_BUCKET = 1000.0  # price quantization for the bounded lattice


@query(
    "qj47_range_partition_balance",
    oracle=f"""
WITH lattice AS (
  SELECT CAST(floor(o_totalprice / {_J47_BUCKET}) AS BIGINT) AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM lattice
), cum AS (
  SELECT b, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY b ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM lattice
), assigned AS (
  SELECT c.b, c.cnt, t.total,
         LEAST(CAST(floor(c.cum_before * {_J47_PARTS} / t.total) AS BIGINT), {_J47_PARTS - 1}) AS pid
  FROM cum c CROSS JOIN tot t
)
SELECT CAST(pid AS BIGINT) AS partition_id,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       {sql_pround(f'CAST(SUM(cnt) AS DOUBLE) * {_J47_PARTS} / MAX(total)', 6)} AS balance_ratio
FROM assigned GROUP BY pid
ORDER BY partition_id
""",
    tags=("audit",),
)
def qj47_range_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioning balance audit: derive {_J47_PARTS} range
    boundaries for o_totalprice from exact cumulative counts over a
    $1000-quantized value lattice (each bucket lands in the partition
    its cumulative offset selects — sorted-fill, the deterministic
    analog of repartitionByRange's sampled boundaries), then report
    each partition's row count and its balance ratio vs the ideal
    n/{_J47_PARTS}. A ratio far from 1.0 on some partition is the skew
    that makes a range-partitioned write (qe17-style sorted layouts,
    j36's clustered files) long-tail; this measures it BEFORE paying
    the shuffle, from a lattice one map-side groupBy produces.

    Scale: all logic runs on the bounded price lattice (~600 buckets);
    raw rows are touched once by the quantizing groupBy. The global
    cumulative window consumes that aggregate only.
    """
    o = table(spark, sf_dir, "orders")
    lattice = o.groupBy(
        F.floor(F.col("o_totalprice") / _J47_BUCKET).cast("bigint").alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = Window.orderBy(F.asc("b")).rowsBetween(Window.unboundedPreceding, -1)
    total = lattice.agg(F.sum("cnt").alias("total"))
    cum = lattice.withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))).crossJoin(
        F.broadcast(total)
    )
    assigned = cum.withColumn(
        "pid",
        F.least(
            F.floor(F.col("cum_before") * _J47_PARTS / F.col("total")).cast("bigint"),
            F.lit(_J47_PARTS - 1),
        ),
    )
    return (
        assigned.groupBy(F.col("pid").cast("bigint").alias("partition_id"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n_rows"),
            pround(F.sum("cnt").cast("double") * _J47_PARTS / F.max("total"), 6).alias(
                "balance_ratio"
            ),
        )
        .orderBy("partition_id")
    )


# ---------------------------------------------------------------------------
# j48 — Welch's unequal-variance t-test between two language strata


@query(
    "qj48_welch_ttest",
    oracle="""
WITH s AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS DOUBLE) AS s2
  FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
), m AS (
  SELECT lang, n, s1 / n AS mean,
         (s2 - s1 * s1 / n) / (n - 1) AS var_
  FROM s
), w AS (
  SELECT a.n AS n1, b.n AS n2,
         a.mean - b.mean AS mean_diff,
         a.var_ / a.n + b.var_ / b.n AS se2,
         a.var_ / a.n AS q1, b.var_ / b.n AS q2
  FROM m a CROSS JOIN m b
  WHERE a.lang = 'en' AND b.lang = 'de'
)
SELECT n1, n2,
       {MD} AS mean_diff,
       {T} AS t_stat,
       {DF} AS df_welch
FROM w
""".replace("{MD}", sql_pround("mean_diff", 6))
    .replace("{T}", sql_pround("mean_diff / sqrt(se2)", 6))
    .replace(
        "{DF}",
        sql_pround("se2 * se2 / (q1 * q1 / (n1 - 1) + q2 * q2 / (n2 - 1))", 6),
    ),
    tags=("statistics", "text"),
)
def qj48_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing mean document length
    between the 'en' and 'de' strata, with the Welch-Satterthwaite
    effective degrees of freedom — the CORRECT two-sample mean test
    when strata differ in size and variance (the pooled-variance
    Student t silently assumes homogeneity; j20 is the test OF that
    assumption, this is what to run when it fails). Sample variance
    uses the n-1 form computed from exact integer power sums.

    Scale: one grouped aggregation over the filtered scan (lang
    predicate pushed down), then a 2-row pivot via self-cross of the
    1-row-per-stratum aggregate. All float expressions are written
    identically on both engines; sqrt only.
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
        (F.col("a.mean") - F.col("b.mean")).alias("mean_diff"),
        (F.col("a.var_") / F.col("a.n") + F.col("b.var_") / F.col("b.n")).alias("se2"),
        (F.col("a.var_") / F.col("a.n")).alias("q1"),
        (F.col("b.var_") / F.col("b.n")).alias("q2"),
    )
    return w.select(
        "n1",
        "n2",
        pround(F.col("mean_diff"), 6).alias("mean_diff"),
        pround(F.col("mean_diff") / F.sqrt(F.col("se2")), 6).alias("t_stat"),
        pround(
            F.col("se2") * F.col("se2")
            / (
                F.col("q1") * F.col("q1") / (F.col("n1") - 1)
                + F.col("q2") * F.col("q2") / (F.col("n2") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# j49 — interval x interval intersection volume (day-bucketed band join)


@query(
    "qj49_interval_intersection_volume",
    oracle=f"""
WITH spans AS (
  SELECT user_id, {_SQL_DAY_IDX} AS di,
         MIN(epoch_us(ts)) AS a_start, MAX(epoch_us(ts)) AS a_end
  FROM events GROUP BY user_id, 2
  HAVING MAX(epoch_us(ts)) > MIN(epoch_us(ts))
), err_hours AS (
  SELECT {_SQL_DAY_IDX} AS di, epoch_us(date_trunc('hour', ts)) AS h_start,
         CAST(COUNT(*) AS BIGINT) AS errs
  FROM events WHERE event_type = 'error' GROUP BY 2, 1
), incidents AS (
  SELECT di, h_start AS b_start, h_start + {3_600_000_000} AS b_end
  FROM (SELECT di, h_start, errs,
               row_number() OVER (PARTITION BY di ORDER BY errs DESC, h_start ASC) AS rn
        FROM err_hours)
  WHERE rn = 1
), ovl AS (
  SELECT s.di,
         GREATEST(0, LEAST(s.a_end, i.b_end) - GREATEST(s.a_start, i.b_start)) AS ov
  FROM spans s JOIN incidents i ON s.di = i.di
)
SELECT CAST(di AS BIGINT) AS day_index,
       CAST(COUNT(*) AS BIGINT) AS n_user_spans,
       CAST(SUM(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlapping,
       {sql_pround('CAST(SUM(CAST(ov AS DECIMAL(38,0))) AS DOUBLE) / 1000000', 6)} AS overlap_seconds
FROM ovl GROUP BY di
ORDER BY day_index
""",
    tags=("events", "join", "timeseries"),
)
def qj49_interval_intersection_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval intersection VOLUME: each user's daily
    activity span [first event, last event] is intersected with that
    day's incident window (the hour with the most error events, ties to
    the earliest hour), reporting per day how many user spans overlap
    the incident and the total overlapping seconds — the
    SLA-impact-accounting query ("how much user activity time fell
    inside the outage window"). qb35 joins POINTS into intervals; this
    is the interval-vs-interval volume form, with overlap =
    max(0, min(ends) - max(starts)) on exact integer microseconds.

    Scale: both interval sets carry the DAY as an equi-key, so the join
    is a plain co-partitioned hash join (never a full range join) —
    the time-bucketing trick that makes interval joins shuffle-bounded
    at 100 TB; the incident side is one row per day after a partitioned
    argmax window.
    """
    e = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    di = _day_idx()
    spans = (
        e.groupBy("user_id", di.alias("di"))
        .agg(F.min(us).alias("a_start"), F.max(us).alias("a_end"))
        .filter(F.col("a_end") > F.col("a_start"))
    )
    err_hours = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.unix_micros(F.date_trunc("hour", "ts")).alias("h_start"), di.alias("di"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("errs"))
    )
    wr = Window.partitionBy("di").orderBy(F.desc("errs"), F.asc("h_start"))
    incidents = (
        err_hours.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("di", F.col("h_start").alias("b_start"), (F.col("h_start") + 3_600_000_000).alias("b_end"))
    )
    ov = F.greatest(
        F.lit(0),
        F.least(F.col("a_end"), F.col("b_end")) - F.greatest(F.col("a_start"), F.col("b_start")),
    )
    overlaps = spans.join(incidents, "di").select("di", ov.alias("ov"))
    return (
        overlaps.groupBy(F.col("di").cast("bigint").alias("day_index"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_user_spans"),
            F.sum((F.col("ov") > 0).cast("int")).cast("bigint").alias("n_overlapping"),
            pround(F.sum(F.col("ov").cast("decimal(38,0)")).cast("double") / 1_000_000, 6).alias(
                "overlap_seconds"
            ),
        )
        .orderBy("day_index")
    )


# ---------------------------------------------------------------------------
# j50 — cogrouped applyInPandas: order/lineitem reconciliation in Arrow


@query(
    "qj50_cogrouped_applyinpandas",
    oracle="""
WITH per_order AS (
  SELECT o.o_orderkey, o.o_orderpriority AS pri,
         CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
         CAST(COALESCE(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)), 0) AS BIGINT) AS rev_cents,
         CAST(COALESCE(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END), 0) AS BIGINT) AS late_lines
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderpriority
)
SELECT pri,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(rev_cents) AS BIGINT) AS rev_cents,
       CAST(SUM(late_lines) AS BIGINT) AS late_lines
FROM per_order GROUP BY pri
ORDER BY pri
""",
    tags=("udf", "join"),
    bench=True,
)
def qj50_cogrouped_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas — the one Arrow UDF entry point the UDF
    surface (qb01/qb03/qb04/qb41) did not yet cover: orders and
    lineitems are COGROUPED by a 64-way bucket of the order key (one Arrow batch per
    bucket, per-key logic vectorized inside — raw-key cogroup would pay
    one Python call per order) and each (order-batch,
    line-batch) pandas pair is reconciled in Python — line count,
    revenue in exact integer cents, and lines shipped more than 60 days
    after the order date — then rolled up per priority. The pandas body
    is integer-only (cents via round-half-up, day diffs as int64), so
    the Python hop cannot introduce float drift; orders with no
    lineitems surface with zero counts like the oracle's LEFT JOIN.

    Scale: cogroup shuffles BOTH sides by the same key once (the same
    exchange a join would pay) and streams each key's Arrow batches to
    Python — the escape hatch for per-key logic that outgrows SQL
    (multi-pass netting, per-key state machines). Here the logic IS
    SQL-expressible, which is what makes it oracle-gateable.
    """
    import pandas as pd

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("pri"), F.col("o_orderdate").cast("date").alias("od")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", F.col("l_shipdate").cast("date").alias("sd")
    )

    def reconcile(orders_pdf: "pd.DataFrame", lines_pdf: "pd.DataFrame") -> "pd.DataFrame":
        # one row per order in this cogroup batch; vectorized, integer-only
        if len(lines_pdf):
            merged = lines_pdf.merge(
                orders_pdf[["o_orderkey", "od"]],
                left_on="l_orderkey",
                right_on="o_orderkey",
                how="inner",
            )
            merged["cents"] = (merged["l_extendedprice"] * 100 + 0.5).astype("int64")
            merged["late"] = (merged["sd"] > merged["od"] + pd.Timedelta(days=60)).astype("int64")
            per = merged.groupby("l_orderkey").agg(
                n_lines=("l_orderkey", "size"),
                rev_cents=("cents", "sum"),
                late_lines=("late", "sum"),
            )
        else:
            per = pd.DataFrame(columns=["n_lines", "rev_cents", "late_lines"])
        out = orders_pdf.merge(
            per, left_on="o_orderkey", right_index=True, how="left"
        )
        for c in ("n_lines", "rev_cents", "late_lines"):
            out[c] = out[c].fillna(0).astype("int64")
        return out[["pri", "n_lines", "rev_cents", "late_lines"]]

    # Cogroup on a BUCKET of keys, not the raw key: one Arrow batch per
    # bucket (64 calls) instead of one Python invocation per order —
    # the per-key reconciliation happens vectorized INSIDE the batch.
    ob = o.withColumn("bk", (F.col("o_orderkey") % 64).cast("int"))
    lb = li.withColumn("bk", (F.col("l_orderkey") % 64).cast("int"))
    per_order = ob.groupBy("bk").cogroup(lb.groupBy("bk")).applyInPandas(
        reconcile,
        schema="pri string, n_lines long, rev_cents long, late_lines long",
    )
    return (
        per_order.groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.sum("rev_cents").cast("bigint").alias("rev_cents"),
            F.sum("late_lines").cast("bigint").alias("late_lines"),
        )
        .orderBy("pri")
    )
