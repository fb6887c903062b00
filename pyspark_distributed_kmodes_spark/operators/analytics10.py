"""Round-8 staged extensions (m01+): the ROUND-9 driver window — the
round-8 k-keys are driver-green and rotated out as qk01-qk50 (rotation
history in __spark_entry__.py). Keyed m so they sort between the staged
l-suite and the driver-green q-space: l01-l14 + m01-m35 + m58 = exactly
50.

Batch contents, per the round-7 verdict's depth priorities:
(a) REAL Structured Streaming execution under the hash gate — the
    upsert-sink multi-batch convergence audit (m01) and a
    checkpoint-restart equivalence audit (m02): the streaming twins'
    parity proofs promoted from pytest into driver-verified queries.
(b) theta-sketch SET-ALGEBRA audit (m03) — the q49/qb36-class
    estimates gated through exact-value + error-bound flags.
(c) k-suite property-test invariants promoted to oracle-gated forms:
    MAE<=RMSE (m04), Markov row-stochasticity (m05), the metric
    triangle inequality on real embeddings (m06).
Plus statistics-suite depth (Anderson-Darling uniformity, Ljung-Box,
Mood's median, Bartlett, Grubbs, odds ratio, Jonckheere, Brunner-
Munzel, Fligner-Killeen, Page trend, variance-ratio, turning points,
ADF, Cronbach's alpha, MCC, log-loss, Nelson-Aalen, BH-FDR, empirical
Bayes), ranking eval (NDCG/MRR), and LLM-pipeline depth (shingle-width
sweep, deterministic Bloom prefilter, mergeable checksums, CDC
tombstones, z-order locality, triangle counting, sequence entropy,
diff-in-diff, quantile treatment effects).

Engine style unchanged: pure JVM DataFrame ops, pround floor-rounding
on every oracle-gated double, DECIMAL-summed float aggregates, unique
ORDER BY tie-breaks, scalar-only outputs, partition-less windows only
over bounded aggregates (value dictionaries / per-group moments),
explicit floor() on fractional->int casts.
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
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table
from pyspark_distributed_kmodes_spark.streaming.jobs import (
    _write_single_file,
    replay_stream,
    stage_event_chunks,
    tumbling_counts_stream,
    upsert_sink_stream,
)


# ---------------------------------------------------------------------------
# m03 — theta sketch set algebra audit (union / intersection / difference)

_M03_REL = 0.05  # 3-sigma-ish budget for lgK=12 theta union/difference
_M03_REL_I = 0.12  # intersections compound error
_M03_ABS = 16.0  # absolute slack for tiny true cardinalities


@query(
    "qm03_theta_set_algebra_audit",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT source, unnest(string_split(lower(text), ' ')) AS token FROM documents
), srcs AS (
  SELECT DISTINCT source FROM documents
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM srcs a JOIN srcs b ON a.source < b.source
)
SELECT p.src_a, p.src_b,
       CAST((SELECT COUNT(*) FROM toks t WHERE t.source = p.src_a) AS BIGINT) AS exact_a,
       CAST((SELECT COUNT(*) FROM toks t WHERE t.source = p.src_b) AS BIGINT) AS exact_b,
       CAST((SELECT COUNT(DISTINCT token) FROM toks t
             WHERE t.source IN (p.src_a, p.src_b)) AS BIGINT) AS exact_union,
       CAST((SELECT COUNT(*) FROM toks x JOIN toks y
             ON x.token = y.token AND x.source = p.src_a AND y.source = p.src_b) AS BIGINT)
         AS exact_inter,
       TRUE AS union_within, TRUE AS inter_within, TRUE AS diff_within
FROM pairs p
ORDER BY src_a, src_b
""",
    tags=("sketch", "approx", "audit"),
)
def qm03_theta_set_algebra_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET-ALGEBRA audit, hash-gated: per source pair,
    union/intersection/difference cardinalities estimated from one
    theta sketch per source are checked against the exact distinct
    token counts with per-operation error budgets ({_M03_REL:.0%}
    relative for union and difference, {_M03_REL_I:.0%} for the
    intersection — set operations COMPOUND sketch error — plus a
    {_M03_ABS:.0f}-row absolute floor for tiny truths). The oracle
    asserts all three flags TRUE next to the exact values, so a sketch
    drifting outside its design error hash-mismatches. This is the
    set-ALGEBRA complement of qb36 (which emits raw estimates,
    rows-only): a data catalog computes cross-source overlap, novelty
    (A\\B), and combined-vocabulary numbers from ONE sketch per source
    instead of re-scanning every pair — these flags are the contract
    that makes that shortcut safe.

    Scale: one token scan builds |sources| sketches (map-side
    mergeable, kilobytes each); all pairwise algebra runs on the tiny
    sketch table. The exact side is corpus-bounded and exists only to
    gate; production uses the sketches alone. Theta sketches are
    deterministic for a given input set, so the audit is stable
    across partitionings.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).distinct()
    # vocabulary-bounded; 6 consumers (sketches, exacts, both inter sides)
    toks = toks.transform(cut_lineage)
    sk = toks.groupBy("source").agg(F.expr("theta_sketch_agg(token)").alias("sk"))
    exact = toks.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
    a = sk.join(exact, "source").select(
        F.col("source").alias("src_a"), F.col("sk").alias("sk_a"), F.col("exact_n").alias("exact_a")
    )
    b = sk.join(exact, "source").select(
        F.col("source").alias("src_b"), F.col("sk").alias("sk_b"), F.col("exact_n").alias("exact_b")
    )
    pairs = a.join(b, F.col("src_a") < F.col("src_b"))
    # exact pairwise truths from the token table (audit side only)
    t2 = toks.select(F.col("source").alias("src_b2"), F.col("token").alias("tok_b"))
    inter = (
        toks.join(t2, (F.col("token") == F.col("tok_b")) & (F.col("source") < F.col("src_b2")))
        .groupBy(F.col("source").alias("src_a"), F.col("src_b2").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    )
    est_u = F.expr("theta_sketch_estimate(theta_union(sk_a, sk_b))")
    est_i = F.expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))")
    scored = (
        pairs.join(inter, ["src_a", "src_b"], "left")
        .na.fill({"exact_inter": 0})
        .select(
            "src_a",
            "src_b",
            "exact_a",
            "exact_b",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")).alias("exact_union"),
            "exact_inter",
            est_u.alias("est_union"),
            est_i.alias("est_inter"),
            F.expr("theta_sketch_estimate(sk_a)").alias("est_a"),
        )
    )

    def within(est: Column, exact: Column, rel: float) -> Column:
        return F.abs(est - exact) <= F.greatest(F.lit(_M03_ABS), F.lit(rel) * exact)

    est_diff = F.col("est_a") - F.col("est_inter")  # |A\B| = |A| - |A∩B|, all-sketch algebra
    exact_diff = F.col("exact_a") - F.col("exact_inter")
    return scored.select(
        "src_a",
        "src_b",
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
        within(F.col("est_union"), F.col("exact_union"), _M03_REL).alias("union_within"),
        within(F.col("est_inter"), F.col("exact_inter"), _M03_REL_I).alias("inter_within"),
        within(est_diff, exact_diff, _M03_REL_I).alias("diff_within"),
    ).orderBy("src_a", "src_b")


# ---------------------------------------------------------------------------
# m04 — MAE <= RMSE <= max|e| (k12's backtest invariants, oracle-gated)


@query(
    "qm04_mae_rmse_bound_audit",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         {sql_dsum('value')} AS rev
  FROM events GROUP BY 1, 2
), paired AS (
  SELECT a.event_type,
         CAST({sql_pround('a.rev', 6)} AS DECIMAL(25,6))
           - CAST({sql_pround('b.rev', 6)} AS DECIMAL(25,6)) AS e
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d = a.d - INTERVAL 7 DAY
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       {sql_pround('CAST(SUM(ABS(e)) AS DOUBLE) / COUNT(*)', 6)} AS mae,
       {sql_pround('CAST(SUM(e * e) AS DOUBLE) / COUNT(*)', 6)} AS mse,
       (CAST(SUM(ABS(e)) AS DOUBLE) / COUNT(*)) * (CAST(SUM(ABS(e)) AS DOUBLE) / COUNT(*))
         <= CAST(SUM(e * e) AS DOUBLE) / COUNT(*) AS mae_le_rmse,
       CAST(SUM(e * e) AS DOUBLE) / COUNT(*)
         <= CAST(MAX(ABS(e)) AS DOUBLE) * CAST(MAX(ABS(e)) AS DOUBLE) AS rmse_le_max
FROM paired GROUP BY event_type ORDER BY event_type
""",
    tags=("statistics", "forecast", "audit"),
)
def qm04_mae_rmse_bound_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k12's seasonal-naive backtest invariants promoted to an
    oracle-gated audit: per event type, the 7-day-lag forecast errors
    must satisfy MAE <= RMSE <= max|e| (Cauchy-Schwarz / sup-norm
    bounds — violated only by broken aggregation). Errors are exact
    DECIMALs (daily revenue pround(6)-quantized before differencing),
    so MAE, MSE and both flags are bit-identical on both engines; a
    partial-aggregation bug that double-counts a shard flips a flag
    and hash-mismatches.

    Scale: one daily collapse (map-side combinable), a 7-day self-join
    on the bounded (type, day) table, exact integer/decimal moments.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(dsum("value").alias("rev"))
    a = daily.alias("a")
    b = daily.select(
        F.col("event_type").alias("bt"), F.col("d").alias("bd"), F.col("rev").alias("brev")
    )
    paired = a.join(
        b,
        (F.col("a.event_type") == F.col("bt")) & (F.col("bd") == F.date_sub(F.col("a.d"), 7)),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            pround(F.col("a.rev"), 6).cast("decimal(25,6)")
            - pround(F.col("brev"), 6).cast("decimal(25,6)")
        ).alias("e"),
    )
    g = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.abs(F.col("e"))).alias("sae"),
        F.sum(F.col("e") * F.col("e")).alias("sse"),
        F.max(F.abs(F.col("e"))).alias("maxe"),
    )
    mae = F.col("sae").cast("double") / F.col("n_days")
    mse = F.col("sse").cast("double") / F.col("n_days")
    mx = F.col("maxe").cast("double")
    return g.select(
        "event_type",
        "n_days",
        pround(mae, 6).alias("mae"),
        pround(mse, 6).alias("mse"),
        (mae * mae <= mse).alias("mae_le_rmse"),
        (mse <= mx * mx).alias("rmse_le_max"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# m05 — Markov transition matrix row-stochasticity audit (k13's property)


@query(
    "qm05_markov_row_stochastic_audit",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type AS a,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
  FROM events
), trans AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM seq WHERE b IS NOT NULL GROUP BY a, b
), rowtot AS (
  SELECT a, CAST(SUM(n) AS BIGINT) AS tot FROM trans GROUP BY a
), p AS (
  SELECT t.a, t.b, {sql_pround('CAST(t.n AS DOUBLE) / r.tot', 9)} AS p
  FROM trans t JOIN rowtot r ON r.a = t.a
), p2 AS (
  SELECT x.a, y.b,
         {sql_pround('CAST(SUM(CAST(' + sql_pround('x.p * y.p', 12) + ' AS DECIMAL(25,12))) AS DOUBLE)', 9)} AS p
  FROM p x JOIN p y ON x.b = y.a GROUP BY x.a, y.b
), s1 AS (
  SELECT a, CAST(SUM(CAST(p AS DECIMAL(25,9))) AS DOUBLE) AS rowsum FROM p GROUP BY a
), s2 AS (
  SELECT a, CAST(SUM(CAST(p AS DECIMAL(25,9))) AS DOUBLE) AS rowsum FROM p2 GROUP BY a
)
SELECT r.a AS state, r.tot AS n_out,
       {sql_pround('s1.rowsum', 9)} AS rowsum_p,
       {sql_pround('s2.rowsum', 9)} AS rowsum_p2,
       ABS(s1.rowsum - 1.0) <= 1e-7 AS p_stochastic,
       ABS(s2.rowsum - 1.0) <= 1e-6 AS p2_stochastic
FROM rowtot r JOIN s1 ON s1.a = r.a JOIN s2 ON s2.a = r.a
ORDER BY state
""",
    tags=("statistics", "events", "audit"),
)
def qm05_markov_row_stochastic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k13's Markov property test promoted to an oracle-gated audit:
    the event-type transition matrix P (per-user consecutive pairs)
    and its square P**2 must both be row-stochastic. Entries are
    pround(9)-quantized ratios, row sums are DECIMAL-exact over the
    quantized entries, so the sums land within a few ulps of 1 on
    BOTH engines identically and the tolerance flags (1e-7 for P,
    1e-6 for P**2 — quantization compounds once per multiply) are
    bit-stable. A transition extraction that drops a user shard or
    double-counts a boundary breaks a row sum and hash-mismatches.

    Scale: per-user LEAD over user-partitioned windows (parallel),
    one |types|**2-cell matrix; the P**2 join runs on that bounded
    matrix, never on events.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(F.col("event_type").alias("a"), F.lead("event_type").over(w).alias("b"))
    trans = (
        seq.where(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rowtot = trans.groupBy("a").agg(F.sum("n").cast("bigint").alias("tot"))
    p = trans.join(rowtot, "a").select(
        "a", "b", pround(F.col("n").cast("double") / F.col("tot"), 9).alias("p")
    )
    p = p.transform(cut_lineage)  # consumed by s1 + both sides of P^2
    x = p.select(F.col("a").alias("xa"), F.col("b").alias("xb"), F.col("p").alias("xp"))
    y = p.select(F.col("a").alias("ya"), F.col("b").alias("yb"), F.col("p").alias("yp"))
    p2 = (
        x.join(y, F.col("xb") == F.col("ya"))
        .groupBy(F.col("xa").alias("a"), F.col("yb").alias("b"))
        .agg(
            pround(
                F.sum(pround(F.col("xp") * F.col("yp"), 12).cast("decimal(25,12)")).cast("double"),
                9,
            ).alias("p")
        )
    )
    s1 = p.groupBy("a").agg(F.sum(F.col("p").cast("decimal(25,9)")).cast("double").alias("rs1"))
    s2 = p2.groupBy("a").agg(F.sum(F.col("p").cast("decimal(25,9)")).cast("double").alias("rs2"))
    return (
        rowtot.join(s1, "a")
        .join(s2, "a")
        .select(
            F.col("a").alias("state"),
            F.col("tot").alias("n_out"),
            pround(F.col("rs1"), 9).alias("rowsum_p"),
            pround(F.col("rs2"), 9).alias("rowsum_p2"),
            (F.abs(F.col("rs1") - 1.0) <= 1e-7).alias("p_stochastic"),
            (F.abs(F.col("rs2") - 1.0) <= 1e-6).alias("p2_stochastic"),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# m07 — Anderson-Darling uniformity test of the md5 sampling scores

_M07_LAT = 1_000_000  # score lattice: (h % 1e6 + 0.5) / 1e6 in (0,1)


@query(
    "qm07_anderson_darling_uniformity",
    oracle=f"""
WITH users AS (
  SELECT DISTINCT user_id FROM events
), scores AS (
  SELECT (CAST({_sql_md5fold('CAST(user_id AS VARCHAR)')} % {_M07_LAT} AS DOUBLE) + 0.5)
           / {_M07_LAT} AS s
  FROM users
), dict AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM scores GROUP BY s
), runs AS (
  SELECT s, c,
         SUM(c) OVER (ORDER BY s ASC) AS b,
         SUM(c) OVER (ORDER BY s ASC) - c + 1 AS a,
         (SELECT SUM(c) FROM dict) AS n
  FROM dict
), terms AS (
  SELECT n,
         CAST({sql_pround('ln(s)', 9)} AS DECIMAL(25,9)) * (b * b - (a - 1) * (a - 1)) AS t1,
         CAST({sql_pround('ln(1.0 - s)', 9)} AS DECIMAL(25,9))
           * ((2 * n + 1) * c - (b * (b + 1) - (a - 1) * a)) AS t2
  FROM runs
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       {sql_pround('-CAST(MAX(n) AS DOUBLE) - CAST(SUM(t1 + t2) AS DOUBLE) / MAX(n)', 6)} AS a2
FROM terms
""",
    tags=("statistics", "audit"),
)
def qm07_anderson_darling_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling test that the md5-fold sampling scores are
    Uniform(0,1) — the audit behind every hash-keyed decision in this
    engine (qe01 reservoir weights, qb42 splits, qh12 anchors, k11
    splits): A² = −n − (1/n)·Σ(2i−1)[ln s_i + ln(1−s_{{n+1−i}})],
    computed over the SCORE DICTIONARY (≤{_M07_LAT} lattice points):
    for a run of equal scores at ranks a..b, Σ(2i−1) telescopes to
    b²−(a−1)², and the reversed term to (2n+1)c − (b(b+1)−(a−1)a), so
    the only ordered window runs over distinct scores, never users.
    ln terms are pround(9)-quantized and DECIMAL-summed with exact
    integer rank weights — bit-identical on both engines. A
    catastrophically non-uniform hash (A² blowing past ~2.5) would be
    a sampling-bias incident; the gate pins the exact statistic.

    Scale: distinct-user collapse, dictionary groupBy, one bounded
    cumulative window, 1-row moments — the qj01 lattice pattern.
    """
    e = table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    s = (
        (_md5fold(F.col("user_id").cast("string")) % _M07_LAT).cast("double") + 0.5
    ) / _M07_LAT
    dict_ = users.select(s.alias("s")).groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wsum = Window.orderBy(F.asc("s"))  # bounded: score dictionary
    runs = dict_.select(
        "s",
        "c",
        F.sum("c").over(wsum).alias("b"),
        (F.sum("c").over(wsum) - F.col("c") + 1).alias("a"),
    )
    n_total = users.count()  # 1-row scalar; drives exact integer weights
    t1 = pround(F.log(F.col("s")), 9).cast("decimal(25,9)") * (
        F.col("b") * F.col("b") - (F.col("a") - 1) * (F.col("a") - 1)
    )
    t2 = pround(F.log(1.0 - F.col("s")), 9).cast("decimal(25,9)") * (
        (2 * F.lit(n_total) + 1) * F.col("c")
        - (F.col("b") * (F.col("b") + 1) - (F.col("a") - 1) * F.col("a"))
    )
    terms = runs.select((t1 + t2).alias("t"))
    return terms.agg(
        F.lit(n_total).cast("bigint").alias("n"),
        pround(
            -F.lit(float(n_total)) - F.sum("t").cast("double") / F.lit(float(n_total)), 6
        ).alias("a2"),
    )


# ---------------------------------------------------------------------------
# m09 — Mood's median test: acctbal above/below the grand median by nation


@query(
    "qm09_moods_median",
    oracle=f"""
WITH dict AS (
  SELECT c_acctbal AS v, CAST(COUNT(*) AS BIGINT) AS c FROM customer GROUP BY 1
), cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v ASC) AS cum, (SELECT SUM(c) FROM dict) AS n FROM dict
), med AS (
  SELECT MIN(v) AS gm FROM cum WHERE cum >= CAST(ceil(n / 2.0) AS BIGINT)
), cells AS (
  SELECT c_nationkey AS nation,
         CAST(SUM(CASE WHEN c_acctbal > (SELECT gm FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS above,
         CAST(COUNT(*) AS BIGINT) AS total
  FROM customer GROUP BY 1
), gt AS (
  SELECT CAST(SUM(above) AS BIGINT) AS ga, CAST(SUM(total) AS BIGINT) AS gn FROM cells
), chi AS (
  SELECT CAST(SUM(CAST({sql_pround(
      '(above - total * (CAST(ga AS DOUBLE) / gn)) * (above - total * (CAST(ga AS DOUBLE) / gn))'
      ' / (total * (CAST(ga AS DOUBLE) / gn))'
      ' + ((total - above) - total * (1.0 - CAST(ga AS DOUBLE) / gn))'
      '   * ((total - above) - total * (1.0 - CAST(ga AS DOUBLE) / gn))'
      '   / (total * (1.0 - CAST(ga AS DOUBLE) / gn))', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS x2,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM cells, gt
)
SELECT (SELECT gm FROM med) AS grand_median,
       (SELECT ga FROM gt) AS n_above,
       (SELECT gn FROM gt) AS n_total,
       k - 1 AS df,
       {sql_pround('x2', 6)} AS chi2
FROM chi
""",
    tags=("statistics",),
)
def qm09_moods_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: does any nation's account-balance
    distribution sit above/below the GRAND median more than chance
    allows — the rank-free k-sample location test (robust to outliers,
    the screening companion to k03 Kruskal-Wallis). Grand median is
    the exact type-1 quantile from the value dictionary; per-nation
    above/below counts form the 2×k table; χ² sums per-cell
    (O−E)²/E with pround(9)-quantized contributions DECIMAL-summed.

    Scale: one dictionary collapse + one bounded cumulative window
    for the median, one per-nation count pass, χ² over k cells.
    """
    c = table(spark, sf_dir, "customer")
    dict_ = c.groupBy(F.col("c_acctbal").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wv = Window.orderBy(F.asc("v"))  # bounded: value dictionary
    cum = dict_.select("v", F.sum("cnt").over(wv).alias("cum"))
    n = c.count()
    gm_row = (
        cum.where(F.col("cum") >= F.lit(int(-(-n // 2)))).agg(F.min("v").alias("gm")).collect()[0]
    )
    gm = float(gm_row["gm"])
    cells = c.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.sum((F.col("c_acctbal") > gm).cast("int")).cast("bigint").alias("above"),
        F.count(F.lit(1)).cast("bigint").alias("total"),
    )
    cells = cells.transform(cut_lineage)  # grand totals + chi2 arms
    gt = cells.agg(
        F.sum("above").cast("bigint").alias("ga"), F.sum("total").cast("bigint").alias("gn")
    )
    j = cells.crossJoin(F.broadcast(gt))
    pa = F.col("ga").cast("double") / F.col("gn")
    ea = F.col("total") * pa
    eb = F.col("total") * (1.0 - pa)
    term = pround(
        (F.col("above") - ea) * (F.col("above") - ea) / ea
        + ((F.col("total") - F.col("above")) - eb)
        * ((F.col("total") - F.col("above")) - eb)
        / eb,
        9,
    )
    chi = j.agg(
        F.sum(term.cast("decimal(25,9)")).cast("double").alias("x2"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("ga").cast("bigint").alias("n_above"),
        F.max("gn").cast("bigint").alias("n_total"),
    )
    return chi.select(
        F.lit(gm).alias("grand_median"),
        "n_above",
        "n_total",
        (F.col("k") - 1).alias("df"),
        pround(F.col("x2"), 6).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# m08 — Ljung-Box portmanteau test on the daily revenue series

_M08_LAGS = 5

_M08_Q_EXPR = (
    "CAST(n AS DOUBLE) * (n + 2) * (SELECT CAST(SUM(CAST(("
    + sql_pround("r2.r * r2.r / (r2.n - r2.k)", 12)
    + ") AS DECIMAL(25,12))) AS DOUBLE) FROM rk r2 WHERE r2.k <= rk.k)"
)


@query(
    "qm08_ljung_box",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), idx AS (
  SELECT {sql_pround('rev', 6)} AS y,
         CAST(ROW_NUMBER() OVER (ORDER BY d ASC) AS BIGINT) AS t,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM daily
), mean AS (
  SELECT {sql_pround('CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) / MAX(n)', 9)} AS ybar,
         MAX(n) AS n
  FROM idx
), dev AS (
  SELECT t, y - (SELECT ybar FROM mean) AS e FROM idx
), denom AS (
  SELECT CAST(SUM(CAST({sql_pround('e * e', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS s0 FROM dev
), num AS (
  SELECT a.t - b.t AS k,
         CAST(SUM(CAST({sql_pround('a.e * b.e', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS sk
  FROM dev a JOIN dev b ON a.t - b.t BETWEEN 1 AND {_M08_LAGS}
  GROUP BY a.t - b.t
), rk AS (
  SELECT k, {sql_pround('sk / (SELECT s0 FROM denom)', 9)} AS r,
         (SELECT n FROM mean) AS n
  FROM num
)
SELECT CAST(k AS BIGINT) AS lag, {sql_pround('r', 9)} AS r_k,
       {sql_pround(_M08_Q_EXPR, 6)} AS q_lb
FROM rk ORDER BY lag
""",
    tags=("statistics", "timeseries"),
)
def qm08_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily revenue: sample
    autocorrelations r_k for lags 1..{_M08_LAGS} and the cumulative
    Q(k) = n(n+2)·Σ_(j<=k) r_j²/(n−j) — the standard "is this series
    white noise" gate run before fitting any forecasting model (k12's
    backtest assumes structure; this MEASURES it). Deviations use the
    pround(9) mean, lagged cross-products are pround(9)-quantized and
    DECIMAL-summed; the r_k ratios and Q are each one shared float
    expression — bit-identical on both engines.

    Scale: one daily collapse; the lag join runs on the bounded
    (day) series table, never on events; per-lag moments are exact.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        dsum("value").alias("rev")
    )
    wd = Window.orderBy(F.asc("d"))  # bounded: daily series
    idx = daily.select(
        pround(F.col("rev"), 6).alias("y"), F.row_number().over(wd).cast("bigint").alias("t")
    )
    idx = idx.transform(cut_lineage)  # mean + both join sides
    n = idx.count()
    ybar_row = idx.agg(
        pround(F.sum(F.col("y").cast("decimal(25,6)")).cast("double") / F.lit(n), 9).alias("yb")
    ).collect()[0]
    ybar = float(ybar_row["yb"])
    dev = idx.select("t", (F.col("y") - F.lit(ybar)).alias("e"))
    dev = dev.transform(cut_lineage)  # denom + two lag-join sides
    s0 = dev.agg(
        F.sum(pround(F.col("e") * F.col("e"), 9).cast("decimal(25,9)")).cast("double").alias("s0")
    ).collect()[0]["s0"]
    a = dev.select(F.col("t").alias("ta"), F.col("e").alias("ea"))
    b = dev.select(F.col("t").alias("tb"), F.col("e").alias("eb"))
    num = (
        a.join(b, (F.col("ta") - F.col("tb")).between(1, _M08_LAGS))
        .groupBy((F.col("ta") - F.col("tb")).alias("k"))
        .agg(
            F.sum(pround(F.col("ea") * F.col("eb"), 9).cast("decimal(25,9)"))
            .cast("double")
            .alias("sk")
        )
    )
    rk = num.select(
        F.col("k").cast("bigint").alias("lag"), pround(F.col("sk") / F.lit(s0), 9).alias("r_k")
    )
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)  # bounded: 5 lags
    q = (
        F.lit(float(n))
        * (n + 2)
        * F.sum(
            pround(F.col("r_k") * F.col("r_k") / (F.lit(n) - F.col("lag")), 12).cast(
                "decimal(25,12)"
            )
        )
        .over(wq)
        .cast("double")
    )
    return rk.select("lag", pround("r_k", 9).alias("r_k"), pround(q, 6).alias("q_lb")).orderBy(
        "lag"
    )


# ---------------------------------------------------------------------------
# m10 — Bartlett's test for equal variances across order priorities


@query(
    "qm10_bartlett_test",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2)) * CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS s2
  FROM orders GROUP BY 1
), v AS (
  SELECT grp, n, {sql_pround('(s2 - s1 * s1 / n) / (n - 1)', 6)} AS var
  FROM g
), moms AS (
  SELECT CAST(SUM(n) AS BIGINT) AS bign, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST({sql_pround('(n - 1) * ln(var)', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS sum_nl,
         CAST(SUM(CAST((n - 1) * CAST({sql_pround('var', 6)} AS DECIMAL(25,6)) AS DECIMAL(38,6))) AS DOUBLE) AS sum_nv,
         CAST(SUM(CAST({sql_pround('1.0 / (n - 1)', 12)} AS DECIMAL(25,12))) AS DOUBLE) AS sum_inv
  FROM v
)
SELECT bign AS n, k,
       {sql_pround('(CAST(bign - k AS DOUBLE) * ln(sum_nv / (bign - k)) - sum_nl)'
                   ' / (1.0 + (sum_inv - 1.0 / (bign - k)) / (3.0 * (k - 1)))', 6)} AS bartlett_x2,
       k - 1 AS df
FROM moms
""",
    tags=("statistics",),
)
def qm10_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for variance homogeneity of order value across
    priorities — the PARAMETRIC scale test next to qj20's Levene
    (Bartlett is more powerful under normality, fragile otherwise;
    shipping both is how a stats suite lets the analyst choose).
    Group variances come from exact DECIMAL (Σx, Σx²) moments; the
    pooled-variance log, per-group log terms, and the 1/(n_i−1)
    correction are pround-quantized and DECIMAL-summed.

    Scale: one grouped-moment pass over orders (map-side combinable),
    k-row statistic assembly.
    """
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(25,2)")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
    )
    v = g.select(
        "grp",
        "n",
        pround((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1), 6).alias(
            "var"
        ),
    )
    moms = v.agg(
        F.sum("n").cast("bigint").alias("bign"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(pround((F.col("n") - 1) * F.log("var"), 9).cast("decimal(25,9)"))
        .cast("double")
        .alias("sum_nl"),
        F.sum(((F.col("n") - 1) * pround(F.col("var"), 6).cast("decimal(25,6)")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_nv"),
        F.sum(pround(F.lit(1.0) / (F.col("n") - 1), 12).cast("decimal(25,12)"))
        .cast("double")
        .alias("sum_inv"),
    )
    nk = F.col("bign") - F.col("k")
    x2 = (nk.cast("double") * F.log(F.col("sum_nv") / nk) - F.col("sum_nl")) / (
        1.0 + (F.col("sum_inv") - 1.0 / nk) / (3.0 * (F.col("k") - 1))
    )
    return moms.select(
        F.col("bign").alias("n"),
        "k",
        pround(x2, 6).alias("bartlett_x2"),
        (F.col("k") - 1).alias("df"),
    )


# ---------------------------------------------------------------------------
# m11 — Grubbs' maximum studentized deviate (single-outlier screen)


@query(
    "qm11_grubbs_outlier",
    oracle=f"""
WITH moms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(25,2)) * CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE) AS s2
  FROM customer
), mstats AS (
  SELECT n, {sql_pround('s1 / n', 6)} AS xbar,
         {sql_pround('sqrt((s2 - s1 * s1 / n) / (n - 1))', 9)} AS s
  FROM moms
), devs AS (
  SELECT c_custkey,
         ABS(CAST(c_acctbal AS DECIMAL(25,6)) - CAST((SELECT xbar FROM mstats) AS DECIMAL(25,6))) AS dev
  FROM customer
), mx AS (
  SELECT MAX(dev) AS maxdev FROM devs
)
SELECT (SELECT n FROM mstats) AS n,
       (SELECT xbar FROM mstats) AS mean_bal,
       (SELECT s FROM mstats) AS sd_bal,
       CAST((SELECT MIN(c_custkey) FROM devs WHERE dev = (SELECT maxdev FROM mx)) AS BIGINT)
         AS outlier_custkey,
       {sql_pround('CAST((SELECT maxdev FROM mx) AS DOUBLE) / (SELECT s FROM mstats)', 6)} AS grubbs_g
""",
    tags=("statistics", "audit"),
)
def qm11_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test statistic G = max|x−x̄|/s over customer balances —
    the single-most-extreme-point screen run before robust methods
    (qc05 MAD) take over. Deviations are EXACT decimals (balances are
    2dp, the mean is pround(6)-quantized before subtracting), so the
    arg-max row and G are bit-stable; ties on the max deviation break
    to the lowest custkey.

    Scale: one exact-moment pass + one deviation scan with a 1-row
    broadcast of (x̄, s); the argmax is a bounded filter, not a sort.
    """
    c = table(spark, sf_dir, "customer")
    x = F.col("c_acctbal").cast("decimal(25,2)")
    moms = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
    ).collect()[0]
    n, s1, s2 = moms["n"], moms["s1"], moms["s2"]
    import math

    xbar = math.floor((s1 / n) * 1e6 + 0.5) / 1e6  # pround(6) mirror
    s = math.floor(math.sqrt((s2 - s1 * s1 / n) / (n - 1)) * 1e9 + 0.5) / 1e9
    devs = c.select(
        "c_custkey",
        F.abs(
            F.col("c_acctbal").cast("decimal(25,6)") - F.lit(xbar).cast("decimal(25,6)")
        ).alias("dev"),
    )
    devs = devs.transform(cut_lineage)  # max + argmax filter
    maxdev = devs.agg(F.max("dev").alias("m")).collect()[0]["m"]
    argmax = devs.where(F.col("dev") == maxdev).agg(
        F.min("c_custkey").cast("bigint").alias("outlier_custkey")
    )
    return argmax.select(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(xbar).alias("mean_bal"),
        F.lit(s).alias("sd_bal"),
        "outlier_custkey",
        pround(F.lit(float(maxdev)) / F.lit(s), 6).alias("grubbs_g"),
    )


# ---------------------------------------------------------------------------
# m12 — odds ratio with Wald CI: click exposure vs purchase outcome


@query(
    "qm12_odds_ratio_ci",
    oracle=f"""
WITH users AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS exposed,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS outcome
  FROM events GROUP BY user_id
), cells AS (
  SELECT CAST(SUM(exposed * outcome) AS BIGINT) AS a,
         CAST(SUM(exposed * (1 - outcome)) AS BIGINT) AS b,
         CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS c,
         CAST(SUM((1 - exposed) * (1 - outcome)) AS BIGINT) AS d
  FROM users
)
SELECT a, b, c, d,
       {sql_pround('(a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5))', 6)} AS odds_ratio,
       {sql_pround('exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))'
                   ' - 1.959964 * sqrt(1.0/(a+0.5) + 1.0/(b+0.5) + 1.0/(c+0.5) + 1.0/(d+0.5)))', 6)} AS ci_lo,
       {sql_pround('exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))'
                   ' + 1.959964 * sqrt(1.0/(a+0.5) + 1.0/(b+0.5) + 1.0/(c+0.5) + 1.0/(d+0.5)))', 6)} AS ci_hi
FROM cells
""",
    tags=("statistics", "events"),
)
def qm12_odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of purchase given click exposure with the Wald 95%
    CI — the 2×2 effect-size report qg17's two-proportion z-test
    doesn't give (a z-test says WHETHER, the OR+CI says HOW MUCH and
    with what precision). Cells are exact integers from one per-user
    collapse; the OR uses the Haldane-Anscombe +0.5 correction
    (defined even when a cell is empty — a small SF WILL produce
    empty cells); OR, ln-OR and the CI bounds are shared float
    expressions evaluated identically on both engines.

    Scale: per-user collapse (map-side combinable) to 4 integers.
    """
    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("exposed"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("outcome"),
    )
    cells = users.agg(
        F.sum(F.col("exposed") * F.col("outcome")).cast("bigint").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome")).cast("bigint").alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome"))).cast("bigint").alias("d"),
    )
    ah, bh = F.col("a") + 0.5, F.col("b") + 0.5
    ch, dh = F.col("c") + 0.5, F.col("d") + 0.5
    orr = ah * dh / (bh * ch)
    se = F.sqrt(1.0 / ah + 1.0 / bh + 1.0 / ch + 1.0 / dh)
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        pround(orr, 6).alias("odds_ratio"),
        pround(F.exp(F.log(orr) - 1.959964 * se), 6).alias("ci_lo"),
        pround(F.exp(F.log(orr) + 1.959964 * se), 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# m13 — Jonckheere-Terpstra ordered trend across order years

_M13_BUCKET = 10_000.0  # price lattice: floor(totalprice / 10k)


@query(
    "qm13_jonckheere_trend",
    oracle=f"""
WITH d AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS g,
         CAST(floor(o_totalprice / {_M13_BUCKET}) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), u AS (
  SELECT CAST(SUM(CASE WHEN a.v < b.v THEN a.c * b.c * 2
                       WHEN a.v = b.v THEN a.c * b.c ELSE 0 END) AS BIGINT) AS j2
  FROM d a JOIN d b ON a.g < b.g
), sizes AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM d GROUP BY g
), moms AS (
  SELECT CAST(SUM(n) AS BIGINT) AS bign,
         CAST(SUM(n * n) AS BIGINT) AS sn2,
         CAST(SUM(CAST(n AS HUGEINT) * n * (2 * n + 3)) AS DOUBLE) AS sn3
  FROM sizes
)
SELECT {sql_pround('CAST(u.j2 AS DOUBLE) / 2', 6)} AS j_stat,
       {sql_pround('(CAST(bign AS DOUBLE) * bign - sn2) / 4', 6)} AS e_j,
       {sql_pround('(CAST(u.j2 AS DOUBLE) / 2 - (CAST(bign AS DOUBLE) * bign - sn2) / 4)'
                   ' / sqrt((CAST(bign AS DOUBLE) * bign * (2 * bign + 3) - sn3) / 72)', 6)} AS z
FROM u, moms
""",
    tags=("statistics",),
)
def qm13_jonckheere_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for a MONOTONE trend in order value
    across years — the ordered-alternative k-sample test (more
    powerful than k03 Kruskal-Wallis when the hypothesis is "growing
    over time", the canonical question of a yearly panel): J = Σ over
    year pairs g_i<g_j of Mann-Whitney counts, with half-credit ties,
    over a $-{_M13_BUCKET:.0f} price lattice; z uses the no-tie
    null moments (documented approximation, standard for screening).
    2J is an exact integer, so the gate is bit-stable.

    Scale: one (year, bucket) dictionary collapse; the pairwise U
    runs on the bounded dictionary (|years|·|buckets| rows), never
    on orders.
    """
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("g"),
        F.floor(F.col("o_totalprice") / _M13_BUCKET).cast("bigint").alias("v"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    d = d.transform(cut_lineage)  # both self-join sides + sizes
    a = d.select(F.col("g").alias("ga"), F.col("v").alias("va"), F.col("c").alias("ca"))
    b = d.select(F.col("g").alias("gb"), F.col("v").alias("vb"), F.col("c").alias("cb"))
    u = a.join(b, F.col("ga") < F.col("gb")).agg(
        F.sum(
            F.when(F.col("va") < F.col("vb"), F.col("ca") * F.col("cb") * 2)
            .when(F.col("va") == F.col("vb"), F.col("ca") * F.col("cb"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("j2")
    )
    sizes = d.groupBy("g").agg(F.sum("c").cast("bigint").alias("n"))
    moms = sizes.agg(
        F.sum("n").cast("bigint").alias("bign"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sn2"),
        F.sum((F.col("n") * F.col("n") * (2 * F.col("n") + 3)).cast("decimal(38,0)"))
        .cast("double")
        .alias("sn3"),
    )
    j = u.crossJoin(F.broadcast(moms))
    jstat = F.col("j2").cast("double") / 2
    ej = (F.col("bign").cast("double") * F.col("bign") - F.col("sn2")) / 4
    varj = (
        F.col("bign").cast("double") * F.col("bign") * (2 * F.col("bign") + 3) - F.col("sn3")
    ) / 72
    return j.select(
        pround(jstat, 6).alias("j_stat"),
        pround(ej, 6).alias("e_j"),
        pround((jstat - ej) / F.sqrt(varj), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# m14 — Brunner-Munzel two-sample test (en vs de doc lengths)


@query(
    "qm14_brunner_munzel",
    oracle=f"""
WITH obs AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 2 END AS grp, n_chars AS v
  FROM documents WHERE lang IN ('en', 'de')
), d AS (
  SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c FROM obs GROUP BY 1, 2
), allv AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS ca FROM d GROUP BY v
), gcum AS (
  SELECT grp, v, c,
         SUM(c) OVER (PARTITION BY grp ORDER BY v ASC) - c AS below_g
  FROM d
), acum AS (
  SELECT v, ca, SUM(ca) OVER (ORDER BY v ASC) - ca AS below_a FROM allv
), marks AS (
  SELECT g.grp, g.v, g.c,
         CAST(a.below_a AS DOUBLE) + (a.ca + 1) / 2.0 AS r_all,
         CAST(g.below_g AS DOUBLE) + (g.c + 1) / 2.0 AS r_in
  FROM gcum g JOIN acum a ON a.v = g.v
), sizes AS (
  SELECT CAST(SUM(CASE WHEN grp = 1 THEN c ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN grp = 2 THEN c ELSE 0 END) AS BIGINT) AS n2
  FROM d
), means AS (
  SELECT grp,
         {sql_pround('CAST(SUM(CAST(r_all * c * 2 AS DECIMAL(25,0))) AS DOUBLE) / (2 * SUM(c))', 9)} AS rbar
  FROM marks GROUP BY grp
), vars AS (
  SELECT m.grp,
         CAST(SUM(CAST({sql_pround(
             '(m.r_all - m.r_in - mm.rbar + (CASE WHEN m.grp = 1 THEN s.n1 ELSE s.n2 END + 1) / 2.0)'
             ' * (m.r_all - m.r_in - mm.rbar + (CASE WHEN m.grp = 1 THEN s.n1 ELSE s.n2 END + 1) / 2.0)'
             ' * m.c', 9)} AS DECIMAL(25,9))) AS DOUBLE)
           / ((CASE WHEN m.grp = 1 THEN MAX(s.n1) ELSE MAX(s.n2) END) - 1) AS s2
  FROM marks m JOIN means mm ON mm.grp = m.grp CROSS JOIN sizes s
  GROUP BY m.grp
)
SELECT s.n1, s.n2,
       {sql_pround('((SELECT rbar FROM means WHERE grp = 2) - (s.n2 + 1) / 2.0) / s.n1', 6)} AS p_hat,
       {sql_pround('((SELECT rbar FROM means WHERE grp = 2) - (SELECT rbar FROM means WHERE grp = 1))'
                   ' / sqrt(CAST(s.n1 + s.n2 AS DOUBLE) * (s.n1 + s.n2)'
                   '        * ((SELECT s2 FROM vars WHERE grp = 1) / (CAST(s.n2 AS DOUBLE) * s.n2)'
                   '           + (SELECT s2 FROM vars WHERE grp = 2) / (CAST(s.n1 AS DOUBLE) * s.n1))'
                   '        / (s.n1 + s.n2))', 6)} AS w_bm
FROM sizes s
""",
    tags=("statistics", "text"),
)
def qm14_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test comparing en vs de document lengths — the
    rank test that, unlike qj03 Mann-Whitney, stays valid when the two
    distributions differ in SHAPE (the generalized Behrens-Fisher
    problem): p̂ = P(X<Y)+½P(X=Y) from global midranks, and the
    studentized statistic W = (R̄₂−R̄₁)/√(N²(S₁²/(N−n₁)² + S₂²/(N−n₂)²))
    with rank-variance estimates S_k² built from (global − within-group)
    midranks. All midranks are exact half-integers from the value
    dictionary; variance terms are pround(9)-quantized DECIMAL sums.

    Scale: everything runs on the bounded (group × n_chars) dictionary
    — two cumulative windows, no per-document ranking.
    """
    d0 = table(spark, sf_dir, "documents")
    obs = d0.where(F.col("lang").isin("en", "de")).select(
        F.when(F.col("lang") == "en", 1).otherwise(2).alias("grp"), F.col("n_chars").alias("v")
    )
    d = obs.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    d = d.transform(cut_lineage)  # dictionary feeds 4 downstream consumers
    allv = d.groupBy("v").agg(F.sum("c").cast("bigint").alias("ca"))
    wg = Window.partitionBy("grp").orderBy(F.asc("v"))  # bounded dictionary
    wa = Window.orderBy(F.asc("v"))  # bounded dictionary
    gcum = d.select("grp", "v", "c", (F.sum("c").over(wg) - F.col("c")).alias("below_g"))
    acum = allv.select("v", "ca", (F.sum("ca").over(wa) - F.col("ca")).alias("below_a"))
    marks = gcum.join(acum, "v").select(
        "grp",
        "v",
        "c",
        (F.col("below_a").cast("double") + (F.col("ca") + 1) / 2.0).alias("r_all"),
        (F.col("below_g").cast("double") + (F.col("c") + 1) / 2.0).alias("r_in"),
    )
    marks = marks.transform(cut_lineage)  # means + variance arms
    sizes = d.groupBy().agg(
        F.sum(F.when(F.col("grp") == 1, F.col("c")).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("grp") == 2, F.col("c")).otherwise(0)).cast("bigint").alias("n2"),
    )
    srow = sizes.collect()[0]
    n1, n2 = srow["n1"], srow["n2"]
    means = marks.groupBy("grp").agg(
        pround(
            F.sum((F.col("r_all") * F.col("c") * 2).cast("decimal(25,0)")).cast("double")
            / (2 * F.sum("c")),
            9,
        ).alias("rbar")
    )
    mrows = {r["grp"]: r["rbar"] for r in means.collect()}
    rb1, rb2 = float(mrows[1]), float(mrows[2])
    nk = F.when(F.col("grp") == 1, F.lit(n1)).otherwise(F.lit(n2))
    rbark = F.when(F.col("grp") == 1, F.lit(rb1)).otherwise(F.lit(rb2))
    dev = F.col("r_all") - F.col("r_in") - rbark + (nk + 1) / 2.0
    vars_ = marks.groupBy("grp").agg(
        (
            F.sum(pround(dev * dev * F.col("c"), 9).cast("decimal(25,9)")).cast("double")
            / (F.max(nk) - 1)
        ).alias("s2")
    )
    vrows = {r["grp"]: r["s2"] for r in vars_.collect()}
    s21, s22 = float(vrows[1]), float(vrows[2])
    n = n1 + n2
    import math

    p_hat = (rb2 - (n2 + 1) / 2.0) / n1
    w = (rb2 - rb1) / math.sqrt(
        float(n) * n * (s21 / (float(n2) * n2) + s22 / (float(n1) * n1)) / n
    )
    one = table(spark, sf_dir, "documents").limit(1).select(F.lit(1).alias("one"))
    return one.select(
        F.lit(n1).cast("bigint").alias("n1"),
        F.lit(n2).cast("bigint").alias("n2"),
        pround(F.lit(p_hat), 6).alias("p_hat"),
        pround(F.lit(w), 6).alias("w_bm"),
    )


# ---------------------------------------------------------------------------
# m15 — Ansari-Bradley two-sample scale test


@query(
    "qm15_ansari_bradley",
    oracle=f"""
WITH obs AS (
  SELECT CASE WHEN l_linestatus = 'F' THEN 1 ELSE 2 END AS grp, l_quantity AS v
  FROM lineitem
), d AS (
  SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c FROM obs GROUP BY 1, 2
), allv AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS ca FROM d GROUP BY v
), acum AS (
  SELECT v, ca,
         SUM(ca) OVER (ORDER BY v ASC) - ca AS below,
         (SELECT SUM(ca) FROM allv) AS n
  FROM allv
), scores AS (
  -- midrank r = below + (ca+1)/2; AB score = min(r, N+1-r); 2*score is int
  SELECT v,
         CAST(LEAST(2 * below + ca + 1, 2 * (n - below) - ca + 1) AS BIGINT) AS s2x
  FROM acum
), ab AS (
  SELECT CAST(SUM(CASE WHEN d.grp = 1 THEN d.c * s.s2x ELSE 0 END) AS BIGINT) AS t2,
         CAST(SUM(CASE WHEN d.grp = 1 THEN d.c ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(d.c) AS BIGINT) AS n,
         CAST(SUM(d.c * s.s2x) AS BIGINT) AS tot2,
         CAST(SUM(d.c * CAST(s.s2x AS HUGEINT) * s.s2x) AS DOUBLE) AS tot2sq
  FROM d JOIN scores s ON s.v = d.v
)
SELECT n1, n - n1 AS n2,
       {sql_pround('t2 / 2.0', 6)} AS ab_stat,
       {sql_pround('CAST(n1 AS DOUBLE) * tot2 / n / 2', 6)} AS e_ab,
       {sql_pround('(t2 / 2.0 - CAST(n1 AS DOUBLE) * tot2 / n / 2)'
                   ' / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / (CAST(n AS DOUBLE) * n * (n - 1))'
                   '        * (n * (tot2sq / 4.0) - CAST(tot2 AS DOUBLE) * tot2 / 4))', 6)} AS z
FROM ab
""",
    tags=("statistics",),
)
def qm15_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test (F- vs O-status line
    quantities): scores min(r, N+1−r) fold the rank scale so extreme
    values score low — dispersion differences move the group score sum
    without any normal-quantile transform (the reason this, not
    Fligner-Killeen, is the engine-portable rank scale test). Ties use
    midrank scores; the z uses the exact conditional tie-adjusted
    moments E = n1·ΣS/N and Var = n1·n2/(N²(N−1))·(N·ΣS² − (ΣS)²)
    over the realized scores. 2×score is an exact integer throughout.

    Scale: one (group, quantity) dictionary collapse; one bounded
    cumulative window; exact integer moments.
    """
    li = table(spark, sf_dir, "lineitem")
    obs = li.select(
        F.when(F.col("l_linestatus") == "F", 1).otherwise(2).alias("grp"),
        F.col("l_quantity").alias("v"),
    )
    d = obs.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    d = d.transform(cut_lineage)
    allv = d.groupBy("v").agg(F.sum("c").cast("bigint").alias("ca"))
    n = int(allv.agg(F.sum("ca")).collect()[0][0])
    wa = Window.orderBy(F.asc("v"))  # bounded: quantity dictionary
    acum = allv.select("v", "ca", (F.sum("ca").over(wa) - F.col("ca")).alias("below"))
    scores = acum.select(
        "v",
        F.least(
            2 * F.col("below") + F.col("ca") + 1,
            2 * (F.lit(n) - F.col("below")) - F.col("ca") + 1,
        )
        .cast("bigint")
        .alias("s2x"),
    )
    ab = (
        d.join(scores, "v")
        .agg(
            F.sum(F.when(F.col("grp") == 1, F.col("c") * F.col("s2x")).otherwise(0))
            .cast("bigint")
            .alias("t2"),
            F.sum(F.when(F.col("grp") == 1, F.col("c")).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.col("c") * F.col("s2x")).cast("bigint").alias("tot2"),
            F.sum((F.col("c") * F.col("s2x") * F.col("s2x")).cast("decimal(38,0)"))
            .cast("double")
            .alias("tot2sq"),
        )
    )
    t = F.col("t2") / 2.0
    e = F.col("n1").cast("double") * F.col("tot2") / n / 2
    var = (
        F.col("n1").cast("double")
        * (n - F.col("n1"))
        / (float(n) * n * (n - 1))
        * (n * (F.col("tot2sq") / 4.0) - F.col("tot2").cast("double") * F.col("tot2") / 4)
    )
    return ab.select(
        "n1",
        (F.lit(n) - F.col("n1")).cast("bigint").alias("n2"),
        pround(t, 6).alias("ab_stat"),
        pround(e, 6).alias("e_ab"),
        pround((t - e) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# m16 — Page's L trend test: monotone priority effect across year blocks


@query(
    "qm16_page_trend_test",
    oracle=f"""
WITH cells AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS blk, o_orderpriority AS trt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) / COUNT(*) AS m
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT a.blk, a.trt,
         CAST(2 + 2 * SUM(CASE WHEN b.m < a.m THEN 1 ELSE 0 END)
              + SUM(CASE WHEN b.m = a.m AND b.trt <> a.trt THEN 1 ELSE 0 END) AS BIGINT) AS rk2
  FROM cells a JOIN cells b ON a.blk = b.blk
  GROUP BY a.blk, a.trt, a.m
), weights AS (
  SELECT trt, CAST(ROW_NUMBER() OVER (ORDER BY trt ASC) AS BIGINT) AS j
  FROM (SELECT DISTINCT trt FROM cells)
), rsums AS (
  SELECT r.trt, w.j, CAST(SUM(r.rk2) AS BIGINT) AS r2 FROM ranked r
  JOIN weights w ON w.trt = r.trt GROUP BY r.trt, w.j
), dims AS (
  SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS b, CAST(COUNT(DISTINCT trt) AS BIGINT) AS k
  FROM cells
)
SELECT d.b AS n_blocks, d.k AS n_treatments,
       {sql_pround('(SELECT SUM(j * r2) FROM rsums) / 2.0', 6)} AS page_l,
       {sql_pround('CAST(d.b AS DOUBLE) * d.k * (d.k + 1) * (d.k + 1) / 4', 6)} AS e_l,
       {sql_pround('((SELECT SUM(j * r2) FROM rsums) / 2.0'
                   ' - CAST(d.b AS DOUBLE) * d.k * (d.k + 1) * (d.k + 1) / 4)'
                   ' / sqrt(CAST(d.b AS DOUBLE) * d.k * d.k * (d.k + 1)'
                   '        * (d.k * d.k - 1) / 144)', 6)} AS z
FROM dims d
""",
    tags=("statistics",),
)
def qm16_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for a MONOTONE treatment trend within blocks —
    k01 Friedman's ordered-alternative sibling (Friedman asks "any
    difference between priorities, controlling for year"; Page asks
    "do mean order values fall steadily from 1-URGENT to 5-LOW"):
    L = Σ_j j·R_j over within-block midranks, hypothesized order =
    priority name order, z from the exact null moments. 2·rank and
    2·L are exact integers, so the gate is bit-stable.

    Scale: the bounded (year × priority) cell matrix drives
    everything — the pairwise rank join and L run on ≤ b·k rows.
    """
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    cells = cells.transform(cut_lineage)  # self-join + weights + dims
    a = cells.select(F.col("blk").alias("ablk"), F.col("trt").alias("atrt"), F.col("m").alias("am"))
    b = cells.select(F.col("blk").alias("bblk"), F.col("trt").alias("btrt"), F.col("m").alias("bm"))
    ranked = (
        a.join(b, F.col("ablk") == F.col("bblk"))
        .groupBy(F.col("ablk").alias("blk"), F.col("atrt").alias("trt"))
        .agg(
            (
                2
                + 2 * F.sum(F.when(F.col("bm") < F.col("am"), 1).otherwise(0))
                + F.sum(
                    F.when((F.col("bm") == F.col("am")) & (F.col("btrt") != F.col("atrt")), 1).otherwise(0)
                )
            )
            .cast("bigint")
            .alias("rk2")
        )
    )
    ww = Window.orderBy(F.asc("trt"))  # bounded: priority list
    weights = cells.select("trt").distinct().select("trt", F.row_number().over(ww).cast("bigint").alias("j"))
    rsums = ranked.join(weights, "trt").groupBy("trt", "j").agg(F.sum("rk2").cast("bigint").alias("r2"))
    l2 = rsums.agg(F.sum(F.col("j") * F.col("r2")).cast("bigint").alias("l2"))
    dims = cells.agg(
        F.countDistinct("blk").cast("bigint").alias("b"), F.countDistinct("trt").cast("bigint").alias("k")
    )
    j = dims.crossJoin(F.broadcast(l2))
    bL = F.col("l2") / 2.0
    e = F.col("b").cast("double") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1) / 4
    var = (
        F.col("b").cast("double")
        * F.col("k")
        * F.col("k")
        * (F.col("k") + 1)
        * (F.col("k") * F.col("k") - 1)
        / 144
    )
    return j.select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        pround(bL, 6).alias("page_l"),
        pround(e, 6).alias("e_l"),
        pround((bL - e) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# m17 — Lo-MacKinlay variance ratio test on daily log revenue

_M17_Q = 5


@query(
    "qm17_variance_ratio_test",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), idx AS (
  SELECT {sql_pround('ln(rev)', 9)} AS ly,
         CAST(ROW_NUMBER() OVER (ORDER BY d ASC) AS BIGINT) AS t
  FROM daily
), r1 AS (
  SELECT a.t, CAST(CAST(a.ly AS DECIMAL(25,9)) - CAST(b.ly AS DECIMAL(25,9)) AS DOUBLE) AS r
  FROM idx a JOIN idx b ON b.t = a.t - 1
), rq AS (
  SELECT a.t, CAST(CAST(a.ly AS DECIMAL(25,9)) - CAST(b.ly AS DECIMAL(25,9)) AS DOUBLE) AS r
  FROM idx a JOIN idx b ON b.t = a.t - {_M17_Q}
), mu AS (
  SELECT {sql_pround('CAST(SUM(CAST(r AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*)', 9)} AS mu1,
         CAST(COUNT(*) AS BIGINT) AS n1
  FROM r1
), v1 AS (
  SELECT CAST(SUM(CAST({sql_pround('(r - (SELECT mu1 FROM mu)) * (r - (SELECT mu1 FROM mu))', 9)}
                       AS DECIMAL(25,9))) AS DOUBLE) / (SELECT n1 FROM mu) AS s1
  FROM r1
), vq AS (
  SELECT CAST(SUM(CAST({sql_pround(f'(r - {_M17_Q} * (SELECT mu1 FROM mu)) * (r - {_M17_Q} * (SELECT mu1 FROM mu))', 9)}
                       AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*) AS sq,
         CAST(COUNT(*) AS BIGINT) AS nq
  FROM rq
)
SELECT (SELECT n1 FROM mu) AS n_returns,
       {sql_pround('(SELECT sq FROM vq) / ({_M17_Q} * (SELECT s1 FROM v1))'.replace('{_M17_Q}', str(_M17_Q)), 6)} AS vr,
       {sql_pround(('((SELECT sq FROM vq) / (Q * (SELECT s1 FROM v1)) - 1.0)'
                    ' / sqrt(2.0 * (2 * Q - 1) * (Q - 1) / (3.0 * Q * (SELECT n1 FROM mu)))'
                    ).replace('Q', str(_M17_Q)), 6)} AS z
""",
    tags=("statistics", "timeseries"),
)
def qm17_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test on daily log revenue: is the
    {_M17_Q}-day aggregate variance {_M17_Q}× the 1-day variance (the
    random-walk null), or does the series mean-revert (VR<1) /
    trend (VR>1)? VR uses overlapping {_M17_Q}-day log differences
    centered at {_M17_Q}·μ̂₁; z uses the homoskedastic asymptotic
    variance 2(2q−1)(q−1)/(3qT). Log levels are pround(9)-quantized,
    differences are exact DECIMALs, squared deviations pround(9) +
    DECIMAL-summed.

    Scale: daily collapse; lag joins on the bounded day-index table.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        dsum("value").alias("rev")
    )
    wd = Window.orderBy(F.asc("d"))  # bounded: daily series
    idx = daily.select(
        pround(F.log("rev"), 9).alias("ly"), F.row_number().over(wd).cast("bigint").alias("t")
    )
    idx = idx.transform(cut_lineage)
    a = idx.select(F.col("t").alias("ta"), F.col("ly").alias("lya"))
    b1 = idx.select(F.col("t").alias("tb"), F.col("ly").alias("lyb"))
    r1 = a.join(b1, F.col("tb") == F.col("ta") - 1).select(
        (F.col("lya").cast("decimal(25,9)") - F.col("lyb").cast("decimal(25,9)"))
        .cast("double")
        .alias("r")
    )
    rq = a.join(b1, F.col("tb") == F.col("ta") - _M17_Q).select(
        (F.col("lya").cast("decimal(25,9)") - F.col("lyb").cast("decimal(25,9)"))
        .cast("double")
        .alias("r")
    )
    r1 = r1.transform(cut_lineage)  # mu + v1
    murow = r1.agg(
        pround(F.sum(F.col("r").cast("decimal(25,9)")).cast("double") / F.count(F.lit(1)), 9).alias(
            "mu1"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n1"),
    ).collect()[0]
    mu1, n1 = float(murow["mu1"]), murow["n1"]
    s1 = (
        r1.agg(
            F.sum(pround((F.col("r") - mu1) * (F.col("r") - mu1), 9).cast("decimal(25,9)"))
            .cast("double")
            .alias("s")
        ).collect()[0]["s"]
        / n1
    )
    sq = rq.agg(
        (
            F.sum(
                pround((F.col("r") - _M17_Q * mu1) * (F.col("r") - _M17_Q * mu1), 9).cast(
                    "decimal(25,9)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("sq")
    ).collect()[0]["sq"]
    import math

    vr = sq / (_M17_Q * s1)
    z = (vr - 1.0) / math.sqrt(
        2.0 * (2 * _M17_Q - 1) * (_M17_Q - 1) / (3.0 * _M17_Q * n1)
    )
    one = table(spark, sf_dir, "events").limit(1).select(F.lit(1).alias("one"))
    return one.select(
        F.lit(n1).cast("bigint").alias("n_returns"),
        pround(F.lit(vr), 6).alias("vr"),
        pround(F.lit(z), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# m18 — turning points test for randomness of the daily series


@query(
    "qm18_turning_points_test",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), idx AS (
  SELECT {sql_pround('rev', 6)} AS y, CAST(ROW_NUMBER() OVER (ORDER BY d ASC) AS BIGINT) AS t
  FROM daily
), tp AS (
  SELECT CAST(SUM(CASE WHEN (b.y > a.y AND b.y > c.y) OR (b.y < a.y AND b.y < c.y)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_turns,
         CAST(COUNT(*) + 2 AS BIGINT) AS n
  FROM idx a JOIN idx b ON b.t = a.t + 1 JOIN idx c ON c.t = a.t + 2
)
SELECT n, n_turns,
       {sql_pround('2.0 * (n - 2) / 3', 6)} AS e_turns,
       {sql_pround('(n_turns - 2.0 * (n - 2) / 3) / sqrt((16.0 * n - 29) / 90)', 6)} AS z
FROM tp
""",
    tags=("statistics", "timeseries"),
)
def qm18_turning_points_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points test for serial randomness of daily revenue: a
    local max/min at t is a "turn"; an i.i.d. series has E = 2(n−2)/3
    turns with Var = (16n−29)/90 — too few turns = trending, too many
    = oscillating. The zero-parameter companion to m08 Ljung-Box
    (which needs a lag choice). Comparisons run on pround(6)-quantized
    daily values, so turn indicators are bit-identical.

    Scale: daily collapse; the triple join runs on the bounded day
    index.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        dsum("value").alias("rev")
    )
    wd = Window.orderBy(F.asc("d"))  # bounded: daily series
    idx = daily.select(
        pround(F.col("rev"), 6).alias("y"), F.row_number().over(wd).cast("bigint").alias("t")
    )
    idx = idx.transform(cut_lineage)  # three join arms
    a = idx.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = idx.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    c = idx.select(F.col("t").alias("tc"), F.col("y").alias("yc"))
    tp = (
        a.join(b, F.col("tb") == F.col("ta") + 1)
        .join(c, F.col("tc") == F.col("ta") + 2)
        .agg(
            F.sum(
                F.when(
                    ((F.col("yb") > F.col("ya")) & (F.col("yb") > F.col("yc")))
                    | ((F.col("yb") < F.col("ya")) & (F.col("yb") < F.col("yc"))),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_turns"),
            (F.count(F.lit(1)) + 2).cast("bigint").alias("n"),
        )
    )
    e_t = 2.0 * (F.col("n") - 2) / 3
    return tp.select(
        "n",
        "n_turns",
        pround(e_t, 6).alias("e_turns"),
        pround((F.col("n_turns") - e_t) / F.sqrt((16.0 * F.col("n") - 29) / 90), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# m19 — Dickey-Fuller unit-root regression (lag-1, with constant)


@query(
    "qm19_adf_lag1",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, {sql_dsum('value')} AS rev
  FROM events GROUP BY 1
), idx AS (
  SELECT {sql_pround('ln(rev)', 9)} AS y, CAST(ROW_NUMBER() OVER (ORDER BY d ASC) AS BIGINT) AS t
  FROM daily
), pairs AS (
  SELECT CAST(CAST(a.y AS DECIMAL(25,9)) - CAST(b.y AS DECIMAL(25,9)) AS DOUBLE) AS dy,
         b.y AS x
  FROM idx a JOIN idx b ON b.t = a.t - 1
), moms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(25,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(dy AS DECIMAL(25,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST({sql_pround('x * x', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST({sql_pround('x * dy', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST({sql_pround('dy * dy', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS syy
  FROM pairs
)
SELECT n,
       {sql_pround('(n * sxy - sx * sy) / (n * sxx - sx * sx)', 9)} AS gamma,
       {sql_pround('((n * sxy - sx * sy) / (n * sxx - sx * sx))'
                   ' / sqrt(((syy - sy * sy / n) - ((n * sxy - sx * sy) / (n * sxx - sx * sx))'
                   '          * (sxy - sx * sy / n)) / (n - 2) / (sxx - sx * sx / n))', 6)} AS t_stat
FROM moms
""",
    tags=("statistics", "timeseries"),
)
def qm19_adf_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root regression on daily log revenue:
    Δy_t = α + γ·y_(t−1) + ε, closed-form OLS; γ̂ near 0 with a small
    |t| means the series is a random walk (level shocks persist —
    forecast with differences), strongly negative t means mean
    reversion (k12's seasonal-naive is then beatable). The t-stat is
    compared against Dickey-Fuller critical values offline — the
    engine's job is the exact regression. Five DECIMAL-summed moments
    of pround(9) terms; γ̂ and t are shared float expressions.

    Scale: daily collapse; one lag join on the bounded day index;
    1-row moments.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        dsum("value").alias("rev")
    )
    wd = Window.orderBy(F.asc("d"))  # bounded: daily series
    idx = daily.select(
        pround(F.log("rev"), 9).alias("y"), F.row_number().over(wd).cast("bigint").alias("t")
    )
    idx = idx.transform(cut_lineage)
    a = idx.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = idx.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("tb") == F.col("ta") - 1).select(
        (F.col("ya").cast("decimal(25,9)") - F.col("yb").cast("decimal(25,9)"))
        .cast("double")
        .alias("dy"),
        F.col("yb").alias("x"),
    )
    moms = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(25,9)")).cast("double").alias("sx"),
        F.sum(F.col("dy").cast("decimal(25,9)")).cast("double").alias("sy"),
        F.sum(pround(F.col("x") * F.col("x"), 9).cast("decimal(25,9)")).cast("double").alias("sxx"),
        F.sum(pround(F.col("x") * F.col("dy"), 9).cast("decimal(25,9)")).cast("double").alias("sxy"),
        F.sum(pround(F.col("dy") * F.col("dy"), 9).cast("decimal(25,9)")).cast("double").alias("syy"),
    )
    n = F.col("n")
    gamma = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ssr = (F.col("syy") - F.col("sy") * F.col("sy") / n) - gamma * (
        F.col("sxy") - F.col("sx") * F.col("sy") / n
    )
    se = F.sqrt(ssr / (n - 2) / (F.col("sxx") - F.col("sx") * F.col("sx") / n))
    return moms.select("n", pround(gamma, 9).alias("gamma"), pround(gamma / se, 6).alias("t_stat"))


# ---------------------------------------------------------------------------
# m20 — Cronbach's alpha over event-type engagement "items"


@query(
    "qm20_cronbach_alpha",
    oracle=f"""
WITH peritem AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), nuser AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM events
), itemvar AS (
  -- users missing an item score 0: S1/S2 unchanged, denominator = ALL users
  SELECT event_type,
         CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2
  FROM peritem GROUP BY event_type
), ivars AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST({sql_pround('(s2 - CAST(s1 AS DOUBLE) * s1 / (SELECT nu FROM nuser))'
                                   ' / ((SELECT nu FROM nuser) - 1)', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS sum_vi
  FROM itemvar
), totals AS (
  SELECT user_id, CAST(SUM(x) AS BIGINT) AS tot FROM peritem GROUP BY user_id
), tvar AS (
  SELECT {sql_pround('(SUM(CAST(tot AS DOUBLE) * tot) - CAST(SUM(tot) AS DOUBLE) * SUM(tot) / (SELECT nu FROM nuser))'
                     ' / ((SELECT nu FROM nuser) - 1)', 9)} AS vt
  FROM totals
)
SELECT (SELECT nu FROM nuser) AS n_users, i.k AS n_items,
       {sql_pround('i.sum_vi', 6)} AS sum_item_var,
       {sql_pround('(SELECT vt FROM tvar)', 6)} AS total_var,
       {sql_pround('CAST(i.k AS DOUBLE) / (i.k - 1) * (1.0 - i.sum_vi / (SELECT vt FROM tvar))', 6)} AS alpha
FROM ivars i
""",
    tags=("statistics", "events"),
)
def qm20_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha treating per-user event-type counts as test
    items — the internal-consistency number behind any composite
    "engagement score" (qe26 fuses signals; alpha says whether fusing
    is even coherent): α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total). Users missing
    an item score 0 — handled WITHOUT zero-filling by keeping Σx and
    Σx² as-is and dividing by the GLOBAL user count, so no user×item
    dense matrix is ever materialized. All moments are exact integers.

    Scale: one (type, user) collapse, then k-row and per-user
    aggregates; nothing dense anywhere.
    """
    e = table(spark, sf_dir, "events")
    peritem = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    peritem = peritem.transform(cut_lineage)  # item vars + user totals
    nu = int(e.select("user_id").distinct().count())
    itemvar = peritem.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    vi = pround(
        (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / nu) / (nu - 1), 9
    )
    ivars = itemvar.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(vi.cast("decimal(25,9)")).cast("double").alias("sum_vi"),
    )
    totals = peritem.groupBy("user_id").agg(F.sum("x").cast("bigint").alias("tot"))
    tvar = totals.agg(
        pround(
            (
                F.sum(F.col("tot").cast("double") * F.col("tot"))
                - F.sum("tot").cast("double") * F.sum("tot") / nu
            )
            / (nu - 1),
            9,
        ).alias("vt")
    )
    j = ivars.crossJoin(F.broadcast(tvar))
    return j.select(
        F.lit(nu).cast("bigint").alias("n_users"),
        F.col("k").alias("n_items"),
        pround(F.col("sum_vi"), 6).alias("sum_item_var"),
        pround(F.col("vt"), 6).alias("total_var"),
        pround(
            F.col("k").cast("double") / (F.col("k") - 1) * (1.0 - F.col("sum_vi") / F.col("vt")), 6
        ).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# m23 — Nelson-Aalen cumulative hazard (qj15's estimator sibling)

_M23_MAX_WEEKS = 26


@query(
    "qm23_nelson_aalen",
    oracle=f"""
WITH firsts AS (
  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS d1
  FROM orders GROUP BY o_custkey
), nxt AS (
  SELECT f.o_custkey, f.d1, MIN(CAST(o.o_orderdate AS DATE)) AS d2
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
  SELECT week, CAST(COUNT(*) AS BIGINT) AS n_leaving, CAST(SUM(event) AS BIGINT) AS d
  FROM obs WHERE week <= {_M23_MAX_WEEKS} GROUP BY week
), risk AS (
  SELECT week, d, SUM(n_leaving) OVER (ORDER BY week DESC) AS n_at_risk
  FROM weekly
)
SELECT week, d AS n_events, CAST(n_at_risk AS BIGINT) AS n_at_risk,
       {sql_pround('CAST(SUM(CAST(' + sql_pround('CAST(d AS DOUBLE) / n_at_risk', 9)
                   + ' AS DECIMAL(25,9))) OVER (ORDER BY week ASC) AS DOUBLE)', 6)} AS cum_hazard,
       {sql_pround('exp(-CAST(SUM(CAST(' + sql_pround('CAST(d AS DOUBLE) / n_at_risk', 9)
                   + ' AS DECIMAL(25,9))) OVER (ORDER BY week ASC) AS DOUBLE))', 6)} AS s_breslow
FROM risk ORDER BY week
""",
    tags=("statistics", "survival"),
)
def qm23_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard for repeat-purchase timing —
    the same right-censored spans as qj15's Kaplan-Meier but the
    HAZARD-scale estimator H(w) = Σ d_j/n_j (more stable in small risk
    sets, additive across strata) with the Breslow survival
    exp(−H(w)) beside it — shipping KM and NA together is how
    survival toolkits let the analyst cross-check curve shape.
    Hazard increments are pround(9)-quantized and DECIMAL-summed over
    the bounded week index.

    Scale: per-customer first/next-order collapse (two joins on
    custkey), then all windows run on the ≤{_M23_MAX_WEEKS}-row week
    table.
    """
    o = table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(F.min(F.col("o_orderdate").cast("date")).alias("d1"))
    o2 = o.select(F.col("o_custkey").alias("ck"), F.col("o_orderdate").cast("date").alias("od"))
    nxt = (
        firsts.join(o2, (F.col("ck") == F.col("o_custkey")) & (F.col("od") > F.col("d1")), "left")
        .groupBy("o_custkey", "d1")
        .agg(F.min("od").alias("d2"))
    )
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date"))).collect()[0][0]
    spans = nxt.select(
        F.when(
            F.col("d2").isNotNull(), F.floor(F.datediff("d2", "d1") / 7.0).cast("bigint")
        ).alias("event_week"),
        F.floor(F.datediff(F.lit(maxd), F.col("d1")) / 7.0).cast("bigint").alias("censor_week"),
    )
    obs = spans.select(
        F.least(F.coalesce("event_week", "censor_week"), F.col("censor_week")).alias("week"),
        (
            F.col("event_week").isNotNull() & (F.col("event_week") <= F.col("censor_week"))
        )
        .cast("int")
        .alias("event"),
    )
    weekly = (
        obs.where(F.col("week") <= _M23_MAX_WEEKS)
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_leaving"),
            F.sum("event").cast("bigint").alias("d"),
        )
    )
    wdesc = Window.orderBy(F.desc("week"))  # bounded: week index
    risk = weekly.select(
        "week", "d", F.sum("n_leaving").over(wdesc).cast("bigint").alias("n_at_risk")
    )
    wasc = Window.orderBy(F.asc("week"))  # bounded: week index
    hz = pround(F.col("d").cast("double") / F.col("n_at_risk"), 9).cast("decimal(25,9)")
    cumh = F.sum(hz).over(wasc).cast("double")
    return risk.select(
        "week",
        F.col("d").alias("n_events"),
        "n_at_risk",
        pround(cumh, 6).alias("cum_hazard"),
        pround(F.exp(-cumh), 6).alias("s_breslow"),
    ).orderBy("week")


# ---------------------------------------------------------------------------
# m21 — Matthews correlation coefficient of the md5 pseudo-scorer

_M21_LABEL_CTE = f"""
spend AS (
  SELECT user_id, CAST({{pr}} AS DECIMAL(25,6)) AS sp
  FROM (SELECT user_id, {{ds}} AS raw FROM events GROUP BY user_id) t
), dict AS (
  SELECT sp, CAST(COUNT(*) AS BIGINT) AS c FROM spend GROUP BY sp
), med AS (
  SELECT MIN(sp) AS gm FROM (
    SELECT sp, SUM(c) OVER (ORDER BY sp ASC) AS cum, (SELECT SUM(c) FROM dict) AS n FROM dict
  ) WHERE cum >= CAST(ceil(n / 2.0) AS BIGINT)
), users AS (
  SELECT user_id,
         CAST(CASE WHEN {{pred}} THEN 1 ELSE 0 END AS INTEGER) AS pred,
         CAST(CASE WHEN sp > (SELECT gm FROM med) THEN 1 ELSE 0 END AS INTEGER) AS label
  FROM spend
)"""


def _m21_label_cte() -> str:
    """Median-spend label: positive iff the user's total event value
    exceeds the global per-user median — balanced at EVERY scale
    factor (a purchase-flag label saturates to all-1 at small SF and
    zeroes a confusion-matrix margin)."""
    return _M21_LABEL_CTE.format(
        pr=sql_pround("raw", 6),
        ds=sql_dsum("value"),
        pred=f"{_sql_md5fold('CAST(user_id AS VARCHAR)')} % 10000 >= 5000",
    )


@query(
    "qm21_matthews_corrcoef",
    oracle=f"""
WITH {_m21_label_cte().lstrip()},
cells AS (
  SELECT CAST(SUM(pred * label) AS BIGINT) AS tp,
         CAST(SUM(pred * (1 - label)) AS BIGINT) AS fp,
         CAST(SUM((1 - pred) * label) AS BIGINT) AS fn,
         CAST(SUM((1 - pred) * (1 - label)) AS BIGINT) AS tn
  FROM users
)
SELECT tp, fp, fn, tn,
       {sql_pround('(CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)'
                   ' / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn))', 6)} AS mcc,
       {sql_pround('(CAST(tp AS DOUBLE) + tn) / (tp + fp + fn + tn)', 6)} AS accuracy,
       {sql_pround('(CAST(tp AS DOUBLE) / (tp + fn) + CAST(tn AS DOUBLE) / (tn + fp)) / 2', 6)} AS balanced_accuracy
FROM cells
""",
    tags=("ml", "statistics"),
)
def qm21_matthews_corrcoef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient for the thresholded md5
    pseudo-scorer against the median-spend label — the single-number
    binary-classifier summary that, unlike accuracy (also emitted,
    with balanced accuracy, for contrast), cannot be gamed by class
    imbalance: MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)).
    Completes the eval family qj01 (threshold-free AUC) / qj04
    (per-class PRF) / qj10 (chance-corrected κ) with the
    at-a-threshold correlation view. The label is "user's total event
    value above the global per-user median" — balanced by
    construction at every SF, exact-decimal spend vs an exact type-1
    median. Exact integer cells, shared float expressions.

    Scale: per-user collapse, one bounded median dictionary, 4-integer
    moments.
    """
    users = _m21_users(spark, sf_dir)
    cells = users.agg(
        F.sum(F.col("pred") * F.col("label")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("label"))).cast("bigint").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("label")).cast("bigint").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("label"))).cast("bigint").alias("tn"),
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    tn = F.col("tn").cast("double")
    mcc = (tp * F.col("tn") - fp * F.col("fn")) / F.sqrt(
        (tp + fp)
        * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp"))
        * (F.col("tn") + F.col("fn"))
    )
    return cells.select(
        "tp",
        "fp",
        "fn",
        "tn",
        pround(mcc, 6).alias("mcc"),
        pround((tp + tn) / (tp + fp + F.col("fn") + tn), 6).alias("accuracy"),
        pround((tp / (tp + F.col("fn")) + tn / (tn + F.col("fp"))) / 2, 6).alias(
            "balanced_accuracy"
        ),
    )


def _m21_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, pred, label) — the Spark half of _m21_label_cte."""
    e = table(spark, sf_dir, "events")
    spend = e.groupBy("user_id").agg(
        pround(dsum("value"), 6).cast("decimal(25,6)").alias("sp")
    )
    spend = spend.transform(cut_lineage)  # median dictionary + label scan
    dict_ = spend.groupBy("sp").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n = spend.count()
    wv = Window.orderBy(F.asc("sp"))  # bounded: spend dictionary
    cum = dict_.select("sp", F.sum("c").over(wv).alias("cum"))
    gm = cum.where(F.col("cum") >= F.lit(int(-(-n // 2)))).agg(F.min("sp").alias("gm")).collect()[
        0
    ]["gm"]
    return spend.select(
        "user_id",
        F.when(_md5fold(F.col("user_id").cast("string")) % 10000 >= 5000, 1)
        .otherwise(0)
        .alias("pred"),
        (F.col("sp") > F.lit(gm).cast("decimal(25,6)")).cast("int").alias("label"),
    )


# ---------------------------------------------------------------------------
# m22 — log loss of the md5 pseudo-probability vs the base-rate model

_M22_LAT = 10_000


@query(
    "qm22_log_loss",
    oracle=f"""
WITH {_m21_label_cte().lstrip()},
scored AS (
  SELECT (CAST({_sql_md5fold('CAST(user_id AS VARCHAR)')} % {_M22_LAT} AS DOUBLE) + 0.5) / {_M22_LAT} AS p,
         label AS y
  FROM users
), pdict AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY p
), moms AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS npos,
         CAST(SUM(pos * CAST({sql_pround('ln(p)', 9)} AS DECIMAL(25,9))
                  + (c - pos) * CAST({sql_pround('ln(1.0 - p)', 9)} AS DECIMAL(25,9))) AS DOUBLE) AS ll
  FROM pdict
)
SELECT n, npos,
       {sql_pround('-ll / n', 6)} AS log_loss,
       {sql_pround('-(npos * ln(CAST(npos AS DOUBLE) / n) + (n - npos) * ln(1.0 - CAST(npos AS DOUBLE) / n)) / n', 6)} AS base_log_loss,
       {sql_pround('1.0 - (ll / n) / ((npos * ln(CAST(npos AS DOUBLE) / n) + (n - npos) * ln(1.0 - CAST(npos AS DOUBLE) / n)) / n)', 6)} AS skill
FROM moms
""",
    tags=("ml", "statistics"),
)
def qm22_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log loss (cross-entropy) of the md5 pseudo-probability against
    the median-spend label (m21's — balanced at every SF, so the
    base-rate reference never degenerates to ln 0), with the skill
    score 1 − LL/LL_base — the PROPER scoring rule completing qf19's
    calibration bins (calibration says the probabilities are honest;
    log loss says they are USEFUL). The ln terms fold over the
    probability DICTIONARY (≤{_M22_LAT} lattice points) with exact
    integer (count, positives) weights — the qj01 lattice pattern —
    pround(9)-quantized and DECIMAL-summed.

    Scale: per-user collapse, dictionary groupBy, 1-row moments.
    """
    users = _m21_users(spark, sf_dir)
    scored = users.select(
        (
            ((_md5fold(F.col("user_id").cast("string")) % _M22_LAT).cast("double") + 0.5)
            / _M22_LAT
        ).alias("p"),
        F.col("label").alias("y"),
    )
    pdict = scored.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"), F.sum("y").cast("bigint").alias("pos")
    )
    moms = pdict.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
        F.sum(
            F.col("pos") * pround(F.log("p"), 9).cast("decimal(25,9)")
            + (F.col("c") - F.col("pos"))
            * pround(F.log(1.0 - F.col("p")), 9).cast("decimal(25,9)")
        )
        .cast("double")
        .alias("ll"),
    )
    n, npos = F.col("n"), F.col("npos")
    base = (
        npos * F.log(npos.cast("double") / n) + (n - npos) * F.log(1.0 - npos.cast("double") / n)
    ) / n
    return moms.select(
        "n",
        "npos",
        pround(-F.col("ll") / n, 6).alias("log_loss"),
        pround(-base, 6).alias("base_log_loss"),
        pround(1.0 - (F.col("ll") / n) / base, 6).alias("skill"),
    )


# ---------------------------------------------------------------------------
# m06 — metric triangle inequality on real embedding distances

_M06_ANCHORS = 24  # hash-rank-picked vectors; C(24,3) = 2024 ordered triples


@query(
    "qm06_triangle_inequality_audit",
    oracle=f"""
WITH anchors AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  ORDER BY {_sql_md5fold('CAST(vec_id AS VARCHAR)')} ASC, vec_id ASC
  LIMIT {_M06_ANCHORS}
), pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v,
         round(list_distance(a.e, b.e), 6) AS d
  FROM anchors a JOIN anchors b ON a.vec_id < b.vec_id
), tri AS (
  SELECT ab.d AS dab, bc.d AS dbc, ac.d AS dac
  FROM pairs ab
  JOIN pairs bc ON bc.u = ab.v
  JOIN pairs ac ON ac.u = ab.u AND ac.v = bc.v
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(SUM(CASE WHEN dac > dab + dbc + 3e-6 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       SUM(CASE WHEN dac > dab + dbc + 3e-6 THEN 1 ELSE 0 END) = 0 AS is_metric
FROM tri
""",
    tags=("vector", "audit"),
)
def qm06_triangle_inequality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector suite's metric-space property test promoted to an
    oracle-gated audit: euclidean distances among {_M06_ANCHORS}
    hash-rank-picked embeddings must satisfy d(a,c) ≤ d(a,b)+d(b,c)
    over every ordered triple (3e-6 slack absorbs the pround(6)
    quantization of three distances). Everything downstream of a
    distance — l05's IVF routing, qh12's hard negatives, qb29's
    k-means — silently assumes this; a broken distance kernel (the
    classic float underflow in x²−2xy+y² implementations) is exactly
    what this flags. The oracle recomputes the same triples, so the
    gate also pins that Spark's fold-based distance and DuckDB's
    list_distance agree to 6dp on real data.

    Scale: fixed {_M06_ANCHORS}-anchor budget (the qh12 rule) — the
    triple join is a constant ~2k rows regardless of corpus size.
    """
    emb = table(spark, sf_dir, "embeddings")
    anchors = (
        emb.orderBy(_md5fold(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(_M06_ANCHORS)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    a = anchors.select(F.col("vec_id").alias("ua"), F.col("e").alias("ea"))
    b = anchors.select(F.col("vec_id").alias("ub"), F.col("e").alias("eb"))
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        6,
    )
    pairs = a.join(b, F.col("ua") < F.col("ub")).select(
        F.col("ua").alias("u"), F.col("ub").alias("v"), dist.alias("d")
    )
    pairs = pairs.transform(cut_lineage)  # three join arms
    ab = pairs.select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("d").alias("dab"))
    bc = pairs.select(F.col("u").alias("y2"), F.col("v").alias("z"), F.col("d").alias("dbc"))
    ac = pairs.select(F.col("u").alias("x2"), F.col("v").alias("z2"), F.col("d").alias("dac"))
    tri = (
        ab.join(bc, F.col("y2") == F.col("y"))
        .join(ac, (F.col("x2") == F.col("x")) & (F.col("z2") == F.col("z")))
        .select("dab", "dbc", "dac")
    )
    viol = (F.col("dac") > F.col("dab") + F.col("dbc") + 3e-6).cast("int")
    return tri.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triples"),
        F.sum(viol).cast("bigint").alias("n_violations"),
        (F.sum(viol) == 0).alias("is_metric"),
    )


# ---------------------------------------------------------------------------
# m24 — ranking quality: NDCG@10 + MRR over hash-sampled query/candidate sets

_M24_QUERIES = 20
_M24_CANDS = 100
_M24_K = 10


@query(
    "qm24_ranking_quality",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe, label AS qlab FROM embeddings
  ORDER BY {_sql_md5fold('CAST(vec_id AS VARCHAR)')} ASC, vec_id ASC
  LIMIT {_M24_QUERIES}
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce, label AS clab FROM embeddings
  ORDER BY {_sql_md5fold("'cand' || CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
  LIMIT {_M24_CANDS}
), scored AS (
  SELECT q.qid, c.cid, round(list_distance(q.qe, c.ce), 6) AS d,
         CASE WHEN q.qlab = c.clab THEN 1 ELSE 0 END AS rel
  FROM q CROSS JOIN c WHERE q.qid <> c.cid
), ranked AS (
  SELECT qid, rel,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d ASC, cid ASC) AS BIGINT) AS rnk,
         CAST(SUM(rel) OVER (PARTITION BY qid) AS BIGINT) AS n_rel
  FROM scored
), perq AS (
  SELECT qid, MAX(n_rel) AS n_rel,
         CAST(SUM(CASE WHEN rnk <= {_M24_K} AND rel = 1
                  THEN CAST({sql_pround('1.0 / log2(rnk + 1.0)', 9)} AS DECIMAL(25,9))
                  ELSE CAST(0 AS DECIMAL(25,9)) END) AS DOUBLE) AS dcg,
         {sql_pround('1.0 / MIN(CASE WHEN rel = 1 THEN rnk END)', 9)} AS rr
  FROM ranked GROUP BY qid
), ideal AS (
  SELECT i, CAST({sql_pround('1.0 / log2(i + 1.0)', 9)} AS DECIMAL(25,9)) AS g
  FROM (SELECT unnest(range(1, {_M24_K} + 1)) AS i)
), nd AS (
  SELECT p.qid,
         CASE WHEN p.n_rel = 0 THEN 0.0
              ELSE {sql_pround('p.dcg / CAST((SELECT SUM(g) FROM ideal WHERE i <= LEAST(p.n_rel, ' + str(_M24_K) + ')) AS DOUBLE)', 9)}
         END AS ndcg,
         COALESCE(p.rr, 0.0) AS rr
  FROM perq p
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       {sql_pround('CAST(SUM(CAST(ndcg AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*)', 6)} AS mean_ndcg10,
       {sql_pround('CAST(SUM(CAST(rr AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*)', 6)} AS mean_mrr
FROM nd
""",
    tags=("vector", "ml"),
)
def qm24_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-eval metrics for the embedding retrieval stack:
    NDCG@{_M24_K} and MRR of euclidean-distance ranking over
    {_M24_QUERIES} hash-picked queries × {_M24_CANDS} hash-picked
    candidates, relevance = same class label. q60's cosine top-k says
    what the index RETURNS; this says whether what it returns is any
    GOOD, in the two numbers every retrieval paper reports. Distances
    are pround(6)-quantized with vec_id tie-breaks (the l05
    discipline), log-discount gains are pround(9) DECIMAL sums, and
    zero-relevant queries score 0 by definition.

    Scale: fixed-budget sampling (the qh12 anchor rule) bounds the
    cross join at {_M24_QUERIES}×{_M24_CANDS} rows regardless of
    corpus size; per-query windows partition by qid.
    """
    emb = table(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy(_md5fold(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(_M24_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").cast("array<double>").alias("qe"),
            F.col("label").alias("qlab"),
        )
    )
    c = (
        emb.orderBy(
            _md5fold(F.concat(F.lit("cand"), F.col("vec_id").cast("string"))).asc(),
            F.col("vec_id").asc(),
        )
        .limit(_M24_CANDS)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("ce"),
            F.col("label").alias("clab"),
        )
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        6,
    )
    scored = (
        q.crossJoin(F.broadcast(c))
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid", "cid", dist.alias("d"), (F.col("qlab") == F.col("clab")).cast("int").alias("rel")
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.asc("d"), F.asc("cid"))
    wq = Window.partitionBy("qid")
    ranked = scored.select(
        "qid",
        "rel",
        F.row_number().over(wr).cast("bigint").alias("rnk"),
        F.sum("rel").over(wq).cast("bigint").alias("n_rel"),
    )
    gain = pround(1.0 / F.log2(F.col("rnk") + 1.0), 9).cast("decimal(25,9)")
    perq = ranked.groupBy("qid").agg(
        F.max("n_rel").alias("n_rel"),
        F.sum(F.when((F.col("rnk") <= _M24_K) & (F.col("rel") == 1), gain).otherwise(
            F.lit(0).cast("decimal(25,9)")
        ))
        .cast("double")
        .alias("dcg"),
        pround(1.0 / F.min(F.when(F.col("rel") == 1, F.col("rnk"))), 9).alias("rr"),
    )
    import math

    # ideal DCG prefix sums over the fixed k-lattice (exact decimal mirror)
    ideal = []
    acc = 0.0
    for i in range(1, _M24_K + 1):
        acc += math.floor((1.0 / math.log2(i + 1.0)) * 1e9 + 0.5) / 1e9
        ideal.append(round(acc, 9))
    idcg = F.when(F.col("n_rel") == 0, F.lit(None).cast("double"))
    for i in range(1, _M24_K + 1):
        cond = F.least(F.col("n_rel"), F.lit(_M24_K)) == i
        idcg = idcg.when(cond, F.lit(ideal[i - 1]))
    nd = perq.select(
        F.when(F.col("n_rel") == 0, 0.0).otherwise(pround(F.col("dcg") / idcg, 9)).alias("ndcg"),
        F.coalesce(F.col("rr"), F.lit(0.0)).alias("rr"),
    )
    return nd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        pround(
            F.sum(F.col("ndcg").cast("decimal(25,9)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_ndcg10"),
        pround(
            F.sum(F.col("rr").cast("decimal(25,9)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_mrr"),
    )


# ---------------------------------------------------------------------------
# m25 — shingle width sensitivity sweep for near-dup tuning

_M25_WIDTHS = (3, 5, 8)


def _m25_arm_sql(w: int) -> str:
    return f"""
  SELECT {w} AS w, shingle FROM (
    SELECT unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - {w - 2}, 1)),
           i -> array_to_string(string_split(text, ' ')[i:i+{w - 1}], ' '))) AS shingle
    FROM documents WHERE len(string_split(text, ' ')) >= {w}
  )"""


@query(
    "qm25_shingle_width_sweep",
    oracle=f"""
WITH occs AS (
{' UNION ALL '.join(_m25_arm_sql(w) for w in _M25_WIDTHS)}
), counts AS (
  SELECT w, shingle, CAST(COUNT(*) AS BIGINT) AS c FROM occs GROUP BY w, shingle
)
SELECT CAST(w AS BIGINT) AS width,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(c) AS BIGINT) AS n_occurrences,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       {sql_pround('CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)', 6)} AS dup_mass
FROM counts GROUP BY w ORDER BY width
""",
    tags=("dedup", "text", "audit"),
)
def qm25_shingle_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle WIDTH sensitivity sweep: for w ∈ {_M25_WIDTHS}, the
    distinct-shingle count, total occurrences, shared-shingle count
    and duplicated mass — the number that picks w for every
    shingle-based operator (q55/q63 use w=3; too narrow inflates
    candidate pairs with coincidental matches, too wide misses real
    near-dups). k17 sweeps repetition THRESHOLDS at one width; this
    sweeps the width axis, and together they parameterize a dedup
    pass from measurements instead of folklore.

    Scale: one stacked explode (constant 3-arm fan-out over one text
    scan), one count collapse per width — no pair joins anywhere.
    """
    # split materialized once per row — captured in the transform lambda
    # it re-runs per shingle position (r13 HOF-capture fix)
    d = table(spark, sf_dir, "documents").withColumn("_w", F.split("text", " "))
    words = F.col("_w")

    def arm(w: int) -> Column:
        # NB: the transform lambda must be 1-arg — a second arg (even a
        # defaulted one) makes PySpark pass the ARRAY INDEX into it
        return F.transform(
            F.sequence(F.lit(1), F.size(words) - (w - 1)),
            lambda i: F.array_join(F.slice(words, i, w), " "),
        )

    arms = []
    for w in _M25_WIDTHS:
        arms.append(
            d.where(F.size(words) >= w).select(
                F.lit(w).alias("w"), F.explode(arm(w)).alias("shingle")
            )
        )
    occs = arms[0]
    for arm in arms[1:]:
        occs = occs.unionByName(arm)
    counts = occs.groupBy("w", "shingle").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return (
        counts.groupBy(F.col("w").cast("bigint").alias("width"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum("c").cast("bigint").alias("n_occurrences"),
            F.sum((F.col("c") > 1).cast("int")).cast("bigint").alias("n_shared"),
            pround(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
                / F.sum("c"),
                6,
            ).alias("dup_mass"),
        )
        .orderBy("width")
    )


# ---------------------------------------------------------------------------
# m31 — next-event entropy: sequence predictability per event type


@query(
    "qm31_next_event_entropy",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type AS a,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
  FROM events
), trans AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM seq WHERE b IS NOT NULL GROUP BY a, b
), rowtot AS (
  SELECT a, CAST(SUM(n) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS k FROM trans GROUP BY a
)
SELECT t.a AS state, r.tot AS n_transitions, r.k AS n_successors,
       {sql_pround('CAST(SUM(CAST(' + sql_pround('-(CAST(t.n AS DOUBLE) / r.tot) * ln(CAST(t.n AS DOUBLE) / r.tot)', 9)
                   + ' AS DECIMAL(25,9))) AS DOUBLE)', 6)} AS entropy,
       CASE WHEN MAX(r.k) = 1 THEN 1.0
            ELSE {sql_pround('1.0 - CAST(SUM(CAST(' + sql_pround('-(CAST(t.n AS DOUBLE) / r.tot) * ln(CAST(t.n AS DOUBLE) / r.tot)', 9)
                             + ' AS DECIMAL(25,9))) AS DOUBLE) / ln(CAST(MAX(r.k) AS DOUBLE))', 6)}
       END AS predictability
FROM trans t JOIN rowtot r ON r.a = t.a
GROUP BY t.a, r.tot, r.k
ORDER BY state
""",
    tags=("events", "statistics"),
)
def qm31_next_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event entropy per state: H(next | current=a) over the
    same per-user transitions as m05, plus the normalized
    predictability 1 − H/ln(k) — the one-number answer to "how
    deterministic is behavior after a view vs after a purchase",
    and the information-theoretic summary qe12's raw transition
    matrix makes the analyst eyeball. Surprise terms are pround(9)
    DECIMAL sums over exact count ratios.

    Scale: user-partitioned LEAD, one |types|² matrix, per-state
    folds on the bounded matrix.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(F.col("event_type").alias("a"), F.lead("event_type").over(w).alias("b"))
    trans = (
        seq.where(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    trans = trans.transform(cut_lineage)  # rowtot + entropy arms
    rowtot = trans.groupBy("a").agg(
        F.sum("n").cast("bigint").alias("tot"), F.count(F.lit(1)).cast("bigint").alias("k")
    )
    jd = trans.join(rowtot, "a")
    p = F.col("n").cast("double") / F.col("tot")
    surprise = pround(-p * F.log(p), 9).cast("decimal(25,9)")
    g = jd.groupBy(F.col("a").alias("state"), F.col("tot").alias("n_transitions"), F.col("k").alias("n_successors")).agg(
        F.sum(surprise).cast("double").alias("h")
    )
    return g.select(
        "state",
        "n_transitions",
        "n_successors",
        pround(F.col("h"), 6).alias("entropy"),
        F.when(F.col("n_successors") == 1, 1.0)
        .otherwise(pround(1.0 - F.col("h") / F.log(F.col("n_successors").cast("double")), 6))
        .alias("predictability"),
    ).orderBy("state")


# ---------------------------------------------------------------------------
# m26 — deterministic Bloom-filter prefilter audit (decontamination path)

_M26_BITS = 65_536  # m (power of two)
_M26_K = 3  # hash functions; 32-bit words keep 1<<bit far from BIGINT edges


def _m26_pos_arms(src: str, carry: str) -> str:
    """UNION ALL of the K hash positions for `key` rows of `src`."""
    arms = []
    for j in range(_M26_K):
        fold = _sql_md5fold(f"'{j}' || key")
        arms.append(f"SELECT {carry}, {fold} % {_M26_BITS} AS pos FROM {src}")
    return " UNION ALL ".join(arms)


@query(
    "qm26_bloom_prefilter_audit",
    oracle=f"""
WITH eval_keys AS (
  SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 97 = 0
), epos AS (
  {_m26_pos_arms('eval_keys', 'key')}
), bitmap AS (
  SELECT CAST(pos // 32 AS BIGINT) AS w,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS BIGINT) AS bits
  FROM epos GROUP BY 1
), doc_keys AS (
  SELECT doc_id, md5(text) AS key FROM documents
), dpos AS (
  {_m26_pos_arms('doc_keys', 'doc_id')}
), checks AS (
  SELECT d.doc_id,
         CAST(SUM(CASE WHEN b.bits IS NOT NULL
                            AND (b.bits >> CAST(d.pos % 32 AS INTEGER)) % 2 = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM dpos d LEFT JOIN bitmap b ON b.w = d.pos // 32
  GROUP BY d.doc_id
), verdicts AS (
  SELECT c.doc_id, c.hits = {_M26_K} AS candidate,
         EXISTS (SELECT 1 FROM eval_keys e JOIN doc_keys k
                 ON k.key = e.key AND k.doc_id = c.doc_id) AS member
  FROM checks c
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN candidate THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN member AND NOT candidate THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives,
       SUM(CASE WHEN member AND NOT candidate THEN 1 ELSE 0 END) = 0 AS no_false_negative,
       {sql_pround('1.0 - CAST(SUM(CASE WHEN candidate THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 6)} AS reduction_ratio
FROM verdicts
""",
    tags=("dedup", "audit"),
)
def qm26_bloom_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter audit for decontamination: the eval set
    (doc_id % 97 = 0) is folded into an EXPLICIT {_M26_BITS}-bit /
    {_M26_K}-hash Bloom bitmap built with bit_or over 32-bit words —
    deterministic and engine-portable, unlike opaque built-in bloom
    aggregates — and every document is screened against it. The gate
    pins the two numbers that justify the pattern at 100 TB: ZERO
    false negatives (a Bloom prefilter may pass extra docs to exact
    matching, it must never drop a contaminated one) and the candidate
    reduction ratio (the fraction of the corpus the exact join never
    sees). qh21 audits a bucket prefilter; this is the bitmap
    alternative whose state is {_M26_BITS // 32 * 8} bytes — broadcast
    to every executor instead of shuffled.

    Scale: bitmap build is |eval|×{_M26_K} rows collapsing to ≤2048
    words (broadcast); the screen is a map-side join of per-doc
    positions against that constant table. The EXISTS membership truth
    is the audit side only.
    """
    d = table(spark, sf_dir, "documents")
    eval_keys = d.where(F.col("doc_id") % 97 == 0).select(F.md5("text").alias("key")).distinct()
    eval_keys = eval_keys.transform(cut_lineage)  # K position arms + truth join

    def positions(src: DataFrame, carry: str) -> DataFrame:
        out = None
        for j in range(_M26_K):
            arm = src.select(
                F.col(carry),
                (_md5fold(F.concat(F.lit(str(j)), F.col("key"))) % _M26_BITS).alias("pos"),
            )
            out = arm if out is None else out.unionByName(arm)
        return out

    bitmap = (
        positions(eval_keys, "key")
        .groupBy((F.col("pos") / 32).cast("bigint").alias("w"))
        .agg(
            F.expr("CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS BIGINT)").alias(
                "bits"
            )
        )
    )
    doc_keys = d.select("doc_id", F.md5("text").alias("key"))
    doc_keys = doc_keys.transform(cut_lineage)  # screen + truth join
    dpos = positions(doc_keys, "doc_id")
    checks = (
        dpos.join(F.broadcast(bitmap), (F.col("pos") / 32).cast("bigint") == F.col("w"), "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("bits").isNotNull()
                    & (
                        F.expr("(bits >> CAST(pos % 32 AS INT)) % 2") == 1
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("hits")
        )
    )
    members = (
        doc_keys.join(eval_keys, "key", "left_semi").select("doc_id").distinct()
        .withColumn("member", F.lit(True))
    )
    verdicts = checks.join(members, "doc_id", "left").select(
        "doc_id",
        (F.col("hits") == _M26_K).alias("candidate"),
        F.coalesce("member", F.lit(False)).alias("member"),
    )
    return verdicts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("member").cast("int")).cast("bigint").alias("n_members"),
        F.sum(F.col("candidate").cast("int")).cast("bigint").alias("n_candidates"),
        F.sum((F.col("member") & ~F.col("candidate")).cast("int"))
        .cast("bigint")
        .alias("n_false_negatives"),
        (F.sum((F.col("member") & ~F.col("candidate")).cast("int")) == 0).alias(
            "no_false_negative"
        ),
        pround(
            1.0 - F.sum(F.col("candidate").cast("int")).cast("double") / F.count(F.lit(1)), 6
        ).alias("reduction_ratio"),
    )


# ---------------------------------------------------------------------------
# m27 — mergeable checksum audit: shard checksums combine to the global one

_M27_MOD = 2_305_843_009_213_693_951  # 2^61 - 1 (Mersenne): sums stay in BIGINT


@query(
    "qm27_checksum_merge_audit",
    oracle=f"""
WITH keyed AS (
  SELECT source, {_sql_md5fold('text || CAST(doc_id AS VARCHAR)')} AS h FROM documents
), per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(bit_xor(h) AS BIGINT) AS xor_cks,
         CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) % {_M27_MOD} AS BIGINT) AS sum_cks
  FROM keyed GROUP BY source
), direct AS (
  SELECT CAST(bit_xor(h) AS BIGINT) AS xor_all,
         CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) % {_M27_MOD} AS BIGINT) AS sum_all
  FROM keyed
), merged AS (
  SELECT CAST(bit_xor(xor_cks) AS BIGINT) AS xor_m,
         CAST(CAST(SUM(CAST(sum_cks AS DECIMAL(38,0))) AS DECIMAL(38,0)) % {_M27_MOD} AS BIGINT) AS sum_m,
         CAST(SUM(n) AS BIGINT) AS n_rows
  FROM per_source
)
SELECT m.n_rows,
       CAST((SELECT COUNT(*) FROM per_source) AS BIGINT) AS n_shards,
       d.xor_all, d.sum_all,
       m.xor_m = d.xor_all AS xor_merges,
       m.sum_m = d.sum_all AS sum_merges
FROM merged m, direct d
""",
    tags=("audit", "integrity"),
)
def qm27_checksum_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable content-checksum audit: per-source XOR and mod-2^61−1
    sum checksums of md5(text‖doc_id) must combine (XOR of XORs,
    modular sum of sums) to the checksums computed directly over the
    whole corpus — the algebraic property that lets a 100 TB pipeline
    verify a copy SHARD BY SHARD and still assert global equality
    without any global shuffle (qh20 checksums one result set; this
    proves the per-shard decomposition is sound). Exact integer
    arithmetic throughout: XOR is order-free, sums ride DECIMAL(38)
    then reduce by a Mersenne modulus that keeps them in BIGINT.

    Scale: one keyed scan, one per-source collapse, two 1-row folds.
    """
    d = table(spark, sf_dir, "documents")
    keyed = d.select(
        "source", _md5fold(F.concat(F.col("text"), F.col("doc_id").cast("string"))).alias("h")
    )
    keyed = keyed.transform(cut_lineage)  # per-source + direct folds
    per_source = keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(bit_xor(h) AS BIGINT)").alias("xor_cks"),
        (F.sum(F.col("h").cast("decimal(38,0)")) % _M27_MOD).cast("bigint").alias("sum_cks"),
    )
    direct = keyed.agg(
        F.expr("CAST(bit_xor(h) AS BIGINT)").alias("xor_all"),
        (F.sum(F.col("h").cast("decimal(38,0)")) % _M27_MOD).cast("bigint").alias("sum_all"),
    )
    merged = per_source.agg(
        F.expr("CAST(bit_xor(xor_cks) AS BIGINT)").alias("xor_m"),
        (F.sum(F.col("sum_cks").cast("decimal(38,0)")) % _M27_MOD).cast("bigint").alias("sum_m"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
    )
    j = merged.crossJoin(F.broadcast(direct))
    return j.select(
        "n_rows",
        "n_shards",
        "xor_all",
        "sum_all",
        (F.col("xor_m") == F.col("xor_all")).alias("xor_merges"),
        (F.col("sum_m") == F.col("sum_all")).alias("sum_merges"),
    )


# ---------------------------------------------------------------------------
# m28 — CDC tombstone apply: last-writer-wins with deletes

_M28_SORT_KEY = "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0')"


@query(
    "qm28_cdc_tombstone_apply",
    oracle=f"""
WITH log AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value, {_M28_SORT_KEY} AS sk
  FROM events
), last AS (
  SELECT user_id, MAX_BY(op, sk) AS op,
         MAX_BY(value, sk) AS value,
         CAST(COUNT(*) AS BIGINT) AS n_ops,
         CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
  FROM log GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned,
       CAST(SUM(n_ops) AS BIGINT) AS n_ops,
       CAST(SUM(n_deletes) AS BIGINT) AS n_delete_ops,
       {sql_pround("CAST(SUM(CASE WHEN op = 'U' THEN CAST(" + sql_pround('value', 6) + " AS DECIMAL(25,6)) ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)", 6)} AS live_value_sum
FROM last
""",
    tags=("cdc", "integrity"),
)
def qm28_cdc_tombstone_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with TOMBSTONES: reading events as a change log
    (error ⇒ DELETE, anything else ⇒ UPSERT of value, ordered by
    (ts, event_id)), collapse to the final table state — live-key
    count, tombstoned-key count, and the checksum sum of live values.
    q89 merges an upsert batch and q88 tracks SCD2 history; this is
    the third CDC shape, hard deletes, whose correctness hinges on
    the delete WINNING when it is the last op (a max_by over the
    padded (ts, event_id) key — the l05 tie-discipline — not a join
    that resurrects dead keys).

    Scale: one per-key max_by collapse (map-side combinable), no
    window over the full log, 1-row summary.
    """
    e = table(spark, sf_dir, "events")
    sk = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    log = e.select(
        "user_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
        sk.alias("sk"),
    )
    last = log.groupBy("user_id").agg(
        F.max_by("op", "sk").alias("op"),
        F.max_by("value", "sk").alias("value"),
        F.count(F.lit(1)).cast("bigint").alias("n_ops"),
        F.sum((F.col("op") == "D").cast("int")).cast("bigint").alias("n_deletes"),
    )
    return last.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum((F.col("op") == "U").cast("int")).cast("bigint").alias("n_live"),
        F.sum((F.col("op") == "D").cast("int")).cast("bigint").alias("n_tombstoned"),
        F.sum("n_ops").cast("bigint").alias("n_ops"),
        F.sum("n_deletes").cast("bigint").alias("n_delete_ops"),
        pround(
            F.sum(
                F.when(F.col("op") == "U", pround(F.col("value"), 6).cast("decimal(25,6)"))
                .otherwise(F.lit(0).cast("decimal(25,6)"))
            ).cast("double"),
            6,
        ).alias("live_value_sum"),
    )


# ---------------------------------------------------------------------------
# m29 — z-order locality audit: interleaved vs lexicographic clustering

_M29_SIDE = 256  # 8 bits per dimension


def _m29_z_expr(p: str, d: str, div: str = "//") -> str:
    """16-bit Morton interleave of two 8-bit bucket columns, in pure
    integer arithmetic so Spark SQL (div='DIV') and DuckDB (div='//')
    agree bit-for-bit."""
    terms = []
    for i in range(8):
        terms.append(f"(({p} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({d} {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


@query(
    "qm29_zorder_locality_audit",
    oracle=f"""
WITH bounds AS (
  SELECT CAST(MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS minc,
         CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS maxc,
         MIN(CAST(o_orderdate AS DATE)) AS mind,
         MAX(CAST(o_orderdate AS DATE)) AS maxd
  FROM orders
), bucketed AS (
  SELECT (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) - b.minc) * {_M29_SIDE}
           // (b.maxc - b.minc + 1) AS p,
         (CAST(o_orderdate AS DATE) - b.mind) * {_M29_SIDE}
           // (b.maxd - b.mind + 1) AS d
  FROM orders, bounds b
), assigned AS (
  SELECT p, d, CAST(({_m29_z_expr('p', 'd')}) // {_M29_SIDE} AS BIGINT) AS zfile,
         CAST(p AS BIGINT) AS lexfile
  FROM bucketed
), layouts AS (
  SELECT 'zorder' AS layout, zfile AS f, p, d FROM assigned
  UNION ALL
  SELECT 'lexicographic' AS layout, lexfile AS f, p, d FROM assigned
), perfile AS (
  SELECT layout, f,
         CAST(MAX(p) - MIN(p) + 1 AS BIGINT) AS span_p,
         CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS span_d
  FROM layouts GROUP BY layout, f
)
SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
       {sql_pround('CAST(SUM(span_p) AS DOUBLE) / COUNT(*)', 6)} AS avg_price_span,
       {sql_pround('CAST(SUM(span_d) AS DOUBLE) / COUNT(*)', 6)} AS avg_date_span
FROM perfile GROUP BY layout ORDER BY layout
""",
    tags=("audit", "layout"),
)
def qm29_zorder_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER locality audit: orders are bucketed onto a
    {_M29_SIDE}×{_M29_SIDE} (price, date) grid, then assigned to 256
    files two ways — by the 16-bit Morton (z-order) code and by the
    price bucket alone (lexicographic) — and each layout reports the
    average per-file span of BOTH dimensions. This is the measured
    basis for choosing a clustering key at 100 TB: min/max zone maps
    (qj36) prune on span, a z-order file bounds price AND date spans
    near √{_M29_SIDE}, while lexicographic layout makes one span 1
    and abandons the other at ~{_M29_SIDE}. Bucketing and the Morton
    interleave are pure integer arithmetic (cents, day offsets, DIV/%
    bit extraction), bit-identical on both engines.

    Scale: one bounds pass, one map-side bucket+interleave expression,
    one groupBy over ≤2·256 files.
    """
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    b = o.agg(
        F.min(cents).alias("minc"),
        F.max(cents).alias("maxc"),
        F.min(F.col("o_orderdate").cast("date")).alias("mind"),
        F.max(F.col("o_orderdate").cast("date")).alias("maxd"),
    ).collect()[0]
    minc, maxc, mind, maxd = b["minc"], b["maxc"], b["mind"], b["maxd"]
    span_days = (maxd - mind).days + 1
    bucketed = o.select(
        F.expr(
            f"(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) - {minc}) * {_M29_SIDE}"
            f" DIV {maxc - minc + 1}"
        ).alias("p"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit(mind)) * _M29_SIDE
        ).cast("bigint").alias("dd"),
    ).select("p", F.expr(f"dd DIV {span_days}").alias("d"))
    assigned = bucketed.select(
        "p",
        "d",
        F.expr(f"CAST(({_m29_z_expr('p', 'd', 'DIV')}) DIV {_M29_SIDE} AS BIGINT)").alias("zfile"),
        F.col("p").cast("bigint").alias("lexfile"),
    )
    assigned = assigned.transform(cut_lineage)  # two layout arms
    layouts = assigned.select(
        F.lit("zorder").alias("layout"), F.col("zfile").alias("f"), "p", "d"
    ).unionByName(
        assigned.select(
            F.lit("lexicographic").alias("layout"), F.col("lexfile").alias("f"), "p", "d"
        )
    )
    perfile = layouts.groupBy("layout", "f").agg(
        (F.max("p") - F.min("p") + 1).cast("bigint").alias("span_p"),
        (F.max("d") - F.min("d") + 1).cast("bigint").alias("span_d"),
    )
    return (
        perfile.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            pround(F.sum("span_p").cast("double") / F.count(F.lit(1)), 6).alias("avg_price_span"),
            pround(F.sum("span_d").cast("double") / F.count(F.lit(1)), 6).alias("avg_date_span"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# m30 — triangle count on the near-dup graph (degree-ordered orientation)


@query(
    "qm30_triangle_count",
    oracle="""
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
  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT p.u, p.v FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.u JOIN sizes sb ON sb.doc_id = p.v
  WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.2
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
), oriented AS (
  -- orient low-(degree, id) -> high-(degree, id): every triangle counted once,
  -- and out-degrees are O(sqrt(m)) on skewed graphs (the standard trick)
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM oriented ab JOIN oriented bc ON bc.s = ab.t
  JOIN oriented ac ON ac.s = ab.s AND ac.t = bc.t
), wedge AS (
  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       t.n_triangles, w.n_wedges,
       CAST(floor(CASE WHEN w.n_wedges = 0 THEN 0.0
                       ELSE 3.0 * t.n_triangles / w.n_wedges END * 1000000.0 + 0.5) AS DOUBLE)
         / 1000000.0 AS global_clustering
FROM tri t, wedge w
""",
    tags=("graph", "dedup"),
    bench=True,
)
def qm30_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRIANGLE COUNT on the near-dup graph with the
    degree-ordered orientation — each edge points from its
    lower-(degree, id) endpoint to the higher one, so every triangle
    is counted exactly once AND the join fan-out is bounded by
    out-degrees of O(√m) even on power-law graphs (the difference
    between a triangle join that finishes at 100 TB and one that
    explodes on the first boilerplate hub). With wedges Σd(d−1)/2 it
    yields the global clustering coefficient 3Δ/W — qj07's
    assortativity says WHO links to whom; clustering says whether
    duplication forms CLIQUES (transitive families one canonical doc
    can replace) or CHAINS (q97's CC over-merges) — the number that
    picks between cluster-collapse and pairwise-kill dedup policies.

    Scale: edges are dedup-pair output (bounded by true duplication);
    orientation is one join against the degree table; the triangle
    join's probe side is oriented adjacency with √m out-degree.
    """
    d = table(spark, sf_dir, "documents")
    from pyspark_distributed_kmodes_spark.operators.text import ngram_jaccard_pairs

    edges = ngram_jaccard_pairs(d, threshold=0.2).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    edges = edges.transform(cut_lineage)  # degree + orientation consumers
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    deg = deg.transform(cut_lineage)  # two orientation joins + wedges
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    oriented = oriented.transform(cut_lineage)  # three triangle-join arms
    ab = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    bc = oriented.select(F.col("s").alias("b2"), F.col("t").alias("c"))
    ac = oriented.select(F.col("s").alias("a2"), F.col("t").alias("c2"))
    tri = (
        ab.join(bc, F.col("b2") == F.col("b"))
        .join(ac, (F.col("a2") == F.col("a")) & (F.col("c2") == F.col("c")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    wedges = deg.agg(F.sum(F.expr("(d * (d - 1)) DIV 2")).cast("bigint").alias("n_wedges"))
    counts = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes")))
    )
    j = counts.crossJoin(F.broadcast(tri)).crossJoin(F.broadcast(wedges))
    return j.select(
        "n_edges",
        "n_nodes",
        "n_triangles",
        "n_wedges",
        F.when(F.col("n_wedges") == 0, 0.0)
        .otherwise(pround(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6))
        .alias("global_clustering"),
    )


# ---------------------------------------------------------------------------
# m32 — difference-in-differences on the customer panel


@query(
    "qm32_did_estimator",
    oracle=f"""
WITH dates AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1
), cut AS (
  SELECT MIN(d) AS cutoff FROM (
    SELECT d, SUM(c) OVER (ORDER BY d ASC) AS cum, (SELECT SUM(c) FROM dates) AS n FROM dates
  ) WHERE cum >= CAST(ceil(n / 2.0) AS BIGINT)
), cells AS (
  SELECT CASE WHEN cst.c_nationkey < 12 THEN 1 ELSE 0 END AS treated,
         CASE WHEN CAST(o.o_orderdate AS DATE) >= (SELECT cutoff FROM cut) THEN 1 ELSE 0 END AS post,
         CAST(COUNT(*) AS BIGINT) AS n,
         {sql_pround('CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,2))) AS DOUBLE) / COUNT(*)', 9)} AS mean_val
  FROM orders o JOIN customer cst ON cst.c_custkey = o.o_custkey
  GROUP BY 1, 2
)
SELECT (SELECT cutoff FROM cut) AS cutoff_date,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       {sql_pround("MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_val END)", 6)} AS t_pre,
       {sql_pround("MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_val END)", 6)} AS t_post,
       {sql_pround("MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_val END)", 6)} AS c_pre,
       {sql_pround("MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_val END)", 6)} AS c_post,
       {sql_pround("(MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_val END)"
                   " - MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_val END))"
                   " - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_val END)"
                   " - MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_val END))", 6)} AS did
FROM cells
""",
    tags=("statistics", "causal"),
)
def qm32_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the order panel: treated =
    customers of nations 0–11, period split at the exact median order
    date, outcome = mean order value — DiD = (T_post−T_pre) −
    (C_post−C_pre), the workhorse causal estimator a data platform is
    asked for the moment an intervention has a launch date. The 2×2
    cell means are exact DECIMAL sums over exact counts; the median
    cutoff is a type-1 quantile from the bounded date dictionary.

    Scale: one date-dictionary median, one broadcastable customer-dim
    join, a 4-cell aggregate.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    dates = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = o.count()
    wd = Window.orderBy(F.asc("d"))  # bounded: date dictionary
    cum = dates.select("d", F.sum("c").over(wd).alias("cum"))
    cutoff = cum.where(F.col("cum") >= F.lit(int(-(-n // 2)))).agg(
        F.min("d").alias("cut")
    ).collect()[0]["cut"]
    cells = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy(
            F.when(F.col("c_nationkey") < 12, 1).otherwise(0).alias("treated"),
            (F.col("o_orderdate").cast("date") >= F.lit(cutoff)).cast("int").alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            pround(
                F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_val"),
        )
    )

    def cell(t: int, p: int) -> Column:
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col("mean_val"))
        )

    return cells.agg(
        F.lit(cutoff).alias("cutoff_date"),
        F.sum("n").cast("bigint").alias("n_orders"),
        pround(cell(1, 0), 6).alias("t_pre"),
        pround(cell(1, 1), 6).alias("t_post"),
        pround(cell(0, 0), 6).alias("c_pre"),
        pround(cell(0, 1), 6).alias("c_post"),
        pround((cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0)), 6).alias("did"),
    )


# ---------------------------------------------------------------------------
# m33 — Lorenz curve dominance between two customer segments


@query(
    "qm33_lorenz_dominance",
    oracle=f"""
WITH obs AS (
  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'BUILDING' ELSE 'OTHER' END AS seg,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), dict AS (
  SELECT seg, cents, CAST(COUNT(*) AS BIGINT) AS c FROM obs GROUP BY 1, 2
), cum AS (
  SELECT seg, cents, c,
         SUM(c) OVER (PARTITION BY seg ORDER BY cents ASC) AS cumn,
         SUM(c * cents) OVER (PARTITION BY seg ORDER BY cents ASC) AS cumv,
         SUM(c) OVER (PARTITION BY seg) AS n,
         SUM(c * cents) OVER (PARTITION BY seg) AS v
  FROM dict
), probes AS (SELECT unnest(range(1, 10)) AS d), lz AS (
  SELECT p.d,
         (SELECT {sql_pround('CAST(MIN(cumv) AS DOUBLE) / MIN(v)', 9)} FROM cum
          WHERE seg = 'BUILDING' AND cumn >= CAST(ceil(p.d / 10.0 * n) AS BIGINT)) AS l_b,
         (SELECT {sql_pround('CAST(MIN(cumv) AS DOUBLE) / MIN(v)', 9)} FROM cum
          WHERE seg = 'OTHER' AND cumn >= CAST(ceil(p.d / 10.0 * n) AS BIGINT)) AS l_o
  FROM probes p
)
SELECT CAST(d AS BIGINT) AS decile,
       {sql_pround('l_b', 6)} AS lorenz_building,
       {sql_pround('l_o', 6)} AS lorenz_other,
       {sql_pround('l_b - l_o', 6)} AS gap,
       SUM(CASE WHEN l_b >= l_o THEN 1 ELSE 0 END) OVER () = 9 AS building_dominates
FROM lz ORDER BY decile
""",
    tags=("statistics", "events"),
)
def qm33_lorenz_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve DOMINANCE check between the BUILDING segment and
    the rest: L(p) at each decile for both segments, the per-decile
    gap, and the flag that one curve lies (weakly) above the other
    everywhere — Lorenz dominance is the strongest
    inequality-ordering statement (every Gini, Atkinson, or Theil
    index agrees with it), so it settles "is BUILDING spend more
    concentrated" without picking an index; qd09's Gini is the
    one-number shadow of this table. Cumulative counts and cent-sums
    are exact integers over the per-segment value dictionary; L
    values are single float divisions, pround-quantized.

    Scale: one dim join + per-segment dictionary collapse; cumulative
    windows run on bounded dictionaries, decile probes are 9 rows.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    obs = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")), o.o_custkey == F.col("c_custkey")
    ).select(
        F.when(F.col("c_mktsegment") == "BUILDING", "BUILDING").otherwise("OTHER").alias("seg"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    dict_ = obs.groupBy("seg", "cents").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ws = Window.partitionBy("seg").orderBy(F.asc("cents"))  # bounded dictionary
    wseg = Window.partitionBy("seg")
    cum = dict_.select(
        "seg",
        "cents",
        F.sum("c").over(ws).alias("cumn"),
        F.sum(F.col("c") * F.col("cents")).over(ws).alias("cumv"),
        F.sum("c").over(wseg).alias("n"),
        F.sum(F.col("c") * F.col("cents")).over(wseg).alias("v"),
    )
    cum = cum.transform(cut_lineage)  # probed by 9 deciles x 2 segments
    probes = spark.range(1, 10).select(F.col("id").alias("d"))
    jd = probes.crossJoin(cum).where(
        F.col("cumn") >= F.ceil(F.col("d") / 10.0 * F.col("n")).cast("bigint")
    )
    lz = jd.groupBy("d", "seg").agg(
        pround(F.min("cumv").cast("double") / F.min("v"), 9).alias("l")
    )
    piv = (
        lz.groupBy("d")
        .pivot("seg", ["BUILDING", "OTHER"])
        .agg(F.first("l"))
        .withColumnRenamed("BUILDING", "l_b")
        .withColumnRenamed("OTHER", "l_o")
    )
    wall = Window.partitionBy()
    return (
        piv.select(
            F.col("d").cast("bigint").alias("decile"),
            pround(F.col("l_b"), 6).alias("lorenz_building"),
            pround(F.col("l_o"), 6).alias("lorenz_other"),
            pround(F.col("l_b") - F.col("l_o"), 6).alias("gap"),
            (
                F.sum((F.col("l_b") >= F.col("l_o")).cast("int")).over(wall) == 9
            ).alias("building_dominates"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# m34 — Benjamini-Hochberg FDR over per-nation two-sided z-tests

_M34_ALPHA = 0.10
# Abramowitz & Stegun 26.2.17: Phi(x) for x>=0, |err| < 7.5e-8 — pure
# arithmetic, so both engines evaluate it bit-identically
_M34_PHI = (
    "(1.0 - exp(-0.5 * ZX * ZX) * 0.3989422804014327"
    " * (0.319381530 * KT - 0.356563782 * KT * KT + 1.781477937 * KT * KT * KT"
    "    - 1.821255978 * KT * KT * KT * KT + 1.330274429 * KT * KT * KT * KT * KT))"
)


def _m34_p_expr(z: str) -> str:
    """Two-sided p-value 2(1 - Phi(|z|)) via the A&S polynomial."""
    zx = f"ABS({z})"
    kt = f"(1.0 / (1.0 + 0.2316419 * ABS({z})))"
    phi = _M34_PHI.replace("ZX", zx).replace("KT", kt)
    return f"(2.0 * (1.0 - {phi}))"


@query(
    "qm34_benjamini_hochberg",
    oracle=f"""
WITH users AS (
  SELECT c_nationkey AS nation,
         CASE WHEN c_acctbal > (
           SELECT MIN(v) FROM (
             SELECT v, SUM(c) OVER (ORDER BY v ASC) AS cum, (SELECT COUNT(*) FROM customer) AS n
             FROM (SELECT c_acctbal AS v, CAST(COUNT(*) AS BIGINT) AS c FROM customer GROUP BY 1)
           ) WHERE cum >= CAST(ceil(n / 2.0) AS BIGINT)
         ) THEN 1 ELSE 0 END AS above
  FROM customer
), cells AS (
  SELECT nation, CAST(SUM(above) AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS n
  FROM users GROUP BY nation
), zs AS (
  SELECT nation, x, n,
         {sql_pround('(CAST(x AS DOUBLE) / n - 0.5) / sqrt(0.25 / n)', 9)} AS z
  FROM cells
), ps AS (
  SELECT nation, x, n, z, {sql_pround(_m34_p_expr('z'), 9)} AS p FROM zs
), ranked AS (
  SELECT nation, x, n, z, p,
         CAST(ROW_NUMBER() OVER (ORDER BY p ASC, nation ASC) AS BIGINT) AS rnk,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM ps
), cut AS (
  SELECT COALESCE(MAX(CASE WHEN p <= rnk * {_M34_ALPHA} / m THEN rnk END), 0) AS k FROM ranked
)
SELECT nation, x, n, {sql_pround('z', 6)} AS z, {sql_pround('p', 6)} AS p, rnk,
       rnk <= (SELECT k FROM cut) AS rejected
FROM ranked ORDER BY rnk, nation
""",
    tags=("statistics",),
)
def qm34_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over 25 simultaneous hypotheses
    (per nation: is the share of above-median balances ≠ 1/2): the
    step-up procedure rejects ranks 1..k where k = max{{i: p_(i) ≤
    i·α/m}}, α = {_M34_ALPHA} — the multiple-testing discipline every
    per-segment dashboard silently needs once it tests 25 segments at
    once. p-values use the Abramowitz-Stegun Φ polynomial (pure
    arithmetic, |err| < 7.5e-8 — the engine-portable normal CDF; the
    approximation is shared by BOTH engines so the gate is exact).

    Scale: one median dictionary, one per-nation count, then the BH
    step-up runs on the bounded m-row p-value table.
    """
    c = table(spark, sf_dir, "customer")
    dict_ = c.groupBy(F.col("c_acctbal").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    n_all = c.count()
    wv = Window.orderBy(F.asc("v"))  # bounded: balance dictionary
    cum = dict_.select("v", F.sum("cnt").over(wv).alias("cum"))
    med = cum.where(F.col("cum") >= F.lit(int(-(-n_all // 2)))).agg(
        F.min("v").alias("gm")
    ).collect()[0]["gm"]
    cells = c.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.sum((F.col("c_acctbal") > float(med)).cast("int")).cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    zs = cells.select(
        "nation",
        "x",
        "n",
        pround(
            (F.col("x").cast("double") / F.col("n") - 0.5) / F.sqrt(0.25 / F.col("n")), 9
        ).alias("z"),
    )
    ps = zs.select("nation", "x", "n", "z", pround(F.expr(_m34_p_expr("z")), 9).alias("p"))
    wr = Window.orderBy(F.asc("p"), F.asc("nation"))  # bounded: m = 25 hypotheses
    wall = Window.partitionBy()
    ranked = ps.select(
        "nation", "x", "n", "z", "p",
        F.row_number().over(wr).cast("bigint").alias("rnk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("m"),
    )
    ranked = ranked.transform(cut_lineage)  # cutoff + output scan
    k = (
        ranked.agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("p") <= F.col("rnk") * _M34_ALPHA / F.col("m"), F.col("rnk")
                    )
                ),
                F.lit(0),
            ).alias("k")
        ).collect()[0]["k"]
    )
    return ranked.select(
        "nation",
        "x",
        "n",
        pround(F.col("z"), 6).alias("z"),
        pround(F.col("p"), 6).alias("p"),
        "rnk",
        (F.col("rnk") <= int(k)).alias("rejected"),
    ).orderBy("rnk", "nation")


# ---------------------------------------------------------------------------
# m35 — empirical-Bayes (beta-binomial) shrinkage of per-source rates


@query(
    "qm35_empirical_bayes_shrinkage",
    oracle=f"""
WITH med AS (
  SELECT MIN(v) AS gm FROM (
    SELECT v, SUM(c) OVER (ORDER BY v ASC) AS cum, (SELECT COUNT(*) FROM documents) AS n
    FROM (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY 1)
  ) WHERE cum >= CAST(ceil(n / 2.0) AS BIGINT)
), cells AS (
  SELECT source,
         CAST(SUM(CASE WHEN n_chars > (SELECT gm FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source
), moms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         {sql_pround('CAST(SUM(CAST(' + sql_pround('CAST(x AS DOUBLE) / n', 9) + ' AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*)', 9)} AS mu,
         {sql_pround('CAST(SUM(CAST(' + sql_pround('(CAST(x AS DOUBLE) / n) * (CAST(x AS DOUBLE) / n)', 9) + ' AS DECIMAL(25,9))) AS DOUBLE) / COUNT(*)', 9)} AS m2
  FROM cells
), prior AS (
  -- method of moments: var = m2 - mu^2; alpha+beta = mu(1-mu)/var - 1
  SELECT mu,
         {sql_pround('GREATEST(mu * (1.0 - mu) / GREATEST(m2 - mu * mu, 1e-9) - 1.0, 1.0)', 9)} AS nu
  FROM moms
)
SELECT c.source, c.x, c.n,
       {sql_pround('CAST(c.x AS DOUBLE) / c.n', 6)} AS raw_rate,
       {sql_pround('(c.x + p.mu * p.nu) / (c.n + p.nu)', 6)} AS shrunk_rate,
       {sql_pround('(c.x + p.mu * p.nu) / (c.n + p.nu) - CAST(c.x AS DOUBLE) / c.n', 6)} AS shrinkage
FROM cells c, prior p
ORDER BY c.source
""",
    tags=("statistics", "curation"),
)
def qm35_empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source "long-doc" rates
    (share of docs above the global median length) toward the corpus
    prior, with a method-of-moments beta prior: shrunk = (x + μν)/(n
    + ν), ν = μ(1−μ)/var − 1 — the estimator that stops a 40-doc
    source from outranking a 40k-doc source on a noisy quality rate
    (qc10 caps per-source quality; this is the principled version of
    the same instinct, and the standard leaderboard-smoothing tool).
    Rates and moments are pround(9)-quantized DECIMAL sums; the prior
    strength is floored at 1 to stay defined when sources are
    homogeneous.

    Scale: one median dictionary, one per-source count, k-row moment
    and shrinkage passes.
    """
    d = table(spark, sf_dir, "documents")
    dict_ = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n_all = d.count()
    wv = Window.orderBy(F.asc("v"))  # bounded: length dictionary
    cum = dict_.select("v", F.sum("c").over(wv).alias("cum"))
    med = cum.where(F.col("cum") >= F.lit(int(-(-n_all // 2)))).agg(
        F.min("v").alias("gm")
    ).collect()[0]["gm"]
    cells = d.groupBy("source").agg(
        F.sum((F.col("n_chars") > int(med)).cast("int")).cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cells = cells.transform(cut_lineage)  # moments + shrinkage scan
    raw_rate = F.col("x").cast("double") / F.col("n")  # shared-float contract:
    # both engines quantize the SAME expression — pround(raw, 9) for mu and
    # pround(raw*raw, 9) for m2 (squaring the raw rate, not the quantized one,
    # exactly as the oracle's line does).
    rate = pround(raw_rate, 9)
    moms = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        pround(
            F.sum(rate.cast("decimal(25,9)")).cast("double") / F.count(F.lit(1)), 9
        ).alias("mu"),
        pround(
            F.sum(pround(raw_rate * raw_rate, 9).cast("decimal(25,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("m2"),
    )
    prior = moms.select(
        "mu",
        pround(
            F.greatest(
                F.col("mu") * (1.0 - F.col("mu")) / F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(1e-9))
                - 1.0,
                F.lit(1.0),
            ),
            9,
        ).alias("nu"),
    )
    j = cells.crossJoin(F.broadcast(prior))
    raw = F.col("x").cast("double") / F.col("n")
    shrunk = (F.col("x") + F.col("mu") * F.col("nu")) / (F.col("n") + F.col("nu"))
    return j.select(
        "source",
        "x",
        "n",
        pround(raw, 6).alias("raw_rate"),
        pround(shrunk, 6).alias("shrunk_rate"),
        pround(shrunk - raw, 6).alias("shrinkage"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# m01 / m02 — REAL Structured Streaming execution under the hash gate

@query(
    "qm01_upsert_stream_convergence",
    oracle=f"""
WITH last AS (
  SELECT user_id,
         MAX_BY(event_id, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                          || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS event_id,
         MAX_BY(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                       || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS value
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(event_id) AS BIGINT) AS sum_latest_event_id,
       CAST(bit_xor({_sql_md5fold("CAST(user_id AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)")}) AS BIGINT) AS winners_xor,
       {sql_pround('CAST(SUM(CAST(' + sql_pround('value', 6) + ' AS DECIMAL(25,6))) AS DOUBLE)', 6)} AS sum_latest_value
FROM last
""",
    tags=("streaming", "cdc", "audit"),
)
def qm01_upsert_stream_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming under the hash gate: the events table
    is replayed as a 3-file stream (maxFilesPerTrigger=1, so the
    foreachBatch upsert sink executes THREE separate merge batches)
    into a parquet target keyed by user, keeping the max-(ts,
    event_id) row per key; the final target must converge to exactly
    the batch latest-per-key answer — per-key WINNERS pinned by an
    order-free XOR of md5(user:event_id), not just counts. Until now
    streaming execution was proven by pytest parity
    (tests/test_streaming.py); this puts the actual readStream →
    foreachBatch → rename-swap machinery inside the driver's
    correctness gate. The merge is order-independent (max-order wins,
    batch wins exact ties), so arbitrary file batching converges to
    one answer — the property that makes the sink safe under replays
    and out-of-order file arrival at 100 TB.

    Scale: each micro-batch shuffles only on user_id against the
    compacted target (q34's shape); the convergence summary is a
    1-row fold.
    """
    import os
    import shutil

    e = table(spark, sf_dir, "events")
    stage = scratch_dir("qm01_stage")
    # arbitrary (non-time) split — the merge must not care
    for i in range(3):
        _write_single_file(e.where(F.col("event_id") % 3 == i), os.path.join(stage, f"chunk{i}.parquet"))
    stream = replay_stream(spark, stage)
    target_root = scratch_dir("qm01_target")
    target = os.path.join(target_root, "latest")
    upsert_sink_stream(
        spark,
        stream,
        target,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        output_mode="append",
    )
    # streaming is done: the source-side copy of events is dead weight
    shutil.rmtree(stage, ignore_errors=True)
    last = spark.read.parquet(target)
    key = _md5fold(
        F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_id").cast("string"))
    )
    return last.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("event_id").cast("bigint").alias("sum_latest_event_id"),
        F.expr(
            "CAST(bit_xor("
            "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), ':', "
            "CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            ") AS BIGINT)"
        ).alias("winners_xor"),
        pround(
            F.sum(pround(F.col("value"), 6).cast("decimal(25,6)")).cast("double"), 6
        ).alias("sum_latest_value"),
    )


@query(
    "qm02_stream_restart_equivalence",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
    tags=("streaming", "audit"),
)
def qm02_stream_restart_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming CHECKPOINT-RESTART equivalence under the hash
    gate: the event stream is replayed as three chronological chunks
    across three SEPARATE availableNow runs sharing one checkpoint —
    each restart must recover source offsets (only the new file is
    read), watermark, and windowed-aggregate state, and the upserted
    rollup target (update mode, per-window counts merged
    monotonically — the continuous_rollup pattern) must finish equal
    to the one-shot batch tumbling aggregation, row for row. This
    promotes round-7's restart proofs (commits dc31454/e0f59fc) from
    pytest into a driver-verified query: a checkpoint that silently
    re-read chunk 1, lost the watermark, or dropped open-window state
    would change a count and hash-mismatch.

    Scale: state is bounded by open windows × types under the 10-min
    watermark; each restart's work is one new file; the target merge
    shuffles on the (window, type) key only.
    """
    import os
    import shutil

    shared = stage_event_chunks(spark, sf_dir)
    stage = scratch_dir("qm02_stage")
    ckpt = scratch_dir("qm02_ckpt")
    target_root = scratch_dir("qm02_target")
    target = os.path.join(target_root, "rollup")
    schema = spark.read.parquet(shared).schema
    for f in sorted(os.listdir(shared)):  # one NEW file per restarted run
        shutil.copy2(os.path.join(shared, f), stage)
        stream = spark.readStream.schema(schema).parquet(stage)
        counts = tumbling_counts_stream(stream, watermark="10 minutes")
        upsert_sink_stream(
            spark,
            counts,
            target,
            key_cols=["window_start", "event_type"],
            order_cols=["n_events"],  # counts grow monotonically per key
            checkpoint_dir=ckpt,
            output_mode="update",
        )
    # all three restarts done: drop the source-side events copy + checkpoint
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    final = spark.read.parquet(target)
    return final.select(
        "window_start", "event_type", F.col("n_events").cast("bigint").alias("n_events")
    ).orderBy("window_start", "event_type")
