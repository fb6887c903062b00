"""Relational surface, part 4: the remaining TPC-H query shapes the
testdata schema can express faithfully (Q10, Q13, Q18, and reshaped
Q4/Q12/Q22 — the schema lacks partsupp and l_commitdate/l_receiptdate/
l_shipmode, so those predicates are re-anchored on l_shipdate vs
o_orderdate; the *shape* of each plan — correlated EXISTS, conditional
aggregation, HAVING-subquery, scalar-subquery + anti-join — is the
TPC-H one).
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.functions.deterministic import dsum, pround, sql_dsum, sql_pround
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table


@query(
    "qb21_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       (CAST(floor(({sql_dsum('l.l_extendedprice * (1 - l.l_discount)')}) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS revenue,
       c.c_acctbal
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    tags=("join", "tpch"),
)
def qb21_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue from returned
    items in a one-year window.

    Scale: the returnflag + orderdate filters push to the scans; customer
    and nation broadcast; the only fact-sized shuffle is
    lineitem⋈orders on orderkey, then a customer-keyed aggregation whose
    cardinality is bounded by |customer|; top-20 is
    TakeOrderedAndProject.
    """
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(pround(dsum(rev), 2).alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "qb22_order_priority_count",
    oracle="""
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
    tags=("join", "tpch", "subquery"),
)
def qb22_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order count per priority among orders with at
    least one slow lineitem — a correlated EXISTS whose predicate
    references BOTH sides (ship > order date + 60d), i.e. an equi semi
    join with a residual inequality. (Q4's commitdate/receiptdate pair
    is re-anchored on shipdate vs orderdate; same plan shape.)

    Scale: left-semi join keeps at most one match per order, so no
    fan-out before the tiny priority aggregation; the orderdate filter
    prunes the orders scan.
    """
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = table(spark, sf_dir, "lineitem")
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "qb23_late_line_priority",
    oracle="""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY
  AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01'
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
""",
    tags=("join", "tpch"),
)
def qb23_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority line counts among
    slow-shipped lines — conditional aggregation over a join with a
    residual cross-side inequality. (Q12's shipmode/commit/receipt
    columns are re-anchored: "late" = shipped ≥30 days after order.)

    Scale: shipdate range filter pushes to the lineitem scan; one
    orderkey shuffle; two-value grouping keeps the final agg trivial.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "qb24_large_volume_customers",
    oracle=f"""
WITH per AS (
  SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       per.total_qty
FROM per
JOIN orders o ON o.o_orderkey = per.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE per.total_qty > 150
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
    tags=("join", "tpch", "subquery"),
)
def qb24_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders whose total quantity
    exceeds a threshold — the HAVING-subquery pattern, expressed as
    aggregate-then-filter-then-join (exactly what Catalyst rewrites the
    IN (GROUP BY ... HAVING) subquery into, minus the redundant second
    lineitem join TPC-H's phrasing implies).

    Scale: one orderkey aggregation over lineitem (map-side combined),
    the >150 filter collapses it to a sliver, then broadcast-joinable
    lookups against orders/customer and a top-100.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    per = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        per.join(o, per["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "qb25_customer_distribution",
    oracle="""
WITH per AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("join", "tpch", "agg"),
)
def qb25_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer, including
    zero-order customers (the left join is the point — COUNT(col) counts
    only matched rows).

    Scale: custkey shuffle for the first aggregation (bounded by
    |customer|), then a tiny re-aggregation on the count value itself.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "qb26_quiet_rich_customers",
    oracle=f"""
SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
       {sql_dsum('c.c_acctbal')} AS totacctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)
                     FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY n.n_name
ORDER BY n.n_name
""",
    tags=("join", "tpch", "subquery"),
)
def qb26_quiet_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no urgent
    orders, aggregated by nation — an uncorrelated scalar subquery
    (global average as a filter threshold) plus a correlated NOT EXISTS
    (anti join). (Q22's phone-prefix predicate has no schema twin; the
    urgent-order anti condition keeps the identical plan shape.)

    Scale: the scalar average is a 1-row aggregate cross-joined in
    (broadcast, no collect); the anti join shuffles on custkey against a
    pre-filtered orders projection; nation broadcasts.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg((F.sum(F.col("c_acctbal").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias("_avg"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .join(urgent, F.col("c_custkey") == urgent["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
        .orderBy("n_name")
    )


@query(
    "qb34_bucketed_colocated_join",
    oracle=f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       (CAST(floor(({sql_dsum('l.l_extendedprice * (1 - l.l_discount)')}) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
    tags=("join", "bucketing"),
    bench=True,
)
def qb34_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time co-location: lineitem and orders are persisted as
    bucketed+sorted tables on the join key, then joined WITHOUT any
    exchange — the pre-shuffled-layout strategy for facts that are
    joined on the same key query after query (at 100 TB the bucketed
    write is paid once and every subsequent orderkey join/agg skips its
    shuffle; `tests/test_bucketing.py` asserts the exchange-free plan).
    Results are identical to the plain join — this query IS the plain
    join's oracle run over the bucketed layout.

    Idempotent by construction: table names carry a per-run unique
    suffix (repeated invocations in one session never collide on
    saveAsTable), and the tiny aggregated result is eagerly
    materialized so both catalog entries AND the temp dir can be
    dropped before returning — no state leaks across runs.
    """
    import shutil
    import uuid

    from pyspark_distributed_kmodes_spark.sources.tables import write_bucketed

    from pyspark_distributed_kmodes_spark.sources.tables import spread

    # spread BEFORE the bucketed writes (r14): the sf-scale inputs are
    # single-split scans, so each bucketed write's hash+sort+encode ran
    # on ONE core; no-op at real scale (guard). The reader still groups
    # files by bucket id, so the join stays exchange-free
    # (test_bucketing pins the plan).
    li = spread(
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey",
    )
    o = spread(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"), "o_orderkey"
    )
    # explicit temp paths: the hosting session's warehouse dir defaults
    # to the process cwd, which this query must not write into
    base = scratch_dir("qb34_bucketed")
    run = uuid.uuid4().hex[:12]
    li_tbl, o_tbl = f"qb34_li_bucketed_{run}", f"qb34_o_bucketed_{run}"
    try:
        write_bucketed(li, li_tbl, "l_orderkey", 8, path=f"{base}/li")
        write_bucketed(o, o_tbl, "o_orderkey", 8, path=f"{base}/o")
        lib, ob = spark.table(li_tbl), spark.table(o_tbl)
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        out = (
            lib.join(ob, lib["l_orderkey"] == ob["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                pround(dsum(rev), 2).alias("revenue"),
            )
            .orderBy("o_orderpriority")
        )
        # k-row result: pin it so the backing tables/files can go away
        # before the caller collects (the exchange-free join plan itself
        # is asserted in tests/test_bucketing.py over write_bucketed)
        return out.transform(cut_lineage)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {li_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        shutil.rmtree(base, ignore_errors=True)


@query(
    "qe07_forecast_revenue",
    oracle=f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("agg", "tpch"),
)
def qe07_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the forecasting-revenue-change query — a pure
    scan-filter-aggregate with no joins, the canonical predicate-
    pushdown benchmark (all three filters must reach the parquet scan;
    only 4 of 11 columns read).

    Determinism: the l_discount BETWEEN bounds compare against the
    stored doubles directly (no arithmetic, so no rounding hazard) and
    the single revenue sum is decimal-exact. Scale: the whole query is
    one map-side-combined partial aggregate — at 100 TB it reads the
    pruned columns, applies scan-level filters, and ships one row per
    task.
    """
    li = table(spark, sf_dir, "lineitem")
    keep = (
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.filter(keep).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@query(
    "qe08_top_supplier",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
), mx AS (
  SELECT MAX(total_revenue) AS m FROM rev
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN mx ON r.total_revenue = mx.m
JOIN supplier s ON s.s_suppkey = r.supplier_no
ORDER BY s.s_suppkey
""",
    tags=("join", "subquery", "tpch"),
)
def qe08_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the top-supplier query — a revenue "view" over
    one quarter, then the suppliers whose revenue EQUALS the scalar
    maximum (Q15's correlated-max semantics keeps ties, unlike a
    LIMIT 1).

    Determinism: per-supplier revenue is a decimal-exact sum cast to
    double once, so both engines hold bit-identical revenues and the
    MAX / equality comparisons cannot drift. Scale: one fact shuffle
    keyed l_suppkey (scan-filtered to the quarter first), a 1-row MAX
    broadcast back over the |suppliers| aggregate, and a broadcast
    supplier dim join — the full-corpus scan happens exactly once.
    """
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    rev = (
        li.filter((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("m"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "qe11_cohort_ltv_triangle",
    oracle="""
WITH cohort AS (
  SELECT o_custkey, CAST(MIN(year(o_orderdate)) AS INTEGER) AS cohort_year
  FROM orders GROUP BY o_custkey
), sizes AS (
  SELECT cohort_year, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_year
), cells AS (
  SELECT c.cohort_year,
         CAST(year(o.o_orderdate) - c.cohort_year AS INTEGER) AS age,
         COUNT(DISTINCT o.o_custkey) AS n_active,
         SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS rev_dec
  FROM orders o JOIN cohort c USING (o_custkey)
  GROUP BY 1, 2
)
SELECT cl.cohort_year,
       cl.age,
       CAST(cl.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       (CAST(floor(CAST(cl.rev_dec AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS revenue,
       (CAST(floor((CAST(SUM(cl.rev_dec) OVER (PARTITION BY cl.cohort_year ORDER BY cl.age) AS DOUBLE) / s.cohort_size) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS cum_ltv_per_customer
FROM cells cl JOIN sizes s USING (cohort_year)
ORDER BY cohort_year, age
""",
    tags=("analytics", "cohort"),
)
def qe11_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by
    first-order year, each cohort's revenue tracked by account age,
    with the running LTV per customer — the revenue twin of b19's
    activity-retention triangle and the table a growth team reads
    to see whether newer cohorts monetize faster.

    Determinism: cell revenue aggregates in exact DECIMAL and the
    running total is a WINDOW SUM OVER THE DECIMAL (still exact — no
    float ever accumulates); the two emitted doubles round via
    pround(2) only at the edge. Scale shape: one (custkey) aggregate
    for cohorts, a broadcast-eligible cohort map joined back, one
    (cohort, age) cell shuffle, and a window over ≤|years| rows per
    cohort partition.
    """
    o = table(spark, sf_dir, "orders")
    cohort = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    sizes = cohort.groupBy("cohort_year").agg(F.count(F.lit(1)).cast("bigint").alias("cohort_size"))
    cells = (
        o.join(cohort, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year")).cast("int").alias("age"),
        )
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_active"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("rev_dec"),
        )
    )
    from pyspark.sql.window import Window

    cum = Window.partitionBy("cohort_year").orderBy("age")
    return (
        cells.join(F.broadcast(sizes), "cohort_year")
        .select(
            "cohort_year",
            "age",
            "n_active",
            "cohort_size",
            pround(F.col("rev_dec").cast("double"), 2).alias("revenue"),
            pround(
                F.sum("rev_dec").over(cum).cast("double") / F.col("cohort_size"), 2
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort_year", "age")
    )


@query(
    "qe19_yoy_priority_growth",
    oracle=f"""
WITH monthly AS (
  SELECT o_orderpriority,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue_d
  FROM orders
  GROUP BY 1, 2
)
SELECT m.o_orderpriority, m.month_start, m.n_orders,
       (CAST(floor(m.revenue_d * 100.0 + 0.5) AS DOUBLE) / 100.0) AS revenue,
       CASE WHEN p.revenue_d IS NOT NULL AND p.revenue_d > 0
            THEN {sql_pround('100.0 * (m.revenue_d - p.revenue_d) / p.revenue_d', 4)}
            ELSE NULL END AS yoy_growth_pct
FROM monthly m
LEFT JOIN monthly p
  ON p.o_orderpriority = m.o_orderpriority
 AND p.month_start = m.month_start - INTERVAL 12 MONTH
ORDER BY m.o_orderpriority, m.month_start
""",
    tags=("agg", "timeseries"),
)
def qe19_yoy_priority_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per order priority: monthly
    rollup self-joined to its own month twelve months earlier — the
    calendar-exact form (a lag(12) window silently compares wrong
    months whenever a month is missing, so the join keys on the DATE,
    not on row offsets).

    Determinism: monthly revenue is a decimal-exact sum cast to double
    once, so the growth ratio is a fixed IEEE sequence on identical
    inputs, pround(4); month arithmetic is pure DATE math on
    first-of-month values. Scale shape: one (priority, month) rollup —
    thousands of cells at any corpus size — self-joined on its own
    grain; the fact table is scanned once.
    """
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("revenue_d"),
        )
    )
    m, p = monthly.alias("m"), monthly.alias("p")
    growth = F.when(
        F.col("p.revenue_d").isNotNull() & (F.col("p.revenue_d") > 0),
        pround(100.0 * (F.col("m.revenue_d") - F.col("p.revenue_d")) / F.col("p.revenue_d"), 4),
    )
    return (
        m.join(
            p,
            (F.col("p.o_orderpriority") == F.col("m.o_orderpriority"))
            & (F.col("p.month_start") == F.add_months(F.col("m.month_start"), -12)),
            "left",
        )
        .select(
            F.col("m.o_orderpriority").alias("o_orderpriority"),
            F.col("m.month_start").alias("month_start"),
            F.col("m.n_orders").alias("n_orders"),
            pround(F.col("m.revenue_d"), 2).alias("revenue"),
            growth.alias("yoy_growth_pct"),
        )
        .orderBy("o_orderpriority", "month_start")
    )


_BASKET_MIN = 100  # minimum co-occurrence count for a reported pair


@query(
    "qe24_brand_basket_lift",
    oracle=f"""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), n AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS total FROM ob
), br AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_orders FROM ob GROUP BY p_brand
), pr AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BASKET_MIN}
)
SELECT pr.brand_a, pr.brand_b, pr.n_ab,
       {sql_pround('pr.n_ab / n.total', 6)} AS support,
       {sql_pround('CAST(pr.n_ab AS DOUBLE) / ba.n_orders', 6)} AS confidence,
       {sql_pround('(pr.n_ab * n.total) / (CAST(ba.n_orders AS DOUBLE) * bb.n_orders)', 6)} AS lift
FROM pr
JOIN br ba ON ba.p_brand = pr.brand_a
JOIN br bb ON bb.p_brand = pr.brand_b
CROSS JOIN n
ORDER BY pr.brand_a, pr.brand_b
""",
    tags=("analytics", "basket"),
)
def qe24_brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order contents: for every
    brand pair co-purchased in at least {_BASKET_MIN} orders, the
    support, confidence (A→B), and lift — the frequent-itemset
    primitives behind recommendation and assortment analytics, here as
    pure relational algebra (distinct basket items, a basket-keyed
    self-join, and three exact-count ratios).

    Scale shape: baskets collapse to DISTINCT (order, brand) first, so
    the self-join fans out per order only by its distinct brands
    (bounded by |brands|, a schema property — never by line count);
    the brand-marginal table is |brands| rows and broadcast; ratios are
    single IEEE divisions of exact counts, pround(6).
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    ob = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
        .transform(cut_lineage)  # three consumers
    )
    n = ob.agg(F.count_distinct("l_orderkey").cast("double").alias("total"))
    br = ob.groupBy("p_brand").agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    a, b = ob.alias("a"), ob.alias("b")
    pr = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey")) & (F.col("a.p_brand") < F.col("b.p_brand")))
        .groupBy(F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= _BASKET_MIN)
    )
    ba = br.select(F.col("p_brand").alias("brand_a"), F.col("n_orders").alias("n_a"))
    bb = br.select(F.col("p_brand").alias("brand_b"), F.col("n_orders").alias("n_b"))
    return (
        pr.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            pround(F.col("n_ab") / F.col("total"), 6).alias("support"),
            pround(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias("confidence"),
            pround(
                (F.col("n_ab") * F.col("total")) / (F.col("n_a").cast("double") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


@query(
    "qe31_weekly_ohlc",
    oracle="""
WITH o AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
         o_orderkey, o_orderdate, o_totalprice
  FROM orders
), ranked AS (
  SELECT week, o_totalprice,
         row_number() OVER (PARTITION BY week ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn_a,
         row_number() OVER (PARTITION BY week ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
  FROM o
)
SELECT r.week,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       (CAST(floor(MAX(CASE WHEN rn_a = 1 THEN o_totalprice END) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS open,
       (CAST(floor(MAX(o_totalprice) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS high,
       (CAST(floor(MIN(o_totalprice) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS low,
       (CAST(floor(MAX(CASE WHEN rn_d = 1 THEN o_totalprice END) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS close,
       (CAST(floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) * 100.0 + 0.5) AS DOUBLE) / 100.0) AS volume
FROM ranked r
GROUP BY r.week
ORDER BY r.week
""",
    tags=("agg", "timeseries"),
)
def qe31_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC (open/high/low/close + volume) over order values —
    the candlestick aggregation every time-series store ships, done
    with tie-safe positional extremes: open/close come from
    min_by/max_by over the TOTAL (date, orderkey) order, because a
    bare arg_min on the date silently picks an arbitrary order among
    same-day rows and the hash gate would catch the divergence.

    Determinism: extremes select stored doubles (no arithmetic);
    volume is a decimal-exact sum; all money rounds pround(2) at the
    edge. Scale: one week-keyed aggregate with map-side partial
    min_by/max_by — no window, no sort (the oracle's row_number form
    is the SQL spelling of the same positional extreme).
    """
    o = table(spark, sf_dir, "orders")
    week = F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week")
    akey = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return (
        o.groupBy(week)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            pround(F.min_by("o_totalprice", akey), 2).alias("open"),
            pround(F.max("o_totalprice"), 2).alias("high"),
            pround(F.min("o_totalprice"), 2).alias("low"),
            pround(F.max_by("o_totalprice", akey), 2).alias("close"),
            pround(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double"), 2).alias("volume"),
        )
        .orderBy("week")
    )
