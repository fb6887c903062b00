"""Round-9 n-suite: genuinely-NEW ENGINE SURFACE (not more analytics
depth) — the Spark-4 SQL features the engine had not yet exposed, each
proven against the DuckDB oracle:

  n01  WITH RECURSIVE graph reachability (BFS min-hop) — cross-engine
       recursion check: Spark's UnionLoop vs DuckDB's recursive CTE
       execute the SAME statement text.
  n02  WITH RECURSIVE hierarchy walk + per-depth rollup — the oracle is
       an INDEPENDENT non-recursive derivation (decimal-digit identity),
       so a recursion bug cannot be mirrored by the oracle.
  n03  SQL scalar UDFs (CREATE FUNCTION ... RETURN expr) used in an
       aggregate — the declarative-UDF front door; the oracle inlines
       the same expressions.
  n04  SQL table-valued UDF + correlated LATERAL join — the oracle is
       the equivalent window-function top-k.
  n05  collated grouping (UNICODE_CI) — case-insensitive GROUP BY
       without lower()-normalizing the data; the oracle lowers
       explicitly (exact equivalence on the ASCII-filtered domain).
  n06  state-store READER: a real Structured Streaming aggregation
       runs to a checkpoint, then `spark.read.format("statestore")`
       reads the operator state BACK and it must hash-match the batch
       aggregate — state introspection as a first-class source.
  n07  session variables + EXECUTE IMMEDIATE — DECLARE VARIABLE filled
       from a scalar subquery, bound via a ? marker into a dynamic
       statement; the oracle computes the same cutoff inline.
  n08  SQL pipe syntax (`|>` operators) — FROM |> WHERE |> EXTEND |>
       AGGREGATE |> WHERE |> ORDER BY; the oracle is the classic
       nested form.

Per the documented round-10 plan (__spark_entry__.py), the n-prefix is
reserved for genuinely-new capabilities; these eight keys sort between
the round-9 l/m window and the q-space, so they join the round-10
driver window ahead of the q01+ re-certification rows.

Engine-portability finding pinned here (see n04 docstring + the
regression test): a correlated ORDER BY ... LIMIT inside a SQL
table-function body is silently WRONG on Spark 4.1 (the limit is
applied globally, returning one row total instead of k per lateral
invocation) — the engine therefore expresses per-invocation top-k with
a window function inside the function body, which decorrelates
correctly.

Engine style unchanged: pure JVM DataFrame/SQL ops, pround floor-
rounding on oracle-gated doubles, DECIMAL-summed float aggregates,
unique ORDER BY tie-breaks, bounded dictionaries only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.functions.deterministic import (
    sql_pround,
)
from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table
from pyspark_distributed_kmodes_spark.streaming.jobs import drain_available_now


# ---------------------------------------------------------------------------
# n01 — recursive CTE reachability (BFS min-hop), one text, two engines

# The nation graph: same-region nations form a clique; consecutive
# nation keys form a ladder that links the regions (n_regionkey is
# n_nationkey mod 5 in the testdata, so without the ladder the cliques
# are disconnected). 25 nodes, degree ~6 — a BOUNDED graph, which is
# the scale-correct domain for SQL recursion: each UnionLoop iteration
# is a frontier join, so frontier x depth must stay small. For
# data-sized graphs the engine's pointer-doubling connected components
# (functions/graph.py) is the right tool; this key proves the SQL
# front door itself, cross-engine (Spark UnionLoop vs DuckDB's
# recursive executor run the SAME text).
_QN01_SQL = """
WITH RECURSIVE bi(a, b) AS (
  SELECT a, b FROM qn01_edges UNION ALL SELECT b, a FROM qn01_edges
), reach(node, d) AS (
  SELECT CAST(MIN(n_nationkey) AS BIGINT), 0 FROM nation
  UNION ALL
  SELECT bi.b, reach.d + 1 FROM reach JOIN bi ON bi.a = reach.node WHERE reach.d < 4
)
SELECT CAST(node AS INTEGER) AS n_nationkey, CAST(MIN(d) AS INTEGER) AS hops
FROM reach GROUP BY node ORDER BY n_nationkey
"""

# the oracle inlines the edge derivation the Spark side materializes
_QN01_ORACLE = """
WITH RECURSIVE edges(a, b) AS (
  SELECT CAST(x.n_nationkey AS BIGINT), CAST(y.n_nationkey AS BIGINT)
  FROM nation x JOIN nation y
    ON x.n_regionkey = y.n_regionkey AND x.n_nationkey < y.n_nationkey
  UNION ALL
  SELECT CAST(x.n_nationkey AS BIGINT), CAST(y.n_nationkey AS BIGINT)
  FROM nation x JOIN nation y ON y.n_nationkey = x.n_nationkey + 1
), bi(a, b) AS (
  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
), reach(node, d) AS (
  SELECT CAST(MIN(n_nationkey) AS BIGINT), 0 FROM nation
  UNION ALL
  SELECT bi.b, reach.d + 1 FROM reach JOIN bi ON bi.a = reach.node WHERE reach.d < 4
)
SELECT CAST(node AS INTEGER) AS n_nationkey, CAST(MIN(d) AS INTEGER) AS hops
FROM reach GROUP BY node ORDER BY n_nationkey
"""


@query("qn01_recursive_reachability", oracle=_QN01_ORACLE, tags=("sql", "recursive", "graph"))
def qn01_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS minimum-hop distance from the lowest-keyed nation over the
    region-clique + key-ladder graph, via WITH RECURSIVE — the Spark 4
    recursive-CTE front door, cross-checked against DuckDB's
    independent recursive executor running the same statement (the
    only divergence between the two texts is that Spark reads the edge
    list from a materialized bounded dictionary, the oracle inlines
    its derivation).

    Semantics: UNION ALL recursion with an explicit depth bound, then
    MIN(d) per node — textbook BFS-as-SQL (revisits at longer depth
    are collapsed by the final aggregate, so the result is the true
    shortest-hop distance for every node within 4 hops).

    Scale: the edge dictionary is nation-bounded (25 nodes, ~150
    directed edges) and localCheckpointed once, so the recursion's
    frontier join never touches a data-sized table; depth is capped at
    4 iterations (the 25-node graph's diameter is <=3 at every SF —
    nation is size-fixed — so the cap is diameter+1, not a guess). Unbounded-graph reachability belongs to the
    pointer-doubling path (qc03/q97), not SQL recursion — documented
    engine guidance, not an accident.
    """
    nation = table(spark, sf_dir, "nation")
    nation.createOrReplaceTempView("nation")
    x, y = nation.alias("x"), nation.alias("y")
    clique = x.join(
        y,
        (F.col("x.n_regionkey") == F.col("y.n_regionkey"))
        & (F.col("x.n_nationkey") < F.col("y.n_nationkey")),
    ).select(
        F.col("x.n_nationkey").cast("bigint").alias("a"),
        F.col("y.n_nationkey").cast("bigint").alias("b"),
    )
    ladder = x.join(y, F.col("y.n_nationkey") == F.col("x.n_nationkey") + 1).select(
        F.col("x.n_nationkey").cast("bigint").alias("a"),
        F.col("y.n_nationkey").cast("bigint").alias("b"),
    )
    edges = clique.unionAll(ladder).transform(cut_lineage)  # bounded: <=25 nodes
    edges.createOrReplaceTempView("qn01_edges")
    return spark.sql(_QN01_SQL)


# ---------------------------------------------------------------------------
# n02 — recursive hierarchy walk + per-depth rollup, independent oracle

_QN02_SQL = """
WITH RECURSIVE walk(c_custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, w.root, w.depth + 1
  FROM customer c JOIN walk w
    ON CAST(floor(c.c_custkey / 10.0) AS BIGINT) = w.c_custkey
  WHERE c.c_custkey >= 10 AND w.depth < {depth_bound}
)
SELECT CAST(w.depth AS INTEGER) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(COUNT(DISTINCT w.root) AS BIGINT) AS n_roots,
       {sum_acctbal} AS sum_acctbal
FROM walk w JOIN customer c ON c.c_custkey = w.c_custkey
GROUP BY w.depth ORDER BY depth
""".format(
    sum_acctbal=sql_pround("CAST(SUM(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)", 2),
    depth_bound="{depth_bound}",
)

# INDEPENDENT derivation: in the decimal tree parent(k) = floor(k/10),
# a node's depth is len(digits(k)) - 1 and its root is the leading
# digit — pure arithmetic, no recursion, so the oracle cannot share a
# recursion bug with the engine.
_QN02_ORACLE = """
SELECT CAST(length(CAST(c_custkey AS VARCHAR)) - 1 AS INTEGER) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(COUNT(DISTINCT CAST(floor(c_custkey / power(10.0, length(CAST(c_custkey AS VARCHAR)) - 1)) AS BIGINT)) AS BIGINT) AS n_roots,
       {sum_acctbal} AS sum_acctbal
FROM customer GROUP BY 1 ORDER BY depth
""".format(
    sum_acctbal=sql_pround("CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)", 2)
)


@query("qn02_recursive_hierarchy_rollup", oracle=_QN02_ORACLE, tags=("sql", "recursive"))
def qn02_recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy walk via WITH RECURSIVE: customers form a decimal tree
    (parent = custkey div 10, roots are custkey < 10 — dense TPC-H keys
    make every parent exist), and the recursion labels every node with
    its depth and root; the rollup reports per-depth node count, root
    count, and the DECIMAL-exact account-balance sum.

    The oracle is deliberately NON-recursive: depth equals the key's
    decimal-digit count minus one and the root is its leading digit —
    an arithmetic identity. A bug in either engine's recursive
    execution (or in the walk itself) breaks the hash; the m22 lesson
    (both-engines-wrong) cannot apply because the derivations share
    nothing.

    Scale: recursion depth is the TREE HEIGHT = log10(max key) — the
    guard bound is DERIVED from max(c_custkey)'s digit count at build
    time (one 1-row scalar collect), so it tracks data scale instead
    of a constant that silently truncates deep nodes — and each
    iteration joins customer against the previous frontier on the
    parent key — total work across all iterations is one row per
    customer, i.e. O(N) with log-depth rounds, the same shape Catalyst
    executes for the iterative graph operators. The final rollup is a
    bounded (<=13-row) aggregate. Operational knob: Spark guards
    runaway recursion with spark.sql.cteRecursionLevelLimit (100) and
    spark.sql.cteRecursionRowLimit (1M cumulative rows) — a >1M-node
    hierarchy needs the row limit raised; the depth guard keeps the
    LEVEL limit untouchable by data growth.
    """
    cust = table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer")
    # tree height = digits(max key) - 1; bound the recursion exactly
    # there so the guard scales with the data (1-row scalar collect)
    max_key = cust.agg(F.max("c_custkey").alias("m")).collect()[0]["m"]
    return spark.sql(_QN02_SQL.format(depth_bound=max(1, len(str(int(max_key))) - 1)))


# ---------------------------------------------------------------------------
# n03 — SQL scalar UDFs (CREATE FUNCTION ... RETURN expr)

_QN03_SQL = """
SELECT l_returnflag, qn03_qty_band(l_quantity) AS qty_band,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {rev} AS disc_revenue
FROM lineitem GROUP BY l_returnflag, 2 ORDER BY l_returnflag, qty_band
""".format(rev=sql_pround("CAST(SUM(qn03_disc_rev(l_extendedprice, l_discount)) AS DOUBLE)", 2))

_QN03_ORACLE = """
SELECT l_returnflag,
       CASE WHEN l_quantity < 10 THEN 'small' WHEN l_quantity < 30 THEN 'mid' ELSE 'large' END AS qty_band,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {rev} AS disc_revenue
FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, qty_band
""".format(
    rev=sql_pround("CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)", 2)
)


@query("qn03_sql_scalar_udf", oracle=_QN03_ORACLE, tags=("sql", "udf"))
def qn03_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL scalar UDFs: `CREATE FUNCTION ... RETURN <expr>`
    (Spark 4 SQL UDFs) defining the discounted-revenue expression and a
    quantity band, then used inside a grouped aggregate over lineitem.
    The oracle inlines the identical expressions — proving the UDF
    front door is pure declarative sugar with no semantic drift.

    Scale: SQL UDFs are inlined into the plan at analysis time, so the
    aggregate stays inside whole-stage codegen — unlike a Python UDF
    there is NO serialization boundary; this is the engine's
    recommended path for user-defined scalar logic. One lineitem scan,
    map-side partial aggregation on a 6-value group key.

    Determinism: the per-row product is cast to DECIMAL(25,6) inside
    the function (the sql_dsum pattern), summed exactly, and
    floor-rounded once at the end.
    """
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qn03_disc_rev(price DOUBLE, disc DOUBLE) "
        "RETURNS DECIMAL(25,6) RETURN CAST(price * (1 - disc) AS DECIMAL(25,6))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qn03_qty_band(q DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN q < 10 THEN 'small' WHEN q < 30 THEN 'mid' ELSE 'large' END"
    )
    return spark.sql(_QN03_SQL)


# ---------------------------------------------------------------------------
# n04 — SQL table-valued UDF + correlated LATERAL join

_QN04_SQL = """
SELECT c.c_custkey, t.o_orderkey,
       {price} AS totalprice
FROM customer c, LATERAL qn04_top_orders(c.c_custkey) t
WHERE c.c_custkey < 50 ORDER BY c.c_custkey, t.o_orderkey
""".format(price=sql_pround("t.raw_price", 2))

_QN04_ORACLE = """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_custkey < 50
)
SELECT c.c_custkey, r.o_orderkey,
       {price} AS totalprice
FROM customer c JOIN r ON r.o_custkey = c.c_custkey
WHERE c.c_custkey < 50 AND r.rn <= 3 ORDER BY c.c_custkey, r.o_orderkey
""".format(price=sql_pround("r.o_totalprice", 2))


@query("qn04_sql_table_udf_lateral", oracle=_QN04_ORACLE, tags=("sql", "udf", "lateral"))
def qn04_sql_table_udf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE-VALUED UDF (`CREATE FUNCTION ... RETURNS TABLE`)
    invoked per-customer through a correlated LATERAL join: top-3
    orders by price for each low-keyed customer. The oracle computes
    the same top-k with a window function — an independent derivation.

    PINNED PORTABILITY FINDING: the natural body `... ORDER BY price
    DESC LIMIT 3` is silently WRONG under correlation on Spark 4.1 —
    the LIMIT is applied once globally after decorrelation, returning
    one row total instead of 3 per invocation (verified against the
    oracle during development). The function body therefore uses
    row_number() OVER (...) <= 3, which decorrelates correctly; the
    regression test (tests/test_nsuite.py) re-derives the expected
    rows in Python so the pitfall cannot silently return.

    Scale: Catalyst inlines the function body and decorrelates the
    lateral into a join over the window-ranked orders — one orders
    scan, one customer scan, shuffle on the join key; no per-row
    re-execution. The custkey<50 predicate bounds the audit output,
    and pushes into both scans.
    """
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qn04_top_orders(ck BIGINT) "
        "RETURNS TABLE(o_orderkey BIGINT, raw_price DOUBLE) RETURN "
        "SELECT o_orderkey, o_totalprice FROM ("
        "  SELECT o_orderkey, o_totalprice, "
        "         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "  FROM orders WHERE o_custkey = ck) WHERE rn <= 3"
    )
    return spark.sql(_QN04_SQL)


# ---------------------------------------------------------------------------
# n05 — collated grouping (UNICODE_CI), case-insensitive GROUP BY

_QN05_ORACLE = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS token FROM documents
), ok AS (
  SELECT token FROM tok WHERE regexp_full_match(token, '[A-Za-z]{3,}')
)
SELECT lower(token) AS token_ci, CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(COUNT(DISTINCT token) AS BIGINT) AS n_case_variants
FROM ok GROUP BY 1 ORDER BY n_occ DESC, token_ci LIMIT 20
"""


@query("qn05_collated_token_grouping", oracle=_QN05_ORACLE, tags=("text", "collation"))
def qn05_collated_token_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive token frequency via Spark 4 COLLATIONS: the
    group key is `collate(token, 'UNICODE_CI')` — the engine groups
    case-insensitively WITHOUT rewriting the data through lower() —
    while `n_case_variants` counts the distinct binary forms inside
    each CI group (the default UTF8_BINARY collation of the raw
    column). Top-20 tokens with full tie-breaks.

    The oracle lowers explicitly; on the ASCII-letter-filtered domain
    ([A-Za-z]{3,}) ICU case-insensitivity and lower() agree exactly, so
    the comparison is an identity (the docstring caveat: outside
    ASCII — Turkish I, sharp s — they deliberately differ, which is
    WHY collations exist; the output key is normalized through
    lower() so the reported rows are engine-portable).

    Scale: one documents scan, explode to tokens, one hash aggregate
    whose key is the collation sort key — same shuffle shape as a
    lower()-keyed count, but the original casing survives for the
    variant count without a second column. TakeOrdered(20) caps the
    result.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.col("text"), "[^A-Za-z]+")).alias("token")).where(
        F.col("token").rlike("^[A-Za-z]{3,}$")
    )
    return (
        tok.groupBy(F.collate(F.col("token"), "UNICODE_CI").alias("tk"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
            F.countDistinct(F.col("token")).cast("bigint").alias("n_case_variants"),
        )
        .select(
            F.collate(F.lower(F.col("tk")), "UTF8_BINARY").alias("token_ci"),
            "n_occ",
            "n_case_variants",
        )
        .orderBy(F.desc("n_occ"), F.asc("token_ci"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# n08 — SQL pipe syntax (|> operators)

_QN08_SQL = """
FROM lineitem
|> WHERE l_quantity < 25
|> EXTEND CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)) AS disc_price
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_rows,
             {rev} AS revenue
   GROUP BY l_returnflag, l_linestatus
|> WHERE n_rows >= 10
|> ORDER BY l_returnflag, l_linestatus
""".format(rev=sql_pround("CAST(SUM(disc_price) AS DOUBLE)", 2))

_QN08_ORACLE = """
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {rev} AS revenue
FROM lineitem WHERE l_quantity < 25
GROUP BY 1, 2 HAVING COUNT(*) >= 10
ORDER BY l_returnflag, l_linestatus
""".format(
    rev=sql_pround(
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)", 2
    )
)


@query("qn08_sql_pipe_syntax", oracle=_QN08_ORACLE, tags=("sql", "pipe"))
def qn08_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4 `|>` operators): the pricing summary
    written as a linear pipeline — FROM |> WHERE |> EXTEND (computed
    column) |> AGGREGATE ... GROUP BY |> WHERE (post-aggregation
    filter, the HAVING equivalent) |> ORDER BY. The oracle is the
    classic nested-SQL form; both must hash-match, proving the pipe
    front door is pure syntax with identical semantics and plan.

    Scale: Catalyst parses pipe stages into the same logical plan as
    the nested form — pushdown, partial aggregation, and codegen are
    unchanged (one lineitem scan, one shuffle on the 2-column group
    key). The EXTEND column is computed once pre-aggregation, exactly
    like a SELECT-list expression.

    Determinism: the sql_dsum decimal pattern inside the pipe
    AGGREGATE; floor-rounding once at the end.
    """
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_QN08_SQL)


# ---------------------------------------------------------------------------
# n07 — session variables + EXECUTE IMMEDIATE (dynamic SQL front door)

_QN07_EXEC = """EXECUTE IMMEDIATE
  'SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above,
          {rev} AS sum_above
   FROM orders WHERE o_totalprice > ? GROUP BY o_orderpriority
   ORDER BY o_orderpriority'
  USING qn07_cutoff""".format(
    rev=sql_pround("CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)", 2)
)

_QN07_ORACLE = """
WITH cutoff AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS c
  FROM orders
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above,
       {rev} AS sum_above
FROM orders, cutoff WHERE o_totalprice > cutoff.c
GROUP BY o_orderpriority ORDER BY o_orderpriority
""".format(rev=sql_pround("CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)", 2))


@query("qn07_session_variable_exec", oracle=_QN07_ORACLE, tags=("sql", "variables"))
def qn07_session_variable_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-SQL front door: a SESSION VARIABLE (`DECLARE VARIABLE`)
    is filled from a scalar subquery (`SET VAR ... = (SELECT avg)`),
    then EXECUTE IMMEDIATE runs a parameterized statement binding the
    variable through a `?` marker — orders above the mean total price,
    counted and summed per priority. The oracle computes the identical
    cutoff inline via a CTE, so the variable plumbing must be exactly
    value-preserving.

    Determinism: the cutoff is the decimal-exact-sum / count average
    (one IEEE division, identical on both engines), so the `>` cut
    classifies every row identically; the per-group sum uses the same
    decimal pattern with one final floor-round.

    Scale: SET VAR executes the scalar aggregate once on the cluster
    and stores ONE double on the driver — the same footprint as the
    engine's 1-row scalar-collect pattern, but expressed in pure SQL;
    the dynamic statement plans like any static query (full pushdown,
    map-side partial aggregation on the 5-value priority key).
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE VARIABLE qn07_cutoff DOUBLE")
    spark.sql(
        "SET VAR qn07_cutoff = (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) "
        "AS DOUBLE) / COUNT(*) FROM orders)"
    )
    return spark.sql(_QN07_EXEC)


# ---------------------------------------------------------------------------
# n06 — state-store reader: streaming operator state as a source

_QN06_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events GROUP BY 1 ORDER BY event_type
"""


@query("qn06_statestore_reader", oracle=_QN06_ORACLE, tags=("streaming", "source", "audit"), bench=True)
def qn06_statestore_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE READER under the hash gate: a real Structured
    Streaming aggregation (per-event-type count + event-id sum) runs
    over the events table via availableNow to a fresh checkpoint, then
    `spark.read.format("statestore").load(checkpoint)` reads the
    operator's internal state BACK as a DataFrame — and that state
    must hash-match the plain batch GROUP BY. This is the Spark 4
    state introspection source (key/value structs + partition_id):
    the tool an operator team points at a 100 TB job's checkpoint to
    audit what the stream actually believes, without touching the
    running query.

    m01/m02 proved the streaming SINK side (upserts, restarts); this
    closes the loop on the STATE side: offsets→state→output all have
    driver-verified readers now.

    Determinism: state values are a bigint count and a bigint sum —
    order- and partition-independent; partition_id is dropped (it
    depends on shuffle.partitions, which the invariance sweep varies).

    Scale: the streaming agg shuffles events once on the 5-value type
    key with map-side partial aggregation; the statestore read is
    checkpoint-sized (one row per key per shuffle partition of the
    final state), i.e. bounded by key cardinality, not data.
    """
    import os
    import shutil

    # project BEFORE the staging write: the streaming aggregation only
    # touches (event_type, event_id), so staging the full events row
    # multiplies write AND stream-read bytes for nothing (guide §2.3)
    e = table(spark, sf_dir, "events").select("event_type", "event_id")
    stage = scratch_dir("qn06_stage")
    ckpt_root = scratch_dir("qn06_ckpt")
    src = os.path.join(stage, "src")
    e.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(e.schema).parquet(src)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("event_id").alias("sm")
    )
    ckpt = os.path.join(ckpt_root, "ck")
    drain_available_now(agg.writeStream.format("noop").outputMode("complete"), ckpt, "qn06")
    # the source copy is dead weight once the stream commits; the
    # checkpoint must survive for the lazy statestore read below
    shutil.rmtree(stage, ignore_errors=True)
    st = spark.read.format("statestore").load(ckpt)
    # `value.count` / `value.sum` are the Count/Sum aggBufferAttributes
    # names Spark persists in the aggregation state store (verified on
    # the pinned Spark 4.1 — tests/test_nsuite.py pins the state schema
    # so a buffer-layout change in a future upgrade fails loudly here,
    # as an AnalysisException, never as a wrong answer)
    return (
        st.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("bigint").alias("n_events"),
            F.col("value.sum").cast("bigint").alias("sum_event_id"),
        )
        .orderBy("event_type")
    )
