"""Round-11 staged p-suite: the next batch of genuinely-NEW ENGINE
SURFACE, keyed with the p-prefix so it sorts AFTER o67 and BEFORE q01 —
outside the round-11 driver window (the r-suite precedent; guard test
in tests/test_entry.py). Per the rotation scheme documented in
__spark_entry__.py they rename into the round-12 window.

  p01  SEMANTIC DEDUP UNDER A FIXED QUANTIZER — the hash-gated twin of
       qb30 (SemDeDup, whose k-means coarse stage no SQL oracle can
       replay): fix the coarse lists to hash-rank-picked corpus
       vectors (the ql05 rule, corpus-proportional list count), then
       run qb30's EXACT pipeline shape —
       within-list cosine pairs >= 0.42, connected components,
       keep-one-per-component — with every step value-hash-matched
       against a DuckDB replay (recursive-CTE transitive closure).
       Converts the last untwinned rows-only dedup capability from
       property-tested to oracle-gated.
  p02  K-MODES FIT STEP TRACE — the hash-gated twin of q70's FIT
       (round-10 verdict item 8): from a FIXED deterministic init
       (the 5 most frequent value combos), ONE full Lloyd iteration
       through the REAL engine code path — KModesModel.transform for
       assignment, KModes._recompute_modes for the per-attribute
       argmax re-mode — then reassignment under the new modes; sizes,
       migration counts, post-step cost and the new mode labels are
       all under the hash. The iterative q70 stays rows-only by
       design; this gates every moving part of one iteration.
  p03  STREAMING observe() METRICS — per-micro-batch named metrics
       (count / conditional count / decimal sum) collected through a
       StreamingQueryListener across a 3-chunk chronological replay;
       the oracle recomputes each chunk's metrics relationally from
       the same tercile split. The monitoring surface a production
       pipeline alarms on, now under the hash gate.
  p04  STREAMING SESSION WINDOWS (F.session_window in a real
       readStream with watermark + append mode): the streaming twin of
       q32's batch sessionization — session merging across micro-batch
       boundaries is the part batch replay cannot prove; the oracle is
       the gaps-and-islands replay.
  p05  CHAINED STATEFUL OPERATORS (Spark 3.5+ multiple stateful ops in
       one streaming query): a tumbling per-user window count feeding a
       SECOND windowed aggregation (distribution of per-window activity)
       inside the same query — the oracle replays the two-level GROUP BY.
  p06  UNBOUNDED-STATE STREAMING DEDUP (plain dropDuplicates) — the
       contrast key to o12's watermark-bounded variant: same planted
       duplicates, dedup WITHOUT a watermark (state = every key ever
       seen, the documented 100 TB anti-pattern this engine's o12 path
       exists to replace); correctness under the same hash gate, the
       state-size contrast pinned in tests.
  p07  STREAM-STREAM JOIN STATE READER (statestore joinSide option):
       the o15-shaped interval join's BUFFERED state read back from
       the checkpoint and hash-matched row-for-row against the
       relational eviction law (probed at the exact boundary: a row
       AT the watermark is retained) — closes the state-reader family
       (n06 agg state, r16 history, r19/r26 RocksDB) with join state.
  p08  POLYMORPHIC PYTHON UDTF (analyze()): the output schema computed
       at analysis time from a literal argument — the table-function
       polymorphism qb04's static returnType cannot express; lateral
       word expansion with null padding, list-extraction oracle.
  p09  TIMESTAMP_NTZ expression surface over the RAW parquet encoding
       (the ingestion path normalizes NTZ away, so the type had no
       certified key): field extraction, make_timestamp_ntz
       reconstruction identity, wall-clock interval arithmetic —
       against DuckDB's naive-timestamp native replay.
  p10  AES CODEC QUARANTINE (aes_encrypt / try_aes_decrypt, ECB):
       deterministic column encryption round-trip with planted wire
       corruption quarantined as NULL and the PKCS wire-length law
       closed-form in the oracle — the crypto member of the
       expression-codec family (JSON/XML/Variant/CSV/AES).
  p11  BINARY SHARD TRANSPORT: chunk / planted in-flight loss /
       ordered reassembly (sorted binary-concat fold) / md5 digests
       in-hash — the multimodal transport plumbing.
  p12  COLLATED UTF8_LCASE EQUI-JOIN: the join operator path for
       collations (n05 covered grouping), with the
       collation-did-the-matching contrast column in-hash.
  p13  STREAM-STATIC JOIN: per-micro-batch dimension enrichment with
       a broadcast static side (no join state for the dim — the whole
       point); sink rollup hash-matched to the relational join.
  p14  EVENT-TIME TIMERS (applyInPandasWithState + EventTimeTimeout —
       the uncertified timer half of arbitrary state): a custom
       sessionizer closing sessions event-driven AND timer-driven,
       hash-gated against gaps-and-islands and pinned EQUAL to the
       built-in session_window key (p04) row-for-row.
  p15  MULTI-SOURCE UNION STREAM: two file-stream sources in one
       query/checkpoint (independent offset ledgers), the union's
       watermark = MIN of the sources' own maxima — derived
       closed-form by the oracle; per-(source, day) rollup in-hash.
  p16  SORTED-RUN WRITER AUDIT (maxRecordsPerFile + _metadata
       read-back): a global sorted run must split into exact
       sequential fixed-size files — the bounded-file-size-without-
       breaking-the-sort contract time-ordered sinks rely on;
       closed-form ROW_NUMBER oracle.
  p17  NTILE EQUI-DEPTH BUCKETING: the last uncovered rank-family
       window function — remainder and tie laws in-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.functions.deterministic import pround
from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage
from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold, _sql_md5fold
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table
from pyspark_distributed_kmodes_spark.streaming.jobs import (
    _order_stage_files,
    _write_single_file,
    drain_available_now,
    replay_stream,
    stage_event_chunks,
)

# ---------------------------------------------------------------------------
# p01 — semantic dedup under a fixed coarse quantizer (qb30's hash twin)

# corpus-proportional list count: per-list size stays ~constant, so the
# within-list pair workload grows LINEARLY with the corpus (a fixed list
# count would make it quadratic — probed at 10x before this was chosen)
_P01_ROWS_PER_LIST = 250
_P01_THRESHOLD = 0.42

_P01_ORACLE = f"""
WITH RECURSIVE
centroids AS (
  SELECT vec_id AS cid, embedding,
         ROW_NUMBER() OVER (ORDER BY {_sql_md5fold('CAST(vec_id AS VARCHAR)')} ASC, vec_id ASC) AS rk
  FROM embeddings
  QUALIFY rk <= CAST(CEIL((SELECT COUNT(*) FROM embeddings) / {_P01_ROWS_PER_LIST}.0) AS BIGINT)
), scored AS (
  SELECT e.vec_id, c.cid,
         round(list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS d
  FROM embeddings e CROSS JOIN centroids c
), assigned AS (
  SELECT vec_id,
         MIN_BY(cid, lpad(CAST(CAST(floor(d * 1000000 + 0.5) AS BIGINT) AS VARCHAR), 14, '0')
                     || lpad(CAST(cid AS VARCHAR), 10, '0')) AS list_id
  FROM scored GROUP BY vec_id
), members AS (
  SELECT a.list_id, a.vec_id, e.embedding
  FROM assigned a JOIN embeddings e USING (vec_id)
), edges AS (
  SELECT x.vec_id AS va, y.vec_id AS vb
  FROM members x JOIN members y
    ON x.list_id = y.list_id AND x.vec_id < y.vec_id
  WHERE round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                     CAST(y.embedding AS DOUBLE[])), 6) >= {_P01_THRESHOLD}
), sym AS (
  SELECT va AS a, vb AS b FROM edges UNION SELECT vb, va FROM edges
), reach(v, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.v
), cc AS (
  SELECT v AS vec_id, MIN(r) AS component FROM reach GROUP BY v
), labeled AS (
  SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS list_id,
         COALESCE(cc.component, a.vec_id) AS component
  FROM assigned a LEFT JOIN cc ON cc.vec_id = a.vec_id
)
SELECT vec_id, list_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS component_size,
       (vec_id = MIN(vec_id) OVER (PARTITION BY component)) AS keep
FROM labeled
ORDER BY vec_id
"""


@query(
    "qp01_semantic_dedup_fixed_quantizer",
    oracle=_P01_ORACLE,
    tags=("vector", "dedup", "audit"),
)
def qp01_semantic_dedup_fixed_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED SemDeDup audit — the deterministic twin of qb30
    (whose iterative k-means coarse stage no SQL oracle can replay):
    the coarse lists are FIXED to hash-rank-picked corpus vectors (the
    ql05 rule: md5-fold order, euclidean argmin with the lpad tie key),
    and then qb30's exact pipeline shape runs unchanged — cosine pairs
    scored WITHIN a list only (corpus²/k candidate bound, equi-join on
    the list id, never a global cross product), connected components
    over the surviving pairs, keep-one-per-component. Every step —
    routing, pair detection at the rounded 0.42 boundary, component
    labels, keep flags — is value-hash-matched against a DuckDB
    recursive-CTE replay. With ql13 gating the Lloyd step itself, the
    full qb30 capability is now oracle-covered: fixed-model pipeline
    here, one-iteration fit trace there, multi-iteration convergence
    property-tested.

    Scale: centroids are a broadcast constant set; assignment is one
    k-way fan-out (JVM zip_with math); the pair join shuffles once on
    the list id so no task ever holds more than one list's candidates;
    CC is the shared pointer-doubling path (driver union-find at this
    edge count). Misses only cross-list near-dups — the SemDeDup
    design tradeoff qb30's recall property-test quantifies.
    """
    from pyspark_distributed_kmodes_spark.functions.graph import connected_components
    from pyspark_distributed_kmodes_spark.functions.vector_math import cosine_sim

    emb = table(spark, sf_dir, "embeddings")
    n_lists = int(-(-emb.count() // _P01_ROWS_PER_LIST))  # bounded scalar
    cents = (
        emb.orderBy(_md5fold(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(n_lists)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb"))
    )
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
    key = F.concat(
        F.lpad(F.floor(d * 1_000_000 + F.lit(0.5)).cast("bigint").cast("string"), 14, "0"),
        F.lpad(F.col("cid").cast("string"), 10, "0"),
    )
    assigned = (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", key.alias("k"))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.col("k")).cast("bigint").alias("list_id"))
        .transform(cut_lineage)  # reused by members AND the final join-back
    )
    members = assigned.join(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec")), "vec_id"
    )
    a = members.select("list_id", F.col("vec_id").alias("va"), F.col("vec").alias("xa"))
    b = members.select("list_id", F.col("vec_id").alias("vb"), F.col("vec").alias("xb"))
    pairs = (
        a.join(b, "list_id")
        .filter(F.col("va") < F.col("vb"))
        .filter(pround(cosine_sim(F.col("xa"), F.col("xb")), 6) >= F.lit(_P01_THRESHOLD))
        .select("va", "vb")
    )
    cc = connected_components(pairs, "va", "vb").select(
        F.col("vertex").alias("vec_id"), "component"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("component")
    return (
        assigned.join(F.broadcast(cc), "vec_id", "left")
        .withColumn("component", F.coalesce("component", F.col("vec_id")))
        .select(
            "vec_id",
            "list_id",
            "component",
            F.count(F.lit(1)).over(w).cast("bigint").alias("component_size"),
            (F.col("vec_id") == F.min("vec_id").over(w)).alias("keep"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# p02 — one full k-modes Lloyd iteration from a fixed init (q70's fit twin)

_P02_K = 5

_P02_ORACLE = f"""
WITH combos AS (
  SELECT o_orderstatus AS s, o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), init AS (
  SELECT s, p, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, s ASC, p ASC) - 1 AS INTEGER) AS idx
  FROM combos QUALIFY idx < {_P02_K}
), a0 AS (
  SELECT o.o_orderkey, o.o_orderstatus AS s, o.o_orderpriority AS p,
         MIN_BY(m.idx, ((CASE WHEN o.o_orderstatus <> m.s THEN 1 ELSE 0 END)
                        + (CASE WHEN o.o_orderpriority <> m.p THEN 1 ELSE 0 END)) * 10 + m.idx)
           AS cluster
  FROM orders o CROSS JOIN init m
  GROUP BY o.o_orderkey, o.o_orderstatus, o.o_orderpriority
), win_s AS (
  SELECT cluster, s AS v,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY COUNT(*) DESC, s ASC) AS rn
  FROM a0 GROUP BY cluster, s QUALIFY rn = 1
), win_p AS (
  SELECT cluster, p AS v,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY COUNT(*) DESC, p ASC) AS rn
  FROM a0 GROUP BY cluster, p QUALIFY rn = 1
), new_modes AS (
  -- empty clusters keep their old (init) mode: the engine's rule
  SELECT i.idx, COALESCE(ws.v, i.s) AS s, COALESCE(wp.v, i.p) AS p
  FROM init i
  LEFT JOIN win_s ws ON ws.cluster = i.idx
  LEFT JOIN win_p wp ON wp.cluster = i.idx
), a1 AS (
  SELECT o.o_orderkey, a0.cluster AS cluster0,
         MIN_BY(m.idx, ((CASE WHEN o.o_orderstatus <> m.s THEN 1 ELSE 0 END)
                        + (CASE WHEN o.o_orderpriority <> m.p THEN 1 ELSE 0 END)) * 10 + m.idx)
           AS cluster,
         MIN((CASE WHEN o.o_orderstatus <> m.s THEN 1 ELSE 0 END)
             + (CASE WHEN o.o_orderpriority <> m.p THEN 1 ELSE 0 END)) AS dist
  FROM orders o
  JOIN a0 ON a0.o_orderkey = o.o_orderkey
  CROSS JOIN new_modes m
  GROUP BY o.o_orderkey, a0.cluster
)
SELECT CAST(m.idx AS INTEGER) AS cluster,
       CAST(COALESCE(n0.n_init, 0) AS BIGINT) AS n_init,
       CAST(COALESCE(n1.n_after, 0) AS BIGINT) AS n_after,
       CAST(COALESCE(n1.n_stayed, 0) AS BIGINT) AS n_stayed,
       CAST(COALESCE(n1.cost_after, 0) AS BIGINT) AS cost_after,
       m.s AS mode_status, m.p AS mode_priority
FROM new_modes m
LEFT JOIN (SELECT cluster, COUNT(*) AS n_init FROM a0 GROUP BY cluster) n0
  ON n0.cluster = m.idx
LEFT JOIN (SELECT cluster, COUNT(*) AS n_after,
                  SUM(CASE WHEN cluster0 = cluster THEN 1 ELSE 0 END) AS n_stayed,
                  SUM(dist) AS cost_after
           FROM a1 GROUP BY cluster) n1
  ON n1.cluster = m.idx
ORDER BY cluster
"""


@query(
    "qp02_kmodes_fit_step_trace",
    oracle=_P02_ORACLE,
    tags=("kmodes", "ml", "audit"),
)
def qp02_kmodes_fit_step_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED k-modes FIT-STEP trace — the fit-side twin ql01's
    assignment audit could not give (round-10 verdict item 8): from a
    FIXED deterministic init (the {k} most frequent (status, priority)
    combos — count-desc lexicographic, the ql01 rule), run ONE full
    Lloyd iteration through the REAL engine code path — assignment via
    `KModesModel.transform` (the argmin-Hamming array_min expression),
    re-mode via `KModes._recompute_modes` (the melt → weight sum →
    row_number winner pipeline, empty clusters keeping their old mode;
    every row enters with weight `_w` = 1, so the sums are counts),
    reassignment under the new modes — and value-hash-match, per
    cluster: the init/after sizes, how many members stayed, the
    post-step total Hamming cost, and the new mode labels themselves.
    The multi-iteration q70 fit stays rows-only by design (iterative);
    with assignment gated by ql01 and the update step gated here, every
    moving part of the fit loop is oracle-covered and the remaining
    rows-only surface is only the iteration COUNT to convergence.

    Scale: init modes are a {k}-row bounded collect; both assignment
    passes are zero-shuffle JVM literal expressions; the re-mode is the
    engine's single melt shuffle (map-side combined, ≤ k × n_cols ×
    distinct-values rows); the stay/cost rollup is one groupBy.
    Reference: pyspark_kmodes.py:~300-360 iter_k_modes (reconstructed)
    — the per-iteration barrier this re-expresses declaratively.
    """
    from pyspark_distributed_kmodes_spark.ml.kmodes import (
        KModes,
        KModesModel,
        hamming_distance_col,
    )
    from pyspark_distributed_kmodes_spark.operators.kmodes_queries import KMODES_COLS

    o = table(spark, sf_dir, "orders")
    combos = (
        o.groupBy(F.col(KMODES_COLS[0]).alias("s"), F.col(KMODES_COLS[1]).alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("s"), F.asc("p"))
        .limit(_P02_K)
        .collect()
    )  # bounded model constant: the fixed init modes
    init_modes = [(r.s, r.p) for r in combos]
    km = KModes(n_clusters=_P02_K, cols=KMODES_COLS)
    model0 = KModesModel(cols=KMODES_COLS, modes=init_modes)
    feats = o.select("o_orderkey", *KMODES_COLS)
    a0 = model0.transform(feats, "cluster0").transform(cut_lineage)  # reused 3x below
    # THE REAL UPDATE STEP: melt → weight sum → row_number winners,
    # empty clusters keep their old mode (ml/kmodes.py:_recompute_modes);
    # a row of the raw table weighs 1
    new_modes = km._recompute_modes(
        a0.select(*KMODES_COLS, F.col("cluster0").alias("cluster"), F.lit(1).alias("_w")), init_modes
    )
    model1 = KModesModel(cols=KMODES_COLS, modes=new_modes)
    a1 = model1.transform(feats, "cluster").withColumn(
        "dist",
        F.element_at(
            F.array(*[hamming_distance_col(KMODES_COLS, m) for m in new_modes]),
            F.col("cluster") + 1,
        ),
    )
    n0 = a0.groupBy(F.col("cluster0").alias("cluster")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_init")
    )
    n1 = (
        a1.join(a0.select("o_orderkey", "cluster0"), "o_orderkey")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_after"),
            F.sum((F.col("cluster0") == F.col("cluster")).cast("int")).cast("bigint").alias(
                "n_stayed"
            ),
            F.sum("dist").cast("bigint").alias("cost_after"),
        )
    )
    status_map = F.map_from_arrays(
        F.array(*[F.lit(i) for i in range(_P02_K)]),
        F.array(*[F.lit(m[0]) for m in new_modes]),
    )
    prio_map = F.map_from_arrays(
        F.array(*[F.lit(i) for i in range(_P02_K)]),
        F.array(*[F.lit(m[1]) for m in new_modes]),
    )
    base = spark.range(_P02_K).select(F.col("id").cast("integer").alias("cluster"))
    return (
        base.join(n0, "cluster", "left")
        .join(n1, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_init", F.lit(0)).cast("bigint").alias("n_init"),
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
            F.coalesce("n_stayed", F.lit(0)).cast("bigint").alias("n_stayed"),
            F.coalesce("cost_after", F.lit(0)).cast("bigint").alias("cost_after"),
            F.element_at(status_map, F.col("cluster")).alias("mode_status"),
            F.element_at(prio_map, F.col("cluster")).alias("mode_priority"),
        )
        .orderBy("cluster")
    )


qp02_kmodes_fit_step_trace.__doc__ = qp02_kmodes_fit_step_trace.__doc__.replace(
    "{k}", str(_P02_K)
)


# ---------------------------------------------------------------------------
# p03 — streaming observe() metrics: the monitoring surface under the hash

_P03_ORACLE = """
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
days AS (
  SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
), cum AS (
  SELECT d, SUM(c) OVER (ORDER BY d) AS cum FROM days
), cut1 AS (
  SELECT MIN(d) AS v FROM cum, tot WHERE cum >= (n * 1 + 2) // 3
), cut2 AS (
  SELECT MIN(d) AS v FROM cum, tot WHERE cum >= (n * 2 + 2) // 3
), chunked AS (
  SELECT CASE WHEN date_trunc('day', ts) < (SELECT v FROM cut1) THEN 0
              WHEN date_trunc('day', ts) < (SELECT v FROM cut2) THEN 1
              ELSE 2 END AS batch,
         event_type, value
  FROM events
)
SELECT CAST(batch AS BIGINT) AS batch,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
       CAST(SUM(CAST(round(value, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM chunked
GROUP BY batch
ORDER BY batch
"""


@query(
    "qp03_stream_observe_metrics",
    oracle=_P03_ORACLE,
    tags=("streaming", "audit"),
)
def qp03_stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING observe() METRICS under the hash gate: the events
    stream replays as three chronological tercile chunks
    (replay_stream over the shared stage_event_chunks stage), a Dataset.observe
    aggregate rides the stream — row count, click count, and a
    DECIMAL-exact value sum per micro-batch — and the per-batch
    readings are collected from the query's progress history
    (StreamingQueryProgress.observedMetrics). The oracle re-derives
    every batch's metrics relationally by replaying the day-tercile cut
    rule, so batch boundaries AND metric arithmetic are both in-hash.
    This is the monitoring primitive a production pipeline alarms on
    (numInputRows drift, per-batch quality gauges) — proved here to
    report exactly what the data says, not approximately.

    Determinism: chunk contents are a pure function of the input (day
    terciles); observe() aggregates run inside the batch plan, so the
    DECIMAL sum is partition-order-free; batches arrive in staged
    mtime order (pinned by stage_event_chunks).

    Scale: observe() metrics are computed map-side alongside the
    existing batch work (no extra shuffle, no second scan) and cost
    O(1) driver memory per batch — the always-on audit channel for a
    100 TB stream, vs re-scanning the sink to recompute QA stats.
    """
    import os

    stage = stage_event_chunks(spark, sf_dir)
    root = scratch_dir("p03_target")
    stream = replay_stream(spark, stage)
    obs = stream.observe(
        "audit",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_clicks"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(25,6)")).alias("sum_value"),
    )
    q = drain_available_now(obs.writeStream.format("noop"), os.path.join(root, "ckpt"), "p03")
    batches = sorted(
        (p for p in q.recentProgress if p["numInputRows"] > 0), key=lambda p: p["batchId"]
    )
    if len(batches) != 3:
        raise AssertionError(f"p03: expected 3 data micro-batches, saw {len(batches)}")
    rows = [
        (
            i,
            int(p["observedMetrics"]["audit"]["n_rows"]),
            int(p["observedMetrics"]["audit"]["n_clicks"]),
            float(p["observedMetrics"]["audit"]["sum_value"]),
        )
        for i, p in enumerate(batches)
    ]
    return spark.createDataFrame(
        rows, "batch bigint, n_rows bigint, n_clicks bigint, sum_value double"
    ).orderBy("batch")


# ---------------------------------------------------------------------------
# p04 — streaming session windows (append mode, watermark-driven emission)

# emission guard band: the engine filters its EMITTED sessions (and the
# oracle its replayed ones) to end <= final_watermark - 1 s, so the
# <-vs-<= eviction convention at the exact boundary can never matter —
# everything at least 1 s below the watermark is provably emitted
_P04_ORACLE = """
WITH wm AS (
  SELECT MAX(ts) - INTERVAL 1 HOUR - INTERVAL 1 SECOND AS cutoff FROM events
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTES OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), sess AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), agg AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTES AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(event_id) AS BIGINT) AS sum_ids
  FROM sess
  GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events, sum_ids
FROM agg, wm
WHERE session_end <= cutoff
ORDER BY user_id, session_start
"""


@query(
    "qp04_stream_session_windows",
    oracle=_P04_ORACLE,
    tags=("streaming", "events", "audit"),
)
def qp04_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SESSION WINDOWS under the hash gate: q32's
    sessionization run as a REAL streaming query — F.session_window
    with a 30-minute gap inside readStream, 1-hour watermark, APPEND
    mode over a 3-chunk chronological replay — so session MERGING
    ACROSS MICRO-BATCH BOUNDARIES (the state machinery batch replay
    cannot prove) is exercised: a session opened in chunk 0 must keep
    absorbing chunk-1 events until the gap closes, and only emit once
    the watermark passes its end. The oracle replays gaps-and-islands
    relationally and both sides keep only sessions whose end clears
    the final watermark by >= 1 s (the guard band makes the <-vs-<=
    eviction convention at the exact boundary irrelevant; everything
    below it is provably emitted — measured: 9525 of 9549 sessions at
    sf0.01, the 24 tail sessions legally still in state).

    Scale: session state is bounded by watermark eviction (open
    sessions per user within the horizon), each micro-batch shuffles
    once on user_id, and emission is incremental — the streaming
    sessionizer a 100 TB clickstream runs on, vs re-running q32's
    batch over a growing table.
    """
    import datetime
    import os

    stage = stage_event_chunks(spark, sf_dir)
    max_ts = spark.read.parquet(stage).agg(F.max("ts")).first()[0]  # bounded scalar
    cutoff = max_ts - datetime.timedelta(hours=1, seconds=1)
    root = scratch_dir("p04_target")
    sink = os.path.join(root, "sink")
    stream = replay_stream(spark, stage)
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_ids",
        )
    )
    drain_available_now(
        sess.writeStream.format("parquet").option("path", sink).outputMode("append"),
        os.path.join(root, "ckpt"),
        "p04",
    )
    return (
        spark.read.parquet(sink)
        .where(F.col("session_end") <= F.lit(cutoff))
        .select("user_id", "session_start", "session_end", "n_events", "sum_ids")
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# p05 — chained stateful operators: window-on-window in one streaming query

_P05_ORACLE = """
WITH wm AS (
  SELECT MAX(ts) - INTERVAL 30 MINUTES - INTERVAL 1 SECOND AS cutoff FROM events
), hourly AS (
  SELECT date_trunc('hour', ts) AS h, user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), daily AS (
  SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_user_hours,
         CAST(SUM(n) AS BIGINT) AS n_events,
         CAST(MAX(n) AS BIGINT) AS max_user_hour
  FROM hourly GROUP BY 1
)
SELECT day, n_user_hours, n_events, max_user_hour
FROM daily, wm
WHERE day + INTERVAL 1 DAY <= cutoff
ORDER BY day
"""


@query(
    "qp05_stream_chained_stateful",
    oracle=_P05_ORACLE,
    tags=("streaming", "events", "audit"),
)
def qp05_stream_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED STATEFUL OPERATORS under the hash gate (Spark 3.5+
    multiple stateful operators in one streaming query): a tumbling
    1-hour per-user count feeds a SECOND tumbling 1-day aggregation —
    window-on-window (F.window over the first window column), both
    stateful, in ONE query over the 3-chunk replay. The first operator
    must finalize hourly windows as the watermark passes; the second
    must aggregate those finalized rows into daily activity stats
    (distinct active user-hours, total events, peak user-hour) and
    emit them when the PROPAGATED watermark clears the day. The oracle
    replays the two-level GROUP BY relationally; both sides keep only
    days whose window end clears the final watermark by >= 1 s (the
    p04 guard band; measured: 29 of 30 days at sf0.01, the last day
    legally still in state).

    Before Spark 3.5 this required two queries with an intermediate
    sink; the chained form is the 100 TB rollup-cascade primitive —
    hour -> day -> month without landing intermediates. Each level
    shuffles once on its window key; state per level is bounded by
    its horizon.
    """
    import datetime
    import os

    stage = stage_event_chunks(spark, sf_dir)
    max_ts = spark.read.parquet(stage).agg(F.max("ts")).first()[0]  # bounded scalar
    cutoff = max_ts - datetime.timedelta(minutes=30, seconds=1)
    root = scratch_dir("p05_target")
    sink = os.path.join(root, "sink")
    stream = replay_stream(spark, stage)
    hourly = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w1"), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    daily = (
        hourly.groupBy(F.window(F.col("w1"), "1 day").alias("w2"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_user_hours"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").cast("bigint").alias("max_user_hour"),
        )
        .select(
            F.col("w2.start").alias("day"), "n_user_hours", "n_events", "max_user_hour"
        )
    )
    drain_available_now(
        daily.writeStream.format("parquet").option("path", sink).outputMode("append"),
        os.path.join(root, "ckpt"),
        "p05",
    )
    return (
        spark.read.parquet(sink)
        .where(F.col("day") + F.expr("INTERVAL 1 DAY") <= F.lit(cutoff))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# p06 — plain dropDuplicates: the unbounded-state contrast key to o12

_P06_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) + SUM(CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_input,
       CAST(COUNT(*) AS BIGINT) AS n_dedup,
       CAST(SUM(CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST((SELECT COUNT(DISTINCT event_id) FROM events) AS BIGINT) AS state_rows
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "qp06_stream_dedup_unbounded_state",
    oracle=_P06_ORACLE,
    tags=("streaming", "dedup", "audit"),
)
def qp06_stream_dedup_unbounded_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAIN STREAMING dropDuplicates under the hash gate — the
    deliberate UNBOUNDED-STATE contrast key to o12: the same planted
    duplicates (event_id % 37 == 0 re-injected at ts + 30 s), the same
    3-chunk replay, but dedup WITHOUT a watermark, so the state store
    must hold EVERY key ever seen. Correctness is identical to o12's
    (all planted copies dropped, per-type survivor aggregates
    in-hash); the new in-hash column is state_rows — the final
    stateOperators.numRowsTotal from the query's own progress, which
    must equal the total distinct-key count exactly (every key
    retained forever). o12's watermark-bounded state is strictly
    smaller; the pair quantifies, under the driver's gate, WHY
    dropDuplicatesWithinWatermark exists: at 100 TB this key's state
    is the corpus key set (a non-starter), o12's is horizon x rate.

    Determinism: planted copies differ from their originals only in ts
    (never aggregated), so whichever copy survives a same-batch race
    the output is identical; state_rows is the distinct-key count —
    reading it from the progress history pins the runtime's actual
    state footprint, not a prediction of it.
    """
    import os

    stage = stage_event_chunks(spark, sf_dir, doubled=True)
    n_input = (
        spark.read.parquet(stage)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_input"))
        .transform(cut_lineage)
    )
    root = scratch_dir("p06_target")
    sink = os.path.join(root, "survivors")
    stream = replay_stream(spark, stage)
    q = drain_available_now(
        stream.dropDuplicates(["event_id"])
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append"),
        os.path.join(root, "ckpt"),
        "p06",
    )
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    state_rows = int(
        max(data_batches, key=lambda p: p["batchId"])["stateOperators"][0]["numRowsTotal"]
    )
    survivors = spark.read.parquet(sink)
    per_type = survivors.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dedup"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )
    return (
        per_type.join(n_input, "event_type")
        .select(
            "event_type",
            "n_input",
            "n_dedup",
            (F.col("n_input") - F.col("n_dedup")).cast("bigint").alias("n_dropped"),
            "sum_event_id",
            "n_users",
            F.lit(state_rows).cast("bigint").alias("state_rows"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# p07 — stream-stream JOIN state read back from the checkpoint

_P07_ORACLE = """
WITH wm AS (
  SELECT least(MAX(CASE WHEN event_type = 'click' THEN ts END),
               MAX(CASE WHEN event_type = 'purchase' THEN ts END))
         - INTERVAL 4 HOURS AS w
  FROM events
)
SELECT 'left' AS side, event_id, user_id, ts
FROM events, wm
WHERE event_type = 'click' AND ts + INTERVAL 2 HOURS >= w
UNION ALL
SELECT 'right' AS side, event_id, user_id, ts
FROM events, wm
WHERE event_type = 'purchase' AND ts >= w
ORDER BY side, event_id
"""


@query(
    "qp07_stream_join_state_reader",
    oracle=_P07_ORACLE,
    tags=("streaming", "join", "audit"),
)
def qp07_stream_join_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN STATE under the hash gate: run the o15-shaped
    interval join (clicks x purchases by user within a 2 h event-time
    window, both sides watermarked 4 h, 3-chunk replay), then read the
    BUFFERED JOIN STATE back from the checkpoint with the statestore
    reader's joinSide option — the rows o15's guaranteed-emission
    audit deliberately excludes are exactly the rows that must still
    be sitting in state, and this key proves that set row-for-row.
    Eviction law (probed with a planted exact-boundary fixture, pinned
    in tests): after the final no-data batch applies the terminal
    watermark w = min(side maxima) - delay, the LEFT buffer retains
    clicks with ts + window >= w (a click at exactly the boundary is
    RETAINED) and the RIGHT buffer retains purchases with ts >= w.
    The oracle replays that law relationally from the raw table —
    n06 proved aggregation state, r16 its history, r19/r26 its
    RocksDB encodings; this closes the family with JOIN state, whose
    per-side buffers are the 100 TB cost driver of streaming joins.

    Scale: the state read is a bounded scan of the final snapshot
    (horizon x rate rows per side, NOT the corpus); the join itself
    shuffles both sides on user_id once per micro-batch.
    """
    import os

    stage = stage_event_chunks(spark, sf_dir)
    root = scratch_dir("p07_target")
    ckpt = os.path.join(root, "ckpt")
    src = replay_stream(spark, stage)
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "4 hours")
    )
    purch = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "4 hours")
    )
    joined = clicks.join(
        purch,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    )
    drain_available_now(joined.writeStream.format("noop"), ckpt, "p07")
    left = (
        spark.read.format("statestore")
        .option("joinSide", "left")
        .load(ckpt)
        .select(
            F.lit("left").alias("side"),
            F.col("value.c_id").alias("event_id"),
            F.col("value.c_user").alias("user_id"),
            F.col("value.c_ts").alias("ts"),
        )
    )
    right = (
        spark.read.format("statestore")
        .option("joinSide", "right")
        .load(ckpt)
        .select(
            F.lit("right").alias("side"),
            F.col("value.p_id").alias("event_id"),
            F.col("value.p_user").alias("user_id"),
            F.col("value.p_ts").alias("ts"),
        )
    )
    return left.unionByName(right).orderBy("side", "event_id")


# ---------------------------------------------------------------------------
# p08 — polymorphic Python UDTF (analyze() computes the schema)

_P08_N = 3

_P08_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
       {", ".join(f"string_split(text, ' ')[{i+1}] AS w{i+1}" for i in range(_P08_N))}
FROM documents
ORDER BY doc_id
"""


@query(
    "qp08_udtf_polymorphic_analyze",
    oracle=_P08_ORACLE,
    tags=("udf", "text"),
)
def qp08_udtf_polymorphic_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF under the hash gate (Spark 4 analyze()):
    qb04 covered the static-returnType UDTF; this one's output SCHEMA
    is computed at ANALYSIS time from a literal argument — analyze()
    receives the constant n and returns (n_words, w1..w{n}) — the
    table-function polymorphism the static form cannot express
    (tests pin that n=2 and n=4 calls really produce different
    schemas from one registration). The lateral call expands every
    document to its word count plus its first {n} words; the oracle
    replays with list extraction, so the analyze-derived schema, the
    per-row expansion, AND null padding for short documents are all
    in-hash.

    Scale note (the qb04 caveat applies): UDTFs run row-at-a-time in
    Python — acceptable for the bounded documents table; bulk word
    work belongs to the JVM split/posexplode path (o50, o11).
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class LeadWords:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            k = int(n.value)
            return AnalyzeResult(
                StructType(
                    [StructField("n_words", IntegerType())]
                    + [StructField(f"w{i + 1}", StringType()) for i in range(k)]
                )
            )

        def eval(self, text: str, n: int):
            words = (text or "").split(" ")
            yield (len(words), *[(words[i] if i < len(words) else None) for i in range(n)])

    spark.udtf.register("p08_lead_words", udtf(LeadWords))
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("p08_documents")
    return spark.sql(
        f"""
        SELECT d.doc_id, t.*
        FROM p08_documents d, LATERAL p08_lead_words(d.text, {_P08_N}) t
        ORDER BY d.doc_id
        """
    )


qp08_udtf_polymorphic_analyze.__doc__ = qp08_udtf_polymorphic_analyze.__doc__.replace(
    "{n}", str(_P08_N)
)


# ---------------------------------------------------------------------------
# p09 — TIMESTAMP_NTZ expression surface over the RAW parquet encoding

_P09_ORACLE = """
WITH raw AS (
  SELECT ts,
         make_timestamp(CAST(date_part('year', ts) AS BIGINT),
                        CAST(date_part('month', ts) AS BIGINT),
                        CAST(date_part('day', ts) AS BIGINT),
                        CAST(date_part('hour', ts) AS BIGINT),
                        CAST(date_part('minute', ts) AS BIGINT),
                        CAST(date_part('second', ts) AS DOUBLE)) AS rebuilt,
         ts + INTERVAL 90 MINUTES AS shifted
  FROM events
)
SELECT CAST(date_part('hour', ts) AS INTEGER) AS hour_of_day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN rebuilt = date_trunc('second', ts) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rebuilt_exact,
       CAST(SUM(CASE WHEN CAST(shifted AS DATE) <> CAST(ts AS DATE) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shift_crosses_day,
       MIN(ts) AS min_ts,
       MAX(shifted) AS max_shifted
FROM raw
GROUP BY 1
ORDER BY hour_of_day
"""


@query(
    "qp09_timestamp_ntz_surface",
    oracle=_P09_ORACLE,
    tags=("events", "types"),
)
def qp09_timestamp_ntz_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP_NTZ expression surface under the hash gate: the events
    parquet encodes MICROS with isAdjustedToUTC=false, which Spark
    reads as TIMESTAMP_NTZ — the ingestion path (sources/tables.py)
    deliberately NORMALIZES that to TIMESTAMP for windows/watermarks,
    so the NTZ type itself had no certified key. This one reads the
    RAW file (no normalization — a test pins the plan really carries
    timestamp_ntz), then exercises the NTZ-native surface: field
    extraction (hour-of-day grouping), reconstruction via
    make_timestamp_ntz from extracted fields (must equal the
    second-truncated original for EVERY row — in-hash), wall-clock
    interval arithmetic (+90 min), and day-boundary crossing under
    that shift. DuckDB's TIMESTAMP is naive, so the oracle is the
    native replay with no timezone adjustment on either side — which
    is exactly the NTZ contract being certified. (TIME was probed and
    rejected as unsupported on this stack; NTZ is the supported half
    of the wall-clock type surface.)

    Scale: one scan, per-row JVM datetime expressions, one 24-key
    map-side-combined groupBy. No shuffle beyond the bounded rollup.
    """
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = [f.dataType.typeName() for f in raw.schema if f.name == "ts"][0]
    if ts_type == "long":
        # TIMESTAMP(NANOS) encoding (read as a nanosecond bigint via
        # session.py's nanosAsLong): mirror tables.py's integer-DIV
        # micros conversion, then strip the zone (UTC session — same
        # wall clock). A direct BIGINT -> TIMESTAMP_NTZ cast throws.
        raw = raw.withColumn(
            "ts", F.expr("timestamp_micros(ts DIV 1000)").cast("timestamp_ntz")
        )
    elif ts_type != "timestamp_ntz":
        # a re-encoded copy (e.g. the scale probe's Spark-written
        # replicas) lands as TIMESTAMP; convert so the NTZ expression
        # surface still runs — the shipped testdata really being NTZ
        # on disk is pinned in tests/test_psuite.py, not here
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    rebuilt = F.expr(
        "make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), minute(ts),"
        " CAST(second(ts) AS DOUBLE))"
    )
    shifted = F.col("ts") + F.expr("INTERVAL 90 MINUTES")
    return (
        raw.select(
            "ts",
            rebuilt.alias("rebuilt"),
            shifted.alias("shifted"),
        )
        .groupBy(F.hour("ts").cast("integer").alias("hour_of_day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                (F.col("rebuilt") == F.date_trunc("second", F.col("ts"))).cast("int")
            ).cast("bigint").alias("n_rebuilt_exact"),
            F.sum(
                (F.col("shifted").cast("date") != F.col("ts").cast("date")).cast("int")
            ).cast("bigint").alias("n_shift_crosses_day"),
            F.min("ts").alias("min_ts"),
            F.max("shifted").alias("max_shifted"),
        )
        .orderBy("hour_of_day")
    )


# ---------------------------------------------------------------------------
# p10 — AES column-encryption codec family (deterministic ECB audit)

_P10_KEY = "0123456789abcdef"  # 16-byte test key (the audit's fixture, not a secret)

_P10_ORACLE = """
WITH rows_ AS (
  SELECT o_orderstatus,
         o_orderkey,
         concat(o_orderpriority, '|', CAST(o_orderkey AS VARCHAR)) AS pt,
         (o_orderkey % 13 = 0) AS corrupted
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN corrupted THEN 0 ELSE 1 END) AS BIGINT) AS n_recovered,
       CAST(SUM(CASE WHEN corrupted THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       CAST(SUM(CASE WHEN corrupted THEN 0 ELSE o_orderkey END) AS BIGINT) AS sum_recovered_keys,
       CAST(SUM((len(pt) // 16 + 1) * 16 + CASE WHEN corrupted THEN 1 ELSE 0 END) AS BIGINT)
         AS sum_wire_bytes
FROM rows_
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "qp10_aes_codec_quarantine",
    oracle=_P10_ORACLE,
    tags=("functions", "audit"),
)
def qp10_aes_codec_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES COLUMN-ENCRYPTION CODEC under the hash gate (aes_encrypt /
    try_aes_decrypt — the last expression-codec family the engine had
    not certified, after JSON/XML/Variant/CSV): every order's
    priority|key payload is encrypted with deterministic AES-ECB (the
    mode whose ciphertext is a pure function of plaintext+key — GCM's
    random IV would break both the hash gate and the oracle), 1-in-13
    wires are corrupted with a planted prefix byte, and the decrypt
    side must (a) round-trip every clean row byte-for-byte (the
    recovered order key re-parsed FROM THE DECRYPTED TEXT is summed
    in-hash), (b) quarantine every corrupted wire as NULL
    (try_aes_decrypt's contract — the r14/o14 Luhn pattern at the
    crypto layer), and (c) produce exactly the PKCS-padded wire sizes
    the oracle derives closed-form ((len//16+1)*16 + the planted
    byte). The oracle never sees a ciphertext — everything it checks
    is derived from raw columns plus the ECB length law, so any
    codec deviation (padding, encoding, silent truncation) breaks the
    hash.

    Scale: pure per-row JVM expressions (one encrypt + one decrypt per
    row) feeding a bounded-key map-side-combined rollup; no shuffle
    beyond the 3-key group. 10x probe reads ~4.8x — the r18 one-pass
    scan shape (data-proportional crypto work with no fixed overhead
    to hide behind; parallelizes linearly across executors). The ECB
    determinism caveat is the docstring's own warning: real column
    encryption at rest should use GCM (randomized), which is exactly
    why the AUDIT pins ECB.
    """
    o = table(spark, sf_dir, "orders")
    ct = F.expr(f"aes_encrypt(concat(o_orderpriority, '|', CAST(o_orderkey AS STRING)), '{_P10_KEY}', 'ECB')")
    wire = F.when(F.col("o_orderkey") % 13 == 0, F.concat(F.lit(bytes([0])), ct)).otherwise(ct)
    rows = o.select(
        "o_orderstatus",
        "o_orderkey",
        wire.alias("wire"),
    ).withColumn(
        "dec", F.expr(f"CAST(try_aes_decrypt(wire, '{_P10_KEY}', 'ECB') AS STRING)")
    )
    recovered = F.split(F.col("dec"), r"\|").getItem(1).cast("bigint")
    return (
        rows.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("dec").isNotNull().cast("int")).cast("bigint").alias("n_recovered"),
            F.sum(F.col("dec").isNull().cast("int")).cast("bigint").alias("n_quarantined"),
            F.sum(F.coalesce(recovered, F.lit(0))).cast("bigint").alias("sum_recovered_keys"),
            F.sum(F.length("wire")).cast("bigint").alias("sum_wire_bytes"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# p11 — binary shard transport: chunk / reassemble / checksum / loss audit

_P11_CHUNK = 64  # bytes per shard chunk

_P11_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text,
         len(text) AS nbytes,                    -- ASCII corpus: bytes == chars
         (len(text) + {_P11_CHUNK} - 1) // {_P11_CHUNK} AS n_chunks,
         (doc_id % 17 = 0) AS planted
  FROM documents
), reasm AS (
  SELECT doc_id, nbytes, n_chunks, planted,
         CASE WHEN planted AND nbytes > {_P11_CHUNK}
              THEN substr(text, 1, {_P11_CHUNK}) || substr(text, 2 * {_P11_CHUNK} + 1)
              ELSE text END AS received
  FROM base
)
SELECT doc_id,
       CAST(n_chunks - CASE WHEN planted AND nbytes > {_P11_CHUNK} THEN 1 ELSE 0 END AS INTEGER)
         AS n_chunks_received,
       CAST(len(received) AS BIGINT) AS bytes_received,
       (NOT (planted AND nbytes > {_P11_CHUNK})) AS intact,
       md5(received) AS digest
FROM reasm
ORDER BY doc_id
"""


@query(
    "qp11_binary_chunk_transport",
    oracle=_P11_ORACLE,
    tags=("multimodal", "binary", "audit"),
)
def qp11_binary_chunk_transport(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY SHARD TRANSPORT under the hash gate — the multimodal
    plumbing a 100 TB media corpus rides (payloads split into
    fixed-size chunks for shuffle/transfer, reassembled in order,
    integrity-checked): each document's opaque binary payload (the
    multimodal/binary.py contract) is split into {chunk}-byte chunks
    with JVM binary substring, the SECOND chunk of every 17th document
    is deterministically dropped in flight, and the receiver
    reassembles in chunk order (sorted higher-order fold over binary
    concat — no Python, no UDF) and checksums the result. In-hash per
    document: chunks received, bytes received, the intact verdict
    (md5(reassembled) == md5(original)), and the received digest
    itself — the oracle recomputes every digest from the raw text
    (the corpus is pure printable ASCII, pinned in tests, so byte
    slices equal character slices), so reassembly ORDER, the planted
    gap, and the checksum algebra are all under the hash.

    Scale: chunking is a per-row sequence/substring fan-out (rows x
    len/{chunk} chunk rows — exactly what a shard writer emits);
    reassembly is one shuffle on doc_id with a sorted in-memory fold
    per group (bounded by the payload size, not the corpus).
    """
    d = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    base = d.select(
        "doc_id",
        payload.alias("payload"),
        F.length(payload).alias("nbytes"),
        ((F.length(payload) + F.lit(_P11_CHUNK - 1)) / F.lit(_P11_CHUNK))
        .cast("int")
        .alias("n_chunks"),
        (F.col("doc_id") % 17 == 0).alias("planted"),
    )
    # Guard the fan-out: for a zero-length payload F.sequence(0, -1)
    # yields the DESCENDING [0, -1] (2 phantom chunks), so emit an
    # empty index array instead; the doc re-enters via the left join
    # below with 0 chunks received, matching the oracle's closed form.
    idx_seq = F.when(
        F.col("n_chunks") >= 1, F.sequence(F.lit(0), F.col("n_chunks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    chunks = base.select(
        "doc_id",
        "planted",
        F.posexplode(idx_seq).alias("idx", "_"),
        F.col("payload"),
    ).select(
        "doc_id",
        "idx",
        F.expr(f"substring(payload, idx * {_P11_CHUNK} + 1, {_P11_CHUNK})").alias("chunk"),
        "planted",
    )
    # the planted in-flight loss: chunk #1 (the second) of every 17th doc
    delivered = chunks.where(~(F.col("planted") & (F.col("idx") == 1)))
    reasm = (
        delivered.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_chunks_received"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                    lambda s: s.getField("chunk"),
                ),
                F.expr("CAST('' AS BINARY)"),
                lambda acc, c: F.concat(acc, c),
            ).alias("received"),
        )
        .select(
            "doc_id",
            "n_chunks_received",
            F.length("received").cast("bigint").alias("bytes_received"),
            F.col("received"),
        )
    )
    empty_bin = F.expr("CAST('' AS BINARY)")
    return (
        base.select("doc_id", "payload")
        .join(reasm, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks_received", F.lit(0)).alias("n_chunks_received"),
            F.coalesce("bytes_received", F.lit(0).cast("bigint")).alias("bytes_received"),
            (
                F.md5(F.coalesce("received", empty_bin)) == F.md5("payload")
            ).alias("intact"),
            F.md5(F.coalesce("received", empty_bin)).alias("digest"),
        )
        .orderBy("doc_id")
    )


qp11_binary_chunk_transport.__doc__ = qp11_binary_chunk_transport.__doc__.replace(
    "{chunk}", str(_P11_CHUNK)
)


# ---------------------------------------------------------------------------
# p12 — collation-aware JOIN (UTF8_LCASE equi-join)

_P12_ORACLE = """
WITH dim AS (
  SELECT DISTINCT lower(o_orderpriority) AS pk FROM orders
)
SELECT dim.pk,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(o.o_orderkey) AS BIGINT) AS sum_keys,
       CAST(SUM(CASE WHEN o.o_orderpriority = dim.pk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_binary_equal
FROM dim LEFT JOIN orders o ON lower(o.o_orderpriority) = dim.pk
GROUP BY dim.pk
ORDER BY dim.pk
"""


@query(
    "qp12_collated_join",
    oracle=_P12_ORACLE,
    tags=("join", "collation"),
)
def qp12_collated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLATION-AWARE EQUI-JOIN under the hash gate: n05 certified
    collated GROUPING; this certifies the JOIN operator path — a
    lowercase dimension joins the mixed-case fact on a UTF8_LCASE
    collated key, so the hash join's equality (and its hashing!) must
    be collation-aware, not byte-wise. The in-hash n_binary_equal
    column counts joined rows whose keys are ALSO byte-equal — 0 for
    this uppercase corpus — proving the matches came from the
    collation, not from incidentally equal strings; the oracle
    replays with lower() normalization (the pre-collation idiom the
    feature replaces).

    Scale: a collated join shuffles on the collation key exactly like
    a binary join (Spark hashes the collation sort key); the
    alternative lower()-wrapping blocks pushdown of any other
    predicate on the raw column — the collated form keeps the column
    intact for pruning.
    """
    o = table(spark, sf_dir, "orders")
    dim = (
        o.select(F.lower(F.col("o_orderpriority")).alias("pk"))
        .distinct()
        .transform(cut_lineage)  # bounded dictionary, reused as build side
    )
    ck = "collate(%s, 'UTF8_LCASE')"
    joined = dim.join(
        o,
        F.expr(ck % "pk") == F.expr(ck % "o_orderpriority"),
        "left",
    )
    return (
        joined.groupBy("pk")
        .agg(
            F.count(F.col("o_orderkey")).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
            F.sum((F.col("o_orderpriority") == F.col("pk")).cast("int"))
            .cast("bigint")
            .alias("n_binary_equal"),
        )
        .orderBy("pk")
    )


# ---------------------------------------------------------------------------
# p13 — stream-static join (per-batch dimension enrichment)

_P13_ORACLE = """
SELECT c.c_mktsegment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(e.event_id) AS BIGINT) AS sum_event_id,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment, e.event_type
ORDER BY c.c_mktsegment, e.event_type
"""


@query(
    "qp13_stream_static_join",
    oracle=_P13_ORACLE,
    tags=("streaming", "join", "audit"),
)
def qp13_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN under the hash gate — the one join flavor the
    streaming family (qb35 inner interval, o15 left-outer, p07 state)
    had not certified: the events stream joins a STATIC dimension
    (customer, broadcast per micro-batch) — no join state is kept for
    the static side at all, which is exactly the 100 TB point: a
    stream x dim enrichment must not buffer the dim in the state
    store, it re-resolves it each batch (picking up dim updates
    between batches for free). The enriched rows land in a parquet
    sink across the 3-chunk replay; the per-(segment, type) rollup of
    the SINK — counts, id sums, distinct users — is hash-matched
    against the relational join, so a dropped or duplicated
    enrichment in ANY batch breaks the gate. Every event's user
    resolves (pinned in tests), so inner-join semantics lose nothing.

    Scale: the dim side is broadcast (plan pinned in tests — no
    shuffle of the stream for the join); each micro-batch is one
    map-side join pass; the stream side never shuffles until the
    post-hoc audit rollup.
    """
    import os

    stage = stage_event_chunks(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    root = scratch_dir("p13_target")
    sink = os.path.join(root, "sink")
    stream = replay_stream(spark, stage)
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"], "inner"
    ).select("event_id", "user_id", "event_type", "c_mktsegment")
    drain_available_now(
        enriched.writeStream.format("parquet").option("path", sink).outputMode("append"),
        os.path.join(root, "ckpt"),
        "p13",
    )
    return (
        spark.read.parquet(sink)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


# ---------------------------------------------------------------------------
# p14 — arbitrary stateful sessionizer with EVENT-TIME TIMERS

_P14_GAP_MIN = 30

_P14_ORACLE = f"""
WITH wm AS (
  SELECT MAX(ts) - INTERVAL 1 HOUR - INTERVAL 1 SECOND AS cutoff FROM events
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL {_P14_GAP_MIN} MINUTES OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), sess AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), agg AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL {_P14_GAP_MIN} MINUTES AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(event_id) AS BIGINT) AS sum_ids
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, sum_ids
FROM agg, wm
WHERE session_end <= cutoff
ORDER BY user_id, session_start
"""


@query(
    "qp14_stateful_timer_sessions",
    oracle=_P14_ORACLE,
    tags=("streaming", "udf", "audit"),
)
def qp14_stateful_timer_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY STATEFUL PROCESSING WITH EVENT-TIME TIMERS under the
    hash gate (applyInPandasWithState + GroupStateTimeout.
    EventTimeTimeout — every prior arbitrary-state key used NoTimeout,
    so the TIMER half of the API was uncertified): a custom per-user
    sessionizer keeps the open session in state, closes it
    EVENT-DRIVEN when a same-user event lands beyond the gap, and
    TIMER-DRIVEN when the watermark passes last_event + gap with no
    successor (state.hasTimedOut -> emit + remove) — the close path
    F.session_window cannot express custom variants of (p04 is the
    built-in twin; this is how per-key TTL/session logic is built
    when the built-in shape doesn't fit). Timer law: the timeout
    timestamp set to last+gap is always > the current watermark
    (late rows never reach the function), and a timed-out group's
    state is removed exactly once. Both engines keep sessions whose
    end clears the final watermark by >= 1 s (the p04 guard band);
    every such session is provably emitted — by a successor event or
    by the terminal no-data batch's timer sweep.

    Scale: state is one open session per active user (eviction by
    timer — bounded by the gap horizon x active users, never corpus
    keys); each micro-batch shuffles once on user_id; Arrow-batched
    pandas, no row-at-a-time Python.
    """
    import os

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = _P14_GAP_MIN * 60 * 1_000_000
    stage = stage_event_chunks(spark, sf_dir)
    max_ts = spark.read.parquet(stage).agg(F.max("ts")).first()[0]  # bounded scalar
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=1, seconds=1)

    out_schema = (
        "user_id bigint, start_us bigint, end_us bigint, n_events bigint, sum_ids bigint"
    )
    state_schema = "start_us bigint, last_us bigint, n bigint, sum_ids bigint"

    def sessionize(key, pdfs, state: GroupState):
        uid = key[0]
        if state.hasTimedOut:
            start_us, last_us, n, sum_ids = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": uid,
                        "start_us": start_us,
                        "end_us": last_us + gap_us,
                        "n_events": n,
                        "sum_ids": sum_ids,
                    }
                ]
            )
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").tolist()
        ids = rows["event_id"].tolist()
        if state.exists:
            start_us, last_us, n, sum_ids = state.get
        else:
            start_us = last_us = None
            n = sum_ids = 0
        closed = []
        for t, eid in zip(ts_us, ids):
            if start_us is None:
                start_us, last_us, n, sum_ids = t, t, 1, eid
            elif t - last_us > gap_us:
                closed.append((start_us, last_us, n, sum_ids))
                start_us, last_us, n, sum_ids = t, t, 1, eid
            else:
                last_us, n, sum_ids = t, n + 1, sum_ids + eid
        state.update((start_us, last_us, n, sum_ids))
        # ms-epoch timer: fires when the watermark passes the session end
        state.setTimeoutTimestamp(last_us // 1000 + _P14_GAP_MIN * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                [
                    {
                        "user_id": uid,
                        "start_us": s,
                        "end_us": l + gap_us,
                        "n_events": nn,
                        "sum_ids": si,
                    }
                    for s, l, nn, si in closed
                ]
            )

    root = scratch_dir("p14_target")
    sink = os.path.join(root, "sink")
    stream = replay_stream(spark, stage)
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )
    drain_available_now(
        sess.writeStream.format("parquet").option("path", sink).outputMode("append"),
        os.path.join(root, "ckpt"),
        "p14",
    )
    return (
        spark.read.parquet(sink)
        .select(
            "user_id",
            F.timestamp_micros(F.col("start_us")).alias("session_start"),
            F.timestamp_micros(F.col("end_us")).alias("session_end"),
            "n_events",
            "sum_ids",
        )
        .where(F.col("session_end") <= F.lit(cutoff))
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# p15 — multi-source UNION stream (per-source offsets, min-of-sources watermark)

_P15_ORACLE = """
WITH unioned AS (
  SELECT 'a' AS src, ts, event_id FROM events
  UNION ALL
  SELECT 'b' AS src, ts + INTERVAL 15 MINUTES AS ts, event_id + 10000000 AS event_id
  FROM events
), wm AS (
  -- each source has its OWN watermark operator (applied BEFORE the
  -- union); the global watermark under multipleWatermarkPolicy=min is
  -- the MIN of the two sources' maxima minus the delay (source a tops
  -- out 15 min before source b, so a's maximum governs)
  SELECT MAX(ts) - INTERVAL 15 MINUTES - INTERVAL 1 HOUR - INTERVAL 1 SECOND AS cutoff
  FROM unioned
), agg AS (
  SELECT src, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(event_id) AS BIGINT) AS sum_ids
  FROM unioned GROUP BY 1, 2
)
SELECT src, day, n, sum_ids
FROM agg, wm
WHERE day + INTERVAL 1 DAY <= cutoff
ORDER BY src, day
"""


@query(
    "qp15_stream_union_two_sources",
    oracle=_P15_ORACLE,
    tags=("streaming", "audit"),
)
def qp15_stream_union_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-SOURCE UNION STREAM under the hash gate: TWO independent
    file-stream sources (the shared tercile staging, and a derived
    replica shifted +15 min / +10M ids) union into ONE streaming
    query — one checkpoint tracks BOTH sources' offsets independently
    (6 micro-batches total: maxFilesPerTrigger=1 alternates the
    sources' files), and each source carries its OWN withWatermark
    operator BEFORE the union, so the global watermark is genuinely
    the multipleWatermarkPolicy=min of the two sources' maxima minus
    the delay, which the oracle derives closed-form (source a tops
    out 15 min before source b, so a's maximum governs — a post-union
    single watermark would instead track the union's max, i.e. source
    b's, and could emit windows past the min-of-sources cutoff; the
    guard-band post-filter makes both engines comparable either way,
    but the per-source placement is what puts the min policy genuinely
    in play). Per-(source, day) tumbling counts land in
    an append sink; both engines keep days clearing the final
    watermark by >= 1 s (the p04 guard band). A dropped file from
    EITHER source, a mixed-up offset ledger, or a wrong min-of-sources
    watermark breaks the hash.

    Scale: union of streams is the standard multi-region/multi-topic
    ingest shape; each source scales its own file listing, the union
    costs nothing (no shuffle), and the windowed rollup shuffles once
    on the window key.
    """
    import datetime
    import os

    stage_a = stage_event_chunks(spark, sf_dir)
    max_a = spark.read.parquet(stage_a).agg(F.max("ts")).first()[0]  # bounded scalar
    cutoff = max_a - datetime.timedelta(hours=1, seconds=1)  # min-of-sources wm - 1 s
    root = scratch_dir("p15_target")
    # source b: the +15 min / +10M replica, staged once per call root
    stage_b = os.path.join(root, "stage_b")
    os.makedirs(stage_b)
    for f in sorted(os.listdir(stage_a)):
        if not f.endswith(".parquet"):
            continue
        shifted = spark.read.parquet(os.path.join(stage_a, f)).select(
            (F.col("event_id") + F.lit(10_000_000)).alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        _write_single_file(shifted, os.path.join(stage_b, f))
    _order_stage_files(stage_b)
    src_a = (
        replay_stream(spark, stage_a)
        .select(F.lit("a").alias("src"), "ts", "event_id")
        .withWatermark("ts", "1 hour")
    )
    src_b = (
        replay_stream(spark, stage_b)
        .select(F.lit("b").alias("src"), "ts", "event_id")
        .withWatermark("ts", "1 hour")
    )
    # Each source carries its OWN watermark operator; the query's global
    # watermark is governed by spark.sql.streaming.multipleWatermarkPolicy
    # (default "min"), i.e. min(max_a, max_b) - 1h = max_a - 1h here —
    # the genuine min-of-sources law the oracle derives closed-form. A
    # single post-union withWatermark would instead track the UNION's
    # max (source b), which is NOT the property this key certifies.
    unioned = src_a.unionByName(src_b)
    agg = (
        unioned.groupBy("src", F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select("src", F.col("w.start").alias("day"), "n", "sum_ids")
    )
    sink = os.path.join(root, "sink")
    drain_available_now(
        agg.writeStream.format("parquet").option("path", sink).outputMode("append"),
        os.path.join(root, "ckpt"),
        "p15",
    )
    return (
        spark.read.parquet(sink)
        .where(F.col("day") + F.expr("INTERVAL 1 DAY") <= F.lit(cutoff))
        .orderBy("src", "day")
    )


# ---------------------------------------------------------------------------
# p16 — sorted-run writer audit (maxRecordsPerFile + _metadata read-back)

_P16_PER_FILE = 2000

_P16_ORACLE = f"""
WITH numbered AS (
  SELECT ts, event_id,
         ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn
  FROM events
)
SELECT CAST(rn // {_P16_PER_FILE} AS BIGINT) AS file_idx,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(ts) AS min_ts,
       MAX(ts) AS max_ts,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids
FROM numbered
GROUP BY 1
ORDER BY file_idx
"""


@query(
    "qp16_sorted_run_writer_audit",
    oracle=_P16_ORACLE,
    tags=("sink", "audit"),
)
def qp16_sorted_run_writer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-RUN WRITER under the hash gate (maxRecordsPerFile +
    _metadata read-back): events globally sorted by (ts, event_id) are
    written as a single sorted run with maxRecordsPerFile=
    {_P16_PER_FILE}, so the WRITER must split the run into exact
    sequential {_P16_PER_FILE}-row files; reading the sink back with
    _metadata.file_path and grouping per physical file must reproduce
    exactly the closed-form chunks of the sorted order (file k = rows
    [k*{_P16_PER_FILE}, (k+1)*{_P16_PER_FILE})), which the oracle
    derives with ROW_NUMBER arithmetic — file identity via the rank of
    each file's minimum timestamp (physical file names are
    nondeterministic; their CONTENT boundaries are not). This is the
    write-side contract time-ordered 100 TB sinks rely on: bounded
    file sizes WITHOUT breaking the sort (each file is a contiguous
    time slice, so downstream readers prune files by min/max ts).

    Scale note (audit-scale single run): the global sort here uses
    coalesce(1) to pin one writer task; production writes sort WITHIN
    range partitions (repartitionByRange + sortWithinPartitions) and
    apply the same maxRecordsPerFile contract per task.
    """
    import os

    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    root = scratch_dir("p16_target")
    out = os.path.join(root, "sorted")
    (
        e.select("ts", "event_id")
        .orderBy("ts", "event_id")
        .coalesce(1)  # one writer task => one global sorted run (audit scale)
        .write.option("maxRecordsPerFile", _P16_PER_FILE)
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "ts", "event_id", F.col("_metadata.file_path").alias("fp")
    )
    per_file = back.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.sum("event_id").cast("bigint").alias("sum_ids"),
    )
    # (min_ts, min_event_id) is a UNIQUE per-file key even when 2000+
    # consecutive rows share one timestamp (the run is sorted by
    # (ts, event_id), so adjacent files can tie on min_ts alone).
    w = W.orderBy(F.asc("min_ts"), F.asc("min_event_id"))  # bounded: one row per physical file
    return (
        per_file.select(
            (F.row_number().over(w) - 1).cast("bigint").alias("file_idx"),
            "n_rows",
            "min_ts",
            "max_ts",
            "sum_ids",
        )
        .orderBy("file_idx")
    )


qp16_sorted_run_writer_audit.__doc__ = qp16_sorted_run_writer_audit.__doc__.replace(
    "{_P16_PER_FILE}", str(_P16_PER_FILE)
)


# ---------------------------------------------------------------------------
# p17 — NTILE equi-depth bucketing (the last uncovered rank-family member)

_P17_TILES = 8

_P17_ORACLE = f"""
WITH tiled AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         NTILE({_P17_TILES}) OVER (PARTITION BY o_orderstatus
                                   ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
SELECT o_orderstatus, CAST(bucket AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
FROM tiled
GROUP BY o_orderstatus, bucket
ORDER BY o_orderstatus, bucket
"""


@query(
    "qp17_ntile_equidepth",
    oracle=_P17_ORACLE,
    tags=("window", "agg"),
)
def qp17_ntile_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE equi-depth bucketing under the hash gate — the one
    rank-family window function (rank/dense_rank/row_number/
    percent_rank/cume_dist are covered by the q20-family) the engine
    had not certified: {n} equal-depth price buckets per order status,
    with the uneven-remainder law (the first `count mod n` buckets get
    the extra row) and the tie law (equal prices split across a bucket
    boundary by the unique-key sort tiebreak — NTILE is order-
    dependent, so the ORDER BY carries o_orderkey to make both engines
    walk one total order) both in-hash via per-bucket counts, price
    ranges, and key sums. Equi-DEPTH is the histogram the quantile
    keys (qf23, q92's equi-width) don't give: every bucket holds the
    same weight, so downstream samplers draw uniformly from each.

    Scale: one window shuffle on the partition key; NTILE is a
    streaming window function (no buffering beyond the partition
    run) and the rollup is map-side combined.
    """
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.ntile(_P17_TILES).over(w).alias("bucket"),
        )
        .groupBy("o_orderstatus", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
        )
        .orderBy("o_orderstatus", "bucket")
    )


qp17_ntile_equidepth.__doc__ = qp17_ntile_equidepth.__doc__.replace("{n}", str(_P17_TILES))
