"""Round-13 staged suite: genuinely-NEW ENGINE SURFACE keyed z01+ so it
sorts AFTER every q* key — outside the round-13 driver window (o08-o19
+ p18-p56 fill all 50 slots; guard tests in tests/test_entry.py and
tests/test_rsuite.py). Per the rotation scheme in __spark_entry__.py
these rename into the round-14 window (the round-3 z->e precedent:
number is the query's identity, the prefix only controls sort order).

Wave 1 — the pandas-on-Spark LONG TAIL (p23-p39 opened the family;
these are the reshape/ordered-window/encode surfaces it left out):

  z01  ps.melt + ps.DataFrame.stack — BOTH wide-to-long reshapes over
       the same per-source stats matrix, each hash-gated against a
       UNION ALL oracle, plus the in-hash law that melt and stack
       produce the SAME long relation (exceptAll both ways == 0).
  z02  ps.groupby(...).expanding() — cumulative count/sum/max per
       source in INDEX ORDER; the oracle replays it as running window
       aggregates ordered by doc_id, so the pandas "expanding over the
       sorted index" convention itself is what the hash certifies.
  z03  ps.DataFrame.ewm(alpha).mean() — the exponentially-weighted
       mean over an index-sorted bounded series; the oracle replays
       adjust=True weights ((1-a)^(i-j)) with an O(n^2) self-join at
       oracle scale, pround-pinned (the qj26 float discipline).
  z04  ps.get_dummies — one-hot encoding of o_orderpriority summed per
       order status; the oracle replays each dummy column as a CASE
       sum, so the encoder's column naming AND its 0/1 semantics land
       in-hash (a contingency twin of p38 reached via the encoder).

Wave 2 — streaming certification surface (the stream twin of p19, the
RocksDB/changelog/join-state combination, restart-resume, output
modes):

  z05  DataSourceStreamWriter COMMIT/REPLAY protocol — a real
       checkpoint-recovery replay (the last commit marker is removed,
       the engine re-runs the batch) must be DISCARDED by the sink's
       batch-id ledger: rows stay exactly-once, ledger stays 3 lines,
       no temp orphans. The filesystem facts ride the hash beside the
       read-back rollup.
  z06  RocksDB + changelog checkpointing + STREAM-STREAM JOIN state —
       qo26 certified changelog on agg state, p07/p29 join state on
       the default provider; this key runs the join under RocksDB
       with changelog enabled, hash-gates the join result, and
       asserts the changelog artifacts exist in the checkpoint.
  z07  CHECKPOINT RESTART RESUME — run a file-source stream over two
       staged tranches, stop, stage two more, restart from the SAME
       checkpoint: every row lands exactly once (the resume law that
       makes file backlogs safely restartable); per-phase batch
       counts and a duplicate probe ride the hash.
  z08  OUTPUT-MODE MATRIX — the same windowed aggregate run to
       completion under append, update, and complete modes; complete
       is hash-gated against the relational rollup, and the cross-
       mode laws (append == complete once watermark passes; update's
       last emission per key == complete) ride as facts.

Wave 3 — catalog / caching / API surface:

  z09  GLOBAL TEMP VIEWS + catalog introspection — global_temp
       crosses sessions, session-local temp views do not; both laws
       plus catalog listings ride beside a rollup queried THROUGH the
       global view from a sibling session.
  z10  SHOW PARTITIONS + recoverPartitions — an external
       hive-partitioned table whose partitions are discovered by
       MSCK-style recovery; the partition listing hash-matches the
       distinct partition values and a rollup through the repaired
       table matches the relational baseline.
  z11  CACHE/PERSIST AUDIT — persist() materializes an
       InMemoryRelation (plan fact), CACHE TABLE + catalog.isCached
       agree (catalog fact), the cached result hash-matches the
       uncached relational baseline, and unpersist() restores the
       scan plan.
  z12  ARROW-OPTIMIZED PYTHON UDF (useArrow=True) — the 4.x scalar
       UDF fast path: ArrowEvalPython in the plan (fact) and the
       UDF's arithmetic hash-matched against the same expression in
       pure SQL (declared python-UDF surface, Arrow-batched).
  z13  unionByName(allowMissingColumns=True) — schema-aligned union
       across two differently-shaped, differently-ORDERED
       projections; the oracle replays it as UNION ALL with explicit
       NULL padding, so positional-union bugs break the hash.

Wave 4 — pandas-on-Spark tail (2) + training-pipeline ordering:

  z14  ps.resample('1D') over a datetime index — calendar-day bins
       INCLUDING EMPTY BINS (the pandas convention group-by can't
       express); the oracle replays it with generate_series.
  z15  ps .str / .dt accessors — the accessor surface compiled to
       Catalyst expressions, hash-matched against the SQL string/date
       equivalents.
  z16  pandas_api()/to_pandas ROUND-TRIP LAW — Spark -> ps ->
       driver pandas -> Spark preserves values, dtypes, and row
       count on a bounded, documented subset (the interchange
       contract; the toArrow twin of p39).
  z17  CURRICULUM INTERLEAVE — difficulty-bucketed round-robin
       ordering for training-data scheduling: quintile buckets by
       n_chars, row_number within bucket, global order (rn, bucket);
       the oracle replays the window arithmetic exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.functions.deterministic import pround, sql_pround
from pyspark_distributed_kmodes_spark.operators.analytics12 import (
    _O19_PROVIDER_KEY,
    _O19_ROCKSDB,
    _O26_CHANGELOG_KEY,
)
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scoped_conf, scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table
from pyspark_distributed_kmodes_spark.streaming.jobs import (
    drain_available_now,
    replay_stream,
    stage_event_chunks,
)

# ---------------------------------------------------------------------------
# z01 — ps.melt + ps.DataFrame.stack (wide-to-long, both reshapes)

_Z01_ORACLE = """
WITH stats AS (
  SELECT source,
         CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(n_chars) AS DOUBLE) AS sum_chars,
         CAST(MAX(n_chars) AS DOUBLE) AS max_chars
  FROM documents GROUP BY source
)
SELECT source, stat, value, CAST(1 AS INTEGER) AS melt_eq_stack
FROM (
  SELECT source, 'n_docs' AS stat, n_docs AS value FROM stats
  UNION ALL
  SELECT source, 'sum_chars', sum_chars FROM stats
  UNION ALL
  SELECT source, 'max_chars', max_chars FROM stats
)
ORDER BY source, stat
"""


@query(
    "z01_pandas_on_spark_melt_stack",
    oracle=_Z01_ORACLE,
    tags=("api", "pandas", "reshape"),
)
def z01_pandas_on_spark_melt_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ps.melt AND ps.DataFrame.stack under one hash gate — the two
    wide-to-long reshapes the pandas-on-Spark coverage (p23-p39)
    never exercised. A per-source stats matrix (count / sum / max of
    n_chars over documents) is melted with value_vars naming the
    three stat columns, and independently stacked (set_index(source)
    .stack()); the law that both produce the SAME long relation rides
    the hash as melt_eq_stack (exceptAll in both directions == 0
    rows). The oracle replays the reshape as a UNION ALL, so melt's
    var/value naming, stack's index handling, and the double
    unification of the value column are all value-pinned.

    Scale: melt compiles to an explode over a struct array (one
    narrow projection, no shuffle beyond the setup groupby); stack is
    the same expansion via the MultiIndex path. Neither touches the
    driver — the wide frame here is group-level (|sources| rows), and
    the reshape itself is row-local at any corpus size.
    """
    import pyspark.pandas as ps

    table(spark, sf_dir, "documents")
    psdf = ps.read_parquet(f"{sf_dir}/documents.parquet", index_col="doc_id")
    wide = (
        psdf.reset_index()
        .groupby("source")
        .agg(
            n_docs=("doc_id", "count"),
            sum_chars=("n_chars", "sum"),
            max_chars=("n_chars", "max"),
        )
        .reset_index()
    )
    wide = wide.astype({"n_docs": "double", "sum_chars": "double", "max_chars": "double"})

    melted = wide.melt(
        id_vars=["source"],
        value_vars=["n_docs", "sum_chars", "max_chars"],
        var_name="stat",
        value_name="value",
    )
    stacked = wide.set_index("source").stack().rename("value").reset_index()
    # level_1 is the stacked column name
    stacked = stacked.rename(columns={"level_1": "stat"})

    m = melted.to_spark().select("source", "stat", F.col("value").cast("double").alias("value"))
    s = stacked.to_spark().select("source", "stat", F.col("value").cast("double").alias("value"))
    same = int(m.exceptAll(s).count() == 0 and s.exceptAll(m).count() == 0)
    return (
        m.withColumn("melt_eq_stack", F.lit(same).cast("int"))
        .orderBy("source", "stat")
    )


# ---------------------------------------------------------------------------
# z02 — ps.groupby(...).expanding(): cumulative windows in index order

_Z02_ORACLE = """
SELECT source, doc_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS cum_n,
       CAST(SUM(n_chars) OVER w AS BIGINT) AS cum_chars,
       CAST(MAX(n_chars) OVER w AS BIGINT) AS cum_max
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY source, doc_id
"""


@query(
    "z02_pandas_on_spark_expanding",
    oracle=_Z02_ORACLE,
    tags=("api", "pandas", "window"),
)
def z02_pandas_on_spark_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ps.groupby(...).expanding() under the hash gate — the pandas
    cumulative-window surface (p28 covered rolling's FIXED width;
    expanding is the unbounded-preceding flavor with its own
    min_periods edge). count/sum/max of n_chars accumulate per source
    in INDEX ORDER over a doc_id-indexed, sort_index()-ed frame; the
    oracle replays them as running window aggregates ordered by
    doc_id — so the "expanding walks the sorted index" convention,
    min_periods=1 emission from the first row, and the dtype of each
    accumulator are all value-pinned.

    Scale: ExpandingGroupby compiles to Catalyst window frames
    (PARTITION BY source ORDER BY index ROWS UNBOUNDED PRECEDING) —
    one shuffle on the group key, per-partition sorted scan, no
    driver involvement; identical to the hand-written running-total
    plan a DataFrame user would reach for.
    """
    import pyspark.pandas as ps

    table(spark, sf_dir, "documents")
    psdf = ps.read_parquet(f"{sf_dir}/documents.parquet", index_col="doc_id").sort_index()
    g = psdf.groupby("source")[["n_chars"]].expanding()
    cum_n = g.count().rename(columns={"n_chars": "cum_n"})
    cum_sum = g.sum().rename(columns={"n_chars": "cum_chars"})
    cum_max = g.max().rename(columns={"n_chars": "cum_max"})

    out = (
        cum_n.to_spark(index_col=["source", "doc_id"])
        .join(cum_sum.to_spark(index_col=["source", "doc_id"]), ["source", "doc_id"])
        .join(cum_max.to_spark(index_col=["source", "doc_id"]), ["source", "doc_id"])
    )
    return out.select(
        "source",
        "doc_id",
        F.col("cum_n").cast("bigint").alias("cum_n"),
        F.col("cum_chars").cast("bigint").alias("cum_chars"),
        F.col("cum_max").cast("bigint").alias("cum_max"),
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# z03 — ps.DataFrame.ewm(alpha=0.5).mean() over an index-sorted series

_Z03_N = 60  # bounded, documented: the oracle replay is O(n^2) by design


def _z03_oracle() -> str:
    return f"""
WITH ranked AS (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS i
  FROM orders
  ORDER BY o_orderkey LIMIT {_Z03_N}
),
pairs AS (
  SELECT a.o_orderkey, a.i,
         SUM(b.o_totalprice * POWER(0.5, a.i - b.i)) AS num,
         SUM(POWER(0.5, a.i - b.i)) AS den
  FROM ranked a JOIN ranked b ON b.i <= a.i
  GROUP BY a.o_orderkey, a.i
)
SELECT o_orderkey, {sql_pround('num / den', 6)} AS ewm_price
FROM pairs
ORDER BY o_orderkey
"""


@query(
    "z03_pandas_on_spark_ewm",
    oracle=_z03_oracle(),
    tags=("api", "pandas", "window"),
)
def z03_pandas_on_spark_ewm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ps.DataFrame.ewm(alpha).mean() under the hash gate — the
    exponentially-weighted surface of the pandas dialect. The engine
    runs the REAL ps.ewm over an o_orderkey-indexed, sort_index()-ed
    bounded series (the first {n} orders); the oracle re-derives
    adjust=True semantics from the definition — y_i = sum_j (1-a)^(i-j)
    x_j / sum_j (1-a)^(i-j) — with an O(n^2) self-join that is
    EXPRESSLY oracle-scale-only (the engine side is a linear Catalyst
    window chain). alpha=0.5 keeps the weights exact in binary;
    pround(6) absorbs summation-order ulps (the qj26 discipline).

    Scale: the bounded subset is the AUDIT, not the operator — ps.ewm
    compiles to a linear recurrence over a sorted window exactly like
    expanding(); a 100 TB series runs the same per-partition sorted
    pass. The quadratic replay lives only in the DuckDB oracle.
    """
    import pyspark.pandas as ps

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(_Z03_N)
    )
    psdf = o.pandas_api(index_col="o_orderkey").sort_index()
    ew = psdf.ewm(alpha=0.5).mean().rename(columns={"o_totalprice": "ewm_price"})
    return (
        ew.to_spark(index_col="o_orderkey")
        .select("o_orderkey", pround(F.col("ewm_price"), 6).alias("ewm_price"))
        .orderBy("o_orderkey")
    )


z03_pandas_on_spark_ewm.__doc__ = z03_pandas_on_spark_ewm.__doc__.replace("{n}", str(_Z03_N))


# ---------------------------------------------------------------------------
# z04 — ps.get_dummies one-hot encoding, summed per order status

_Z04_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS pri_1_urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS pri_2_high,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS pri_3_medium,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS pri_4_not_specified,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS pri_5_low
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "z04_pandas_on_spark_get_dummies",
    oracle=_Z04_ORACLE,
    tags=("api", "pandas", "encode"),
)
def z04_pandas_on_spark_get_dummies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ps.get_dummies under the hash gate — one-hot encoding, the
    feature-engineering front door of the pandas dialect. Every
    order's o_orderpriority expands to five 0/1 dummy columns over
    the FULL orders table; the dummies are then summed per order
    status, so each (status, priority) cell of the implied
    contingency matrix — reached through the ENCODER, not crosstab —
    hash-matches a CASE-sum oracle. Dummy COLUMN NAMING (prefix +
    sanitized category) is pinned by the column-name half of the
    driver compare.

    Scale: get_dummies on a known category set compiles to row-local
    CASE projections (no shuffle, no driver category collection
    beyond the distinct scan ps performs once); the follow-up sum is
    one map-side-combinable groupby. The encoder is exactly what a
    training pipeline runs before packing categorical features.
    """
    import pyspark.pandas as ps

    table(spark, sf_dir, "orders")
    psdf = ps.read_parquet(f"{sf_dir}/orders.parquet", index_col="o_orderkey")[
        ["o_orderstatus", "o_orderpriority"]
    ]
    dummies = ps.get_dummies(
        psdf, columns=["o_orderpriority"], prefix={"o_orderpriority": "pri"}, dtype="int64"
    )
    agg_map = {c: "sum" for c in dummies.columns if c.startswith("pri_")}
    out = dummies.groupby("o_orderstatus").agg(agg_map)
    sdf = out.reset_index().to_spark()

    def _norm(c: str) -> str:
        return (
            c.lower()
            .replace("pri_", "pri_")
            .replace("-", "_")
            .replace(" ", "_")
            .replace("__", "_")
        )

    renamed = sdf.select(
        "o_orderstatus",
        *[F.col(f"`{c}`").cast("bigint").alias(_norm(c)) for c in sdf.columns if c != "o_orderstatus"],
    )
    n = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    return (
        n.join(renamed, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n_orders",
            "pri_1_urgent",
            "pri_2_high",
            "pri_3_medium",
            "pri_4_not_specified",
            "pri_5_low",
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# z05 — DataSourceStreamWriter commit/replay protocol (stream twin of p19)

_Z05_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(3 AS INTEGER) AS ledger_batches,
       CAST(3 AS INTEGER) AS ledger_batches_after_replay,
       CAST(1 AS INTEGER) AS replay_discarded,
       CAST(0 AS INTEGER) AS tmp_orphans_after_replay
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "z05_stream_sink_replay_protocol",
    oracle=_Z05_ORACLE,
    tags=("streaming", "sink", "datasource", "audit"),
)
def z05_stream_sink_replay_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSourceStreamWriter COMMIT/REPLAY PROTOCOL under the hash
    gate — the STREAM twin of p19's batch commit/abort audit, driven
    by a REAL checkpoint-recovery replay rather than a planted unit
    call: the events terciles stream through the Python jsonl sink
    (3 micro-batches, batch-id ledger appended per commit), then the
    engine-side commit marker of the LAST batch is removed from the
    checkpoint and the SAME query restarts — Structured Streaming
    re-executes that batch (its offsets are durable; the source replay
    is deterministic), hands the sink the SAME batchId, and the sink's
    ledger must DISCARD the republish: ledger stays 3 lines, the
    published batch-file set is unchanged, no temp shard survives.
    The read-back per-type rollup hash-matches the full relational
    aggregate, so a doubled batch, a dropped batch, or a partial
    publish all break the gate; the ledger/file-count/orphan facts
    ride beside it.

    Scale: recovery replays are a FACT OF LIFE at 1000 executors (any
    driver restart re-runs the last uncommitted batch); per-batch
    idempotence via the sink's own ledger is what upgrades "at least
    once" to "exactly once" without coordinating with the engine. The
    ledger is one JSON line per batch — driver state stays O(batches).
    """
    import glob as g
    import os

    from pyspark_distributed_kmodes_spark.sources import jsonl

    jsonl.register(spark)
    stage = stage_event_chunks(spark, sf_dir)
    root = scratch_dir("z05_target")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")

    def _run() -> None:
        src = replay_stream(spark, stage).select("event_id", "event_type")
        drain_available_now(src.writeStream.format("jsonl_docs").option("path", sink), ckpt, "z05")

    def _ledger_lines() -> int:
        path = os.path.join(sink, "_commits.jsonl")
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            return sum(1 for line in f if line.strip())

    def _published() -> list:
        return sorted(g.glob(os.path.join(sink, "batch-*-part-*.jsonl")))

    _run()
    ledger_1 = _ledger_lines()
    files_1 = _published()

    # remove the LAST engine commit marker: on restart the engine must
    # re-execute that batch (same batchId, same deterministic source
    # slice) and the sink must discard the republish
    commits = sorted(
        int(os.path.basename(p))
        for p in g.glob(os.path.join(ckpt, "commits", "*"))
        if os.path.basename(p).isdigit()
    )
    if not commits:
        raise AssertionError("z05: no engine commit markers found in the checkpoint")
    os.remove(os.path.join(ckpt, "commits", str(commits[-1])))
    # the checksum sibling must go too, or the checkpoint file manager
    # reads the dangling .crc as concurrent modification and aborts
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    _run()
    ledger_2 = _ledger_lines()
    files_2 = _published()
    tmp_orphans = len(g.glob(os.path.join(sink, "_tmp-*.jsonl")))
    replay_discarded = int(ledger_2 == ledger_1 and files_2 == files_1)

    back = (
        spark.read.schema("event_id bigint, event_type string")
        .json(os.path.join(sink, "batch-*-part-*.jsonl"))
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_ids",
            F.lit(ledger_1).cast("int").alias("ledger_batches"),
            F.lit(ledger_2).cast("int").alias("ledger_batches_after_replay"),
            F.lit(replay_discarded).cast("int").alias("replay_discarded"),
            F.lit(tmp_orphans).cast("int").alias("tmp_orphans_after_replay"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# z06 — RocksDB + changelog checkpointing + stream-stream JOIN state

_Z06_ORACLE = """
WITH wm AS (
  SELECT least(MAX(CASE WHEN event_type = 'click' THEN ts END),
               MAX(CASE WHEN event_type = 'purchase' THEN ts END))
         - INTERVAL 4 HOURS AS w
  FROM events
)
SELECT side, event_id, user_id, ts,
       CAST(1 AS INTEGER) AS changelog_chain_present,
       CAST(1 AS INTEGER) AS no_zip_snapshots
FROM (
  SELECT 'left' AS side, event_id, user_id, ts
  FROM events, wm
  WHERE event_type = 'click' AND ts + INTERVAL 2 HOURS >= w
  UNION ALL
  SELECT 'right', event_id, user_id, ts
  FROM events, wm
  WHERE event_type = 'purchase' AND ts >= w
)
ORDER BY side, event_id
"""


@query(
    "z06_rocksdb_changelog_join_state",
    oracle=_Z06_ORACLE,
    tags=("streaming", "state", "join", "rocksdb", "audit"),
)
def z06_rocksdb_changelog_join_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROCKSDB + CHANGELOG CHECKPOINTING over STREAM-STREAM JOIN STATE
    under the hash gate — the combination the family audits left open:
    qo19 proved RocksDB provider parity and qo26 the changelog chain,
    both on AGGREGATION state; qp07/p29 proved join-state readback on
    the default provider. Here the qp07 interval join (clicks x
    purchases by user within 2 h, both sides watermarked 4 h, 3-chunk
    chronological replay) runs with RocksDBStateStoreProvider AND
    changelogCheckpointing enabled, so each of the join's FOUR stores
    per partition uploads O(delta) changelogs and, at the default
    snapshot interval, NO zip snapshot — both facts in-hash
    (changelog_chain_present / no_zip_snapshots). The state reader
    then reconstructs BOTH side buffers purely by replaying the
    changelog chains (the recovery path a restarted 100 TB join
    restores through), and the buffered sets must match the
    relational eviction law row-for-row: left retains clicks with
    ts + 2 h >= w, right retains purchases with ts >= w, for terminal
    watermark w = min(side maxima) - 4 h.

    Determinism: batch composition pinned by day-tercile cuts and
    mtime-ordered replay; both confs and the shuffle-partition pin
    are scoped to the run by scoped_conf; the result is
    materialized (lineage cut) before the confs are restored.

    Scale: join state is the dominant streaming-state cost at 100 TB
    (two sides x horizon x rate); RocksDB moves it off-heap/on-disk
    and changelog checkpointing makes per-batch upload O(churn)
    instead of O(buffer) — this key certifies that the combination is
    value-exact, not just that it runs.
    """
    import glob as g
    import os

    from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

    stage = stage_event_chunks(spark, sf_dir)
    root = scratch_dir("z06_target")
    ckpt = os.path.join(root, "ckpt")

    with scoped_conf(
        spark,
        **{
            _O19_PROVIDER_KEY: _O19_ROCKSDB,
            _O26_CHANGELOG_KEY: "true",
            "spark.sql.shuffle.partitions": "8",
        },
    ):
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
        drain_available_now(joined.writeStream.format("noop"), ckpt, "z06")

        changelogs = g.glob(os.path.join(ckpt, "state", "0", "*", "*", "*.changelog"))
        zips = g.glob(os.path.join(ckpt, "state", "0", "*", "*", "*.zip"))
        left_logs = [p for p in changelogs if "left-keyToNumValues" in p]
        right_logs = [p for p in changelogs if "right-keyToNumValues" in p]
        chain = int(len(left_logs) >= 3 and len(right_logs) >= 3)
        no_zips = int(len(zips) == 0)

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
        out = (
            left.unionByName(right)
            .withColumn("changelog_chain_present", F.lit(chain).cast("int"))
            .withColumn("no_zip_snapshots", F.lit(no_zips).cast("int"))
            .orderBy("side", "event_id")
            .transform(cut_lineage)
        )
    return out


# ---------------------------------------------------------------------------
# z07 — checkpoint restart resume: exactly-once across stop + new data

_Z07_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(2 AS INTEGER) AS phase_a_batches,
       CAST(2 AS INTEGER) AS phase_b_new_batches,
       CAST(1 AS INTEGER) AS exactly_once
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "z07_stream_restart_resume",
    oracle=_Z07_ORACLE,
    tags=("streaming", "checkpoint", "audit"),
)
def z07_stream_restart_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RESTART RESUME under the hash gate — the stop /
    new-data / restart lifecycle every production file backlog lives
    through, which the suite's streaming keys (single-run availableNow
    replays) never exercised end-to-end. Phase A streams the first TWO
    chronological event tranches to a parquet sink (availableNow,
    maxFilesPerTrigger=1 -> exactly 2 engine batches) and terminates.
    Two MORE tranches then land in the source directory and the SAME
    query restarts from the SAME checkpoint: the source's seen-files
    log must skip the already-ingested tranches and the engine must
    process exactly the two new ones (2 new commit markers). The
    read-back per-type rollup hash-matches the full-table relational
    aggregate and the exactly_once probe (row count == distinct
    event_id count) rides the hash — a re-ingested tranche, a skipped
    tranche, or a sink double-write all break the gate.

    Scale: restart-resume is THE operational loop of a 100 TB landing
    zone (stop for a deploy, backlog accumulates, restart). The
    seen-files log and commit markers are O(files) and O(batches) —
    driver-sized metadata, never data.
    """
    import glob as g
    import os
    import shutil

    shared = stage_event_chunks(spark, sf_dir, 4)
    root = scratch_dir("z07_target")
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")

    def _run() -> None:
        src = replay_stream(spark, stage).select("event_id", "event_type", "user_id", "ts")
        drain_available_now(src.writeStream.format("parquet").option("path", sink), ckpt, "z07")

    def _n_commits() -> int:
        return len(
            [
                p
                for p in g.glob(os.path.join(ckpt, "commits", "*"))
                if os.path.basename(p).isdigit()
            ]
        )

    # Phase A: first two chronological tranches
    for i in (0, 1):
        shutil.copy2(os.path.join(shared, f"chunk{i}.parquet"), stage)
    _run()
    batches_a = _n_commits()

    # backlog lands while the query is down; restart from the SAME ckpt
    for i in (2, 3):
        shutil.copy2(os.path.join(shared, f"chunk{i}.parquet"), stage)
    _run()
    batches_b_new = _n_commits() - batches_a

    back = spark.read.parquet(sink)
    n_rows = back.count()
    n_distinct = back.select("event_id").distinct().count()
    exactly_once = int(n_rows == n_distinct)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_ids",
            F.lit(batches_a).cast("int").alias("phase_a_batches"),
            F.lit(batches_b_new).cast("int").alias("phase_b_new_batches"),
            F.lit(exactly_once).cast("int").alias("exactly_once"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# z08 — output-mode matrix: append vs update vs complete

_Z08_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(1 AS INTEGER) AS append_subset_of_complete,
       CAST(1 AS INTEGER) AS append_windows_closed,
       CAST(1 AS INTEGER) AS update_keys_cover_complete
FROM events
GROUP BY 1, 2
ORDER BY day_start, event_type
"""


@query(
    "z08_stream_output_mode_matrix",
    oracle=_Z08_ORACLE,
    tags=("streaming", "watermark", "audit"),
)
def z08_stream_output_mode_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTPUT-MODE MATRIX under the hash gate — the SAME per-day
    per-type windowed aggregate replayed three times over identical
    staged micro-batches, once per output mode, into memory sinks:

    - COMPLETE's final snapshot is the product: it must hash-match the
      relational rollup (this is the mode a dashboard sink consumes).
    - APPEND (2 h watermark) may only emit CLOSED windows, exactly
      once, with their FINAL values: every appended row must appear in
      complete with identical values (append_subset_of_complete), and
      every appended window must satisfy window_end <= terminal
      watermark = max(ts) - 2 h (append_windows_closed) — emitting an
      open window, or a closed one with a stale value, breaks the
      fact.
    - UPDATE must touch every key at least once: the distinct key set
      of its accumulated emissions equals complete's key set
      (update_keys_cover_complete) — a mode that skipped re-emitting
      a changed key would show here.

    Scale: the three modes share one plan shape (map-side partial agg,
    one shuffle on the window+type key, state store holds open
    windows); the mode choice only changes WHAT leaves the state
    store per batch — append is O(closed windows), update O(changed
    keys), complete O(all keys). Knowing their laws is what lets a
    100 TB pipeline pick the cheapest sink-compatible mode.
    """
    import os
    import uuid

    stage = stage_event_chunks(spark, sf_dir)
    root = scratch_dir("z08_target")
    tag = uuid.uuid4().hex[:8]
    def _run(mode: str) -> DataFrame:
        src = replay_stream(spark, stage).withWatermark("ts", "2 hours")
        agg = src.groupBy(F.window("ts", "1 day").alias("w"), "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        name = f"z08_{mode}_{tag}"
        drain_available_now(
            agg.writeStream.format("memory").queryName(name).outputMode(mode),
            os.path.join(root, f"ckpt_{mode}"),
            f"z08 {mode}",
        )
        return spark.table(name).select(
            F.col("w.start").alias("day_start"),
            F.col("w.end").alias("day_end"),
            "event_type",
            "n_events",
            "sum_ids",
        )

    # pin state partitioning (the p20/p29 rule): a vanilla 200-partition
    # session would pay 3 x 200 state-store tasks per micro-batch here
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "32"}):
        complete = _run("complete").cache()
        append = _run("append").cache()
        update = _run("update")

        wm = spark.read.parquet(stage).agg(F.max("ts").alias("m")).collect()[0]["m"]  # bounded: 1 row
        import datetime

        terminal_wm = wm - datetime.timedelta(hours=2)

        comp_vals = complete.select("day_start", "event_type", "n_events", "sum_ids")
        app_vals = append.select("day_start", "event_type", "n_events", "sum_ids")
        append_subset = int(app_vals.exceptAll(comp_vals).count() == 0)
        append_closed = int(
            append.where(F.col("day_end") > F.lit(terminal_wm)).count() == 0
        )
        comp_keys = complete.select("day_start", "event_type")
        upd_keys = update.select("day_start", "event_type").distinct()
        update_covers = int(
            comp_keys.exceptAll(upd_keys).count() == 0
            and upd_keys.exceptAll(comp_keys).count() == 0
        )
        out = (
            comp_vals.select(
                "day_start",
                "event_type",
                "n_events",
                "sum_ids",
                F.lit(append_subset).cast("int").alias("append_subset_of_complete"),
                F.lit(append_closed).cast("int").alias("append_windows_closed"),
                F.lit(update_covers).cast("int").alias("update_keys_cover_complete"),
            )
            .orderBy("day_start", "event_type")
            # materialize under the pinned conf (bounded: one row per
            # (day, type) cell), then release the cached snapshots
            .transform(lambda df: spark.createDataFrame(df.collect(), df.schema))
        )
        complete.unpersist()
        append.unpersist()
    return out
