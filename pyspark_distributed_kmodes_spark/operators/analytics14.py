"""Round-12 staged suite: genuinely-NEW ENGINE SURFACE keyed p18+ so it
sorts AFTER p17 and BEFORE q01 — outside the round-12 driver window
(o01-o07 + o68-o99 + p01-p17 fill all 50 slots; guard tests in
tests/test_entry.py and tests/test_rsuite.py). Per the rotation scheme
in __spark_entry__.py these rename into the round-13 window.

  p18  LSH BUCKET ASSIGNMENT AUDIT — the hash-gated twin of qo61
       (random-hyperplane ANN, whose np.random hyperplanes no SQL
       oracle can replay): fix the hyperplanes to a DETERMINISTIC
       md5-parity ±1 rule both engines derive independently (python
       hashlib on the engine side, DuckDB md5() in the oracle), then
       run qo61's EXACT bucketing machinery — 8 tables × 5 sign bits,
       bit packing, bucket keys — with every (table, bucket)
       occupancy and id-sum under the value hash. Converts the LSH
       bucket-routing half of qo61 from rows-only to oracle-gated
       (the recall property stays tested, the qg04 precedent).
  p19  PYTHON DATASOURCE COMMIT/ABORT PROTOCOL AUDIT — a planted
       mid-write task failure kills phase A: abort() must fire and
       ledger it, no partial shard may publish, no _SUCCESS may
       appear; phase B's clean overwrite commit() must publish all
       shards, sweep phase A's orphan temp file, and supersede the
       abort ledger. All six filesystem-observable protocol facts
       ride the hash next to the read-back rollup — the exactly-once
       sink contract qe06's happy path never exercises.
  p20  STATE READER PARTITION PRUNING — the state-store reader's
       snapshotStartBatchId/partition_id surface: read ONE shuffle
       partition's aggregation state and hash-match it against the
       relational aggregate restricted to keys that hash-route to
       that partition (HashPartitioning law), proving state files
       prune by partition instead of full-scanning the store.
  p21  foreachBatch MULTI-SINK FAN-OUT under Trigger.AvailableNow —
       one micro-batch stream writing per-batch to TWO sinks with
       batch-id-tagged rows (the epoch ledger a transactional
       foreachBatch consumer keys idempotence on); both sinks'
       contents and the batch-id partitioning law under the hash.
  p22  BUCKET PRUNING AUDIT — the read-side half of the bucketing
       contract (qb34 proved the exchange-free join): a point lookup
       on the bucket key must scan only the matching bucket files;
       SelectedBucketsCount parsed from the executed plan rides the
       hash as two binary facts beside the looked-up rows.
  p23  PANDAS-ON-SPARK front door (pyspark.pandas) — read_parquet
       with explicit index_col, `//` banding + astype, two-key
       groupby().agg() named aggregations, to_spark(); the pandas
       dialect hash-matched against the relational replay.
  p24  window_time() — the event-time accessor for window aggregates
       (window.end - 1 µs); the off-by-one-microsecond convention
       itself derived closed-form by the oracle.
  p25  DataFrame.transpose (Spark 4.0) — long-to-wide flip whose
       column NAMES come from data; value routing + header derivation
       under the hash via static scalar-subquery columns (the status
       domain is a TPC-H constant).
  p26  PYTHON UDTF WITH TABLE ARGUMENT — TABLE(v) PARTITION BY /
       ORDER BY routing whole partitions into one UDTF instance in a
       promised row order, with a position-weighted checksum making
       the ordering itself hash-detectable.

  p27  JOIN STRATEGY HINTS — the same rollup under BROADCAST / MERGE
       / SHUFFLE_HASH hints: each hinted operator must appear in its
       executed plan, and all three results must be row-identical;
       plan-presence + agreement facts ride the hash.
  p28  PANDAS-ON-SPARK groupby-ROLLING — the pandas window dialect:
       rolling(5, min_periods=1).sum() must compile to ROWS BETWEEN 4
       PRECEDING AND CURRENT ROW (partial leading frames, not NULLs);
       oracle replays the exact frame.

  p29  CHANGE FEED OVER JOIN STATE — readChangeFeed via the storeName
       route (joinSide+readChangeFeed conflict on this build, probed):
       insert/evict churn of the left-keyToNumValues store; presence
       replay vs direct read, insert ledger, and the p07 eviction law
       all in-hash. Values come from the direct read: a batch can
       both shrink and grow one key's count and the feed does not
       expose intra-batch ordering (observed at sf0.1).

  p30  PANDAS-ON-SPARK pivot_table — the reshape member of the
       family: status x priority matrix via groupBy().pivot()
       compilation; data-derived pivot columns renamed to static ids
       over the fixed TPC-H priority domain.
  p31  PARTITION-BASED PYTHON DataSourceStreamReader — the
       executor-side streaming flavor (qc02 covered the Simple
       driver-side one): one InputPartition per new shard,
       one-file-per-batch pacing law and batch count in-hash.
       Trigger.AvailableNow unsupported for Python micro-batch
       streams on this build (probed; processingTime + completion
       poll instead).

  p32  HIVE-STYLE PARTITION PRUNING — the directory sibling of p22:
       partitionBy layout, plan-time PartitionFilters AND the runtime
       touched-file set (_metadata from the result rows) both
       in-hash beside the rollup.

  p33  FILE-STREAM SOURCE HYGIENE (cleanSource=archive) — consumed
       files MOVE to the archive at the start of the next batch, so a
       3-file replay archives exactly the first two; archive counts,
       leftover count, and relocation row conservation all in-hash
       (private staging copy — archiving mutates the source dir).

  p34  LIMIT/OFFSET PAGINATION — DataFrame.offset + limit fused into
       ONE TakeOrderedAndProject(limit=offset+page, offset=n) pass
       (never a global sort); fusion fact + SQL-spelling agreement
       in-hash beside the exact page rows.
  p35  BYTE-CAPPED STREAM ADMISSION — maxBytesPerTrigger set to
       exactly size(file0)+size(file1) (derived at runtime, so the
       law is SF-independent) must admit the first two tercile files
       in batch 0 and the third in batch 1; per-batch aggregates
       replayed by the oracle's tercile-cut rule.
  p36  PANDAS-ON-SPARK merge() — the join member of the ps family:
       left merge onto a mask-filtered frame, NaN-skipping
       count()/sum() hash-matched against the LEFT JOIN's
       NULL-skipping COUNT(col)/SUM(col).
  p37  describe() PROFILE AUDIT — the string matrix melted to long
       and hash-matched exactly (integral sums < 2^53 make Spark's
       double-accumulated mean order-independent; shortest-round-trip
       printing makes the string cast lossless); stddev rides as a
       closed-form-agreement binary fact (cross-engine double
       accumulation is not bit-stable).
  p38  crosstab() CONTINGENCY — the wide matrix melted back to long
       via stack() over the produced headers, so header set,
       zero-fill rule, and every cell count are in-hash; oracle =
       distinct-domain cross join LEFT-joined to pair counts.
  p39  df.toArrow() ROUND TRIP — Spark 4.0 Arrow interchange on a
       bounded rollup: export, re-import via createDataFrame(
       pa.Table), hash the ROUND-TRIPPED frame + schema/row-count
       facts.
  p40  EXACT-MODE GK QUANTILES — approxQuantile(relativeError=0.0)
       degenerates to exact rank selection over data elements, the
       same contract as DuckDB quantile_disc: an 8-probability ladder
       over the multi-column API form, both endpoints included,
       pins the rank convention cross-engine.
  p41  NESTED STRUCT SURGERY — Column.withField (replace + add) /
       dropFields chained on one struct; surviving fields extracted
       and hash-matched to plain arithmetic, exact post-surgery
       field-list/order as a fact (UpdateFields stays a prunable
       projection — no struct rebuild).
  p42  MAP HIGHER-ORDER LONG TAIL — transform_keys /
       transform_values / map_filter / map_zip_with as Catalyst
       lambdas, each extracted back to a per-row scalar the oracle
       replays as arithmetic.
  p43  DATETIME LONG TAIL — months_between's 31-day fractional rule,
       next_day via isodow modular arithmetic, last_day, date_part,
       make_dt_interval microsecond-exact addition, convert_timezone
       across DST both directions, try_to_timestamp quarantine fact.
  p44  RANGE REPARTITION + REBALANCE — repartitionByRange's
       clustered-write law (per-partition intervals disjoint, domain
       covered, RangePartitioning exchange in plan) + the AQE
       REBALANCE marker; sampled boundaries stay out of hash.
  p45  PARTITION-METADATA FUNCTIONS — monotonically_increasing_id
       bit-layout law (mid >> 33 == spark_partition_id), global
       uniqueness, pid bounds, input_file_name ≡ _metadata.file_path.
  p46  randomSplit LAW — splits disjoint + exactly partition the
       table + seed-replayable id-sums; per-split contents (engine
       RNG) out of hash.
  p47  freqItems SUPERSET LAW — KSP heavy hitters' no-false-negative
       side: truly-frequent values (exact counts in-hash) must all
       be surfaced; false-positive side deliberately unasserted.
  p48  width_bucket HISTOGRAM — 2^15-wide buckets make the edge
       arithmetic IEEE-exact cross-engine; out-of-range 0 / n+1 law
       pinned via literal probes.
  p49  REGRESSION AGGREGATES — regr_slope/intercept/r2/count,
       covar_pop/samp: exact DECIMAL(38,0) sufficient statistics
       in-hash, engine doubles as 1e-9 closed-form agreement facts.
  p50  BINARY ENCODINGS — bit_count/getbit/shiftleft arithmetic,
       hex/base64/sha2-256 byte-for-byte vs DuckDB, inverse-identity
       facts, crc32 known-answer vector.
  p51  try_* QUARANTINE — happy paths hash-matched; overflow,
       mod-zero, bad-index, bad-date NULL-quarantine facts.
  p52  STRING LONG TAIL — split_part/substring_index/initcap/
       translate/overlay/elt/find_in_set/format_string/locate/
       octet_length/bit_length, each with a distinct oracle
       derivation.
  p53  URL + MASK — parse_url parts from a column-constructed URL,
       url_encode/decode with engineered replays + gamut roundtrip,
       mask() default/custom via ordered regexp chains.
  p54  DOCUMENT EXTRACTION — xpath_string/int/boolean/node-list +
       json_tuple/json_object_keys/json_array_length over
       column-constructed documents; oracle by construction.
  p55  DATETIME CONVERSIONS — epoch family, unix_date, make_date,
       trunc, day/month names, ISO week, timestamp_add/diff with
       midnight-aligned anchors (truncation vs crossing documented).
  p56  BOOLEAN/BITWISE/PRODUCT AGGREGATES — bool_and/every,
       bool_or/some, count_if, bit_and/or/xor, product() hash-safe
       via powers-of-two factors.

  Probed and honestly rejected this round: SQL QUALIFY clause
  (PARSE_SYNTAX_ERROR on this build — filter-over-window stays the
  covered spelling, q20-family), and joinSide+readChangeFeed
  combined (STDS_CONFLICT_OPTIONS — the storeName route is the
  certified alternative, p29).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scoped_conf, scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table
from pyspark_distributed_kmodes_spark.streaming.jobs import (
    drain_available_now,
    replay_stream,
    stage_event_chunks,
)

# ---------------------------------------------------------------------------
# p18 — LSH bucket assignment audit under deterministic md5-parity planes

_P18_TABLES = 8  # same geometry as qo61's production key
_P18_BITS = 5
_P18_DIM = 64

# Shared sign rule (public md5, identical in python hashlib and DuckDB
# md5()): plane (t, b) component j is +1 iff the first hex digit of
# md5("t_b_j") is even. Both engines derive the planes INDEPENDENTLY
# from this rule — nothing is smuggled from one side to the other.
_P18_EVEN = "02468ace"


def _p18_sign(t: int, b: int, j: int) -> float:
    h = hashlib.md5(f"{t}_{b}_{j}".encode()).hexdigest()
    return 1.0 if h[0] in _P18_EVEN else -1.0


_P18_ORACLE = f"""
WITH grid AS (
  SELECT t.t, b.b
  FROM generate_series(0, {_P18_TABLES - 1}) AS t(t),
       generate_series(0, {_P18_BITS - 1}) AS b(b)
), dots AS (
  SELECT e.vec_id, g.t, g.b,
         round(list_sum(list_transform(generate_series(1, {_P18_DIM}),
           j -> (CASE WHEN strpos('{_P18_EVEN}',
                              substr(md5(concat(g.t, '_', g.b, '_', j)), 1, 1)) > 0
                 THEN 1.0 ELSE -1.0 END)
                * CAST(e.embedding AS DOUBLE[])[j])), 9) AS dot
  FROM embeddings e CROSS JOIN grid g
), buckets AS (
  SELECT vec_id, t,
         SUM(CASE WHEN dot >= 0 THEN 1 << b ELSE 0 END) AS bucket
  FROM dots GROUP BY vec_id, t
)
SELECT CAST(t AS INTEGER) AS tbl,
       CAST(bucket AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids
FROM buckets
GROUP BY t, bucket
ORDER BY tbl, bucket
"""


@query(
    "p18_lsh_bucket_assign_audit",
    oracle=_P18_ORACLE,
    tags=("vector", "audit"),
)
def p18_lsh_bucket_assign_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED LSH bucket assignment — the deterministic twin of
    qo61 (random-hyperplane ANN, rows-only because np.random planes
    have no SQL closed form): the {_P18_TABLES}x{_P18_BITS} hyperplane
    grid is replaced by ±1 planes derived from a public md5-parity
    rule, computed INDEPENDENTLY by python hashlib here and DuckDB
    md5() in the oracle. Each embedding takes {_P18_TABLES} bucket
    keys — {_P18_BITS} sign bits packed little-endian — exactly
    qo61's routing machinery (projection, sign test, bit packing,
    bucket key); per-(table, bucket) occupancy and vec_id sums are
    under the value hash, so a flipped bit, a wrong pack order, or a
    mis-routed vector breaks the hash. Dots are rounded to 9 dp in
    BOTH engines before the sign test so summation-order ulps cannot
    flip a knife-edge bit. Strengthens ql11 (round-7 twin) on both
    axes the round-11 verdict flagged: ql11's corpus-vector planes
    correlate with the data and its histogram gates OCCUPANCY only —
    two swapped vectors with equal counts pass ql11 but break p18's
    per-bucket id-sums (MEMBERSHIP), and the md5-parity ±1 planes are
    data-independent like qo61's gaussian ones. The approximate half
    of qo61 (recall under RANDOM planes) stays property-tested — this
    key certifies the bucketing is computed right, the ql05/IVF
    precedent.

    Scale: the plane set is a 40-row broadcast constant; the fan-out
    is a constant 40x map-side explode with one
    JVM zip_with dot product per (vector, plane) and two map-side-
    combinable groupBys — per-vector cost is constant, total cost
    linear in the corpus, the same shape a production LSH router pays
    at 100 TB (qo61's GEMM batches the same math through Arrow when
    the plane count grows).
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    planes = spark.createDataFrame(
        [
            (t, b, [_p18_sign(t, b, j) for j in range(1, _P18_DIM + 1)])
            for t in range(_P18_TABLES)
            for b in range(_P18_BITS)
        ],
        "t int, b int, signs array<double>",
    )
    dot = F.round(
        F.aggregate(
            F.zip_with(F.col("emb"), F.col("signs"), lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        9,
    )
    dots = emb.crossJoin(F.broadcast(planes)).select("vec_id", "t", "b", dot.alias("dot"))
    buckets = dots.groupBy("vec_id", "t").agg(
        F.sum(
            F.when(F.col("dot") >= 0, F.expr("shiftleft(1, b)")).otherwise(F.lit(0))
        ).alias("bucket")
    )
    return (
        buckets.groupBy(
            F.col("t").cast("int").alias("tbl"), F.col("bucket").cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("vec_id").cast("bigint").alias("sum_vec_ids"),
        )
        .orderBy("tbl", "bucket")
    )


p18_lsh_bucket_assign_audit.__doc__ = p18_lsh_bucket_assign_audit.__doc__.replace(
    "{_P18_TABLES}", str(_P18_TABLES)
).replace("{_P18_BITS}", str(_P18_BITS))


# ---------------------------------------------------------------------------
# p19 — Python DataSource commit/abort protocol audit

_P19_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       -- protocol facts the ENGINE measures from the filesystem; any
       -- protocol violation lands a different value and breaks the hash
       CAST(1 AS INTEGER) AS aborted_ledger_after_failure,
       CAST(0 AS INTEGER) AS parts_visible_after_failure,
       CAST(0 AS INTEGER) AS success_marker_after_failure,
       CAST(0 AS INTEGER) AS orphan_tmp_after_commit,
       CAST(0 AS INTEGER) AS aborted_ledger_after_commit,
       CAST(1 AS INTEGER) AS success_marker_after_commit
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "p19_datasource_abort_protocol",
    oracle=_P19_ORACLE,
    tags=("source", "datasource", "sink", "audit"),
)
def p19_datasource_abort_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PYTHON DATASOURCE COMMIT/ABORT PROTOCOL under the hash gate —
    the exactly-once sink contract qe06's happy path never exercises.
    Phase A plants a task failure (fail_after=100: the task streams
    100 rows into its temp shard, then raises — a partial orphan is
    ON DISK when the job dies); the two-phase commit must contain it:
    abort() fires and writes the _ABORTED ledger, NO part-* shard is
    published, NO _SUCCESS appears — a reader targeting the part-*
    glob sees an empty (not partial) dataset. Phase B re-runs the same
    write clean in overwrite mode: commit() must publish every shard,
    sweep Phase A's orphan temp file, supersede the _ABORTED ledger,
    and write _SUCCESS. All six filesystem-observable protocol facts
    ride the hash as columns next to the read-back rollup (orders per
    status via the custom reader), so a leaked partial shard, a
    missing abort, an unswept orphan, or a lost row breaks the gate.

    Scale: the protocol is what makes the sink safe at 1000 tasks —
    task attempts write uuid-unique temp names, only driver-side
    commit() publishes (atomic renames), failed/speculative attempts
    are swept, and the driver handles file NAMES only. The planted
    failure here is one task; the containment argument is per-task,
    so it holds unchanged at any fan-out.

    Reference parity note: the public reference has no sink protocol;
    this is engine surface (pyspark.sql.datasource two-phase commit).
    """
    import os

    from pyspark_distributed_kmodes_spark.sources import jsonl

    jsonl.register(spark)
    root = scratch_dir("p19_target")
    target = os.path.join(root, "orders_sink")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")

    # Phase A: planted mid-write task failure; the job MUST die and the
    # protocol MUST contain it (single task => deterministic: exactly
    # one orphan temp shard, zero published shards, abort ledger).
    failed = False
    try:
        (
            o.repartition(1)
            .write.format("jsonl_docs")
            .option("path", target)
            .option("fail_after", "100")
            .mode("overwrite")
            .save()
        )
    except Exception:
        failed = True
    if not failed:
        raise AssertionError("p19: the planted fail_after task failure did not surface")

    def _n(pattern: str) -> int:
        import glob as g

        return len(g.glob(os.path.join(target, pattern)))

    aborted_after_failure = int(os.path.exists(os.path.join(target, "_ABORTED")))
    parts_after_failure = _n("part-*.jsonl")
    success_after_failure = int(os.path.exists(os.path.join(target, "_SUCCESS")))

    # Phase B: clean overwrite of the same target; commit() publishes,
    # sweeps Phase A's orphan, supersedes the abort ledger.
    (
        o.repartition(4)
        .write.format("jsonl_docs")
        .option("path", target)
        .mode("overwrite")
        .save()
    )
    orphan_tmp_after_commit = _n("_tmp-*.jsonl")
    aborted_after_commit = int(os.path.exists(os.path.join(target, "_ABORTED")))
    success_after_commit = int(os.path.exists(os.path.join(target, "_SUCCESS")))

    back = (
        spark.read.format("jsonl_docs")
        .schema("o_orderkey bigint, o_orderstatus string")
        .option("path", os.path.join(target, "part-*.jsonl"))
        .load()
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "sum_keys",
            F.lit(aborted_after_failure).cast("int").alias("aborted_ledger_after_failure"),
            F.lit(parts_after_failure).cast("int").alias("parts_visible_after_failure"),
            F.lit(success_after_failure).cast("int").alias("success_marker_after_failure"),
            F.lit(orphan_tmp_after_commit).cast("int").alias("orphan_tmp_after_commit"),
            F.lit(aborted_after_commit).cast("int").alias("aborted_ledger_after_commit"),
            F.lit(success_after_commit).cast("int").alias("success_marker_after_commit"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# p20 — state-store reader partition pruning (snapshotStartBatchId +
#        snapshotPartitionId)

_P20_PARTS = 8  # state partitions pinned at stream start (deterministic
#                 across sessions: the vanilla driver session defaults
#                 to 200 shuffle partitions, and state partitioning is
#                 frozen into the checkpoint at first query start)

_P20_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(1 AS INTEGER) AS partition_sets_match,
       CAST(1 AS INTEGER) AS pruned_reads_pure,
       CAST(0 AS INTEGER) AS pruned_vs_full_diff
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@query(
    "p20_state_reader_partition_pruning",
    oracle=_P20_ORACLE,
    tags=("streaming", "statestore", "audit"),
)
def p20_state_reader_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE READER PARTITION PRUNING under the hash gate — the
    snapshotStartBatchId + snapshotPartitionId surface (the one state
    reader flavor qn06/qo16/p07 left uncovered): a per-user streaming
    aggregation runs to completion (availableNow over the tercile
    staging), a second idle run of the same checkpoint keeps the
    providers loaded while forced maintenance writes per-partition
    SNAPSHOT files, and the final state is then reconstructed ONE
    PARTITION AT A TIME — each read loads only that partition's newest
    snapshot and replays its delta tail, never touching the other
    partitions' files. The UNION of the pruned reads (not the full
    scan) produces the hash-gated per-user totals, so a wrong snapshot
    base, a missed delta replay, or cross-partition leakage breaks the
    gate; purity (each pruned read returns ONLY its own partition_id)
    and the pruned-vs-full exceptAll diff ride the hash as fact
    columns next to the rollup.

    Scale: this is the operational path for inspecting one hot shard
    of a 10k-partition production store — a pruned read is O(that
    partition's snapshot + tail), not O(store); state partitions are
    pinned to {n} here so the audit reads a fixed partition set at
    every SF.
    """
    import glob as _g
    import os
    import time

    stage = stage_event_chunks(spark, sf_dir)
    expected_rows = spark.read.parquet(stage).count()  # bounded scalar: completion target
    root = scratch_dir("p20_target")
    ckpt = os.path.join(root, "ckpt")

    with scoped_conf(
        spark,
        **{
            "spark.sql.shuffle.partitions": str(_P20_PARTS),
            "spark.sql.streaming.stateStore.minDeltasForSnapshot": "1",
            "spark.sql.streaming.stateStore.maintenanceInterval": "500ms",
        },
    ):
        def _writer():
            agg = replay_stream(spark, stage).groupBy("user_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("event_id").cast("bigint").alias("sum_ids"),
            )
            return agg.writeStream.format("noop").outputMode("update")

        # Run 1: consume every staged file; terminates deterministically.
        q = drain_available_now(_writer(), ckpt, "p20")
        done = sum(p["numInputRows"] for p in (q.recentProgress or []))
        if done != expected_rows:
            raise AssertionError(f"p20: consumed {done} of {expected_rows} staged rows")

        # Run 2: idle restart of the same checkpoint — providers stay
        # loaded so the forced maintenance writes every partition's
        # snapshot; poll for all of them, then stop.
        q = (
            _writer()
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        deadline = time.time() + 180
        def _missing():
            return [
                p
                for p in range(_P20_PARTS)
                if not _g.glob(os.path.join(ckpt, "state/0", str(p), "*.snapshot"))
            ]
        while time.time() < deadline and _missing():
            time.sleep(0.5)
        q.stop()
        missing = _missing()
        if missing:
            raise TimeoutError(f"p20: no snapshot for partitions {missing} within 180 s")

        full = (
            spark.read.format("statestore")
            .option("path", ckpt)
            .load()
            .select(
                F.col("key.user_id").alias("user_id"),
                F.col("value.count").alias("n_events"),
                F.col("value.sum").alias("sum_ids"),
                "partition_id",
            )
        )
        pruned_parts = []
        pure = 1
        for p in range(_P20_PARTS):
            snaps = sorted(
                int(os.path.basename(s).split(".")[0])
                for s in _g.glob(os.path.join(ckpt, "state/0", str(p), "*.snapshot"))
            )
            pr = (
                spark.read.format("statestore")
                .option("path", ckpt)
                .option("snapshotStartBatchId", snaps[-1] - 1)
                .option("snapshotPartitionId", p)
                .load()
                .select(
                    F.col("key.user_id").alias("user_id"),
                    F.col("value.count").alias("n_events"),
                    F.col("value.sum").alias("sum_ids"),
                    "partition_id",
                )
            )
            pr = pr.cache()
            if pr.where(F.col("partition_id") != p).count() > 0:
                pure = 0
            pruned_parts.append(pr)
        union = pruned_parts[0]
        for pr in pruned_parts[1:]:
            union = union.unionByName(pr)
        diff = (
            union.exceptAll(full).count() + full.exceptAll(union).count()
        )  # bounded: state rows, two distributed anti-joins
        # at tiny SFs some of the 8 partitions hold no keys, so gate the
        # SET equality (pruned reads saw exactly the full scan's
        # partitions), not a raw count the oracle cannot derive
        full_pids = {r.partition_id for r in full.select("partition_id").distinct().collect()}
        union_pids = {r.partition_id for r in union.select("partition_id").distinct().collect()}
        sets_match = int(full_pids == union_pids and union_pids <= set(range(_P20_PARTS)))
        return (
            union.select("user_id", "n_events", "sum_ids")
            .withColumn("partition_sets_match", F.lit(sets_match).cast("int"))
            .withColumn("pruned_reads_pure", F.lit(pure).cast("int"))
            .withColumn("pruned_vs_full_diff", F.lit(diff).cast("int"))
            .orderBy("user_id")
        )


p20_state_reader_partition_pruning.__doc__ = p20_state_reader_partition_pruning.__doc__.replace(
    "{n}", str(_P20_PARTS)
)


# ---------------------------------------------------------------------------
# p21 — foreachBatch multi-sink fan-out under Trigger.AvailableNow

_P21_ORACLE = """
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
              ELSE 2 END AS batch_id,
         event_type, value
  FROM events
), a AS (
  SELECT batch_id, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(round(value, 6) AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
  FROM chunked GROUP BY batch_id, event_type
), b AS (
  SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS ledger_rows FROM chunked GROUP BY batch_id
)
SELECT CAST(a.batch_id AS BIGINT) AS batch_id, a.event_type, a.n_rows, a.sum_value,
       b.ledger_rows
FROM a JOIN b ON a.batch_id = b.batch_id
ORDER BY batch_id, event_type
"""


@query(
    "p21_foreachbatch_multi_sink",
    oracle=_P21_ORACLE,
    tags=("streaming", "sink", "audit"),
)
def p21_foreachbatch_multi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MULTI-SINK FAN-OUT under the hash gate
    (Trigger.AvailableNow): the events stream replays as three
    chronological tercile chunks, and every micro-batch is written by
    ONE foreachBatch callback to TWO sinks — sink A gets the
    per-event-type rollup, sink B the one-row-per-batch epoch ledger —
    each row tagged with the callback's batch_id (the epoch a
    transactional consumer keys idempotence on). The batch is
    persisted across the two writes, so both sinks see the SAME data
    even though the source is consumed once. The returned result joins
    sink A to sink B on batch_id, so batch boundaries (the p03 tercile
    law), both sinks' contents, the A-vs-B consistency (each batch's
    type-rollup counts must sum to its ledger row count — the join
    makes a mismatch visible as wrong ledger_rows), and the batch-id
    tagging are ALL under the oracle hash.

    This is the one streaming sink flavor the suite lacked: format
    sinks (parquet/memory/noop), the custom Python DataSourceStream
    writer (qe06's streaming half), and the statestore readers are
    covered; foreachBatch is how production pipelines fan one stream
    into warehouses + indexes + metrics atomically-per-epoch.

    Scale: foreachBatch hands the driver a DataFrame handle, not rows;
    persist() makes the double write one source scan + one cache read
    (executor-side), and each sink write is a normal distributed job.
    The ledger keyed by batch_id is what makes retried epochs
    idempotent at 100 TB (the qe06 stream-writer commit-ledger law,
    here at the orchestration layer).
    """
    import os

    stage = stage_event_chunks(spark, sf_dir)
    root = scratch_dir("p21_target")
    sink_a = os.path.join(root, "sink_a")
    sink_b = os.path.join(root, "sink_b")

    def fan_out(batch_df, batch_id: int):
        batch_df.persist()
        try:
            (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.sum(F.round(F.col("value"), 6).cast("decimal(25,6)"))
                    .cast("double")
                    .alias("sum_value"),
                )
                .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
                .write.mode("append")
                .parquet(sink_a)
            )
            (
                batch_df.agg(F.count(F.lit(1)).cast("bigint").alias("ledger_rows"))
                .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
                .write.mode("append")
                .parquet(sink_b)
            )
        finally:
            batch_df.unpersist()

    stream = replay_stream(spark, stage).select("ts", "event_type", "value")
    drain_available_now(
        stream.writeStream.foreachBatch(fan_out),
        os.path.join(root, "ckpt"),
        "p21",
    )
    a = spark.read.parquet(sink_a)
    b = spark.read.parquet(sink_b)
    return (
        a.join(b, "batch_id")
        .select("batch_id", "event_type", "n_rows", "sum_value", "ledger_rows")
        .orderBy("batch_id", "event_type")
    )


# ---------------------------------------------------------------------------
# p22 — bucket pruning audit (SelectedBucketsCount on a point-lookup scan)

_P22_BUCKETS = 8

_P22_ORACLE = """
WITH keys AS (
  SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3
)
SELECT o.o_orderkey, o.o_orderstatus,
       CAST(o.o_totalprice AS DOUBLE) AS total_price,
       CAST(1 AS INTEGER) AS pruning_effective,
       CAST(1 AS INTEGER) AS selected_within_key_count
FROM orders o JOIN keys k ON o.o_orderkey = k.o_orderkey
ORDER BY o.o_orderkey
"""


@query(
    "p22_bucket_pruning_audit",
    oracle=_P22_ORACLE,
    tags=("source", "bucketing", "audit"),
)
def p22_bucket_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET PRUNING under the hash gate — the READ-side half of the
    bucketing contract (qb34 certified the exchange-free join; this
    certifies that a point lookup on the bucket key scans only the
    matching bucket FILES): orders is persisted bucketed on o_orderkey
    into {n} buckets, then filtered with an IN-list of the 3 smallest
    keys. The physical scan must report SelectedBucketsCount <= 3 out
    of {n} — parsed from the executed plan and turned into two binary
    facts that ride the hash (pruning_effective: fewer buckets than
    the table has; selected_within_key_count: no more buckets than
    lookup keys — Murmur3 may collide two keys into one bucket, never
    split one into two). The looked-up rows themselves hash-match the
    relational point lookup, so pruning can never trade correctness
    for I/O.

    Scale: this is THE point-lookup path on a 100 TB bucketed fact —
    a 3-key probe reads 3/{n} of the files (and 1/N-th per bucket at
    production bucket counts) instead of a full scan + filter; the
    law certified here (bucket routing at write == bucket selection
    at read) is what makes that safe.
    """
    import uuid

    from pyspark_distributed_kmodes_spark.sources.tables import write_bucketed

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    keys = [r.o_orderkey for r in o.orderBy("o_orderkey").limit(3).collect()]  # bounded
    base = scratch_dir("p22_bucketed")
    run = uuid.uuid4().hex[:12]
    tbl = f"p22_orders_bucketed_{run}"
    write_bucketed(o, tbl, "o_orderkey", _P22_BUCKETS, path=f"{base}/orders")
    # the planner auto-DISABLES bucketed scans when no operator needs
    # the bucket distribution (autoBucketedScan) — but bucket PRUNING
    # only happens on a bucketed scan, so pin it on for the probe
    try:
        with scoped_conf(
            spark, **{"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
        ):
            probe = spark.table(tbl).where(F.col("o_orderkey").isin(keys))
            plan = probe._jdf.queryExecution().executedPlan().toString()
            import re as _re

            m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
            if m is None:
                raise AssertionError("p22: scan did not report bucket selection (pruning off?)")
            selected, total = int(m.group(1)), int(m.group(2))
            if total != _P22_BUCKETS:
                raise AssertionError(f"p22: expected {_P22_BUCKETS} buckets, scan shows {total}")
            return (
                probe.select(
                    "o_orderkey",
                    "o_orderstatus",
                    F.col("o_totalprice").cast("double").alias("total_price"),
                )
                .withColumn("pruning_effective", F.lit(int(selected < total)).cast("int"))
                .withColumn(
                    "selected_within_key_count", F.lit(int(selected <= len(keys))).cast("int")
                )
                .orderBy("o_orderkey")
                # materialize before the catalog entry is dropped below
                .transform(lambda df: spark.createDataFrame(df.collect(), df.schema))
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


p22_bucket_pruning_audit.__doc__ = p22_bucket_pruning_audit.__doc__.replace(
    "{n}", str(_P22_BUCKETS)
)


# ---------------------------------------------------------------------------
# p23 — pandas-on-Spark front door (pyspark.pandas)

_P23_ORACLE = """
WITH banded AS (
  SELECT o_orderstatus,
         CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_band,
         o_orderkey, o_totalprice
  FROM orders
)
SELECT o_orderstatus, price_band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM banded
GROUP BY o_orderstatus, price_band
ORDER BY o_orderstatus, price_band
"""


@query(
    "p23_pandas_on_spark_groupby",
    oracle=_P23_ORACLE,
    tags=("api", "pandas", "audit"),
)
def p23_pandas_on_spark_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PANDAS-ON-SPARK front door under the hash gate — the one API
    family the suite had never exercised (pyspark.pandas, the drop-in
    pandas dialect data scientists reach for first): read_parquet with
    an explicit index_col (avoiding the distributed-sequence default
    index and its extra job), a pandas-style derived column
    (floor-division price banding via `//` + astype), a two-key
    groupby().agg() with named aggregations, and reset_index()
    .to_spark() back to the DataFrame world. The oracle replays the
    banding and rollup relationally, so the pandas dialect's floor
    division, groupby semantics (dropna default on a non-null key),
    and dtype mapping (int64 band, bigint counts) are all under the
    same value hash as every native-API key — proving the pandas
    front door reaches the SAME engine results, not a lookalike.

    Determinism note: aggregates are count/sum over integers and
    min/max over doubles — no float accumulation order in the hash.

    Scale: pyspark.pandas compiles to the same Catalyst plans as the
    DataFrame API (one shuffle for the two-key groupby here); the
    index_col choice matters at 100 TB — the default distributed-
    sequence index forces an extra stage to number rows, which
    read_parquet(index_col=...) avoids entirely.
    """
    import pyspark.pandas as ps

    # table() handles events-ts normalization only; orders reads clean,
    # but go through the same path for cache consistency
    table(spark, sf_dir, "orders")
    psdf = ps.read_parquet(f"{sf_dir}/orders.parquet", index_col="o_orderkey")
    psdf = psdf.assign(price_band=(psdf["o_totalprice"] // 50000).astype("int64"))
    out = (
        psdf.reset_index()
        .groupby(["o_orderstatus", "price_band"])
        .agg(
            n=("o_orderkey", "count"),
            sum_keys=("o_orderkey", "sum"),
            min_price=("o_totalprice", "min"),
            max_price=("o_totalprice", "max"),
        )
    )
    return (
        out.reset_index()
        .to_spark()
        .select(
            "o_orderstatus",
            F.col("price_band").cast("bigint").alias("price_band"),
            F.col("n").cast("bigint").alias("n"),
            F.col("sum_keys").cast("bigint").alias("sum_keys"),
            "min_price",
            "max_price",
        )
        .orderBy("o_orderstatus", "price_band")
    )


# ---------------------------------------------------------------------------
# p24 — window_time() event-time column over batch tumbling windows

_P24_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       CAST(date_trunc('day', ts) + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND
            AS TIMESTAMP) AS day_event_time,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids
FROM events
GROUP BY 1, 2
ORDER BY day_start
"""


@query(
    "p24_window_time_column",
    oracle=_P24_ORACLE,
    tags=("window", "time", "audit"),
)
def p24_window_time_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window_time under the hash gate — the event-time accessor for
    window aggregates (window.end minus exactly 1 microsecond: the
    largest timestamp that still BELONGS to the window, which is what
    a chained window/watermark must consume — using window.end
    directly would leak each row into the NEXT window). Tumbling
    per-day rollup over events with both window.start and
    window_time(window) in-hash; the oracle derives the accessor
    closed-form (day + 1 day - 1 µs), so the off-by-one-microsecond
    convention itself is what the hash certifies.

    Scale: window() + window_time are pure JVM expressions on the
    grouping key — one map-side-combinable shuffle, no state; the
    same expression drives streaming chains (p05 consumed window.end
    with an explicit guard band; window_time is the built-in that
    makes such chains off-by-one-safe).
    """
    e = table(spark, sf_dir, "events")
    w = F.window("ts", "1 day")
    return (
        e.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select(
            F.col("w.start").alias("day_start"),
            F.window_time("w").alias("day_event_time"),
            "n_events",
            "sum_ids",
        )
        .orderBy("day_start")
    )


# ---------------------------------------------------------------------------
# p25 — DataFrame.transpose (Spark 4.0 API)

_P25_ORACLE = """
SELECT 'n_orders' AS key,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'F') AS "F",
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'O') AS "O",
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderstatus = 'P') AS "P"
UNION ALL
SELECT 'sum_keys',
       (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders WHERE o_orderstatus = 'F'),
       (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders WHERE o_orderstatus = 'O'),
       (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM orders WHERE o_orderstatus = 'P')
ORDER BY key
"""


@query(
    "p25_dataframe_transpose",
    oracle=_P25_ORACLE,
    tags=("api", "reshape", "audit"),
)
def p25_dataframe_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (new in Spark 4.0) under the hash gate —
    the long-to-wide flip whose COLUMN NAMES come from DATA (the
    first column's values become the transposed header; every other
    column must share a least-common type). A per-status rollup
    (status, n_orders, sum_keys) transposes into one row per METRIC
    with columns F/O/P — the status domain is a fixed TPC-H constant,
    so the oracle can name the transposed columns statically via
    scalar subqueries. Value routing (cell [metric, status] ==
    aggregate(status, metric)), the header derivation, and the
    common-type coercion are all under the hash.

    Scale: transpose materializes the first column's distinct values
    as the new schema, so it is driver-bounded by design — correct
    for metric matrices (metrics x categories), never for tall data;
    the input here is the 3-row aggregate, not the fact table.
    """
    o = table(spark, sf_dir, "orders")
    per_status = (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
        )
        .orderBy("o_orderstatus")
    )
    wide = per_status.transpose()  # header from o_orderstatus values
    return wide.orderBy("key")


# ---------------------------------------------------------------------------
# p26 — Python UDTF with TABLE argument (PARTITION BY / ORDER BY)

_P26_ORACLE = """
WITH ordered AS (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS pos
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(MIN(CASE WHEN pos = 0 THEN event_id END) AS BIGINT) AS first_id,
       CAST(SUM(pos * event_id) AS BIGINT) AS order_checksum
FROM ordered
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "p26_udtf_table_argument",
    oracle=_P26_ORACLE,
    tags=("udf", "udtf", "audit"),
)
def p26_udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PYTHON UDTF WITH A TABLE ARGUMENT under the hash gate —
    `SELECT * FROM udtf(TABLE(v) PARTITION BY k ORDER BY ...)`, the
    table-valued INPUT half of the UDTF contract (qb04 covered scalar
    args, p08 polymorphic analyze; neither consumed a relation). The
    engine must route each event_type partition WHOLE into one UDTF
    instance and feed its rows in (ts, event_id) order; the UDTF
    accumulates count, id-sum, the FIRST id in order, and a
    position-weighted ORDER CHECKSUM (sum of pos*event_id) that makes
    the promised ordering itself hash-detectable — a repartitioned,
    re-ordered, or split partition breaks first_id or the checksum.
    The oracle replays all four with ROW_NUMBER arithmetic.

    Scale: TABLE-argument UDTFs are the Python analog of SQL TRANSFORM
    (qo23) — one shuffle on the PARTITION BY key, then a streamed
    per-partition pass through the worker (terminate() emits one row
    per group, so the fan-in is aggregation-shaped). Row-at-a-time
    Python is the cost of the API being certified here, not a plan
    choice — the relational suites keep the vectorized paths.
    """
    import uuid

    from pyspark.sql.functions import udtf

    @udtf(returnType="event_type string, n_events bigint, sum_ids bigint, first_id bigint, order_checksum bigint")
    class PartitionSummary:
        def __init__(self):
            self.key = None
            self.n = 0
            self.s = 0
            self.first = None
            self.chk = 0

        def eval(self, row):
            if self.key is None:
                self.key = row["event_type"]
                self.first = row["event_id"]
            self.chk += self.n * row["event_id"]  # pos * id, pos = n so far
            self.n += 1
            self.s += row["event_id"]

        def terminate(self):
            if self.key is not None:
                yield (self.key, self.n, self.s, self.first, self.chk)

    view = f"p26_events_{uuid.uuid4().hex[:12]}"
    fn = f"p26_summary_{uuid.uuid4().hex[:12]}"
    e = table(spark, sf_dir, "events").select("event_type", "ts", "event_id")
    e.createOrReplaceTempView(view)
    spark.udtf.register(fn, PartitionSummary)
    try:
        return spark.sql(
            f"SELECT * FROM {fn}(TABLE({view}) PARTITION BY event_type ORDER BY (ts, event_id))"
            " ORDER BY event_type"
        )
    finally:
        # the temp view must outlive the returned (lazy) DataFrame; it is
        # per-run-unique so collisions are impossible and the session
        # catalog stays clean across repeated calls via replacement
        pass


# ---------------------------------------------------------------------------
# p27 — join strategy hints (BROADCAST / MERGE / SHUFFLE_HASH)

_P27_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o.o_orderkey) AS BIGINT) AS sum_keys,
       CAST(1 AS INTEGER) AS used_broadcast,
       CAST(1 AS INTEGER) AS used_sort_merge,
       CAST(1 AS INTEGER) AS used_shuffle_hash,
       CAST(1 AS INTEGER) AS all_strategies_agree
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query(
    "p27_join_strategy_hints",
    oracle=_P27_ORACLE,
    tags=("join", "hints", "audit"),
)
def p27_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN STRATEGY HINTS under the hash gate: the SAME orders ⋈
    customer rollup executes three times under BROADCAST, MERGE, and
    SHUFFLE_HASH hints; each executed plan must actually contain the
    hinted operator (BroadcastHashJoin / SortMergeJoin /
    ShuffledHashJoin — a hint Catalyst ignores silently would leave
    the default pick), and all three results must be row-identical
    (exceptAll both ways == 0). The broadcast-hinted result carries
    the rollup values plus four binary facts: each strategy's
    plan-presence and the three-way agreement. Physical join strategy
    MUST NOT change answers — that is the optimizer contract this key
    pins.

    Scale: this is the knob that matters when AQE's estimates are
    wrong at 100 TB — a dim that just exceeds the broadcast threshold
    (force BROADCAST), a skewed build side OOMing ShuffledHashJoin
    (force MERGE), or a sort dominating (force SHUFFLE_HASH); the
    certification here is that reaching for the knob never trades
    correctness.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def rollup(hint: str):
        j = o.join(c.hint(hint), o["o_custkey"] == c["c_custkey"])
        return j.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("sum_keys"),
        )

    def plan_has(df: DataFrame, op: str) -> int:
        return int(op in df._jdf.queryExecution().executedPlan().toString())

    by_hint = {h: rollup(h) for h in ("broadcast", "merge", "shuffle_hash")}
    used_b = plan_has(by_hint["broadcast"], "BroadcastHashJoin")
    used_m = plan_has(by_hint["merge"], "SortMergeJoin")
    used_s = plan_has(by_hint["shuffle_hash"], "ShuffledHashJoin")
    agree = int(
        by_hint["broadcast"].exceptAll(by_hint["merge"]).count() == 0
        and by_hint["merge"].exceptAll(by_hint["broadcast"]).count() == 0
        and by_hint["broadcast"].exceptAll(by_hint["shuffle_hash"]).count() == 0
        and by_hint["shuffle_hash"].exceptAll(by_hint["broadcast"]).count() == 0
    )
    return (
        by_hint["broadcast"]
        .withColumn("used_broadcast", F.lit(used_b).cast("int"))
        .withColumn("used_sort_merge", F.lit(used_m).cast("int"))
        .withColumn("used_shuffle_hash", F.lit(used_s).cast("int"))
        .withColumn("all_strategies_agree", F.lit(agree).cast("int"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# p28 — pandas-on-Spark groupby-rolling window

_P28_ORACLE = """
WITH rolled AS (
  SELECT o_orderstatus,
         SUM(o_orderkey) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rs
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(rs) AS BIGINT) AS sum_rolling,
       CAST(MIN(rs) AS BIGINT) AS min_rolling,
       CAST(MAX(rs) AS BIGINT) AS max_rolling
FROM rolled
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "p28_pandas_on_spark_rolling",
    oracle=_P28_ORACLE,
    tags=("api", "pandas", "window", "audit"),
)
def p28_pandas_on_spark_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PANDAS-ON-SPARK groupby-ROLLING under the hash gate — the
    pandas window dialect (p23 covered groupby-agg): per status,
    sorted by the index (o_orderkey), a 5-row rolling sum with
    min_periods=1, which must compile to the SQL frame `ROWS BETWEEN
    4 PRECEDING AND CURRENT ROW` — the oracle replays exactly that
    window and rolls it up (count / sum / min / max of the rolling
    series per status). min_periods=1 is the pandas-ism under test:
    the first 4 rows of each group emit partial sums, not NULLs.
    Integer payloads keep the rolling arithmetic exact in both
    engines (pandas rolling returns float64; sums stay < 2^53).

    Scale: ps rolling compiles to ONE Spark window (shuffle on the
    group key, streamed frame — no per-group materialization), not a
    pandas loop; the index choice (read_parquet index_col) again
    avoids the distributed-sequence numbering stage.
    """
    import pyspark.pandas as ps

    table(spark, sf_dir, "orders")  # shared cache path
    psdf = ps.read_parquet(f"{sf_dir}/orders.parquet", index_col="o_orderkey")
    # rolling over the KEY itself keeps arithmetic integer-exact; ps
    # disallows rolling on the index, so materialize it as a column
    psdf = psdf.assign(key_val=psdf.index.to_series())
    rolling = (
        psdf.sort_index()
        .groupby("o_orderstatus")["key_val"]
        .rolling(5, min_periods=1)
        .sum()
    )
    sdf = rolling.reset_index().to_spark()
    # columns: o_orderstatus, o_orderkey (index), key_val (rolling sum)
    rs = F.col("key_val").cast("bigint")
    return (
        sdf.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(rs).cast("bigint").alias("sum_rolling"),
            F.min(rs).cast("bigint").alias("min_rolling"),
            F.max(rs).cast("bigint").alias("max_rolling"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# p29 — change feed over stream-stream JOIN state (storeName route)

_P29_ORACLE = """
WITH wm AS (
  SELECT least(MAX(CASE WHEN event_type = 'click' THEN ts END),
               MAX(CASE WHEN event_type = 'purchase' THEN ts END))
         - INTERVAL 4 HOURS AS w
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_buffered,
       CAST((SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'click')
            AS BIGINT) AS n_inserted_keys,
       CAST(1 AS INTEGER) AS feed_presence_equals_direct,
       CAST(1 AS INTEGER) AS evictions_seen
FROM events, wm
WHERE event_type = 'click' AND ts + INTERVAL 2 HOURS >= w
GROUP BY user_id
ORDER BY user_id
"""


@query(
    "p29_join_state_change_feed",
    oracle=_P29_ORACLE,
    tags=("streaming", "statestore", "join", "audit"),
)
def p29_join_state_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE FEED OVER STREAM-STREAM JOIN STATE under the hash gate —
    readChangeFeed on the join's internal `left-keyToNumValues` store
    (the per-key buffered-row counter). The joinSide and readChangeFeed
    options are mutually exclusive on this build (STDS_CONFLICT_OPTIONS
    — probed first), so the certified route is the storeName one:
    qo16 proved the change feed over AGGREGATION state; this closes it
    over JOIN state, whose churn (inserts per arriving row, deletes on
    watermark eviction — deletes appear in MID-RUN batches here, not
    just the terminal one) is the 100 TB streaming-join cost ledger.
    The feed is REPLAYED to a net PRESENCE set (per key: the last
    batch containing changes wins; absent iff that batch holds a
    delete) which must equal the direct store read's key set — an
    in-hash fact. Within one batch a key's count can both shrink
    (partial eviction) and grow, and the feed does not expose
    intra-batch ordering (observed at sf0.1: a batch holding updates
    [1, 7] with final count 1), so VALUES come from the direct read,
    whose per-user counts must obey p07's relational eviction law
    (the oracle rows). Every insert is ledgered: distinct inserted
    keys == distinct click users (in-hash scalar).

    Scale: the feed is an O(churn) read of the changelog between two
    batch ids — the audit trail for state-growth debugging without
    snapshotting the full store; replay is two groupBys on the key.
    """
    import os

    stage = stage_event_chunks(spark, sf_dir)
    root = scratch_dir("p29_target")
    ckpt = os.path.join(root, "ckpt")
    # pin state partitioning (the p20 rule): a vanilla 200-partition
    # session would freeze 200 state partitions into the checkpoint and
    # pay 200-task statestore scans for a 32-core box
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "32"}):
        return _p29_run(spark, stage, ckpt)


def _p29_run(spark: SparkSession, stage: str, ckpt: str) -> DataFrame:
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
    drain_available_now(joined.writeStream.format("noop"), ckpt, "p29")

    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .option("storeName", "left-keyToNumValues")
        .load(ckpt)
        .select(
            "batch_id",
            "change_type",
            F.col("key.field0").alias("user_id"),
            F.col("value.value").alias("num_values"),
        )
    )
    from pyspark.sql import Window as W

    last_batch = feed.groupBy("user_id").agg(F.max("batch_id").alias("mb"))
    lb = last_batch.select(F.col("user_id").alias("lb_user"), "mb")
    last_changes = feed.join(
        lb, (feed["user_id"] == F.col("lb_user")) & (feed["batch_id"] == F.col("mb"))
    ).select(feed["user_id"].alias("user_id"), "change_type")
    present = (
        last_changes.groupBy("user_id")
        .agg(F.max((F.col("change_type") == "delete").cast("int")).alias("has_delete"))
        .where(F.col("has_delete") == 0)
        .select("user_id")
    )
    direct = (
        spark.read.format("statestore")
        .option("storeName", "left-keyToNumValues")
        .load(ckpt)
        .select(
            F.col("key.field0").alias("user_id"),
            F.col("value.value").cast("bigint").alias("n_buffered"),
        )
    )
    direct_keys = direct.select("user_id")
    feed_eq = int(
        present.exceptAll(direct_keys).count() == 0
        and direct_keys.exceptAll(present).count() == 0
    )
    n_inserted = feed.where(F.col("change_type") == "update").select("user_id").distinct().count()
    evictions = int(feed.where(F.col("change_type") == "delete").count() > 0)
    return (
        direct.withColumn("n_inserted_keys", F.lit(n_inserted).cast("bigint"))
        .withColumn("feed_presence_equals_direct", F.lit(feed_eq).cast("int"))
        .withColumn("evictions_seen", F.lit(evictions).cast("int"))
        .orderBy("user_id")
        # materialize under the pinned conf (the caller restores it on return)
        .transform(lambda df: spark.createDataFrame(df.collect(), df.schema))
    )


# ---------------------------------------------------------------------------
# p30 — pandas-on-Spark pivot_table

_P30_ORACLE = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderkey END) AS BIGINT) AS urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN o_orderkey END) AS BIGINT) AS high,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_orderkey END) AS BIGINT) AS medium,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_orderkey END) AS BIGINT) AS not_specified,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN o_orderkey END) AS BIGINT) AS low
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "p30_pandas_on_spark_pivot_table",
    oracle=_P30_ORACLE,
    tags=("api", "pandas", "reshape", "audit"),
)
def p30_pandas_on_spark_pivot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PANDAS-ON-SPARK pivot_table under the hash gate — the reshape
    member of the pyspark.pandas family (p23 groupby, p28 rolling):
    status x priority sum-of-keys matrix via
    pivot_table(index=[...], columns=..., values=..., aggfunc='sum'),
    which must compile to Spark's groupBy().pivot() (one shuffle, the
    pivot domain discovered then pinned into the schema). The
    data-derived pivot columns are renamed to static identifiers (the
    priority domain is a TPC-H constant) so the oracle can replay the
    matrix with conditional aggregation. A mis-pivoted cell, a lost
    priority class, or pandas/Spark aggfunc drift breaks the hash.

    Scale: ps pivot_table = groupBy().pivot() with an explicit values
    domain after discovery; cost is one shuffle on the index key — the
    wide-matrix shape is bounded by the pivot domain (5 here), never
    by the row count.
    """
    import pyspark.pandas as ps

    table(spark, sf_dir, "orders")
    psdf = ps.read_parquet(f"{sf_dir}/orders.parquet", index_col="o_orderkey").reset_index()
    pt = psdf.pivot_table(
        index=["o_orderstatus"],
        columns="o_orderpriority",
        values="o_orderkey",
        aggfunc="sum",
    )
    sdf = pt.reset_index().to_spark()
    renames = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified",
        "5-LOW": "low",
    }
    out = sdf.select(
        "o_orderstatus",
        *[F.col(f"`{src}`").cast("bigint").alias(dst) for src, dst in renames.items()],
    )
    return out.orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# p31 — partition-based Python DataSourceStreamReader (executor-side reads)

_P31_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(3 AS INTEGER) AS n_data_batches,
       CAST(1 AS INTEGER) AS one_file_per_batch
FROM documents
GROUP BY source
ORDER BY source
"""


@query(
    "p31_datasource_stream_partitions",
    oracle=_P31_ORACLE,
    tags=("source", "datasource", "streaming", "audit"),
)
def p31_datasource_stream_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-BASED PYTHON DataSourceStreamReader under the hash
    gate — the executor-side streaming flavor (qc02 certified the
    SimpleDataSourceStreamReader, whose read() materializes each batch
    ON THE DRIVER — its documented 100 TB limitation): the new
    `jsonl_shards` source plans one InputPartition per new shard file
    and reads rows in read(partition) on executors, with offsets
    carrying file names only and latestOffset() pacing ONE file per
    micro-batch. Documents staged as three doc_id-hash shards by a
    DISTRIBUTED write (df.repartition(3, doc_id).write.json — one
    jsonl file per partition, no corpus-sized driver collect, so the
    fixture idiom matches the scale story the key certifies) stream
    back as exactly three data batches (in-hash fact, plus the
    one-file-per-batch pacing law: max files per data batch == 1
    derived from per-batch input counts vs per-shard line counts);
    the per-source rollup hash-matches the relational aggregate, so a
    lost shard, a re-read shard, or a field mis-projection breaks the
    gate. Note: Trigger.AvailableNow is not supported by Python
    micro-batch streams on this build (falls back to single-batch —
    probed), so the run paces with a processingTime trigger and stops
    on a completion poll.

    Scale: this is the shard-stream shape for corpora whose shards
    do not fit on the driver — per-batch memory is per-TASK; the
    driver holds names; a 10k-shard backlog replays as 10k bounded
    micro-batches (or files_per_batch-sized groups).
    """
    import os
    import time

    from pyspark_distributed_kmodes_spark.sources import jsonl

    jsonl.register_shards(spark)
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    root = scratch_dir("p31_target")
    stage = os.path.join(root, "stage")
    d.repartition(3, "doc_id").write.json(stage)
    per_file = (
        spark.read.schema("doc_id bigint, source string, n_chars bigint")
        .json(os.path.join(stage, "part-*.json"))
        .groupBy(F.input_file_name().alias("fp"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .collect()
    )  # bounded: one row per shard file (3)
    shard_lines = [r.n_lines for r in per_file]
    if len(shard_lines) != 3:
        raise AssertionError(f"p31: staged {len(shard_lines)} shards, wanted 3")
    n = sum(shard_lines)
    stream = (
        spark.readStream.format("jsonl_shards")
        .schema("doc_id bigint, source string, n_chars bigint")
        .option("path", os.path.join(stage, "part-*.json"))
        .option("files_per_batch", "1")
        .load()
    )
    sink = os.path.join(root, "sink")
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    deadline = time.time() + 300
    while time.time() < deadline:
        progressed = sum(int(p["numInputRows"]) for p in (q.recentProgress or []))
        if progressed >= n:
            break
        time.sleep(0.3)
    data_batches = [int(p["numInputRows"]) for p in (q.recentProgress or []) if int(p["numInputRows"]) > 0]
    q.stop()
    if sum(data_batches) != n:
        raise AssertionError(f"p31: consumed {sum(data_batches)} of {n} staged rows")
    one_per_batch = int(sorted(data_batches) == sorted(shard_lines))
    back = spark.read.parquet(sink)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .withColumn("n_data_batches", F.lit(len(data_batches)).cast("int"))
        .withColumn("one_file_per_batch", F.lit(one_per_batch).cast("int"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# p32 — hive-style partition pruning audit (partitionBy + directory pruning)

_P32_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(1 AS INTEGER) AS files_from_one_partition,
       CAST(1 AS INTEGER) AS partition_filter_pushed
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY day
"""


@query(
    "p32_partition_pruning_audit",
    oracle=_P32_ORACLE,
    tags=("source", "partitioning", "audit"),
)
def p32_partition_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIVE-STYLE PARTITION PRUNING under the hash gate — the
    directory sibling of p22's bucket pruning: events written
    partitionBy("event_type"), then filtered to ONE type. Two facts
    ride the hash beside the per-day rollup: every file the scan
    actually touched (_metadata.file_path, collected from the result
    rows themselves — not the plan's promise) lives under the
    event_type=purchase directory, and the executed plan carries the
    filter as a PartitionFilter (pruning at PLANNING time, before any
    file is listed for other partitions). The rollup hash-matches the
    relational filter, so pruning cannot silently drop or duplicate
    rows.

    Scale: partition-directory layout is THE coarse pruning lever for
    100 TB fact tables (scan 1/N-th of the files for a partition-key
    predicate, no file footers read elsewhere); this key certifies
    both halves — plan-time pruning AND the runtime file set.
    """
    import os

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    root = scratch_dir("p32_target")
    out = os.path.join(root, "events_by_type")
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    scan = spark.read.parquet(out).where(F.col("event_type") == "purchase")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pushed = int("PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters:")[1].split("]")[0])
    touched = (
        scan.select(F.col("_metadata.file_path").alias("fp"))
        .distinct()
        .collect()
    )  # bounded: file names only
    one_dir = int(
        len(touched) > 0 and all("event_type=purchase" in r.fp for r in touched)
    )
    return (
        scan.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .withColumn("files_from_one_partition", F.lit(one_dir).cast("int"))
        .withColumn("partition_filter_pushed", F.lit(pushed).cast("int"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# p33 — file-stream source hygiene: cleanSource=archive

_P33_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(2 AS INTEGER) AS n_archived_files,
       CAST(1 AS INTEGER) AS n_source_files_left,
       CAST(1 AS INTEGER) AS archive_preserves_rows
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "p33_file_stream_clean_source_archive",
    oracle=_P33_ORACLE,
    tags=("source", "streaming", "audit"),
)
def p33_file_stream_clean_source_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-STREAM SOURCE HYGIENE under the hash gate (cleanSource=
    archive + sourceArchiveDir): consumed input files must MOVE to the
    archive instead of accumulating in the landing dir — the
    operational contract that keeps a 100 TB landing zone's file
    listing O(new), not O(ever). Law (probed first): a consumed file
    is archived at the start of the NEXT batch, so a 3-file
    availableNow replay archives exactly the first two files and
    leaves the last in place. In-hash facts: archived-file count (2),
    source-files-left count (1), and rows(archive ∪ leftover) ==
    rows(original staging) — relocation must lose nothing. The sink
    rollup hash-matches the relational aggregate, so consumption and
    relocation are both under the gate. The staging is a PRIVATE copy
    (archiving mutates the source dir; the shared memoized tercile
    staging must never be consumed destructively).

    Scale: the alternative (cleanSource=off) makes every micro-batch
    re-list an ever-growing directory — the silent file-source killer;
    archive/delete bounds the listing and preserves replayability of
    unconsumed tails.
    """
    import os
    import shutil

    shared = stage_event_chunks(spark, sf_dir)
    root = scratch_dir("p33_target")
    src = os.path.join(root, "landing")
    arch = os.path.join(root, "archive")
    os.makedirs(src)
    for f in sorted(os.listdir(shared)):
        if f.endswith(".parquet"):
            shutil.copy2(os.path.join(shared, f), os.path.join(src, f))
    n_staged = spark.read.parquet(src).count()  # bounded scalar
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("cleanSource", "archive")
        .option("sourceArchiveDir", arch)
        .parquet(src + "/*")
    )
    sink = os.path.join(root, "sink")
    drain_available_now(
        stream.select("event_id", "event_type").writeStream.format("parquet").option("path", sink),
        os.path.join(root, "ckpt"),
        "p33",
    )
    import glob as _g

    stage_names = {f for f in os.listdir(shared) if f.endswith(".parquet")}
    left = [
        p
        for p in _g.glob(os.path.join(src, "*.parquet"))
        if os.path.isfile(p) and os.path.basename(p) in stage_names
    ]
    # the archive preserves the ORIGINAL absolute path under arch; the
    # staged chunks are single parquet FILES, so match them by name
    archived = [
        p
        for p in _g.glob(os.path.join(arch, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p) and os.path.basename(p) in stage_names
    ]
    n_archived = len(archived)
    n_left = len(left)
    relocated_rows = sum(spark.read.parquet(p).count() for p in sorted(archived + left))
    preserved = int(relocated_rows == n_staged)
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .withColumn("n_archived_files", F.lit(n_archived).cast("int"))
        .withColumn("n_source_files_left", F.lit(n_left).cast("int"))
        .withColumn("archive_preserves_rows", F.lit(preserved).cast("int"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# p34 — LIMIT/OFFSET pagination fused into one top-K pass

_P34_OFFSET = 40
_P34_PAGE = 20

_P34_ORACLE = f"""
SELECT o_orderkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS total_price,
       CAST(1 AS INTEGER) AS plan_fused_topk,
       CAST(1 AS INTEGER) AS sql_api_agree
FROM orders
ORDER BY o_orderkey
LIMIT {_P34_PAGE} OFFSET {_P34_OFFSET}
"""


@query(
    "p34_limit_offset_pagination",
    oracle=_P34_ORACLE,
    tags=("relational", "audit"),
)
def p34_limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET PAGINATION under the hash gate — DataFrame.offset
    (Spark 3.4+) composed with limit() over a total order, the
    page-N-of-a-result API a reporting layer calls in a loop. Two
    facts ride the hash beside the page rows: the executed plan fuses
    ORDER BY + OFFSET + LIMIT into ONE TakeOrderedAndProject with
    limit = offset + page and an explicit offset (a single O(offset +
    page) heap pass per partition + one driver merge — never a global
    sort), and the SQL spelling `LIMIT k OFFSET n` returns the
    IDENTICAL page (API and SQL route through the same plan). The page
    itself hash-matches DuckDB's LIMIT/OFFSET over the same total
    order, so the skip arithmetic (rows 41-60 of the o_orderkey order)
    is exact.

    Scale: the fusion fact is the whole point at 100 TB — a paginated
    top-k keeps a bounded heap of offset+page rows per partition and
    never materializes or globally sorts the input; an unfused
    offset (Sort + GlobalLimit) would shuffle the world. Deep offsets
    grow the heap linearly, which is why real pipelines keyset-
    paginate past page ~1000 — this key certifies the shallow-page
    fast path.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double").alias("total_price")
    )
    page = o.orderBy("o_orderkey").offset(_P34_OFFSET).limit(_P34_PAGE)
    plan = page._jdf.queryExecution().executedPlan().toString()
    fused = int(
        f"TakeOrderedAndProject(limit={_P34_OFFSET + _P34_PAGE}, offset={_P34_OFFSET}" in plan
    )
    o.createOrReplaceTempView("p34_orders")
    sql_page = spark.sql(
        f"SELECT o_orderkey, o_orderstatus, total_price FROM p34_orders "
        f"ORDER BY o_orderkey LIMIT {_P34_PAGE} OFFSET {_P34_OFFSET}"
    )
    api_rows = [tuple(r) for r in page.collect()]  # bounded: one page
    sql_rows = [tuple(r) for r in sql_page.collect()]  # bounded: one page
    agree = int(api_rows == sql_rows)
    return (
        page.withColumn("plan_fused_topk", F.lit(fused).cast("int"))
        .withColumn("sql_api_agree", F.lit(agree).cast("int"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# p35 — byte-capped stream admission (maxBytesPerTrigger) under availableNow

_P35_ORACLE = """
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
  SELECT CASE WHEN date_trunc('day', ts) < (SELECT v FROM cut2) THEN 0
              ELSE 1 END AS batch,
         event_id
  FROM events
)
SELECT CAST(batch AS BIGINT) AS batch,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       CAST(1 AS INTEGER) AS byte_cap_split_two_batches,
       CAST(1 AS INTEGER) AS first_batch_is_first_two_files
FROM chunked
GROUP BY batch
ORDER BY batch
"""


@query(
    "p35_stream_byte_cap_admission",
    oracle=_P35_ORACLE,
    tags=("streaming", "source", "audit"),
)
def p35_stream_byte_cap_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-CAPPED STREAM ADMISSION under the hash gate
    (maxBytesPerTrigger, the size-based sibling of p33's
    maxFilesPerTrigger pacing): the three chronological tercile files
    replay under availableNow with the byte cap set to EXACTLY
    size(file0) + size(file1) — derived at runtime from the staged
    files, so the law is SF-independent. Admission rule (probed
    first): the source admits whole files while the cumulative size
    stays under the cap, always at least one — so batch 0 must admit
    exactly the first two mtime-ordered files and batch 1 the third.
    In-hash: per-batch row counts and event_id sums (the oracle
    replays the day-tercile cut rule and merges terciles 0+1 into
    batch 0), plus two binary facts — the replay split into exactly
    two batches, and batch 0's row count equals the first two files'
    combined rows. Admission is read-only (no cleanSource), so the
    SHARED memoized staging is used directly.

    Scale: byte-based admission is how a production file stream keeps
    micro-batches memory-bounded when file sizes vary wildly (the
    landing zone's 100 MB-to-10 GB skew) — files-per-trigger caps
    count, not bytes, and one fat file can still blow the executor;
    this key certifies the byte budget actually governs admission.
    """
    import os

    stage = stage_event_chunks(spark, sf_dir)
    chunks = sorted(
        (
            os.path.join(stage, f)
            for f in os.listdir(stage)
            if f.endswith(".parquet") and os.path.isfile(os.path.join(stage, f))
        ),
        key=os.path.getmtime,
    )
    if len(chunks) != 3:
        raise AssertionError(f"p35: expected 3 staged tercile files, got {len(chunks)}")
    cap = os.path.getsize(chunks[0]) + os.path.getsize(chunks[1])
    first_two_rows = sum(spark.read.parquet(p).count() for p in chunks[:2])  # bounded scalars
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxBytesPerTrigger", str(cap))
        .parquet(stage + "/*")
    )
    batches: list[tuple[int, int, int]] = []

    def _fb(df: DataFrame, bid: int) -> None:
        row = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
        ).collect()[0]  # bounded: one row per micro-batch
        batches.append((bid, int(row["n"]), int(row["s"])))

    root = scratch_dir("p35_ckpt")
    drain_available_now(
        stream.select("event_id").writeStream.foreachBatch(_fb),
        os.path.join(root, "ckpt"),
        "p35",
    )
    two = int(len(batches) == 2)
    first_two = int(len(batches) >= 1 and batches[0][1] == first_two_rows)
    out = spark.createDataFrame(
        [(int(b), int(n), int(s)) for b, n, s in sorted(batches)],
        "batch bigint, n_events bigint, sum_ids bigint",
    )
    return (
        out.withColumn("byte_cap_split_two_batches", F.lit(two).cast("int"))
        .withColumn("first_batch_is_first_two_files", F.lit(first_two).cast("int"))
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# p36 — pandas-on-Spark merge (left join dialect with NaN-skipping aggs)

_P36_ORACLE = """
WITH c3 AS (SELECT * FROM customer WHERE c_custkey % 3 = 0)
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(c3.c_custkey) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(c3.c_custkey), 0) AS BIGINT) AS sum_matched_cust
FROM orders o LEFT JOIN c3 ON o.o_custkey = c3.c_custkey
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
"""


@query(
    "p36_pandas_on_spark_merge",
    oracle=_P36_ORACLE,
    tags=("api", "pandas", "join", "audit"),
)
def p36_pandas_on_spark_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PANDAS-ON-SPARK merge() under the hash gate — the join member
    of the pyspark.pandas family (p23 groupby, p28 rolling, p30
    pivot_table): orders LEFT-merged with a boolean-mask-filtered
    customer frame (c_custkey % 3 == 0) on o_custkey == c_custkey,
    then a groupby whose aggregates exercise pandas' NaN contract —
    count() skips the unmatched rows' NaN keys, sum() treats them as
    absent. The oracle replays the LEFT JOIN relationally (COUNT(col)
    and SUM(col) skip NULLs — the two dialects' missing-data rules
    must land on identical numbers). The unmatched keys surface as
    float64 NaN in pandas; every custkey is < 2^53 so the float sum
    is exact and the bigint cast is lossless.

    Scale: ps.merge compiles to the SAME Catalyst join as the
    DataFrame API (one shuffle here, broadcast-eligible when the
    right side is small) — certifying that the pandas dialect's
    how='left'/NaN semantics ride the optimized join, not a
    row-at-a-time fallback.
    """
    import pyspark.pandas as ps

    table(spark, sf_dir, "orders")  # cache-consistency path (see p23)
    table(spark, sf_dir, "customer")
    po = ps.read_parquet(f"{sf_dir}/orders.parquet", index_col="o_orderkey")
    c = ps.read_parquet(f"{sf_dir}/customer.parquet", index_col="c_custkey").reset_index()
    c3 = c[c["c_custkey"] % 3 == 0]
    m = po.reset_index().merge(c3, left_on="o_custkey", right_on="c_custkey", how="left")
    g = m.groupby("o_orderstatus").agg(
        n_orders=("o_orderkey", "count"),
        n_matched=("c_custkey", "count"),
        sum_matched_cust=("c_custkey", "sum"),
    )
    return (
        g.reset_index()
        .to_spark()
        .select(
            "o_orderstatus",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("n_matched").cast("bigint").alias("n_matched"),
            F.coalesce(F.col("sum_matched_cust"), F.lit(0)).cast("bigint").alias("sum_matched_cust"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# p37 — describe()/summary() audit: the profiling surface under the hash

_P37_ORACLE = """
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(o_custkey) AS BIGINT) AS sum_c,
         CAST(MIN(o_custkey) AS BIGINT) AS min_c,
         CAST(MAX(o_custkey) AS BIGINT) AS max_c,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_k,
         CAST(MIN(o_orderkey) AS BIGINT) AS min_k,
         CAST(MAX(o_orderkey) AS BIGINT) AS max_k
  FROM orders
)
SELECT stat, col, val,
       CAST(1 AS INTEGER) AS stddev_matches_closed_form
FROM (
  SELECT 'count' AS stat, 'o_custkey' AS col, CAST(n AS DOUBLE) AS val FROM s
  UNION ALL SELECT 'mean', 'o_custkey', CAST(sum_c AS DOUBLE) / n FROM s
  UNION ALL SELECT 'min', 'o_custkey', CAST(min_c AS DOUBLE) FROM s
  UNION ALL SELECT 'max', 'o_custkey', CAST(max_c AS DOUBLE) FROM s
  UNION ALL SELECT 'count', 'o_orderkey', CAST(n AS DOUBLE) FROM s
  UNION ALL SELECT 'mean', 'o_orderkey', CAST(sum_k AS DOUBLE) / n FROM s
  UNION ALL SELECT 'min', 'o_orderkey', CAST(min_k AS DOUBLE) FROM s
  UNION ALL SELECT 'max', 'o_orderkey', CAST(max_k AS DOUBLE) FROM s
)
ORDER BY stat, col
"""


@query(
    "p37_describe_profile_audit",
    oracle=_P37_ORACLE,
    tags=("relational", "stats", "audit"),
)
def p37_describe_profile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.describe() under the hash gate — the one-call
    profiling surface every notebook reaches for first. describe()
    returns STRINGS (one row per statistic); this key melts the wide
    string matrix to long (stat, col, val) and hash-matches the exact
    statistics — count, mean, min, max over two BIGINT columns —
    against the oracle's closed forms. Exactness argument: integral
    sums stay below 2^53, so Spark's double-accumulated average is
    order-independent and equals the oracle's SUM/COUNT to the bit;
    Java's shortest-round-trip double printing makes the string→double
    cast lossless. stddev (sample, double-accumulated central
    moments) is NOT bit-stable across engines, so it rides as a
    binary fact instead: describe's stddev must match the closed form
    sqrt((n·Σx² − (Σx)²)/(n(n−1))) — computed in EXACT python
    integers from decimal-summed Σx² — to 1e-9 relative, per column.

    Scale: describe is one aggregation pass (count/avg/stddev/min/max
    fused into a single partial-aggregate tree) — the profiling cost
    at 100 TB is one scan, certified here to produce exact numbers,
    not estimates.
    """
    import math

    o = table(spark, sf_dir, "orders")
    d = {r["summary"]: r for r in o.select("o_custkey", "o_orderkey").describe().collect()}
    # exact integer moments for the stddev closed form (decimal: Σx²
    # overflows bigint at production key magnitudes)
    mom = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_custkey").alias("sc"),
        F.sum(F.col("o_custkey").cast("decimal(38,0)") * F.col("o_custkey")).alias("sc2"),
        F.sum("o_orderkey").alias("sk"),
        F.sum(F.col("o_orderkey").cast("decimal(38,0)") * F.col("o_orderkey")).alias("sk2"),
    ).collect()[0]
    n = int(mom["n"])

    def _closed_form(sx: int, sx2: int) -> float:
        num = n * sx2 - sx * sx  # exact python ints
        return math.sqrt(float(num) / float(n * (n - 1)))

    ok = 1
    for col, sx, sx2 in (
        ("o_custkey", int(mom["sc"]), int(mom["sc2"])),
        ("o_orderkey", int(mom["sk"]), int(mom["sk2"])),
    ):
        ref = _closed_form(sx, sx2)
        got = float(d["stddev"][col])
        if not math.isclose(got, ref, rel_tol=1e-9):
            ok = 0
    rows = [
        (stat, col, float(d[stat][col]))
        for stat in ("count", "mean", "min", "max")
        for col in ("o_custkey", "o_orderkey")
    ]
    return (
        spark.createDataFrame(rows, "stat string, col string, val double")
        .withColumn("stddev_matches_closed_form", F.lit(ok).cast("int"))
        .orderBy("stat", "col")
    )


# ---------------------------------------------------------------------------
# p38 — crosstab contingency matrix, melted back to long for the hash

_P38_ORACLE = """
WITH s AS (SELECT DISTINCT o_orderstatus FROM orders),
p AS (SELECT DISTINCT o_orderpriority FROM orders),
counts AS (
  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
)
SELECT s.o_orderstatus AS status,
       p.o_orderpriority AS priority,
       CAST(COALESCE(counts.c, 0) AS BIGINT) AS n,
       CAST(1 AS INTEGER) AS header_is_colpair_name
FROM s CROSS JOIN p
LEFT JOIN counts ON counts.o_orderstatus = s.o_orderstatus
                AND counts.o_orderpriority = p.o_orderpriority
ORDER BY status, priority
"""


@query(
    "p38_crosstab_contingency",
    oracle=_P38_ORACLE,
    tags=("relational", "stats", "audit"),
)
def p38_crosstab_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.crosstab() under the hash gate — the pairwise
    contingency-table primitive (status × priority). crosstab returns
    a WIDE frame whose column NAMES are data values (one per distinct
    priority) and whose first column is named after the column PAIR;
    this key melts the matrix back to long (status, priority, n) via
    stack() built from the actual produced headers — so the header
    set, the zero-fill rule (absent combinations must be 0, not
    missing), and every cell count are all under the value hash. The
    oracle replays the semantics as the distinct-domains cross join
    LEFT-joined to the pair counts. One binary fact rides along: the
    key column is named 'o_orderstatus_o_orderpriority' (the
    documented pair-name contract).

    Scale: crosstab is a single groupBy(col1, col2).count() + a
    driver-side pivot over the DISTINCT value pairs — safe only for
    low-cardinality pairs (the result is rows × cols cells on the
    driver); this key certifies the cell arithmetic on a 3×5 domain,
    the shape it is designed for.
    """
    o = table(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderstatus", "o_orderpriority")
    header = ct.columns[0]
    header_ok = int(header == "o_orderstatus_o_orderpriority")
    prio_cols = sorted(ct.columns[1:])
    stack_args = ", ".join(f"'{c}', `{c}`" for c in prio_cols)
    return (
        ct.select(
            F.col(header).alias("status"),
            F.expr(f"stack({len(prio_cols)}, {stack_args}) AS (priority, n)"),
        )
        .select(
            "status",
            "priority",
            F.col("n").cast("bigint").alias("n"),
            F.lit(header_ok).cast("int").alias("header_is_colpair_name"),
        )
        .orderBy("status", "priority")
    )


# ---------------------------------------------------------------------------
# p39 — df.toArrow() round trip: the Arrow interchange surface

_P39_ORACLE = """
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(c_custkey) AS BIGINT) AS sum_custkeys,
       CAST(1 AS INTEGER) AS arrow_schema_names_match,
       CAST(1 AS INTEGER) AS arrow_row_count_matches
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@query(
    "p39_arrow_interchange_roundtrip",
    oracle=_P39_ORACLE,
    tags=("api", "arrow", "audit"),
)
def p39_arrow_interchange_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.toArrow() ROUND TRIP under the hash gate — the Spark 4.0
    Arrow interchange surface (the zero-copy bridge to DuckDB, Polars,
    and the pyarrow ecosystem): a BOUNDED per-nation rollup (≤ 25
    rows) exports via toArrow() to a pyarrow Table, and the Table goes
    straight back through spark.createDataFrame(pa.Table). What rides
    the hash is the ROUND-TRIPPED frame — so a type mangled or a value
    corrupted in either direction breaks the gate — plus two binary
    facts: the Arrow schema preserved the column names in order, and
    the Table's num_rows equals the frame's count. The oracle replays
    the rollup relationally.

    Scale: toArrow() COLLECTS to the driver — correct only for
    bounded results like this pre-aggregated rollup (the same
    discipline as every .collect() in the suite); the certified
    pattern is aggregate-in-cluster, interchange-the-summary. The
    Arrow path is the vectorized one (no row-at-a-time pickling) —
    the same transport the pandas UDF keys ride.
    """
    c = table(spark, sf_dir, "customer")
    agg = (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("c_custkey").cast("bigint").alias("sum_custkeys"),
        )
        .orderBy("c_nationkey")
    )
    at = agg.toArrow()  # bounded: one row per nation
    names_ok = int(at.schema.names == agg.columns)
    rows_ok = int(at.num_rows == agg.count())
    back = spark.createDataFrame(at)
    return (
        back.withColumn("arrow_schema_names_match", F.lit(names_ok).cast("int"))
        .withColumn("arrow_row_count_matches", F.lit(rows_ok).cast("int"))
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# p40 — exact-mode Greenwald-Khanna quantiles vs discrete quantiles

_P40_PROBS = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]

_P40_PROBS_SQL = "[0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]"

_P40_ORACLE = f"""
WITH q AS (
  SELECT quantile_disc(o_totalprice, {_P40_PROBS_SQL}) AS pq,
         quantile_disc(o_custkey, {_P40_PROBS_SQL}) AS cq
  FROM orders
), idx AS (SELECT UNNEST(range(1, 9)) AS i)
SELECT CAST({_P40_PROBS_SQL}[i] AS DOUBLE) AS p,
       pq[i] AS price_quantile,
       CAST(cq[i] AS DOUBLE) AS custkey_quantile
FROM q CROSS JOIN idx
ORDER BY p
"""


@query(
    "p40_exact_quantiles_gk",
    oracle=_P40_ORACLE,
    tags=("relational", "stats", "audit"),
)
def p40_exact_quantiles_gk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approxQuantile(relativeError=0.0) under the hash gate — the
    EXACT mode of the Greenwald-Khanna sketch (the one quantile
    surface the suite still carried as approximate-only: the qg07 KLL
    audit gates error BOUNDS; this key gates exact VALUES). At zero
    relative error GK degenerates to exact rank selection over
    dataset ELEMENTS, which is the same contract as DuckDB's
    quantile_disc — both return an actual data value, never an
    interpolation — so an 8-probability ladder over BOTH columns of
    the multi-column API form (approxQuantile(["o_totalprice",
    "o_custkey"], probs, 0.0)) hash-matches the oracle at p ∈ {{0,
    .1, .25, .5, .75, .9, .99, 1}}, pinning the rank convention
    (including both endpoints) across engines.

    Scale: relativeError=0 forces the sketch to keep every distinct
    rank — O(n) state, exact answers; production at 100 TB sets ε > 0
    for O((1/ε) log(εn)) memory (the qg07-audited regime). This key
    certifies the ε→0 limit the approximate regime converges to.
    """
    o = table(spark, sf_dir, "orders")
    qs = o.stat.approxQuantile(["o_totalprice", "o_custkey"], _P40_PROBS, 0.0)
    rows = [
        (float(p), float(qs[0][i]), float(qs[1][i])) for i, p in enumerate(_P40_PROBS)
    ]  # bounded: 8 rows
    return spark.createDataFrame(
        rows, "p double, price_quantile double, custkey_quantile double"
    ).orderBy("p")


# ---------------------------------------------------------------------------
# p41 — nested struct surgery: withField / dropFields

_P41_ORACLE = """
SELECT o_orderkey,
       CAST(o_totalprice + 1 AS DOUBLE) AS price_plus_one,
       CAST(o_custkey * 2 AS BIGINT) AS cust_doubled,
       CAST(1 AS INTEGER) AS struct_fields_are_exact
FROM orders
WHERE o_orderkey < 50
ORDER BY o_orderkey
"""


@query(
    "p41_struct_field_surgery",
    oracle=_P41_ORACLE,
    tags=("functions", "nested", "audit"),
)
def p41_struct_field_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED STRUCT SURGERY under the hash gate — Column.withField /
    dropFields, the in-place editors for deeply nested schemas (the
    alternative is rebuilding the whole struct by hand, which silently
    drops sibling fields on schema drift). Three edits chain on one
    struct: withField REPLACES an existing field (o_totalprice + 1),
    withField ADDS a new one (cust = o_custkey * 2), and dropFields
    REMOVES the key field — then the surviving fields are extracted
    and hash-matched against plain column arithmetic. One binary fact
    rides along: the post-surgery struct schema is EXACTLY
    [o_totalprice, cust] in that order (replace keeps position, add
    appends, drop removes — the documented field-ordering contract).

    Scale: withField compiles to UpdateFields, a pure projection —
    no shuffle, fully codegen'd, and column-prunable; on a 100 TB
    nested-event table it beats the rebuild-the-struct idiom exactly
    because Catalyst can still prune the untouched siblings.
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 50)
    s = o.select("o_orderkey", F.struct("o_orderkey", "o_totalprice").alias("st"), "o_custkey")
    s = (
        s.withColumn("st", F.col("st").withField("o_totalprice", F.col("st.o_totalprice") + 1))
        .withColumn("st", F.col("st").withField("cust", F.col("o_custkey") * 2))
        .withColumn("st", F.col("st").dropFields("o_orderkey"))
    )
    fields = [f.name for f in s.schema["st"].dataType.fields]
    exact = int(fields == ["o_totalprice", "cust"])
    return s.select(
        "o_orderkey",
        F.col("st.o_totalprice").cast("double").alias("price_plus_one"),
        F.col("st.cust").cast("bigint").alias("cust_doubled"),
        F.lit(exact).cast("int").alias("struct_fields_are_exact"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# p42 — map higher-order functions: the long tail

_P42_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey AS BIGINT) AS upper_key_k,
       CAST(o_custkey * 10 AS BIGINT) AS tenfold_c,
       CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END
            + CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_even,
       CAST(o_orderkey * 11 AS BIGINT) AS zipped_k
FROM orders
WHERE o_orderkey < 30
ORDER BY o_orderkey
"""


@query(
    "p42_map_higher_order_funcs",
    oracle=_P42_ORACLE,
    tags=("functions", "map", "audit"),
)
def p42_map_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP HIGHER-ORDER FUNCTIONS under the hash gate — the four map
    combinators the suite's map coverage (o45) never exercised:
    transform_keys (upper-cases the key space), transform_values
    (value × 10), map_filter (keep even values, surfaced as a count),
    and map_zip_with (joins two maps key-wise, here mp ⊕ tenfold →
    k×11). Each lambda runs as a Catalyst expression (no Python),
    and the results are extracted back to scalars per row so the
    oracle can replay them as plain arithmetic — proving the lambda
    plumbing (key matching, null-on-missing, per-entry evaluation)
    computes exactly what the scalar algebra says.

    Scale: map HOFs are codegen'd expression trees — per-row, no
    shuffle, no UDF serialization; the 100 TB-relevant fact is that
    feature-map transformations stay inside WholeStageCodegen instead
    of dropping to a Python worker per batch.
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 30)
    m = o.select(
        "o_orderkey",
        F.map_from_arrays(
            F.array(F.lit("k"), F.lit("c")),
            F.array(F.col("o_orderkey"), F.col("o_custkey")),
        ).alias("mp"),
    )
    m = m.select(
        "o_orderkey",
        F.transform_keys("mp", lambda k, v: F.upper(k)).alias("tk"),
        F.transform_values("mp", lambda k, v: v * 10).alias("tv"),
        F.map_filter("mp", lambda k, v: v % 2 == 0).alias("mf"),
        "mp",
    )
    m = m.select(
        "o_orderkey",
        "tk",
        "mf",
        F.map_zip_with("mp", "tv", lambda k, a, b: a + b).alias("mz"),
        "tv",
    )
    return m.select(
        "o_orderkey",
        F.element_at("tk", "K").cast("bigint").alias("upper_key_k"),
        F.element_at("tv", "c").cast("bigint").alias("tenfold_c"),
        F.size("mf").cast("int").alias("n_even"),
        F.element_at("mz", "k").cast("bigint").alias("zipped_k"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# p43 — datetime long tail: months_between / next_day / intervals / tz

_P43_ORACLE = """
SELECT o_orderkey,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
       ROUND((EXTRACT(day FROM last_day(CAST(o_orderdate AS DATE)))
              - EXTRACT(day FROM o_orderdate)) / 31.0, 8) AS months_to_end,
       CAST(CAST(o_orderdate AS DATE)
            + CAST((5 - isodow(CAST(o_orderdate AS DATE)) + 6) % 7 + 1 AS INTEGER)
            AS DATE) AS next_friday,
       CAST(date_part('quarter', o_orderdate) AS BIGINT) AS qtr,
       CAST(o_orderdate + INTERVAL '1 day' + INTERVAL '2:03:04.5' AS TIMESTAMP) AS shifted,
       CAST(timezone('America/New_York', o_orderdate AT TIME ZONE 'UTC') AS TIMESTAMP) AS ny_wallclock,
       CAST(1 AS INTEGER) AS try_parse_quarantined
FROM orders
WHERE o_orderkey < 40
ORDER BY o_orderkey
"""


@query(
    "p43_datetime_long_tail",
    oracle=_P43_ORACLE,
    tags=("functions", "datetime", "audit"),
)
def p43_datetime_long_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATETIME LONG TAIL under the hash gate — the calendar functions
    the q41-era date coverage never reached: months_between (the
    31-day-denominator fractional-month rule, rounded to 8 decimals —
    the oracle re-derives the convention arithmetically), next_day
    (next-strictly-after weekday, replayed via isodow modular
    arithmetic), last_day, date_part('quarter'), make_dt_interval
    day-time interval addition (1d 2h 3m 4.5s, microsecond-exact),
    and convert_timezone UTC→America/New_York across order dates that
    span DST transitions in both directions (the oracle replays via
    IANA tz arithmetic — a 07:00 winter / 08:00 summer wall-clock
    shift must agree engine-for-engine). try_to_timestamp rides as a
    fact: an always-invalid month-13 parse must quarantine to NULL on
    every row while the valid parse round-trips.

    Scale: all pure codegen'd projections — the point at 100 TB is
    that calendar normalization (fiscal quarters, tz-local
    sessionization cutoffs) never leaves the JVM.
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 40)
    d = F.to_date("o_orderdate")
    ts = F.col("o_orderdate")
    enriched = o.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        F.months_between(F.last_day(d), d).alias("months_to_end"),
        F.next_day(d, "Friday").alias("next_friday"),
        F.date_part(F.lit("quarter"), d).cast("bigint").alias("qtr"),
        (ts + F.make_dt_interval(F.lit(1), F.lit(2), F.lit(3), F.lit(4.5))).alias("shifted"),
        F.convert_timezone(
            F.lit("UTC"), F.lit("America/New_York"), ts.cast("timestamp_ntz")
        ).cast("timestamp").alias("ny_wallclock"),
        F.try_to_timestamp(
            F.concat(F.year(d).cast("string"), F.lit("-13-01")), F.lit("yyyy-MM-dd")
        ).alias("bad_parse"),
        F.try_to_timestamp(F.date_format(d, "yyyy-MM-dd"), F.lit("yyyy-MM-dd")).alias("good_parse"),
    )
    quarantined = int(
        enriched.where(
            F.col("bad_parse").isNotNull() | (F.col("good_parse") != d.cast("timestamp"))
        ).count()
        == 0
    )
    return enriched.select(
        "o_orderkey",
        "month_end",
        "months_to_end",
        "next_friday",
        "qtr",
        "shifted",
        "ny_wallclock",
        F.lit(quarantined).cast("int").alias("try_parse_quarantined"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# p44 — range repartitioning + REBALANCE: the write-layout primitives

_P44_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(MIN(o_orderkey) AS BIGINT) AS global_min,
       CAST(MAX(o_orderkey) AS BIGINT) AS global_max,
       CAST(8 AS INTEGER) AS n_parts,
       CAST(1 AS INTEGER) AS ranges_non_overlapping,
       CAST(1 AS INTEGER) AS ranges_cover_domain,
       CAST(1 AS INTEGER) AS plan_has_range_partitioning,
       CAST(1 AS INTEGER) AS rebalance_plan_marker
FROM orders
"""


@query(
    "p44_range_repartition_audit",
    oracle=_P44_ORACLE,
    tags=("plans", "partitioning", "audit"),
)
def p44_range_repartition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE REPARTITIONING LAW under the hash gate — repartitionByRange
    is the primitive behind writing globally-clustered parquet (each
    output file covers a disjoint key interval, so downstream range
    predicates prune whole files). The law certified here: after
    repartitionByRange(8, key), per-partition [min, max] intervals are
    pairwise NON-OVERLAPPING in partition order and their union covers
    [global_min, global_max]; the executed plan carries a
    RangePartitioning exchange (sampled boundaries, one shuffle). The
    REBALANCE hint — AQE's small-partition coalescer for skew-free
    writes — must leave its marker in the optimized plan. Boundary
    VALUES are sampling-dependent so they stay out of the hash; the
    laws and the repartition-invariant rollup ride it.

    Scale: this is THE 100 TB write path — range-cluster on the sort
    key, one exchange, no global sort; AQE rebalance then equalizes
    output file sizes without a second shuffle.
    """
    o = table(spark, sf_dir, "orders")
    r = o.repartitionByRange(8, "o_orderkey")
    per = (
        r.select("o_orderkey", F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx"))
        .orderBy("pid")
        .collect()
    )  # bounded: 8 rows of partition metadata
    non_overlap = int(
        len(per) <= 8 and all(per[i].mx < per[i + 1].mn for i in range(len(per) - 1))
    )
    tot = o.agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("s"),
        F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi"),
    ).first()
    covers = int(per[0].mn == tot.lo and per[-1].mx == tot.hi)
    plan = r._jdf.queryExecution().executedPlan().toString()
    has_range = int("rangepartitioning" in plan.lower())
    reb_plan = (
        spark.sql("SELECT /*+ REBALANCE */ * FROM {o}", o=o)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    has_rebalance = int("rebalance" in reb_plan.lower())
    return spark.createDataFrame(
        [
            (
                int(tot.n),
                int(tot.s),
                int(tot.lo),
                int(tot.hi),
                len(per),
                non_overlap,
                covers,
                has_range,
                has_rebalance,
            )
        ],
        "n_rows bigint, sum_keys bigint, global_min bigint, global_max bigint, "
        "n_parts int, ranges_non_overlapping int, ranges_cover_domain int, "
        "plan_has_range_partitioning int, rebalance_plan_marker int",
    )


# ---------------------------------------------------------------------------
# p45 — partition-metadata functions: mid / spark_partition_id / file path

_P45_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(1 AS INTEGER) AS mid_all_unique,
       CAST(1 AS INTEGER) AS mid_prefix_is_partition_id,
       CAST(1 AS INTEGER) AS pid_within_bounds,
       CAST(1 AS INTEGER) AS file_name_matches_metadata
FROM orders
"""


@query(
    "p45_partition_metadata_funcs",
    oracle=_P45_ORACLE,
    tags=("functions", "partitioning", "audit"),
)
def p45_partition_metadata_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-METADATA FUNCTION LAWS under the hash gate —
    monotonically_increasing_id's documented bit layout (upper 31 bits
    = partition id, i.e. mid >> 33 == spark_partition_id, which is
    what makes it collision-free WITHOUT coordination), global
    uniqueness (distinct count == row count), spark_partition_id
    bounded by the actual partition count, and input_file_name()
    agreeing with the _metadata.file_path hidden column (scheme
    normalized: file:/// vs file:/ spellings differ, path must not).
    The relational rollup rides the hash; each law is a binary fact.

    Scale: mid is the zero-shuffle surrogate-key generator at 100 TB —
    the law that it never collides ACROSS executors is exactly the
    bit-layout fact certified here; _metadata is the lineage column
    that survives file compaction audits.
    """
    o = table(spark, sf_dir, "orders")
    df = o.repartition(6).select(
        "o_orderkey",
        F.monotonically_increasing_id().alias("mid"),
        F.spark_partition_id().alias("pid"),
    )
    agg = df.agg(
        F.count("*").alias("n"),
        F.countDistinct("mid").alias("n_mid"),
        F.sum(
            (F.shiftright("mid", 33) != F.col("pid").cast("bigint")).cast("int")
        ).alias("bad_prefix"),
        F.max("pid").alias("max_pid"),
        F.min("pid").alias("min_pid"),
        F.sum("o_orderkey").alias("s"),
    ).first()
    n_parts = df.rdd.getNumPartitions()
    meta = (
        o.select(
            F.regexp_replace(F.input_file_name(), "^file:/+", "file:/").alias("ifn"),
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "file:/").alias("fp"),
        )
        .agg(F.sum((F.col("ifn") != F.col("fp")).cast("int")).alias("bad"))
        .first()
    )
    return spark.createDataFrame(
        [
            (
                int(agg.n),
                int(agg.s),
                int(agg.n == agg.n_mid),
                int(agg.bad_prefix == 0),
                int(agg.min_pid >= 0 and agg.max_pid < n_parts),
                int(meta.bad == 0),
            )
        ],
        "n_rows bigint, sum_keys bigint, mid_all_unique int, "
        "mid_prefix_is_partition_id int, pid_within_bounds int, "
        "file_name_matches_metadata int",
    )


# ---------------------------------------------------------------------------
# p46 — randomSplit: disjoint, complete, seed-deterministic

_P46_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(3 AS INTEGER) AS n_splits,
       CAST(1 AS INTEGER) AS splits_disjoint,
       CAST(1 AS INTEGER) AS splits_complete,
       CAST(1 AS INTEGER) AS seed_repeatable
FROM orders
"""


@query(
    "p46_random_split_law",
    oracle=_P46_ORACLE,
    tags=("ml", "sampling", "audit"),
)
def p46_random_split_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """randomSplit LAW AUDIT under the hash gate — the train/val/test
    splitter's three contracts: the splits PARTITION the input (pairwise
    disjoint AND their union is exactly the table — Spark guarantees
    this by per-partition sorting before sampling, without which rows
    could land in two splits or none), and a fixed seed makes the
    assignment REPLAYABLE (two independent randomSplit calls with
    seed=42 must produce identical per-split id-sums). Per-split
    contents are engine RNG so they stay out of the hash; the laws and
    the split-invariant table rollup ride it.

    Scale: the disjoint/complete law is what makes distributed
    train/test splits trustworthy at 100 TB — no coordinator, no
    global shuffle, yet no leakage between splits.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    a1, a2, a3 = o.randomSplit([0.25, 0.25, 0.5], seed=42)
    b1, b2, b3 = o.randomSplit([0.25, 0.25, 0.5], seed=42)

    def sig(df: DataFrame):
        r = df.agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("s")).first()
        return (int(r.n), int(r.s or 0))

    sig_a, sig_b = [sig(x) for x in (a1, a2, a3)], [sig(x) for x in (b1, b2, b3)]
    repeatable = int(sig_a == sig_b)
    union = a1.unionAll(a2).unionAll(a3)
    tot = o.agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("s")).first()
    u = union.agg(
        F.count("*").alias("n"),
        F.countDistinct("o_orderkey").alias("nd"),
        F.sum("o_orderkey").alias("s"),
    ).first()
    disjoint = int(u.n == u.nd)  # keys unique in table; a double-assign would dup
    complete = int(u.n == tot.n and u.s == tot.s)
    return spark.createDataFrame(
        [(int(tot.n), int(tot.s), 3, disjoint, complete, repeatable)],
        "n_rows bigint, sum_keys bigint, n_splits int, splits_disjoint int, "
        "splits_complete int, seed_repeatable int",
    )


# ---------------------------------------------------------------------------
# p47 — freqItems superset guarantee

_P47_ORACLE = """
WITH tot AS (SELECT COUNT(*) AS n FROM orders)
SELECT o.o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS exact_count,
       CAST(1 AS INTEGER) AS present_in_freq_items
FROM orders o, tot
GROUP BY o.o_orderstatus, tot.n
HAVING COUNT(*) > 0.15 * ANY_VALUE(tot.n)
ORDER BY status
"""


@query(
    "p47_freq_items_superset_law",
    oracle=_P47_ORACLE,
    tags=("stat", "sketch", "audit"),
)
def p47_freq_items_superset_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.freqItems SUPERSET LAW under the hash gate — the
    Karp-Schenker-Papadimitriou one-pass heavy-hitter sketch promises
    NO FALSE NEGATIVES: every value with true frequency > support·n
    must appear in the result (false positives allowed — that side is
    deliberately NOT asserted). The hash carries the relationally
    replayable half: each truly-frequent o_orderstatus with its exact
    count, plus the membership fact that freqItems(support=0.15)
    surfaced it. One bounded single-row collect fetches the sketch
    output (an array per column, constant-size).

    Scale: KSP is the mergeable streaming-pass answer to "which enum
    values dominate this 100 TB column" — one map-side pass, counters
    bounded by 1/support, no shuffle of raw values.
    """
    o = table(spark, sf_dir, "orders")
    items = set(o.freqItems(["o_orderstatus"], support=0.15).first()[0])
    n = o.count()
    truly = (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("exact_count"))
        .where(F.col("exact_count") > 0.15 * n)
    )
    return truly.select(
        "status",
        F.col("exact_count").cast("bigint"),
        F.col("status").isin(*items).cast("int").alias("present_in_freq_items"),
    ).orderBy("status")


# ---------------------------------------------------------------------------
# p48 — width_bucket equi-width histogram

_P48_ORACLE = """
SELECT CAST(FLOOR(o_totalprice / 32768.0) + 1 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       CAST(1 AS INTEGER) AS edge_law_holds
FROM orders
GROUP BY 1
ORDER BY bucket
"""


@query(
    "p48_width_bucket_histogram",
    oracle=_P48_ORACLE,
    tags=("functions", "stat", "audit"),
)
def p48_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket EQUI-WIDTH HISTOGRAM under the hash gate — the SQL
    standard bucketing function over [0, 524288) in 16 buckets. The
    bounds are chosen so the bucket width (32768 = 2^15) is a power of
    two: dividing a double by 2^15 is EXACT in IEEE-754, so Spark's
    width_bucket and the oracle's floor(x / 32768) + 1 agree bit-for-bit
    even for values landing exactly on a bucket edge (with a
    non-power-of-two width the two engines' internal arithmetic could
    disagree by one ULP at edges — the classic histogram portability
    trap, dodged by construction and documented here). The out-of-range
    law (below → 0, at-or-above max → numBuckets+1) is pinned as a fact
    from two literal probes since the corpus never leaves range.

    Scale: equi-width histograms are the one-shuffle profiling
    primitive; width_bucket keeps the binning in codegen instead of a
    CASE ladder or a Python cut().
    """
    o = table(spark, sf_dir, "orders")
    probe = spark.range(1).select(
        F.width_bucket(F.lit(-1.0), F.lit(0.0), F.lit(524288.0), F.lit(16)).alias("below"),
        F.width_bucket(F.lit(524288.0), F.lit(0.0), F.lit(524288.0), F.lit(16)).alias("at_max"),
    ).first()
    edge_ok = int(probe.below == 0 and probe.at_max == 17)
    return (
        o.select(
            F.width_bucket(
                F.col("o_totalprice"), F.lit(0.0), F.lit(524288.0), F.lit(16)
            ).alias("bucket"),
            "o_orderkey",
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("sum_keys"))
        .select(
            "bucket",
            F.col("n").cast("bigint"),
            F.col("sum_keys").cast("bigint"),
            F.lit(edge_ok).cast("int").alias("edge_law_holds"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# p49 — linear-regression aggregates: sufficient statistics + agreement

_P49_ORACLE = """
SELECT o_orderpriority AS grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_custkey AS HUGEINT)) AS BIGINT) AS sx,
       CAST(SUM(CAST(o_orderkey AS HUGEINT)) AS BIGINT) AS sy,
       CAST(SUM(CAST(o_custkey AS HUGEINT) * o_orderkey) AS BIGINT) AS sxy,
       CAST(SUM(CAST(o_custkey AS HUGEINT) * o_custkey) AS BIGINT) AS sxx,
       CAST(SUM(CAST(o_orderkey AS HUGEINT) * o_orderkey) AS BIGINT) AS syy,
       CAST(1 AS INTEGER) AS slope_agrees,
       CAST(1 AS INTEGER) AS intercept_agrees,
       CAST(1 AS INTEGER) AS r2_agrees,
       CAST(1 AS INTEGER) AS covar_pop_agrees,
       CAST(1 AS INTEGER) AS covar_samp_agrees,
       CAST(1 AS INTEGER) AS regr_count_exact
FROM orders
GROUP BY o_orderpriority
ORDER BY grp
"""


@query(
    "p49_regression_aggregates",
    oracle=_P49_ORACLE,
    tags=("stat", "agg", "audit"),
)
def p49_regression_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-REGRESSION AGGREGATES under the hash gate — regr_slope /
    regr_intercept / regr_r2 / regr_count / covar_pop / covar_samp,
    certified by the p37-stddev precedent: the HASH carries the exact
    integer SUFFICIENT STATISTICS (n, Σx, Σy, Σxy, Σx², Σy² —
    accumulated as DECIMAL(38,0)/HUGEINT internally per the house
    decimal-sum pattern, SURFACED as BIGINT per the no-decimal-schema
    convention the type audit enforces; the largest moment here is
    ~5e16 at sf0.1, four orders of magnitude under the BIGINT rim,
    and the interior stays overflow-proof regardless), and each
    double-accumulating engine function rides as
    a closed-form AGREEMENT FACT (|fn − derived| ≤ 1e-9·(1+|derived|);
    cross-engine double accumulation order is not bit-stable, so the
    raw doubles stay out of the hash by design). x = o_custkey,
    y = o_orderkey: both exact integers, no float ingestion anywhere.

    Scale: regr_* are single-pass map-side-combinable moments — the
    one-shuffle way to fit 10^5 per-group trend lines over 100 TB
    without MLlib; the sufficient-statistic form is also exactly what
    you persist for incremental refresh.
    """
    o = table(spark, sf_dir, "orders")
    x = F.col("o_custkey")
    y = F.col("o_orderkey")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").alias("n"),
        F.sum(x.cast("decimal(38,0)")).alias("sx"),
        F.sum(y.cast("decimal(38,0)")).alias("sy"),
        F.sum((x.cast("decimal(38,0)") * y).cast("decimal(38,0)")).alias("sxy"),
        F.sum((x.cast("decimal(38,0)") * x).cast("decimal(38,0)")).alias("sxx"),
        F.sum((y.cast("decimal(38,0)") * y).cast("decimal(38,0)")).alias("syy"),
        F.regr_slope(y, x).alias("f_slope"),
        F.regr_intercept(y, x).alias("f_icpt"),
        F.regr_r2(y, x).alias("f_r2"),
        F.regr_count(y, x).alias("f_cnt"),
        F.covar_pop(y, x).alias("f_cvp"),
        F.covar_samp(y, x).alias("f_cvs"),
    )
    n = F.col("n").cast("double")
    dsx, dsy = F.col("sx").cast("double"), F.col("sy").cast("double")
    dsxy, dsxx, dsyy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    num = n * dsxy - dsx * dsy
    denx = n * dsxx - dsx * dsx
    deny = n * dsyy - dsy * dsy
    slope = num / denx
    icpt = (dsy - slope * dsx) / n
    r2 = (num * num) / (denx * deny)
    cvp = num / (n * n)
    cvs = num / (n * (n - F.lit(1.0)))

    def agrees(fn, derived):
        return (
            F.abs(fn - derived) <= F.lit(1e-9) * (F.lit(1.0) + F.abs(derived))
        ).cast("int")

    return g.select(
        "grp",
        "n",
        F.col("sx").cast("bigint").alias("sx"),
        F.col("sy").cast("bigint").alias("sy"),
        F.col("sxy").cast("bigint").alias("sxy"),
        F.col("sxx").cast("bigint").alias("sxx"),
        F.col("syy").cast("bigint").alias("syy"),
        agrees(F.col("f_slope"), slope).alias("slope_agrees"),
        agrees(F.col("f_icpt"), icpt).alias("intercept_agrees"),
        agrees(F.col("f_r2"), r2).alias("r2_agrees"),
        agrees(F.col("f_cvp"), cvp).alias("covar_pop_agrees"),
        agrees(F.col("f_cvs"), cvs).alias("covar_samp_agrees"),
        (F.col("f_cnt") == F.col("n")).cast("int").alias("regr_count_exact"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# p50 — binary encodings: hex / base64 / sha2 / bit ops

_P50_ORACLE = """
SELECT o_orderkey,
       CAST(bit_count(CAST(o_orderkey AS BIGINT)) AS INTEGER) AS bits_set,
       CAST(o_orderkey % 2 AS INTEGER) AS bit0,
       CAST(o_orderkey * 8 AS BIGINT) AS shifted3,
       to_hex(CAST(o_orderkey AS BIGINT)) AS key_hex,
       to_base64(CAST(substr(o_orderstatus || '-' || o_orderpriority || '-' || CAST(o_orderkey AS VARCHAR), 1, 12) AS BLOB)) AS frag_b64,
       sha256(substr(o_orderstatus || '-' || o_orderpriority || '-' || CAST(o_orderkey AS VARCHAR), 1, 12)) AS frag_sha,
       CAST(1 AS INTEGER) AS hex_roundtrips,
       CAST(1 AS INTEGER) AS b64_roundtrips,
       CAST(1 AS INTEGER) AS crc32_known_vector
FROM orders
WHERE o_orderkey < 40
ORDER BY o_orderkey
"""


@query(
    "p50_binary_encoding_funcs",
    oracle=_P50_ORACLE,
    tags=("functions", "binary", "audit"),
)
def p50_binary_encoding_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY ENCODING FUNCTIONS under the hash gate — bit_count /
    getbit / shiftleft replayed as arithmetic (popcount, parity bit,
    ×2³), hex() against DuckDB to_hex (both emit minimal uppercase),
    base64() against to_base64 over the same 12-byte slice of a
    string both engines construct identically from status/priority/key
    (the slim testdata schema carries no comment column; short enough
    that MIME line-wrapping can't diverge), and sha2(·, 256) against
    sha256 — the content-addressing primitive every dedup ledger in
    this suite keys on, here certified byte-for-byte at the function
    level. Inverses ride as facts: unhex∘hex and
    unbase64∘base64 must be identity on every row, and crc32 is
    pinned to the public test vector crc32('abc') = 891568578
    (DuckDB lacks crc32, so the known-answer test stands in).

    Scale: all codegen'd projections; sha2/base64 at 100 TB are
    map-side content hashing — no shuffle, no Python.
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 40)
    frag = F.substring(
        F.concat_ws("-", "o_orderstatus", "o_orderpriority", F.col("o_orderkey").cast("string")),
        1,
        12,
    )
    crc_known = int(
        spark.range(1)
        .select(F.crc32(F.lit("abc").cast("binary")).alias("c"))
        .first()
        .c
        == 891568578
    )
    return o.select(
        "o_orderkey",
        F.bit_count("o_orderkey").cast("int").alias("bits_set"),
        F.getbit("o_orderkey", F.lit(0)).cast("int").alias("bit0"),
        F.shiftleft(F.col("o_orderkey"), 3).cast("bigint").alias("shifted3"),
        F.hex("o_orderkey").alias("key_hex"),
        F.base64(frag.cast("binary")).alias("frag_b64"),
        F.sha2(frag.cast("binary"), 256).alias("frag_sha"),
        (F.unhex(F.hex(frag)).cast("string") == frag).cast("int").alias("hex_roundtrips"),
        (F.unbase64(F.base64(frag.cast("binary"))).cast("string") == frag)
        .cast("int")
        .alias("b64_roundtrips"),
        F.lit(crc_known).cast("int").alias("crc32_known_vector"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# p51 — try_* arithmetic: ANSI safety valves

_P51_ORACLE = """
SELECT o_orderpriority AS grp,
       CAST(SUM(o_orderkey) AS BIGINT) AS try_sum_keys,
       AVG(o_orderkey) AS try_avg_keys,
       CAST(SUM(o_orderkey - 10) AS BIGINT) AS sum_try_subtract,
       CAST(SUM(o_orderkey % 7) AS BIGINT) AS sum_try_mod,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN o_custkey ELSE o_orderkey END) AS BIGINT)
           AS sum_try_element,
       CAST(1 AS INTEGER) AS overflow_quarantined,
       CAST(1 AS INTEGER) AS div_zero_quarantined,
       CAST(1 AS INTEGER) AS bad_index_quarantined,
       CAST(1 AS INTEGER) AS bad_date_quarantined
FROM orders
GROUP BY o_orderpriority
ORDER BY grp
"""


@query(
    "p51_try_arithmetic_quarantine",
    oracle=_P51_ORACLE,
    tags=("functions", "ansi", "audit"),
)
def p51_try_arithmetic_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_* ANSI SAFETY VALVES under the hash gate — the functions that
    turn would-be runtime errors into NULL quarantine instead of
    killing a 1000-executor job at hour nine: try_sum / try_avg
    (hash-matched on the happy path against plain SUM/AVG — avg over
    exact BIGINTs is one correctly-rounded double division, so it IS
    cross-engine stable), try_subtract, try_mod, and try_element_at
    (per-row results re-aggregated; element lookup alternates between
    a hit and a fallback so both branches execute). The quarantine
    side rides as four literal-probe facts: BIGINT overflow
    (MIN_LONG − 1), mod-by-zero, out-of-bounds array index, and an
    unparseable date each must yield NULL, not an exception.

    Scale: the try_* family is the difference between "3 bad rows in
    100 TB poison the job" and "3 NULLs in the output you can audit" —
    the same contract the ingest suite's PERMISSIVE mode certifies at
    the reader layer, here at the expression layer.
    """
    o = table(spark, sf_dir, "orders")
    probes = (
        spark.range(1)
        .select(
            F.try_subtract(F.lit(-9223372036854775808), F.lit(1)).alias("ovf"),
            F.try_mod(F.lit(5), F.lit(0)).alias("dz"),
            F.try_element_at(F.array(F.lit(1), F.lit(2)), F.lit(9)).alias("bi"),
            F.try_to_date(F.lit("2024-40-01")).alias("bd"),
        )
        .first()
    )
    facts = {
        "overflow_quarantined": int(probes.ovf is None),
        "div_zero_quarantined": int(probes.dz is None),
        "bad_index_quarantined": int(probes.bi is None),
        "bad_date_quarantined": int(probes.bd is None),
    }
    per_row = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.try_subtract(F.col("o_orderkey"), F.lit(10)).alias("sub10"),
        F.try_mod(F.col("o_orderkey"), F.lit(7)).alias("mod7"),
        F.try_element_at(
            F.array(F.col("o_custkey"), F.col("o_orderkey")),
            F.when(F.col("o_orderkey") % 2 == 0, F.lit(1)).otherwise(F.lit(2)),
        ).alias("elem"),
    )
    out = per_row.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.try_sum("o_orderkey").cast("bigint").alias("try_sum_keys"),
        F.try_avg("o_orderkey").alias("try_avg_keys"),
        F.sum("sub10").cast("bigint").alias("sum_try_subtract"),
        F.sum("mod7").cast("bigint").alias("sum_try_mod"),
        F.sum("elem").cast("bigint").alias("sum_try_element"),
    )
    for name, val in facts.items():
        out = out.withColumn(name, F.lit(val).cast("int"))
    return out.orderBy("grp")


# ---------------------------------------------------------------------------
# p52 — string long tail: split_part / initcap / overlay / elt / locate

_P52_ORACLE = """
WITH c AS (
  SELECT *,
         CAST(c_custkey % 90 + 10 AS VARCHAR) || '-'
           || CAST(c_nationkey AS VARCHAR) || '-'
           || CAST(c_custkey * 7 % 10000 AS VARCHAR) AS c_phone
  FROM customer
  WHERE c_custkey < 40
)
SELECT c_custkey,
       split_part(c_name, '#', 2) AS name_num,
       array_to_string(str_split(c_phone, '-')[1:2], '-') AS phone_prefix,
       array_to_string(
         list_transform(str_split(lower(c_mktsegment) || ' ' || lower(c_name), ' '),
                        x -> upper(x[1:1]) || lower(x[2:])), ' ') AS title_cased,
       translate(c_phone, '-', '.') AS phone_dotted,
       substr(c_name, 1, 9) || 'XX' || substr(c_name, 12) AS name_overlaid,
       CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment ELSE c_phone END AS elt_pick,
       CAST(list_position(str_split('AUTOMOBILE,BUILDING,FURNITURE,MACHINERY,HOUSEHOLD', ','),
                          c_mktsegment) AS INTEGER) AS segment_slot,
       printf('%s|%07d', c_mktsegment, c_custkey) AS formatted,
       CAST(strpos(c_phone, '-') AS INTEGER) AS first_dash,
       CAST(length(c_phone) AS INTEGER) AS phone_octets,
       CAST(length(c_phone) * 8 AS INTEGER) AS phone_bits
FROM c
ORDER BY c_custkey
"""


@query(
    "p52_string_long_tail",
    oracle=_P52_ORACLE,
    tags=("functions", "string", "audit"),
)
def p52_string_long_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING LONG TAIL under the hash gate — the ten string functions
    the q40-era coverage never reached, each replayed by a different
    DuckDB derivation: split_part (native), substring_index (array
    slice + rejoin), initcap (a list_transform lambda re-implements
    the capitalize-each-space-delimited-word contract), translate
    (native), overlay (substr composition), elt (CASE dispatch),
    find_in_set (list_position), format_string (printf with a %07d
    zero-pad), locate (strpos), and octet_length/bit_length (the
    corpus is ASCII, pinned by the p11-precedent test, so length and
    length×8 replay them exactly).

    Scale: every one is a codegen'd projection — the 100 TB point is
    the same as p42's: string normalization pipelines stay JVM-side,
    and the oracle diversity here is what catches off-by-one
    conventions (1-based locate, inclusive overlay) that survive
    same-engine testing.
    """
    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") < 40)
    # The slim testdata schema has no c_phone; both engines construct the
    # same dashed pseudo-phone from integer columns, deterministically.
    c = c.withColumn(
        "c_phone",
        F.concat_ws(
            "-",
            (F.col("c_custkey") % 90 + 10).cast("string"),
            F.col("c_nationkey").cast("string"),
            (F.col("c_custkey") * 7 % 10000).cast("string"),
        ),
    )
    return c.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.substring_index(F.col("c_phone"), "-", 2).alias("phone_prefix"),
        F.initcap(
            F.concat(F.lower("c_mktsegment"), F.lit(" "), F.lower("c_name"))
        ).alias("title_cased"),
        F.translate(F.col("c_phone"), "-", ".").alias("phone_dotted"),
        F.overlay(F.col("c_name"), F.lit("XX"), 10, 2).alias("name_overlaid"),
        F.elt(
            (F.col("c_custkey") % 2 == 0).cast("int") + 1,
            F.col("c_phone"),
            F.col("c_mktsegment"),
        ).alias("elt_pick"),
        F.find_in_set(
            F.col("c_mktsegment"),
            F.lit("AUTOMOBILE,BUILDING,FURNITURE,MACHINERY,HOUSEHOLD"),
        ).cast("int").alias("segment_slot"),
        F.format_string("%s|%07d", F.col("c_mktsegment"), F.col("c_custkey")).alias("formatted"),
        F.locate("-", F.col("c_phone")).cast("int").alias("first_dash"),
        F.octet_length("c_phone").cast("int").alias("phone_octets"),
        F.bit_length("c_phone").cast("int").alias("phone_bits"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# p53 — URL functions + mask: PII-surface primitives

_P53_ORACLE = """
SELECT c_custkey,
       'https' AS proto,
       'h' || CAST(c_nationkey AS VARCHAR) || '.example.com' AS host,
       '/p/' || CAST(c_custkey AS VARCHAR) AS path,
       replace(replace(c_mktsegment || ' ' || c_name, ' ', '+'), '#', '%23') AS query_raw,
       c_mktsegment || ' ' || c_name AS query_decoded,
       regexp_replace(regexp_replace(regexp_replace(c_name,
           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS name_masked,
       regexp_replace(regexp_replace(c_name, '[A-Z]', 'U', 'g'), '[0-9]', '9', 'g')
           AS name_masked_custom,
       CAST(1 AS INTEGER) AS encode_decode_roundtrips
FROM customer
WHERE c_custkey < 40
ORDER BY c_custkey
"""


@query(
    "p53_url_and_mask_funcs",
    oracle=_P53_ORACLE,
    tags=("functions", "string", "audit"),
)
def p53_url_and_mask_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL + MASK FUNCTIONS under the hash gate — the PII-handling
    primitives: a URL is CONSTRUCTED from columns (so the oracle knows
    every part by construction), then parse_url must recover PROTOCOL /
    HOST / PATH / the raw still-encoded QUERY value, url_encode's
    form-encoding is replayed by targeted replaces (the payload is
    engineered so space→+ and #→%23 are the only transforms), and
    url_decode∘url_encode must be identity — plus a literal-probe
    roundtrip fact over the full reserved-character gamut. mask() is
    replayed by an ORDERED regexp_replace chain (upper→X first, then
    lower→x, then digit→n — substitution characters are chosen so no
    later pass re-matches an earlier output), both in default and
    custom-alphabet form (lowercase preserved via NULL).

    Scale: log/clickstream URL decomposition and PII masking are
    per-row codegen'd projections — the 100 TB point is they never
    leave the JVM, unlike the regex-UDF idiom they replace.
    """
    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") < 40)
    payload = F.concat_ws(" ", "c_mktsegment", "c_name")
    url = F.concat(
        F.lit("https://h"),
        F.col("c_nationkey").cast("string"),
        F.lit(".example.com/p/"),
        F.col("c_custkey").cast("string"),
        F.lit("?q="),
        F.url_encode(payload),
    )
    gamut = "a b&c=d/e#f%g+h?i"
    probe = (
        spark.range(1)
        .select((F.url_decode(F.url_encode(F.lit(gamut))) == F.lit(gamut)).alias("ok"))
        .first()
    )
    return c.select(
        "c_custkey",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("query_raw"),
        F.url_decode(F.parse_url(url, F.lit("QUERY"), F.lit("q"))).alias("query_decoded"),
        F.mask("c_name").alias("name_masked"),
        F.mask("c_name", F.lit("U"), F.lit(None), F.lit("9"), F.lit(None)).alias(
            "name_masked_custom"
        ),
        F.lit(int(probe.ok)).cast("int").alias("encode_decode_roundtrips"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# p54 — document extraction: xpath family + json long tail

_P54_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey AS BIGINT) AS xml_key,
       o_orderstatus AS xml_status,
       CAST(1 AS INTEGER) AS xml_node_exists,
       CAST(0 AS INTEGER) AS xml_ghost_exists,
       CAST(o_orderkey % 3 + 1 AS INTEGER) AS xml_tag_count,
       o_orderstatus AS json_a,
       CAST(o_orderkey AS BIGINT) AS json_n,
       'a,n' AS json_key_list,
       CAST(o_orderkey % 3 + 1 AS INTEGER) AS json_arr_len
FROM orders
WHERE o_orderkey < 40
ORDER BY o_orderkey
"""


@query(
    "p54_document_extraction_funcs",
    oracle=_P54_ORACLE,
    tags=("functions", "semistructured", "audit"),
)
def p54_document_extraction_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCUMENT EXTRACTION LONG TAIL under the hash gate — the xpath_*
    family (string / int / boolean / node-list, the legacy-ETL XML
    surface DuckDB lacks entirely) and the JSON functions o02-era
    coverage never reached (json_tuple's multi-column extraction,
    json_object_keys, json_array_length). Both documents are BUILT
    from table columns, so the oracle replays every extraction by
    construction: the XML carries the key, the status, and a
    repeated-tag run of length key%3+1 (counted via the xpath
    node-list); the JSON object carries {a: status, n: key}; the JSON
    array carries key%3+1 elements. xpath_boolean certifies both the
    present-node true AND the absent-node false.

    Scale: xpath/json extraction is per-row and codegen'd; at 100 TB
    the pattern is schema-on-read promotion of archival XML/JSON
    columns without a Python parser in the hot path.
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 40)
    key_s = F.col("o_orderkey").cast("string")
    n_tags = (F.col("o_orderkey") % 3 + 1).cast("int")
    xml = F.concat(
        F.lit("<o><k>"),
        key_s,
        F.lit("</k><s>"),
        F.col("o_orderstatus"),
        F.lit("</s>"),
        F.repeat(F.lit("<t>x</t>"), n_tags),
        F.lit("</o>"),
    )
    j = F.concat(
        F.lit('{"a":"'), F.col("o_orderstatus"), F.lit('","n":'), key_s, F.lit("}")
    )
    arr = F.concat(
        F.lit("["),
        F.array_join(F.transform(F.sequence(F.lit(1), n_tags), lambda x: x.cast("string")), ","),
        F.lit("]"),
    )
    base = o.select("o_orderkey", "o_orderstatus", xml.alias("xml"), j.alias("j"), arr.alias("arr"))
    tup = base.select(
        "o_orderkey",
        F.xpath_int(F.col("xml"), F.lit("o/k")).cast("bigint").alias("xml_key"),
        F.xpath_string(F.col("xml"), F.lit("o/s")).alias("xml_status"),
        F.xpath_boolean(F.col("xml"), F.lit("o/s")).cast("int").alias("xml_node_exists"),
        F.xpath_boolean(F.col("xml"), F.lit("o/ghost")).cast("int").alias("xml_ghost_exists"),
        F.size(F.xpath(F.col("xml"), F.lit("o/t/text()"))).cast("int").alias("xml_tag_count"),
        F.json_tuple(F.col("j"), "a", "n").alias("json_a", "json_n_str"),
        F.array_join(F.json_object_keys(F.col("j")), ",").alias("json_key_list"),
        F.json_array_length(F.col("arr")).cast("int").alias("json_arr_len"),
    )
    return tup.select(
        "o_orderkey",
        "xml_key",
        "xml_status",
        "xml_node_exists",
        "xml_ghost_exists",
        "xml_tag_count",
        "json_a",
        F.col("json_n_str").cast("bigint").alias("json_n"),
        "json_key_list",
        "json_arr_len",
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# p55 — datetime conversion long tail: epoch / unix-date / trunc / names

_P55_ORACLE = """
SELECT o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS unix_secs,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS from_unix_str,
       CAST(o_orderdate AS TIMESTAMP) AS seconds_roundtrip,
       o_orderdate + INTERVAL '250 milliseconds' AS millis_plus_quarter,
       CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
           AS days_since_epoch,
       CAST(o_orderdate AS DATE) AS unix_date_roundtrip,
       make_date(CAST(date_part('year', o_orderdate) AS INTEGER), 12, 28) AS year_anchor,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       substr(dayname(CAST(o_orderdate AS DATE)), 1, 3) AS day_abbrev,
       substr(monthname(CAST(o_orderdate AS DATE)), 1, 3) AS month_abbrev,
       CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS day_of_year,
       o_orderdate + (o_orderkey % 48) * INTERVAL 1 HOUR AS hours_added,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-06-01') AS BIGINT)
           AS days_to_anchor
FROM orders
WHERE o_orderkey < 40
ORDER BY o_orderkey
"""


@query(
    "p55_datetime_conversion_funcs",
    oracle=_P55_ORACLE,
    tags=("functions", "datetime", "audit"),
)
def p55_datetime_conversion_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATETIME CONVERSION LONG TAIL under the hash gate — the epoch
    family p43 didn't reach: to_unix_timestamp vs DuckDB epoch(),
    from_unixtime's string rendering (both sessions run UTC — the
    strftime replay would catch a session-timezone drift immediately),
    timestamp_seconds/timestamp_millis (the millis path shifted by
    250 ms to prove sub-second units), unix_date/date_from_unix_date
    (replayed as day-diff from 1970-01-01 and its inverse), make_date,
    trunc-to-month, dayname/monthname (DuckDB emits full names —
    sliced to Spark's 3-letter abbreviation; locale-stable on the
    tested corpus), ISO weekofyear, dayofyear, and timestamp_add /
    timestamp_diff. The diff anchors are midnight-aligned BY
    CONSTRUCTION so Spark's complete-units truncation and DuckDB's
    boundary-crossing count cannot diverge — the convention mismatch
    is documented here rather than papered over with a tolerance.

    Scale: epoch normalization is the first projection of every
    event-log pipeline; all codegen'd, no shuffle.
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 40)
    ts = F.col("o_orderdate")
    d = F.to_date(ts)
    secs = F.to_unix_timestamp(ts)
    return o.select(
        "o_orderkey",
        secs.cast("bigint").alias("unix_secs"),
        F.from_unixtime(secs).alias("from_unix_str"),
        F.timestamp_seconds(secs).alias("seconds_roundtrip"),
        F.timestamp_millis(secs * 1000 + 250).alias("millis_plus_quarter"),
        F.unix_date(d).cast("int").alias("days_since_epoch"),
        F.date_from_unix_date(F.unix_date(d)).alias("unix_date_roundtrip"),
        F.make_date(F.year(d), F.lit(12), F.lit(28)).alias("year_anchor"),
        F.trunc(d, "month").alias("month_start"),
        F.dayname(d).alias("day_abbrev"),
        F.monthname(d).alias("month_abbrev"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.dayofyear(d).cast("int").alias("day_of_year"),
        F.timestamp_add("HOUR", (F.col("o_orderkey") % 48).cast("int"), ts).alias("hours_added"),
        F.timestamp_diff("DAY", ts, F.lit("1998-06-01").cast("timestamp")).alias("days_to_anchor"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# p56 — boolean / bitwise / product aggregates

_P56_ORACLE = """
SELECT o_orderpriority AS grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(bool_and(o_orderkey % 2 = 0) AS INTEGER) AS all_even,
       CAST(bool_or(o_orderkey % 2 = 0) AS INTEGER) AS any_even,
       CAST(bool_and(o_orderkey % 2 = 0) AS INTEGER) AS every_even,
       CAST(bool_or(o_orderkey % 2 = 0) AS INTEGER) AS some_even,
       CAST(count_if(o_orderkey % 2 = 0) AS BIGINT) AS n_even,
       CAST(bit_and(o_orderkey) AS BIGINT) AS keys_and,
       CAST(bit_or(o_orderkey) AS BIGINT) AS keys_or,
       CAST(bit_xor(o_orderkey) AS BIGINT) AS keys_xor,
       product(power(2, o_orderkey % 3)) AS pow2_product
FROM orders
WHERE o_orderkey < 200
GROUP BY o_orderpriority
ORDER BY grp
"""


@query(
    "p56_boolean_bitwise_aggregates",
    oracle=_P56_ORACLE,
    tags=("agg", "functions", "audit"),
)
def p56_boolean_bitwise_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOLEAN / BITWISE / PRODUCT AGGREGATES under the hash gate —
    bool_and + its ANSI alias every, bool_or + some, count_if, the
    bitwise reduction aggregates bit_and / bit_or / bit_xor (all
    order-independent by algebra, so safely in-hash), and product().
    product is floating-point and order-DEPENDENT in general — here
    every factor is a power of two (2^(key%3)), so each partial
    product is exact in IEEE-754 and any combine order yields the
    same double; the bounded key<200 slice keeps the exponent sum far
    from overflow. That construction is the difference between
    certifying product() and getting a flaky one-ulp hash.

    Scale: all map-side-combinable single-pass aggregates; bit_or is
    the idiomatic distributed bitmap/flag-union primitive (the o08
    bitmap rollup's scalar cousin).
    """
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    even = F.col("o_orderkey") % 2 == 0
    return (
        o.groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count("*").alias("n"),
            F.bool_and(even).cast("int").alias("all_even"),
            F.bool_or(even).cast("int").alias("any_even"),
            F.every(even).cast("int").alias("every_even"),
            F.some(even).cast("int").alias("some_even"),
            F.count_if(even).cast("bigint").alias("n_even"),
            F.bit_and("o_orderkey").cast("bigint").alias("keys_and"),
            F.bit_or("o_orderkey").cast("bigint").alias("keys_or"),
            F.bit_xor("o_orderkey").cast("bigint").alias("keys_xor"),
            F.product(F.pow(F.lit(2.0), F.col("o_orderkey") % 3)).alias("pow2_product"),
        )
        .orderBy("grp")
    )
