"""True Structured Streaming twins of the batch-emulated event queries.

The driver's oracle (DuckDB) is batch-only, so correctness gating runs
on the batch forms in operators/events.py; these jobs prove the SAME
logical plans run incrementally under readStream with watermarks.
tests/test_streaming.py executes them with trigger(availableNow=True)
against the events parquet and checks agreement with the batch results.

Every availableNow run in the engine goes through `drain_available_now`,
the one place that starts such a query and bounds the wait for it.
Every chronological replay of the events table reads a stage made by
`stage_event_chunks` (the one place that cuts, writes and mtime-pins
replay chunks) through `replay_stream` (one file per micro-batch).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table

# Upper bound on one availableNow drain: a wedged stream must fail its
# query loudly rather than hang the caller (300 s is ~100x qn06's
# observed sf0.1 wall time).
DRAIN_TIMEOUT_S = 300


def drain_available_now(
    writer: DataStreamWriter, ckpt: str | None, label: str
) -> StreamingQuery:
    """Start `writer` with trigger(availableNow=True) on checkpoint `ckpt`
    and wait for it to drain everything currently available.

    `ckpt=None` leaves the checkpoint to Spark (a temp location, allowed
    for the memory sink only). On timeout the query is stopped and
    TimeoutError names `label`. Returns the terminated query, whose
    recentProgress the caller may read.
    """
    if ckpt is not None:
        writer = writer.option("checkpointLocation", ckpt)
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout=DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{label}: availableNow stream did not finish within {DRAIN_TIMEOUT_S} s"
        )
    return q


def _write_single_file(df: DataFrame, dest: str) -> None:
    """Materialize df as exactly one parquet file at `dest`."""
    tmp = scratch_dir("m_chunk")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.copy(part, dest)
    shutil.rmtree(tmp, ignore_errors=True)


def _order_stage_files(stage: str) -> None:
    """Force the file-stream replay order to match the chronological
    chunk order: FileStreamSource batches files oldest-mtime-first, and
    chunks written in quick succession can land with TIED mtimes, making
    the batch order — and therefore watermark advancement — depend on
    arbitrary listing order (a 3-chunk jumble advances the watermark
    early, silently dropping in-order data as 'late'). Strictly
    increasing mtimes in path order pin the replay deterministically;
    `shutil.copy2` keeps them, so copies of a stage need no re-pin."""
    files = sorted(
        os.path.join(stage, f) for f in os.listdir(stage) if f.endswith(".parquet")
    )
    base = os.stat(files[0]).st_mtime
    for i, f in enumerate(files):
        os.utime(f, (base + 10.0 * i, base + 10.0 * i))


# Stage memo keyed by (sf_dir, n_chunks, doubled): chunk content is a
# pure deterministic function of the input table, so repeated calls in
# one process (bench medians, mirror re-runs) reuse the files and a
# timed replay measures the engine, not staging. Replays read a stage
# and never write or delete in it; checkpoints and sinks stay fresh
# per call.
_EVENT_STAGES: dict[tuple[str, int, bool], str] = {}


def stage_event_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3, doubled: bool = False
) -> str:
    """Stage the events table as `n_chunks` chronological single-file
    parquet chunks `chunk{i}.parquet` and return the dir.

    The cut is by whole days: chunk k ends before the first day whose
    cumulative row count reaches ceil(n * k / n_chunks), a day
    dictionary bounded by the table's span. Production streams arrive
    time-ordered; this reproduces that arrival order for replay, and
    `_order_stage_files` pins it. With doubled=True the o12 plant rule
    applies first: every event_id % 37 == 0 row re-injected at ts + 30 s.
    `ts` is `sources.tables.table`'s normalized microsecond TIMESTAMP.
    """
    key = (sf_dir, n_chunks, doubled)
    stage = _EVENT_STAGES.get(key)
    if stage is not None and os.path.isdir(stage):
        return stage
    src = table(spark, sf_dir, "events")
    if doubled:
        src = src.unionByName(
            src.where(F.col("event_id") % 37 == 0).withColumn(
                "ts", F.col("ts") + F.expr("INTERVAL 30 SECONDS")
            )
        )
    day = F.date_trunc("day", "ts")
    cuts = []
    if n_chunks > 1:
        days = src.groupBy(day.alias("d")).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        n = src.count()
        wd = Window.orderBy(F.asc("d"))  # bounded: day dictionary
        cum = days.select("d", F.sum("c").over(wd).alias("cum")).transform(cut_lineage)
        for k in range(1, n_chunks):
            cut = cum.where(F.col("cum") >= F.lit(-(-(n * k) // n_chunks)))
            cuts.append(cut.agg(F.min("d")).collect()[0][0])
    stage = scratch_dir("evstage")
    for i in range(n_chunks):
        cond = F.lit(True)
        if i > 0:
            cond = cond & (day >= F.lit(cuts[i - 1]))
        if i < n_chunks - 1:
            cond = cond & (day < F.lit(cuts[i]))
        _write_single_file(src.where(cond), os.path.join(stage, f"chunk{i}.parquet"))
    _order_stage_files(stage)
    _EVENT_STAGES[key] = stage
    return stage


def replay_stream(spark: SparkSession, stage: str) -> DataFrame:
    """File-source stream over a staged dir, one file per micro-batch
    in mtime order: the replay every chunk-per-batch oracle assumes."""
    schema = spark.read.parquet(stage).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the whole events table in one micro-batch.

    FileStreamSource requires a DIRECTORY (it tails new files), so the
    table is staged as one chunk; in production the source is simply
    the landing directory.
    """
    return replay_stream(spark, stage_event_chunks(spark, sf_dir, 1))


def tumbling_counts_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming tumbling-window counts with late-data watermark.

    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted — the knob that makes this run
    forever on an unbounded stream.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Streaming session windows (stateful merge of overlapping sessions)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), F.col("w.end").alias("session_end"), "n_events")
    )


def dedup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming dedup within the watermark horizon: state holds one key
    per (user_id, event_type) only as long as late data can still
    arrive."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["user_id", "event_type"])


def run_available_now(stream_df: DataFrame, query_name: str, output_mode: str | None = None):
    """Drain everything currently available through the streaming engine
    into an in-memory sink and stop (the batch-verifiable execution
    mode). Returns the owning SparkSession's view name.

    Output mode is derived from the plan when not given: `complete` is
    only legal for aggregated streams — a non-aggregated stream (e.g.
    dropDuplicatesWithinWatermark output) must run in `append`, and
    passing complete for it fails at start().
    """
    if output_mode is None:
        plan = stream_df._jdf.queryExecution().analyzed().toString()
        aggregated = "Aggregate" in plan
        output_mode = "complete" if aggregated else "append"
    drain_available_now(
        stream_df.writeStream.format("memory").queryName(query_name).outputMode(output_mode),
        None,
        query_name,
    )
    return query_name


def running_user_totals_stream(events: DataFrame):
    """Custom stateful operator: per-user running event count + value sum
    via applyInPandasWithState — the arbitrary-state API for semantics
    window aggregations can't express (cross-batch accumulators)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
    state_schema = "n BIGINT, total DOUBLE"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Same running per-user totals on the transformWithStateInPandas
    API (Spark 4 arbitrary-state v2): typed ValueState handles instead
    of one opaque state tuple, per-processor init/close lifecycle, and
    (unlike applyInPandasWithState) composable timers/TTL. Kept
    alongside the v1 operator so both stateful APIs stay exercised.

    Environment note: execution needs the RocksDB state store provider
    AND google.protobuf (the v2 state server's wire format). This
    container lacks protobuf, so tests build/plan-check the operator
    and skip execution — same honest-stub policy as multimodal codecs.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

        def close(self) -> None:
            pass

    return (
        events.groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "40 days") -> DataFrame:
    """Streaming sliding-window counts (1h window / 15m slide)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def attribution_join_stream(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join: every click by the same user within the
    hour before each purchase (batch twin: qb35_interval_join_attribution).

    Both sides are watermarked so the join state is bounded: a buffered
    click can be dropped once the purchase-side watermark passes
    click_ts + 1 hour, and the time-range condition gives the engine
    that bound explicitly. Output columns match the batch twin so the
    availableNow drain is directly comparable.
    """
    c = clicks.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", "1 hour")
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", "1 hour")
    return p.join(
        c,
        F.expr(
            """
            c_user = user_id AND
            click_ts <= purchase_ts AND
            click_ts > purchase_ts - INTERVAL 1 HOUR
            """
        ),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def upsert_sink_stream(
    spark,
    stream_df: DataFrame,
    target_dir: str,
    key_cols: list[str],
    order_cols: list[str],
    checkpoint_dir: str | None = None,
    output_mode: str = "update",
) -> None:
    """Incremental MERGE-upsert sink: foreachBatch maintains a parquet
    target holding the row with the HIGHEST `order_cols` per key across
    all micro-batches (batch twin: q34_latest_event_dedup).

    Per batch: union the current target with the batch and keep the
    max-`order_cols` row per key — NOT last-batch-wins, so a later
    micro-batch that happens to carry an older event for a key (file
    listing order is not event-time order) can never regress the
    target to stale data. On an exact order tie the batch row wins,
    which keeps checkpoint replays idempotent.

    Crash safety: the merged result is durably written to a temp
    sibling directory FIRST, then swapped into place with two Hadoop
    FS renames (target -> .tmp-old, .tmp-new -> target). The target
    directory is never deleted before its replacement exists on disk;
    a crash between the renames is healed by the recovery step at the
    start of the next (replayed) batch, which finishes the swap from
    the complete .tmp-new. Replays are safe because the merge is
    idempotent.

    Scale: this is the standard continuous-compaction loop on plain
    parquet — each batch shuffles only on the upsert key, and the swap
    cost is two metadata renames regardless of target size.

    `output_mode` defaults to "update" so a watermarked AGGREGATE
    upstream publishes per-batch partials that the merge converges to
    final totals (pick order_cols the aggregate is monotone in, e.g. a
    count — examples/continuous_rollup_example.py); append mode would
    hold the newest still-open window in state forever and the rollup
    table would permanently lack it. For non-aggregate streams update
    and append deliver identical rows.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Hadoop FS handles (work for any supported URI, and avoid the
        # noisy JVM-logged AnalysisException of a try/read)
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        target = jvm.org.apache.hadoop.fs.Path(target_dir)
        tmp_new = jvm.org.apache.hadoop.fs.Path(target_dir + ".tmp-new")
        tmp_old = jvm.org.apache.hadoop.fs.Path(target_dir + ".tmp-old")
        fs = target.getFileSystem(hconf)

        # recovery: a crash between the two swap renames below leaves a
        # COMPLETE new target at .tmp-new and no target — finish the swap
        if not fs.exists(target) and fs.exists(tmp_new):
            fs.rename(tmp_new, target)
        # leftovers from any earlier crash points are stale: discard
        if fs.exists(tmp_new):
            fs.delete(tmp_new, True)
        if fs.exists(tmp_old):
            fs.delete(tmp_old, True)

        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols], F.col("_src").desc()
        )
        batch_marked = batch_df.withColumn("_src", F.lit(1))
        if fs.exists(target):
            merged_in = spark.read.parquet(target_dir).withColumn("_src", F.lit(0)).unionByName(batch_marked)
        else:  # first batch: no target yet
            merged_in = batch_marked
        merged = (
            merged_in.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )
        # durable BEFORE the target is touched: write the full merge to
        # the temp sibling (reads the live target; nothing overwrites it)
        merged.write.mode("overwrite").parquet(target_dir + ".tmp-new")
        if fs.exists(target):
            fs.rename(target, tmp_old)
        fs.rename(tmp_new, target)
        fs.delete(tmp_old, True)

    drain_available_now(
        stream_df.writeStream.foreachBatch(apply_batch).outputMode(output_mode),
        checkpoint_dir or scratch_dir("upsert_ckpt"),
        "upsert_sink_stream",
    )


def funnel_stream(events: DataFrame, stages: tuple = ("view", "click", "purchase")) -> DataFrame:
    """Stateful streaming funnel: per user, the deepest stage reachable
    with STRICTLY increasing event times — the streaming twin of the
    batch z09 funnel (operators/events.py), exact under ANY arrival
    order.

    Order-robust by construction: min-ts chaining (stage k's entry =
    min event time after stage k−1's entry) is NOT prefix-computable —
    a late-arriving EARLIER view can lower t1 and retroactively qualify
    a click the chain previously rejected. So the state keeps, per
    stage, the set of DISTINCT event timestamps seen (epoch micros,
    sorted), and each batch recomputes the chain from those sets; the
    emitted (user, funnel_stage, stage_ts) row is always the fixed point
    of everything seen so far. State is bounded by a user's distinct
    event times per stage — at 100 TB, prune each list to timestamps
    below the already-finalized chain prefix once the watermark passes
    them (the lists only need their minima above each entry point);
    this demo keeps the exact form.

    Output (update mode): one row per user per batch with the current
    deepest stage (0 = entered nothing yet tracked, len(stages) = full
    funnel) — feed it to the upsert sink keyed user_id with
    order_cols=[funnel_stage] to maintain a live funnel table.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id BIGINT, funnel_stage INT, stage_ts BIGINT"
    state_schema = ", ".join(f"ts{i} ARRAY<BIGINT>" for i in range(len(stages)))

    def update(key, pdfs, state: GroupState):
        lists = [list(v) for v in state.get] if state.exists else [[] for _ in stages]
        for pdf in pdfs:
            for etype, ts in zip(pdf["event_type"], pdf["ts"]):
                if etype in stages:
                    lists[stages.index(etype)].append(int(ts.value // 1000))
        lists = [sorted(set(v)) for v in lists]
        state.update(tuple(lists))
        # recompute the min-ts chain from the full sets
        depth, entry = 0, None
        for ts_list in lists:
            nxt = next((t for t in ts_list if entry is None or t > entry), None)
            if nxt is None:
                break
            depth, entry = depth + 1, nxt
        yield pd.DataFrame(
            {"user_id": [key[0]], "funnel_stage": [depth], "stage_ts": [entry or 0]}
        )

    return (
        events.filter(F.col("event_type").isin(*stages))
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def sliding_distinct_users_stream(
    events: DataFrame, window_days: int = 7, watermark: str = "40 days"
) -> DataFrame:
    """EXACT sliding {window_days}-day distinct active users per day,
    streaming — the stateful twin of f08's batch fan-out identity: a
    user active on day d contributes to windows d..d+{window_days}-1,
    so the stream dedups (user, day) within the watermark, fans each
    survivor out to its windows, dedups (user, window_day) again, and
    counts per window day.

    This is a sliding COUNT DISTINCT, which windowed aggregations
    cannot express exactly (approx_count_distinct or bitmap tricks are
    the usual fallbacks); the fan-out identity makes it exact with
    TWO bounded dedup states (users x retention-days each) and one
    counting state — all expiring on the single ts watermark (Spark
    disallows redefining a watermark mid-chain, so the event-time
    column rides through the fan-out untouched). Run in `update` mode
    with an upsert sink: counts for a window day are corrected as its
    trailing days arrive.
    """
    e = events.withColumn("day", F.date_trunc("day", "ts")).withWatermark("ts", watermark)
    dd_day = e.dropDuplicatesWithinWatermark(["user_id", "day"])
    fanned = dd_day.select(
        "user_id",
        "ts",
        F.explode(F.expr(f"sequence(0, {window_days - 1})")).alias("off"),
        "day",
    ).select("user_id", "ts", F.expr("timestampadd(DAY, off, day)").alias("window_day"))
    dd_win = fanned.dropDuplicatesWithinWatermark(["user_id", "window_day"])
    return dd_win.groupBy("window_day").agg(F.count(F.lit(1)).alias("dau"))


def windowed_topk_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 6-hour (window, event_type) counts, streaming — the
    stateful half of h09's windowed top-k: counting is the ONLY state
    ranking needs, and it is exactly what Structured Streaming's
    windowed aggregation maintains (bounded by windows x types,
    expiring on the watermark). Ranking over a streaming aggregate is
    not expressible (window functions are batch-only), so the top-k
    cut happens sink-side on closed windows — `topk_from_counts`
    applies the identical rank rule the h09 oracle pins, and the
    parity test drives this REAL streaming pipeline against the batch
    query.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def topk_from_counts(counts: DataFrame, k: int = 3) -> DataFrame:
    """Sink-side ranking for windowed_topk_stream's drained counts:
    top-k per window with h09's exact tie-break (n DESC, type ASC)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("window").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.select("window", "event_type", "n", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= k)
    )


def latest_n_stream(events: DataFrame, keep: int = 3) -> DataFrame:
    """Streaming latest-N-per-key log compaction — the stateful twin of
    batch i23: per user, state holds ONLY the newest `keep` events
    (ts + event_id total order, ties impossible past the unique id),
    merged with each micro-batch and truncated; every update emits the
    user's full current retained set tagged with `gen` = events seen so
    far, so a multi-batch run's final generation is identifiable
    sink-side (the parity test keys on max gen per user).

    State is bounded by keep x |users| REGARDLESS of stream length —
    the compaction invariant; applyInPandasWithState because the
    "keep newest N across batches" merge is not expressible as a
    windowed aggregate (it needs cross-batch ordered truncation).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id BIGINT, gen BIGINT, ts_us BIGINT, event_id BIGINT, "
        "event_type STRING, value DOUBLE"
    )
    state_schema = (
        "n BIGINT, ts ARRAY<BIGINT>, ids ARRAY<BIGINT>, "
        "types ARRAY<STRING>, vals ARRAY<DOUBLE>"
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, ts, ids, types, vals = state.get
            rows = list(zip(ts, ids, types, vals))
        else:
            n, rows = 0, []
        for pdf in pdfs:
            n += len(pdf)
            for r in pdf.itertuples(index=False):
                rows.append((int(r.ts_us), int(r.event_id), r.event_type, float(r.value)))
        # newest first: ts desc, event_id desc — then hard-truncate
        rows.sort(key=lambda t: (-t[0], -t[1]))
        rows = rows[:keep]
        state.update(
            (
                n,
                [r[0] for r in rows],
                [r[1] for r in rows],
                [r[2] for r in rows],
                [r[3] for r in rows],
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(rows),
                "gen": [n] * len(rows),
                "ts_us": [r[0] for r in rows],
                "event_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
                "value": [r[3] for r in rows],
            }
        )

    return (
        events.select(
            "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type", "value"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def capped_sessions_stream(
    events: DataFrame,
    idle_us: int = 4 * 3600 * 1_000_000,
    cap_us: int = 12 * 3600 * 1_000_000,
) -> DataFrame:
    """Streaming sessionization with BOTH an idle timeout and a hard
    duration cap — the stateful twin of batch j30: per user the state
    carries (last event time, current island id, island start), a gap
    larger than `idle_us` opens a new island, and each event's chunk is
    (ts - island_start) DIV cap_us, so islands longer than the cap
    split into fixed chunks exactly like j30's second window. Every
    event is emitted with its (island, chunk) assignment; the parity
    test compares the full assignment map against the batch recompute.

    Built on applyInPandasWithState because the island counter is
    genuine CROSS-BATCH state (session_window covers the idle rule but
    cannot number islands or anchor the cap at the island start).
    Events are ordered (ts, event_id) within each batch; cross-batch
    correctness assumes event-time-ordered batch boundaries, the same
    contract as the funnel twin.

    State is O(1) per user regardless of stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id BIGINT, ts_us BIGINT, event_id BIGINT, island BIGINT, chunk BIGINT"
    state_schema = "last_us BIGINT, island BIGINT, island_start BIGINT"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            last_us, island, island_start = state.get
        else:
            last_us, island, island_start = None, 0, None
        rows = []
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                rows.append((int(r.ts_us), int(r.event_id)))
        rows.sort()
        out = []
        for ts_us, event_id in rows:
            if last_us is None or ts_us - last_us > idle_us:
                island += 1
                island_start = ts_us
            chunk = (ts_us - island_start) // cap_us
            out.append((key[0], ts_us, event_id, island, chunk))
            last_us = ts_us
        state.update((last_us, island, island_start))
        yield pd.DataFrame(
            out, columns=["user_id", "ts_us", "event_id", "island", "chunk"]
        )

    from pyspark.sql import functions as F

    keyed = events.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
