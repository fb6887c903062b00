"""True Structured Streaming twins must agree with the batch-emulated
forms the oracle checks (SURVEY.md §1.2)."""

import pytest

from pyspark_distributed_kmodes_spark.operators.events import q30_tumbling_window, q34_latest_event_dedup
from pyspark_distributed_kmodes_spark.streaming.jobs import (
    dedup_stream,
    events_stream,
    run_available_now,
    tumbling_counts_stream,
)


@pytest.fixture(scope="module")
def stream(spark, sf_dir):
    return events_stream(spark, sf_dir)


def test_stream_source_is_streaming(stream):
    assert stream.isStreaming


def test_tumbling_stream_matches_batch(spark, sf_dir, stream):
    run_available_now(tumbling_counts_stream(stream), "t_tumbling")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    want = {
        (r.window_start, r.event_type): r.n_events
        for r in q30_tumbling_window(spark, sf_dir).collect()
    }
    assert got == want


def test_dedup_stream_counts(spark, sf_dir, stream):
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_stream = spark.sql("SELECT COUNT(*) AS n FROM t_dedup").first().n
    n_batch = q34_latest_event_dedup(spark, sf_dir).count()
    # both keep exactly one row per (user_id, event_type)
    assert n_stream == n_batch


def test_stateful_running_totals(spark, sf_dir, stream):
    from pyspark_distributed_kmodes_spark.operators.events import q30_tumbling_window  # noqa: F401
    from pyspark_distributed_kmodes_spark.sources.tables import table
    from pyspark_distributed_kmodes_spark.streaming.jobs import running_user_totals_stream

    q = (
        running_user_totals_stream(stream)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.user_id: r.n_events for r in spark.sql("SELECT * FROM t_state").collect()}
    want = {
        r.user_id: r.n
        for r in table(spark, sf_dir, "events").groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert got == want


def test_session_stream_matches_batch(spark, sf_dir, stream):
    from pyspark_distributed_kmodes_spark.operators.events import q32_session_window
    from pyspark_distributed_kmodes_spark.streaming.jobs import session_stream

    q = (
        session_stream(stream, watermark="40 days")  # watermark > data span: no session dropped
        .writeStream.format("memory")
        .queryName("t_session")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start): r.n_events
        for r in spark.sql("SELECT * FROM t_session").collect()
    }
    want = {
        (r.user_id, r.session_start): r.n_events
        for r in q32_session_window(spark, sf_dir).collect()
    }
    assert got == want


def test_sliding_stream_matches_batch(spark, sf_dir, stream):
    from pyspark_distributed_kmodes_spark.operators.events import q31_sliding_window
    from pyspark_distributed_kmodes_spark.streaming.jobs import sliding_counts_stream

    q = (
        sliding_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("t_sliding")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.window_start: r.n_events for r in spark.sql("SELECT * FROM t_sliding").collect()}
    want = {r.window_start: r.n_events for r in q31_sliding_window(spark, sf_dir).collect()}
    assert got == want


def test_stream_parquet_sink_with_checkpoint(spark, sf_dir, stream, tmp_path_factory):
    """writeStream → parquet sink with checkpointing (the production
    landing pattern); output must contain every input row."""
    base = tmp_path_factory.mktemp("stream_sink")
    out, ckpt = str(base / "out"), str(base / "ckpt")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark_distributed_kmodes_spark.sources.tables import table

    assert spark.read.parquet(out).count() == table(spark, sf_dir, "events").count()


def test_stateful_running_totals_tws(spark, sf_dir, stream):
    """transformWithStateInPandas (arbitrary-state v2) parity with batch.

    The v2 state server speaks protobuf; skipped where google.protobuf
    is absent (this container) — the operator itself is still built and
    plan-checked in test_tws_operator_builds."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark_distributed_kmodes_spark.sources.tables import table
    from pyspark_distributed_kmodes_spark.streaming.jobs import running_user_totals_tws

    q = (
        running_user_totals_tws(stream)
        .writeStream.format("memory")
        .queryName("t_state_v2")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.user_id: r.n_events for r in spark.sql("SELECT * FROM t_state_v2").collect()}
    want = {
        r.user_id: r.n
        for r in table(spark, sf_dir, "events").groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert got == want


def test_tws_operator_builds(spark, sf_dir, stream):
    """The transformWithStateInPandas operator must at least construct a
    streaming plan (API shape check) even where protobuf is missing."""
    from pyspark_distributed_kmodes_spark.streaming.jobs import running_user_totals_tws

    df = running_user_totals_tws(stream)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["user_id", "n_events", "total_value"]


def test_checkpoint_restart_processes_only_new_files(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: a stream drained with availableNow,
    stopped, and restarted on the same checkpoint must process ONLY
    files that arrived in between — no reprocessing, no duplicates."""
    import shutil

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    shutil.copy(f"{sf_dir}/events.parquet", src / "batch1.parquet")

    def drain():
        stream = spark.readStream.schema(raw_schema).parquet(str(src))
        q = (
            stream.select("event_id", "user_id")
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(str(sink)).count()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n1 == n_events

    # restart with nothing new: no rows may be appended
    drain()
    assert spark.read.parquet(str(sink)).count() == n1

    # second batch arrives (as a single FILE — the file source lists the
    # directory non-recursively); restart processes exactly that file
    import glob

    import pyspark.sql.functions as F

    staging = tmp_path / "staging"
    spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "event_id", F.col("event_id") + 10_000_000
    ).coalesce(1).write.parquet(str(staging))
    part = glob.glob(str(staging / "part-*.parquet"))[0]
    shutil.copy(part, src / "batch2.parquet")
    drain()
    out = spark.read.parquet(str(sink))
    assert out.count() == 2 * n_events
    assert out.select("event_id").distinct().count() == 2 * n_events


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (watermarked both sides) must emit
    exactly the pairs the batch interval join produces."""
    from pyspark_distributed_kmodes_spark.operators.events import qb35_interval_join_attribution
    from pyspark_distributed_kmodes_spark.streaming.jobs import attribution_join_stream

    joined = attribution_join_stream(events_stream(spark, sf_dir), events_stream(spark, sf_dir))
    run_available_now(joined, "t_ssj", output_mode="append")
    got = {
        (r.purchase_id, r.click_id, r.user_id, r.purchase_ts, r.lag_us)
        for r in spark.sql("SELECT * FROM t_ssj").collect()
    }
    want = {
        (r.purchase_id, r.click_id, r.user_id, r.purchase_ts, r.lag_us)
        for r in qb35_interval_join_attribution(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_foreachbatch_upsert_incremental(spark, sf_dir, tmp_path):
    """foreachBatch upsert sink, driven over MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over a 3-file split), must converge to the
    batch 'latest event per (user, event_type)' result."""
    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.operators.events import q34_latest_event_dedup
    from pyspark_distributed_kmodes_spark.sources.tables import table
    from pyspark_distributed_kmodes_spark.streaming.jobs import upsert_sink_stream

    e = table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    # 3 files split by time so later batches genuinely overwrite earlier keys
    e.withColumn("_b", F.ntile(3).over(__import__("pyspark").sql.Window.orderBy("ts", "event_id"))) \
        .repartition(1).sortWithinPartitions("_b").write.mode("overwrite").partitionBy("_b").parquet(src)

    raw = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    target = str(tmp_path / "t")
    upsert_sink_stream(spark, stream, target, ["user_id", "event_type"], ["ts", "event_id"])

    got = {
        (r.user_id, r.event_type): (r.ts, r.event_id, r.value)
        for r in spark.read.parquet(target).collect()
    }
    want = {
        (r.user_id, r.event_type): (r.last_ts, None, None)
        for r in q34_latest_event_dedup(spark, sf_dir).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k, (ts, _eid, _v) in got.items():
        assert ts == want[k][0], k


def test_foreachbatch_upsert_out_of_order_batches(spark, sf_dir, tmp_path):
    """A later micro-batch that carries an OLDER event for a key (file
    listing order is not event-time order) must not regress the target:
    the merge keeps the max order_cols row per key, not last-batch-wins."""
    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.sources.tables import table
    from pyspark_distributed_kmodes_spark.streaming.jobs import upsert_sink_stream

    e = table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "src")
    # REVERSED time split: batch 1 gets the NEWEST events, batch 3 the oldest
    e.withColumn(
        "_b", F.ntile(3).over(__import__("pyspark").sql.Window.orderBy(F.desc("ts"), F.desc("event_id")))
    ).repartition(1).sortWithinPartitions("_b").write.mode("overwrite").partitionBy("_b").parquet(src)

    raw = spark.read.parquet(src)
    stream = spark.readStream.schema(raw.schema).option("maxFilesPerTrigger", "1").parquet(src)
    target = str(tmp_path / "t")
    upsert_sink_stream(spark, stream, target, ["user_id", "event_type"], ["ts", "event_id"])

    got = {(r.user_id, r.event_type): (r.ts, r.event_id) for r in spark.read.parquet(target).collect()}
    want = {
        (r.user_id, r.event_type): (r.ts, r.event_id)
        for r in e.withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark").sql.Window.partitionBy("user_id", "event_type").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        ).filter("_rn = 1").collect()
    }
    assert got == want and len(got) > 0


def test_continuous_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Continuous-aggregate maintenance: watermarked tumbling counts in
    update mode upserted per batch (order col = the monotone count) must
    converge to EXACTLY the batch q30 aggregate — including the newest
    window, which append mode would hold in state forever."""
    from pyspark_distributed_kmodes_spark.operators.events import q30_tumbling_window
    from pyspark_distributed_kmodes_spark.streaming.jobs import (
        events_stream,
        tumbling_counts_stream,
        upsert_sink_stream,
    )

    rollup = tumbling_counts_stream(events_stream(spark, sf_dir), watermark="10 minutes")
    target = str(tmp_path / "hourly")
    upsert_sink_stream(spark, rollup, target, ["window_start", "event_type"], ["n_events"])
    maintained = spark.read.parquet(target).select("window_start", "event_type", "n_events")
    batch = q30_tumbling_window(spark, sf_dir).select("window_start", "event_type", "n_events")
    assert maintained.exceptAll(batch).count() == 0
    assert batch.exceptAll(maintained).count() == 0


def test_stateful_funnel_stream_matches_batch(spark, sf_dir, tmp_path):
    """Custom stateful streaming funnel (applyInPandasWithState) must
    reach the batch z09 fixed point even when micro-batches arrive in
    REVERSED event-time order — a late earlier 'view' retroactively
    qualifies clicks the chain previously rejected."""
    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.operators.events import qe09_event_funnel
    from pyspark_distributed_kmodes_spark.sources.tables import table
    from pyspark_distributed_kmodes_spark.streaming.jobs import funnel_stream

    ev = table(spark, sf_dir, "events")
    med = ev.agg(F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src = str(tmp_path)
    # LATE half lands first, early half second: worst-case arrival order
    ev.filter(F.col("ts") > F.lit(med)).write.parquet(src + "/b=1")
    ev.filter(F.col("ts") <= F.lit(med)).write.parquet(src + "/b=2")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b=*")
    )
    out = funnel_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # state only deepens, so max per user over all emissions == final
    final = (
        spark.table("funnel_mem")
        .groupBy("user_id")
        .agg(F.max("funnel_stage").alias("stage"))
        .collect()
    )
    stream_counts = {
        k: sum(1 for r in final if r.stage >= k) for k in (1, 2, 3)
    }
    batch = {r.stage: r.n_users for r in qe09_event_funnel(spark, sf_dir).collect()}
    assert stream_counts == {1: batch[1], 2: batch[2], 3: batch[3]}


def test_sliding_distinct_users_stream_matches_batch(spark, sf_dir, stream):
    """The chained-stateful sliding COUNT DISTINCT (dedup -> fan-out ->
    dedup -> count, one watermark) must reproduce f08's batch fan-out
    identity exactly. Update-mode corrections reconcile through a
    foreachBatch upsert (last write per window day wins)."""
    from pyspark_distributed_kmodes_spark.registry import load_all
    from pyspark_distributed_kmodes_spark.streaming.jobs import (
        sliding_distinct_users_stream,
    )

    agg = sliding_distinct_users_stream(stream)
    state = {}

    def upsert(batch_df, batch_id):
        for r in batch_df.collect():
            state[r.window_day] = r.dau

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    batch = load_all()["qf08_sliding_dau"].fn(spark, sf_dir).collect()
    expected = {r.day_index: r.dau7 for r in batch}
    # streaming emits every fanned window day (incl. days past the last
    # event); the batch query clips to [min_day, max_day] — compare on
    # the batch's clipped domain, then check the unclipped tail is the
    # only difference
    got = {int(k.timestamp()) // 86_400: v for k, v in state.items()}
    assert {d: got[d] for d in expected} == expected
    extra = set(got) - set(expected)
    assert all(d > max(expected) for d in extra), "unexpected non-tail extra days"


def test_windowed_topk_stream_matches_batch(spark, sf_dir, stream):
    """Real streaming execution: drain the 6h windowed counts through
    the engine, rank sink-side, and reconcile with h09's batch twin
    (window.start µs // 6h == the batch integer window index)."""
    from pyspark_distributed_kmodes_spark.registry import load_all
    from pyspark_distributed_kmodes_spark.streaming.jobs import (
        run_available_now,
        topk_from_counts,
        windowed_topk_stream,
    )

    from pyspark.sql import functions as F

    counts = windowed_topk_stream(stream)
    view = run_available_now(counts, "topk_counts")
    drained = spark.table(view)
    got = {
        (r.idx, r.rank): (r.event_type, r.n)
        for r in topk_from_counts(drained, k=3)
        .select(
            (F.unix_micros(F.col("window.start")) / (6 * 3600 * 1_000_000))
            .cast("bigint")
            .alias("idx"),
            "rank",
            "event_type",
            "n",
        )
        .collect()
    }
    batch = {
        (r.window_idx, r.rank): (r.event_type, r.n)
        for r in load_all()["qh09_windowed_topk"].fn(spark, sf_dir).collect()
    }
    assert got == batch


def test_latest_n_stream_matches_batch_compaction(spark, sf_dir, stream):
    """The streaming latest-N state (applyInPandasWithState) retains
    exactly the rows batch i23 keeps: compare the final generation's
    (user, event_id) set and the per-type kept counts."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pyspark_distributed_kmodes_spark.sources.tables import table
    from pyspark_distributed_kmodes_spark.streaming.jobs import latest_n_stream

    q = (
        latest_n_stream(stream, keep=3)
        .writeStream.format("memory")
        .queryName("t_latest_n")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM t_latest_n").collect()
    final_gen = {}
    for r in rows:
        final_gen[r.user_id] = max(final_gen.get(r.user_id, 0), r.gen)
    got = {(r.user_id, r.event_id) for r in rows if r.gen == final_gen[r.user_id]}

    e = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    kept = e.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= 3)
    want = {(r.user_id, r.event_id) for r in kept.select("user_id", "event_id").collect()}
    assert got == want
    # and the registered batch query agrees on the kept-count ledger
    from pyspark_distributed_kmodes_spark.registry import load_all

    i23 = load_all()["qi23_latest_n_compaction"].fn(spark, sf_dir).collect()
    assert sum(r.n_kept for r in i23) == len(want)


def test_capped_sessions_stream_matches_batch(spark, sf_dir, stream):
    """The streaming (island, chunk) assignment (applyInPandasWithState)
    equals j30's batch two-window recompute for every event."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pyspark_distributed_kmodes_spark.sources.tables import table
    from pyspark_distributed_kmodes_spark.streaming.jobs import capped_sessions_stream

    run_available_now(capped_sessions_stream(stream), "t_capped", output_mode="update")
    got = {
        (r.user_id, r.event_id): (r.island, r.chunk)
        for r in spark.sql("SELECT * FROM t_capped").collect()
    }

    e = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    marked = e.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.when((us - F.lag(us).over(w) > 4 * 3600 * 1_000_000) | F.lag(us).over(w).isNull(), 1)
        .otherwise(0)
        .alias("brk"),
    )
    wi = Window.partitionBy("user_id").orderBy(F.asc("us")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = marked.withColumn("island", F.sum("brk").over(wi))
    wc = Window.partitionBy("user_id", "island")
    chunked = islands.withColumn(
        "chunk", F.floor((F.col("us") - F.min("us").over(wc)) / (12 * 3600 * 1_000_000))
    )
    want = {
        (r.user_id, r.event_id): (r.island, r.chunk) for r in chunked.collect()
    }
    assert got == want


def test_stateful_state_survives_checkpoint_restart(spark, sf_dir, tmp_path):
    """GroupState must RESTORE across a stop/restart on the same
    checkpoint: drain half the events, stop, drain the other half from
    the checkpoint, and the final per-user running totals must equal
    the batch aggregate over ALL events. If state were lost, the second
    drain would report second-half-only counts."""
    import glob
    import shutil

    import pyspark.sql.functions as F

    from pyspark_distributed_kmodes_spark.sources.tables import table
    from pyspark_distributed_kmodes_spark.streaming.jobs import running_user_totals_stream

    src = tmp_path / "src"
    log = tmp_path / "log"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    full = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw_schema = full.schema

    def stage(half: int, name: str):
        out = tmp_path / f"staging{half}"
        full.filter(F.col("event_id") % 2 == half).coalesce(1).write.parquet(str(out))
        part = glob.glob(str(out / "part-*.parquet"))[0]
        shutil.copy(part, src / name)

    def drain():
        events = spark.readStream.schema(raw_schema).parquet(str(src))

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(str(log))

        q = (
            running_user_totals_stream(events)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(0, "batch1.parquet")
    drain()
    stage(1, "batch2.parquet")
    drain()

    from pyspark.sql import Window as W

    log_df = spark.read.parquet(str(log))
    w = W.partitionBy("user_id").orderBy(F.desc("batch_id"))
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in log_df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    want = {
        r.user_id: (r.n, float(r.s))
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(want)
    for uid, (n, tot) in want.items():
        assert final[uid][0] == n, f"user {uid}: state lost across restart"
        assert abs(final[uid][1] - tot) < 1e-6 * max(1.0, abs(tot))
