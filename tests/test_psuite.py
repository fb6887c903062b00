"""Independent re-derivations for the round-11 staged p-suite (new
engine surface, operators/analytics13.py): a numpy/union-find replay of
the fixed-quantizer SemDeDup pipeline, a pure-Python replay of the
one-iteration k-modes fit trace, and for the streaming keys (p03-p07)
python chunk replays, planted cross-batch fixtures, listener
cross-checks, and state-law pins.

The p-prefix sorts after o67 and before q01, so these stay OUT of the
round-11 driver window (pinned in test_entry.py) and rename into the
round-12 window per the documented plan."""

import hashlib
import math

import pytest

from pyspark_distributed_kmodes_spark.registry import load_all
from pyspark_distributed_kmodes_spark.session import scratch_dir


@pytest.fixture(scope="module")
def reg():
    return load_all()


def _md5fold(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _seqsum(vals):
    """Sequential float64 accumulation — matches the JVM aggregate fold
    and DuckDB list_sum ordering (NOT numpy pairwise summation)."""
    acc = 0.0
    for v in vals:
        acc += v
    return acc


def _round6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


@pytest.fixture(scope="module")
def p01_replay(duck):
    """Full python replay of p01 at sf0.001: md5-rank centroids,
    euclidean argmin with the (dist, cid) tie key, within-list cosine
    pairs at the rounded 0.42 boundary, union-find by min."""
    rows = duck.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    vecs = {vid: [float(x) for x in emb] for vid, emb in rows}
    n_lists = -(-len(vecs) // 250)  # corpus-proportional, as the engine
    cents = sorted(vecs, key=lambda v: (_md5fold(str(v)), v))[:n_lists]

    def d2(a, b):
        return _seqsum((x - y) * (x - y) for x, y in zip(a, b))

    assign = {}
    for vid, v in vecs.items():
        key = min(
            (int(math.floor(_round6(math.sqrt(d2(v, vecs[c]))) * 1_000_000 + 0.5)), c)
            for c in cents
        )
        assign[vid] = key[1]

    def cos(a, b):
        return _seqsum(x * y for x, y in zip(a, b)) / (
            math.sqrt(_seqsum(x * x for x in a)) * math.sqrt(_seqsum(y * y for y in b))
        )

    ids = sorted(vecs)
    parent = {v: v for v in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if assign[a] == assign[b] and _round6(cos(vecs[a], vecs[b])) >= 0.42:
                edges.append((a, b))
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {v: find(v) for v in ids}
    return assign, comp, edges


def test_p01_matches_python_replay(spark, sf_dir, reg, p01_replay):
    assign, comp, _ = p01_replay
    rows = reg["qp01_semantic_dedup_fixed_quantizer"].fn(spark, sf_dir).collect()
    assert len(rows) == len(assign)
    sizes = {}
    for c in comp.values():
        sizes[c] = sizes.get(c, 0) + 1
    for r in rows:
        assert r.list_id == assign[r.vec_id], r
        assert r.component == comp[r.vec_id], r
        assert r.component_size == sizes[comp[r.vec_id]], r
        assert r.keep == (r.vec_id == comp[r.vec_id]), r


def test_p01_components_stay_within_one_list(spark, sf_dir, reg):
    """Edges are intra-list only, so every component must live inside a
    single coarse list — the SemDeDup candidate-bound property the
    whole 100 TB argument rests on."""
    rows = reg["qp01_semantic_dedup_fixed_quantizer"].fn(spark, sf_dir).collect()
    lists_per_comp = {}
    keeps = {}
    for r in rows:
        lists_per_comp.setdefault(r.component, set()).add(r.list_id)
        keeps[r.component] = keeps.get(r.component, 0) + (1 if r.keep else 0)
    assert all(len(s) == 1 for s in lists_per_comp.values())
    assert all(k == 1 for k in keeps.values()), "exactly one keeper per component"


def test_p01_finds_planted_neardups(p01_replay):
    """The replay itself must be non-degenerate: the corpus plants
    near-duplicate embeddings, so at least one intra-list edge exists
    (otherwise the hash gate only proves the no-op path)."""
    _, comp, edges = p01_replay
    assert edges, "expected at least one within-list near-dup pair"
    assert any(v != c for v, c in comp.items())


def _p02_python_replay(duck, k=5):
    orders = duck.execute(
        "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders"
    ).fetchall()
    counts = {}
    for _, s, p in orders:
        counts[(s, p)] = counts.get((s, p), 0) + 1
    init = [
        sp for sp, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    ][:k]

    def ham(sp, m):
        return (sp[0] != m[0]) + (sp[1] != m[1])

    def assign(modes):
        out = {}
        for okey, s, p in orders:
            out[okey] = min((ham((s, p), m) * 10 + i, i) for i, m in enumerate(modes))[1]
        return out

    a0 = assign(init)
    by_okey = {okey: (s, p) for okey, s, p in orders}
    new_modes = []
    for ci in range(k):
        members = [by_okey[okey] for okey, c in a0.items() if c == ci]
        if not members:
            new_modes.append(init[ci])
            continue
        mode = []
        for j in range(2):
            tally = {}
            for m in members:
                tally[m[j]] = tally.get(m[j], 0) + 1
            top = max(tally.values())
            mode.append(min(v for v, c in tally.items() if c == top))
        new_modes.append(tuple(mode))
    a1 = assign(new_modes)
    per = {}
    for ci in range(k):
        n_init = sum(1 for c in a0.values() if c == ci)
        members1 = [okey for okey, c in a1.items() if c == ci]
        n_stayed = sum(1 for okey in members1 if a0[okey] == ci)
        cost = sum(ham(by_okey[okey], new_modes[ci]) for okey in members1)
        per[ci] = (n_init, len(members1), n_stayed, cost, new_modes[ci])
    return init, new_modes, per, a0, a1, by_okey


def test_p02_matches_python_replay(spark, sf_dir, reg, duck):
    init, new_modes, per, _, _, _ = _p02_python_replay(duck)
    rows = reg["qp02_kmodes_fit_step_trace"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        n_init, n_after, n_stayed, cost, mode = per[r.cluster]
        assert (r.n_init, r.n_after, r.n_stayed, r.cost_after) == (
            n_init,
            n_after,
            n_stayed,
            cost,
        ), r
        assert (r.mode_status, r.mode_priority) == mode, r


def test_p02_lloyd_step_never_increases_cost(duck):
    """The defining Lloyd property the trace must witness: re-assignment
    under the recomputed modes cannot cost more than the init
    assignment cost (each row moves only to a nearer-or-equal mode,
    and each mode is the per-attribute majority of its members)."""
    init, new_modes, per, a0, _, by_okey = _p02_python_replay(duck)

    def ham(sp, m):
        return (sp[0] != m[0]) + (sp[1] != m[1])

    cost_init = sum(ham(by_okey[okey], init[c]) for okey, c in a0.items())
    cost_after = sum(v[3] for v in per.values())
    assert cost_after <= cost_init


# -------------------------------------------------------------------------
# p03-p06: streaming keys


def _tercile_chunks(duck, doubled=False):
    """Python replay of the shared staging rule (day terciles of the
    optionally doubled events stream)."""
    extra = ""
    if doubled:
        extra = """UNION ALL
        SELECT event_id, ts + INTERVAL 30 SECONDS AS ts, user_id, event_type, value, props
        FROM events WHERE event_id % 37 = 0"""
    rows = duck.execute(
        f"SELECT event_id, ts, user_id, event_type, value FROM (SELECT * FROM events {extra}) ORDER BY ts"
    ).fetchall()
    days = sorted({r[1].date() for r in rows})
    per_day = {}
    for r in rows:
        per_day[r[1].date()] = per_day.get(r[1].date(), 0) + 1
    n = len(rows)
    cum, cuts = 0, []
    cumsum = {}
    for d in days:
        cum += per_day[d]
        cumsum[d] = cum
    for k in (1, 2):
        target = -(-n * k // 3)
        cuts.append(min(d for d in days if cumsum[d] >= target))
    chunks = [[], [], []]
    for r in rows:
        d = r[1].date()
        idx = 0 if d < cuts[0] else (1 if d < cuts[1] else 2)
        chunks[idx].append(r)
    return chunks


def test_p03_metrics_match_python_chunks(spark, sf_dir, reg, duck):
    """The observed per-batch metrics must equal a python recount of
    each tercile chunk (batch boundaries AND arithmetic)."""
    chunks = _tercile_chunks(duck)
    rows = reg["qp03_stream_observe_metrics"].fn(spark, sf_dir).collect()
    assert [r.batch for r in rows] == [0, 1, 2]
    for r, chunk in zip(rows, chunks):
        assert r.n_rows == len(chunk)
        assert r.n_clicks == sum(1 for c in chunk if c[3] == "click")
        expected = sum(round(c[4], 6) for c in chunk)
        assert abs(r.sum_value - expected) < 1e-6


def test_p03_listener_agrees_with_progress(spark, sf_dir):
    """Cross-check the OTHER monitoring channel: a registered
    StreamingQueryListener must observe the same per-batch metrics the
    progress history reports (same source, but the listener path is
    the push-based production hookup — prove they agree)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from pyspark_distributed_kmodes_spark.streaming.jobs import replay_stream, stage_event_chunks

    seen = {}

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            p = e.progress
            om = p.observedMetrics.get("audit")
            if om is not None and p.numInputRows > 0:
                seen[p.batchId] = (om["n_rows"],)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    listener = L()
    spark.streams.addListener(listener)
    try:
        root = scratch_dir("p03_listener")
        stream = replay_stream(spark, stage_event_chunks(spark, sf_dir))
        obs = stream.observe("audit", F.count(F.lit(1)).alias("n_rows"))
        q = (
            obs.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(timeout=120)
        prog = {
            p["batchId"]: (p["observedMetrics"]["audit"]["n_rows"],)
            for p in q.recentProgress
            if p["numInputRows"] > 0
        }
        # listener callbacks are async — wait for them to drain
        import time

        for _ in range(100):
            if len(seen) >= len(prog):
                break
            time.sleep(0.1)
        assert seen == prog
    finally:
        spark.streams.removeListener(listener)


def test_p04_session_merges_across_micro_batches_planted(spark):
    """The state claim, pinned in isolation: a session opened by
    micro-batch 0 must stay in state and ABSORB a batch-1 event that
    arrives within the gap, emitting once as one merged session —
    the cross-batch merge the real corpus's day-boundary cuts happen
    not to produce (no user straddles a cut midnight within the gap,
    checked below), so it is planted here."""
    import os
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    chunk_a = [(1, t0), (1, t0 + timedelta(minutes=10))]
    # within 30 min of chunk A's last event -> must merge; the late row
    # advances the watermark so the merged session actually emits
    chunk_b = [(1, t0 + timedelta(minutes=25)), (9, t0 + timedelta(hours=6))]
    root = scratch_dir("p04_planted")
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    for i, rows in enumerate([chunk_a, chunk_b]):
        spark.createDataFrame(rows, "user_id bigint, ts timestamp").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, f"c{i}.parquet"))
    # strictly increasing mtimes pin the replay order (the o12 rule)
    files = sorted(
        os.path.join(stage, d, f)
        for d in os.listdir(stage)
        for f in os.listdir(os.path.join(stage, d))
        if f.endswith(".parquet")
    )
    base = os.stat(files[0]).st_mtime
    for i, f in enumerate(files):
        os.utime(f, (base + 10.0 * i, base + 10.0 * i))
    schema = spark.read.parquet(os.path.join(stage, "c0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "*.parquet"))
    )
    sink = os.path.join(root, "sink")
    q = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=120)
    out = {r.user_id: r for r in spark.read.parquet(sink).collect()}
    merged = out[1]
    assert merged.n == 3, "batch-1 event must merge into the batch-0 session"
    assert merged.s == t0
    assert merged.e == t0 + timedelta(minutes=55)  # last event + gap


def test_p04_emitted_is_watermark_cleared_subset(spark, sf_dir, reg, duck):
    """On the real corpus: the emitted set is a strict subset of all
    sessions (the tail is legally in state), every emitted session
    matches the python gaps-and-islands replay, and no session spans
    a chunk cut (why the merge pin above needs planting)."""
    chunks = _tercile_chunks(duck)
    chunk_of = {}
    for i, chunk in enumerate(chunks):
        for r in chunk:
            chunk_of[r[0]] = i
    events = duck.execute(
        "SELECT user_id, ts, event_id FROM events ORDER BY user_id, ts, event_id"
    ).fetchall()
    from datetime import timedelta

    gap = timedelta(minutes=30)
    sessions = []
    cur = None
    for u, ts, eid in events:
        if cur is None or u != cur["u"] or ts - cur["last"] > gap:
            if cur:
                sessions.append(cur)
            cur = {"u": u, "start": ts, "last": ts, "ids": [eid], "n": 1}
        else:
            cur["last"] = ts
            cur["ids"].append(eid)
            cur["n"] += 1
    if cur:
        sessions.append(cur)
    by_key = {(s["u"], s["start"]): s for s in sessions}
    emitted = reg["qp04_stream_session_windows"].fn(spark, sf_dir).collect()
    assert 0 < len(emitted) < len(sessions)
    for r in emitted:
        s = by_key[(r.user_id, r.session_start)]
        assert r.n_events == s["n"]
        assert r.session_end == s["last"] + gap
    spanning = [s for s in sessions if len({chunk_of[i] for i in s["ids"]}) >= 2]
    assert not spanning, "corpus now spans cuts — strengthen the planted pin"


def test_p05_last_day_legally_in_state(spark, sf_dir, reg, duck):
    """The final day's window cannot have been emitted (its end is
    inside the watermark horizon) — the tail-exclusion rule is
    load-bearing, not vacuous."""
    days = {r[0] for r in duck.execute("SELECT DISTINCT date_trunc('day', ts) FROM events").fetchall()}
    emitted = {r.day for r in reg["qp05_stream_chained_stateful"].fn(spark, sf_dir).collect()}
    assert max(days) not in emitted
    assert len(emitted) == len(days) - 1


def test_p06_state_is_unbounded_vs_o12_bounded(spark, sf_dir, reg):
    """The contrast the key exists for: plain dropDuplicates retains
    EVERY key (state_rows == total distinct event ids), while the o12
    watermark-bounded variant's final state is strictly smaller on the
    same staged stream."""
    import os

    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.streaming.jobs import replay_stream, stage_event_chunks

    rows = reg["qp06_stream_dedup_unbounded_state"].fn(spark, sf_dir).collect()
    n_keys = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id").distinct().count()
    assert all(r.state_rows == n_keys for r in rows)
    # run the o12-style bounded variant on the same stage and read ITS state
    root = scratch_dir("p06_contrast")
    stream = replay_stream(spark, stage_event_chunks(spark, sf_dir, doubled=True))
    q = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=120)
    bounded_state = max(
        (p for p in q.recentProgress if p["numInputRows"] > 0), key=lambda p: p["batchId"]
    )["stateOperators"][0]["numRowsTotal"]
    assert bounded_state < n_keys, (bounded_state, n_keys)


def _p07_join_fixture(spark, root):
    """Two-chunk planted fixture with rows EXACTLY at the terminal
    watermark boundary (wm = min side maxima - 4h = t0+6h): click 3 has
    c_ts + 2h == wm, purchase 4 has p_ts == wm."""
    import os
    from datetime import datetime, timedelta

    t0 = datetime(2024, 3, 1, 0, 0, 0)
    rows_a = [("click", 1, 100, t0), ("purchase", 2, 100, t0 + timedelta(minutes=5))]
    rows_b = [
        ("click", 3, 100, t0 + timedelta(hours=4)),
        ("purchase", 4, 100, t0 + timedelta(hours=6)),
        ("click", 5, 100, t0 + timedelta(hours=10)),
        ("purchase", 6, 100, t0 + timedelta(hours=10)),
    ]
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    for i, rows in enumerate([rows_a, rows_b]):
        spark.createDataFrame(
            rows, "event_type string, event_id bigint, user_id bigint, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, f"c{i}.parquet"))
    files = sorted(
        os.path.join(stage, d, f)
        for d in os.listdir(stage)
        for f in os.listdir(os.path.join(stage, d))
        if f.endswith(".parquet")
    )
    base = os.stat(files[0]).st_mtime
    for i, f in enumerate(files):
        os.utime(f, (base + 10.0 * i, base + 10.0 * i))
    return stage


def test_p07_eviction_boundary_is_inclusive(spark):
    """Pin the eviction law p07's oracle replays: after the terminal
    no-data batch, a LEFT row with ts + window == watermark and a RIGHT
    row with ts == watermark are both RETAINED (>= retention), while
    strictly older rows are gone."""
    import os

    from pyspark.sql import functions as F

    root = scratch_dir("p07_pin")
    stage = _p07_join_fixture(spark, root)
    schema = spark.read.parquet(os.path.join(stage, "c0.parquet")).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "*.parquet"))
    )
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
    ckpt = os.path.join(root, "ckpt")
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=120)
    left = {
        r.value[0]
        for r in spark.read.format("statestore").option("joinSide", "left").load(ckpt).collect()
    }
    right = {
        r.value[0]
        for r in spark.read.format("statestore").option("joinSide", "right").load(ckpt).collect()
    }
    assert left == {3, 5}, "boundary click (ts+2h == wm) must be retained; old click evicted"
    assert right == {4, 6}, "boundary purchase (ts == wm) must be retained; old purchase evicted"


def test_p07_state_matches_relational_law(spark, sf_dir, reg, duck):
    """The engine's read-back state must equal the python-derived
    survivor set (wm = min side maxima - 4h; left keeps ts+2h >= wm,
    right keeps ts >= wm)."""
    from datetime import timedelta

    mx = duck.execute(
        "SELECT max(CASE WHEN event_type='click' THEN ts END),"
        "       max(CASE WHEN event_type='purchase' THEN ts END) FROM events"
    ).fetchone()
    wm = min(mx) - timedelta(hours=4)
    expected = set()
    for et, eid, ts in duck.execute(
        "SELECT event_type, event_id, ts FROM events WHERE event_type IN ('click','purchase')"
    ).fetchall():
        if et == "click" and ts + timedelta(hours=2) >= wm:
            expected.add(("left", eid))
        elif et == "purchase" and ts >= wm:
            expected.add(("right", eid))
    rows = reg["qp07_stream_join_state_reader"].fn(spark, sf_dir).collect()
    assert {(r.side, r.event_id) for r in rows} == expected
    assert expected, "survivor set must be non-empty"


def test_p08_analyze_is_really_polymorphic(spark):
    """One registration, different literal n => different analysis-time
    schemas — the polymorphism the static-returnType UDTF (qb04)
    cannot express. Also pins null padding past the word count."""
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

    spark.udtf.register("t_lead_words", udtf(LeadWords))
    two = spark.sql("SELECT t.* FROM VALUES ('a b c') v(s), LATERAL t_lead_words(s, 2) t")
    four = spark.sql("SELECT t.* FROM VALUES ('a b c') v(s), LATERAL t_lead_words(s, 4) t")
    assert two.columns == ["n_words", "w1", "w2"]
    assert four.columns == ["n_words", "w1", "w2", "w3", "w4"]
    r = four.collect()[0]
    assert (r.n_words, r.w1, r.w2, r.w3, r.w4) == (3, "a", "b", "c", None)


def test_p08_matches_python_split(spark, sf_dir, reg, duck):
    docs = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    rows = reg["qp08_udtf_polymorphic_analyze"].fn(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    for r in rows:
        words = docs[r.doc_id].split(" ")
        assert r.n_words == len(words)
        for i in range(3):
            assert getattr(r, f"w{i + 1}") == (words[i] if i < len(words) else None)


def test_p09_testdata_is_ntz_on_disk(spark):
    """Pin the encoding assumption the key documents: every shipped
    events.parquet reads as TIMESTAMP_NTZ raw (MICROS with
    isAdjustedToUTC=false), while the ingestion path normalizes to
    TIMESTAMP with identical wall-clock values."""
    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.sources.tables import table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        raw = spark.read.parquet(f"{sf}/events.parquet")
        (ts_type,) = [f.dataType.typeName() for f in raw.schema if f.name == "ts"]
        assert ts_type == "timestamp_ntz", (sf, ts_type)
        norm = table(spark, sf, "events")
        (norm_type,) = [f.dataType.typeName() for f in norm.schema if f.name == "ts"]
        assert norm_type == "timestamp", (sf, norm_type)
        # identical wall-clock instants after the normalization
        a = raw.agg(
            F.min(F.col("ts").cast("string")), F.max(F.col("ts").cast("string"))
        ).first()
        b = norm.agg(
            F.min(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")),
            F.max(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")),
        ).first()
        assert (a[0], a[1]) == (b[0], b[1]), (sf, a, b)


def test_p09_matches_python_rollup(spark, sf_dir, reg, duck):
    from datetime import timedelta

    rows = duck.execute("SELECT ts FROM events").fetchall()
    per_hour = {}
    for (ts,) in rows:
        h = ts.hour
        cur = per_hour.setdefault(h, [0, 0, 0, None, None])
        cur[0] += 1
        cur[1] += 1  # rebuilt == second-truncated original always holds
        shifted = ts + timedelta(minutes=90)
        cur[2] += 1 if shifted.date() != ts.date() else 0
        cur[3] = ts if cur[3] is None else min(cur[3], ts)
        cur[4] = shifted if cur[4] is None else max(cur[4], shifted)
    out = reg["qp09_timestamp_ntz_surface"].fn(spark, sf_dir).collect()
    assert len(out) == len(per_hour)
    for r in out:
        n, n_rebuilt, n_cross, mn, mx = per_hour[r.hour_of_day]
        assert (r.n, r.n_rebuilt_exact, r.n_shift_crosses_day) == (n, n_rebuilt, n_cross)
        assert r.min_ts == mn and r.max_shifted == mx


def test_p10_ecb_determinism_and_quarantine_contract(spark):
    """Pin the three laws p10's oracle leans on: ECB ciphertext is a
    pure function of (plaintext, key); try_aes_decrypt returns NULL
    (never throws, never garbage) on a corrupted wire; and the PKCS
    wire length is (len//16+1)*16."""
    rows = spark.sql(
        """
        SELECT base64(aes_encrypt(s, '0123456789abcdef', 'ECB')) AS c1,
               base64(aes_encrypt(s, '0123456789abcdef', 'ECB')) AS c2,
               CAST(try_aes_decrypt(aes_encrypt(s, '0123456789abcdef', 'ECB'),
                                    '0123456789abcdef', 'ECB') AS STRING) AS rt,
               try_aes_decrypt(concat(X'00', aes_encrypt(s, '0123456789abcdef', 'ECB')),
                               '0123456789abcdef', 'ECB') AS corrupt,
               length(aes_encrypt(s, '0123456789abcdef', 'ECB')) AS ctlen,
               length(s) AS ptlen
        FROM VALUES ('x'), ('exactly16bytes!!'), ('a much longer payload than one block') v(s)
        """
    ).collect()
    for r in rows:
        assert r.c1 == r.c2, "ECB must be deterministic"
        assert r.corrupt is None, "corrupted wire must quarantine as NULL"
        assert r.ctlen == (r.ptlen // 16 + 1) * 16, "PKCS padded length law"
    assert rows[0].rt == "x" and rows[1].rt == "exactly16bytes!!"


def test_p10_matches_python_replay(spark, sf_dir, reg, duck):
    rows = reg["qp10_aes_codec_quarantine"].fn(spark, sf_dir).collect()
    exp = {}
    for st, prio, ok_ in duck.execute(
        "SELECT o_orderstatus, o_orderpriority, o_orderkey FROM orders"
    ).fetchall():
        e = exp.setdefault(st, [0, 0, 0, 0, 0])
        corrupted = ok_ % 13 == 0
        ptlen = len(f"{prio}|{ok_}")
        e[0] += 1
        e[1] += 0 if corrupted else 1
        e[2] += 1 if corrupted else 0
        e[3] += 0 if corrupted else ok_
        e[4] += (ptlen // 16 + 1) * 16 + (1 if corrupted else 0)
    for r in rows:
        n, n_rec, n_quar, sum_keys, wire = exp[r.o_orderstatus]
        assert (r.n, r.n_recovered, r.n_quarantined, r.sum_recovered_keys, r.sum_wire_bytes) == (
            n,
            n_rec,
            n_quar,
            sum_keys,
            wire,
        ), r


def test_p11_corpus_is_printable_ascii(duck):
    """The byte==char precondition p11's oracle leans on: every
    document is pure printable ASCII (so DuckDB character slices equal
    the engine's binary byte slices)."""
    n, total = duck.execute(
        r"SELECT SUM(CASE WHEN text ~ '^[\x20-\x7e]*$' THEN 1 ELSE 0 END), COUNT(*) FROM documents"
    ).fetchone()
    assert n == total


def test_p11_matches_python_replay(spark, sf_dir, reg, duck):
    import hashlib as _h

    rows = reg["qp11_binary_chunk_transport"].fn(spark, sf_dir).collect()
    docs = dict(duck.execute("SELECT doc_id, text FROM documents").fetchall())
    assert len(rows) == len(docs)
    C = 64
    for r in rows:
        raw = docs[r.doc_id].encode()
        chunks = [raw[i : i + C] for i in range(0, len(raw), C)]
        if r.doc_id % 17 == 0 and len(chunks) > 1:
            del chunks[1]
            assert not r.intact
        else:
            assert r.intact
        received = b"".join(chunks)
        assert r.n_chunks_received == len(chunks)
        assert r.bytes_received == len(received)
        assert r.digest == _h.md5(received).hexdigest()


def test_p11_losses_really_planted(spark, sf_dir, reg):
    rows = reg["qp11_binary_chunk_transport"].fn(spark, sf_dir).collect()
    broken = [r for r in rows if not r.intact]
    assert broken, "at least one multi-chunk doc must hit the plant rule"
    assert all(r.doc_id % 17 == 0 for r in broken)


def test_p11_zero_length_doc_yields_zero_chunks(spark, reg, tmp_path):
    """Guard regression (round-12 advice): F.sequence(0, n_chunks-1)
    with n_chunks=0 produces the DESCENDING [0, -1] on this Spark
    build — 2 phantom chunks. A zero-length document must instead
    come back with 0 chunks, 0 bytes, intact=true, and md5('') —
    exactly the oracle's closed form. Planted fixture: the corpus has
    no empty docs, so this path is unreachable from testdata."""
    import hashlib as _h

    sf = tmp_path / "sf_p11_empty"
    sf.mkdir()
    docs = spark.createDataFrame(
        [(1, ""), (2, "x" * 64), (17, "y" * 200)],  # empty / exact-1-chunk / planted-loss
        "doc_id long, text string",
    )
    docs.coalesce(1).write.parquet(str(sf / "documents.parquet"))
    rows = {r.doc_id: r for r in reg["qp11_binary_chunk_transport"].fn(spark, str(sf)).collect()}
    assert set(rows) == {1, 2, 17}
    r1 = rows[1]
    assert (r1.n_chunks_received, r1.bytes_received, r1.intact) == (0, 0, True)
    assert r1.digest == _h.md5(b"").hexdigest()
    r2 = rows[2]
    assert (r2.n_chunks_received, r2.bytes_received, r2.intact) == (1, 64, True)
    r17 = rows[17]  # 4 chunks, the second dropped in flight
    assert (r17.n_chunks_received, r17.bytes_received, r17.intact) == (3, 136, False)
    assert r17.digest == _h.md5(b"y" * 64 + b"y" * 72).hexdigest()


def test_p12_collation_did_the_matching(spark, sf_dir, reg):
    """Every joined row matched through the collation (n_binary_equal
    == 0 on this uppercase corpus) and nothing was lost vs the orders
    rowcount."""
    rows = reg["qp12_collated_join"].fn(spark, sf_dir).collect()
    assert all(r.n_binary_equal == 0 for r in rows)
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.n_orders for r in rows) == total


def test_p13_every_event_resolves_and_join_is_broadcast(spark, sf_dir, reg):
    """Inner-join semantics lose nothing (every user_id has a customer
    row) and the static side is broadcast — the stream never shuffles
    for the enrichment."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    unmatched = e.join(c, e.user_id == c.c_custkey, "left_anti").count()
    assert unmatched == 0
    rows = reg["qp13_stream_static_join"].fn(spark, sf_dir).collect()
    assert sum(r.n for r in rows) == e.count()
    # plan pin on the batch-equivalent join: broadcast, no shuffle of the fact
    plan = e.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        e.user_id == c.c_custkey,
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_p14_custom_timer_sessionizer_equals_builtin(spark, sf_dir, reg):
    """The strongest pin available: the hand-rolled EventTimeTimeout
    sessionizer must produce EXACTLY the rows of the built-in
    F.session_window streaming key (p04) — same gap, same watermark,
    same guard band, same schema."""
    custom = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_ids)
        for r in reg["qp14_stateful_timer_sessions"].fn(spark, sf_dir).collect()
    }
    builtin = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_ids)
        for r in reg["qp04_stream_session_windows"].fn(spark, sf_dir).collect()
    }
    assert custom == builtin and custom


def test_p14_timer_fires_for_tail_session(spark):
    """Pin the TIMER path in isolation: a single user whose only
    session has no successor event can only emit via hasTimedOut in
    the terminal batch — if the timer half were broken, the session
    would die silently in state."""
    import os
    from datetime import datetime, timedelta

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    root = scratch_dir("p14_pin")
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    chunk_a = [(1, 100, t0), (2, 100, t0 + timedelta(minutes=5))]
    chunk_b = [(3, 9, t0 + timedelta(hours=6))]  # watermark driver only
    for i, rows in enumerate([chunk_a, chunk_b]):
        spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, f"c{i}.parquet"))
    files = sorted(
        os.path.join(stage, d, f)
        for d in os.listdir(stage)
        for f in os.listdir(os.path.join(stage, d))
        if f.endswith(".parquet")
    )
    base = os.stat(files[0]).st_mtime
    for i, f in enumerate(files):
        os.utime(f, (base + 10.0 * i, base + 10.0 * i))

    gap_us = 30 * 60 * 1_000_000

    def sessionize(key, pdfs, state: GroupState):
        uid = key[0]
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                [{"user_id": uid, "start_us": start_us, "end_us": last_us + gap_us, "n": n}]
            )
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64").tolist()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = None
            n = 0
        for t in ts_us:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > gap_us:
                start_us, last_us, n = t, t, 1  # (tail test: no mid-closes expected)
            else:
                last_us, n = t, n + 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + 30 * 60 * 1000)
        return
        yield  # pragma: no cover — generator marker

    schema = spark.read.parquet(os.path.join(stage, "c0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "*.parquet"))
    )
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            "user_id bigint, start_us bigint, end_us bigint, n bigint",
            "start_us bigint, last_us bigint, n bigint",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    sink = os.path.join(root, "sink")
    q = (
        sess.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=120)
    got = {(r.user_id, r.n) for r in spark.read.parquet(sink).collect()}
    # user 100's 2-event session emitted ONLY via the timer; user 9's
    # own session is within the final watermark horizon => still open
    assert got == {(100, 2)}


def test_tercile_split_implementations_agree(spark, sf_dir, duck):
    """The one stager every chunk replay reads must agree with the
    Python replay of the day-tercile cut (`_tercile_chunks`, which p03's
    oracle and the p-suite checks assume): for the plain and the
    o12-doubled events, chunk by chunk identical event_id multisets,
    strictly increasing mtimes in path order (the replay order), and
    one memoized stage per argument set."""
    import os

    from pyspark_distributed_kmodes_spark.streaming.jobs import stage_event_chunks

    for doubled in (False, True):
        stage = stage_event_chunks(spark, sf_dir, doubled=doubled)
        assert stage_event_chunks(spark, sf_dir, doubled=doubled) == stage
        files = sorted(os.path.join(stage, f) for f in os.listdir(stage))
        assert [os.path.basename(f) for f in files] == [f"chunk{i}.parquet" for i in range(3)]
        mtimes = [os.stat(f).st_mtime for f in files]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
        for f, chunk in zip(files, _tercile_chunks(duck, doubled)):
            got = sorted(r.event_id for r in spark.read.parquet(f).select("event_id").collect())
            assert got == sorted(r[0] for r in chunk)


def test_p15_watermark_is_min_of_sources(spark, sf_dir, reg, duck):
    """The union's emitted-day set must be governed by source A's
    maximum (the EARLIER source top-out), not source B's — i.e. the
    min-of-sources watermark law. Verify the last emitted day per
    source against a python replay."""
    from datetime import timedelta

    rows = reg["qp15_stream_union_two_sources"].fn(spark, sf_dir).collect()
    assert rows
    mx_a = duck.execute("SELECT MAX(ts) FROM events").fetchone()[0]
    cutoff = mx_a - timedelta(hours=1, seconds=1)  # min-of-sources wm - 1 s
    for r in rows:
        assert r.day + timedelta(days=1) <= cutoff
    # both sources present, and source b's counts equal source a's
    # (same rows, shifted) on fully-interior days
    a_days = {r.day: (r.n, r.sum_ids) for r in rows if r.src == "a"}
    b_days = {r.day: (r.n, r.sum_ids) for r in rows if r.src == "b"}
    assert a_days and b_days


def test_p16_files_are_contiguous_sorted_slices(spark, sf_dir, reg, duck):
    """Cross-file integrity the per-file hash cannot see alone: file
    k's max_ts <= file k+1's min_ts (contiguous time slices), every
    file but the last holds exactly the cap, and the total row count
    is the table's."""
    rows = reg["qp16_sorted_run_writer_audit"].fn(spark, sf_dir).collect()
    total = duck.execute("SELECT COUNT(*) FROM events").fetchone()[0]
    assert sum(r.n_rows for r in rows) == total
    for i, r in enumerate(rows[:-1]):
        assert r.n_rows == 2000
        assert r.max_ts <= rows[i + 1].min_ts
    assert rows[-1].n_rows == total - 2000 * (len(rows) - 1)


def test_p16_file_idx_deterministic_under_timestamp_ties(spark, reg, tmp_path):
    """Tiebreak regression (round-12 advice): with 2000+ consecutive
    rows sharing ONE timestamp, adjacent physical files tie on min_ts,
    so ordering file_idx by min_ts alone is nondeterministic. The
    window now orders by (min_ts, min_event_id) — unique per file
    since the run is sorted by (ts, event_id). Planted fixture: 5000
    rows, all the same ts, so EVERY adjacent file pair ties."""
    import datetime

    sf = tmp_path / "sf_p16_ties"
    sf.mkdir()
    one_ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [(one_ts, i) for i in range(5000)], "ts timestamp, event_id long"
    )
    ev.coalesce(1).write.parquet(str(sf / "events.parquet"))
    rows = reg["qp16_sorted_run_writer_audit"].fn(spark, str(sf)).collect()
    assert [r.file_idx for r in rows] == [0, 1, 2]
    assert [r.n_rows for r in rows] == [2000, 2000, 1000]
    # closed-form sum of event_id per contiguous 2000-row slice
    def tri(a, b):  # sum of a..b-1
        return (a + b - 1) * (b - a) // 2

    assert [r.sum_ids for r in rows] == [tri(0, 2000), tri(2000, 4000), tri(4000, 5000)]


def test_p17_ntile_remainder_and_tie_laws(spark, sf_dir, reg, duck):
    """Python replay of NTILE: per status, sorted by (price, key), the
    first `count mod 8` buckets hold ceil(count/8) rows, the rest
    floor(count/8) — and the per-bucket key sums pin that ties at
    bucket boundaries split by the unique-key order."""
    rows = reg["qp17_ntile_equidepth"].fn(spark, sf_dir).collect()
    data = duck.execute(
        "SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders"
        " ORDER BY o_orderstatus, o_totalprice, o_orderkey"
    ).fetchall()
    per = {}
    for st, okey, price in data:
        per.setdefault(st, []).append((okey, price))
    exp = {}
    for st, lst in per.items():
        n = len(lst)
        q, r = divmod(n, 8)
        pos = 0
        for b in range(1, 9):
            size = q + (1 if b <= r else 0)
            chunk = lst[pos : pos + size]
            pos += size
            if chunk:
                exp[(st, b)] = (
                    len(chunk),
                    min(p for _, p in chunk),
                    max(p for _, p in chunk),
                    sum(k for k, _ in chunk),
                )
    assert len(rows) == len(exp)
    for row in rows:
        n, mn, mx, sk = exp[(row.o_orderstatus, row.bucket)]
        assert (row.n, row.sum_keys) == (n, sk), row
        assert float(row.min_price) == float(mn) and float(row.max_price) == float(mx)
