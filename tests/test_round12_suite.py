"""Independent re-derivations for the round-12 staged suite (p18+,
operators/analytics14.py): pure-python replays, partition-invariance
sweeps, and law pins. The p18+ keys sort after p17 and before q01, so
they stay OUT of the round-12 driver window (pinned in test_entry.py)
and rename into the round-13 window per the documented plan."""

import hashlib

import pytest

from pyspark_distributed_kmodes_spark.registry import load_all


@pytest.fixture(scope="module")
def reg():
    return load_all()


# ---------------------------------------------------------------------------
# p18 — LSH bucket assignment audit


def _p18_planes(n_tables=8, bits=5, dim=64):
    even = "02468ace"
    return {
        (t, b): [
            1.0 if hashlib.md5(f"{t}_{b}_{j}".encode()).hexdigest()[0] in even else -1.0
            for j in range(1, dim + 1)
        ]
        for t in range(n_tables)
        for b in range(bits)
    }


def test_p18_matches_python_replay(spark, sf_dir, reg):
    """Third engine: hashlib planes + sequential float64 dots + bit
    packing in pure python must reproduce every (table, bucket) row."""
    rows = reg["p18_lsh_bucket_assign_audit"].fn(spark, sf_dir).collect()
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    planes = _p18_planes()
    expect = {}
    for vid, vec in emb.items():
        for t in range(8):
            bucket = 0
            for b in range(5):
                acc = 0.0
                for x, s in zip(vec, planes[(t, b)]):
                    acc += x * s
                if round(acc, 9) >= 0:
                    bucket |= 1 << b
            n, sm = expect.get((t, bucket), (0, 0))
            expect[(t, bucket)] = (n + 1, sm + vid)
    got = {(r.tbl, r.bucket): (r.n_vectors, r.sum_vec_ids) for r in rows}
    assert got == expect


def test_p18_partition_invariance(spark, sf_dir, reg):
    """The bucket assignment must not depend on input partitioning:
    the audit's totals are a pure function of the rows."""
    base = reg["p18_lsh_bucket_assign_audit"].fn(spark, sf_dir).collect()
    # every vector appears exactly once per table
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    per_table = {}
    for r in base:
        per_table[r.tbl] = per_table.get(r.tbl, 0) + r.n_vectors
    assert per_table == {t: n_vecs for t in range(8)}
    # buckets are 5-bit keys
    assert all(0 <= r.bucket < 32 for r in base)


def test_p18_planes_are_balanced_enough(spark, sf_dir, reg):
    """Sanity on the md5-parity rule: with ±1 pseudo-random planes over
    a real corpus, no single (table, bucket) may swallow everything —
    the routing must actually spread (>= 4 distinct buckets per table
    on every shipped SF)."""
    rows = reg["p18_lsh_bucket_assign_audit"].fn(spark, sf_dir).collect()
    buckets_per_table = {}
    for r in rows:
        buckets_per_table.setdefault(r.tbl, set()).add(r.bucket)
    assert all(len(v) >= 4 for v in buckets_per_table.values()), buckets_per_table


# ---------------------------------------------------------------------------
# p19 — DataSource commit/abort protocol


def test_p19_planted_failure_leaves_contained_orphan(spark, sf_dir, tmp_path):
    """Replay phase A standalone: the planted mid-write failure must
    leave exactly one orphan temp shard (the failed attempt's partial
    file), publish nothing, and ledger the abort with 0 reported
    attempts (the single task never returned a commit message)."""
    import glob
    import json
    import os

    from pyspark_distributed_kmodes_spark.sources import jsonl
    from pyspark_distributed_kmodes_spark.sources.tables import table

    jsonl.register(spark)
    target = str(tmp_path / "sink")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    try:
        (
            o.repartition(1)
            .write.format("jsonl_docs")
            .option("path", target)
            .option("fail_after", "100")
            .mode("overwrite")
            .save()
        )
        raise AssertionError("planted failure did not surface")
    except AssertionError:
        raise
    except Exception as e:
        assert "planted task failure" in str(e), str(e)[:300]
    assert glob.glob(os.path.join(target, "part-*.jsonl")) == []
    assert not os.path.exists(os.path.join(target, "_SUCCESS"))
    orphans = glob.glob(os.path.join(target, "_tmp-*.jsonl"))
    assert len(orphans) == 1
    # the partial shard holds exactly the rows written before the raise
    assert sum(1 for _ in open(orphans[0])) == 100
    with open(os.path.join(target, "_ABORTED")) as f:
        assert json.load(f) == {"reported_attempts_cleaned": 0}


def test_p19_result_protocol_facts_are_green(spark, sf_dir, reg):
    rows = reg["p19_datasource_abort_protocol"].fn(spark, sf_dir).collect()
    assert rows, "expected per-status rows"
    for r in rows:
        assert r.aborted_ledger_after_failure == 1
        assert r.parts_visible_after_failure == 0
        assert r.success_marker_after_failure == 0
        assert r.orphan_tmp_after_commit == 0
        assert r.aborted_ledger_after_commit == 0
        assert r.success_marker_after_commit == 1


# ---------------------------------------------------------------------------
# p20 — state reader partition pruning


def test_p20_matches_python_replay(spark, sf_dir, reg, duck):
    """Third engine: the union of pruned per-partition state reads must
    equal a python per-user groupby of the raw events."""
    rows = reg["p20_state_reader_partition_pruning"].fn(spark, sf_dir).collect()
    expect = {
        u: (n, s)
        for u, n, s in duck.execute(
            "SELECT user_id, COUNT(*), SUM(event_id) FROM events GROUP BY user_id"
        ).fetchall()
    }
    got = {r.user_id: (r.n_events, r.sum_ids) for r in rows}
    assert got == expect
    assert all(r.partition_sets_match == 1 for r in rows)
    assert all(r.pruned_reads_pure == 1 for r in rows)
    assert all(r.pruned_vs_full_diff == 0 for r in rows)


# ---------------------------------------------------------------------------
# p21 — foreachBatch multi-sink


def test_p21_epoch_ledger_and_consistency(spark, sf_dir, reg):
    """Batch ids are exactly {0,1,2} (the tercile replay), each batch's
    per-type counts sum to its ledger row, and the ledger is one row
    per epoch (duplicate epochs would double sink B)."""
    rows = reg["p21_foreachbatch_multi_sink"].fn(spark, sf_dir).collect()
    assert {r.batch_id for r in rows} == {0, 1, 2}
    per_batch = {}
    for r in rows:
        n, ledgers = per_batch.get(r.batch_id, (0, set()))
        ledgers.add(r.ledger_rows)
        per_batch[r.batch_id] = (n + r.n_rows, ledgers)
    for b, (n, ledgers) in per_batch.items():
        assert len(ledgers) == 1, f"batch {b}: ledger not unique"
        assert n == next(iter(ledgers)), f"batch {b}: A-vs-B mismatch"


# ---------------------------------------------------------------------------
# p22 — bucket pruning


def test_p22_rows_and_facts(spark, sf_dir, reg, duck):
    rows = reg["p22_bucket_pruning_audit"].fn(spark, sf_dir).collect()
    expect = duck.execute(
        "SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE)"
        " FROM orders ORDER BY o_orderkey LIMIT 3"
    ).fetchall()
    assert [(r.o_orderkey, r.o_orderstatus, r.total_price) for r in rows] == [
        tuple(e) for e in expect
    ]
    assert all(r.pruning_effective == 1 and r.selected_within_key_count == 1 for r in rows)


def test_p22_restores_auto_bucketed_scan_conf(spark, sf_dir, reg):
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    before = spark.conf.get(key)
    reg["p22_bucket_pruning_audit"].fn(spark, sf_dir).collect()
    assert spark.conf.get(key) == before


# ---------------------------------------------------------------------------
# p23 — pandas-on-Spark


def test_p23_matches_real_pandas(spark, sf_dir, reg):
    """Third engine: ACTUAL pandas (not pyspark.pandas) must produce
    the same banded rollup — the dialect-fidelity check the DuckDB
    oracle can't make (it replays SQL semantics, not pandas ones)."""
    import pandas as pd

    rows = reg["p23_pandas_on_spark_groupby"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderstatus", "o_totalprice"])
    pdf = pdf.assign(price_band=(pdf["o_totalprice"] // 50000).astype("int64"))
    exp = (
        pdf.groupby(["o_orderstatus", "price_band"])
        .agg(
            n=("o_orderkey", "count"),
            sum_keys=("o_orderkey", "sum"),
            min_price=("o_totalprice", "min"),
            max_price=("o_totalprice", "max"),
        )
        .reset_index()
        .sort_values(["o_orderstatus", "price_band"])
    )
    got = [(r.o_orderstatus, r.price_band, r.n, r.sum_keys, r.min_price, r.max_price) for r in rows]
    assert got == [tuple(t) for t in exp.itertuples(index=False)]


# ---------------------------------------------------------------------------
# p24 — window_time


def test_p24_window_time_is_end_minus_one_microsecond(spark, sf_dir, reg):
    import datetime

    rows = reg["p24_window_time_column"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r.day_event_time == r.day_start + datetime.timedelta(days=1, microseconds=-1)


# ---------------------------------------------------------------------------
# p25 — transpose


def test_p25_header_comes_from_data(spark, sf_dir, reg):
    df = reg["p25_dataframe_transpose"].fn(spark, sf_dir)
    assert df.columns == ["key", "F", "O", "P"]
    rows = {r.key: (r.F, r.O, r.P) for r in df.collect()}
    assert set(rows) == {"n_orders", "sum_keys"}
    import duckdb  # local: independent replay

    con = duckdb.connect()
    for st_i, st in enumerate(["F", "O", "P"]):
        n, s = con.execute(
            f"SELECT COUNT(*), SUM(o_orderkey) FROM '{sf_dir}/orders.parquet'"
            f" WHERE o_orderstatus = '{st}'"
        ).fetchone()
        assert rows["n_orders"][st_i] == n
        assert rows["sum_keys"][st_i] == s


# ---------------------------------------------------------------------------
# p26 — UDTF table argument


def test_p26_order_checksum_detects_reordering(spark, sf_dir, reg, duck):
    """The positional checksum must equal the ROW_NUMBER replay — and a
    DIFFERENT ordering of the same rows must yield a different
    checksum (i.e. the law is actually order-sensitive), unless the
    partition is trivially small."""
    rows = reg["p26_udtf_table_argument"].fn(spark, sf_dir).collect()
    expect = {
        t: (n, s, f, c)
        for t, n, s, f, c in duck.execute(
            """
            WITH ordered AS (
              SELECT event_type, event_id,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS pos
              FROM events)
            SELECT event_type, COUNT(*), SUM(event_id),
                   MIN(CASE WHEN pos = 0 THEN event_id END), SUM(pos * event_id)
            FROM ordered GROUP BY event_type
            """
        ).fetchall()
    }
    got = {r.event_type: (r.n_events, r.sum_ids, r.first_id, r.order_checksum) for r in rows}
    assert got == expect
    # order-sensitivity: the reverse order has a different checksum for
    # any partition with >= 2 distinct ids
    rev = {
        t: c
        for t, c in duck.execute(
            """
            WITH ordered AS (
              SELECT event_type, event_id,
                     ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) - 1 AS pos
              FROM events)
            SELECT event_type, SUM(pos * event_id) FROM ordered GROUP BY event_type
            """
        ).fetchall()
    }
    for t, (n, _, _, c) in expect.items():
        if n >= 2:
            assert rev[t] != c, f"{t}: checksum not order-sensitive"


# ---------------------------------------------------------------------------
# p27 — join strategy hints


def test_p27_all_hints_honored(spark, sf_dir, reg):
    rows = reg["p27_join_strategy_hints"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.used_broadcast == 1
        assert r.used_sort_merge == 1
        assert r.used_shuffle_hash == 1
        assert r.all_strategies_agree == 1


# ---------------------------------------------------------------------------
# p28 — pandas-on-Spark rolling


def test_p28_matches_real_pandas_rolling(spark, sf_dir, reg):
    """Dialect fidelity: REAL pandas groupby-rolling (min_periods=1)
    must reproduce the rollup — including the partial leading frames
    pandas emits where SQL would need the explicit ROWS frame."""
    import pandas as pd

    rows = reg["p28_pandas_on_spark_rolling"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderstatus"])
    pdf = pdf.sort_values("o_orderkey")
    rs = (
        pdf.groupby("o_orderstatus")["o_orderkey"]
        .rolling(5, min_periods=1)
        .sum()
        .reset_index(level=0)
    )
    exp = (
        rs.groupby("o_orderstatus")["o_orderkey"]
        .agg(["count", "sum", "min", "max"])
        .reset_index()
        .sort_values("o_orderstatus")
    )
    got = [(r.o_orderstatus, r.n, r.sum_rolling, r.min_rolling, r.max_rolling) for r in rows]
    assert got == [
        (t.o_orderstatus, int(t.count), int(t.sum), int(t.min), int(t.max))
        for t in exp.itertuples(index=False)
    ]


# ---------------------------------------------------------------------------
# p29 — join-state change feed


def test_p29_facts_and_law(spark, sf_dir, reg, duck):
    rows = reg["p29_join_state_change_feed"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.feed_presence_equals_direct == 1
        assert r.evictions_seen == 1
    n_click_users = duck.execute(
        "SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'click'"
    ).fetchone()[0]
    assert all(r.n_inserted_keys == n_click_users for r in rows)
    # the buffered counts obey the p07 eviction law
    law = {
        u: n
        for u, n in duck.execute(
            """
            WITH wm AS (
              SELECT least(MAX(CASE WHEN event_type='click' THEN ts END),
                           MAX(CASE WHEN event_type='purchase' THEN ts END))
                     - INTERVAL 4 HOURS AS w FROM events)
            SELECT user_id, COUNT(*) FROM events, wm
            WHERE event_type='click' AND ts + INTERVAL 2 HOURS >= w
            GROUP BY user_id
            """
        ).fetchall()
    }
    assert {r.user_id: r.n_buffered for r in rows} == law


# ---------------------------------------------------------------------------
# p30 — pandas-on-Spark pivot_table


def test_p30_matches_real_pandas_pivot(spark, sf_dir, reg):
    import pandas as pd

    rows = reg["p30_pandas_on_spark_pivot_table"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderstatus", "o_orderpriority"]
    )
    pt = pd.pivot_table(
        pdf, index="o_orderstatus", columns="o_orderpriority", values="o_orderkey", aggfunc="sum"
    )
    for r in rows:
        for dst, src in [
            ("urgent", "1-URGENT"),
            ("high", "2-HIGH"),
            ("medium", "3-MEDIUM"),
            ("not_specified", "4-NOT SPECIFIED"),
            ("low", "5-LOW"),
        ]:
            assert getattr(r, dst) == int(pt.loc[r.o_orderstatus, src])


# ---------------------------------------------------------------------------
# p31 — partition-based DataSourceStreamReader


def test_p31_batches_and_pacing(spark, sf_dir, reg):
    rows = reg["p31_datasource_stream_partitions"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r.n_data_batches == 3 for r in rows)
    assert all(r.one_file_per_batch == 1 for r in rows)


def test_p31_reader_reads_on_executors(spark, tmp_path):
    """The partition-based flavor must NOT materialize rows on the
    driver: read(partition) only ever runs where the partition object
    was shipped. Pin it by asserting partitions() plans one partition
    per file and read() is a generator over one file."""
    import json as _json

    from pyspark_distributed_kmodes_spark.sources.jsonl import (
        JsonlFilePartition,
        JsonlShardsStreamReader,
    )

    for i in range(2):
        with open(tmp_path / f"s{i}.jsonl", "w") as f:
            f.write(_json.dumps({"doc_id": i, "source": "x", "n_chars": 1}) + "\n")
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    r = JsonlShardsStreamReader({"path": str(tmp_path / "s*.jsonl")}, schema)
    start = r.initialOffset()
    o1 = r.latestOffset()
    assert len(o1["done"]) == 1  # one file per batch
    parts = r.partitions(start, o1)
    assert len(parts) == 1 and isinstance(parts[0], JsonlFilePartition)
    got = list(r.read(parts[0]))
    assert got == [(0, "x", 1)]
    o2 = r.latestOffset()
    assert len(o2["done"]) == 2
    assert len(r.partitions(o1, o2)) == 1


# ---------------------------------------------------------------------------
# p32 — partition pruning


def test_p32_facts_green_and_negative_control(spark, sf_dir, reg, tmp_path):
    rows = reg["p32_partition_pruning_audit"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r.files_from_one_partition == 1 and r.partition_filter_pushed == 1 for r in rows)
    # negative control: an UNpartitioned copy of the same data must NOT
    # report a partition filter (the fact detects real pruning, not
    # string luck)
    from pyspark.sql import functions as F
    from pyspark_distributed_kmodes_spark.sources.tables import table

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    flat = str(tmp_path / "flat")
    e.write.parquet(flat)
    scan = spark.read.parquet(flat).where(F.col("event_type") == "purchase")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].split("]")[0] if "PartitionFilters:" in plan else ""
    assert "event_type" not in pf


# ---------------------------------------------------------------------------
# p33 — cleanSource archive


def test_p33_archive_law(spark, sf_dir, reg):
    rows = reg["p33_file_stream_clean_source_archive"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_archived_files == 2  # all but the last batch's file
        assert r.n_source_files_left == 1
        assert r.archive_preserves_rows == 1


def test_p33_never_consumes_the_shared_staging(spark, sf_dir, reg):
    """Archiving MUTATES the source dir; the key must work on a private
    copy — the shared memoized tercile staging must keep all 3 files."""
    import os

    from pyspark_distributed_kmodes_spark.operators.analytics12 import stage_event_terciles

    reg["p33_file_stream_clean_source_archive"].fn(spark, sf_dir).collect()
    shared = stage_event_terciles(spark, sf_dir, doubled=False)
    assert len([f for f in os.listdir(shared) if f.endswith(".parquet")]) == 3


# ---------------------------------------------------------------------------
# p34 — limit/offset pagination


def test_p34_page_matches_python_slice(spark, sf_dir, reg):
    """Third engine: pandas sort + iloc[40:60] must reproduce the page."""
    import pandas as pd

    rows = reg["p34_limit_offset_pagination"].fn(spark, sf_dir).collect()
    pdf = (
        pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderstatus", "o_totalprice"])
        .sort_values("o_orderkey")
        .iloc[40:60]
    )
    got = [(r.o_orderkey, r.o_orderstatus, r.total_price) for r in rows]
    assert got == [tuple(t) for t in pdf.itertuples(index=False)]
    assert all(r.plan_fused_topk == 1 and r.sql_api_agree == 1 for r in rows)


def test_p34_pages_are_disjoint_and_contiguous(spark, sf_dir):
    from pyspark_distributed_kmodes_spark.sources.tables import table

    o = table(spark, sf_dir, "orders").orderBy("o_orderkey")
    p0 = [r.o_orderkey for r in o.limit(40).collect()]
    p1 = [r.o_orderkey for r in o.offset(40).limit(20).collect()]
    assert not set(p0) & set(p1)
    assert max(p0) < min(p1)


# ---------------------------------------------------------------------------
# p35 — byte-capped stream admission


def test_p35_batches_match_python_tercile_replay(spark, sf_dir, reg):
    """Third engine: replay the day-tercile cut rule in pandas and
    merge terciles 0+1 — must reproduce both batches exactly."""
    import math

    import pandas as pd

    rows = reg["p35_stream_byte_cap_admission"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_id", "ts"])
    pdf["d"] = pdf["ts"].dt.floor("D")
    days = pdf.groupby("d").size().sort_index()
    cum = days.cumsum()
    n = len(pdf)
    cut2 = cum[cum >= math.ceil(n * 2 / 3)].index[0]
    batch = (pdf["d"] >= cut2).astype(int)
    exp = pdf.groupby(batch).agg(n_events=("event_id", "size"), sum_ids=("event_id", "sum"))
    got = {r.batch: (r.n_events, r.sum_ids) for r in rows}
    assert got == {int(b): (int(v.n_events), int(v.sum_ids)) for b, v in exp.iterrows()}
    assert all(r.byte_cap_split_two_batches == 1 and r.first_batch_is_first_two_files == 1 for r in rows)


def test_p35_minimal_cap_degenerates_to_one_file_per_batch(spark, sf_dir):
    """The at-least-one-file rule: a 1-byte cap must still make
    progress — three files, three batches."""
    import os

    from pyspark_distributed_kmodes_spark.operators.analytics12 import stage_event_terciles
    from pyspark_distributed_kmodes_spark.session import scratch_dir

    stage = stage_event_terciles(spark, sf_dir, doubled=False)
    schema = spark.read.parquet(stage).schema
    seen = []
    root = scratch_dir("p35_min")
    q = (
        spark.readStream.schema(schema)
        .option("maxBytesPerTrigger", "1")
        .parquet(stage + "/*")
        .select("event_id")
        .writeStream.foreachBatch(lambda df, bid: seen.append((bid, df.count())))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=300)
    assert len(seen) == 3 and all(n > 0 for _, n in seen)


# ---------------------------------------------------------------------------
# p36 — pandas-on-Spark merge


def test_p36_matches_real_pandas_merge(spark, sf_dir, reg):
    """Third engine: ACTUAL pandas merge + NaN-skipping aggs."""
    import pandas as pd

    rows = reg["p36_pandas_on_spark_merge"].fn(spark, sf_dir).collect()
    po = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey", "o_orderstatus"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
    c3 = c[c["c_custkey"] % 3 == 0]
    m = po.merge(c3, left_on="o_custkey", right_on="c_custkey", how="left")
    exp = (
        m.groupby("o_orderstatus")
        .agg(
            n_orders=("o_orderkey", "count"),
            n_matched=("c_custkey", "count"),
            sum_matched_cust=("c_custkey", "sum"),
        )
        .sort_index()
    )
    got = [(r.o_orderstatus, r.n_orders, r.n_matched, r.sum_matched_cust) for r in rows]
    assert got == [(i, int(v.n_orders), int(v.n_matched), int(v.sum_matched_cust)) for i, v in exp.iterrows()]


# ---------------------------------------------------------------------------
# p37 — describe profile audit


def test_p37_mean_is_exact_integer_arithmetic(spark, sf_dir, reg):
    """The exactness claim itself: describe's mean must equal the
    python exact-int sum divided as one float op — bit equality."""
    import pandas as pd

    rows = {(r.stat, r.col): r.val for r in reg["p37_describe_profile_audit"].fn(spark, sf_dir).collect()}
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderkey"])
    n = len(pdf)
    for col in ("o_custkey", "o_orderkey"):
        exact = [int(x) for x in pdf[col]]
        assert rows[("count", col)] == float(n)
        assert rows[("mean", col)] == float(sum(exact)) / n  # bit-exact
        assert rows[("min", col)] == float(min(exact))
        assert rows[("max", col)] == float(max(exact))
    assert all(
        r.stddev_matches_closed_form == 1
        for r in reg["p37_describe_profile_audit"].fn(spark, sf_dir).collect()
    )


# ---------------------------------------------------------------------------
# p38 — crosstab contingency


def test_p38_matches_real_pandas_crosstab(spark, sf_dir, reg):
    """Third engine: pandas.crosstab over the same pair."""
    import pandas as pd

    rows = reg["p38_crosstab_contingency"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderstatus", "o_orderpriority"])
    ct = pd.crosstab(pdf["o_orderstatus"], pdf["o_orderpriority"])
    got = {(r.status, r.priority): r.n for r in rows}
    exp = {
        (s, p): int(ct.loc[s, p]) for s in ct.index for p in ct.columns
    }
    assert got == exp
    assert all(r.header_is_colpair_name == 1 for r in rows)


# ---------------------------------------------------------------------------
# p39 — Arrow interchange round trip


def test_p39_roundtrip_is_identity(spark, sf_dir, reg):
    """The round-tripped frame must equal the in-cluster aggregate
    row-for-row, and the facts must be green."""
    from pyspark.sql import functions as F

    from pyspark_distributed_kmodes_spark.sources.tables import table

    rows = reg["p39_arrow_interchange_roundtrip"].fn(spark, sf_dir).collect()
    direct = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c_custkey").cast("bigint").alias("s"),
        )
        .orderBy("c_nationkey")
        .collect()
    )
    assert [(r.c_nationkey, r.n_customers, r.sum_custkeys) for r in rows] == [
        (r.c_nationkey, r.n, r.s) for r in direct
    ]
    assert all(r.arrow_schema_names_match == 1 and r.arrow_row_count_matches == 1 for r in rows)


# ---------------------------------------------------------------------------
# p40 — exact-mode GK quantiles


def test_p40_matches_python_rank_selection(spark, sf_dir, reg):
    """Third engine: sorted-list selection at floor((n-1)*p) must
    reproduce every quantile for both columns."""
    import math

    import pandas as pd

    rows = reg["p40_exact_quantiles_gk"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_totalprice", "o_custkey"])
    price = sorted(float(x) for x in pdf["o_totalprice"])
    cust = sorted(int(x) for x in pdf["o_custkey"])
    n = len(price)
    for r in rows:
        i = int(math.floor((n - 1) * r.p))
        assert r.price_quantile == price[i]
        assert r.custkey_quantile == float(cust[i])


# ---------------------------------------------------------------------------
# p41 — struct field surgery


def test_p41_matches_python_arithmetic(spark, sf_dir, reg):
    """Third engine: the post-surgery extracted fields must equal plain
    python arithmetic on the source columns, and the schema fact (exact
    field list [o_totalprice, cust] after replace/add/drop) must hold."""
    import pandas as pd

    rows = reg["p41_struct_field_surgery"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_totalprice", "o_custkey"])
    pdf = pdf[pdf.o_orderkey < 50].set_index("o_orderkey")
    assert len(rows) == len(pdf)
    for r in rows:
        assert r.price_plus_one == float(pdf.loc[r.o_orderkey, "o_totalprice"]) + 1.0
        assert r.cust_doubled == int(pdf.loc[r.o_orderkey, "o_custkey"]) * 2
        assert r.struct_fields_are_exact == 1


# ---------------------------------------------------------------------------
# p42 — map higher-order functions


def test_p42_matches_python_replay(spark, sf_dir, reg):
    """Third engine: each map-HOF extract reduces to scalar arithmetic —
    transform_keys(upper) key survives as K, transform_values is v*10,
    map_filter keeps even values, map_zip_with adds pointwise (k + 10k)."""
    import pandas as pd

    rows = reg["p42_map_higher_order_funcs"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    pdf = pdf[pdf.o_orderkey < 30].set_index("o_orderkey")
    assert len(rows) == len(pdf)
    for r in rows:
        k, c = int(r.o_orderkey), int(pdf.loc[r.o_orderkey, "o_custkey"])
        assert r.upper_key_k == k
        assert r.tenfold_c == c * 10
        assert r.n_even == (k % 2 == 0) + (c % 2 == 0)
        assert r.zipped_k == 11 * k


# ---------------------------------------------------------------------------
# p43 — datetime long tail


def test_p43_matches_python_calendar(spark, sf_dir, reg):
    """Third engine: stdlib calendar/zoneinfo replay — last_day via
    calendar.monthrange, months_between's 31-day rule via Decimal
    HALF_UP (mirroring Spark's BigDecimal round-off), next_day via
    weekday modular arithmetic, the day-time interval via timedelta,
    and the DST-crossing tz conversion via IANA zoneinfo."""
    import calendar
    import datetime as dt
    from decimal import ROUND_HALF_UP, Decimal
    from zoneinfo import ZoneInfo

    import pandas as pd

    rows = reg["p43_datetime_long_tail"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"])
    pdf = pdf[pdf.o_orderkey < 40].set_index("o_orderkey")
    assert len(rows) == len(pdf)
    utc, ny = ZoneInfo("UTC"), ZoneInfo("America/New_York")
    for r in rows:
        ts = pdf.loc[r.o_orderkey, "o_orderdate"].to_pydatetime()
        d = ts.date()
        last_dom = calendar.monthrange(d.year, d.month)[1]
        assert r.month_end == d.replace(day=last_dom)
        frac = (last_dom - d.day) / 31.0
        expect_mb = float(Decimal(repr(frac)).quantize(Decimal("1e-8"), ROUND_HALF_UP))
        assert r.months_to_end == expect_mb
        delta = (4 - d.weekday()) % 7 or 7  # Friday = weekday 4; strictly after
        assert r.next_friday == d + dt.timedelta(days=delta)
        assert r.qtr == (d.month - 1) // 3 + 1
        assert r.shifted == ts + dt.timedelta(days=1, hours=2, minutes=3, seconds=4.5)
        assert r.ny_wallclock == ts.replace(tzinfo=utc).astimezone(ny).replace(tzinfo=None)
        assert r.try_parse_quarantined == 1


# ---------------------------------------------------------------------------
# p44 — range repartitioning law


def test_p44_rollup_matches_pandas_and_facts_hold(spark, sf_dir, reg):
    import pandas as pd

    r = reg["p44_range_repartition_audit"].fn(spark, sf_dir).first()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey"])
    assert r.n_rows == len(pdf)
    assert r.sum_keys == int(pdf.o_orderkey.sum())
    assert r.global_min == int(pdf.o_orderkey.min())
    assert r.global_max == int(pdf.o_orderkey.max())
    assert (
        r.ranges_non_overlapping,
        r.ranges_cover_domain,
        r.plan_has_range_partitioning,
        r.rebalance_plan_marker,
    ) == (1, 1, 1, 1)


# ---------------------------------------------------------------------------
# p45 — partition-metadata function laws


def test_p45_facts_hold_and_mid_law_reproduces(spark, sf_dir, reg):
    """Independent replay of the bit-layout law on a fresh frame: every
    collected (mid, pid) pair must satisfy mid >> 33 == pid."""
    import pandas as pd

    from pyspark.sql import functions as F

    r = reg["p45_partition_metadata_funcs"].fn(spark, sf_dir).first()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey"])
    assert r.n_rows == len(pdf) and r.sum_keys == int(pdf.o_orderkey.sum())
    assert (
        r.mid_all_unique,
        r.mid_prefix_is_partition_id,
        r.pid_within_bounds,
        r.file_name_matches_metadata,
    ) == (1, 1, 1, 1)
    pairs = (
        spark.range(0, 5000)
        .repartition(7)
        .select(
            F.monotonically_increasing_id().alias("mid"),
            F.spark_partition_id().alias("pid"),
        )
        .collect()
    )
    mids = [p.mid for p in pairs]
    assert len(set(mids)) == len(mids)
    assert all((p.mid >> 33) == p.pid for p in pairs)


# ---------------------------------------------------------------------------
# p46 — randomSplit partition law


def test_p46_splits_partition_the_keyset(spark, sf_dir, reg):
    """Independent set-algebra replay: collect each split's key set and
    check pairwise disjointness + exact union against the parquet keys."""
    import pandas as pd

    from pyspark_distributed_kmodes_spark.sources.tables import table

    r = reg["p46_random_split_law"].fn(spark, sf_dir).first()
    assert (r.splits_disjoint, r.splits_complete, r.seed_repeatable) == (1, 1, 1)
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    sets = [
        {x.o_orderkey for x in s.collect()}
        for s in o.randomSplit([0.25, 0.25, 0.5], seed=42)
    ]
    assert not (sets[0] & sets[1]) and not (sets[0] & sets[2]) and not (sets[1] & sets[2])
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey"])
    assert sets[0] | sets[1] | sets[2] == set(int(x) for x in pdf.o_orderkey)


# ---------------------------------------------------------------------------
# p47 — freqItems superset law


def test_p47_matches_pandas_value_counts(spark, sf_dir, reg):
    import pandas as pd

    rows = reg["p47_freq_items_superset_law"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderstatus"])
    vc = pdf.o_orderstatus.value_counts()
    truly = {k: int(v) for k, v in vc.items() if v > 0.15 * len(pdf)}
    assert {r.status: r.exact_count for r in rows} == truly
    assert all(r.present_in_freq_items == 1 for r in rows)


# ---------------------------------------------------------------------------
# p48 — width_bucket histogram


def test_p48_matches_python_binning(spark, sf_dir, reg):
    import math

    import pandas as pd

    rows = reg["p48_width_bucket_histogram"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_totalprice"])
    expect = {}
    for k, x in zip(pdf.o_orderkey, pdf.o_totalprice):
        b = int(math.floor(float(x) / 32768.0)) + 1 if 0 <= x < 524288.0 else (0 if x < 0 else 17)
        n, s = expect.get(b, (0, 0))
        expect[b] = (n + 1, s + int(k))
    assert {r.bucket: (r.n, r.sum_keys) for r in rows} == expect
    assert all(r.edge_law_holds == 1 for r in rows)


# ---------------------------------------------------------------------------
# p49 — regression aggregates


def test_p49_matches_python_moments(spark, sf_dir, reg):
    """Third engine: exact integer sufficient statistics re-derived in
    pure python; slope cross-checked against the closed form."""
    import pandas as pd

    rows = reg["p49_regression_aggregates"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderpriority", "o_custkey", "o_orderkey"]
    )
    for r in rows:
        g = pdf[pdf.o_orderpriority == r.grp]
        xs = [int(v) for v in g.o_custkey]
        ys = [int(v) for v in g.o_orderkey]
        assert r.n == len(xs)
        assert int(r.sx) == sum(xs) and int(r.sy) == sum(ys)
        assert int(r.sxy) == sum(a * b for a, b in zip(xs, ys))
        assert int(r.sxx) == sum(a * a for a in xs)
        assert int(r.syy) == sum(b * b for b in ys)
        assert (
            r.slope_agrees,
            r.intercept_agrees,
            r.r2_agrees,
            r.covar_pop_agrees,
            r.covar_samp_agrees,
            r.regr_count_exact,
        ) == (1, 1, 1, 1, 1, 1)


# ---------------------------------------------------------------------------
# p50 — binary encodings


def test_p50_matches_python_codecs(spark, sf_dir, reg):
    """Third engine: stdlib bin()/hex()/base64/hashlib replay of every
    encoded column from the same constructed fragment."""
    import base64 as b64
    import hashlib

    import pandas as pd

    rows = reg["p50_binary_encoding_funcs"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderstatus", "o_orderpriority"],
    )
    pdf = pdf[pdf.o_orderkey < 40].set_index("o_orderkey")
    assert len(rows) == len(pdf)
    for r in rows:
        k = int(r.o_orderkey)
        frag = f"{pdf.loc[k, 'o_orderstatus']}-{pdf.loc[k, 'o_orderpriority']}-{k}"[:12]
        assert r.bits_set == bin(k).count("1")
        assert r.bit0 == k % 2
        assert r.shifted3 == k * 8
        assert r.key_hex == format(k, "X")
        assert r.frag_b64 == b64.b64encode(frag.encode()).decode()
        assert r.frag_sha == hashlib.sha256(frag.encode()).hexdigest()
        assert (r.hex_roundtrips, r.b64_roundtrips, r.crc32_known_vector) == (1, 1, 1)


# ---------------------------------------------------------------------------
# p51 — try_* quarantine


def test_p51_matches_pandas_groupby(spark, sf_dir, reg):
    import pandas as pd

    rows = reg["p51_try_arithmetic_quarantine"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderpriority", "o_orderkey", "o_custkey"]
    )
    for r in rows:
        g = pdf[pdf.o_orderpriority == r.grp]
        ks = [int(v) for v in g.o_orderkey]
        cs = [int(v) for v in g.o_custkey]
        assert r.try_sum_keys == sum(ks)
        assert r.try_avg_keys == float(sum(ks)) / len(ks)
        assert r.sum_try_subtract == sum(k - 10 for k in ks)
        assert r.sum_try_mod == sum(k % 7 for k in ks)
        assert r.sum_try_element == sum(c if k % 2 == 0 else k for k, c in zip(ks, cs))
        assert (
            r.overflow_quarantined,
            r.div_zero_quarantined,
            r.bad_index_quarantined,
            r.bad_date_quarantined,
        ) == (1, 1, 1, 1)


# ---------------------------------------------------------------------------
# p52 — string long tail


def test_p52_matches_python_string_ops(spark, sf_dir, reg):
    import pandas as pd

    rows = reg["p52_string_long_tail"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    )
    pdf = pdf[pdf.c_custkey < 40].set_index("c_custkey")
    segs = "AUTOMOBILE,BUILDING,FURNITURE,MACHINERY,HOUSEHOLD".split(",")
    assert len(rows) == len(pdf)
    for r in rows:
        k = int(r.c_custkey)
        name = pdf.loc[k, "c_name"]
        seg = pdf.loc[k, "c_mktsegment"]
        phone = f"{k % 90 + 10}-{int(pdf.loc[k, 'c_nationkey'])}-{k * 7 % 10000}"
        assert r.name_num == name.split("#")[1]
        assert r.phone_prefix == "-".join(phone.split("-")[:2])
        assert r.title_cased == " ".join(
            w[:1].upper() + w[1:].lower() for w in f"{seg.lower()} {name.lower()}".split(" ")
        )
        assert r.phone_dotted == phone.replace("-", ".")
        assert r.name_overlaid == name[:9] + "XX" + name[11:]
        assert r.elt_pick == (seg if k % 2 == 0 else phone)
        assert r.segment_slot == segs.index(seg) + 1
        assert r.formatted == f"{seg}|{k:07d}"
        assert r.first_dash == phone.index("-") + 1
        assert r.phone_octets == len(phone)
        assert r.phone_bits == len(phone) * 8


# ---------------------------------------------------------------------------
# p53 — URL + mask


def test_p53_matches_python_urllib(spark, sf_dir, reg):
    """Third engine: urllib.parse re-derives host/path/query and the
    form-encoding; mask replayed with str.translate-style logic."""
    import urllib.parse

    import pandas as pd

    rows = reg["p53_url_and_mask_funcs"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    )
    pdf = pdf[pdf.c_custkey < 40].set_index("c_custkey")
    assert len(rows) == len(pdf)

    def mask(s, up="X", lo="x", dig="n"):
        out = []
        for ch in s:
            if ch.isupper():
                out.append(up)
            elif ch.islower():
                out.append(lo)
            elif ch.isdigit():
                out.append(dig)
            else:
                out.append(ch)
        return "".join(out)

    for r in rows:
        k = int(r.c_custkey)
        name, seg = pdf.loc[k, "c_name"], pdf.loc[k, "c_mktsegment"]
        payload = f"{seg} {name}"
        url = f"https://h{int(pdf.loc[k, 'c_nationkey'])}.example.com/p/{k}?q=" + urllib.parse.quote_plus(payload)
        parsed = urllib.parse.urlparse(url)
        assert r.proto == parsed.scheme
        assert r.host == parsed.netloc
        assert r.path == parsed.path
        assert r.query_raw == urllib.parse.quote_plus(payload)
        assert r.query_decoded == payload
        assert r.name_masked == mask(name)
        # custom mask keeps lowercase (NULL replacement char): replay explicitly
        assert r.name_masked_custom == "".join(
            "U" if c.isupper() else ("9" if c.isdigit() else c) for c in name
        )
        assert r.encode_decode_roundtrips == 1


# ---------------------------------------------------------------------------
# p54 — xpath + json extraction


def test_p54_matches_python_parsers(spark, sf_dir, reg):
    """Third engine: xml.etree + json stdlib parse the SAME constructed
    documents and must reproduce every extracted value."""
    import json as jsonlib
    import xml.etree.ElementTree as ET

    import pandas as pd

    rows = reg["p54_document_extraction_funcs"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderstatus"])
    pdf = pdf[pdf.o_orderkey < 40].set_index("o_orderkey")
    assert len(rows) == len(pdf)
    for r in rows:
        k = int(r.o_orderkey)
        status = pdf.loc[k, "o_orderstatus"]
        n = k % 3 + 1
        xml = f"<o><k>{k}</k><s>{status}</s>" + "<t>x</t>" * n + "</o>"
        root = ET.fromstring(xml)
        assert r.xml_key == int(root.find("k").text)
        assert r.xml_status == root.find("s").text
        assert (r.xml_node_exists, r.xml_ghost_exists) == (1, 0)
        assert r.xml_tag_count == len(root.findall("t")) == n
        doc = jsonlib.loads(f'{{"a":"{status}","n":{k}}}')
        assert r.json_a == doc["a"]
        assert r.json_n == doc["n"]
        assert r.json_key_list == ",".join(doc.keys())
        assert r.json_arr_len == len(jsonlib.loads("[" + ",".join(map(str, range(1, n + 1))) + "]"))


# ---------------------------------------------------------------------------
# p55 — datetime conversions


def test_p55_matches_python_datetime(spark, sf_dir, reg):
    """Third engine: stdlib datetime/calendar replay of the epoch
    family, unix-date arithmetic, truncation, and name abbreviations."""
    import datetime as dt

    import pandas as pd

    rows = reg["p55_datetime_conversion_funcs"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"])
    pdf = pdf[pdf.o_orderkey < 40].set_index("o_orderkey")
    epoch = dt.datetime(1970, 1, 1)
    assert len(rows) == len(pdf)
    for r in rows:
        k = int(r.o_orderkey)
        ts = pdf.loc[k, "o_orderdate"].to_pydatetime()
        d = ts.date()
        secs = int((ts - epoch).total_seconds())
        assert r.unix_secs == secs
        assert r.from_unix_str == ts.strftime("%Y-%m-%d %H:%M:%S")
        assert r.seconds_roundtrip == ts
        assert r.millis_plus_quarter == ts + dt.timedelta(milliseconds=250)
        assert r.days_since_epoch == (d - epoch.date()).days
        assert r.unix_date_roundtrip == d
        assert r.year_anchor == dt.date(d.year, 12, 28)
        assert r.month_start == d.replace(day=1)
        assert r.day_abbrev == d.strftime("%a")
        assert r.month_abbrev == d.strftime("%b")
        assert r.iso_week == d.isocalendar()[1]
        assert r.day_of_year == d.timetuple().tm_yday
        assert r.hours_added == ts + dt.timedelta(hours=k % 48)
        assert r.days_to_anchor == (dt.date(1998, 6, 1) - d).days


# ---------------------------------------------------------------------------
# p56 — boolean / bitwise / product aggregates


def test_p56_matches_python_reduction(spark, sf_dir, reg):
    import functools

    import pandas as pd

    rows = reg["p56_boolean_bitwise_aggregates"].fn(spark, sf_dir).collect()
    pdf = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderpriority"])
    pdf = pdf[pdf.o_orderkey < 200]
    for r in rows:
        ks = [int(v) for v in pdf[pdf.o_orderpriority == r.grp].o_orderkey]
        assert r.n == len(ks)
        assert r.all_even == int(all(k % 2 == 0 for k in ks)) == r.every_even
        assert r.any_even == int(any(k % 2 == 0 for k in ks)) == r.some_even
        assert r.n_even == sum(k % 2 == 0 for k in ks)
        assert r.keys_and == functools.reduce(lambda a, b: a & b, ks)
        assert r.keys_or == functools.reduce(lambda a, b: a | b, ks)
        assert r.keys_xor == functools.reduce(lambda a, b: a ^ b, ks)
        assert r.pow2_product == float(2 ** sum(k % 3 for k in ks))
