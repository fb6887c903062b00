"""Independent re-derivations for the round-10 staged r-suite (new
engine surface, operators/analytics12.py): a Python replay of the SQL
scripting fold, a Python json re-extraction for the Variant key, and
an XML round-trip identity pin that includes escaping-hostile strings.

The r-prefix sorts after every q* key, so these stay OUT of the
round-10 driver window (pinned in test_entry.py) and rename into
o-space for round 11 per the documented plan."""

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.registry import load_all


@pytest.fixture(scope="module")
def reg():
    return load_all()


def test_o01_matches_python_fold(spark, sf_dir, reg, duck):
    """Replay the scripting FOR/IF fold in plain Python over the same
    grouped counts — iteration order, variable updates, and the
    integer above-average branch must all agree."""
    row = reg["qo01_sql_scripting_controlflow"].fn(spark, sf_dir).collect()[0]
    counts = duck.execute(
        "SELECT o_orderpriority, COUNT(*) FROM orders GROUP BY 1 ORDER BY 1"
    ).fetchall()
    ngrp, tot = len(counts), sum(c for _, c in counts)
    wsum = sum(rnk * c for rnk, (_, c) in enumerate(counts, start=1))
    n_hi = sum(1 for _, c in counts if c * ngrp > tot)
    assert (row.n_groups, row.rank_weighted_count, row.n_above_avg, row.n_orders) == (
        ngrp,
        wsum,
        n_hi,
        tot,
    )


def test_o01_scripting_while_loop(spark):
    """Breadth pin for the scripting executor beyond FOR/IF: WHILE with
    a data-independent closed form (sum of squares below 10)."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    r = spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 0;
          DECLARE acc BIGINT DEFAULT 0;
          WHILE i < 10 DO
            SET acc = acc + i * i;
            SET i = i + 1;
          END WHILE;
          SELECT acc AS v;
        END
        """
    ).collect()
    assert r[0].v == sum(i * i for i in range(10))


def test_o02_matches_python_json(spark, sf_dir, reg, duck):
    rows = reg["qo02_variant_json_extraction"].fn(spark, sf_dir).collect()
    import json

    per = defaultdict(lambda: [0, 0, 0])
    for et, props in duck.execute("SELECT event_type, props FROM events").fetchall():
        k = json.loads(props)["k"]
        per[et][0] += 1
        per[et][1] += k
        per[et][2] += 1 if 25 <= k <= 75 else 0
    assert {r.event_type: (r.n_events, r.sum_k, r.n_mid_k) for r in rows} == {
        et: tuple(v) for et, v in per.items()
    }


def test_o02_variant_typed_null_path(spark):
    """try_variant_get on a missing path must be NULL, and variant_get
    with an explicit type must return that type — the two behaviors the
    oracle twin cannot distinguish from string extraction."""
    r = spark.sql(
        """
        SELECT try_variant_get(parse_json('{"k": 5}'), '$.missing', 'bigint') AS miss,
               variant_get(parse_json('{"k": 5}'), '$.k', 'bigint') AS k
        """
    ).collect()[0]
    assert r.miss is None and r.k == 5
    schema = spark.sql(
        "SELECT variant_get(parse_json('{\"k\": 5}'), '$.k', 'bigint') AS k"
    ).schema
    assert schema["k"].dataType.simpleString() == "bigint"


def test_o03_matches_raw_aggregate(spark, sf_dir, reg, duck):
    rows = reg["qo03_xml_expression_roundtrip"].fn(spark, sf_dir).collect()
    expect = {
        et: (n, su, se)
        for et, n, su, se in duck.execute(
            "SELECT event_type, COUNT(*), SUM(user_id), SUM(event_id) "
            "FROM events GROUP BY 1"
        ).fetchall()
    }
    assert {r.event_type: (r.n_events, r.sum_user, r.sum_event_id) for r in rows} == expect


def test_o03_xml_roundtrip_escaping(spark):
    """The round-trip must survive XML-hostile strings (angle brackets,
    ampersands, quotes) — the failure mode the aggregate twin would
    only catch if the testdata happened to contain them."""
    hostile = ["a<b&c", 'q"u\'o', "tag</t>", "plain", "x&amp;y"]
    df = spark.createDataFrame([(s, i) for i, s in enumerate(hostile)], "s string, i long")
    out = df.selectExpr(
        "from_xml(to_xml(named_struct('s', s, 'i', i)), 's STRING, i BIGINT') AS x"
    ).select("x.s", "x.i")
    assert sorted((r.s, r.i) for r in out.collect()) == sorted(
        (s, i) for i, s in enumerate(hostile)
    )


def test_o04_sketch_exact_on_bounded_domain(spark, sf_dir, reg, duck):
    """err must be identically 0 (no evictions on a 5-value domain) and
    counts must match a python Counter."""
    rows = reg["qo04_approx_top_k_audit"].fn(spark, sf_dir).collect()
    exact = dict(
        duck.execute(
            "SELECT o_orderpriority, COUNT(*) FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert len(rows) == len(exact)
    for r in rows:
        assert r.err == 0
        assert r.sketch_n == r.exact_n == exact[r.o_orderpriority]


def test_o05_matches_python_urlparse(spark, sf_dir, reg, duck):
    from urllib.parse import urlsplit

    rows = {r.host: (r.n_docs, r.n_lang_roundtrip) for r in
            reg["qo05_url_parsing"].fn(spark, sf_dir).collect()}
    per = defaultdict(lambda: [0, 0])
    for doc_id, src, lang in duck.execute(
        "SELECT doc_id, source, lang FROM documents"
    ).fetchall():
        if doc_id % 13 == 0:
            per["(invalid)"][0] += 1
        else:
            url = f"https://{src}.example.org/d/{doc_id}?lang={lang}&v=1"
            host = urlsplit(url).hostname
            per[host][0] += 1
            per[host][1] += 1  # lang param round-trips by construction
    assert rows == {h: tuple(v) for h, v in per.items()}


def test_o06_identifier_plan_equals_static(spark, sf_dir, reg):
    """IDENTIFIER() must resolve at analysis time: the physical plan is
    the same as the static-name query (no extra nodes), and the result
    matches the inlined lateral-alias expansion."""
    df = reg["qo06_identifier_lateral_alias"].fn(spark, sf_dir)
    static = spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS gross,
               CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS disc_amt,
               (CAST(floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
                    - CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE))
                    * 100.0 + 0.5) AS DOUBLE) / 100.0) AS net
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in static.collect()]

    # Isolate IDENTIFIER: the SAME query text with a static table name
    # (lateral aliases kept) must produce a node-for-node identical
    # OPTIMIZED plan (expr-ids stripped) — IDENTIFIER resolves during
    # analysis and leaves no trace. (The inlined `static` form above
    # checks VALUES only: the lateral-alias sugar legitimately plans an
    # extra Project over the Aggregate.)
    from pyspark_distributed_kmodes_spark.operators.analytics12 import _O06_SQL
    from pyspark_distributed_kmodes_spark.functions.deterministic import sql_pround

    static_name = spark.sql(
        _O06_SQL.format(net=sql_pround("gross - disc_amt", 2)).replace(
            "IDENTIFIER(o06_tbl)", "lineitem"
        )
    )

    def shape(frame):
        import re

        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        return [
            re.sub(r"[#(].*", "", ln.strip().lstrip("+- :"))
            for ln in plan.splitlines()
            if ln.strip()
        ]

    assert shape(df) == shape(static_name)


def test_o07_matches_python_utf8(spark, sf_dir, reg, duck):
    rows = {r.source: (r.n_docs, r.n_invalid, r.valid_chars) for r in
            reg["qo07_utf8_validation"].fn(spark, sf_dir).collect()}
    per = defaultdict(lambda: [0, 0, 0])
    for doc_id, src, text in duck.execute(
        "SELECT doc_id, source, text FROM documents"
    ).fetchall():
        per[src][0] += 1
        if doc_id % 97 == 0:
            # a lone 0x80 continuation byte can never complete a valid
            # UTF-8 sequence, so the whole blob is invalid
            assert_invalid = (text.encode("utf-8") + b"\x80")
            try:
                assert_invalid.decode("utf-8")
                raise AssertionError("planted corruption decoded unexpectedly")
            except UnicodeDecodeError:
                pass
            per[src][1] += 1
        else:
            per[src][2] += len(text)
    assert rows == {s: tuple(v) for s, v in per.items()}


def test_o08_matches_python_distinct(spark, sf_dir, reg, duck):
    """Bitmap counts must equal python set cardinalities, per priority
    and globally (the OR-merge path)."""
    rows = reg["qo08_bitmap_distinct_rollup"].fn(spark, sf_dir).collect()
    per = defaultdict(set)
    for pr, ck in duck.execute(
        "SELECT o_orderpriority, o_custkey FROM orders"
    ).fetchall():
        per[pr].add(ck)
    all_keys = set().union(*per.values())
    assert len(rows) == len(per)
    for r in rows:
        assert r.n_distinct_cust == len(per[r.o_orderpriority])
        assert r.n_distinct_all == len(all_keys)


def test_o08_bitmap_position_bijective(spark):
    """(bucket, position) must be a bijection over a dense key range —
    the invariant that makes bitmap_count an EXACT distinct count."""
    n = spark.sql(
        """
        SELECT COUNT(DISTINCT named_struct(
                 'b', bitmap_bucket_number(k), 'p', bitmap_bit_position(k))) AS n
        FROM (SELECT explode(sequence(1, 100000)) AS k)
        """
    ).collect()[0].n
    assert n == 100000


def test_o09_param_binding_equals_inlined(spark, sf_dir, reg):
    """The parameterized query must return exactly the inlined-literal
    rows, the probe column must be identically zero (the hostile bind
    stayed ONE literal), and the optimized plan must equal the static
    query's plan (parameters fold at analysis time)."""
    df = reg["qo09_parameterized_sql"].fn(spark, sf_dir)
    rows = df.collect()
    assert rows and all(r.n_probe_hits == 0 for r in rows)

    from pyspark_distributed_kmodes_spark.functions.deterministic import sql_pround
    from pyspark_distributed_kmodes_spark.operators.analytics12 import _O09_SQL, _O09_PROBE

    inlined_text = (
        _O09_SQL.format(
            rev=sql_pround("CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)", 2)
        )
        .replace(":status", "'F'")
        .replace(":minp", "1000.0")
        .replace(":probe", "'" + _O09_PROBE.replace("'", "''") + "'")
    )
    static = spark.sql(inlined_text)
    assert [tuple(r) for r in rows] == [tuple(r) for r in static.collect()]

    import re

    def shape(frame):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        return [
            re.sub(r"[#(].*", "", ln.strip().lstrip("+- :"))
            for ln in plan.splitlines()
            if ln.strip()
        ]

    assert shape(df) == shape(static)


def test_o09_positional_markers(spark):
    """Breadth pin: positional ? markers bind too (the other half of
    the parameterized-SQL API)."""
    r = spark.sql("SELECT ? * 10 + ? AS v", args=[4, 2]).collect()
    assert r[0].v == 42


def test_o10_metadata_matches_files_on_disk(spark, sf_dir, reg, duck):
    """Independent re-derivation straight from _metadata: each priority
    maps to exactly one file whose row_index spans 0..count-1, and
    counts equal the source group counts."""
    rows = {r.o_orderpriority: r for r in
            reg["qo10_file_metadata_provenance"].fn(spark, sf_dir).collect()}
    exact = dict(duck.execute(
        "SELECT o_orderpriority, COUNT(*) FROM orders GROUP BY 1").fetchall())
    assert set(rows) == set(exact)
    for pr, r in rows.items():
        assert (r.n_files, r.n_rows) == (1, exact[pr])
        assert r.ri_zero_based == r.ri_contiguous == r.has_size == 1


def test_o11_matches_python_chunker(spark, sf_dir, reg, duck):
    """Full python replay of the chunker at sf0.001: window placement,
    the integer chunk-count arithmetic, tail clamping, and the md5
    fingerprint text must all agree."""
    import hashlib

    W, S = 32, 24
    per = defaultdict(lambda: [0, 0, 0, set()])
    for src, text in duck.execute("SELECT source, text FROM documents").fetchall():
        tk = [t for t in text.split(" ") if t != ""]
        n = len(tk)
        n_chunks = 1 if n <= W else 1 + (n - W + S - 1) // S
        for k in range(n_chunks):
            ck = tk[k * S : k * S + W]
            st = per[src]
            st[0] += 1
            st[1] += len(ck)
            st[2] += 1 if len(ck) == W else 0
            st[3].add(hashlib.md5(" ".join(ck).encode()).hexdigest())
    rows = {r.source: r for r in reg["qo11_passage_chunking"].fn(spark, sf_dir).collect()}
    assert set(rows) == set(per)
    for src, (nc, stok, nfull, hs) in per.items():
        r = rows[src]
        assert (r.n_chunks, r.sum_chunk_tokens, r.n_full, r.n_unique_chunks) == (
            nc, stok, nfull, len(hs),
        )


def test_o11_neighbor_overlap_property(spark, sf_dir):
    """Semantic invariant the aggregate can't see: consecutive full
    chunks of one document must overlap in exactly W-S tokens."""
    from pyspark_distributed_kmodes_spark.sources.tables import table as _table

    W, S = 32, 24
    row = (
        _table(spark, sf_dir, "documents")
        .selectExpr("doc_id", "filter(split(text, ' '), x -> x <> '') AS tk")
        .where(F.size("tk") >= W + S)
        .orderBy("doc_id")
        .limit(1)
        .collect()
    )
    assert row, "need one doc with at least W+S tokens"
    tk = row[0].tk
    c0, c1 = tk[0:W], tk[S : S + W]
    assert c0[S:] == c1[: W - S] and len(c0[S:]) == W - S


def test_o12_matches_python_dedup(spark, sf_dir, reg, duck):
    """Every planted duplicate (event_id % 37 == 0, +30 s copy) must be
    dropped and every original kept — re-derived from the raw table in
    python, not from the oracle SQL."""
    rows = {r.event_type: r for r in
            reg["qo12_stream_dedup_within_watermark"].fn(spark, sf_dir).collect()}
    per = defaultdict(lambda: [0, 0, 0, set()])
    for et, eid, uid in duck.execute(
        "SELECT event_type, event_id, user_id FROM events"
    ).fetchall():
        st = per[et]
        st[0] += 1 + (1 if eid % 37 == 0 else 0)  # n_input includes the copy
        st[1] += 1                                 # survivors = originals
        st[2] += eid
        st[3].add(uid)
    assert set(rows) == set(per)
    for et, (n_in, n_ded, s_eid, users) in per.items():
        r = rows[et]
        assert (r.n_input, r.n_dedup, r.n_dropped, r.sum_event_id, r.n_users) == (
            n_in, n_ded, n_in - n_ded, s_eid, len(users),
        )


def test_o13_matches_python_explode(spark, sf_dir, reg, duck):
    """Re-derive the exploded (type, pos) sums from the raw columns:
    pos 0 carries user_id, pos 1 carries event_id % 100."""
    rows = {(r.event_type, r.pos): (r.n, r.sum_val) for r in
            reg["qo13_variant_explode_lateral"].fn(spark, sf_dir).collect()}
    per = defaultdict(lambda: [0, 0])
    for et, uid, eid in duck.execute(
        "SELECT event_type, user_id, event_id FROM events"
    ).fetchall():
        per[(et, 0)][0] += 1
        per[(et, 0)][1] += uid
        per[(et, 1)][0] += 1
        per[(et, 1)][1] += eid % 100
    assert rows == {k: tuple(v) for k, v in per.items()}


def test_o13_object_mode_yields_keys(spark):
    """Breadth pin: variant_explode over an OBJECT emits key names (the
    mode the array-based query doesn't exercise)."""
    rows = spark.sql(
        """
        SELECT v.key, CAST(v.value AS BIGINT) AS val
        FROM LATERAL variant_explode(parse_json('{"a": 1, "b": 2}')) v
        ORDER BY v.key
        """
    ).collect()
    assert [(r.key, r.val) for r in rows] == [("a", 1), ("b", 2)]


def _py_luhn_valid(acct: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(acct)):
        d = int(ch)
        if i % 2 == 1:  # every second digit from the right is doubled
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def test_o14_generator_matches_textbook_luhn(spark):
    """The in-SQL check-digit fold must produce accounts the textbook
    python Luhn validates, and the +5 middle-digit corruption must
    always invalidate them."""
    rows = spark.sql(
        """
        WITH base AS (
          SELECT k AS c_custkey,
                 lpad(CAST(k * 7919 % 1000000000 AS STRING), 9, '0') AS b
          FROM (SELECT explode(sequence(1, 500)) AS k)
        ), summed AS (
          SELECT c_custkey, b,
                 aggregate(
                   transform(sequence(1, 9),
                             i -> CASE WHEN (11 - i) % 2 = 0
                                       THEN IF(CAST(substring(b, i, 1) AS INT) * 2 > 9,
                                               CAST(substring(b, i, 1) AS INT) * 2 - 9,
                                               CAST(substring(b, i, 1) AS INT) * 2)
                                       ELSE CAST(substring(b, i, 1) AS INT) END),
                   0, (acc, x) -> acc + x) AS s
          FROM base
        )
        SELECT c_custkey, concat(b, CAST((10 - s % 10) % 10 AS STRING)) AS good
        FROM summed
        """
    ).collect()
    assert len(rows) == 500
    for r in rows:
        assert _py_luhn_valid(r.good), r.good
        corrupted = r.good[:4] + str((int(r.good[4]) + 5) % 10) + r.good[5:]
        assert not _py_luhn_valid(corrupted), corrupted


def test_o14_matches_python_plant(spark, sf_dir, reg, duck):
    """Per-nation invalid counts must equal the plant rule re-derived
    in python."""
    rows = {r.nationkey: (r.n_accounts, r.n_invalid, r.n_valid) for r in
            reg["qo14_luhn_checksum_quarantine"].fn(spark, sf_dir).collect()}
    per = defaultdict(lambda: [0, 0, 0])
    for ck, nk in duck.execute("SELECT c_custkey, c_nationkey FROM customer").fetchall():
        st = per[nk]
        st[0] += 1
        st[1 if ck % 23 == 0 else 2] += 1
    assert rows == {nk: tuple(v) for nk, v in per.items()}


def _phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_r_new_keys_stay_jvm_side(spark, sf_dir, reg):
    """Plan pins: the new r-keys are pure JVM plans — no Python eval
    nodes anywhere, scan counts bounded (one pass over the source),
    and the explode-based keys use the Generate operator."""
    r08 = _phys(reg["qo08_bitmap_distinct_rollup"].fn(spark, sf_dir))
    assert "EvalPython" not in r08
    assert r08.count("Scan parquet") <= 2  # CTE may replay the orders scan once

    r11 = _phys(reg["qo11_passage_chunking"].fn(spark, sf_dir))
    assert "EvalPython" not in r11
    assert r11.count("Scan parquet") == 1
    assert "Generate" in r11  # the sequence/explode fan-out

    r13 = _phys(reg["qo13_variant_explode_lateral"].fn(spark, sf_dir))
    assert "EvalPython" not in r13
    assert r13.count("Scan parquet") == 1
    assert "Generate" in r13  # variant_explode is a generator

    r14 = _phys(reg["qo14_luhn_checksum_quarantine"].fn(spark, sf_dir))
    assert "EvalPython" not in r14
    assert r14.count("Scan parquet") == 1


def test_o15_matches_python_replay(spark, sf_dir, reg, duck):
    """Full python replay of the audited outer join: the day-tercile
    cut, the watermark boundary, the matched pair set, and the
    null-click set re-derived from the raw table."""
    row = reg["qo15_stream_outer_join"].fn(spark, sf_dir).collect()[0]
    import datetime

    ev = duck.execute("SELECT event_id, user_id, ts, event_type FROM events").fetchall()
    n = len(ev)
    days = defaultdict(int)
    for _, _, ts, _ in ev:
        days[ts.date()] += 1
    cum, cut2 = 0, None
    for d in sorted(days):
        cum += days[d]
        if cum >= -(-(n * 2) // 3):
            cut2 = d
            break
    boundary = min(  # global wm = min of the two sides' own maxima
        max(ts for _, _, ts, t in ev if ts.date() < cut2 and t == "click"),
        max(ts for _, _, ts, t in ev if ts.date() < cut2 and t == "purchase"),
    )
    audit_end = boundary - datetime.timedelta(hours=5)  # delay 4h + margin 1h
    clicks = [(i, u, ts) for i, u, ts, t in ev if t == "click"
              and ts + datetime.timedelta(hours=2) <= audit_end]
    purchases = [(i, u, ts) for i, u, ts, t in ev if t == "purchase"]
    pairs = [(c, p) for c, cu, cts in clicks for p, pu, pts in purchases
             if pu == cu and cts <= pts <= cts + datetime.timedelta(hours=2)]
    matched_clicks = {c for c, _ in pairs}
    nulls = [c for c, _, _ in clicks if c not in matched_clicks]
    assert row.n_matched_pairs == len(pairs)
    assert row.n_matched_clicks == len(matched_clicks)
    assert row.n_null_clicks == len(nulls)
    assert row.sum_pair_ids == sum(c + p for c, p in pairs)
    assert row.sum_null_click_ids == sum(nulls)


def test_o15_outer_null_emission_unit(spark, tmp_path):
    """Pin the core guarantee r15 relies on: a micro-batch evicts (and
    null-emits) unmatched left rows using the watermark established by
    the PREVIOUS batch — so the eviction needs a batch after the one
    that advanced the watermark, which is exactly why r15's audit
    boundary uses the max of chunks 1-2, not the global max."""
    import os

    schema = "event_id long, user_id long, ts string, event_type string"
    t0 = "2024-01-01 00:00:00"
    late1 = "2024-01-02 00:00:00"  # 24 h later >> 4 h delay + 2 h window
    late2 = "2024-01-03 00:00:00"  # batch 3 evicts with the post-batch-2 wm
    # the click side's watermark only advances with CLICK timestamps
    # (global wm = min over both sides), so late clicks ride along
    chunks = [
        [(1, 10, t0, "click"), (2, 99, t0, "purchase")],
        [(3, 99, late1, "purchase"), (5, 55, late1, "click")],
        [(4, 99, late2, "purchase"), (6, 55, late2, "click")],
    ]
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    import glob
    import shutil

    frames = []
    for i, rows_i in enumerate(chunks):
        df = spark.createDataFrame(rows_i, schema).selectExpr(
            "event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "event_type"
        )
        frames.append(df)
        df.coalesce(1).write.parquet(f"{stage}/c{i}")
        shutil.copy(glob.glob(f"{stage}/c{i}/part-*.parquet")[0], f"{stage}/f{i}.parquet")
        shutil.rmtree(f"{stage}/c{i}")
    chunk1 = frames[0]
    from pyspark_distributed_kmodes_spark.streaming.jobs import _order_stage_files

    _order_stage_files(stage)
    src = spark.readStream.schema(chunk1.schema).option("maxFilesPerTrigger", 1).parquet(stage)
    from pyspark.sql import functions as SF

    clicks = (src.where("event_type = 'click'")
              .selectExpr("event_id c_id", "user_id c_user", "ts c_ts")
              .withWatermark("c_ts", "4 hours"))
    purch = (src.where("event_type = 'purchase'")
             .selectExpr("event_id p_id", "user_id p_user", "ts p_ts")
             .withWatermark("p_ts", "4 hours"))
    j = clicks.join(
        purch,
        (SF.col("p_user") == SF.col("c_user"))
        & (SF.col("p_ts") >= SF.col("c_ts"))
        & (SF.col("p_ts") <= SF.col("c_ts") + SF.expr("INTERVAL 2 HOURS")),
        "leftOuter",
    )
    sink = str(tmp_path / "sink")
    q = (j.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(timeout=120)
    out = spark.read.parquet(sink).collect()
    # clicks 1 and 5 have windows closed under the final watermark
    # (min of both sides' maxima - 4 h) and emit null-padded; click 6's
    # window is still open, so it legally dies in state — exactly the
    # tail behavior r15's audit boundary excludes
    assert sorted(r.c_id for r in out) == [1, 5]
    assert all(r.p_id is None for r in out)


def test_o16_matches_python_batch_evolution(spark, sf_dir, reg, duck):
    """Replay the change feed in python: per batch, cumulative
    count/sum per type over the day-tercile chunks, with a row emitted
    only when the type has at least one event IN that batch."""
    from collections import Counter

    rows = {(r.batch_id, r.event_type): (r.change_type, r.n_events, r.sum_event_id)
            for r in reg["qo16_statestore_changefeed"].fn(spark, sf_dir).collect()}
    ev = duck.execute("SELECT event_type, event_id, ts FROM events").fetchall()
    n = len(ev)
    days = Counter(ts.date() for _, _, ts in ev)
    cuts = []
    for k in (1, 2):
        cum = 0
        for d in sorted(days):
            cum += days[d]
            if cum >= (k * n + 2) // 3:
                cuts.append(d)
                break
    def chunk(ts):
        if ts.date() < cuts[0]:
            return 0
        return 1 if ts.date() < cuts[1] else 2
    exp = {}
    for b in range(3):
        per = defaultdict(lambda: [0, 0, 0])
        for et, eid, ts in ev:
            c = chunk(ts)
            if c <= b:
                st = per[et]
                st[0] += 1
                st[1] += eid
                st[2] += 1 if c == b else 0
        for et, (cnt, sm, in_batch) in per.items():
            if in_batch > 0:
                exp[(b, et)] = ("update", cnt, sm)
    assert rows == exp


# ---------------------------------------------------------------------------
# r17 — dynamic-gap session windows


def _py_dynamic_sessions(events_us):
    """Textbook dynamic-gap sessionization over (ts_us, end_us) pairs of
    one user, sorted by ts: an event MERGES into the open session iff
    ts <= running max end (boundary INCLUSIVE — the empirically probed
    Spark semantics), and the session end is the running MAX of member
    ends (an early long-gap event can outlast later short-gap ones)."""
    evs = sorted(events_us)
    sessions = []
    n = start = mx = None
    for ts, en in evs:
        if n is not None and ts <= mx:
            n += 1
            mx = max(mx, en)
        else:
            if n is not None:
                sessions.append((n, mx - start))
            n, start, mx = 1, ts, en
    sessions.append((n, mx - start))
    return sessions


def test_o17_matches_python_sessionization(spark, sf_dir, reg):
    """Full python replay of the per-event-gap sessionization over the
    real events table, down to the exact-microsecond durations and the
    final per-session-count histogram."""
    from pyspark_distributed_kmodes_spark.sources.tables import table

    gaps = {"purchase": 60, "view": 15}
    raw = (
        table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("us"), "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in raw:
        end = r.us + gaps.get(r.event_type, 30) * 60_000_000
        by_user[r.user_id].append((r.us, end))
    hist = defaultdict(lambda: [0, 0, 0])
    for evs in by_user.values():
        ss = _py_dynamic_sessions(evs)
        h = hist[len(ss)]
        h[0] += 1
        h[1] += sum(n for n, _ in ss)
        h[2] += sum(d for _, d in ss)
    got = {
        r.n_sessions: (r.n_users, r.n_events, r.total_duration_us)
        for r in reg["qo17_dynamic_gap_sessions"].fn(spark, sf_dir).collect()
    }
    assert got == {k: tuple(v) for k, v in hist.items()}


def test_o17_boundary_inclusive_and_max_end_pins(spark):
    """The two merge subtleties the oracle depends on, pinned exactly as
    probed: (a) an event at EXACTLY the previous session end merges
    (end-boundary inclusive -> oracle's new-session rule is strict >);
    (b) the merged session end is the MAX over member ends, so a
    60-minute purchase window absorbs later short-gap events."""
    import datetime as dt

    rows = [
        # user 1: view end = 0:15; event at exactly 0:15 MUST merge
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), "view"),
        (1, dt.datetime(2024, 1, 1, 0, 15, 0), "other"),
        # user 2: purchase end = 1:00 absorbs 0:30/0:50 views; final
        # end = max of ends = 0:50 + 15 min = 1:05
        (2, dt.datetime(2024, 1, 1, 0, 0, 0), "purchase"),
        (2, dt.datetime(2024, 1, 1, 0, 30, 0), "view"),
        (2, dt.datetime(2024, 1, 1, 0, 50, 0), "view"),
        # user 3 discriminates MAX-of-ends from last-event-end: the
        # early purchase window (end 1:00) outlasts the final view
        # (end 0:45) with no later events — session end must be 1:00
        (3, dt.datetime(2024, 1, 1, 0, 0, 0), "purchase"),
        (3, dt.datetime(2024, 1, 1, 0, 30, 0), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    gap = (
        F.when(F.col("event_type") == "purchase", "INTERVAL 60 MINUTES")
        .when(F.col("event_type") == "view", "INTERVAL 15 MINUTES")
        .otherwise("INTERVAL 30 MINUTES")
    )
    got = {
        (r.user_id, r["n"]): (str(r.w.start), str(r.w.end))
        for r in df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {
        (1, 2): ("2024-01-01 00:00:00", "2024-01-01 00:45:00"),
        (2, 3): ("2024-01-01 00:00:00", "2024-01-01 01:05:00"),
        (3, 2): ("2024-01-01 00:00:00", "2024-01-01 01:00:00"),
    }


# ---------------------------------------------------------------------------
# r18 — ANSI try_* arithmetic quarantine


def test_o18_matches_python_bigint_semantics(spark, sf_dir, reg, duck):
    """Arbitrary-precision python replay of every planted failure class:
    the 2^63-1 overflow boundary, div-zero nulls, addition margins, and
    bad casts — including IEEE-identical FLOOR(q*1000) quotient bins."""
    import math

    maxi = (1 << 63) - 1
    rows = duck.execute(
        "SELECT o_orderpriority, o_orderkey, o_custkey FROM orders"
    ).fetchall()
    agg = {}
    for pr, k, c in rows:
        x = (k % 900 + 124) * 10_000_000
        y = 1_000_000_000 + (c % 1_000_000)
        d = k % 13
        a = c % 1000
        addr = k % 2000
        prod = x * y if x * y <= maxi else None
        q = a / d if d else None
        margin = a - addr if addr <= a else None
        tc = None if k % 19 == 0 else c
        g = agg.setdefault(pr, [0] * 9)
        g[0] += 1
        if prod is None:
            g[1] += 1
        else:
            g[2] += prod % 1000000007
        if q is None:
            g[3] += 1
        else:
            g[4] += math.floor(q * 1000)
        if margin is None:
            g[5] += 1
        else:
            g[6] += margin
        if tc is None:
            g[7] += 1
        else:
            g[8] += tc
    got = {
        r.pr: (
            r.n_rows,
            r.n_overflow_mul,
            r.sum_prod_mod,
            r.n_div_zero,
            r.sum_q_milli,
            r.n_overflow_add,
            r.sum_add_margin,
            r.n_bad_cast,
            r.sum_cast,
        )
        for r in reg["qo18_try_arithmetic_quarantine"].fn(spark, sf_dir).collect()
    }
    assert got == {pr: tuple(v) for pr, v in agg.items()}
    # every failure class must actually fire on this data
    assert sum(v[1] for v in agg.values()) > 0
    assert sum(v[3] for v in agg.values()) > 0
    assert sum(v[5] for v in agg.values()) > 0
    assert sum(v[7] for v in agg.values()) > 0


def test_o18_plain_arithmetic_raises_under_ansi(spark):
    """The quarantine is real, not an alias: the SAME expressions
    WITHOUT try_ throw under the engine's default ANSI mode."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        spark.sql("SELECT 4611686018427387904 * CAST(3 AS BIGINT) AS v").collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        spark.sql("SELECT 1 / 0 AS v").collect()
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|invalid"):
        spark.sql("SELECT CAST('12x' AS BIGINT) AS v").collect()


# ---------------------------------------------------------------------------
# r19 — RocksDB state-store provider parity


def test_o19_matches_batch_and_restores_conf(spark, sf_dir, reg):
    """The RocksDB-backed state must equal the plain batch GROUP BY,
    and the provider conf must be restored after the query (no session
    leakage into later streaming queries)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key)
    got = {
        r.event_type: (r.n_events, r.sum_event_id, r.max_event_id)
        for r in reg["qo19_rocksdb_statestore_parity"].fn(spark, sf_dir).collect()
    }
    assert spark.conf.get(key) == before
    from pyspark_distributed_kmodes_spark.sources.tables import table

    exp = {
        r.event_type: (r.n, r.s, r.m)
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("s"),
            F.max("event_id").cast("bigint").alias("m"),
        )
        .collect()
    }
    assert got == exp


def test_o19_provider_layout_signatures(spark, tmp_path):
    """The on-disk signature r19's hard-fail guard relies on: RocksDB
    checkpoints upload *.zip snapshots; the HDFSBacked provider writes
    *.delta files and no zips — so the guard cannot pass on a silent
    fallback."""
    import glob
    import os

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    layouts = {}
    for name, provider in [
        ("rocksdb", "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
        ("hdfs", "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"),
    ]:
        spark.conf.set(key, provider)
        try:
            df = spark.createDataFrame(
                [(i, f"t{i % 3}") for i in range(50)], "event_id long, event_type string"
            )
            src = str(tmp_path / f"{name}_src")
            ck = str(tmp_path / f"{name}_ck")
            df.write.mode("overwrite").parquet(src)
            stream = spark.readStream.schema(df.schema).parquet(src)
            agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
            q = (
                agg.writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(timeout=120)
        finally:
            spark.conf.set(key, prev)
        layouts[name] = (
            bool(glob.glob(os.path.join(ck, "state", "0", "*", "*.zip"))),
            bool(glob.glob(os.path.join(ck, "state", "0", "*", "*.delta"))),
        )
    assert layouts["rocksdb"][0] and not layouts["rocksdb"][1]
    assert layouts["hdfs"][1] and not layouts["hdfs"][0]


# ---------------------------------------------------------------------------
# r20 — rate-micro-batch source: deterministic offsets across restarts


def test_o20_matches_closed_form(spark, sf_dir, reg):
    """The source contract replayed in python: 3 availableNow restarts
    x 500 rows, values contiguous from the committed offset, batch k
    stamped k*1000 ms."""
    got = {
        r.ts_ms: (r.n_rows, r.min_value, r.max_value, r.sum_value)
        for r in reg["qo20_rate_micro_batch_source"].fn(spark, sf_dir).collect()
    }
    exp = {}
    for k in range(3):
        vs = range(k * 500, (k + 1) * 500)
        exp[k * 1000] = (500, vs[0], vs[-1], sum(vs))
    assert got == exp


def test_o20_each_restart_is_one_batch(spark, tmp_path):
    """The contract the query relies on, pinned in isolation: every
    availableNow restart of rate-micro-batch emits EXACTLY one more
    batch, resuming values from the checkpointed offset."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    for expected_rows in (7, 14):
        src = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 7)
            .option("numPartitions", 2)
            .option("startTimestamp", 0)
            .option("advanceMillisPerBatch", 500)
            .load()
        )
        q = (
            src.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(timeout=120)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == expected_rows
        assert sorted(r.value for r in rows) == list(range(expected_rows))


# ---------------------------------------------------------------------------
# r21 — XPath expression family


def test_o21_matches_python(spark, sf_dir, reg, duck):
    """Python replay of the per-order aggregates the XPath pipeline
    must reproduce from its synthesized documents."""
    rows = duck.execute(
        "SELECT l_orderkey, CAST(l_quantity AS BIGINT) FROM lineitem"
    ).fetchall()
    per_order = defaultdict(lambda: [0, 0, 0])
    for k, q in rows:
        st = per_order[k]
        st[0] += 1
        st[1] += q
        st[2] += 1 if q > 30 else 0
    buckets = defaultdict(lambda: [0, 0, 0, 0])
    for k, (n, s, h) in per_order.items():
        b = buckets[k % 7]
        b[0] += 1
        b[1] += n
        b[2] += s
        b[3] += h
    got = {
        r.bucket: (r.n_orders, r.n_lineitems, r.sum_qty, r.n_heavy_items)
        for r in reg["qo21_xpath_extraction"].fn(spark, sf_dir).collect()
    }
    assert got == {b: tuple(v) for b, v in buckets.items()}


def test_o21_quantity_integrality_precondition(duck):
    """The exactness precondition for sum()'s double -> BIGINT cast:
    every l_quantity is integral."""
    bad = duck.execute(
        "SELECT COUNT(*) FROM lineitem WHERE l_quantity <> FLOOR(l_quantity)"
    ).fetchone()[0]
    assert bad == 0


def test_o21_xpath_predicate_boundary(spark):
    """XPath 1.0 numeric coercion on the attribute predicate, pinned at
    the boundary: @q>30 selects 31 (string '31' coerced to number),
    excludes 30 exactly, and the three extraction forms agree on a
    handcrafted document."""
    doc = '<o><li q="31">31</li><li q="30">30</li><li q="5">5</li></o>'
    r = spark.sql(
        f"""SELECT xpath_long(x, 'count(/o/li)') AS n,
                   CAST(xpath_double(x, 'sum(/o/li)') AS BIGINT) AS s,
                   xpath(x, '/o/li[@q>30]/text()') AS heavy,
                   xpath(x, '/o/li/text()') AS all_text
            FROM (SELECT '{doc}' AS x)"""
    ).collect()[0]
    assert r.n == 3 and r.s == 66
    assert r.heavy == ["31"]
    assert r.all_text == ["31", "30", "5"]


# ---------------------------------------------------------------------------
# r22 — runtime Bloom-filter join


def test_o22_bloom_on_equals_bloom_off(spark, sf_dir, reg):
    """In-engine equivalence: the bloom-filtered join must return
    exactly what the same join returns with runtime filters disabled —
    the filter may only pre-prune, never change results. Also pins
    that the query restores every conf it touches."""
    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    before = {k: spark.conf.get(k, None) for k in keys}
    with_bloom = sorted(
        tuple(r) for r in reg["qo22_runtime_bloom_filter_join"].fn(spark, sf_dir).collect()
    )
    assert {k: spark.conf.get(k, None) for k in keys} == before

    from pyspark_distributed_kmodes_spark.sources.tables import table

    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    try:
        o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        l = table(spark, sf_dir, "lineitem")
        plain = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy(F.col("l_returnflag").alias("returnflag"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
                F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
                F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
            )
        )
        assert "might_contain" not in plain._jdf.queryExecution().executedPlan().toString()
        without_bloom = sorted(tuple(r) for r in plain.collect())
    finally:
        if before["spark.sql.optimizer.runtime.bloomFilter.enabled"] is None:
            spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        else:
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.enabled",
                before["spark.sql.optimizer.runtime.bloomFilter.enabled"],
            )
    assert with_bloom == without_bloom


def test_o22_injection_guard_fires(spark, sf_dir, reg, monkeypatch):
    """The hard-fail guard is real: with injection structurally
    impossible (creation-side threshold floored to 0 bytes), the
    query raises instead of silently running the unfiltered join."""
    from pyspark_distributed_kmodes_spark.operators import analytics12

    broken = dict(analytics12._O22_CONFS)
    broken["spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"] = "0"
    broken["spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"] = "1000TB"
    monkeypatch.setattr(analytics12, "_O22_CONFS", broken)
    with pytest.raises(RuntimeError, match="bloom filter was not injected"):
        reg["qo22_runtime_bloom_filter_join"].fn(spark, sf_dir)


# ---------------------------------------------------------------------------
# r23 — SQL TRANSFORM script pipe


def test_o23_matches_python(spark, sf_dir, reg, duck):
    """Python replay of the aggregate the piped rows must reproduce —
    any serde/cast loss in the row->text->process->row loop shows up
    here as well as in the hash gate."""
    rows = duck.execute(
        "SELECT l_returnflag, l_orderkey, CAST(l_quantity AS BIGINT) FROM lineitem"
    ).fetchall()
    agg = defaultdict(lambda: [0, 0, 0])
    for f, k, q in rows:
        st = agg[(f, k % 5)]
        st[0] += 1
        st[1] += q
        st[2] += k
    got = {
        (r.flag, r.bucket): (r.n_rows, r.sum_qty, r.sum_okey)
        for r in reg["qo23_sql_transform_pipe"].fn(spark, sf_dir).collect()
    }
    assert got == {k: tuple(v) for k, v in agg.items()}


def test_o23_serde_edges_tab_escaped_newline_splits(spark):
    """The serde's edges pinned as probed on this Spark version: an
    embedded TAB survives (the default transform serde escapes it —
    lossless), but an embedded NEWLINE splits the ROW into two output
    rows (one padded with NULL) — the hazard r23's column choice
    avoids and its docstring records."""
    tab = spark.sql(
        """SELECT TRANSFORM(s, marker) USING 'cat' AS (x STRING, y STRING)
           FROM VALUES (concat('p', char(9), 'q'), 'M') t(s, marker)"""
    ).collect()
    assert [(r.x, r.y) for r in tab] == [("p\tq", "M")]
    nl = spark.sql(
        """SELECT TRANSFORM(s, marker) USING 'cat' AS (x STRING, y STRING)
           FROM VALUES (concat('p', char(10), 'q'), 'M') t(s, marker)"""
    ).collect()
    assert sorted(((r.x, r.y) for r in nl), key=str) == sorted(
        [("p", None), ("q", "M")], key=str
    )


def test_o23_typed_roundtrip_negatives(spark):
    """String->BIGINT re-typing on the AS clause survives negatives and
    zero through the pipe."""
    rows = spark.sql(
        """SELECT TRANSFORM(a) USING 'cat' AS (v BIGINT)
           FROM VALUES (-9223372036854775808), (0), (42) t(a)"""
    ).collect()
    assert sorted(r.v for r in rows) == [-9223372036854775808, 0, 42]


# ---------------------------------------------------------------------------
# r24 — CSV expression round-trip


def test_o24_matches_python(spark, sf_dir, reg, duck):
    """Python replay from raw columns: the parsed-struct aggregates
    must equal count / key-sum / 4+len(status) per priority."""
    rows = duck.execute(
        "SELECT o_orderpriority, o_orderkey, o_orderstatus FROM orders"
    ).fetchall()
    agg = defaultdict(lambda: [0, 0, 0])
    for p, k, s in rows:
        st = agg[p]
        st[0] += 1
        st[1] += k
        st[2] += 4 + len(s)
    got = {
        r.priority: (r.n_orders, r.sum_orderkey, r.sum_len_s)
        for r in reg["qo24_csv_expression_roundtrip"].fn(spark, sf_dir).collect()
    }
    assert got == {p: tuple(v) for p, v in agg.items()}


def test_o24_hostile_quoting_roundtrip(spark):
    """The codec contract on a handcrafted hostile value: embedded
    delimiter + embedded quote survive to_csv -> from_csv exactly,
    and the wire text shows real quoting (the field is quoted and the
    inner quote escaped), proving the round trip is doing work."""
    r = spark.sql(
        """SELECT to_csv(named_struct('a', 'x,O"y', 'b', 7)) AS wire,
                  from_csv(to_csv(named_struct('a', 'x,O"y', 'b', 7)),
                           'a STRING, b BIGINT') AS back"""
    ).collect()[0]
    assert r.back.a == 'x,O"y' and r.back.b == 7
    assert r.wire.startswith('"') and ("\\\"" in r.wire or '""' in r.wire)


# ---------------------------------------------------------------------------
# r25 — GROUP BY ALL / ORDER BY ALL / SELECT * EXCEPT


def test_o25_plan_identical_to_explicit(spark, sf_dir, reg):
    """All three sugars resolve at analysis time: the optimized plan
    (expr-ids stripped) is node-for-node identical to the fully
    explicit text — which also proves the EXCEPT'd aggregate
    (sum(l_orderkey)) is pruned, since the explicit twin never
    computes it."""
    import re

    from pyspark_distributed_kmodes_spark.sources.tables import table

    df = reg["qo25_sql_sugar_all_except"].fn(spark, sf_dir)
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    explicit = spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  CAST(COUNT(*) AS BIGINT) AS n_items,
                  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
           FROM lineitem GROUP BY l_returnflag, l_linestatus
           ORDER BY l_returnflag, l_linestatus, n_items, sum_qty"""
    )
    strip = lambda d: re.sub(r"#\d+", "#", d._jdf.queryExecution().optimizedPlan().toString())
    a, b = strip(df), strip(explicit)
    assert a == b
    assert "sum(l_orderkey" not in a  # the dropped aggregate's work is gone
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in explicit.collect()]


def test_o25_sugar_boundaries(spark):
    """The inference rules pinned on literals: GROUP BY ALL picks
    exactly the non-aggregate outputs; ORDER BY ALL orders
    left-to-right over the (post-EXCEPT) output columns."""
    r = spark.sql(
        """SELECT b, COUNT(*) AS n, SUM(a) AS s
           FROM VALUES (1,'y'), (2,'x'), (3,'x') t(a, b) GROUP BY ALL"""
    ).collect()
    assert {(x.b, x.n, x.s) for x in r} == {("y", 1, 1), ("x", 2, 5)}
    ordered = spark.sql(
        """SELECT * EXCEPT (c) FROM VALUES (2,'a','z'), (1,'b','y'), (1,'a','x') t(a,b,c)
           ORDER BY ALL"""
    ).collect()
    assert [(x.a, x.b) for x in ordered] == [(1, "a"), (1, "b"), (2, "a")]


# ---------------------------------------------------------------------------
# r26 — RocksDB changelog checkpointing


def test_o26_matches_batch_and_restores_confs(spark, sf_dir, reg):
    """The changelog-replayed state must equal the plain batch GROUP
    BY, and both touched confs must be restored afterward."""
    pkey = "spark.sql.streaming.stateStore.providerClass"
    ckey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    before = (spark.conf.get(pkey), spark.conf.get(ckey, None))
    got = {
        r.event_type: (r.n_events, r.sum_user, r.min_event_id)
        for r in reg["qo26_rocksdb_changelog_checkpoint"].fn(spark, sf_dir).collect()
    }
    assert (spark.conf.get(pkey), spark.conf.get(ckey, None)) == before
    from pyspark_distributed_kmodes_spark.sources.tables import table

    exp = {
        r.event_type: (r.n, r.s, r.m)
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("user_id").cast("bigint").alias("s"),
            F.min("event_id").cast("bigint").alias("m"),
        )
        .collect()
    }
    assert got == exp


def test_o26_changelog_layout_contrast(spark, tmp_path):
    """Layout signatures of the two RocksDB checkpointing modes,
    pinned in isolation: changelog mode writes .changelog files and
    (below the snapshot interval) no zips; snapshot-per-batch mode
    writes zips and no changelogs — so r26's in-query guard cannot
    pass in the wrong mode."""
    import glob
    import os

    pkey = "spark.sql.streaming.stateStore.providerClass"
    ckey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    prev_p, prev_c = spark.conf.get(pkey), spark.conf.get(ckey, None)
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    layouts = {}
    for mode in ("true", "false"):
        spark.conf.set(pkey, rocks)
        spark.conf.set(ckey, mode)
        try:
            df = spark.createDataFrame(
                [(i, f"t{i % 3}") for i in range(30)], "event_id long, event_type string"
            )
            src = str(tmp_path / f"m{mode}_src")
            ck = str(tmp_path / f"m{mode}_ck")
            df.write.mode("overwrite").parquet(src)
            stream = spark.readStream.schema(df.schema).parquet(src)
            agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
            q = (
                agg.writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(timeout=120)
        finally:
            spark.conf.set(pkey, prev_p)
            if prev_c is None:
                spark.conf.unset(ckey)
            else:
                spark.conf.set(ckey, prev_c)
        layouts[mode] = (
            len(glob.glob(os.path.join(ck, "state", "0", "*", "*.changelog"))),
            len(glob.glob(os.path.join(ck, "state", "0", "*", "*.zip"))),
        )
    assert layouts["true"][0] > 0 and layouts["true"][1] == 0
    assert layouts["false"][1] > 0 and layouts["false"][0] == 0
