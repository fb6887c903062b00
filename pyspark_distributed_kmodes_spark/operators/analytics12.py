"""Round-10 staged r-suite: the next batch of genuinely-NEW ENGINE
SURFACE (per the round-9 verdict item #4 — real capabilities, never
window filler), keyed with the r-prefix so they sort AFTER every q*
key and cannot leak into the round-10 driver window (the round-3
z-suite precedent). Per the documented round-11 plan
(__spark_entry__.py), they rename into o-space (number preserved) when
they enter the round-11 window.

  r01  SQL SCRIPTING (Spark 4.1 BEGIN...END): DECLARE'd variables, a
       FOR cursor loop over an ordered bounded aggregate, an IF branch
       inside the loop — procedural control flow as a first-class
       front door; the oracle replays the fold with window functions.
  r02  VARIANT type (parse_json / variant_get): the semi-structured
       column type over the real events.props JSON column with typed
       path extraction; the oracle uses DuckDB's json_extract on the
       same strings.
  r03  XML EXPRESSIONS (to_xml / from_xml round-trip): the engine had
       only the XML file SOURCE (qj08); this exercises the expression
       surface — struct -> XML text -> parsed struct — with the oracle
       computing the same aggregate from the raw columns, so any
       round-trip corruption breaks the hash.
  r04  approx_top_k (native DataSketches frequent-items, Spark 4.1)
       with the exact GROUP BY as an in-hash audit twin — exact on a
       bounded domain because the sketch never evicts.
  r05  URL parsing (parse_url / try_parse_url): HOST + QUERY-param
       extraction over synthesized URLs with planted malformed rows;
       the oracle derives host/param from the source columns.
  r06  IDENTIFIER() dynamic table binding + LATERAL COLUMN ALIASES —
       analyzer-level ergonomics; the oracle inlines both, and a test
       pins that IDENTIFIER leaves no trace in the optimized plan.
  r07  UTF-8 validation (is_valid_utf8 / try_validate_utf8) over a
       binary column with deterministically planted corruption — the
       byte-level quarantine primitive of a raw-text ingest.
  r08  BITMAP exact-distinct rollup (bitmap_construct_agg /
       bitmap_or_agg / bitmap_count): mergeable EXACT distinct counts —
       per-segment bitmaps answer both the per-priority and the global
       distinct without re-shuffling raw keys; oracle COUNT(DISTINCT).
  r09  PARAMETERIZED SQL (named :marker binding via spark.sql(args=)):
       the injection-safe front door — a hostile string bound through a
       marker must stay ONE literal; the oracle inlines the literals.
  r10  FILE-METADATA provenance (_metadata.file_path / row_index /
       file_size) over a partitioned sink: per-file row counts and
       row-index contiguity under the hash — the lineage primitive for
       auditing which file contributed which rows at 100 TB.
  r11  PASSAGE CHUNKING (overlapping token windows, W=32 stride 24):
       the RAG / training-data chunker as pure JVM array ops
       (split -> sequence -> slice), fingerprinted per chunk; the
       oracle replays it with DuckDB list functions.
  r12  STREAMING DEDUP WITH BOUNDED STATE (dropDuplicatesWithinWatermark):
       planted +30 s duplicates across a 3-chunk chronological replay
       must all be dropped while state stays watermark-bounded — the
       scale answer to dropDuplicates' unbounded state.
  r13  VARIANT EXPLODE (lateral variant_explode TVF): nested JSON
       arrays synthesized from real columns, exploded to (pos, value)
       rows with typed casts — the ARRAY side of the Variant surface
       (r02 covered scalar paths).
  r14  LUHN CHECKSUM QUARANTINE (luhn_check + a higher-order check-
       digit generator fold): 1-in-23 planted single-digit corruptions
       must all be flagged — the ID-validation primitive (URLs r05,
       bytes r07, checksummed identifiers here).
  r15  STREAM-STREAM LEFT OUTER JOIN (watermark-driven null emission):
       matched pairs stream out as they arrive; unmatched clicks get
       their null row once the min-of-both-sides watermark passes the
       join window — audited over the data-derived window where
       emission is GUARANTEED semantics (tail rows that may legally
       die in state are excluded from both engines identically).
  r16  STATE-STORE CHANGE FEED (readChangeFeed): the per-batch
       EVOLUTION of streaming state read back from the checkpoint —
       one update row per (batch, key) that changed, carrying the
       post-batch cumulative value; the oracle replays the batch
       history relationally (n06 proved the final state, this proves
       the history).
  r17  DYNAMIC-GAP SESSION WINDOWS (F.session_window with a per-event
       gap expression): purchase events hold sessions open 60 min,
       views 15, others 30 — semantics a static gap (q32) cannot
       express; the two probed merge subtleties (boundary-inclusive
       ends, running-MAX session end) are pinned by unit test and the
       oracle replays gaps-and-islands with a prefix-MAX over
       per-event window ends in exact microseconds.
  r18  ANSI try_* ARITHMETIC QUARANTINE (try_multiply / try_divide /
       try_add / try_cast): every failure class planted
       data-dependently (overflow past 2^63-1, div-zero, bad casts),
       null counts AND surviving values under the hash; the oracle
       decides the 64-bit boundary independently in DuckDB HUGEINT
       arithmetic, and a unit test pins that the same expressions
       WITHOUT try_ throw under the engine's default ANSI mode.
  r19  ROCKSDB STATE-STORE PROVIDER PARITY: the n06 streaming
       state-reader loop re-run on RocksDBStateStoreProvider — the
       disk-backed backend a 100 TB streaming job actually uses —
       with a three-attribute Count+Sum+Max state row; hard-fails if
       the checkpoint lacks RocksDB's zip-snapshot layout (no silent
       fallback), conf snapshot/restored, and the provider layout
       signatures (zip vs delta) contrast-pinned in tests.
  r20  RATE-MICRO-BATCH SOURCE with restart continuation: the
       deterministic load-generator source driven through THREE
       availableNow restarts on one checkpoint — contiguous values,
       millisecond-exact batch clock, offsets resumed from the
       commit log; the oracle is a closed form over range(0,1500)
       (value // rowsPerBatch IS the batch id). m02 proved STATE
       survives restarts; this proves SOURCE OFFSETS do.
  r21  XPATH EXPRESSIONS (xpath / xpath_long / xpath_double — the
       query-language side of the XML surface, complementing r03's
       schema-based from_xml): multi-node per-order documents
       synthesized in-engine from lineitem, interrogated with node-set
       counts, in-document sum(), and a numeric attribute predicate
       ([@q>30], boundary coercion pinned in tests); the oracle never
       sees XML.
  r22  RUNTIME BLOOM-FILTER JOIN (InjectRuntimeFilter): a selective
       dim-side predicate makes the optimizer inject
       bloom_filter_agg + might_contain onto the fact scan, pruning
       rows BEFORE the shuffle — THE selective-join optimization at
       100 TB; hard-fails if the filter is not injected, bloom-on ==
       bloom-off equivalence and the fires-loudly guard pinned in
       tests; confs snapshot/restored.
  r23  SQL TRANSFORM (Hive-style script pipe through 'cat'): the
       external-process escape hatch; the tab-delimited serde round
       trip is what's under the hash, with its probed edges pinned
       (tabs escaped lossless, newlines split the row).
  r24  CSV EXPRESSION round-trip (to_csv -> from_csv), completing the
       expression-codec family (JSON q35, XML r03, Variant r02/r13):
       every row carries a field embedding the delimiter AND a double
       quote, so quote-and-escape is exercised on every row;
       aggregates from the parsed struct only, oracle from raw
       columns (parsed-length sum pins the escaping byte-for-byte).
  r25  ANALYZER SUGAR (GROUP BY ALL / ORDER BY ALL / SELECT *
       EXCEPT), r06's companion: inference rules under the hash, an
       EXCEPT'd real aggregate proving pruning removes its work, and
       a plan-identity pin (expr-ids stripped) against the fully
       explicit text.
  r26  ROCKSDB CHANGELOG CHECKPOINTING: per-batch O(delta) changelog
       uploads instead of snapshots (the production setting for
       billion-key state); a 3-batch replay leaves a pure changelog
       chain (>=3 changelogs, zero zips — hard-checked), forcing the
       state reader to reconstruct the final state by REPLAYING the
       chain, which must hash-match the batch GROUP BY; the
       changelog-vs-snapshot layout contrast is pinned in tests.

Investigated and honestly NOT implementable on this stack (recorded so
round 11 doesn't re-litigate): SQL MERGE INTO requires a catalog whose
tables implement SupportsRowLevelOperations; vanilla OSS Spark's
session catalog (parquet v1 tables) raises
UNSUPPORTED_FEATURE.TABLE_OPERATION — verified on the pinned Spark
4.1.2. Merge SEMANTICS remain fully covered by the DataFrame-native
CDC machinery (operators/cdc.py: q88/q89/qm28).

Engine style unchanged: pure JVM DataFrame/SQL ops, integer-exact
comparisons on knife edges (no double CAST boundaries), DECIMAL-summed
float aggregates, unique ORDER BY tie-breaks, bounded dictionaries
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scoped_conf, scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table
from pyspark_distributed_kmodes_spark.streaming.jobs import (
    drain_available_now,
    replay_stream,
    stage_event_chunks,
)

# ---------------------------------------------------------------------------
# r01 — SQL scripting: BEGIN...END control flow over a bounded aggregate

# The loop walks the (bounded, ~5-row) per-priority order counts in
# priority order, maintaining an explicit rank, a rank-weighted count
# fold, and an above-average flag via IF — the kind of sequential
# bookkeeping SQL scripting exists for. All comparisons are integer
# (c * n_groups > total, never AVG-double casts) so both engines sit
# on the same arithmetic.
_O01_SCRIPT = """
BEGIN
  DECLARE ngrp BIGINT DEFAULT 0;
  DECLARE tot BIGINT DEFAULT 0;
  DECLARE rnk INT DEFAULT 0;
  DECLARE wsum BIGINT DEFAULT 0;
  DECLARE n_hi INT DEFAULT 0;
  SET ngrp = (SELECT COUNT(*) FROM o01_pr_counts);
  SET tot = (SELECT SUM(c) FROM o01_pr_counts);
  FOR r AS SELECT pr, c FROM o01_pr_counts ORDER BY pr DO
    SET rnk = rnk + 1;
    SET wsum = wsum + rnk * r.c;
    IF r.c * ngrp > tot THEN
      SET n_hi = n_hi + 1;
    END IF;
  END FOR;
  SELECT CAST(rnk AS INTEGER) AS n_groups,
         CAST(wsum AS BIGINT) AS rank_weighted_count,
         CAST(n_hi AS INTEGER) AS n_above_avg,
         CAST(tot AS BIGINT) AS n_orders;
END
"""

_O01_ORACLE = """
WITH g AS (
  SELECT o_orderpriority AS pr, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
), r AS (
  SELECT pr, c,
         ROW_NUMBER() OVER (ORDER BY pr) AS rnk,
         COUNT(*) OVER () AS ng,
         SUM(c) OVER () AS tot
  FROM g
)
SELECT CAST(MAX(rnk) AS INTEGER) AS n_groups,
       CAST(SUM(rnk * c) AS BIGINT) AS rank_weighted_count,
       CAST(SUM(CASE WHEN c * ng > tot THEN 1 ELSE 0 END) AS INTEGER) AS n_above_avg,
       CAST(SUM(c) AS BIGINT) AS n_orders
FROM r
"""


@query("qo01_sql_scripting_controlflow", oracle=_O01_ORACLE, tags=("sql", "scripting"))
def qo01_sql_scripting_controlflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.1 BEGIN...END) as a first-class front
    door: DECLARE'd session-scoped variables, scalar-subquery SETs, a
    FOR cursor loop over the ordered per-priority counts, and an IF
    branch inside the loop maintain a rank-weighted fold that the
    oracle replays with ROW_NUMBER window arithmetic — so the scripting
    executor's iteration ORDER, variable updates, and branch decisions
    are all under the hash.

    Scale: the distributed work is ONE map-side-combinable groupBy
    (bounded ~5-row result), materialized once via cut_lineage so the
    script's three statements over it (COUNT, SUM, FOR) replay the
    5-row local relation instead of rescanning parquet; the loop then
    executes driver-side over the bounded cursor — the correct division
    of labor at 100 TB (aggregate on the cluster, control flow on
    bounded results).
    """
    o = table(spark, sf_dir, "orders")
    grp = (
        o.groupBy(F.col("o_orderpriority").alias("pr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .transform(cut_lineage)
    )
    grp.createOrReplaceTempView("o01_pr_counts")
    with scoped_conf(spark, **{"spark.sql.scripting.enabled": "true"}):
        return spark.sql(_O01_SCRIPT)


# ---------------------------------------------------------------------------
# r02 — VARIANT type: parse_json + typed variant_get path extraction

_O02_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(variant_get(parse_json(props), '$.k', 'bigint')) AS BIGINT) AS sum_k,
       CAST(SUM(CASE WHEN variant_get(parse_json(props), '$.k', 'bigint')
                          BETWEEN 25 AND 75 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid_k
FROM events GROUP BY event_type ORDER BY event_type
"""

_O02_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT)
                          BETWEEN 25 AND 75 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid_k
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("qo02_variant_json_extraction", oracle=_O02_ORACLE, tags=("sql", "variant", "json"))
def qo02_variant_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-typed semi-structured extraction: the real events.props
    JSON strings are parsed into Spark 4's VariantType (parse_json) and
    the '$.k' path is extracted with an explicit target type
    (variant_get ... 'bigint'), then aggregated per event type — the
    open-schema column pattern a 100 TB ingest pipeline uses when
    payloads aren't worth pre-schematizing. The oracle extracts the
    same path with DuckDB's json_extract, so Variant's parse, path
    navigation, and numeric typing are all under the hash (q35/q36
    cover the string get_json_object path; this is the typed binary
    Variant encoding).

    Scale: one scan, one shuffle on the 5-value type key with map-side
    partial aggregation; parse_json/variant_get are JVM expressions
    inside whole-stage codegen — no Python, no second pass (Catalyst
    collapses the two variant_get calls over a shared parse via
    common-subexpression elimination).
    """
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events")
    return spark.sql(_O02_SQL)


# ---------------------------------------------------------------------------
# r03 — XML expression round-trip: to_xml -> from_xml -> aggregate

_O03_SQL = """
SELECT x.t AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(x.u) AS BIGINT) AS sum_user,
       CAST(SUM(x.e) AS BIGINT) AS sum_event_id
FROM (
  SELECT from_xml(to_xml(named_struct('t', event_type, 'u', user_id, 'e', event_id)),
                  't STRING, u BIGINT, e BIGINT') AS x
  FROM events
)
GROUP BY x.t ORDER BY event_type
"""

_O03_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("qo03_xml_expression_roundtrip", oracle=_O03_ORACLE, tags=("sql", "xml"))
def qo03_xml_expression_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML EXPRESSION surface (the engine previously had only the XML
    file source, qj08): every event row is serialized to an XML string
    with to_xml(named_struct(...)) and immediately re-parsed with
    from_xml under an explicit schema; the aggregate is computed FROM
    THE PARSED STRUCT ONLY, while the oracle aggregates the raw
    columns — so any serialize/parse corruption (escaping, type
    coercion, field order) breaks the hash. Integer + string fields
    keep the round trip exact by construction (no float-to-text
    knife edges).

    Scale: one scan, JVM-side StaxXmlGenerator/Parser expressions in
    the projection (no Python), then the usual map-side-combinable
    5-key aggregate. The serialize+parse pair costs CPU per row but no
    extra shuffle or pass — the plan is scan -> project -> partial agg
    -> exchange -> final agg, identical to the raw-column twin.
    """
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events")
    return spark.sql(_O03_SQL)


# ---------------------------------------------------------------------------
# r04 — native DataSketches approx_top_k with an exact-count audit twin

# On a domain smaller than the sketch's tracked-item budget the
# frequent-items sketch is EXACT (no evictions ever happen), so the
# estimate is hash-gateable against a plain GROUP BY — the same
# audit-twin pattern as qm03 (theta) and qg07 (HLL bounds).
_O04_SQL = """
WITH sk AS (
  SELECT explode(approx_top_k_estimate(approx_top_k_accumulate(o_orderpriority), 5)) AS t
  FROM orders
), exact AS (
  SELECT o_orderpriority AS pr, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM orders GROUP BY 1
)
SELECT sk.t.item AS o_orderpriority,
       CAST(sk.t.count AS BIGINT) AS sketch_n,
       exact.exact_n AS exact_n,
       CAST(sk.t.count - exact.exact_n AS BIGINT) AS err
FROM sk JOIN exact ON exact.pr = sk.t.item
ORDER BY sketch_n DESC, o_orderpriority
"""

_O04_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS sketch_n,
       CAST(COUNT(*) AS BIGINT) AS exact_n,
       CAST(0 AS BIGINT) AS err
FROM orders GROUP BY 1 ORDER BY sketch_n DESC, o_orderpriority
"""


@query("qo04_approx_top_k_audit", oracle=_O04_ORACLE, tags=("sketch", "audit"))
def qo04_approx_top_k_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native DataSketches frequent-items top-k (Spark 4.1
    approx_top_k_accumulate/_estimate) with the exact GROUP BY as its
    audit twin IN the hash gate: on the 5-value priority domain the
    sketch never evicts, so sketch counts must equal exact counts and
    err must be identically zero — the oracle asserts exactly that by
    construction. This closes the sketch family's last gap (HLL, CMS,
    theta, KLL were covered; frequent-items was not).

    Scale: approx_top_k_accumulate is a mergeable partial aggregate
    (map-side sketches, one combine), so the pattern holds at 100 TB
    where the GROUP BY twin would still work but a 10^9-key domain
    would not — there the sketch's maxItemsTracked bounds memory while
    exact counting cannot; the audit twin quantifies the trade on a
    domain where truth is computable.
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_O04_SQL)


# ---------------------------------------------------------------------------
# r05 — URL parsing (parse_url / try_parse_url) over synthesized URLs

_O05_SQL = """
WITH u AS (
  SELECT doc_id, source, lang,
         CASE WHEN doc_id % 13 = 0 THEN concat('::not a url::', CAST(doc_id AS STRING))
              ELSE concat('https://', source, '.example.org/d/', CAST(doc_id AS STRING),
                          '?lang=', lang, '&v=1')
         END AS url
  FROM documents
), p AS (
  SELECT doc_id, lang,
         coalesce(try_parse_url(url, 'HOST'), '(invalid)') AS host,
         try_parse_url(url, 'QUERY', 'lang') AS url_lang
  FROM u
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN url_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_roundtrip
FROM p GROUP BY host ORDER BY host
"""

_O05_ORACLE = """
SELECT CASE WHEN doc_id % 13 = 0 THEN '(invalid)'
            ELSE source || '.example.org' END AS host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_lang_roundtrip
FROM documents GROUP BY 1 ORDER BY host
"""


@query("qo05_url_parsing", oracle=_O05_ORACLE, tags=("text", "url"))
def qo05_url_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface (parse_url / try_parse_url, the try_ variant
    new in Spark 4.1): deterministic URLs are synthesized from document
    metadata (1-in-13 deliberately malformed), then HOST and a QUERY
    parameter are parsed BACK and aggregated — the oracle derives the
    same host/param directly from the source columns, so extraction
    correctness and the try_-on-malformed NULL contract are both under
    the hash. A web-corpus curation pipeline leans on exactly these
    expressions for per-host mixing and dedup keys.

    Scale: single scan, JVM parse expressions in the projection, one
    shuffle on the bounded host key with map-side combine.
    """
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(_O05_SQL)


# ---------------------------------------------------------------------------
# r06 — SQL ergonomics: IDENTIFIER() binding + lateral column aliases

_O06_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS gross,
       CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS disc_amt,
       {net} AS net
FROM IDENTIFIER(o06_tbl)
GROUP BY l_returnflag ORDER BY l_returnflag
"""

_O06_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS gross,
       CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS disc_amt,
       {net} AS net
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query(
    "qo06_identifier_lateral_alias",
    oracle=_O06_ORACLE.format(
        net="(CAST(floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)"
        " - CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE))"
        " * 100.0 + 0.5) AS DOUBLE) / 100.0)"
    ),
    tags=("sql", "ergonomics"),
)
def qo06_identifier_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two analyzer-level SQL ergonomics features under one hash:
    IDENTIFIER() binds the scanned table from a session variable
    (injection-safe dynamic identifiers — the sanctioned form of the
    string-concat SQL the verbatim front door qe13 forbids), and the
    `net` output is computed via LATERAL COLUMN ALIASES (`gross` and
    `disc_amt` referenced by alias in a sibling select item, not
    re-computed). The oracle inlines both: a static table name and the
    expanded expressions — so alias resolution must be pure sugar.

    Scale: IDENTIFIER resolves at analysis time; the physical plan is
    identical to the static-name query (scan -> partial agg -> exchange
    -> final agg) — pinned in tests by comparing the two plans.
    """
    from pyspark_distributed_kmodes_spark.functions.deterministic import sql_pround

    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql("DECLARE OR REPLACE VARIABLE o06_tbl STRING")
    spark.sql("SET VAR o06_tbl = 'lineitem'")
    return spark.sql(_O06_SQL.format(net=sql_pround("gross - disc_amt", 2)))


# ---------------------------------------------------------------------------
# r07 — UTF-8 validation expressions over a binary column

_O07_SQL = """
WITH b AS (
  SELECT source,
         CASE WHEN doc_id % 97 = 0 THEN concat(encode(text, 'UTF-8'), X'80')
              ELSE encode(text, 'UTF-8') END AS bin
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN is_valid_utf8(bin) THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
       CAST(SUM(CASE WHEN try_validate_utf8(bin) IS NULL THEN 0 ELSE length(try_validate_utf8(bin)) END) AS BIGINT) AS valid_chars
FROM b GROUP BY source ORDER BY source
"""

_O07_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
       CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE length(text) END) AS BIGINT) AS valid_chars
FROM documents GROUP BY source ORDER BY source
"""


@query("qo07_utf8_validation", oracle=_O07_ORACLE, tags=("text", "binary"))
def qo07_utf8_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 validation expressions (is_valid_utf8 / try_validate_utf8,
    Spark 4.0+) over a BINARY column — the first scrubbing pass of any
    100 TB raw-bytes text ingest. Corruption is planted deterministically
    (1-in-97 docs get a lone 0x80 continuation byte appended), so the
    oracle knows exactly which rows must fail validation and how many
    characters the valid ones decode to; the engine must agree from the
    bytes alone. try_validate_utf8's NULL-on-invalid contract feeds the
    quarantine pattern (qc01's malformed-CSV shape, at the byte level).

    Scale: single scan, JVM byte-inspection expressions, bounded
    source-key aggregate with map-side combine.
    """
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(_O07_SQL)


# ---------------------------------------------------------------------------
# r08 — bitmap exact-distinct rollup: mergeable exact COUNT(DISTINCT)

# One scan builds per-(priority, bucket) bitmaps; those SAME partials
# answer the per-priority distinct (sum of bitmap_count) AND the global
# distinct (bitmap_or_agg across priorities, then count) — the rollup
# never touches raw keys again. COUNT(DISTINCT) at 100 TB re-shuffles
# the raw key universe per grouping; bitmap partials shuffle only
# fixed-size buckets and MERGE, which is what makes segment-level
# distinct rollups (per-day -> per-month -> global) cheap.
_O08_SQL = """
WITH b AS (
  SELECT o_orderpriority AS pr,
         bitmap_bucket_number(o_custkey) AS bkt,
         bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm
  FROM orders GROUP BY 1, 2
), per AS (
  SELECT pr, CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_distinct_cust
  FROM b GROUP BY pr
), merged AS (
  SELECT CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_distinct_all
  FROM (SELECT bkt, bitmap_or_agg(bm) AS bm FROM b GROUP BY bkt)
)
SELECT per.pr AS o_orderpriority, per.n_distinct_cust, merged.n_distinct_all
FROM per CROSS JOIN merged
ORDER BY o_orderpriority
"""

_O08_ORACLE = """
WITH per AS (
  SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
  FROM orders GROUP BY 1
), m AS (
  SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_all FROM orders
)
SELECT per.o_orderpriority, per.n_distinct_cust, m.n_distinct_all
FROM per CROSS JOIN m
ORDER BY o_orderpriority
"""


@query("qo08_bitmap_distinct_rollup", oracle=_O08_ORACLE, tags=("sql", "bitmap", "distinct"))
def qo08_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_or_agg / bitmap_count): one scan builds per-(priority,
    bucket) bitmaps, and those SAME partials answer both the
    per-priority distinct-customer count and the global one (OR-merge
    across priorities) — the oracle recomputes both with plain
    COUNT(DISTINCT), so bit placement, bucket arithmetic, and the
    OR-merge are all under the hash. This is the exact counterpart of
    the HLL family (qg07): mergeable like a sketch, but lossless.

    Scale: COUNT(DISTINCT key) re-shuffles the raw key universe for
    every grouping it appears in; bitmap partials shuffle fixed-size
    (4 KB-bucket) bitmaps instead and MERGE, so a day->month->global
    distinct rollup reuses one pass — the CROSS JOIN is the house
    1-row scalar attach (broadcast).
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_O08_SQL)


# ---------------------------------------------------------------------------
# r09 — parameterized SQL: named-marker binding as the injection-safe door

_O09_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {rev} AS sum_price,
       CAST(SUM(CASE WHEN o_orderstatus = :probe THEN 1 ELSE 0 END) AS BIGINT) AS n_probe_hits
FROM orders
WHERE o_orderstatus = :status AND o_totalprice > :minp
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

_O09_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {rev} AS sum_price,
       CAST(0 AS BIGINT) AS n_probe_hits
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

# the hostile bind value: as a LITERAL it can never equal a real
# one-char status, and if it were ever spliced as TEXT the WHERE
# clause would change shape entirely — either way the oracle's
# n_probe_hits = 0 and literal-filter row set pin the contract
_O09_PROBE = "F' OR '1'='1"


@query(
    "qo09_parameterized_sql",
    oracle=_O09_ORACLE.format(
        rev="CAST(floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)"
        " * 100.0 + 0.5) AS DOUBLE) / 100.0"
    ),
    tags=("sql", "api", "parameters"),
)
def qo09_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (spark.sql(..., args={...}), named :markers —
    the Spark 3.4+ binding API): the filter literals arrive as bound
    parameters, including a deliberately hostile string
    ("F' OR '1'='1") that must stay ONE string literal — if the engine
    ever spliced it as text the predicate would collapse to TRUE and
    both the row set and n_probe_hits would change. The oracle inlines
    the same literals, so marker substitution is value-exact under the
    hash. This is the programmatic twin of n07's EXECUTE IMMEDIATE ...
    USING (SQL-side binding) — together they close both front doors
    the verbatim-SQL surface (qe13) deliberately forbids string
    concatenation for.

    Scale: parameters fold to literals at analysis time — the plan is
    byte-identical to the static query (pinned in tests), so pushdown
    of the status+price filter into the parquet scan is unchanged.
    """
    from pyspark_distributed_kmodes_spark.functions.deterministic import sql_pround

    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        _O09_SQL.format(rev=sql_pround("CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)", 2)),
        args={"status": "F", "minp": 1000.0, "probe": _O09_PROBE},
    )


# ---------------------------------------------------------------------------
# r10 — file-metadata provenance: _metadata over a partitioned sink

_O10_ORACLE = """
SELECT o_orderpriority,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS ri_zero_based,
       CAST(1 AS BIGINT) AS ri_contiguous,
       CAST(1 AS BIGINT) AS has_size
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("qo10_file_metadata_provenance", oracle=_O10_ORACLE, tags=("source", "metadata", "lineage"))
def qo10_file_metadata_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-METADATA provenance columns (_metadata.file_path /
    row_index / file_size) under the hash gate: orders are written
    partitioned by priority with one shuffle partition per key (so the
    writer provably emits exactly ONE file per partition directory),
    read back, and audited per file — file count per key, row count,
    zero-based and CONTIGUOUS row_index (max-min+1 == count), and a
    positive file_size. The oracle states the invariants from the
    source table (1 file, the group's row count, all flags 1), so the
    hidden-column plumbing must reproduce physical layout facts
    exactly. This is the lineage primitive a 100 TB pipeline uses to
    answer "which file contributed which rows" (qi02's snapshot diff
    works at row level; this works at FILE level with zero data-column
    cost).

    Idempotent (qc01 discipline): per-run temp dir, eager
    materialization via cut_lineage, cleanup in finally.

    Scale: _metadata is generated per-file at scan time (no extra IO);
    the audit groups by file then by key — both bounded by file count,
    not rows; repartition-by-key before partitionBy is the standard
    one-file-per-partition write pattern that keeps 100 TB sinks from
    exploding into small files.
    """
    import shutil

    base = scratch_dir("o10_meta")
    try:
        o = table(spark, sf_dir, "orders")
        (
            o.repartition("o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(base + "/orders")
        )
        back = spark.read.parquet(base + "/orders").select(
            "o_orderpriority",
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("ri"),
            F.col("_metadata.file_size").alias("fsize"),
        )
        per_file = back.groupBy("o_orderpriority", "fp").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("ri").cast("bigint").alias("ri_min"),
            F.max("ri").cast("bigint").alias("ri_max"),
            F.min("fsize").cast("bigint").alias("fsz"),
        )
        out = (
            per_file.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_files"),
                F.sum("n").cast("bigint").alias("n_rows"),
                F.min(F.when(F.col("ri_min") == 0, 1).otherwise(0)).cast("bigint").alias("ri_zero_based"),
                F.min(
                    F.when(F.col("ri_max") - F.col("ri_min") + 1 == F.col("n"), 1).otherwise(0)
                ).cast("bigint").alias("ri_contiguous"),
                F.min(F.when(F.col("fsz") > 0, 1).otherwise(0)).cast("bigint").alias("has_size"),
            )
            .orderBy("o_orderpriority")
        )
        return out.transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# r11 — passage chunking: overlapping token windows for RAG/training prep

_O11_W = 32  # window: tokens per passage
_O11_S = 24  # stride: 8-token overlap between neighbors

# n_chunks = 1 for n <= W else 1 + ceil((n-W)/S), in INTEGER arithmetic
# on both engines ((n - W + S - 1) div S) — no float ceil knife edge.
_O11_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, filter(split(text, ' '), x -> x <> '') AS tk
  FROM documents
), sized AS (
  SELECT doc_id, source, tk, size(tk) AS n,
         CASE WHEN size(tk) <= {_O11_W} THEN 1
              ELSE 1 + CAST((size(tk) - {_O11_W} + {_O11_S - 1}) DIV {_O11_S} AS INT)
         END AS n_chunks
  FROM toks
), chunks AS (
  SELECT source, slice(tk, k * {_O11_S} + 1, {_O11_W}) AS ck
  FROM sized LATERAL VIEW explode(sequence(0, n_chunks - 1)) t AS k
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(size(ck)) AS BIGINT) AS sum_chunk_tokens,
       CAST(SUM(CASE WHEN size(ck) = {_O11_W} THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
       CAST(COUNT(DISTINCT md5(concat_ws(' ', ck))) AS BIGINT) AS n_unique_chunks
FROM chunks GROUP BY source ORDER BY source
"""

_O11_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
), sized AS (
  SELECT doc_id, source, tk, len(tk) AS n,
         CASE WHEN len(tk) <= {_O11_W} THEN 1
              ELSE 1 + CAST((len(tk) - {_O11_W} + {_O11_S - 1}) // {_O11_S} AS INT)
         END AS n_chunks
  FROM toks
), offsets AS (
  SELECT source, tk, unnest(range(0, n_chunks)) AS k FROM sized
), chunks AS (
  SELECT source, list_slice(tk, k * {_O11_S} + 1, k * {_O11_S} + {_O11_W}) AS ck
  FROM offsets
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(len(ck)) AS BIGINT) AS sum_chunk_tokens,
       CAST(SUM(CASE WHEN len(ck) = {_O11_W} THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
       CAST(COUNT(DISTINCT md5(array_to_string(ck, ' '))) AS BIGINT) AS n_unique_chunks
FROM chunks GROUP BY source ORDER BY source
"""


@query("qo11_passage_chunking", oracle=_O11_ORACLE, tags=("text", "llm", "chunking"), bench=True)
def qo11_passage_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSAGE CHUNKING — the RAG / training-data chunker: every
    document is tokenized (whitespace split, empties filtered) and cut
    into overlapping windows of {W} tokens at stride {S} (final short
    chunk kept), each chunk fingerprinted with md5 of its re-joined
    text; the per-source audit counts chunks, summed chunk tokens,
    full-width chunks, and DISTINCT fingerprints (the chunk-level
    dedup signal — boilerplate passages collapse here even when whole
    docs differ). The oracle replays the exact construction with
    DuckDB list functions, so window placement, the integer chunk-count
    arithmetic, short-tail clamping, and fingerprint text are all under
    the hash.

    Scale: pure JVM array ops (split -> sequence -> explode -> slice),
    no Python; fan-out is ~n_tokens/stride rows per doc — linear in
    corpus token count, embarrassingly parallel before the one
    aggregation shuffle on the bounded source key (COUNT(DISTINCT md5)
    expands to the standard two-phase distinct aggregate). At 100 TB
    the chunker runs as a projection inside the scan stage; nothing is
    driver-side.
    """
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(_O11_SQL)


qo11_passage_chunking.__doc__ = qo11_passage_chunking.__doc__.replace("{W}", str(_O11_W)).replace(
    "{S}", str(_O11_S)
)


# ---------------------------------------------------------------------------
# r12 — streaming dedup with bounded state: dropDuplicatesWithinWatermark

_O12_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) + SUM(CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_input,
       CAST(COUNT(*) AS BIGINT) AS n_dedup,
       CAST(SUM(CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


@query(
    "qo12_stream_dedup_within_watermark",
    oracle=_O12_ORACLE,
    tags=("streaming", "dedup", "audit"),
    bench=True,
)
def qo12_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DEDUP WITH BOUNDED STATE under the hash gate
    (dropDuplicatesWithinWatermark, Spark 3.5+): duplicates are planted
    deterministically (every event_id % 37 == 0 row re-injected with
    ts + 30 s, full row otherwise identical), the doubled stream is
    replayed as THREE chronological single-file micro-batches
    (maxFilesPerTrigger=1), and the stateful dedup on event_id must
    drop every planted copy — within a batch or across batches — while
    the 1-hour delta keeps state bounded. Survivors land in a parquet
    sink and are aggregated per event type; n_input is counted from the
    STAGED files (honest: the doubled input really existed), and the
    oracle derives every column from the plant rule, so both the drop
    set and the survivor set are under the hash.

    Determinism: planted copies differ from their originals only in ts
    (never aggregated), so whichever copy survives a same-batch race
    the output is identical; a copy is always <= 30 s after its
    original while the watermark trails the chunk maximum by 1 h, so
    no first-occurrence is ever evicted before its duplicate arrives
    and no row is ever late (chunks are chronological).

    Scale: THE reason this operator exists — plain dropDuplicates
    keeps every key forever (state ~ distinct keys ~ 100 TB), while
    WithinWatermark evicts keys older than the watermark, bounding
    state by the dedup horizon x arrival rate regardless of total
    volume. Each micro-batch shuffles once on the dedup key.
    """
    import os

    stage = stage_event_chunks(spark, sf_dir, doubled=True)
    # honest n_input: count the staged files themselves, per type
    n_input = spark.read.parquet(stage).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_input")
    ).transform(cut_lineage)

    target_root = scratch_dir("o12_target")
    ckpt = os.path.join(target_root, "ckpt")
    sink = os.path.join(target_root, "survivors")
    stream = replay_stream(spark, stage)
    drain_available_now(
        # project to the columns the dedup + downstream rollup touch:
        # `value`/`props` (the widest column) otherwise ride through
        # every micro-batch shuffle AND the survivor sink (guide §2.3)
        stream.select("event_id", "user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append"),
        ckpt,
        "o12",
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
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# r13 — variant_explode: lateral explosion of a nested Variant array

# The nested payload is SYNTHESIZED from real columns (the r05 URL
# pattern): each event carries a JSON array of two derived ids, so the
# oracle knows exactly what every (pos, value) must be — explosion
# order, position numbering, and the variant->bigint cast are all
# under the hash.
_O13_SQL = """
WITH ev AS (
  SELECT event_type,
         concat('{"ids":[', CAST(user_id AS STRING), ',',
                CAST(event_id % 100 AS STRING), ']}') AS payload
  FROM events
)
SELECT event_type, v.pos AS pos,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(v.value AS BIGINT)) AS BIGINT) AS sum_val
FROM ev, LATERAL variant_explode(variant_get(parse_json(payload), '$.ids')) v
GROUP BY event_type, v.pos
ORDER BY event_type, pos
"""

_O13_ORACLE = """
SELECT event_type, pos,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(val) AS BIGINT) AS sum_val
FROM (
  SELECT event_type, 0 AS pos, user_id AS val FROM events
  UNION ALL
  SELECT event_type, 1 AS pos, event_id % 100 AS val FROM events
)
GROUP BY event_type, pos
ORDER BY event_type, pos
"""


@query("qo13_variant_explode_lateral", oracle=_O13_ORACLE, tags=("sql", "variant", "json"))
def qo13_variant_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED Variant explosion (the variant_explode table-valued
    function, Spark 4.0+): a JSON array payload synthesized from real
    event columns is parsed to Variant, the '$.ids' array is pulled out
    as a Variant (typeless variant_get) and laterally exploded into
    (pos, key, value) rows, with the variant values cast back to
    BIGINT and aggregated per (type, position). The oracle rebuilds the
    same rows relationally (pos 0 = user_id, pos 1 = event_id % 100),
    so explosion order, position numbering, and the variant->int cast
    are all under the hash. r02 covered scalar path extraction; this is
    the ARRAY side of the Variant surface — the open-schema ingest
    shape ("tags": [...]) a semi-structured pipeline hits first.

    Scale: parse_json/variant_explode run as JVM generators inside the
    scan stage (fan-out x2 here, x array-length in general); one
    shuffle on the bounded (type, pos) key with map-side combine.
    """
    e = table(spark, sf_dir, "events")
    e.createOrReplaceTempView("events")
    return spark.sql(_O13_SQL)


# ---------------------------------------------------------------------------
# r14 — Luhn checksum quarantine: generate, corrupt, validate

# 9-digit account bases derive from c_custkey; the check digit is
# computed IN SPARK SQL with a higher-order fold (transform +
# aggregate over digit positions, doubling every second digit from the
# right), then 1-in-23 accounts get a middle digit bumped by +5 mod 10
# — a corruption the Luhn code provably always detects (the doubled-
# digit map d -> 2d - 9*(2d>9) is injective mod 10, so ANY single-digit
# change flips the checksum). luhn_check must then flag exactly the
# planted rows.
_O14_SQL = """
WITH base AS (
  SELECT c_custkey, CAST(c_nationkey AS INTEGER) AS nationkey,
         lpad(CAST(c_custkey * 7919 % 1000000000 AS STRING), 9, '0') AS b
  FROM customer
), summed AS (
  SELECT c_custkey, nationkey, b,
         aggregate(
           transform(sequence(1, 9),
                     i -> CASE WHEN (11 - i) % 2 = 0
                               THEN IF(CAST(substring(b, i, 1) AS INT) * 2 > 9,
                                       CAST(substring(b, i, 1) AS INT) * 2 - 9,
                                       CAST(substring(b, i, 1) AS INT) * 2)
                               ELSE CAST(substring(b, i, 1) AS INT) END),
           0, (acc, x) -> acc + x) AS s
  FROM base
), acct AS (
  SELECT c_custkey, nationkey,
         concat(b, CAST((10 - s % 10) % 10 AS STRING)) AS good
  FROM summed
), maybe_corrupt AS (
  SELECT c_custkey, nationkey,
         CASE WHEN c_custkey % 23 = 0
              THEN concat(substring(good, 1, 4),
                          CAST((CAST(substring(good, 5, 1) AS INT) + 5) % 10 AS STRING),
                          substring(good, 6))
              ELSE good END AS acct
  FROM acct
)
SELECT nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_accounts,
       CAST(SUM(CASE WHEN luhn_check(acct) THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
       CAST(SUM(CASE WHEN luhn_check(acct) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
FROM maybe_corrupt
GROUP BY nationkey ORDER BY nationkey
"""

_O14_ORACLE = """
SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_accounts,
       CAST(SUM(CASE WHEN c_custkey % 23 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
       CAST(SUM(CASE WHEN c_custkey % 23 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_valid
FROM customer GROUP BY 1 ORDER BY nationkey
"""


@query("qo14_luhn_checksum_quarantine", oracle=_O14_ORACLE, tags=("text", "validation"))
def qo14_luhn_checksum_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKSUM-VALIDATION quarantine (luhn_check, Spark 3.5+): 10-digit
    account numbers are GENERATED in-engine — the Luhn check digit
    computed with a higher-order fold (transform + aggregate over digit
    positions, doubling every second from the right) — then 1-in-23 get
    a middle digit bumped +5 mod 10, a corruption Luhn provably always
    detects (the doubled-digit map is injective mod 10). luhn_check
    must flag EXACTLY the planted rows, so the generator's fold and the
    native validator must agree digit-for-digit; the oracle states the
    plant rule (the r07 pattern), and a pytest re-derives the check
    digits with textbook python Luhn. This closes the ID-validation
    primitive of a structured-record ingest (URLs r05, bytes r07,
    checksummed identifiers here).

    Scale: single scan, pure JVM string/array expressions in the
    projection, one shuffle on the bounded nation key with map-side
    combine.
    """
    c = table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer")
    return spark.sql(_O14_SQL)


# ---------------------------------------------------------------------------
# r15 — stream-stream LEFT OUTER join with watermark-driven null emission

# Audit boundary: only clicks whose 2 h join window closed at least
# 1 h BEFORE the watermark available to the final micro-batch (wm =
# max ts of chunks 1-2 minus the 4 h delay) enter the audited
# aggregate. For those clicks the engine GUARANTEES emission: every
# match arrived in an earlier-or-equal batch (chronological chunks),
# and unmatched state is evicted with a null row once the watermark
# passes the window end. Clicks nearer the stream tail may legally
# stay in state when availableNow terminates — they are excluded from
# BOTH engines' aggregates by the same data-derived cutoff, so the
# hash compares only guaranteed behavior.
_O15_WINDOW_H = 2  # click->purchase attribution window (hours)
_O15_DELAY_H = 4   # watermark delay (hours)

_O15_ORACLE = """
WITH days AS (
  SELECT date_trunc('day', ts) AS d, COUNT(*) AS c FROM events GROUP BY 1
), tot AS (SELECT COUNT(*) AS n FROM events),
cum AS (SELECT d, SUM(c) OVER (ORDER BY d) AS cum FROM days),
cut AS (
  SELECT MIN(d) AS d2 FROM cum, tot WHERE cum >= (2 * tot.n + 2) // 3
), boundary AS (
  -- the engine's global watermark is the MIN across the two sides'
  -- watermark operators, each advancing with ITS OWN max event time
  SELECT LEAST(
           MAX(CASE WHEN e.event_type = 'click' THEN e.ts END),
           MAX(CASE WHEN e.event_type = 'purchase' THEN e.ts END)
         ) - INTERVAL 4 HOUR - INTERVAL 1 HOUR AS b
  FROM events e, cut WHERE date_trunc('day', e.ts) < cut.d2
), clicks AS (
  SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
  FROM events, boundary
  WHERE event_type = 'click' AND ts + INTERVAL 2 HOUR <= boundary.b
), pairs AS (
  SELECT c.c_id, p.event_id AS p_id
  FROM clicks c JOIN events p
    ON p.event_type = 'purchase' AND p.user_id = c.c_user
   AND p.ts >= c.c_ts AND p.ts <= c.c_ts + INTERVAL 2 HOUR
)
SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_matched_pairs,
       CAST((SELECT COUNT(DISTINCT c_id) FROM pairs) AS BIGINT) AS n_matched_clicks,
       CAST((SELECT COUNT(*) FROM clicks WHERE c_id NOT IN (SELECT c_id FROM pairs)) AS BIGINT) AS n_null_clicks,
       CAST((SELECT COALESCE(SUM(c_id + p_id), 0) FROM pairs) AS BIGINT) AS sum_pair_ids,
       CAST((SELECT COALESCE(SUM(c_id), 0) FROM clicks WHERE c_id NOT IN (SELECT c_id FROM pairs)) AS BIGINT) AS sum_null_click_ids
"""


@query(
    "qo15_stream_outer_join",
    oracle=_O15_ORACLE,
    # deliberately NOT bench-flagged: the first call's staging (3
    # single-file chunk writes) plus three stateful micro-batches cost ~15 s at
    # sf0.1 standalone — harness replay cost, not operator cost; the
    # number is recorded in ROUND_NOTES and the mirror still runs it
    # at every SF
    tags=("streaming", "join", "audit"),
)
def qo15_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join under the hash gate (the engine
    had only the inner interval join, qb35): clicks left-join purchases
    by user within a 2 h event-time window, both sides watermarked 4 h,
    replayed as three chronological micro-batches — matched pairs emit
    as purchases arrive, and an UNMATCHED click emits a null-padded row
    only after the watermark passes its window (the state-eviction
    contract that bounds outer-join state at 100 TB). The audit
    aggregates only clicks whose window provably closed (window end at
    least 1 h before the final batch's watermark, a data-derived
    cutoff the oracle replays exactly, including the day-tercile chunk
    arithmetic) — for those, emission is guaranteed semantics, not
    timing luck; tail clicks that may legally die in state are excluded
    from both engines identically.

    Scale: join state is bounded by (watermark delay + window) x
    arrival rate per side — the whole point of watermarked outer joins
    vs buffering a full side; each micro-batch shuffles both sides on
    user_id only.
    """
    import os

    stage = stage_event_chunks(spark, sf_dir)
    # the audited-click cutoff: final-batch watermark (max ts of
    # chunks 0-1 minus the delay) minus a 1 h safety margin. The
    # final-batch watermark is the MIN of the two sides' own
    # watermarks (each tracks its own max event time), over chunks 0-1
    boundary = (
        spark.read.parquet(*(os.path.join(stage, f"chunk{i}.parquet") for i in (0, 1)))
        .agg(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            ).alias("m")
        )
        .collect()[0]["m"]
    )

    src = replay_stream(spark, stage)
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", f"{_O15_DELAY_H} hours")
    )
    purch = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", f"{_O15_DELAY_H} hours")
    )
    joined = clicks.join(
        purch,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {_O15_WINDOW_H} HOURS")),
        "leftOuter",
    )
    target_root = scratch_dir("o15_target")
    sink = os.path.join(target_root, "sink")
    drain_available_now(
        joined.writeStream.format("parquet").option("path", sink).outputMode("append"),
        os.path.join(target_root, "ckpt"),
        "o15",
    )
    emitted = spark.read.parquet(sink).where(
        F.col("c_ts") + F.expr(f"INTERVAL {_O15_WINDOW_H} HOURS")
        <= F.lit(boundary) - F.expr(f"INTERVAL {_O15_DELAY_H} HOURS") - F.expr("INTERVAL 1 HOUR")
    )
    matched = emitted.where(F.col("p_id").isNotNull())
    nulls = emitted.where(F.col("p_id").isNull())
    return (
        matched.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched_pairs"),
            F.count_distinct("c_id").cast("bigint").alias("n_matched_clicks"),
            F.coalesce(F.sum(F.col("c_id") + F.col("p_id")), F.lit(0)).cast("bigint").alias("sum_pair_ids"),
        )
        .crossJoin(
            nulls.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_null_clicks"),
                F.coalesce(F.sum("c_id"), F.lit(0)).cast("bigint").alias("sum_null_click_ids"),
            )
        )
        .select(
            "n_matched_pairs",
            "n_matched_clicks",
            "n_null_clicks",
            "sum_pair_ids",
            "sum_null_click_ids",
        )
    )


# ---------------------------------------------------------------------------
# r16 — state-store CHANGE FEED: per-batch evolution of streaming state

_O16_ORACLE = """
WITH days AS (
  SELECT date_trunc('day', ts) AS d, COUNT(*) AS c FROM events GROUP BY 1
), tot AS (SELECT COUNT(*) AS n FROM events),
cum AS (SELECT d, SUM(c) OVER (ORDER BY d) AS cum FROM days),
c1 AS (SELECT MIN(d) AS d FROM cum, tot WHERE cum >= (tot.n + 2) // 3),
c2 AS (SELECT MIN(d) AS d FROM cum, tot WHERE cum >= (2 * tot.n + 2) // 3),
ev AS (
  SELECT event_type, event_id,
         CASE WHEN date_trunc('day', ts) < (SELECT d FROM c1) THEN 0
              WHEN date_trunc('day', ts) < (SELECT d FROM c2) THEN 1
              ELSE 2 END AS chunk
  FROM events
), batches AS (
  SELECT b.batch_id, e.event_type, e.event_id, e.chunk
  FROM ev e JOIN (VALUES (0), (1), (2)) AS b(batch_id) ON e.chunk <= b.batch_id
)
SELECT CAST(batch_id AS BIGINT) AS batch_id, event_type,
       'update' AS change_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM batches
GROUP BY batch_id, event_type
HAVING SUM(CASE WHEN chunk = batch_id THEN 1 ELSE 0 END) > 0
ORDER BY batch_id, event_type
"""


@query("qo16_statestore_changefeed", oracle=_O16_ORACLE, tags=("streaming", "source", "audit"))
def qo16_statestore_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE CHANGE FEED under the hash gate (Spark 4
    `format("statestore").option("readChangeFeed", true)`): a streaming
    per-type count+sum runs over THREE chronological micro-batches
    (the shared stage_event_chunks stage through replay_stream), then
    the checkpoint's change feed is read back
    — one `update` row per (batch, key) whose state CHANGED in that
    batch, carrying the post-batch cumulative value. The oracle replays
    the batch evolution relationally: day-tercile chunk assignment,
    cumulative counts per batch, and a HAVING clause that keeps exactly
    the (batch, type) cells with at least one event IN that batch (the
    change-feed emission rule). n06 proved the FINAL state; this proves
    the state's HISTORY — the audit trail an operator walks to answer
    "when did this key's aggregate move" on a 100 TB job's checkpoint.

    Determinism: cumulative bigint count/sum per key are order-free
    within a batch; batch composition is pinned by the day-tercile
    cuts and the mtime-ordered replay; partition_id is dropped (it
    varies with shuffle.partitions — the invariance sweep checks).

    Scale: the stream shuffles each micro-batch on the 5-value type
    key with map-side partial aggregation; the change feed read is
    checkpoint-sized (batches x keys), independent of data volume.
    """
    import os

    src = replay_stream(spark, stage_event_chunks(spark, sf_dir))
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("event_id").alias("sm")
    )
    ckpt_root = scratch_dir("o16_ckpt")
    ckpt = os.path.join(ckpt_root, "ck")
    drain_available_now(agg.writeStream.format("noop").outputMode("complete"), ckpt, "o16")
    cf = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(ckpt)
    )
    # value.count / value.sum are the Count/Sum aggBufferAttributes
    # names (the n06 pin); change_type is part of the feed's contract
    return (
        cf.select(
            F.col("batch_id").cast("bigint").alias("batch_id"),
            F.col("key.event_type").alias("event_type"),
            F.col("change_type").alias("change_type"),
            F.col("value.count").cast("bigint").alias("n_events"),
            F.col("value.sum").cast("bigint").alias("sum_event_id"),
        )
        .orderBy("batch_id", "event_type")
    )


# ---------------------------------------------------------------------------
# r17 — DYNAMIC-GAP session windows (per-event inactivity gap)

_O17_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE event_type WHEN 'purchase' THEN 60
                         WHEN 'view' THEN 15
                         ELSE 30 END AS gap_min
  FROM events
), w AS (
  SELECT user_id, ts, ts + gap_min * INTERVAL 1 MINUTE AS wend FROM e
), m AS (
  SELECT user_id, ts, wend,
         MAX(wend) OVER (PARTITION BY user_id ORDER BY ts, wend
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM w
), f AS (
  SELECT user_id, ts, wend,
         CASE WHEN pmax IS NULL OR ts > pmax THEN 1 ELSE 0 END AS is_new
  FROM m
), g AS (
  SELECT user_id, ts, wend,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, wend
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM f
), sess AS (
  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_ev,
         epoch_us(MAX(wend)) - epoch_us(MIN(ts)) AS dur_us
  FROM g GROUP BY 1, 2
), u AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(n_ev) AS BIGINT) AS n_events,
         CAST(SUM(dur_us) AS BIGINT) AS dur_us
  FROM sess GROUP BY 1
)
SELECT n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(dur_us) AS BIGINT) AS total_duration_us
FROM u GROUP BY 1 ORDER BY n_sessions
"""


@query("qo17_dynamic_gap_sessions", oracle=_O17_ORACLE, tags=("events", "window-agg"))
def qo17_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP session windows: F.session_window with a PER-EVENT
    inactivity gap (purchase 60 min, view 15 min, else 30 min) — the
    behavioral-sessionization semantics q32's static 30-minute gap
    cannot express (a purchase keeps the session alive longer than a
    view). Two merge subtleties were probed empirically and are pinned
    by unit test (tests/test_rsuite.py): (a) the boundary is INCLUSIVE
    — an event at exactly the previous session end MERGES (so the
    oracle's new-session rule is ts > running-max-end, matching q32's
    LAG > gap convention); (b) a merged session's end is the running
    MAX of member ends, so an early long-gap event can outlast later
    short-gap ones. The oracle replays gaps-and-islands with a
    prefix-MAX over per-event window ends; durations compare in exact
    integer MICROSECONDS (unix_micros vs epoch_us), then per-user
    session counts histogram into the final bounded table.

    Scale: ONE shuffle on user_id (Spark plans session aggregation as
    exchange on the non-session keys + a local sort feeding
    UpdatingSessionsExec; state per user is one open session, not the
    event list); the per-user re-aggregate and the final histogram
    reuse / reduce that partitioning with map-side combine. No Python,
    no windows over the full event set — the same shape at 100 TB.
    """
    e = table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "purchase", "INTERVAL 60 MINUTES")
        .when(F.col("event_type") == "view", "INTERVAL 15 MINUTES")
        .otherwise("INTERVAL 30 MINUTES")
    )
    sess = e.groupBy(F.session_window("ts", gap).alias("w"), "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ev")
    )
    per_user = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.sum(F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start")))
        .cast("bigint")
        .alias("dur_us"),
    )
    return (
        per_user.groupBy("n_sessions")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("dur_us").cast("bigint").alias("total_duration_us"),
        )
        .orderBy("n_sessions")
    )


# ---------------------------------------------------------------------------
# r18 — ANSI try_* arithmetic quarantine (overflow / div-zero / bad cast)

_O18_SQL = """
WITH b AS (
  SELECT o_orderpriority AS pr,
         (o_orderkey % 900 + 124) * 10000000 AS x,
         1000000000 + (o_custkey % 1000000) AS y,
         o_orderkey % 13 AS d,
         o_custkey % 1000 AS a,
         9223372036854775807 - (o_custkey % 1000) AS addl,
         o_orderkey % 2000 AS addr,
         CASE WHEN o_orderkey % 19 = 0
              THEN CONCAT('x', CAST(o_custkey AS STRING))
              ELSE CAST(o_custkey AS STRING) END AS s
  FROM orders
), c AS (
  SELECT pr,
         try_multiply(x, y) AS prod,
         try_divide(a, d) AS q,
         try_add(addl, addr) AS ta,
         try_cast(s AS BIGINT) AS tc
  FROM b
)
SELECT pr,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN prod IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_mul,
       CAST(SUM(prod % 1000000007) AS BIGINT) AS sum_prod_mod,
       CAST(SUM(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_zero,
       CAST(SUM(CAST(FLOOR(q * 1000) AS BIGINT)) AS BIGINT) AS sum_q_milli,
       CAST(SUM(CASE WHEN ta IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_add,
       CAST(SUM(9223372036854775807 - ta) AS BIGINT) AS sum_add_margin,
       CAST(SUM(CASE WHEN tc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_cast,
       CAST(SUM(tc) AS BIGINT) AS sum_cast
FROM c GROUP BY pr ORDER BY pr
"""

_O18_ORACLE = """
WITH b AS (
  SELECT o_orderpriority AS pr,
         (o_orderkey % 900 + 124) * 10000000 AS x,
         1000000000 + (o_custkey % 1000000) AS y,
         o_orderkey % 13 AS d,
         o_custkey % 1000 AS a,
         o_orderkey % 2000 AS addr,
         CASE WHEN o_orderkey % 19 = 0 THEN NULL
              ELSE o_custkey END AS castv
  FROM orders
), c AS (
  SELECT pr,
         CASE WHEN CAST(x AS HUGEINT) * CAST(y AS HUGEINT)
                   <= CAST(9223372036854775807 AS HUGEINT)
              THEN CAST(CAST(x AS HUGEINT) * CAST(y AS HUGEINT) AS BIGINT)
              ELSE NULL END AS prod,
         CASE WHEN d = 0 THEN NULL ELSE a / d END AS q,
         CASE WHEN addr <= a THEN a - addr ELSE NULL END AS add_margin,
         castv AS tc
  FROM b
)
SELECT pr,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN prod IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_mul,
       CAST(SUM(prod % 1000000007) AS BIGINT) AS sum_prod_mod,
       CAST(SUM(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_zero,
       CAST(SUM(CAST(FLOOR(q * 1000) AS BIGINT)) AS BIGINT) AS sum_q_milli,
       CAST(SUM(CASE WHEN add_margin IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_add,
       CAST(SUM(add_margin) AS BIGINT) AS sum_add_margin,
       CAST(SUM(CASE WHEN tc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_cast,
       CAST(SUM(tc) AS BIGINT) AS sum_cast
FROM c GROUP BY pr ORDER BY pr
"""


@query("qo18_try_arithmetic_quarantine", oracle=_O18_ORACLE, tags=("sql", "ansi"))
def qo18_try_arithmetic_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI try_* arithmetic quarantine: under ANSI mode (the engine's
    default on Spark 4) plain arithmetic THROWS on BIGINT overflow,
    division by zero, and malformed casts; the try_* family
    (try_multiply / try_divide / try_add / try_cast) converts each
    failure to NULL — the row-level quarantine contract a 100 TB
    ingest needs (one poisoned row must not kill a 1000-executor
    stage). Every failure class is planted DATA-DEPENDENTLY from real
    order keys: ~top-decile x*y products overflow 2^63-1, d=0 every
    13th key, additions overflow exactly when (o_orderkey % 2000) >
    (o_custkey % 1000), casts break on every 19th key — and both the
    NULL COUNTS and the surviving VALUES are under the hash (products
    mod p, quotient milli-floors, addition margins, cast sums). The
    oracle decides overflow in DuckDB HUGEINT (128-bit) arithmetic —
    an independent derivation of the 64-bit boundary; quotients are
    IEEE double divisions of the same integers in both engines, so
    FLOOR(q*1000) is bit-identical (no decimal knife edge:
    correctly-rounded division + multiply are deterministic, and the
    pround rule concerns decimal rounding of sums, not floors of
    identical doubles). A unit test pins that the SAME expressions
    WITHOUT try_ raise under ANSI — proving the quarantine is real,
    not a no-op alias.

    Scale: one orders scan, all expressions JVM-side in whole-stage
    codegen, one map-side-combinable shuffle on the 5-value priority
    key. try_* evaluates inline — no second pass, no Python.
    """
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    return spark.sql(_O18_SQL)


# ---------------------------------------------------------------------------
# r19 — RocksDB state-store provider parity

_O19_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_O19_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

_O19_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events GROUP BY 1 ORDER BY event_type
"""


@query("qo19_rocksdb_statestore_parity", oracle=_O19_ORACLE, tags=("streaming", "state", "audit"))
def qo19_rocksdb_statestore_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROCKSDB STATE-STORE PROVIDER parity under the hash gate: the
    n06 streaming-aggregation/state-reader loop re-run with
    `spark.sql.streaming.stateStore.providerClass` set to the
    RocksDBStateStoreProvider — the disk-backed state backend a REAL
    100 TB streaming job runs on (default HDFSBacked keeps every key
    in executor heap; RocksDB keeps working state off-heap/on-disk
    and snapshots SSTs to the checkpoint, which is what makes
    billion-key state survivable). The state read back from the
    RocksDB checkpoint must hash-match the plain batch GROUP BY —
    backend-independence of results, proved on the backend that
    matters at scale. The query HARD-FAILS (never silently falls
    back) if the checkpoint lacks RocksDB's zip-snapshot layout, and
    the buffer layout here is Count+Sum+Max (value.count / value.sum
    / value.max aggBufferAttributes — a three-attribute state row,
    one more than n06's, pinned in tests).

    Determinism: bigint count/sum/max are order- and partition-free;
    partition_id is dropped (invariance sweep varies
    shuffle.partitions). The provider conf is scoped to the run
    (scoped_conf); the state READ itself resolves the
    provider from the checkpoint's OffsetSeqMetadata (probed: the
    read succeeds even after the session conf is restored), and the
    result is materialized via cut_lineage before the restore.

    Scale: one events shuffle on the 5-value type key with map-side
    partial aggregation; RocksDB state I/O is per-key-group local
    disk, snapshot upload is per-batch incremental (SSTs); the
    statestore read is checkpoint-sized, independent of data volume.
    """
    import glob
    import os
    import shutil

    e = table(spark, sf_dir, "events")
    stage = scratch_dir("o19_stage")
    ckpt_root = scratch_dir("o19_ckpt")
    src = os.path.join(stage, "src")
    e.write.mode("overwrite").parquet(src)
    with scoped_conf(spark, **{_O19_PROVIDER_KEY: _O19_ROCKSDB}):
        stream = spark.readStream.schema(e.schema).parquet(src)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("event_id").alias("sm"),
            F.max("event_id").alias("mx"),
        )
        ckpt = os.path.join(ckpt_root, "ck")
        drain_available_now(agg.writeStream.format("noop").outputMode("complete"), ckpt, "o19")
        shutil.rmtree(stage, ignore_errors=True)
        # RocksDB checkpoints upload zip snapshots (+ SSTs/); the HDFS
        # provider writes .delta files. No zip => we silently ran the
        # wrong backend and the parity claim would be vacuous.
        if not glob.glob(os.path.join(ckpt, "state", "0", "*", "*.zip")):
            raise RuntimeError("o19: checkpoint lacks RocksDB snapshot layout")
        st = spark.read.format("statestore").load(ckpt)
        out = (
            st.select(
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").cast("bigint").alias("n_events"),
                F.col("value.sum").cast("bigint").alias("sum_event_id"),
                F.col("value.max").cast("bigint").alias("max_event_id"),
            )
            .orderBy("event_type")
            .transform(cut_lineage)
        )
    return out


# ---------------------------------------------------------------------------
# r20 — rate-micro-batch source: deterministic offsets across restarts

_O20_ORACLE = """
SELECT CAST((v // 500) * 1000 AS BIGINT) AS ts_ms,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(v) AS BIGINT) AS min_value,
       CAST(MAX(v) AS BIGINT) AS max_value,
       CAST(SUM(v) AS BIGINT) AS sum_value
FROM range(0, 1500) t(v)
GROUP BY 1 ORDER BY 1
"""


@query("qo20_rate_micro_batch_source", oracle=_O20_ORACLE, tags=("streaming", "source"))
def qo20_rate_micro_batch_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATE-MICRO-BATCH SOURCE with restart continuation: Spark's
    deterministic load-generator source (`format("rate-micro-batch")`
    — unlike plain `rate`, batch composition is pinned by OPTIONS, not
    wall clock: batch k carries exactly rowsPerBatch values continuing
    from the last committed offset, all stamped startTimestamp +
    k*advanceMillisPerBatch). Three sequential availableNow RESTARTS
    on one checkpoint must produce batches 0/1/2 with contiguous
    values 0..1499 and millisecond-exact batch timestamps — the
    source-offset side of the m02 restart-equivalence story (m02
    proved aggregation state survives restarts; this proves SOURCE
    offsets do). The oracle is a pure closed form over
    range(0, 1500): value // 500 IS the batch id, so offset
    continuity, batch sizing, and the timestamp clock are all under
    the hash. Deliberately reads NOTHING from sf_dir: the contract
    under test is the source's, independent of data scale (probed:
    each availableNow run emits exactly one batch and resumes from
    the checkpoint).

    Scale: this is the benchmark/backfill clock primitive — a
    1000-executor soak test generates numPartitions-parallel rows
    with zero input I/O; the sink here is a parquet append whose
    volume is fixed by the options (1500 rows), and the final
    aggregate is one map-side-combinable shuffle on the 3-value
    batch-timestamp key.
    """
    import os

    root = scratch_dir("o20_runs")
    out, ckpt = os.path.join(root, "out"), os.path.join(root, "ck")
    for _ in range(3):
        src = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 500)
            .option("numPartitions", 4)
            .option("startTimestamp", 0)
            .option("advanceMillisPerBatch", 1000)
            .load()
        )
        drain_available_now(src.writeStream.format("parquet").option("path", out), ckpt, "o20")
    return (
        spark.read.parquet(out)
        .groupBy(F.unix_millis("timestamp").alias("ts_ms"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("value").cast("bigint").alias("min_value"),
            F.max("value").cast("bigint").alias("max_value"),
            F.sum("value").cast("bigint").alias("sum_value"),
        )
        .orderBy("ts_ms")
    )


# ---------------------------------------------------------------------------
# r21 — XPath expression family over in-engine-synthesized documents

_O21_SQL = """
WITH li AS (
  SELECT l_orderkey,
         CAST(l_quantity AS BIGINT) AS q,
         l_linenumber
  FROM lineitem
), docs AS (
  SELECT l_orderkey,
         CONCAT(
           '<o>',
           array_join(
             transform(
               array_sort(collect_list(struct(l_linenumber, q))),
               x -> CONCAT('<li q="', CAST(x.q AS STRING), '">',
                           CAST(x.q AS STRING), '</li>')
             ), ''),
           '</o>') AS xml
  FROM li GROUP BY l_orderkey
), ex AS (
  SELECT l_orderkey % 7 AS bucket,
         xpath_long(xml, 'count(/o/li)') AS n_li,
         CAST(xpath_double(xml, 'sum(/o/li)') AS BIGINT) AS sum_q,
         size(xpath(xml, '/o/li[@q>30]/text()')) AS n_heavy
  FROM docs
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(n_li) AS BIGINT) AS n_lineitems,
       CAST(SUM(sum_q) AS BIGINT) AS sum_qty,
       CAST(SUM(n_heavy) AS BIGINT) AS n_heavy_items
FROM ex GROUP BY bucket ORDER BY bucket
"""

_O21_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey,
         l_orderkey % 7 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_li,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
         CAST(SUM(CASE WHEN CAST(l_quantity AS BIGINT) > 30
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy
  FROM lineitem GROUP BY 1, 2
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(n_li) AS BIGINT) AS n_lineitems,
       CAST(SUM(sum_q) AS BIGINT) AS sum_qty,
       CAST(SUM(n_heavy) AS BIGINT) AS n_heavy_items
FROM per_order GROUP BY bucket ORDER BY bucket
"""


@query("qo21_xpath_extraction", oracle=_O21_ORACLE, tags=("sql", "xml", "xpath"))
def qo21_xpath_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPATH EXPRESSION family (xpath / xpath_long / xpath_double —
    the query-language side of the XML surface; r03 covered the
    schema-based from_xml side): multi-node per-order documents are
    synthesized IN-ENGINE from real lineitem rows (line-number-sorted
    <li> children), then interrogated with genuine XPath 1.0 — a
    node-set count(), an in-document numeric sum() over element text,
    and a NUMERIC ATTRIBUTE PREDICATE (/o/li[@q>30]) — so node
    navigation, text extraction, XPath's string->number coercion, and
    predicate evaluation are all under the hash against an oracle that
    never sees XML (straight lineitem aggregates). Quantities are
    integral by construction (pinned in tests), so sum()'s double is
    exact and the BIGINT cast is knife-edge-free; only numeric
    content enters the documents, so no escaping hazard.

    Scale: one lineitem scan, one shuffle on l_orderkey to build
    bounded per-order docs (collect_list is capped by lines-per-order
    ~7, not data volume), XPath evaluation is per-row JVM work, and
    the final 7-bucket rollup is map-side combinable. At 100 TB the
    doc-build shuffle is the same one any per-order aggregate pays.
    """
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_O21_SQL)


# ---------------------------------------------------------------------------
# r22 — runtime Bloom-filter join (injected row-level runtime filter)

_O22_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # the defaults gate injection on 10 MB / 10 GB sides — far above
    # test-SF sizes; lowering them exercises the REAL optimizer rule
    # at test scale (at 100 TB the defaults fire on their own)
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    # force a shuffle join: a broadcast join would make the runtime
    # filter pointless (the whole point is pre-shuffle row pruning)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}

_O22_ORACLE = """
SELECT l.l_returnflag AS returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(MIN(o.o_orderkey) AS BIGINT) AS min_orderkey,
       CAST(MAX(o.o_orderkey) AS BIGINT) AS max_orderkey
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1 ORDER BY returnflag
"""


@query("qo22_runtime_bloom_filter_join", oracle=_O22_ORACLE, tags=("join", "optimizer"))
def qo22_runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME BLOOM-FILTER JOIN (InjectRuntimeFilter): a selective
    dimension-side predicate (one order priority) makes the optimizer
    build a bloom_filter_agg over the surviving join keys and inject
    might_contain onto the FACT side's scan — rows that cannot match
    are dropped BEFORE the shuffle, the optimization that turns a
    100 TB shuffle join into a ~14 TB one when the dimension filter is
    selective. The query HARD-FAILS if the executed plan lacks the
    injected might_contain (never a silent fall-through to an
    unfiltered shuffle), broadcast joins are disabled so the runtime
    filter is load-bearing, and the result — per-returnflag counts,
    exact quantity sums, key extrema — must hash-match the plain
    relational oracle: the bloom filter may only PRE-prune, its false
    positives must be caught by the exact join, and nothing may be
    lost.

    Determinism: bloom false positives affect only how many rows reach
    the exact join, never the result; all output columns are exact
    integers.

    Scale: thresholds are lowered to exercise the optimizer rule at
    test SF (defaults 10 MB/10 GB are sized for real clusters and are
    restored on exit by scoped_conf); the filter itself is a one-pass
    mergeable sketch on the creation side + a scan-local probe on the
    application side — no extra shuffle.
    """
    with scoped_conf(spark, **_O22_CONFS):
        o = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = table(spark, sf_dir, "lineitem")
        out = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy(F.col("l_returnflag").alias("returnflag"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
                F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
                F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
            )
            .orderBy("returnflag")
        )
        # force planning inside the conf window and prove the filter
        # was actually injected — a config drift that suppresses it
        # must fail loudly, not silently run the unfiltered join
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "might_contain" not in plan:
            raise RuntimeError("o22: runtime bloom filter was not injected")
    return out


# ---------------------------------------------------------------------------
# r23 — SQL TRANSFORM (Hive-style script transform through a pipe)

_O23_SQL = """
WITH piped AS (
  SELECT TRANSFORM(l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag)
         USING 'cat' AS (okey BIGINT, qty BIGINT, flag STRING)
  FROM lineitem
)
SELECT flag,
       CAST(okey % 5 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM(okey) AS BIGINT) AS sum_okey
FROM piped GROUP BY flag, okey % 5 ORDER BY flag, bucket
"""

_O23_ORACLE = """
SELECT l_returnflag AS flag,
       CAST(l_orderkey % 5 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
FROM lineitem GROUP BY 1, 2 ORDER BY flag, bucket
"""


@query("qo23_sql_transform_pipe", oracle=_O23_ORACLE, tags=("sql", "transform"))
def qo23_sql_transform_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TRANSFORM (Hive-style script transform): every row is
    serialized to the default tab-delimited text serde, piped through
    an EXTERNAL PROCESS per task ('cat' — the identity, so the serde
    round-trip itself is what's under test), read back, and re-typed
    by the AS clause (string -> BIGINT casts on the way in) — the
    legacy escape hatch for external scorers (perl/awk pipelines) that
    real warehouses still run. The hash gate proves the
    row -> text -> process -> text -> typed-row loop is lossless for
    integers and single-char flags. The serde's edges were PROBED and
    are pinned in tests: embedded TABS are escaped (lossless,
    contrary to the naive delimited-text expectation), but an
    embedded NEWLINE splits the row in two — so free multi-line text
    cannot ride this operator; r23's column choice avoids that edge
    and records it here.

    Scale: this operator is the SLOW PATH by construction — one
    subprocess per task, every row through a pipe and a string serde,
    ~10-100x the cost of codegen'd expressions; it exists for
    coverage of the operator and its contract, not as a recommended
    plan shape. The aggregate after the pipe is a normal
    map-side-combinable shuffle on (flag, bucket).
    """
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_O23_SQL)


# ---------------------------------------------------------------------------
# r24 — CSV expression round-trip: to_csv -> from_csv with hostile quoting

_O24_SQL = """
SELECT x.p AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(x.k) AS BIGINT) AS sum_orderkey,
       CAST(SUM(length(x.s)) AS BIGINT) AS sum_len_s
FROM (
  SELECT from_csv(
           to_csv(named_struct(
             'p', o_orderpriority,
             'k', o_orderkey,
             's', CONCAT('x,', o_orderstatus, '"y'))),
           'p STRING, k BIGINT, s STRING') AS x
  FROM orders
)
GROUP BY x.p ORDER BY priority
"""

_O24_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
       CAST(SUM(4 + LENGTH(o_orderstatus)) AS BIGINT) AS sum_len_s
FROM orders GROUP BY 1 ORDER BY priority
"""


@query("qo24_csv_expression_roundtrip", oracle=_O24_ORACLE, tags=("sql", "csv"))
def qo24_csv_expression_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV EXPRESSION surface (to_csv -> from_csv — the engine had
    only the CSV FILE source, qc01/qk24; this is the per-cell codec,
    completing the expression-codec family: JSON q35, XML r03,
    Variant r02/r13, CSV here) with DELIBERATELY HOSTILE content: the
    's' field embeds both the delimiter (a comma) and a double quote,
    so to_csv must quote-and-escape and from_csv must undo it exactly
    — unlike r23's TRANSFORM serde (where such content is the
    recorded hazard), quoting is the CSV codec's whole job, so here
    it is planted on every row rather than avoided. Every output
    aggregate is computed FROM THE PARSED STRUCT ONLY while the
    oracle reads the raw columns (sum of parsed-string lengths pins
    the escape/unescape byte-for-byte: len = 'x,' + status + '"y' =
    4 + len(status)); any quoting loss breaks the hash.

    Scale: one orders scan, to_csv/from_csv are JVM expressions in
    whole-stage codegen, one map-side-combinable shuffle on the
    5-value priority key — the same shape as r03's XML twin.
    """
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_O24_SQL)


# ---------------------------------------------------------------------------
# r25 — analyzer sugar: GROUP BY ALL / ORDER BY ALL / SELECT * EXCEPT

_O25_SQL = """
SELECT * EXCEPT (sum_base)
FROM (
  SELECT l_returnflag, l_linestatus,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(SUM(l_orderkey) AS BIGINT) AS sum_base
  FROM lineitem
  GROUP BY ALL
)
ORDER BY ALL
"""

_O25_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus, n_items, sum_qty
"""


@query("qo25_sql_sugar_all_except", oracle=_O25_ORACLE, tags=("sql", "ergonomics"))
def qo25_sql_sugar_all_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZER SUGAR, r06's companion: GROUP BY ALL must infer
    exactly the non-aggregate output columns (flag, status) and
    nothing else; SELECT * EXCEPT must drop the named column while
    preserving the rest in order; ORDER BY ALL must order by every
    remaining output column left-to-right — all three resolve at
    ANALYSIS time, so a test pins that the optimized plan is
    node-for-node identical (expr-ids stripped) to the fully explicit
    text, and the oracle runs only the explicit form. The EXCEPT'd
    column is a REAL aggregate (orderkey sum) that the explicit twin
    never computes — so the hash also proves column pruning removes
    the dropped aggregate's work, not just its projection.

    Determinism: the (flag, status) group keys are a unique prefix of
    the ORDER BY ALL ordering; integer-exact aggregates.

    Scale: identical plan to the explicit text — one scan, one
    map-side-combinable shuffle on the 6-cell key; sugar has no
    runtime cost by construction (the plan-identity test is the
    proof).
    """
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_O25_SQL)


# ---------------------------------------------------------------------------
# r26 — RocksDB CHANGELOG checkpointing: state reconstructed by replay

_O26_CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)

_O26_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id
FROM events GROUP BY 1 ORDER BY event_type
"""


@query("qo26_rocksdb_changelog_checkpoint", oracle=_O26_ORACLE, tags=("streaming", "state", "audit"))
def qo26_rocksdb_changelog_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROCKSDB CHANGELOG CHECKPOINTING (the production setting for
    billion-key state): with
    `...rocksdb.changelogCheckpointing.enabled`, each micro-batch
    uploads only a CHANGELOG of the keys it touched — O(delta) per
    batch instead of a full snapshot — and snapshots are taken
    rarely and asynchronously. A per-type count/user-sum/min runs
    over THREE chronological micro-batches (the shared
    stage_event_chunks stage), so the checkpoint holds a changelog CHAIN
    and, at the default snapshot interval (100 batches), NO zip
    snapshot at all — both facts hard-checked in-query (>= 3
    changelogs present, zero state zips), which forces the state
    reader to reconstruct the final state purely by REPLAYING the
    changelog chain. That reconstruction must hash-match the plain
    batch GROUP BY: r19 proved provider parity on the snapshot
    layout; this proves the incremental-recovery path — the one a
    real 100 TB job restores through — is value-exact.

    Determinism: bigint count/sum/min are order- and partition-free
    within each batch; batch composition is pinned by the
    day-tercile cuts and mtime-ordered replay; both touched confs
    are scoped to the run by scoped_conf (the reader resolves
    the provider from the checkpoint's own metadata — the r19 probe).

    Scale: per-batch checkpoint upload is O(changed keys), the
    recovery replay is O(changelog chain) bounded by the snapshot
    interval, and the statestore read stays checkpoint-sized.
    """
    import glob
    import os

    stage = stage_event_chunks(spark, sf_dir)
    with scoped_conf(spark, **{_O19_PROVIDER_KEY: _O19_ROCKSDB, _O26_CHANGELOG_KEY: "true"}):
        src = replay_stream(spark, stage)
        agg = src.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("user_id").alias("su"),
            F.min("event_id").alias("mn"),
        )
        ckpt_root = scratch_dir("o26_ckpt")
        ckpt = os.path.join(ckpt_root, "ck")
        drain_available_now(agg.writeStream.format("noop").outputMode("complete"), ckpt, "o26")
        changelogs = glob.glob(os.path.join(ckpt, "state", "0", "*", "*.changelog"))
        zips = glob.glob(os.path.join(ckpt, "state", "0", "*", "*.zip"))
        # a changelog CHAIN and no snapshot => the read below can only
        # succeed by replaying the chain; any silent fallback to
        # snapshot-per-batch mode fails here loudly
        if len(changelogs) < 3 or zips:
            raise RuntimeError(
                f"o26: expected a pure changelog chain, got "
                f"{len(changelogs)} changelogs / {len(zips)} zips"
            )
        st = spark.read.format("statestore").load(ckpt)
        out = (
            st.select(
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").cast("bigint").alias("n_events"),
                F.col("value.sum").cast("bigint").alias("sum_user"),
                F.col("value.min").cast("bigint").alias("min_event_id"),
            )
            .orderBy("event_type")
            .transform(cut_lineage)
        )
    return out
