"""Round-6 analytics extensions (i01+): incremental near-dup graph
maintenance, parquet-sink snapshot diff (time travel), an end-to-end
multimodal join pipeline, stability/mergeability audits (subsample
halves, grouped quantile rollup, per-shard top-k merge, salted
aggregation), grouped OLS, audience overlap, RFM segmentation, mutual
information, edit-distance blocking joins, CUSUM change-points,
autocorrelation, gains/lift tables, referential integrity, nearest-event
joins, schema evolution, and churn.

Engine style unchanged from analytics4/5: pure JVM DataFrame ops,
pround floor-rounding on every oracle-gated double, DECIMAL-summed
float aggregates, every ORDER BY carries a unique tie-break,
scalar-only output columns. Keys are i-prefixed so they sort inside the
driver's 50-entry window right after the round-5 h-suite (rotation
history in __spark_entry__.py); 22 h + 28 i = exactly 50.
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_distributed_kmodes_spark.functions.deterministic import (
    davg,
    dsum,
    pround,
    sql_davg,
    sql_dsum,
    sql_pround,
)
from pyspark_distributed_kmodes_spark.functions.shingles import shingles
from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold, _sql_md5fold
from pyspark_distributed_kmodes_spark.operators.curation2 import _dterm, _sql_dterm
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import table


_I_SHINGLE_CTE = """
shingles AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                  i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingle
    FROM documents
  ) t
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
)"""


# ---------------------------------------------------------------------------
# i01 — incremental near-dup graph maintenance (edge-set reconciliation)

_I01_THRESH = 0.2


@query(
    "qi01_incremental_neardup_edges",
    oracle=f"""
WITH {_I_SHINGLE_CTE.lstrip()},
full_pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), full_edges AS (
  SELECT p.u, p.v FROM full_pairs p
  JOIN sizes sa ON sa.doc_id = p.u JOIN sizes sb ON sb.doc_id = p.v
  WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) >= {_I01_THRESH}
), base_edges AS (
  SELECT u, v FROM full_edges WHERE u % 3 <> 0 AND v % 3 <> 0
), delta_pairs AS (
  SELECT LEAST(d.doc_id, o.doc_id) AS u, GREATEST(d.doc_id, o.doc_id) AS v,
         COUNT(DISTINCT d.shingle) AS n_common
  FROM shingles d JOIN shingles o ON d.shingle = o.shingle AND d.doc_id <> o.doc_id
  WHERE d.doc_id % 3 = 0
  GROUP BY 1, 2
), delta_edges AS (
  SELECT p.u, p.v FROM delta_pairs p
  JOIN sizes sa ON sa.doc_id = p.u JOIN sizes sb ON sb.doc_id = p.v
  WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) >= {_I01_THRESH}
), incr AS (
  SELECT u, v FROM base_edges UNION SELECT u, v FROM delta_edges
)
SELECT
  CAST((SELECT COUNT(*) FROM full_edges) AS BIGINT) AS n_full,
  CAST((SELECT COUNT(*) FROM base_edges) AS BIGINT) AS n_base_base,
  CAST((SELECT COUNT(*) FROM full_edges WHERE u % 3 = 0 OR v % 3 = 0) AS BIGINT) AS n_delta_touching,
  CAST((SELECT COUNT(*) FROM incr) AS BIGINT) AS n_incremental,
  CAST((SELECT COUNT(*) FROM full_edges f
        WHERE NOT EXISTS (SELECT 1 FROM incr i WHERE i.u = f.u AND i.v = f.v)) AS BIGINT) AS n_missing,
  CAST((SELECT COUNT(*) FROM incr i
        WHERE NOT EXISTS (SELECT 1 FROM full_edges f WHERE f.u = i.u AND f.v = i.v)) AS BIGINT) AS n_extra,
  ((SELECT COUNT(*) FROM full_edges f
    WHERE NOT EXISTS (SELECT 1 FROM incr i WHERE i.u = f.u AND i.v = f.v)) = 0
   AND
   (SELECT COUNT(*) FROM incr i
    WHERE NOT EXISTS (SELECT 1 FROM full_edges f WHERE f.u = i.u AND f.v = i.v)) = 0) AS incremental_complete
""",
    tags=("dedup", "graph", "audit"),
    bench=True,
)
def qi01_incremental_neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup GRAPH maintenance — g02's base+delta pattern
    lifted from exact dedup to the MinHash/shingle similarity graph (the
    actual production near-dup loop): the corpus arrives as a base
    snapshot (doc_id % 3 != 0) plus a delta batch; the incremental path
    computes base-base edges once from the base-only run, then on delta
    arrival pairs ONLY delta docs against the stored inverted-index
    entries to discover every edge touching a delta doc — it never
    re-pairs base docs. The audit reconciles (base-base ∪
    delta-touching) against a full recompute: missing/extra must be 0,
    which holds because pair Jaccard depends only on the two docs'
    shingle sets.

    Scale: the delta pass expands only bucket pairs touching a delta
    doc — cost proportional to the DELTA's bucket membership, not the
    corpus; the stored state is the inverted index (per-shingle doc
    lists) + per-doc sizes, exactly what an append pipeline persists.
    The three pair sets (full / base-run / delta-touching) expand
    INDEPENDENTLY from that index — the base run works on each
    bucket restricted to base members, which IS the pre-delta index
    entry, not a filter of the full run's pair output. Cites the same
    edge rule as qd01/qf04 (word-trigram Jaccard >= 0.2).
    """
    d = table(spark, sf_dir, "documents")
    # ONE shingle index (the stored state) feeds every path: a doc's
    # shingle set is independent of the rest of the corpus, so the
    # base-only run's shingles are exactly sh_all filtered to base —
    # computing them once is identical to two runs, minus a second
    # scan+explode (bench: i01 5.8 s -> shared-index form).
    sh_all = shingles(d)
    sizes = sh_all.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    sizes = sizes.transform(cut_lineage)
    sa = sizes.select(F.col("doc_id").alias("u"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("v"), F.col("n_shingles").alias("nb"))

    def edges_from(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(sa, "u")
            .join(sb, "v")
            .filter(
                F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
                >= _I01_THRESH
            )
            .select("u", "v")
        )

    # The inverted index as per-shingle sorted doc lists (ONE grouped
    # collect — round-13 optimization: the former three self-joins of
    # sh_all each paid two exchanges + a join for pair sets this frame
    # expands locally). Buckets of one doc pair with nothing and are
    # dropped up front.
    buckets = (
        sh_all.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .transform(cut_lineage)  # reused by the three pair expansions
    )

    def pair_counts(ds_col, pred=None) -> DataFrame:
        """(u, v, n_common) from local in-bucket expansion of i < j
        pairs of the (possibly locally filtered) bucket doc list."""
        b = buckets.select(ds_col.alias("ds")).filter(F.size("ds") >= 2)
        member = b.select(F.posexplode("ds").alias("i", "u"), "ds")
        p = member.select(
            "u", F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("v")
        )
        if pred is not None:
            p = p.filter(pred)
        return p.groupBy("u", "v").agg(F.count(F.lit(1)).alias("n_common"))

    full_pairs = pair_counts(F.col("ds"))
    full = edges_from(full_pairs).transform(cut_lineage)  # reused by 3 counters
    # base-only run: pairs among base docs — each bucket restricted to
    # its base members IS that bucket in the pre-delta index (shingle
    # sets are per-doc)
    base_pairs = pair_counts(F.filter("ds", lambda x: x % 3 != 0))
    base_edges = edges_from(base_pairs)
    # incremental: delta docs paired against the full index entry —
    # every in-bucket pair touching a delta doc, each shared shingle
    # counted once (the bucket holds distinct docs per shingle)
    delta_pairs = pair_counts(
        F.col("ds"), pred=(F.col("u") % 3 == 0) | (F.col("v") % 3 == 0)
    )
    delta_edges = edges_from(delta_pairs)
    incr = base_edges.unionByName(delta_edges).distinct().transform(cut_lineage)

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    missing = full.join(incr, ["u", "v"], "left_anti")
    extra = incr.join(full, ["u", "v"], "left_anti")
    out = (
        cnt(full, "n_full")
        .crossJoin(F.broadcast(cnt(base_edges, "n_base_base")))
        .crossJoin(
            F.broadcast(
                cnt(full.filter((F.col("u") % 3 == 0) | (F.col("v") % 3 == 0)), "n_delta_touching")
            )
        )
        .crossJoin(F.broadcast(cnt(incr, "n_incremental")))
        .crossJoin(F.broadcast(cnt(missing, "n_missing")))
        .crossJoin(F.broadcast(cnt(extra, "n_extra")))
    )
    return out.withColumn(
        "incremental_complete", (F.col("n_missing") == 0) & (F.col("n_extra") == 0)
    )


# ---------------------------------------------------------------------------
# i02 — parquet-sink snapshot diff (time travel audit)


@query(
    "qi02_snapshot_diff_timetravel",
    oracle="""
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_v1,
  CAST(COUNT(*) FILTER (WHERE doc_id % 17 <> 3) + COUNT(*) FILTER (WHERE doc_id % 13 = 5) AS BIGINT) AS n_v2,
  CAST(COUNT(*) FILTER (WHERE doc_id % 13 = 5) AS BIGINT) AS n_added,
  CAST(COUNT(*) FILTER (WHERE doc_id % 17 = 3) AS BIGINT) AS n_deleted,
  CAST(COUNT(*) FILTER (WHERE doc_id % 17 <> 3 AND doc_id % 11 = 0 AND upper(text) <> text) AS BIGINT) AS n_changed,
  CAST(COUNT(*) FILTER (WHERE doc_id % 17 <> 3
        AND NOT (doc_id % 11 = 0 AND upper(text) <> text)) AS BIGINT) AS n_unchanged,
  CAST(SUM(len(text)) FILTER (WHERE doc_id % 17 <> 3)
       + SUM(len(text)) FILTER (WHERE doc_id % 13 = 5) AS BIGINT) AS chars_v2
FROM documents
""",
    tags=("source", "cdc", "audit"),
)
def qi02_snapshot_diff_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff over the parquet SINK (poor-man's time travel,
    pairing qb39's null-safe diff semantics with real files): v1 =
    documents written to parquet; v2 = v1 with a deterministic CDC
    batch applied (DELETE doc_id%17==3, UPDATE text->upper for
    doc_id%11==0 survivors, INSERT clones id+1000000 for doc_id%13==5)
    written as a second snapshot; both snapshots are read BACK from
    disk and diffed row-level by a full-outer join on doc_id with an
    md5 content fingerprint. The oracle derives the same class counts
    straight from the rules, so hash-match proves the sink round-trip
    and the diff classification together.

    Scale: the diff is one full-outer hash join on the snapshot key
    with md5 fingerprints — the standard snapshot-reconciliation shape;
    no row ever leaves the JVM. Idempotent per-run temp dir, eager
    materialization, cleanup in finally (h10/qc01 discipline).
    """
    import shutil

    base = scratch_dir("qi02_snap")
    try:
        d = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
        d.write.mode("overwrite").parquet(base + "/v1")
        survivors = d.filter(F.col("doc_id") % 17 != 3)
        updated = survivors.withColumn(
            "text",
            F.when(F.col("doc_id") % 11 == 0, F.upper("text")).otherwise(F.col("text")),
        )
        inserts = d.filter(F.col("doc_id") % 13 == 5).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text", F.lit("ins").alias("source")
        )
        updated.unionByName(inserts).write.mode("overwrite").parquet(base + "/v2")

        v1 = spark.read.parquet(base + "/v1").select(
            "doc_id", F.md5("text").alias("fp1"), F.length("text").alias("len1")
        )
        v2 = spark.read.parquet(base + "/v2").select(
            "doc_id", F.md5("text").alias("fp2"), F.length("text").alias("len2")
        )
        j = v1.join(v2, "doc_id", "full_outer")
        out = j.agg(
            F.sum(F.col("fp1").isNotNull().cast("int")).cast("bigint").alias("n_v1"),
            F.sum(F.col("fp2").isNotNull().cast("int")).cast("bigint").alias("n_v2"),
            F.sum((F.col("fp1").isNull() & F.col("fp2").isNotNull()).cast("int"))
            .cast("bigint")
            .alias("n_added"),
            F.sum((F.col("fp2").isNull() & F.col("fp1").isNotNull()).cast("int"))
            .cast("bigint")
            .alias("n_deleted"),
            F.sum(
                (F.col("fp1").isNotNull() & F.col("fp2").isNotNull() & (F.col("fp1") != F.col("fp2"))).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_changed"),
            F.sum(
                (F.col("fp1").isNotNull() & F.col("fp2").isNotNull() & (F.col("fp1") == F.col("fp2"))).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_unchanged"),
            F.sum("len2").cast("bigint").alias("chars_v2"),
        )
        return out.transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# i03 — end-to-end multimodal join pipeline


@query(
    "qi03_multimodal_join_pipeline",
    oracle=f"""
WITH ev AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         {sql_dsum('value')} AS value_sum
  FROM events GROUP BY user_id
), per_doc AS (
  SELECT d.source, e.label,
         d.n_chars,
         {sql_pround('sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)))', 9)} AS norm9,
         COALESCE(v.n_events, 0) AS n_events,
         COALESCE(v.value_sum, 0.0) AS value_sum
  FROM documents d
  JOIN embeddings e ON e.vec_id = d.doc_id
  LEFT JOIN ev v ON v.user_id = d.doc_id
)
SELECT source, CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       {sql_dsum('norm9')} AS norm_sum,
       CAST(SUM(n_events) AS BIGINT) AS events_sum,
       {sql_dsum('value_sum')} AS value_total
FROM per_doc
GROUP BY source, label
ORDER BY source, label
""",
    tags=("multimodal", "join"),
)
def qi03_multimodal_join_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MULTIMODAL pipeline in one oracle-gated query: the
    text modality (documents), the vector modality (embeddings, joined
    on vec_id = doc_id), and the behavioral modality (events,
    pre-aggregated per user and routed on user_id = doc_id) meet in a
    single plan — the SURVEY §2 "multimodal columns" row as an
    integrated pipeline rather than per-modality components. Per-doc
    vector L2 norms are computed JVM-side with a sequential
    F.aggregate fold (array order is fixed, so the float fold is
    engine-identical — the q67 idiom), stabilized with pround(9), then
    DECIMAL-summed per (source, label) group.

    Scale: events collapse to per-user partials BEFORE the join (the
    pre-aggregate-then-join rule), the doc⋈embedding join is a co-keyed
    equi-join, and norms never leave the row — no explode of the
    64-wide vectors into 64x rows.
    """
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    ev = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"), dsum("value").alias("value_sum"))
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    per_doc = (
        d.join(e, d.doc_id == e.vec_id)
        .join(ev, d.doc_id == ev.user_id, "left")
        .select(
            "source",
            F.col("label").cast("bigint").alias("label"),
            "n_chars",
            pround(norm, 9).alias("norm9"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("value_sum", F.lit(0.0)).alias("value_sum"),
        )
    )
    return (
        per_doc.groupBy("source", "label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_sum"),
            dsum("norm9").alias("norm_sum"),
            F.sum("n_events").cast("bigint").alias("events_sum"),
            dsum("value_sum").alias("value_total"),
        )
        .orderBy("source", "label")
    )


# ---------------------------------------------------------------------------
# i04 — subsample stability audit (md5 halves)

_I04_TOL = 5.0  # abs tolerance on the half-mean price gap


@query(
    "qi04_subsample_stability",
    oracle=f"""
WITH tagged AS (
  SELECT l_extendedprice, l_discount,
         {_sql_md5fold("CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)")} % 2 AS half
  FROM lineitem
), halves AS (
  SELECT CAST(half AS INTEGER) AS half,
         CAST(COUNT(*) AS BIGINT) AS n,
         {sql_pround(sql_davg('l_extendedprice'), 6)} AS mean_price,
         {sql_pround(sql_davg('l_discount'), 9)} AS mean_discount
  FROM tagged GROUP BY 1
), gap AS (
  SELECT {sql_pround('abs(MAX(mean_price) - MIN(mean_price))', 6)} AS price_gap
  FROM halves
)
SELECT h.half, h.n, h.mean_price, h.mean_discount, g.price_gap,
       g.price_gap < {_I04_TOL} AS stable
FROM halves h CROSS JOIN gap g
ORDER BY h.half
""",
    tags=("statistics", "audit", "sampling"),
)
def qi04_subsample_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsample-stability audit: lineitem is split into two DISJOINT
    deterministic md5 halves (the engine-portable coin flip — never a
    stride, per the qf/h12 fixed-budget sampling lesson) and per-half
    exact-decimal means must agree within a tolerance. This is the
    production drift probe for "is my statistic an artifact of which
    shard I read": any keyed subset of an i.i.d.-keyed fact table is an
    unbiased sample, so half-means that disagree flag either data skew
    correlated with the key or a broken ingest.

    Scale: one scan, one 2-group aggregate, 1-row gap broadcast — the
    audit costs the same as the statistic it audits.
    """
    li = table(spark, sf_dir, "lineitem")
    tagged = li.select(
        "l_extendedprice",
        "l_discount",
        (
            _md5fold(
                F.concat_ws("-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
            )
            % 2
        ).alias("half"),
    )
    halves = tagged.groupBy(F.col("half").cast("int").alias("half")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        pround(davg("l_extendedprice"), 6).alias("mean_price"),
        pround(davg("l_discount"), 9).alias("mean_discount"),
    )
    gap = halves.agg(
        pround(F.abs(F.max("mean_price") - F.min("mean_price")), 6).alias("price_gap")
    )
    return (
        halves.crossJoin(F.broadcast(gap))
        .withColumn("stable", F.col("price_gap") < _I04_TOL)
        .orderBy("half")
    )


# ---------------------------------------------------------------------------
# i05 — grouped quantile rollup with mergeable histograms

_I05_QS = ((50, "p50"), (90, "p90"))


@query(
    "qi05_grouped_quantile_rollup",
    oracle="""
WITH ranked AS (
  SELECT o_orderpriority AS grp, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), per_grp AS (
  SELECT grp,
         CAST(MAX(n) AS BIGINT) AS n,
         MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN o_totalprice END) AS p50,
         MIN(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN o_totalprice END) AS p90
  FROM ranked GROUP BY grp
), granked AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
), allrow AS (
  SELECT 'ALL' AS grp,
         CAST(MAX(n) AS BIGINT) AS n,
         MIN(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN o_totalprice END) AS p50,
         MIN(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN o_totalprice END) AS p90
  FROM granked
)
SELECT grp, n, p50, p90, TRUE AS merged_agrees FROM per_grp
UNION ALL
SELECT grp, n, p50, p90, TRUE AS merged_agrees FROM allrow
ORDER BY grp
""",
    tags=("statistics", "rollup", "audit"),
)
def qi05_grouped_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped EXACT disc quantiles with a MERGEABLE rollup: per-
    priority p50/p90 of order value (the qf23 rank convention,
    partitioned windows), plus an ALL row whose quantiles are read off
    the per-group value HISTOGRAMS merged by addition (h16's algebra
    generalized to rollup levels: group partials -> parent level, no
    re-scan of the fact table for the parent). merged_agrees gates the
    merged ALL row against the direct global disc quantile.

    Scale: per-group quantiles use group-partitioned rank windows; the
    rollup level reuses the (grp, value, count) histograms — at 100 TB
    the parent level costs one merge-groupBy over histograms, not a
    second fact scan. The merged cumulative read uses the h16
    two-level bucket construction, never a single-partition row pass.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    wc = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        F.col("o_orderpriority").alias("grp"),
        "o_totalprice",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    per_grp = ranked.groupBy("grp").agg(
        F.max("n").cast("bigint").alias("n"),
        *[
            F.min(
                F.when(
                    F.col("rn") == F.ceil(q / 100.0 * F.col("n")).cast("bigint"),
                    F.col("o_totalprice"),
                )
            ).alias(name)
            for q, name in _I05_QS
        ],
    )
    # mergeable rollup: per-group histograms -> additive merge -> ALL row
    hist = o.groupBy("o_orderpriority", F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    ).transform(cut_lineage)  # (group, value) dictionary; merge + per-group consumers (scan-lint)
    merged = hist.groupBy("v").agg(F.sum("c").alias("c"))
    bkt = merged.withColumn("bkt", F.floor(F.col("v") / F.lit(1000.0)).cast("bigint"))
    wb = Window.orderBy("bkt")  # bounded: one row per 1000-wide price bucket
    offs = (
        bkt.groupBy("bkt")
        .agg(F.sum("c").alias("bc"))
        .withColumn("off", F.sum("bc").over(wb) - F.col("bc"))
        .select("bkt", "off")
    )
    wvb = Window.partitionBy("bkt").orderBy("v")
    cum = (
        bkt.join(offs, "bkt")
        .withColumn("cum", F.col("off") + F.sum("c").over(wvb))
        .crossJoin(F.broadcast(merged.agg(F.sum("c").alias("n"))))
    )
    mall = cum.agg(
        F.max("n").cast("bigint").alias("n"),
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(q / 100.0 * F.col("n")).cast("bigint"), F.col("v")
                )
            ).alias(f"m_{name}")
            for q, name in _I05_QS
        ],
    )
    # direct global disc quantile (gate for the merged path)
    wg = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    granked = o.select(
        "o_totalprice",
        F.row_number().over(wg).cast("bigint").alias("rn"),
    ).crossJoin(F.broadcast(o.agg(F.count(F.lit(1)).alias("n"))))
    allq = granked.agg(
        F.max("n").cast("bigint").alias("n"),
        *[
            F.min(
                F.when(
                    F.col("rn") == F.ceil(q / 100.0 * F.col("n")).cast("bigint"),
                    F.col("o_totalprice"),
                )
            ).alias(name)
            for q, name in _I05_QS
        ],
    )
    agree = None
    for _, name in _I05_QS:
        c = F.col(name) == F.col(f"m_{name}")
        agree = c if agree is None else (agree & c)
    allrow = (
        allq.crossJoin(F.broadcast(mall.select(*[F.col(f"m_{n}") for _, n in _I05_QS])))
        .select(
            F.lit("ALL").alias("grp"),
            "n",
            *[F.col(name) for _, name in _I05_QS],
            agree.alias("merged_agrees"),
        )
    )
    return (
        per_grp.withColumn("merged_agrees", F.lit(True))
        .select("grp", "n", "p50", "p90", "merged_agrees")
        .unionByName(allrow)
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# i06 — grouped OLS regression from exact moments


@query(
    "qi06_grouped_ols_regression",
    oracle=f"""
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,3)) * CAST(l_quantity AS DECIMAL(15,3))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,3)) * CAST(l_extendedprice AS DECIMAL(15,3))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(15,3)) * CAST(l_extendedprice AS DECIMAL(15,3))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {sql_pround('(n * sxy - sx * sy) / (n * sxx - sx * sx)', 6)} AS slope,
       {sql_pround('(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n', 6)} AS intercept,
       {sql_pround('((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy))', 6)} AS r2
FROM m ORDER BY l_returnflag
""",
    tags=("statistics", "ml"),
)
def qi06_grouped_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS (price ~ quantity per return flag) assembled from
    EXACT decimal moments — the closed-form regression every warehouse
    runs for trend lines, done the qg16 way: n/sx/sy from DECIMAL(25,6)
    sums, second moments from exact DECIMAL(15,3)xDECIMAL(15,3)
    products (source values carry <=2 fractional digits so the casts
    are exact; no per-term float rounding anywhere), slope/intercept/r2
    from ONE identical float expression per group on both engines.

    Scale: a single map-side-combinable grouped aggregate — 6 moments
    per group, one scan, partitioning-invariant by construction.
    """
    li = table(spark, sf_dir, "lineitem")
    d3 = lambda c: F.col(c).cast("decimal(15,3)")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).cast("double").alias("sy"),
        F.sum(d3("l_quantity") * d3("l_quantity")).cast("double").alias("sxx"),
        F.sum(d3("l_extendedprice") * d3("l_extendedprice")).cast("double").alias("syy"),
        F.sum(d3("l_quantity") * d3("l_extendedprice")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        "n",
        pround(slope, 6).alias("slope"),
        pround((sy - slope * sx) / n, 6).alias("intercept"),
        pround(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# i07 — audience overlap (exact Jaccard between event-type user sets)


@query(
    "qi07_audience_overlap",
    oracle=f"""
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b, i.n_both,
       {sql_pround('CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both)', 9)} AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
ORDER BY i.type_a, i.type_b
""",
    tags=("events", "statistics"),
)
def qi07_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience-overlap matrix: Jaccard similarity between the
    user sets of every event-type pair — the segment-overlap question
    (qb36 answers it with theta sketches; this is the exact
    counterpart, feasible because the audience fits the distinct
    collapse). Distinct (type, user) FIRST, then a user-keyed self-join
    — only co-occurring users ever pair, and the pair space is bounded
    by |types|^2 = 25.

    Scale: the distinct collapse is the whole trick — the join input is
    one row per (type, user), so the self-join on user produces at most
    |types|^2 rows per user, never |events|^2.
    """
    tu = table(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    tu = tu.transform(cut_lineage)  # reused three times below
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.alias("a")
    b = tu.alias("b")
    inter = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "n_both",
            pround(
                F.col("n_both").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_both")), 9
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# i08 — RFM segmentation


@query(
    "qi08_rfm_segments",
    oracle=f"""
WITH maxd AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders
), cust AS (
  SELECT o_custkey,
         CAST((SELECT d FROM maxd) - MAX(CAST(o_orderdate AS DATE)) AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         {sql_dsum('o_totalprice')} AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, monetary,
         CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS INTEGER) AS r_score,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS INTEGER) AS f_score,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS INTEGER) AS m_score
  FROM cust
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_pround(sql_dsum('monetary'), 6)} AS monetary_sum
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
""",
    tags=("relational", "statistics"),
)
def qi08_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM scoring: per customer,
    Recency (days since last order vs corpus max date), Frequency
    (order count), Monetary (exact decimal spend); each scored into
    quartiles with ntile(4) over a TOTAL order (metric + custkey
    tie-break, so the quartile assignment is deterministic on both
    engines — ntile without a unique order is partition-order
    dependent), then rolled up to the 4x4x4 segment grid.

    Scale: the per-customer aggregate is map-side combinable; the three
    ntile windows are global sorts over the CUSTOMER dimension (not the
    fact table) — at 100 TB of orders the customer table is the small
    side; for a customer dimension too big for one sort, swap ntile for
    fixed thresholds from i05-style merged quantiles.
    """
    o = table(spark, sf_dir, "orders")
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("d"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff(F.col("d"), F.col("last_d")).cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = cust.select(
        "o_custkey",
        "monetary",
        F.ntile(4).over(Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))).alias("r_score"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))).alias("f_score"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            pround(dsum("monetary"), 6).alias("monetary_sum"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# i09 — mutual information cells (returnflag x linestatus)


@query(
    "qi09_mutual_information",
    oracle=f"""
WITH joint AS (
  SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM lineitem GROUP BY 1, 2
), mx AS (
  SELECT l_returnflag, SUM(n_xy) AS n_x FROM joint GROUP BY 1
), my AS (
  SELECT l_linestatus, SUM(n_xy) AS n_y FROM joint GROUP BY 1
), tot AS (
  SELECT SUM(n_xy) AS n FROM joint
)
SELECT j.l_returnflag, j.l_linestatus, j.n_xy,
       {sql_pround('ln(CAST(j.n_xy AS DOUBLE) * t.n / (x.n_x * y.n_y))', 9)} AS pmi9,
       {sql_pround('(CAST(j.n_xy AS DOUBLE) / t.n) * ln(CAST(j.n_xy AS DOUBLE) * t.n / (x.n_x * y.n_y))', 9)} AS mi_term9
FROM joint j
JOIN mx x ON x.l_returnflag = j.l_returnflag
JOIN my y ON y.l_linestatus = j.l_linestatus
CROSS JOIN tot t
ORDER BY j.l_returnflag, j.l_linestatus
""",
    tags=("statistics",),
)
def qi09_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-dependence profiling via pointwise mutual information
    between two categorical columns (return flag x line status) — the
    information-theoretic sibling of qg15's chi-square: per joint cell,
    the PMI and its MI contribution p(x,y)·ln(p(x,y)/(p(x)p(y))).
    Columns with high MI are redundant for stratification and leak
    labels in train/test splits — this is the audit that catches it.

    Scale: one grouped count (bounded cells: |X|·|Y|), marginals from
    the CELLS (no second scan), 1-row total broadcast — cost is the
    joint histogram, never the fact table twice.
    """
    li = table(spark, sf_dir, "lineitem")
    joint = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    )
    joint = joint.transform(cut_lineage)  # bounded cells, reused 3x
    mx = joint.groupBy("l_returnflag").agg(F.sum("n_xy").alias("n_x"))
    my = joint.groupBy("l_linestatus").agg(F.sum("n_xy").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").alias("n"))
    ratio = F.col("n_xy").cast("double") * F.col("n") / (F.col("n_x") * F.col("n_y"))
    return (
        joint.join(F.broadcast(mx), "l_returnflag")
        .join(F.broadcast(my), "l_linestatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_xy",
            pround(F.log(ratio), 9).alias("pmi9"),
            pround((F.col("n_xy").cast("double") / F.col("n")) * F.log(ratio), 9).alias("mi_term9"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# i10 — edit-distance blocking join

_I10_PREFIX_LEN = 64
_I10_CLOSE = 40


@query(
    "qi10_levenshtein_blocked_join",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, string_split(text, ' ')[1] AS blk,
         substr(text, 1, {_I10_PREFIX_LEN}) AS head
  FROM documents
), pairs AS (
  SELECT a.source, levenshtein(a.head, b.head) AS lev
  FROM keyed a JOIN keyed b
    ON a.source = b.source AND a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
       CAST(COUNT(*) FILTER (WHERE lev <= {_I10_CLOSE}) AS BIGINT) AS n_close,
       CAST(MIN(lev) AS BIGINT) AS min_lev,
       {sql_pround('CAST(SUM(lev) AS DOUBLE) / COUNT(*)', 6)} AS avg_lev
FROM pairs
GROUP BY source
ORDER BY source
""",
    tags=("text", "dedup", "join"),
)
def qi10_levenshtein_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join with BLOCKING — the record-linkage
    primitive for fuzzy matching (typo'd names, OCR'd text) that
    n-gram Jaccard misses: candidate pairs come from a cheap blocking
    key (source, first word), then exact Levenshtein on a fixed
    {_I10_PREFIX_LEN}-char head decides closeness. Both engines ship
    the same Wagner-Fischer levenshtein builtin, so the distances are
    oracle-gated integers, not a property test.

    Scale: NEVER all-pairs — the blocking key bounds each bucket (the
    qd04 record-linkage discipline), the compared string is clamped to
    {_I10_PREFIX_LEN} chars so each comparison is O(k^2) constant, and
    the output is a per-source aggregate. Production tightens the block
    key (sorted-neighborhood, phonetic codes) — same plan shape.
    """
    d = table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "source",
        F.split("text", " ").getItem(0).alias("blk"),
        F.substring("text", 1, _I10_PREFIX_LEN).alias("head"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.source").alias("source"), F.levenshtein("a.head", "b.head").alias("lev"))
    return (
        pairs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
            F.sum((F.col("lev") <= _I10_CLOSE).cast("int")).cast("bigint").alias("n_close"),
            F.min("lev").cast("bigint").alias("min_lev"),
            pround(F.sum("lev").cast("double") / F.count(F.lit(1)), 6).alias("avg_lev"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# i11 — CUSUM change-point detection on daily revenue


@query(
    "qi11_cusum_changepoint",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, {sql_dsum('o_totalprice')} AS rev
  FROM orders GROUP BY 1
), stats AS (
  SELECT {sql_dsum('rev')} / COUNT(*) AS mu, COUNT(*) AS n_days FROM daily
), cusum AS (
  SELECT d.day,
         SUM(d.rev - s.mu) OVER (ORDER BY d.day ASC) AS c
  FROM daily d CROSS JOIN stats s
), peak AS (
  SELECT day, c FROM cusum ORDER BY abs(c) DESC, day ASC LIMIT 1
)
SELECT CAST(p.day - DATE '1970-01-01' AS BIGINT) AS changepoint_day,
       {sql_pround('p.c', 6)} AS cusum_peak,
       CAST(s.n_days AS BIGINT) AS n_days,
       {sql_pround('s.mu', 6)} AS daily_mean
FROM peak p CROSS JOIN stats s
""",
    tags=("timeseries", "statistics"),
)
def qi11_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily revenue series: the
    cumulative sum of deviations from the global mean peaks (in
    absolute value) at the most likely mean-shift point — the classic
    sequential drift detector, here as one deterministic batch query
    (argmax with a unique day tie-break).

    Scale: the fact table collapses to ONE row per day first (exact
    decimal sums), so the ordered CUSUM window runs over the bounded
    day lattice (~calendar days), never over rows — the documented
    bounded-aggregate window pattern (see tests/test_plans_analytics
    lattice pins). The running float sum is order-identical on both
    engines because the day order is total.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum("o_totalprice").alias("rev")
    )
    stats = daily.agg(
        (dsum("rev") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    wd = Window.orderBy(F.asc("day"))  # bounded: one row per calendar day
    cusum = daily.crossJoin(F.broadcast(stats)).withColumn(
        "c", F.sum(F.col("rev") - F.col("mu")).over(wd)
    )
    peak = cusum.orderBy(F.abs(F.col("c")).desc(), F.asc("day")).limit(1)
    return peak.select(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast("bigint").alias(
            "changepoint_day"
        ),
        pround(F.col("c"), 6).alias("cusum_peak"),
        F.col("n_days"),
        pround(F.col("mu"), 6).alias("daily_mean"),
    )


# ---------------------------------------------------------------------------
# i12 — autocorrelation of the daily order-count series

_I12_LAGS = (1, 7, 30)


def _i12_sql_arm(k: int) -> str:
    return f"""
SELECT CAST({k} AS BIGINT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {sql_pround(
           "(COUNT(*) * CAST(SUM(a.cnt * b.cnt) AS DOUBLE) - CAST(SUM(a.cnt) AS DOUBLE) * SUM(b.cnt))"
           " / sqrt((COUNT(*) * CAST(SUM(a.cnt * a.cnt) AS DOUBLE) - CAST(SUM(a.cnt) AS DOUBLE) * SUM(a.cnt))"
           " * (COUNT(*) * CAST(SUM(b.cnt * b.cnt) AS DOUBLE) - CAST(SUM(b.cnt) AS DOUBLE) * SUM(b.cnt)))", 6)} AS acf
FROM daily a JOIN daily b ON b.day = a.day + {k}"""


@query(
    "qi12_autocorrelation",
    oracle="WITH daily AS (\n"
    "  SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt\n"
    "  FROM orders GROUP BY 1\n)"
    + " UNION ALL ".join(_i12_sql_arm(k) for k in _I12_LAGS)
    + " ORDER BY lag",
    tags=("timeseries", "statistics"),
)
def qi12_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1, 7, 30) of the daily order-count
    series — the seasonality detector behind qf26's weekday profile:
    each lag arm Pearson-correlates the day series with itself shifted
    by k days via a day-key equi-join (missing days drop out of the
    pair set on both engines identically). Counts are integers, so
    every moment is an EXACT int sum; the single float expression per
    arm is engine-identical, pround(6)-gated.

    Scale: the fact table collapses to the bounded day lattice first;
    each lag is a self-join ON THE LATTICE (~thousands of rows at any
    corpus size) — the fact scan happens once.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    daily = daily.transform(cut_lineage)  # bounded lattice, reused per lag
    out = None
    for k in _I12_LAGS:
        a = daily.alias("a")
        b = daily.alias("b")
        m = (
            a.join(b, F.col("b.day") == F.date_add(F.col("a.day"), k))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum(F.col("a.cnt")).alias("sx"),
                F.sum(F.col("b.cnt")).alias("sy"),
                F.sum(F.col("a.cnt") * F.col("a.cnt")).alias("sxx"),
                F.sum(F.col("b.cnt") * F.col("b.cnt")).alias("syy"),
                F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("sxy"),
            )
            .select(
                F.lit(k).cast("bigint").alias("lag"),
                "n_pairs",
                pround(
                    (
                        F.col("n_pairs") * F.col("sxy").cast("double")
                        - F.col("sx").cast("double") * F.col("sy")
                    )
                    / F.sqrt(
                        (
                            F.col("n_pairs") * F.col("sxx").cast("double")
                            - F.col("sx").cast("double") * F.col("sx")
                        )
                        * (
                            F.col("n_pairs") * F.col("syy").cast("double")
                            - F.col("sy").cast("double") * F.col("sy")
                        )
                    ),
                    6,
                ).alias("acf"),
            )
        )
        out = m if out is None else out.unionByName(m)
    return out.orderBy("lag")


# ---------------------------------------------------------------------------
# i13 — decile gains / lift table


@query(
    "qi13_decile_gains",
    oracle=f"""
WITH users AS (
  SELECT user_id,
         CAST({_sql_md5fold('CAST(user_id AS VARCHAR)')} % 10000 AS DOUBLE) / 10000 AS score,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INTEGER) AS label
  FROM events GROUP BY user_id
), deciled AS (
  SELECT score, label,
         CAST(ntile(10) OVER (ORDER BY score DESC, user_id ASC) AS INTEGER) AS decile
  FROM users
), per_dec AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(label) AS BIGINT) AS n_pos
  FROM deciled GROUP BY decile
), tot AS (
  SELECT SUM(n_users) AS nu, SUM(n_pos) AS np FROM per_dec
)
SELECT d.decile, d.n_users, d.n_pos,
       {sql_pround('CAST(d.n_pos AS DOUBLE) / t.np', 6)} AS capture_rate,
       {sql_pround('CAST(SUM(d.n_pos) OVER (ORDER BY d.decile ASC) AS DOUBLE) / t.np', 6)} AS cum_capture,
       {sql_pround('(CAST(d.n_pos AS DOUBLE) / d.n_users) / (CAST(t.np AS DOUBLE) / t.nu)', 6)} AS lift
FROM per_dec d CROSS JOIN tot t
ORDER BY d.decile
""",
    tags=("ml", "statistics"),
)
def qi13_decile_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation gains/lift table: users are ranked by a
    deterministic pseudo-score (md5 lattice — engine-portable stand-in
    for a model score column), binned into score deciles (ntile with a
    unique tie-break), and each decile reports positive-capture rate,
    cumulative gains, and lift against the base rate of the
    'purchase' label. This is the offline eval every targeting model
    ships with, next to qf19's calibration curve.

    Scale: one per-user collapse (map-side combinable), a decile
    window over the USER dimension, then a 10-row table — the
    cumulative window runs over 10 rows.
    """
    e = table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("label")
    ).select(
        "user_id",
        ((_md5fold(F.col("user_id").cast("string")) % 10000).cast("double") / 10000).alias("score"),
        "label",
    )
    deciled = users.select(
        "score",
        "label",
        F.ntile(10).over(Window.orderBy(F.desc("score"), F.asc("user_id"))).alias("decile"),
    )
    per_dec = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )
    tot = per_dec.agg(F.sum("n_users").alias("nu"), F.sum("n_pos").alias("np"))
    wcum = Window.orderBy(F.asc("decile"))  # bounded: 10 rows
    return (
        per_dec.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "n_pos",
            pround(F.col("n_pos").cast("double") / F.col("np"), 6).alias("capture_rate"),
            pround(F.sum("n_pos").over(wcum).cast("double") / F.col("np"), 6).alias("cum_capture"),
            pround(
                (F.col("n_pos").cast("double") / F.col("n_users"))
                / (F.col("np").cast("double") / F.col("nu")),
                6,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# i14 — normalization idempotence + collision audit


@query(
    "qi14_normalization_idempotence",
    oracle="""
WITH normed AS (
  SELECT source,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
  FROM documents
), renormed AS (
  SELECT source, norm,
         trim(regexp_replace(regexp_replace(lower(norm), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS norm2
  FROM normed
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_distinct_norm,
       CAST(COUNT(*) - COUNT(DISTINCT norm) AS BIGINT) AS n_collisions,
       CAST(COUNT(*) FILTER (WHERE norm2 <> norm) AS BIGINT) AS n_not_idempotent,
       COUNT(*) FILTER (WHERE norm2 <> norm) = 0 AS idempotent
FROM renormed
GROUP BY source
ORDER BY source
""",
    tags=("text", "audit"),
)
def qi14_normalization_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-normalization pipeline audit: the canonical lowercase/
    punctuation-strip/whitespace-collapse normalizer is applied TWICE
    and the audit proves idempotence (norm(norm(x)) == norm(x) for
    every doc — the property that makes re-running a normalization
    stage safe in an incremental pipeline) plus per-source collision
    accounting (docs that become identical post-normalization — the
    input q94's normalized dedup consumes).

    Scale: two stateless projections and one grouped distinct — the
    idempotence check costs one extra map, no join. Regex semantics are
    the portable POSIX-class-free subset both engines implement
    identically.
    """
    d = table(spark, sf_dir, "documents")

    def norm(c: Column) -> Column:
        return F.trim(
            F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), " +", " ")
        )

    normed = d.select("source", norm(F.col("text")).alias("norm"))
    renormed = normed.withColumn("norm2", norm(F.col("norm")))
    return (
        renormed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("norm").cast("bigint").alias("n_distinct_norm"),
            (F.count(F.lit(1)) - F.countDistinct("norm")).cast("bigint").alias("n_collisions"),
            F.sum((F.col("norm2") != F.col("norm")).cast("int")).cast("bigint").alias(
                "n_not_idempotent"
            ),
        )
        .withColumn("idempotent", F.col("n_not_idempotent") == 0)
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# i15 — mergeable per-shard top-k

_I15_K = 20
_I15_SHARDS = 8


@query(
    "qi15_mergeable_topk",
    oracle=f"""
WITH sharded AS (
  SELECT o_orderkey, o_totalprice, o_orderkey % {_I15_SHARDS} AS shard,
         row_number() OVER (PARTITION BY o_orderkey % {_I15_SHARDS}
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS srn
  FROM orders
), merged AS (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM sharded WHERE srn <= {_I15_K}
), direct AS (
  SELECT o_orderkey,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
SELECT CAST(m.rank AS INTEGER) AS rank,
       CAST(m.o_orderkey AS BIGINT) AS o_orderkey,
       m.o_totalprice,
       m.o_orderkey = d.o_orderkey AS merge_agrees
FROM merged m JOIN direct d ON d.rank = m.rank
WHERE m.rank <= {_I15_K}
ORDER BY m.rank
""",
    tags=("relational", "audit"),
)
def qi15_mergeable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable top-k audit: per-shard top-{_I15_K} (shard =
    orderkey % {_I15_SHARDS}) are unioned and re-ranked, and the merged
    top-{_I15_K} must equal the direct global top-{_I15_K} row for row
    — the algebra (top-k of a union = top-k of per-part top-k's) that
    lets TakeOrderedAndProject run as tree-reduction partials at 100 TB
    instead of a global sort. The total order carries the orderkey
    tie-break, so both paths and both engines pick identical rows.

    Scale: the shard pass is a partitioned window (parallel per
    shard); the merge re-rank sees only shards x k = {_I15_SHARDS * _I15_K}
    rows; the direct path exists purely as the gate (Spark's own
    orderBy().limit() already executes as partial top-k).
    """
    o = table(spark, sf_dir, "orders")
    ws = Window.partitionBy("shard").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    sharded = o.withColumn("shard", F.col("o_orderkey") % _I15_SHARDS).withColumn(
        "srn", F.row_number().over(ws)
    )
    wm = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))  # bounded: shards*k rows
    merged = (
        sharded.filter(F.col("srn") <= _I15_K)
        .select("o_orderkey", "o_totalprice")
        .withColumn("rank", F.row_number().over(wm))
        .filter(F.col("rank") <= _I15_K)
    )
    direct = (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(_I15_K)
        .withColumn("rank", F.row_number().over(wm))
        .select(F.col("rank").alias("d_rank"), F.col("o_orderkey").alias("d_key"))
    )
    return (
        merged.join(F.broadcast(direct), merged.rank == direct.d_rank)
        .select(
            F.col("rank").cast("int").alias("rank"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_totalprice",
            (F.col("o_orderkey") == F.col("d_key")).alias("merge_agrees"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# i16 — multi-table null/blank/zero data-quality profile


def _i16_sql_arm(tbl: str, col: str, kind: str) -> str:
    null_expr = f"COUNT(*) FILTER (WHERE {col} IS NULL)"
    blank_expr = (
        f"COUNT(*) FILTER (WHERE {col} = '')" if kind == "s" else "CAST(0 AS BIGINT)"
    )
    zero_expr = (
        f"COUNT(*) FILTER (WHERE {col} = 0)" if kind == "n" else "CAST(0 AS BIGINT)"
    )
    return f"""
SELECT '{tbl}' AS table_name, '{col}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST({null_expr} AS BIGINT) AS n_null,
       CAST({blank_expr} AS BIGINT) AS n_blank,
       CAST({zero_expr} AS BIGINT) AS n_zero,
       {sql_pround(f'CAST({null_expr} AS DOUBLE) / COUNT(*)', 9)} AS null_rate
FROM {tbl}"""


_I16_COLS = (
    ("documents", "text", "s"),
    ("documents", "lang", "s"),
    ("documents", "n_chars", "n"),
    ("orders", "o_totalprice", "n"),
    ("orders", "o_orderpriority", "s"),
    ("events", "value", "n"),
    ("events", "props", "s"),
    ("lineitem", "l_discount", "n"),
)


@query(
    "qi16_null_profile",
    oracle=" UNION ALL ".join(_i16_sql_arm(t, c, k) for t, c, k in _I16_COLS)
    + " ORDER BY table_name, column_name",
    tags=("audit", "profile"),
)
def qi16_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table data-quality profile: per (table, column), NULL /
    blank-string / zero counts and the null rate — the first query any
    ingest pipeline runs against a new drop, extending qd16's
    single-table column profile across the schema in one registry
    entry.

    Scale: one single-scan multi-arm aggregate PER TABLE (each table
    is read once regardless of how many of its columns are profiled —
    grouped by table below), unioned into the bounded profile table.
    """
    by_table: dict[str, list] = {}
    for t, c, k in _I16_COLS:
        by_table.setdefault(t, []).append((c, k))
    out = None
    for t, cols in by_table.items():
        df = table(spark, sf_dir, t)
        for c, k in cols:
            nnull = F.sum(F.col(c).isNull().cast("int")).cast("bigint")
            nblank = (
                F.sum((F.col(c) == "").cast("int")).cast("bigint")
                if k == "s"
                else F.lit(0).cast("bigint")
            )
            nzero = (
                F.sum((F.col(c) == 0).cast("int")).cast("bigint")
                if k == "n"
                else F.lit(0).cast("bigint")
            )
            arm = df.agg(
                F.lit(t).alias("table_name"),
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.coalesce(nnull, F.lit(0)).alias("n_null"),
                F.coalesce(nblank, F.lit(0)).alias("n_blank"),
                F.coalesce(nzero, F.lit(0)).alias("n_zero"),
            ).withColumn(
                "null_rate", pround(F.col("n_null").cast("double") / F.col("n_rows"), 9)
            )
            out = arm if out is None else out.unionByName(arm)
    return out.orderBy("table_name", "column_name")


# ---------------------------------------------------------------------------
# i17 — HHI supplier concentration per part type


@query(
    "qi17_hhi_concentration",
    oracle=f"""
WITH rev AS (
  SELECT p.p_type, l.l_suppkey,
         CAST(SUM({_sql_dterm('l.l_extendedprice * (1 - l.l_discount)')}) AS DOUBLE) AS r
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), typ AS (
  SELECT p_type, SUM(CAST(r AS DECIMAL(25,6))) AS tr, COUNT(*) AS n_suppliers
  FROM rev GROUP BY 1
)
SELECT r.p_type,
       CAST(t.n_suppliers AS BIGINT) AS n_suppliers,
       {sql_pround(f"CAST(SUM({_sql_dterm('(r.r / CAST(t.tr AS DOUBLE)) * (r.r / CAST(t.tr AS DOUBLE))')}) AS DOUBLE)", 6)} AS hhi,
       {sql_pround('MAX(r.r / CAST(t.tr AS DOUBLE))', 6)} AS top1_share
FROM rev r JOIN typ t ON t.p_type = r.p_type
GROUP BY r.p_type, t.n_suppliers
ORDER BY r.p_type
""",
    tags=("statistics", "relational"),
)
def qi17_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue
    within each part type — the market-concentration statistic
    (sum of squared revenue shares) next to qd09's Gini: HHI near 1
    means one supplier owns the category (a single-point-of-failure /
    procurement-risk flag), near 1/n means a flat market.

    Scale: revenue collapses to (type, supplier) partials via exact
    decimal term sums (the q01 idiom) on ONE fact scan with a
    broadcast part-dim join; shares and their squares are
    pround->DECIMAL summed per type, so the float work happens on the
    bounded (type, supplier) table, partitioning-invariant.
    """
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.sum(_dterm(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("r")
        )
    )
    typ = rev.groupBy("p_type").agg(
        F.sum(F.col("r").cast("decimal(25,6)")).alias("tr"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    share = F.col("r") / F.col("tr").cast("double")
    return (
        rev.join(F.broadcast(typ), "p_type")
        .groupBy("p_type", "n_suppliers")
        .agg(
            pround(F.sum(_dterm(share * share)).cast("double"), 6).alias("hhi"),
            pround(F.max(share), 6).alias("top1_share"),
        )
        .select("p_type", "n_suppliers", "hhi", "top1_share")
        .orderBy("p_type")
    )


# ---------------------------------------------------------------------------
# i18 — salted aggregation audit

_I18_SALTS = 16


@query(
    "qi18_salted_agg_audit",
    oracle=f"""
WITH salted AS (
  SELECT l_returnflag,
         {_sql_md5fold("CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)")} % {_I18_SALTS} AS salt,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS s
  FROM lineitem GROUP BY 1, 2
), two_level AS (
  SELECT l_returnflag, CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS DOUBLE) AS price_sum
  FROM salted GROUP BY 1
), direct AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS price_sum
  FROM lineitem GROUP BY 1
)
SELECT t.l_returnflag, t.n, {sql_pround('t.price_sum', 6)} AS price_sum,
       (t.n = d.n AND t.price_sum = d.price_sum) AS salted_agrees
FROM two_level t JOIN direct d ON d.l_returnflag = t.l_returnflag
ORDER BY t.l_returnflag
""",
    tags=("relational", "audit", "skew"),
)
def qi18_salted_agg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-aggregation equivalence audit: the two-level salted sum
    (group by (key, md5-salt % {_I18_SALTS}), then re-group by key over
    the partials) must EXACTLY equal the direct grouped sum — the
    algebra that makes q39's salted skew join and every skewed groupBy
    safe. Exactness holds because both levels sum in DECIMAL; a
    float-summed version would NOT reconcile bit-for-bit, which is
    precisely why the engine's determinism rules exist.

    Scale: salting splits a hot key across {_I18_SALTS} reducers; the
    second level aggregates {_I18_SALTS} partials per key. The audit
    output is the per-key equality gate.
    """
    li = table(spark, sf_dir, "lineitem")
    salt = (
        _md5fold(
            F.concat_ws("-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
        )
        % _I18_SALTS
    )
    salted = li.groupBy("l_returnflag", salt.alias("salt")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).alias("s"),
    )
    two_level = salted.groupBy("l_returnflag").agg(
        F.sum("n").cast("bigint").alias("n"), F.sum("s").cast("double").alias("price_sum")
    )
    direct = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("d_n"),
        F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).cast("double").alias("d_sum"),
    )
    return (
        two_level.join(direct, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            pround(F.col("price_sum"), 6).alias("price_sum"),
            ((F.col("n") == F.col("d_n")) & (F.col("price_sum") == F.col("d_sum"))).alias(
                "salted_agrees"
            ),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# i19 — at-least-once replay dedup idempotency


@query(
    "qi19_replay_dedup_idempotency",
    oracle=f"""
WITH replayed AS (
  SELECT event_id, event_type, value, 0 AS tag FROM events
  UNION ALL
  SELECT event_id, event_type, value, 1 AS tag FROM events WHERE event_id % 7 = 0
), deduped AS (
  SELECT event_id, event_type, value
  FROM (
    SELECT event_id, event_type, value,
           row_number() OVER (PARTITION BY event_id ORDER BY tag ASC) AS rn
    FROM replayed
  ) t WHERE rn = 1
), agg_d AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, {sql_dsum('value')} AS value_sum
  FROM deduped GROUP BY 1
), agg_o AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, {sql_dsum('value')} AS value_sum
  FROM events GROUP BY 1
)
SELECT d.event_type, d.n, {sql_pround('d.value_sum', 6)} AS value_sum,
       (d.n = o.n AND d.value_sum = o.value_sum) AS exactly_once
FROM agg_d d JOIN agg_o o ON o.event_type = d.event_type
ORDER BY d.event_type
""",
    tags=("events", "streaming", "audit"),
)
def qi19_replay_dedup_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery made exactly-once, audited: the event
    stream is replayed with a deterministic duplicate subset
    (event_id % 7 == 0 delivered twice, tagged by arrival), dedup
    keeps the first arrival per event_id (keyed row_number — the
    batch twin of q34/the streaming dropDuplicates state), and the
    deduped aggregates must EXACTLY equal the original stream's. This
    is the idempotent-consumer contract every replayable sink relies
    on, stated as a hash-gated query.

    Scale: dedup is one keyed window (partitioned by event_id — fully
    parallel); aggregates are decimal-exact so the equality gate is
    bitwise, not approximate.
    """
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    replayed = e.withColumn("tag", F.lit(0)).unionByName(
        e.filter(F.col("event_id") % 7 == 0).withColumn("tag", F.lit(1))
    )
    wd = Window.partitionBy("event_id").orderBy(F.asc("tag"))
    deduped = (
        replayed.withColumn("rn", F.row_number().over(wd)).filter(F.col("rn") == 1).drop("rn", "tag")
    )
    agg_d = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), dsum("value").alias("value_sum")
    )
    agg_o = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("o_n"), dsum("value").alias("o_sum")
    )
    return (
        agg_d.join(agg_o, "event_type")
        .select(
            "event_type",
            "n",
            pround(F.col("value_sum"), 6).alias("value_sum"),
            ((F.col("n") == F.col("o_n")) & (F.col("value_sum") == F.col("o_sum"))).alias(
                "exactly_once"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# i20 — longest zero-order gap per nation (date spine + run-length)


@query(
    "qi20_longest_gap_runs",
    oracle="""
WITH span AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0, MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders
), spine AS (
  SELECT n.n_nationkey, n.n_name, CAST(gs.g AS DATE) AS day
  FROM nation n CROSS JOIN span s
  CROSS JOIN LATERAL (SELECT unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS g) gs
), daily AS (
  SELECT c.c_nationkey, CAST(o.o_orderdate AS DATE) AS day, COUNT(*) AS cnt
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), marked AS (
  SELECT sp.n_nationkey, sp.n_name, sp.day,
         COALESCE(d.cnt, 0) AS cnt,
         row_number() OVER (PARTITION BY sp.n_nationkey ORDER BY sp.day ASC) AS rn
  FROM spine sp LEFT JOIN daily d
    ON d.c_nationkey = sp.n_nationkey AND d.day = sp.day
), runs AS (
  SELECT n_nationkey, n_name,
         rn - row_number() OVER (PARTITION BY n_nationkey, (cnt = 0) ORDER BY rn ASC) AS grp,
         cnt
  FROM marked
), zero_runs AS (
  SELECT n_nationkey, n_name, COUNT(*) AS run_len
  FROM runs WHERE cnt = 0
  GROUP BY n_nationkey, n_name, grp
)
SELECT m.n_nationkey AS nationkey, m.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(COUNT(*) FILTER (WHERE m.cnt = 0) AS BIGINT) AS n_zero_days,
       CAST(COALESCE((SELECT MAX(run_len) FROM zero_runs z WHERE z.n_nationkey = m.n_nationkey), 0) AS BIGINT) AS longest_gap
FROM marked m
GROUP BY m.n_nationkey, m.n_name
ORDER BY m.n_nationkey
""",
    tags=("timeseries", "relational"),
)
def qi20_longest_gap_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap analysis: for every nation, the number of
    calendar days in the global order span with ZERO orders from that
    nation's customers, and the LONGEST consecutive zero-run — the
    islands-and-gaps (run-length) idiom (rn minus keyed rn = run id)
    that powers outage detection and freshness SLAs, complementing
    qd12's gap-FILL with gap MEASUREMENT.

    Scale: the spine is |nations| x |days| (bounded by dim x calendar,
    never by the fact table); the fact table collapses to (nation,
    day) partials first; run-length windows are partitioned per
    nation over the bounded day series.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    span = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        F.max(F.col("o_orderdate").cast("date")).alias("d1"),
    )
    spine = (
        n.select(F.col("n_nationkey").alias("nationkey"), F.col("n_name").alias("nation"))
        .crossJoin(F.broadcast(span))
        .select(
            "nationkey",
            "nation",
            F.explode(F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    daily = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wn = Window.partitionBy("nationkey").orderBy(F.asc("day"))
    marked = (
        spine.join(daily, ["nationkey", "day"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        .withColumn("rn", F.row_number().over(wn))
    )
    wz = Window.partitionBy("nationkey", F.col("cnt") == 0).orderBy(F.asc("rn"))
    runs = marked.withColumn("grp", F.col("rn") - F.row_number().over(wz))
    zero_runs = (
        runs.filter(F.col("cnt") == 0)
        .groupBy("nationkey", "nation", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("nationkey")
        .agg(F.max("run_len").alias("longest"))
    )
    return (
        marked.groupBy("nationkey", "nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum((F.col("cnt") == 0).cast("int")).cast("bigint").alias("n_zero_days"),
        )
        .join(zero_runs, "nationkey", "left")
        .select(
            "nationkey",
            "nation",
            "n_days",
            "n_zero_days",
            F.coalesce(F.col("longest"), F.lit(0)).cast("bigint").alias("longest_gap"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# i21 — join cardinality audit (explosion preflight)


@query(
    "qi21_join_cardinality_audit",
    oracle="""
WITH kl AS (
  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1
), ko AS (
  SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1
), pred AS (
  SELECT CAST(SUM(kl.c * ko.c) AS BIGINT) AS predicted,
         CAST(MAX(kl.c * ko.c) AS BIGINT) AS max_key_pairs
  FROM kl JOIN ko ON ko.k = kl.k
), act AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS actual
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT p.predicted, a.actual, p.max_key_pairs,
       CAST((SELECT COUNT(*) FROM kl) AS BIGINT) AS n_keys_left,
       CAST((SELECT COUNT(*) FROM ko) AS BIGINT) AS n_keys_right,
       p.predicted = a.actual AS estimate_exact
FROM pred p CROSS JOIN act a
""",
    tags=("relational", "audit", "planner"),
)
def qi21_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion preflight: the output cardinality of an equi-join
    equals the sum over matching keys of |left(k)|·|right(k)| — the
    identity a planner uses to predict a blow-up BEFORE paying for it.
    The audit computes the prediction from per-key histograms (tiny
    compared to the join), the actual join count, and the worst
    single-key pair product (the skew canary h19 salts on), and gates
    prediction == actual.

    Scale: at 100 TB you run the HISTOGRAM side only — two grouped
    counts and a key-join on the (much smaller) key dictionaries —
    and skip the join entirely if `predicted` or `max_key_pairs`
    exceeds budget. The actual-join arm here is the verification gate.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    kl = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count(F.lit(1)).cast("bigint").alias("cl"))
    ko = o.groupBy(F.col("o_orderkey").alias("k")).agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    pred = kl.join(ko, "k").agg(
        F.sum(F.col("cl") * F.col("co")).cast("bigint").alias("predicted"),
        F.max(F.col("cl") * F.col("co")).cast("bigint").alias("max_key_pairs"),
    )
    act = li.join(o, li.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).cast("bigint").alias("actual")
    )
    nl = kl.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys_left"))
    nr = ko.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys_right"))
    return (
        pred.crossJoin(F.broadcast(act))
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nr))
        .select(
            "predicted",
            "actual",
            "max_key_pairs",
            "n_keys_left",
            "n_keys_right",
            (F.col("predicted") == F.col("actual")).alias("estimate_exact"),
        )
    )


# ---------------------------------------------------------------------------
# i22 — key skew profile for join planning

_I22_KEYS = (
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
)


def _i22_sql_arm(tbl: str, col: str) -> str:
    return f"""
SELECT '{tbl}.{col}' AS key_name,
       CAST(SUM(kn) AS BIGINT) AS n_rows,
       CAST(SUM(nk) AS BIGINT) AS n_keys,
       CAST(MAX(freq) AS BIGINT) AS max_freq,
       CAST(MIN(CASE WHEN cum >= CAST(ceil(0.99 * tot) AS BIGINT) THEN freq END) AS BIGINT) AS p99_freq,
       {sql_pround('CAST(MAX(freq) AS DOUBLE) * MAX(nk_dummy) / SUM(kn)', 9)} AS top1_share,
       {sql_pround(
           'sqrt(greatest(CAST(SUM(f2) AS DOUBLE) / SUM(nk) - (CAST(SUM(kn) AS DOUBLE) / SUM(nk)) * (CAST(SUM(kn) AS DOUBLE) / SUM(nk)), 0.0))'
           ' / (CAST(SUM(kn) AS DOUBLE) / SUM(nk))', 6)} AS freq_cv
FROM (
  SELECT freq, nk, freq * nk AS kn, freq * freq * nk AS f2, 1 AS nk_dummy,
         SUM(nk) OVER (ORDER BY freq ASC) AS cum,
         SUM(nk) OVER () AS tot
  FROM (
    SELECT freq, CAST(COUNT(*) AS BIGINT) AS nk
    FROM (SELECT {col}, COUNT(*) AS freq FROM {tbl} GROUP BY {col}) kf
    GROUP BY freq
  ) fd
) t"""


@query(
    "qi22_key_skew_profile",
    oracle=" UNION ALL ".join(_i22_sql_arm(t, c) for t, c in _I22_KEYS) + " ORDER BY key_name",
    tags=("audit", "planner", "skew"),
)
def qi22_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile for the join planner: per join key, row/key
    counts, the hottest key's frequency and share, the p99 key
    frequency (disc convention over the FREQUENCY DICTIONARY), and the
    coefficient of variation of key frequencies — the statistics h19's
    skew planner thresholds on and i21's preflight multiplies,
    maintained as one profile table.

    Scale: per key column, one grouped count collapses the fact table
    to (key, freq); a second collapse to the frequency DICTIONARY
    (freq, n_keys) bounds the quantile window to |distinct
    frequencies| — tiny by construction (Zipfian tables have few
    distinct multiplicities), never a row-level or key-level sort.
    """
    out = None
    for tbl, col in _I22_KEYS:
        df = table(spark, sf_dir, tbl)
        kf = df.groupBy(F.col(col).alias("k")).agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        fd = kf.groupBy("freq").agg(F.count(F.lit(1)).cast("bigint").alias("nk"))
        wf = Window.orderBy(F.asc("freq"))  # bounded: frequency dictionary
        t = fd.select(
            "freq",
            "nk",
            (F.col("freq") * F.col("nk")).alias("kn"),
            (F.col("freq") * F.col("freq") * F.col("nk")).alias("f2"),
            F.sum("nk").over(wf).alias("cum"),
        ).crossJoin(F.broadcast(fd.agg(F.sum("nk").alias("tot"))))
        mean = F.sum("kn").cast("double") / F.sum("nk")
        arm = t.agg(
            F.lit(f"{tbl}.{col}").alias("key_name"),
            F.sum("kn").cast("bigint").alias("n_rows"),
            F.sum("nk").cast("bigint").alias("n_keys"),
            F.max("freq").cast("bigint").alias("max_freq"),
            F.min(
                F.when(F.col("cum") >= F.ceil(0.99 * F.col("tot")).cast("bigint"), F.col("freq"))
            )
            .cast("bigint")
            .alias("p99_freq"),
            pround(F.max("freq").cast("double") / F.sum("kn"), 9).alias("top1_share"),
            pround(
                F.sqrt(
                    F.greatest(
                        F.sum("f2").cast("double") / F.sum("nk") - mean * mean, F.lit(0.0)
                    )
                )
                / mean,
                6,
            ).alias("freq_cv"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("key_name")


# ---------------------------------------------------------------------------
# i23 — latest-N-per-key compaction

_I23_KEEP = 3


@query(
    "qi23_latest_n_compaction",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, value, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), kept AS (
  SELECT * FROM ranked WHERE rn <= {_I23_KEEP}
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(COUNT(*) - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_dropped
  FROM events
)
SELECT k.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(COUNT(DISTINCT k.user_id) AS BIGINT) AS n_users,
       {sql_pround(sql_dsum('k.value'), 6)} AS value_sum,
       t.n_total, t.n_dropped
FROM kept k CROSS JOIN tot t
GROUP BY k.event_type, t.n_total, t.n_dropped
ORDER BY k.event_type
""",
    tags=("events", "cdc"),
)
def qi23_latest_n_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-N-per-key log compaction: keep the newest {_I23_KEEP}
    events per user (ts + event_id total order) and account for what
    compaction kept vs dropped per event type — the depth-N
    generalization of q34's latest-event dedup and the batch shape of
    a compacted changelog topic (depth 1 = Kafka compaction, depth N =
    bounded history tables).

    Scale: ONE keyed rank window partitioned by user — embarrassingly
    parallel; the retained set is at most {_I23_KEEP}·|users| rows
    regardless of log length, which is the point of compaction.
    """
    e = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    kept = e.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= _I23_KEEP)
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_total")).crossJoin(
        F.broadcast(kept.agg(F.count(F.lit(1)).alias("nk")))
    ).select("n_total", (F.col("n_total") - F.col("nk")).cast("bigint").alias("n_dropped"))
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            pround(dsum("value"), 6).alias("value_sum"),
        )
        .crossJoin(F.broadcast(tot))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# i24 — session bounce rate by entry type

_I24_GAP_S = 1800


@query(
    "qi24_session_bounce_rate",
    oracle=f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) > {_I24_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS sess_id
  FROM seq
), in_sess AS (
  SELECT user_id, sess_id, event_type,
         row_number() OVER (PARTITION BY user_id, sess_id ORDER BY ts ASC, event_id ASC) AS srn
  FROM sess
), per_sess AS (
  SELECT user_id, sess_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         MIN(CASE WHEN srn = 1 THEN event_type END) AS entry_type
  FROM in_sess GROUP BY user_id, sess_id
)
SELECT entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
       {sql_pround('CAST(COUNT(*) FILTER (WHERE n_events = 1) AS DOUBLE) / COUNT(*)', 6)} AS bounce_rate
FROM per_sess
GROUP BY entry_type
ORDER BY entry_type
""",
    tags=("events", "sessionization"),
)
def qi24_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type: gap-based sessionization
    ({_I24_GAP_S}s inactivity splits sessions — the q32/h08 rule as
    explicit lag arithmetic so the session ids are engine-portable),
    each session classified by its FIRST event's type, bounce =
    single-event session. The standard funnel-entry health metric.

    Scale: two user-partitioned windows (lag + running session
    counter) and one grouped rollup — no self-joins, parallel per
    user; identical to the production sessionizer shape
    (applyInPandasWithState streams the same logic incrementally).
    """
    e = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                # exact integer microseconds on both engines — a seconds
                # cast truncates in Spark and keeps fractions in DuckDB
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
                > _I24_GAP_S * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    sess = seq.withColumn("sess_id", F.sum("is_new").over(wu))
    ws = Window.partitionBy("user_id", "sess_id").orderBy(F.asc("ts"), F.asc("event_id"))
    in_sess = sess.withColumn("srn", F.row_number().over(ws))
    per_sess = in_sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min(F.when(F.col("srn") == 1, F.col("event_type"))).alias("entry_type"),
    )
    return (
        per_sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("int")).cast("bigint").alias("n_bounces"),
        )
        .withColumn(
            "bounce_rate", pround(F.col("n_bounces").cast("double") / F.col("n_sessions"), 6)
        )
        .orderBy("entry_type")
    )


# ---------------------------------------------------------------------------
# i25 — referential integrity audit


_I25_RELS = (
    # (name, child table, child key, parent table, parent key)
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
)


def _i25_sql_arm(name: str, ct: str, ck: str, pt: str, pk: str) -> str:
    return f"""
SELECT '{name}' AS relation,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(COUNT(*) FILTER (WHERE NOT EXISTS
            (SELECT 1 FROM {pt} p WHERE p.{pk} = c.{ck})) AS BIGINT) AS n_orphans,
       {sql_pround(f'''CAST(COUNT(*) FILTER (WHERE EXISTS
            (SELECT 1 FROM {pt} p WHERE p.{pk} = c.{ck})) AS DOUBLE) / COUNT(*)''', 9)} AS coverage,
       COUNT(*) FILTER (WHERE NOT EXISTS
            (SELECT 1 FROM {pt} p WHERE p.{pk} = c.{ck})) = 0 AS intact
FROM {ct} c"""


@query(
    "qi25_referential_integrity",
    oracle=" UNION ALL ".join(_i25_sql_arm(*r) for r in _I25_RELS) + " ORDER BY relation",
    tags=("audit", "relational", "constraints"),
)
def qi25_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's foreign
    keys: per relation, orphaned child rows (FK with no parent) and
    coverage — the cross-TABLE companion to qe14's single-table
    declarative constraints, and the check that catches a partial
    ingest (parent table behind the fact table) before a silent
    inner-join row loss does.

    Scale: each relation is one left-anti-style existence join against
    the PARENT KEY dictionary (broadcast when the parent is a dim);
    counts only, no payload movement.
    """
    out = None
    for name, ct, ck, pt, pk in _I25_RELS:
        child = table(spark, sf_dir, ct)
        parent_keys = table(spark, sf_dir, pt).select(F.col(pk).alias("__pk")).distinct()
        flagged = child.join(
            F.broadcast(parent_keys), child[ck] == F.col("__pk"), "left"
        ).select((F.col("__pk").isNull()).cast("int").alias("orphan"))
        arm = flagged.agg(
            F.lit(name).alias("relation"),
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.sum("orphan").cast("bigint").alias("n_orphans"),
        ).select(
            "relation",
            "n_child",
            "n_orphans",
            pround((F.col("n_child") - F.col("n_orphans")).cast("double") / F.col("n_child"), 9).alias(
                "coverage"
            ),
            (F.col("n_orphans") == 0).alias("intact"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("relation")


# ---------------------------------------------------------------------------
# i26 — nearest-event join (bidirectional as-of)


@query(
    "qi26_nearest_event_join",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), cand AS (
  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
         abs(epoch_us(p.ts) - epoch_us(c.ts)) AS delta_us,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)) ASC, c.ts ASC, c.event_id ASC) AS rn
  FROM purchases p JOIN clicks c ON c.user_id = p.user_id
)
SELECT CAST(purchase_id AS BIGINT) AS purchase_id,
       CAST(click_id AS BIGINT) AS click_id,
       CAST(delta_us AS BIGINT) AS delta_us
FROM cand WHERE rn = 1
ORDER BY purchase_id
""",
    tags=("events", "join", "asof"),
)
def qi26_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event join: each purchase matches the click by the same
    user that is closest in time in EITHER direction (min |Δt|, ties
    broken earlier-click-first then event_id) — the bidirectional
    generalization of q33's backward as-of join, i.e. the "closest
    sensor reading" / "nearest quote to trade" matcher.

    Scale: candidates pair only WITHIN a user (user-keyed equi-join),
    so cost is Σ_u purchases(u)·clicks(u) — bounded by per-user
    activity, never |events|²; at extreme per-user volumes the same
    semantics decompose into a backward + a forward as-of join
    (functions/asof.py) and a 2-way min — this operator keeps the
    one-join form that a per-user bound makes cheaper.
    """
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    # exact integer microseconds on both engines (unix_micros/epoch_us):
    # a seconds cast would truncate in Spark and round in DuckDB
    delta = F.abs(F.unix_micros("p_ts") - F.unix_micros("c_ts"))
    w = Window.partitionBy("purchase_id").orderBy(
        delta.asc(), F.asc("c_ts"), F.asc("click_id")
    )
    cand = p.join(c, "user_id").withColumn("delta_us", delta).withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        cand.filter(F.col("rn") == 1)
        .select(
            F.col("purchase_id").cast("bigint"),
            F.col("click_id").cast("bigint"),
            F.col("delta_us").cast("bigint"),
        )
        .orderBy("purchase_id")
    )


# ---------------------------------------------------------------------------
# i27 — parquet schema evolution (mergeSchema)


@query(
    "qi27_schema_evolution",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_v1,
       CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS n_v2,
       CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_null_lang,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM documents
GROUP BY source
ORDER BY source
""",
    tags=("source", "audit"),
)
def qi27_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution end-to-end: generation 1 of a dataset
    is written WITHOUT the `lang` column (doc_id % 2 == 0), generation
    2 adds it; the union directory is read back with mergeSchema=true
    and the audit proves Spark null-fills the missing column for
    old-generation rows and keeps both generations' payloads intact —
    the additive-column evolution every long-lived lakehouse dataset
    goes through. The oracle derives the same counts from the source
    table, so hash-match pins the round-trip.

    Scale: schema merge is a FOOTER operation (per-file metadata
    union), not a data rewrite; the audit scan reads both generations
    once. Idempotent temp dir + eager materialization (h10
    discipline).
    """
    import shutil

    base = scratch_dir("qi27_evo")
    try:
        d = table(spark, sf_dir, "documents")
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source", "n_chars").write.mode(
            "overwrite"
        ).parquet(base + "/gen=1")
        d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "n_chars", "lang").write.mode(
            "overwrite"
        ).parquet(base + "/gen=2")
        back = spark.read.option("mergeSchema", "true").parquet(base + "/gen=1", base + "/gen=2")
        out = (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum((F.col("doc_id") % 2 == 0).cast("int")).cast("bigint").alias("n_v1"),
                F.sum((F.col("doc_id") % 2 == 1).cast("int")).cast("bigint").alias("n_v2"),
                F.sum(F.col("lang").isNull().cast("int")).cast("bigint").alias("n_null_lang"),
                F.sum("n_chars").cast("bigint").alias("chars_sum"),
            )
            .orderBy("source")
        )
        return out.transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# i28 — churn by market segment


@query(
    "qi28_churn_by_segment",
    oracle=f"""
WITH cutoff AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) - INTERVAL 365 DAY AS cut FROM orders
), cust AS (
  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY o_custkey
), flagged AS (
  SELECT c.c_mktsegment, c.c_acctbal,
         CASE WHEN cu.last_d < (SELECT cut FROM cutoff) THEN 1 ELSE 0 END AS churned
  FROM cust cu JOIN customer c ON c.c_custkey = cu.o_custkey
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_active_customers,
       CAST(SUM(churned) AS BIGINT) AS n_churned,
       {sql_pround('CAST(SUM(churned) AS DOUBLE) / COUNT(*)', 6)} AS churn_rate,
       {sql_pround('CAST(SUM(CASE WHEN churned = 1 THEN CAST(c_acctbal AS DECIMAL(25,6)) END) AS DOUBLE) / NULLIF(SUM(churned), 0)', 6)} AS churned_avg_balance
FROM flagged
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("relational", "statistics"),
)
def qi28_churn_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn analysis: a customer with orders but NONE in the final
    365 days of the data window counts as churned; per market segment,
    churn rate and the average account balance of the churned (what
    revenue walks out the door) — the classic retention KPI cut, with
    the cutoff derived from the data's own max date so the query is
    reproducible at any snapshot.

    Scale: per-customer last-order collapse (map-side combinable) +
    broadcast 1-row cutoff + broadcast customer-dim join — one fact
    scan, no windows.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cutoff = o.agg(
        F.date_sub(F.max(F.col("o_orderdate").cast("date")), 365).alias("cut")
    )
    cust = o.groupBy("o_custkey").agg(F.max(F.col("o_orderdate").cast("date")).alias("last_d"))
    flagged = (
        cust.crossJoin(F.broadcast(cutoff))
        .join(F.broadcast(c), cust.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "c_acctbal",
            (F.col("last_d") < F.col("cut")).cast("int").alias("churned"),
        )
    )
    return (
        flagged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active_customers"),
            F.sum("churned").cast("bigint").alias("n_churned"),
            pround(F.sum("churned").cast("double") / F.count(F.lit(1)), 6).alias("churn_rate"),
            pround(
                F.sum(
                    F.when(F.col("churned") == 1, F.col("c_acctbal").cast("decimal(25,6)"))
                ).cast("double")
                / F.nullif(F.sum("churned"), F.lit(0)),
                6,
            ).alias("churned_avg_balance"),
        )
        .orderBy("c_mktsegment")
    )
