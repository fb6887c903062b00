"""Round-5 analytics extensions (g01+): personalized PageRank,
incremental-dedup reconciliation, loss-free shard audits, md5-portable
MinHash/LSH audits that hash-gate previously property-only semantics,
sketch error-bound audits, robust statistics (winsorization, chi-square,
exact correlation), cohort retention, Poisson bootstrap, and corpus
pattern scans.

Engine style unchanged: pure JVM DataFrame ops, pround floor-rounding on
every oracle-gated double, DECIMAL-summed float aggregates, every ORDER
BY carries a unique tie-break, scalar-only output columns. Keys are
g-prefixed so they sort inside the driver's 50-entry window right after
the round-4 f-suite (rotation history in __spark_entry__.py).
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_distributed_kmodes_spark.functions.deterministic import (
    dsum,
    pround,
    sql_dsum,
    sql_pround,
)
from pyspark_distributed_kmodes_spark.functions.shingles import shingle_arrays, shingles
from pyspark_distributed_kmodes_spark.operators.curation2 import _dterm, _sql_dterm
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.sources.tables import spread, table

# ---------------------------------------------------------------------------
# shared engine-portable hash idioms (md5-based: DuckDB has no xxhash64)


def _md5fold(col: Column) -> Column:
    """First 8 md5 hex chars of a string column as a BIGINT in [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _sql_md5fold(expr: str) -> str:
    """DuckDB mirror of _md5fold: positional hex-digit fold (DuckDB lacks
    a hex->int conv; strpos over the hex alphabet is the established
    portable form — see qe20's oracle)."""
    return (
        f"CAST(list_sum(list_transform(range(1, 9), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1)"
        f" * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT)"
    )


# The shared near-dup trigram-shingle CTE (same graph as qd01/qe22/f04).
_SHINGLE_CTE = """
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

_EDGE_TAIL = """
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), edges AS (
  SELECT p.u, p.v FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.u
  JOIN sizes sb ON sb.doc_id = p.v
  WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.2
), und AS (
  SELECT u AS node, v AS nbr FROM edges UNION ALL SELECT v, u FROM edges
)"""


# ---------------------------------------------------------------------------
# g01 — personalized PageRank

_PPR_ITERS = 3
_PPR_DAMP = 0.85


def _ppr_iter_sql(prev: str, out: str) -> str:
    contrib = _sql_dterm("p.pr / d.degree")
    return f"""{out} AS (
  SELECT u.nbr AS node,
         {sql_pround(f"(1.0 - {_PPR_DAMP}) * q.tele + {_PPR_DAMP} * CAST(SUM({contrib}) AS DOUBLE)", 9)} AS pr
  FROM und u JOIN {prev} p ON p.node = u.node JOIN deg d ON d.node = u.node
  JOIN tele q ON q.node = u.nbr
  GROUP BY u.nbr, q.tele
)"""


@query(
    "qg01_personalized_pagerank",
    oracle=f"""
WITH {_SHINGLE_CTE}, {_EDGE_TAIL},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY node
), qc AS (
  SELECT CAST(SUM({_sql_dterm('dd.n_chars')}) AS DOUBLE) AS tot
  FROM deg g JOIN documents dd ON dd.doc_id = g.node
), tele AS (
  SELECT g.node, {sql_pround('dd.n_chars / qc.tot', 9)} AS tele
  FROM deg g JOIN documents dd ON dd.doc_id = g.node CROSS JOIN qc
), pr0 AS (
  SELECT node, tele AS pr FROM tele
),
{_ppr_iter_sql('pr0', 'pr1')},
{_ppr_iter_sql('pr1', 'pr2')},
{_ppr_iter_sql('pr2', 'pr3')}
SELECT p.node AS doc_id, d.degree,
       {sql_pround('t.tele', 6)} AS teleport,
       {sql_pround('p.pr', 6)} AS ppr
FROM pr3 p JOIN deg d ON d.node = p.node JOIN tele t ON t.node = p.node
ORDER BY doc_id
""",
    tags=("dedup", "graph"),
    bench=True,
)
def qg01_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized (quality-seeded) PageRank over the near-dup graph:
    the teleport vector is proportional to document length (n_chars, the
    stand-in quality prior), so mass restarts at substantial documents
    instead of uniformly — ranking boilerplate hubs DOWN when they are
    short templates even if heavily linked. Extends qd01 exactly as the
    round-4 verdict prescribed (seed = quality scores).

    Scale: identical iterative shape to qd01 — each of the
    {_PPR_ITERS} iterations is ONE bounded-edge-list join + grouped
    DECIMAL sum; the teleport vector is a node-keyed column (no
    broadcast of anything data-sized beyond the 1-row normalizer);
    localCheckpoint per iteration cuts lineage. Determinism:
    contributions pround(9)-stabilized then DECIMAL(25,12)-summed,
    teleport normalizer itself a DECIMAL sum.
    """
    from pyspark_distributed_kmodes_spark.operators.text import ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(d, threshold=0.2).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage_lazy

    # Lazy cuts throughout (r14, same as qd01): plan depth still
    # truncates at every LogicalRDD, but all materialization happens
    # inside the ONE final action instead of five standalone checkpoint
    # jobs, and the per-iteration und_deg exchange canonicalizes equal
    # within that single plan (exchange reuse).
    und = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .transform(cut_lineage_lazy)
    )
    deg = (
        und.groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .transform(cut_lineage_lazy)
    )
    chars = d.select(F.col("doc_id").alias("node"), "n_chars")
    seeded = deg.join(chars, "node")
    tot = seeded.agg(F.sum(_dterm(F.col("n_chars").cast("double"))).cast("double").alias("tot"))
    tele = (
        seeded.crossJoin(F.broadcast(tot))
        .select("node", pround(F.col("n_chars") / F.col("tot"), 9).alias("tele"))
        .transform(cut_lineage_lazy)
    )
    # static (node, nbr, degree) adjacency attached ONCE — each power
    # iteration then pays a single rank join instead of rank + degree
    # joins (round-13: one exchange fewer per iteration)
    und_deg = und.join(deg, "node").transform(cut_lineage_lazy)
    pr = tele.select("node", F.col("tele").alias("pr"))
    for i in range(_PPR_ITERS):
        contrib = und_deg.join(pr, "node").select(
            F.col("nbr"), _dterm(F.col("pr") / F.col("degree")).alias("t")
        )
        pr = (
            contrib.groupBy(F.col("nbr").alias("node"))
            .agg(F.sum("t").cast("double").alias("s"))
            .join(tele, "node")
            .select(
                "node",
                pround((1.0 - _PPR_DAMP) * F.col("tele") + _PPR_DAMP * F.col("s"), 9).alias("pr"),
            )
        )
        # linear lineage (adjacency and tele are static checkpoints):
        # lineage cut every 3rd iteration — bounded plan depth at scale
        # (r13 cadence; r14 makes it lazy — the final collect
        # materializes it)
        if i % 3 == 2 or i == _PPR_ITERS - 1:
            pr = pr.transform(cut_lineage_lazy)
    return (
        pr.join(deg, "node")
        .join(tele, "node")
        .select(
            F.col("node").alias("doc_id"),
            "degree",
            pround(F.col("tele"), 6).alias("teleport"),
            pround(F.col("pr"), 6).alias("ppr"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# g02 — incremental dedup reconciliation


@query(
    "qg02_incremental_dedup_reconcile",
    oracle="""
WITH fp AS (
  SELECT doc_id, md5(text) AS fp, (doc_id % 3 = 0) AS is_delta FROM documents
), base_surv AS (
  SELECT fp, MIN(doc_id) AS survivor FROM fp WHERE NOT is_delta GROUP BY fp
), delta_surv AS (
  SELECT f.fp, MIN(f.doc_id) AS survivor
  FROM fp f LEFT JOIN base_surv b ON b.fp = f.fp
  WHERE f.is_delta AND b.fp IS NULL
  GROUP BY f.fp
), incr AS (
  SELECT fp, survivor FROM base_surv UNION ALL SELECT fp, survivor FROM delta_surv
), full_surv AS (
  SELECT fp, MIN(doc_id) AS survivor FROM fp GROUP BY fp
), joined AS (
  SELECT f.fp, f.survivor AS full_s, i.survivor AS incr_s
  FROM full_surv f JOIN incr i ON i.fp = f.fp
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST(SUM(CASE WHEN full_s = incr_s THEN 1 ELSE 0 END) AS BIGINT) AS n_same_survivor,
       CAST(SUM(CASE WHEN full_s <> incr_s THEN 1 ELSE 0 END) AS BIGINT) AS n_differ,
       CAST((SELECT COUNT(*) FROM fp) AS BIGINT) AS n_docs,
       CAST((SELECT COUNT(*) FROM fp) - COUNT(*) AS BIGINT) AS n_dropped
FROM joined
""",
    tags=("dedup", "curation"),
)
def qg02_incremental_dedup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-dedup reconciliation: the corpus arrives as a
    base snapshot plus a delta batch (split: doc_id % 3), the delta is
    deduped ONLY against base fingerprints + itself (the streaming/
    append production pattern — never re-scan the base), and the result
    is reconciled against a full-corpus dedup. Survivor sets must cover
    the same fingerprints; survivors may legitimately differ when the
    globally-minimal doc_id lives in the delta (base-first wins
    incrementally) — the audit counts exactly that divergence instead
    of hiding it.

    Scale: two fingerprint groupBys + one hash anti-join (delta vs base
    fingerprint set) — the incremental path never touches base TEXT,
    only its fingerprint index, which is the point at 100 TB: dedup
    state is the md5 index, not the corpus. Integers out.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp"), (F.col("doc_id") % 3 == 0).alias("is_delta")
    )
    base = d.filter(~F.col("is_delta"))
    delta = d.filter("is_delta")
    base_surv = base.groupBy("fp").agg(F.min("doc_id").alias("survivor"))
    delta_surv = (
        delta.join(base_surv.select("fp"), "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("survivor"))
    )
    incr = base_surv.unionByName(delta_surv)
    full_surv = d.groupBy("fp").agg(F.min("doc_id").alias("survivor"))
    joined = full_surv.withColumnRenamed("survivor", "full_s").join(
        incr.withColumnRenamed("survivor", "incr_s"), "fp"
    )
    n_docs = d.count()
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.sum((F.col("full_s") == F.col("incr_s")).cast("int")).cast("bigint").alias("n_same_survivor"),
        F.sum((F.col("full_s") != F.col("incr_s")).cast("int")).cast("bigint").alias("n_differ"),
        F.lit(n_docs).cast("bigint").alias("n_docs"),
        (F.lit(n_docs) - F.count(F.lit(1))).cast("bigint").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# g03 — loss-free shard reconciliation

_G03_SHARDS = 8


@query(
    "qg03_shard_reconciliation",
    oracle=f"""
WITH placed AS (
  SELECT doc_id, n_chars,
         {_sql_md5fold('CAST(doc_id AS VARCHAR)')} AS h
  FROM documents
), shards AS (
  SELECT CAST(h % {_G03_SHARDS} AS INTEGER) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
         CAST(SUM(h) AS BIGINT) AS checksum
  FROM placed GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS t_docs,
         CAST(SUM(chars_sum) AS BIGINT) AS t_chars,
         CAST(SUM(checksum) AS BIGINT) AS t_check
  FROM shards
), direct AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS d_docs,
         CAST(SUM(n_chars) AS BIGINT) AS d_chars,
         CAST(SUM(h) AS BIGINT) AS d_check
  FROM placed
)
SELECT s.shard, s.n_docs, s.chars_sum, s.checksum,
       (t.t_docs = d.d_docs AND t.t_chars = d.d_chars AND t.t_check = d.d_check) AS loss_free
FROM shards s CROSS JOIN tot t CROSS JOIN direct d
ORDER BY s.shard
""",
    tags=("curation", "training"),
)
def qg03_shard_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard reconciliation after deterministic hash sharding
    (qe20's placement): per-shard row counts, byte sums, and additive
    hash checksums, with a loss_free flag proving the shard union
    equals the source exactly — the audit a 100 TB materialization job
    runs after writing shard files, composed from qe20 + f25 as the
    round-4 verdict suggested.

    Scale: one hash projection, one {_G03_SHARDS}-group aggregation,
    plus two 1-row global aggregates broadcast back — reconciliation
    costs one scan regardless of shard count. The additive checksum
    (sum of 32-bit hashes, far from BIGINT overflow until ~2^31 rows
    per shard) is order- and partitioning-insensitive by construction.
    Integers and booleans only.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", _md5fold(F.col("doc_id").cast("string")).alias("h")
    )
    placed = d.withColumn("shard", (F.col("h") % _G03_SHARDS).cast("int"))
    shards = placed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_sum"),
        F.sum("h").cast("bigint").alias("checksum"),
    )
    tot = shards.agg(
        F.sum("n_docs").cast("bigint").alias("t_docs"),
        F.sum("chars_sum").cast("bigint").alias("t_chars"),
        F.sum("checksum").cast("bigint").alias("t_check"),
    )
    direct = placed.agg(
        F.count(F.lit(1)).cast("bigint").alias("d_docs"),
        F.sum("n_chars").cast("bigint").alias("d_chars"),
        F.sum("h").cast("bigint").alias("d_check"),
    )
    return (
        shards.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(direct))
        .select(
            "shard",
            "n_docs",
            "chars_sum",
            "checksum",
            (
                (F.col("t_docs") == F.col("d_docs"))
                & (F.col("t_chars") == F.col("d_chars"))
                & (F.col("t_check") == F.col("d_check"))
            ).alias("loss_free"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# g09 — n-gram vocabulary growth (Heaps curve)

_G09_BUCKETS = 10


@query(
    "qg09_vocab_growth",
    oracle=f"""
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(string_split(text, ' '))),
                i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS gram
  FROM documents
), firsts AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
), mx AS (
  SELECT MAX(doc_id) + 1 AS m FROM documents
), bucketed AS (
  -- // (integer division): CAST(double AS INTEGER) ROUNDS in DuckDB but
  -- truncates in Spark — the g09 bucket boundary trap
  SELECT CAST((first_doc * {_G09_BUCKETS}) // mx.m AS INTEGER) AS bucket,
         COUNT(*) AS n_new
  FROM firsts CROSS JOIN mx GROUP BY 1
), base AS (
  SELECT CAST(i AS INTEGER) AS bucket FROM range(0, {_G09_BUCKETS}) t(i)
)
SELECT b.bucket,
       CAST(COALESCE(k.n_new, 0) AS BIGINT) AS n_new_grams,
       CAST(SUM(COALESCE(k.n_new, 0)) OVER (ORDER BY b.bucket) AS BIGINT) AS cum_vocab
FROM base b LEFT JOIN bucketed k ON k.bucket = b.bucket
ORDER BY b.bucket
""",
    tags=("text", "curation"),
)
def qg09_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law audit): cumulative distinct
    word-bigrams by ingestion order (doc_id), in {_G09_BUCKETS} equal
    id-range buckets — the curve a corpus-curation pipeline watches to
    detect saturation (new data stops contributing novel n-grams) or
    contamination (a sudden novelty spike from an off-distribution
    batch).

    Scale: first occurrence = one (gram -> min doc_id) groupBy — never
    a cumulative join; bucketing is pure arithmetic on the 1-row
    broadcast max id, so there is NO global row-level window (the d03
    hazard) — the only window runs over the {_G09_BUCKETS} bucket rows.
    Integers end to end.
    """
    d = table(spark, sf_dir, "documents")
    # split materialized once per row (r13 HOF-capture fix)
    words = F.col("_w")
    n = F.size(words)
    grams = F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1), lambda i: F.array_join(F.slice(words, i, 2), " ")),
    ).otherwise(F.array().cast("array<string>"))
    firsts = (
        spread(d, "doc_id")
        .withColumn("_w", F.split("text", " "))
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    bucketed = (
        firsts.crossJoin(F.broadcast(mx))
        .select(F.floor((F.col("first_doc") * _G09_BUCKETS) / F.col("m")).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    base = spark.range(_G09_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    w = Window.orderBy("bucket")  # bounded: _G09_BUCKETS rows total
    return (
        base.join(bucketed, "bucket", "left")
        .select("bucket", F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new_grams"))
        .withColumn("cum_vocab", F.sum("n_new_grams").over(w).cast("bigint"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# g10 — intra-document repetition audit (Gopher-style quality rule)

_G10_THRESHOLD = 0.2


@query(
    "qg10_repetition_audit",
    oracle=f"""
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS gram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), counts AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
), per_doc AS (
  SELECT c.doc_id,
         CAST(MAX(c.c) AS DOUBLE) / SUM(c.c) AS rep_ratio
  FROM counts c GROUP BY c.doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN p.rep_ratio >= {_G10_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       {sql_pround(f"CAST(SUM({_sql_dterm('p.rep_ratio')}) AS DOUBLE) / COUNT(*)", 6)} AS mean_rep_ratio
FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY d.source
ORDER BY d.source
""",
    tags=("text", "quality", "curation"),
)
def qg10_repetition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rule: per document, the fraction
    of word-trigram mass taken by the single most repeated trigram
    (max count / total count); documents above {_G10_THRESHOLD} are
    flagged as repetitive boilerplate, aggregated per source. This is
    the within-document complement of the cross-document dedup family —
    a looping template scores high here even when it is globally
    unique.

    Scale: one explode + one (doc, gram) count + one per-doc max — all
    shuffles keyed doc_id; the per-source rollup joins only per-doc
    scalars back to metadata. Determinism: ratio is an exact int/int
    IEEE division identical on both engines; the mean is
    pround(9)->DECIMAL summed.
    """
    d = table(spark, sf_dir, "documents")
    # split materialized once per row (r13 HOF-capture fix)
    words = F.col("_w")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - 2), lambda i: F.array_join(F.slice(words, i, 3), " ")
    )
    counts = (
        spread(d, "doc_id")
        .withColumn("_w", F.split("text", " "))
        .filter(n >= 3)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("rep_ratio")
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("rep_ratio") >= _G10_THRESHOLD).cast("int")).cast("bigint").alias("n_flagged"),
            pround(
                F.sum(_dterm(F.col("rep_ratio"))).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_rep_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# g04/g05 — engine-portable md5 MinHash (k=8, 4 bands x 2 rows)

_MH_K = 8
_MH_BANDS = 4


def _mh_mins(doc_sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h7): md5-fold minhash signature folded LOCALLY over
    a (doc_id, sh: array<string>) DataFrame — array_min over a
    transform, ZERO shuffles (the old explode + groupBy form paid one
    exchange of every shingle row for the same mins). Docs with no
    shingles drop out, exactly as they produced no grouped row before.
    md5 (not xxhash64) so DuckDB can replicate the signature
    bit-for-bit; q63's production path keeps the cheaper xxhash64."""
    mins = [
        F.array_min(
            F.transform("sh", lambda x: _md5fold(F.concat_ws("#", x, F.lit(str(i)))))
        ).alias(f"h{i}")
        for i in range(_MH_K)
    ]
    return doc_sh.filter(F.size("sh") >= 1).select("doc_id", *mins)


def _sql_mh_mins(src: str = "shingles") -> str:
    mins = ", ".join(
        "MIN({fold}) AS h{i}".format(fold=_sql_md5fold("shingle || '#%d'" % i), i=i)
        for i in range(_MH_K)
    )
    return f"SELECT doc_id, {mins} FROM {src} GROUP BY doc_id"


@query(
    "qg04_lsh_recall_audit",
    oracle=f"""
WITH {_SHINGLE_CTE}, {_EDGE_TAIL},
truth AS (
  SELECT p.u AS doc_a, p.v AS doc_b FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.u
  JOIN sizes sb ON sb.doc_id = p.v
  WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.5
), sigs AS (
  {_sql_mh_mins()}
), banded AS (
  SELECT doc_id,
         unnest([CAST(h0 AS VARCHAR) || ',' || CAST(h1 AS VARCHAR) || '|0',
                 CAST(h2 AS VARCHAR) || ',' || CAST(h3 AS VARCHAR) || '|1',
                 CAST(h4 AS VARCHAR) || ',' || CAST(h5 AS VARCHAR) || '|2',
                 CAST(h6 AS VARCHAR) || ',' || CAST(h7 AS VARCHAR) || '|3']) AS bucket
  FROM sigs
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
), hits AS (
  SELECT t.doc_a FROM truth t JOIN cands c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_pairs,
       CAST((SELECT COUNT(*) FROM cands) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
       {sql_pround("CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 1.0 "
                   "ELSE CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) / (SELECT COUNT(*) FROM truth) END", 6)} AS recall
""",
    tags=("dedup", "approx", "audit"),
    bench=True,
)
def qg04_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED LSH recall audit (round-4 verdict item: convert the
    LSH prop rows to oracle-checked): an md5-based MinHash+LSH pipeline
    ({_MH_K} hashes, {_MH_BANDS} bands of 2) whose banding candidates
    are measured against the EXACT Jaccard >= 0.5 truth set, emitting
    the true recall as a driver-hashable scalar. Both engines compute
    the identical signature (md5 is portable; xxhash64 is not), so the
    recall number itself is oracle-verified — not just property-tested
    as q63/q61 are.

    Scale: truth side is the inverted-index exact join (bounded by
    shared shingles); candidate side is the standard band groupBy; the
    audit compares two bounded pair sets. At production scale this runs
    on a SAMPLE of the corpus as a recall regression check; banding
    math (recall ~= 1-(1-j^2)^4 here) transfers to the xxhash64 path
    unchanged since both hash families are uniform.
    """
    from pyspark_distributed_kmodes_spark.operators.text import ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    # ONE materialized shingle index serves BOTH passes (round-13): the
    # exact-Jaccard truth join and the signature aggregation previously
    # each built their own explode+distinct pipeline; sharing the
    # checkpoint halves the shingle work and shortens the critical path
    sh = shingles(d).transform(cut_lineage)
    truth = ngram_jaccard_pairs(d, threshold=0.5, shingles=sh).select("doc_a", "doc_b")
    mins = [
        F.min(_md5fold(F.concat_ws("#", F.col("shingle"), F.lit(str(i))))).alias(f"h{i}")
        for i in range(_MH_K)
    ]
    sigs = sh.groupBy("doc_id").agg(*mins).transform(cut_lineage)
    bucket = F.explode(
        F.array(
            *[
                F.concat_ws(
                    "",
                    F.col(f"h{2 * b}").cast("string"),
                    F.lit(","),
                    F.col(f"h{2 * b + 1}").cast("string"),
                    F.lit(f"|{b}"),
                )
                for b in range(_MH_BANDS)
            ]
        )
    ).alias("bucket")
    banded = sigs.select("doc_id", bucket)
    a = banded.select(F.col("doc_id").alias("doc_a"), "bucket")
    b = banded.select(F.col("doc_id").alias("doc_b"), "bucket")
    cands = (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # truth and cands each feed TWO consumers (their own count + the
    # hits semi-join): checkpoint the bounded pair sets once instead of
    # re-running the exact-Jaccard join and the band self-join twice
    # (r13 — halves the audit's heavy passes)
    truth = truth.transform(cut_lineage)
    cands = cands.transform(cut_lineage)
    hits = truth.join(cands, ["doc_a", "doc_b"], "left_semi")
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    nc = cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    return (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_hits",
            pround(
                F.when(F.col("n_true_pairs") == 0, F.lit(1.0)).otherwise(
                    F.col("n_hits").cast("double") / F.col("n_true_pairs")
                ),
                6,
            ).alias("recall"),
        )
    )


_G05_STOPWORDS = ("a", "the")


@query(
    "qg05_minhash_stability",
    oracle=f"""
WITH raw_sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
                  i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingle
    FROM documents
  ) t
), norm_words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w NOT IN ('a', 'the')) AS ws
  FROM documents
), norm_sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws) - 1),
                  i -> array_to_string(ws[i:i+2], ' '))) AS shingle
    FROM norm_words
  ) t
), sig_raw AS ({_sql_mh_mins('raw_sh')}),
sig_norm AS ({_sql_mh_mins('norm_sh')}),
agreement AS (
  SELECT r.doc_id,
         ({' + '.join(f'CASE WHEN r.h{i} = n.h{i} THEN 1 ELSE 0 END' for i in range(_MH_K))}) AS n_agree
  FROM sig_raw r JOIN sig_norm n ON n.doc_id = r.doc_id
)
SELECT CAST(n_agree AS INTEGER) AS n_agree,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM agreement GROUP BY n_agree ORDER BY n_agree
""",
    tags=("dedup", "audit"),
)
def qg05_minhash_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature stability under stopword-strip normalization
    (the round-4 verdict's dedup-robustness audit): signatures are
    computed on raw text AND on text with {_G05_STOPWORDS} removed,
    and the histogram of per-document agreeing signature positions
    (0..{_MH_K}) quantifies how fragile near-dup detection is to the
    cleaning pipeline in front of it — a dedup run before vs after a
    normalization change silently shifts clusters by exactly the mass
    this audit exposes.

    Scale: two shingle explodes + two signature groupBys + one
    doc-keyed join — all bounded by corpus shingle volume; output is a
    <= {_MH_K + 1}-row histogram. md5-portable like g04, integers out.
    """
    d = table(spark, sf_dir, "documents")
    sig_raw = _mh_mins(shingle_arrays(d))
    # normalized word array materialized once per row — captured in the
    # transform lambda it re-runs split+stopword-filter per shingle
    # position (r13 HOF-capture fix)
    norm = F.col("_nw")
    n = F.size(norm)
    grams = F.when(
        n >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - 2),
                lambda i: F.array_join(F.slice(norm, i, 3), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    # per-doc dedup is local (array_distinct) and the signature folds
    # over the array — the old explode+distinct+groupBy paid two
    # exchanges for the same mins
    norm_sh = (
        spread(d, "doc_id")
        .withColumn(
            "_nw",
            F.filter(F.split("text", " "), lambda w: ~w.isin(*_G05_STOPWORDS)),
        )
        .select("doc_id", grams.alias("sh"))
    )
    sig_norm = _mh_mins(norm_sh)
    r = sig_raw.alias("r")
    m = sig_norm.alias("m")
    agree = sum(
        (F.col(f"r.h{i}") == F.col(f"m.h{i}")).cast("int") for i in range(_MH_K)
    )
    return (
        r.join(m, "doc_id")
        .select(agree.cast("int").alias("n_agree"))
        .groupBy("n_agree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("n_agree")
    )


# ---------------------------------------------------------------------------
# g06/g07 — sketch error-bound audits (hash-gate the approx family)

_G06_ACC = 10_000


@query(
    "qg06_approx_percentile_audit",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority AS priority, COUNT(*) AS n FROM orders GROUP BY 1
), ranked AS (
  SELECT o_orderpriority AS priority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
  FROM orders
), med AS (
  SELECT r.priority, r.o_totalprice AS exact_p50
  FROM ranked r JOIN g ON g.priority = r.priority
  WHERE r.rn = (g.n + 1) // 2
)
SELECT m.priority, CAST(g.n AS BIGINT) AS n, m.exact_p50,
       TRUE AS within_bound
FROM med m JOIN g ON g.priority = m.priority
ORDER BY m.priority
""",
    tags=("approx", "audit"),
)
def qg06_approx_percentile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx-percentile RANK-ERROR audit, hash-gated (round-4 verdict
    item 5: oracle-gate approx semantics where possible): Spark's
    approx_percentile(accuracy={_G06_ACC}) guarantees the returned
    value's exact rank is within n/accuracy of the target rank. The
    audit computes the approx median per order priority, counts its
    true rank interval against the exact disc-median rank, and emits
    within_bound — the ORACLE asserts TRUE, so a sketch that ever
    violated its published bound hash-mismatches. exact_p50 (the true
    disc median) rides along as a fully exact value column.

    Scale: the sketch side is one pass (that is its point); the exact
    side is a per-group window rank — partitioned by group key, never
    global. Rank arithmetic is pure integer.
    """
    o = table(spark, sf_dir, "orders")
    # 5-row sketch result with three consumers (exact-median join, rank
    # interval, final assembly): materialize once (scan-lint)
    grp = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(f"approx_percentile(o_totalprice, 0.5, {_G06_ACC})").alias("approx_p50"),
    ).transform(cut_lineage)
    w = Window.partitionBy("o_orderpriority").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    ranked = o.select(
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
    )
    med = ranked.join(grp, "priority").filter(
        F.col("rn") == ((F.col("n") + 1) / 2).cast("bigint")
    ).select("priority", F.col("o_totalprice").alias("exact_p50"))
    # true rank interval of the approx value: [n_lt + 1, n_le]
    counts = (
        o.select(F.col("o_orderpriority").alias("priority"), "o_totalprice")
        .join(F.broadcast(grp.select("priority", "approx_p50")), "priority")
        .groupBy("priority")
        .agg(
            F.sum((F.col("o_totalprice") < F.col("approx_p50")).cast("int")).alias("n_lt"),
            F.sum((F.col("o_totalprice") <= F.col("approx_p50")).cast("int")).alias("n_le"),
        )
    )
    target = ((F.col("n") + 1) / 2).cast("bigint")
    bound = (F.col("n") / _G06_ACC).cast("bigint") + 1
    return (
        grp.join(med, "priority")
        .join(counts, "priority")
        .select(
            "priority",
            "n",
            "exact_p50",
            (
                (F.col("n_lt") + 1 <= target + bound) & (F.col("n_le") >= target - bound)
            ).alias("within_bound"),
        )
        .orderBy("priority")
    )


_G07_RSD = 0.02


@query(
    "qg07_hll_error_audit",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
       TRUE AS within_bound
FROM orders GROUP BY 1 ORDER BY 1
""",
    tags=("approx", "audit"),
)
def qg07_hll_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ error audit, hash-gated: approx_count_distinct
    (rsd={_G07_RSD}) per order priority is checked against the exact
    distinct count with a 3-sigma relative-error budget (3 x rsd = 6%);
    the oracle asserts within_bound = TRUE plus the exact count, so an
    HLL estimate drifting outside its design error hash-mismatches.
    Complements q49 (which remains rows-only: it EMITS the estimates
    themselves, which no other engine reproduces).

    Scale: one pass for the sketch; the exact side pre-groups by
    (priority, custkey) before counting — the vanilla-heap-safe
    distinct pattern. HLL++ is deterministic for a given input set, so
    the audit is stable across runs, partitionings, and cluster sizes.
    """
    o = table(spark, sf_dir, "orders")
    exact = (
        o.select(F.col("o_orderpriority").alias("priority"), "o_custkey")
        .distinct()
        .groupBy("priority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_distinct"))
    )
    approx = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.expr(f"approx_count_distinct(o_custkey, {_G07_RSD})").alias("approx_distinct")
    )
    return (
        exact.join(approx, "priority")
        .select(
            "priority",
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= 3 * _G07_RSD * F.col("exact_distinct")
            ).alias("within_bound"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# g08 — winsorized robust statistics


@query(
    "qg08_winsorized_stats",
    oracle=f"""
WITH g AS (
  SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1
), ranked AS (
  SELECT c_nationkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal ASC, c_custkey ASC) AS rn
  FROM customer
), cuts AS (
  SELECT g.c_nationkey,
         MAX(CASE WHEN r.rn = (g.n * 5 + 99) // 100 THEN r.c_acctbal END) AS p05,
         MAX(CASE WHEN r.rn = (g.n * 95 + 99) // 100 THEN r.c_acctbal END) AS p95
  FROM ranked r JOIN g ON g.c_nationkey = r.c_nationkey
  GROUP BY g.c_nationkey
), clipped AS (
  SELECT c.c_nationkey,
         CASE WHEN c.c_acctbal < k.p05 THEN 1 ELSE 0 END AS lo,
         CASE WHEN c.c_acctbal > k.p95 THEN 1 ELSE 0 END AS hi,
         {_sql_dterm('GREATEST(k.p05, LEAST(k.p95, c.c_acctbal))')} AS t
  FROM customer c JOIN cuts k ON k.c_nationkey = c.c_nationkey
)
SELECT c.c_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(k.p05) AS p05, MAX(k.p95) AS p95,
       CAST(SUM(c.lo) AS BIGINT) AS n_clipped_low,
       CAST(SUM(c.hi) AS BIGINT) AS n_clipped_high,
       {sql_pround('CAST(SUM(c.t) AS DOUBLE) / COUNT(*)', 6)} AS winsorized_mean
FROM clipped c JOIN cuts k ON k.c_nationkey = c.c_nationkey
GROUP BY c.c_nationkey
ORDER BY nationkey
""",
    tags=("relational", "robust"),
)
def qg08_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per nation: account balances are
    clipped at the within-group disc p05/p95 (rank = ceil(q*n), pure
    integer arithmetic — no interpolation ambiguity between engines)
    and the clipped mean + clip counts are emitted. This is the
    outlier-robust normalization step a feature/quality pipeline runs
    before z-scoring heavy-tailed signals (c05's median/MAD cousin,
    with explicit tail trimming).

    Scale: one partitioned window rank per group (never global), one
    k-row cut table joined back (broadcast-sized: one row per nation),
    one aggregation. Determinism: cut values are raw data values;
    clipping is exact comparison; the mean is pround(9)->DECIMAL
    summed with a single final division.
    """
    c = table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("c_nationkey").orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    ranked = c.select("c_nationkey", "c_acctbal", F.row_number().over(w).alias("rn")).join(
        F.broadcast(g), "c_nationkey"
    )
    cuts = ranked.groupBy("c_nationkey").agg(
        F.max(
            F.when(F.col("rn") == ((F.col("n") * 5 + 99) / 100).cast("bigint"), F.col("c_acctbal"))
        ).alias("p05"),
        F.max(
            F.when(F.col("rn") == ((F.col("n") * 95 + 99) / 100).cast("bigint"), F.col("c_acctbal"))
        ).alias("p95"),
    )
    clipped = c.join(F.broadcast(cuts), "c_nationkey").select(
        "c_nationkey",
        (F.col("c_acctbal") < F.col("p05")).cast("int").alias("lo"),
        (F.col("c_acctbal") > F.col("p95")).cast("int").alias("hi"),
        _dterm(F.greatest("p05", F.least("p95", F.col("c_acctbal")))).alias("t"),
        "p05",
        "p95",
    )
    return (
        clipped.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("p05").alias("p05"),
            F.max("p95").alias("p95"),
            F.sum("lo").cast("bigint").alias("n_clipped_low"),
            F.sum("hi").cast("bigint").alias("n_clipped_high"),
            pround(F.sum("t").cast("double") / F.count(F.lit(1)), 6).alias("winsorized_mean"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# g11 — near-dup pair similarity histogram


@query(
    "qg11_pair_similarity_histogram",
    oracle=f"""
WITH {_SHINGLE_CTE},
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jacc AS (
  SELECT {sql_pround('CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common)', 6)} AS j
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.u
  JOIN sizes sb ON sb.doc_id = p.v
  WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) >= 0.2
)
SELECT CAST(floor(j * 20) AS INTEGER) AS bin,
       CAST(floor(j * 20) AS DOUBLE) / 20 AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM jacc GROUP BY 1, 2 ORDER BY bin
""",
    tags=("dedup", "audit"),
)
def qg11_pair_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity histogram of the near-dup pair population (Jaccard >=
    0.2 in 0.05-wide bins): the distribution a dedup operator tunes its
    threshold against — a bimodal histogram (noise floor vs true-dup
    spike) justifies the cutoff; a flat one says the threshold is
    arbitrary and LSH band math needs re-tuning.

    Scale: reuses the inverted-index exact pair join (bounded by shared
    shingles), then a 17-bucket aggregation — the histogram adds
    nothing to the pair join's cost. Determinism: jaccard is
    pround(6)'d IDENTICALLY on both engines before the floor-binning,
    so bin edges cannot straddle a one-ulp difference.
    """
    from pyspark_distributed_kmodes_spark.operators.text import ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.2)
    binned = pairs.select(F.floor(F.col("jaccard") * 20).cast("int").alias("bin"))
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select("bin", (F.col("bin").cast("double") / 20).alias("bin_lo"), "n_pairs")
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# g12 — corpus pattern scan (PII-scan machinery)

_G12_PATTERNS = (
    ("long_word", "[a-z]{5,}"),
    ("stop_word", "\\b(a|the)\\b"),
    ("spark_mention", "spark"),
)


def _g12_sql_arm(label: str, pat: str) -> str:
    return f"""
SELECT d.source, '{label}' AS pattern,
       CAST(SUM(len(regexp_extract_all(d.text, '{pat}'))) AS BIGINT) AS n_matches,
       CAST(SUM(CASE WHEN len(regexp_extract_all(d.text, '{pat}')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with
FROM documents d GROUP BY d.source"""


@query(
    "qg12_pattern_scan",
    oracle=" UNION ALL ".join(
        _g12_sql_arm(label, pat) for label, pat in _G12_PATTERNS
    )
    + " ORDER BY source, pattern",
    tags=("text", "quality", "curation"),
)
def qg12_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pattern scan per source: match counts and affected-doc
    counts for a configurable pattern set — the machinery a production
    pipeline points at PII patterns (emails, phone numbers, keys) for
    redaction triage; this synthetic corpus uses word-shape patterns so
    the audit is non-vacuous here. Patterns are restricted to the
    portable regex subset (char classes, alternation, word boundaries)
    that Java regex and RE2 interpret identically.

    Scale: one scan; each pattern is a JVM-side regexp_count — no
    Python, no shuffle beyond the per-source rollup; P patterns emit
    P x sources rows. Integers out.
    """
    d = table(spark, sf_dir, "documents")
    arms = []
    for label, pat in _G12_PATTERNS:
        cnt = F.regexp_count("text", F.lit(pat))
        arms.append(
            d.groupBy("source").agg(
                F.lit(label).alias("pattern"),
                F.sum(cnt).cast("bigint").alias("n_matches"),
                F.sum((cnt > 0).cast("int")).cast("bigint").alias("n_docs_with"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.select("source", "pattern", "n_matches", "n_docs_with").orderBy("source", "pattern")


# ---------------------------------------------------------------------------
# g13 — weekly cohort retention matrix

# week index anchored at 1970-01-05 (a Monday) via pure integer day
# arithmetic — engine dayofweek()/date_trunc('week') conventions differ
# (trap pinned in round 4: DuckDB Sun=0 vs Spark Sun=1), integers don't.
_G13_EPOCH = "DATE '1970-01-05'"


@query(
    "qg13_retention_matrix",
    oracle=f"""
WITH act AS (
  SELECT DISTINCT user_id,
         CAST((CAST(ts AS DATE) - {_G13_EPOCH}) // 7 AS INTEGER) AS week
  FROM events
), cohorts AS (
  SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id
), sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohorts GROUP BY cohort_week
), cells AS (
  SELECT c.cohort_week, a.week - c.cohort_week AS offset_weeks,
         COUNT(*) AS n_active
  FROM act a JOIN cohorts c ON c.user_id = a.user_id
  GROUP BY 1, 2
)
SELECT k.cohort_week, k.offset_weeks, CAST(k.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       {sql_pround('CAST(k.n_active AS DOUBLE) / s.cohort_size', 6)} AS retention
FROM cells k JOIN sizes s ON s.cohort_week = k.cohort_week
ORDER BY k.cohort_week, k.offset_weeks
""",
    tags=("events",),
)
def qg13_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic weekly cohort retention matrix: users are cohorted by
    first active week and each (cohort, week-offset) cell reports how
    much of the cohort is still active — the canonical product-health
    triangle, complementing qe11's LTV triangle (which sums value;
    this counts distinct survivors) and qb19's absolute-week cohort
    counts (this is the OFFSET-NORMALIZED retention-rate form with the
    cohort-size denominator — the matrix a dashboard actually plots).

    Scale: activity is pre-distinct'd to (user, week) BEFORE any join
    or count (the vanilla-heap distinct rule), cohort assignment is one
    user-keyed min, and the matrix is one aggregation over
    cohort-weeks x offsets. Week index is pure integer day arithmetic
    anchored on a fixed Monday — no engine week/weekday conventions.
    """
    e = table(spark, sf_dir, "events")
    week = F.floor(F.datediff(F.to_date("ts"), F.lit("1970-01-05")) / 7).cast("int")
    act = e.select("user_id", week.alias("week")).distinct()
    cohorts = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohorts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    cells = (
        act.join(cohorts, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("offset_weeks"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "offset_weeks",
            "n_active",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            pround(F.col("n_active").cast("double") / F.col("cohort_size"), 6).alias("retention"),
        )
        .orderBy("cohort_week", "offset_weeks")
    )


# ---------------------------------------------------------------------------
# g15 — chi-square independence audit


@query(
    "qg15_chi_square_independence",
    oracle=f"""
WITH obs AS (
  SELECT event_type,
         CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS INTEGER) AS dow,
         COUNT(*) AS o
  FROM events GROUP BY 1, 2
), rt AS (
  SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1
), ct AS (
  SELECT dow, SUM(o) AS c FROM obs GROUP BY 1
), g AS (
  SELECT SUM(o) AS t FROM obs
), terms AS (
  SELECT obs.event_type, obs.o,
         {_sql_dterm('pow(obs.o - (rt.r * ct.c / g.t), 2) / (rt.r * ct.c / g.t)')} AS term
  FROM obs JOIN rt ON rt.event_type = obs.event_type
  JOIN ct ON ct.dow = obs.dow CROSS JOIN g
)
SELECT event_type,
       CAST(SUM(o) AS BIGINT) AS n_obs,
       {sql_pround('CAST(SUM(term) AS DOUBLE)', 6)} AS chi2_part
FROM terms GROUP BY event_type ORDER BY event_type
""",
    tags=("events", "statistics"),
)
def qg15_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and day-of-
    week (contingency-table audit): per event type, its contribution to
    the chi-square statistic — large parts localize WHICH behavior is
    day-dependent (e.g. errors spiking on deploy days), the
    distribution-shift primitive behind f01's PSI for categorical x
    categorical interactions.

    Scale: the contingency table is one count aggregation (types x 7
    cells); margins and the grand total are tiny broadcast aggregates;
    the statistic is a DECIMAL sum over cells. Day index is integer
    epoch-day arithmetic mod 7 — no weekday() conventions. Expected
    counts are identical rationals on both engines; terms are
    pround(9)-stabilized.
    """
    e = table(spark, sf_dir, "events")
    dow = (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7).cast("int")
    obs = e.groupBy("event_type", dow.alias("dow")).agg(F.count(F.lit(1)).alias("o"))
    obs = obs.transform(cut_lineage)  # 3 consumers: margins + terms
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    g = obs.agg(F.sum("o").alias("t"))
    exp = F.col("r") * F.col("c") / F.col("t")
    terms = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "o",
            _dterm(F.pow(F.col("o") - exp, F.lit(2)) / exp).alias("term"),
        )
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.sum("o").cast("bigint").alias("n_obs"),
            pround(F.sum("term").cast("double"), 6).alias("chi2_part"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# g16 — exact correlation matrix (decimal moments)

_G16_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def _g16_sql_arm(x: str, y: str) -> str:
    return f"""
SELECT '{x}' AS col_x, '{y}' AS col_y, CAST(COUNT(*) AS BIGINT) AS n,
       {sql_pround(
           f"(COUNT(*) * CAST(SUM(CAST({x} AS DECIMAL(15,3)) * CAST({y} AS DECIMAL(15,3))) AS DOUBLE)"
           f" - CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE) * CAST(SUM(CAST({y} AS DECIMAL(25,6))) AS DOUBLE))"
           f" / sqrt((COUNT(*) * CAST(SUM(CAST({x} AS DECIMAL(15,3)) * CAST({x} AS DECIMAL(15,3))) AS DOUBLE)"
           f" - CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE) * CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE))"
           f" * (COUNT(*) * CAST(SUM(CAST({y} AS DECIMAL(15,3)) * CAST({y} AS DECIMAL(15,3))) AS DOUBLE)"
           f" - CAST(SUM(CAST({y} AS DECIMAL(25,6))) AS DOUBLE) * CAST(SUM(CAST({y} AS DECIMAL(25,6))) AS DOUBLE)))", 6)} AS pearson
FROM lineitem"""


@query(
    "qg16_exact_corr_matrix",
    oracle=" UNION ALL ".join(
        _g16_sql_arm(x, y)
        for i, x in enumerate(_G16_COLS)
        for y in _G16_COLS[i + 1 :]
    )
    + " ORDER BY col_x, col_y",
    tags=("relational", "statistics"),
)
def qg16_exact_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem measures from
    EXACT decimal moments: built-in corr() accumulates float co-moments
    in partition order and is therefore not reproducible across
    partitionings (the d13 lesson — never use it in an oracle-gated
    column); here every moment (sum x, sum x^2, sum xy) is an exact
    DECIMAL sum, and the correlation is assembled from those exact
    moments with one identical float expression per pair. Second
    moments multiply DECIMAL(15,3)-cast inputs (source values carry
    <=2 fractional digits, so the cast is exact) giving an EXACT
    scale-6 decimal product — no per-term float rounding at all, so
    there is no 2^53 quantization envelope to exceed (the round-5
    advice on pround(x*x, 6) at ~1.2e10).

    Scale: ONE scan computes all moments for all pairs (a single
    aggregation, map-side combinable); decimal product sums keep
    scale 6 with 30+ integer digits of headroom, exact far past
    10^10 rows. Partitioning-invariant by construction.
    """
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _G16_COLS:
        aggs.append(F.sum(F.col(c).cast("decimal(25,6)")).cast("double").alias(f"s_{c}"))
        aggs.append(
            F.sum(F.col(c).cast("decimal(15,3)") * F.col(c).cast("decimal(15,3)"))
            .cast("double")
            .alias(f"ss_{c}")
        )
    for i, x in enumerate(_G16_COLS):
        for y in _G16_COLS[i + 1 :]:
            aggs.append(
                F.sum(F.col(x).cast("decimal(15,3)") * F.col(y).cast("decimal(15,3)"))
                .cast("double")
                .alias(f"sp_{x}_{y}")
            )
    m = li.agg(F.count(F.lit(1)).cast("bigint").alias("n"), *aggs)
    arms = []
    for i, x in enumerate(_G16_COLS):
        for y in _G16_COLS[i + 1 :]:
            num = F.col("n") * F.col(f"sp_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")
            den = F.sqrt(
                (F.col("n") * F.col(f"ss_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}"))
                * (F.col("n") * F.col(f"ss_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}"))
            )
            arms.append(
                m.select(
                    F.lit(x).alias("col_x"),
                    F.lit(y).alias("col_y"),
                    F.col("n"),
                    pround(num / den, 6).alias("pearson"),
                )
            )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("col_x", "col_y")


# ---------------------------------------------------------------------------
# g14 — deterministic Poisson bootstrap

_G14_B = 20
# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * sum 1/k!), written
# as full-precision literals so both engines compare against identical
# doubles; weights are capped at 5 (P(w>5) ~ 1e-4, a deliberate,
# documented truncation identical on both sides).
_G14_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)


def _g14_w_sql(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {p} THEN {k}" for k, p in enumerate(_G14_CDF)
    )
    return f"CASE {arms} ELSE 5 END"


_G14_KEY = "CAST(o.o_orderkey AS VARCHAR) || '#' || CAST(t.b AS VARCHAR)"
_G14_U = f"((CAST({_sql_md5fold(_G14_KEY)} AS DOUBLE) + 0.5) / {float(2**32)})"


@query(
    "qg14_poisson_bootstrap",
    oracle=f"""
WITH reps AS (
  SELECT CAST(t.b AS INTEGER) AS b, o.o_totalprice,
         {_g14_w_sql(_G14_U)} AS w
  FROM orders o CROSS JOIN range(0, {_G14_B}) t(b)
)
SELECT b,
       CAST(SUM(w) AS BIGINT) AS n_drawn,
       {sql_pround(f"CAST(SUM({_sql_dterm('w * o_totalprice')}) AS DOUBLE) / SUM(w)", 6)} AS boot_mean
FROM reps GROUP BY b ORDER BY b
""",
    tags=("statistics", "sampling"),
    bench=True,
)
def qg14_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean order value
    ({_G14_B} replicates): each (row, replicate) draws a
    Poisson(1)-distributed resampling weight from an md5 hash — the
    streaming-friendly bootstrap used at warehouse scale, because it
    needs NO row indexing, NO global resample join, and NO RNG state:
    every replicate is one weighted aggregation, embarrassingly
    parallel and identically reproducible on any cluster size. The
    replicate spread estimates the sampling error of the mean.

    Scale: the fan-out is a constant x{_G14_B} explode feeding one
    grouped DECIMAL-summed aggregation — map-side combinable, no
    shuffle beyond the {_G14_B}-group rollup. Weight caps at 5
    (P ~ 1e-4, same truncation both engines). Determinism: u from the
    md5-integer lattice (+0.5, the qe01 idiom), thresholds are shared
    full-precision literals.
    """
    # spread BEFORE the x20 explode (r14): sf-scale orders arrives as a
    # single parquet split (one row group), so the whole 20x md5 fan-out
    # stage otherwise runs on ONE core; at real scale the scan is
    # already parallel and spread() is a no-op (partition-count guard).
    o = spread(table(spark, sf_dir, "orders"), "o_orderkey")
    reps = o.select(
        "o_orderkey", "o_totalprice", F.explode(F.sequence(F.lit(0), F.lit(_G14_B - 1))).alias("b")
    )
    h = _md5fold(
        F.concat_ws("", F.col("o_orderkey").cast("string"), F.lit("#"), F.col("b").cast("string"))
    )
    # materialize u in its OWN projection: inlining it into the CASE
    # gave a plan whose five WHEN branches each re-evaluated the full
    # md5 fold (5 md5s/row in the round-13 before-plan); a non-cheap
    # expression referenced 5x is not re-collapsed by the optimizer, so
    # this evaluates md5 exactly once per (row, replicate)
    drawn = reps.select(
        "b", "o_totalprice", ((h.cast("double") + 0.5) / float(2**32)).alias("u")
    )
    u = F.col("u")
    w = F.when(u < _G14_CDF[0], 0)
    for k in range(1, 5):
        w = w.when(u < _G14_CDF[k], k)
    w = w.otherwise(5)
    weighted = drawn.select(F.col("b").cast("int").alias("b"), w.alias("w"), "o_totalprice")
    return (
        weighted.groupBy("b")
        .agg(
            F.sum("w").cast("bigint").alias("n_drawn"),
            pround(
                F.sum(_dterm(F.col("w") * F.col("o_totalprice"))).cast("double") / F.sum("w"), 6
            ).alias("boot_mean"),
        )
        .orderBy("b")
    )


# ---------------------------------------------------------------------------
# g17 — two-proportion A/B audit


@query(
    "qg17_two_proportion_ab",
    oracle=f"""
WITH assign AS (
  SELECT DISTINCT user_id, CAST(user_id % 2 AS INTEGER) AS variant FROM events
), conv AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), arms AS (
  SELECT a.variant,
         COUNT(*) AS n_users,
         SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS n_conv
  FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
  GROUP BY a.variant
), wide AS (
  SELECT
    MAX(CASE WHEN variant = 0 THEN n_users END) AS n_ctl,
    MAX(CASE WHEN variant = 0 THEN n_conv END) AS c_ctl,
    MAX(CASE WHEN variant = 1 THEN n_users END) AS n_trt,
    MAX(CASE WHEN variant = 1 THEN n_conv END) AS c_trt
  FROM arms
)
SELECT CAST(n_ctl AS BIGINT) AS n_ctl, CAST(c_ctl AS BIGINT) AS conv_ctl,
       CAST(n_trt AS BIGINT) AS n_trt, CAST(c_trt AS BIGINT) AS conv_trt,
       {sql_pround('CAST(c_ctl AS DOUBLE) / n_ctl', 6)} AS rate_ctl,
       {sql_pround('CAST(c_trt AS DOUBLE) / n_trt', 6)} AS rate_trt,
       {sql_pround('CAST(c_trt AS DOUBLE) / n_trt - CAST(c_ctl AS DOUBLE) / n_ctl', 6)} AS lift,
       {sql_pround(
           'CASE WHEN sqrt((CAST(c_ctl + c_trt AS DOUBLE) / (n_ctl + n_trt))'
           ' * (1.0 - CAST(c_ctl + c_trt AS DOUBLE) / (n_ctl + n_trt))'
           ' * (1.0 / n_ctl + 1.0 / n_trt)) = 0 THEN 0.0 ELSE '
           '(CAST(c_trt AS DOUBLE) / n_trt - CAST(c_ctl AS DOUBLE) / n_ctl)'
           ' / sqrt((CAST(c_ctl + c_trt AS DOUBLE) / (n_ctl + n_trt))'
           ' * (1.0 - CAST(c_ctl + c_trt AS DOUBLE) / (n_ctl + n_trt))'
           ' * (1.0 / n_ctl + 1.0 / n_trt)) END', 6)} AS z_score
FROM wide
""",
    tags=("events", "statistics"),
)
def qg17_two_proportion_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a hash-split experiment: users are
    assigned by user_id parity (the deterministic assignment an A/B
    platform derives from a hashed unit id), conversion = any purchase
    event, and the audit emits both arms' rates, the lift, and the
    pooled z statistic — pairing with qd15's Wilson interval (single
    proportion) to complete the experimentation-stats surface.

    Scale: conversion and assignment sets are pre-distinct'd per user
    (vanilla-heap rule), one 2-group aggregation, then pure scalar
    float math on a 1-row frame — identical expression trees on both
    engines. No windows, no fan-out.
    """
    e = table(spark, sf_dir, "events")
    assign = e.select("user_id", (F.col("user_id") % 2).cast("int").alias("variant")).distinct()
    conv = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    arms = (
        assign.join(conv.withColumn("_c", F.lit(1)), "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce("_c", F.lit(0))).alias("n_conv"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_ctl"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("c_ctl"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_trt"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("c_trt"),
    )
    r_ctl = F.col("c_ctl").cast("double") / F.col("n_ctl")
    r_trt = F.col("c_trt").cast("double") / F.col("n_trt")
    pooled = (F.col("c_ctl") + F.col("c_trt")).cast("double") / (F.col("n_ctl") + F.col("n_trt"))
    den = F.sqrt(pooled * (1.0 - pooled) * (1.0 / F.col("n_ctl") + 1.0 / F.col("n_trt")))
    # degenerate arms (0% or 100% pooled conversion) have zero variance:
    # define z = 0 on both engines instead of 0/0
    z = F.when(den == 0, F.lit(0.0)).otherwise((r_trt - r_ctl) / den)
    return wide.select(
        F.col("n_ctl").cast("bigint").alias("n_ctl"),
        F.col("c_ctl").cast("bigint").alias("conv_ctl"),
        F.col("n_trt").cast("bigint").alias("n_trt"),
        F.col("c_trt").cast("bigint").alias("conv_trt"),
        pround(r_ctl, 6).alias("rate_ctl"),
        pround(r_trt, 6).alias("rate_trt"),
        pround(r_trt - r_ctl, 6).alias("lift"),
        pround(z, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# g18 — deterministic compressibility (qe28's hash-gated twin)


@query(
    "qg18_char_ngram_compressibility",
    oracle=f"""
WITH grams AS (
  SELECT d.source, d.doc_id,
         unnest(list_transform(range(1, len(text) - 2), i -> text[i:i+3])) AS g
  FROM documents d
  WHERE len(text) >= 4
), per_source AS (
  SELECT source,
         COUNT(*) AS total_grams,
         COUNT(DISTINCT g) AS distinct_grams,
         COUNT(DISTINCT doc_id) AS n_docs
  FROM grams GROUP BY source
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_grams AS BIGINT) AS total_grams,
       CAST(distinct_grams AS BIGINT) AS distinct_grams,
       {sql_pround('CAST(distinct_grams AS DOUBLE) / total_grams', 6)} AS distinct_ratio
FROM per_source ORDER BY source
""",
    tags=("text", "quality"),
    bench=True,
)
def qg18_char_ngram_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic compressibility measure: distinct char-4-gram
    ratio per source (distinct / total sliding 4-grams) — the
    SQL-expressible twin the round-4 verdict asked for next to qe28's
    zlib proxy: a low ratio means the source's character stream is
    dominated by repeated substrings (templated/boilerplate, exactly
    what LZ-family compressors exploit), a ratio near 1 means
    high-entropy text. qe28 keeps the production zlib number
    (rows-only: a C library's output is not SQL); THIS query gives the
    same quality signal a driver-hashable definition.

    Scale: one char-gram explode (output size = corpus bytes — the
    same cost class as tokenization) into one per-source aggregation;
    the distinct count shuffles (source, gram) pairs which Heaps' law
    keeps sublinear in corpus size. No Python, no windows.
    """
    d = table(spark, sf_dir, "documents")
    # r13 note: a split form (per-doc scalars for total_grams/n_docs with
    # no explode + a lone (source, g) distinct) was prototyped to dodge
    # the multi-count_distinct Expand and MEASURED SLOWER (13.8 vs 8.4
    # warm JVM-CPU-s at sf0.1): the Expand path's partial aggregate
    # already dedups map-side, so the extra scan + join only added cost.
    # Kept: the single multi-distinct aggregate.
    grams = (
        spread(d, "doc_id")
        .filter(F.length("text") >= 4)
        .select(
            "source",
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, length(text) - 3), i -> substring(text, i, 4))")
            ).alias("g"),
        )
    )
    per_source = grams.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_grams"),
        F.count_distinct("g").alias("distinct_grams"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    return per_source.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_grams").cast("bigint").alias("total_grams"),
        F.col("distinct_grams").cast("bigint").alias("distinct_grams"),
        pround(F.col("distinct_grams").cast("double") / F.col("total_grams"), 6).alias(
            "distinct_ratio"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# g19 — cross-snapshot n-gram novelty


@query(
    "qg19_snapshot_novelty",
    oracle=f"""
WITH {_SHINGLE_CTE},
base_sh AS (
  SELECT DISTINCT s.shingle FROM shingles s WHERE s.doc_id % 3 <> 0
), delta AS (
  SELECT s.doc_id, s.shingle FROM shingles s WHERE s.doc_id % 3 = 0
), per_doc AS (
  SELECT d.doc_id,
         COUNT(*) AS n_sh,
         SUM(CASE WHEN b.shingle IS NULL THEN 1 ELSE 0 END) AS n_new
  FROM delta d LEFT JOIN base_sh b ON b.shingle = d.shingle
  GROUP BY d.doc_id
)
SELECT dd.source,
       CAST(COUNT(*) AS BIGINT) AS n_delta_docs,
       CAST(SUM(p.n_new) AS BIGINT) AS new_shingles,
       CAST(SUM(p.n_sh) AS BIGINT) AS total_shingles,
       {sql_pround(f"CAST(SUM({_sql_dterm('CAST(p.n_new AS DOUBLE) / p.n_sh')}) AS DOUBLE) / COUNT(*)", 6)} AS mean_novelty
FROM per_doc p JOIN documents dd ON dd.doc_id = p.doc_id
GROUP BY dd.source ORDER BY dd.source
""",
    tags=("text", "curation"),
)
def qg19_snapshot_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot novelty: how much of an incoming delta batch
    (doc_id % 3, g02's split) is genuinely NEW text — per delta
    document, the fraction of its trigram shingles absent from the
    base snapshot's shingle universe, rolled up per source. This is
    the dataset-versioning dial: near-zero novelty means the refresh
    re-crawled what you have (skip it); a spike means the source
    changed distribution (f01's PSI complement at n-gram level).

    Scale: the base universe is a distinct shingle set (Heaps-
    sublinear); the delta joins against it on the shingle key only —
    inverted-index shape, never corpus x corpus. Ratios are exact
    int/int divisions, DECIMAL-summed.
    """
    d = table(spark, sf_dir, "documents")
    sh = shingles(d)
    base_sh = sh.filter(F.col("doc_id") % 3 != 0).select("shingle").distinct()
    delta = sh.filter(F.col("doc_id") % 3 == 0)
    per_doc = (
        delta.join(base_sh.withColumn("_b", F.lit(1)), "shingle", "left")
        .groupBy("doc_id", "n_sh")
        .agg(F.sum(F.when(F.col("_b").isNull(), 1).otherwise(0)).alias("n_new"))
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_delta_docs"),
            F.sum("n_new").cast("bigint").alias("new_shingles"),
            F.sum("n_sh").cast("bigint").alias("total_shingles"),
            pround(
                F.sum(_dterm(F.col("n_new").cast("double") / F.col("n_sh"))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_novelty"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# g20 — activity streaks (gaps-and-islands on the day grid)


@query(
    "qg20_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
  FROM events
), grp AS (
  SELECT user_id, day,
         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
), streaks AS (
  SELECT user_id, COUNT(*) AS len FROM grp GROUP BY user_id, island
), longest AS (
  SELECT user_id, MAX(len) AS best FROM streaks GROUP BY user_id
)
SELECT CAST(best AS INTEGER) AS streak_days,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM longest GROUP BY best ORDER BY streak_days
""",
    tags=("events",),
)
def qg20_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, as a
    histogram (streak length -> user count): the gaps-and-islands
    pattern (day minus per-user row_number is constant within a run)
    — the engagement-depth metric next to qe10's DAU/WAU stickiness
    ratio, and the canonical interview-question-grade SQL idiom the
    engine should express natively.

    Scale: activity collapses to distinct (user, day) FIRST (vanilla-
    heap rule), the island window partitions per user (never global),
    and the output is a tiny histogram. Pure integer day arithmetic.
    """
    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("bigint").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn("island", F.col("day") - F.row_number().over(w))
    streaks = grp.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("best"))
    return (
        longest.groupBy(F.col("best").cast("int").alias("streak_days"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("streak_days")
    )


# ---------------------------------------------------------------------------
# g21 — embedding centroid drift


@query(
    "qg21_embedding_drift",
    oracle=f"""
WITH pos AS (
  SELECT vec_id, label, CAST(vec_id % 2 AS INTEGER) AS half,
         t.pos AS pos, CAST(t.val AS DOUBLE) AS val
  FROM (
    SELECT vec_id, label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {{'pos': i - 1, 'val': embedding[i]}})) AS t
    FROM embeddings) s
), cent AS (
  SELECT label, half, pos,
         {sql_pround('CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)', 6)} AS c
  FROM pos GROUP BY label, half, pos
), paired AS (
  SELECT a.label, a.pos, a.c AS ca, b.c AS cb
  FROM cent a JOIN cent b ON b.label = a.label AND b.pos = a.pos
  WHERE a.half = 0 AND b.half = 1
), counts AS (
  SELECT label, half, COUNT(DISTINCT vec_id) AS n FROM pos GROUP BY label, half
), wide AS (
  SELECT label,
         CAST(MAX(CASE WHEN half = 0 THEN n END) AS BIGINT) AS n_a,
         CAST(MAX(CASE WHEN half = 1 THEN n END) AS BIGINT) AS n_b
  FROM counts GROUP BY label
), drift AS (
  SELECT label,
         {sql_pround(f"sqrt(CAST(SUM({_sql_dterm('(ca - cb) * (ca - cb)')}) AS DOUBLE))", 6)} AS centroid_l2_drift
  FROM paired GROUP BY label
)
SELECT d.label, w.n_a, w.n_b, d.centroid_l2_drift
FROM drift d JOIN wide w ON w.label = d.label
ORDER BY d.label
""",
    tags=("vector", "audit"),
)
def qg21_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding centroid drift per label between two deterministic
    halves of the corpus (vec_id parity — the stand-in for "last
    week's embeddings vs this week's"): the L2 distance between the
    halves' per-label centroids, the one-number tripwire a feature
    pipeline watches after re-embedding with a new model checkpoint —
    large drift on a stable label means the embedding space moved and
    every downstream ANN index / semantic-dedup threshold needs
    re-calibration (qc13 measures cluster tightness; this measures
    cluster MOVEMENT).

    Scale: one posexplode into a (label, half, pos) mean — dims x
    labels x 2 cells, map-side combinable; the drift assembles from
    the tiny centroid table only, the corpus is touched once.
    Determinism: exact DECIMAL(25,6)-sum means pround(6)'d BEFORE
    differencing (both engines difference identical doubles), DECIMAL-
    summed squared terms, one final sqrt.
    """
    emb = table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias("pos", "val"),
    )
    cent = pos.groupBy("label", "half", "pos").agg(
        pround(
            F.sum(F.col("val").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("c")
    )
    paired = (
        cent.filter(F.col("half") == 0)
        .select("label", "pos", F.col("c").alias("ca"))
        .join(
            cent.filter(F.col("half") == 1).select("label", "pos", F.col("c").alias("cb")),
            ["label", "pos"],
        )
    )
    counts = (
        emb.select("label", (F.col("vec_id") % 2).cast("int").alias("half"), "vec_id")
        .groupBy("label", "half")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drift = paired.groupBy("label").agg(
        pround(
            F.sqrt(
                F.sum(_dterm((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))).cast(
                    "double"
                )
            ),
            6,
        ).alias("centroid_l2_drift")
    )
    wide = counts.groupBy("label").agg(
        F.max(F.when(F.col("half") == 0, F.col("n"))).cast("bigint").alias("n_a"),
        F.max(F.when(F.col("half") == 1, F.col("n"))).cast("bigint").alias("n_b"),
    )
    return drift.join(wide, "label").select(
        "label", "n_a", "n_b", "centroid_l2_drift"
    ).orderBy("label")


# ---------------------------------------------------------------------------
# g22 — duplicate cluster size distribution


@query(
    "qg22_dup_cluster_sizes",
    oracle=f"""
WITH groups AS (
  SELECT md5(text) AS fp, COUNT(*) AS sz FROM documents GROUP BY md5(text)
), tot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
)
SELECT CAST(g.sz AS INTEGER) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * g.sz AS BIGINT) AS n_docs,
       {sql_pround('COUNT(*) * g.sz / t.n', 6)} AS corpus_share
FROM groups g CROSS JOIN tot t
GROUP BY g.sz, t.n ORDER BY cluster_size
""",
    tags=("dedup", "audit"),
)
def qg22_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution: how many fingerprint
    groups exist at each multiplicity and what share of the corpus
    they hold — the dedup planning number (a fat tail of large
    clusters is why q63's collapse/expand exists: N-copy groups would
    otherwise explode the LSH bucket self-join as N^2), and the
    denominator behind qd15's dup-rate CI.

    Scale: one fingerprint groupBy, one size histogram — the
    distribution costs nothing beyond the dedup scan itself. Integer
    counts; the share is one exact division against the 1-row total.
    """
    d = table(spark, sf_dir, "documents")
    groups = d.groupBy(F.md5("text").alias("fp")).agg(F.count(F.lit(1)).alias("sz"))
    tot = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        groups.groupBy(F.col("sz").cast("int").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size")).cast("bigint").alias("n_docs"),
            pround(F.col("n_clusters") * F.col("cluster_size") / F.col("n"), 6).alias(
                "corpus_share"
            ),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# g23 — functional-dependency audit

_G23_ARMS = (
    ("documents", "source", "lang"),
    ("documents", "lang", "source"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("customer", "c_mktsegment", "c_nationkey"),
)


def _g23_sql_arm(tbl: str, det: str, dep: str) -> str:
    return f"""
SELECT '{tbl}' AS tbl, '{det}' AS det_col, '{dep}' AS dep_col,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       {sql_pround('CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 6)} AS violation_rate
FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS nd FROM {tbl} GROUP BY {det}) t"""


@query(
    "qg23_functional_dependency",
    oracle=" UNION ALL ".join(_g23_sql_arm(*a) for a in _G23_ARMS)
    + " ORDER BY tbl, det_col, dep_col",
    tags=("relational", "audit"),
)
def qg23_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery audit: for each candidate
    determinant -> dependent column pair, how many determinant values
    map to MORE than one dependent value — the schema-inference /
    data-quality primitive behind "is source a reliable language
    signal?" and "can I denormalize this column?", complementing
    qd16's single-column profile and qe14's declared constraints with
    DISCOVERED near-dependencies.

    Scale: per arm, one (det, dep) distinct + one det-keyed count —
    map-side combinable, output one row per arm. The distinct runs
    BEFORE any count (vanilla-heap rule). Integers + one division.
    """
    out = None
    for tbl, det, dep in _G23_ARMS:
        t = table(spark, sf_dir, tbl)
        per_det = (
            t.select(det, dep)
            .distinct()
            .groupBy(det)
            .agg(F.count(F.lit(1)).alias("nd"))
        )
        arm = per_det.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(det).alias("det_col"),
            F.lit(dep).alias("dep_col"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum((F.col("nd") > 1).cast("int")).cast("bigint").alias("n_violating"),
            pround(
                F.sum((F.col("nd") > 1).cast("int")).cast("double") / F.count(F.lit(1)), 6
            ).alias("violation_rate"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("tbl", "det_col", "dep_col")
