"""Round-5 staged extensions (h01+): information-retrieval ranking
(BM25, substring search, co-occurrence PMI), inequality decomposition
(Theil), Johnson-Lindenstrauss projection audit, grouped KS drift,
hierarchical percent-of-parent rollups, and session path mining.

h-keys sort AFTER g23 and before q01, so they stage OUTSIDE the live
round-5 window (f01-f27 + g01-g23 = exactly 50) — the round-6
rotation's window candidates, exactly like the z/f staging in rounds
3/4 (history in __spark_entry__.py). All oracle-gated; engine style
unchanged (pround floor-rounding, DECIMAL sums, unique tie-breaks,
scalar outputs).
"""

from __future__ import annotations

from pyspark_distributed_kmodes_spark.functions.lineage import cut_lineage

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_distributed_kmodes_spark.functions.deterministic import (
    pround,
    sql_pround,
)
from pyspark_distributed_kmodes_spark.operators.curation2 import _dterm, _sql_dterm
from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold as _md5fold_local
from pyspark_distributed_kmodes_spark.registry import query
from pyspark_distributed_kmodes_spark.session import scratch_dir
from pyspark_distributed_kmodes_spark.sources.tables import spread, table

# ---------------------------------------------------------------------------
# h01 — BM25 ranking

_H01_TERMS = ("spark", "merge", "window")
_H01_K1 = 1.2
_H01_B = 0.75
_H01_TOPK = 20

_H01_TERMS_SQL = ", ".join(f"('{t}')" for t in _H01_TERMS)


@query(
    "qh01_bm25_ranking",
    oracle=f"""
WITH q(term) AS (VALUES {_H01_TERMS_SQL}),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(dl AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avgdl
  FROM docs
), tf AS (
  SELECT d.doc_id, d.dl, q.term,
         CAST(len(list_filter(d.ws, w -> w = q.term)) AS BIGINT) AS tf
  FROM docs d CROSS JOIN q
  WHERE len(list_filter(d.ws, w -> w = q.term)) > 0
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), contrib AS (
  SELECT t.doc_id,
         {_sql_dterm(
             f"ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0)"
             f" * (t.tf * ({_H01_K1} + 1.0))"
             f" / (t.tf + {_H01_K1} * (1.0 - {_H01_B} + {_H01_B} * t.dl / s.avgdl))"
         )} AS c
  FROM tf t JOIN df f ON f.term = t.term CROSS JOIN stats s
), scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INTEGER) AS n_terms_matched,
         {sql_pround('CAST(SUM(c) AS DOUBLE)', 9)} AS s9
  FROM contrib GROUP BY doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY s9 DESC, doc_id ASC) AS INTEGER) AS rank,
       doc_id, n_terms_matched,
       {sql_pround('s9', 6)} AS bm25
FROM scored
ORDER BY rank LIMIT {_H01_TOPK}
""",
    tags=("text", "retrieval"),
)
def qh01_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query ({_H01_TERMS}): the
    standard IR relevance function (Okapi k1={_H01_K1}, b={_H01_B}) —
    the retrieval primitive behind RAG corpus indexing and
    deduplication triage, completing the text surface next to q57's
    raw TF-IDF terms.

    Scale: inverted-index shape — ONLY documents containing a query
    term are scored (the tf filter is the posting-list intersection),
    so the ranking window runs over the qualifying set (bounded by
    posting sizes), never the corpus; df and avgdl are tiny broadcast
    aggregates. Determinism: idf/tf chain on exact integers + one
    avgdl division, terms pround(9)->DECIMAL-summed, rank tie-broken
    by doc_id.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    docs = d.select("doc_id", words.alias("ws"), F.size(words).cast("bigint").alias("dl"))
    stats = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("dl").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias(
            "avgdl"
        ),
    )
    terms = spark.createDataFrame([(t,) for t in _H01_TERMS], "term string")
    tf = (
        docs.crossJoin(F.broadcast(terms))
        .select(
            "doc_id",
            "dl",
            "term",
            F.size(F.filter("ws", lambda w: w == F.col("term"))).cast("bigint").alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + _H01_K1 * (1.0 - _H01_B + _H01_B * F.col("dl") / F.col("avgdl"))
    contrib = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", _dterm(idf * (F.col("tf") * (_H01_K1 + 1.0)) / denom).alias("c"))
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
        pround(F.sum("c").cast("double"), 9).alias("s9"),
    )
    w = Window.orderBy(F.desc("s9"), F.asc("doc_id"))  # bounded: qualifying docs only
    return (
        scored.select(
            F.row_number().over(w).cast("int").alias("rank"),
            "doc_id",
            "n_terms_matched",
            pround(F.col("s9"), 6).alias("bm25"),
        )
        .filter(F.col("rank") <= _H01_TOPK)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# h02 — Theil inequality decomposition


@query(
    "qh02_theil_decomposition",
    oracle=f"""
WITH x AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents
), g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tok) AS BIGINT) AS toks
  FROM x GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n, CAST(SUM(toks) AS BIGINT) AS t FROM g
), within AS (
  SELECT x.source,
         {sql_pround(
             "CAST(SUM({term}) AS DOUBLE) / MAX(g.n_docs)".format(
                 term=_sql_dterm(
                     "(CAST(x.tok AS DOUBLE) / (CAST(g.toks AS DOUBLE) / g.n_docs))"
                     " * ln(CAST(x.tok AS DOUBLE) / (CAST(g.toks AS DOUBLE) / g.n_docs))"
                 )
             ), 9)} AS t_within
  FROM x JOIN g ON g.source = x.source
  GROUP BY x.source
), between_terms AS (
  SELECT g.source,
         {sql_pround(
             '(CAST(g.toks AS DOUBLE) / t.t)'
             ' * ln((CAST(g.toks AS DOUBLE) / g.n_docs) / (CAST(t.t AS DOUBLE) / t.n))', 9)} AS bterm
  FROM g CROSS JOIN tot t
), btot AS (
  SELECT {sql_pround(f"CAST(SUM({_sql_dterm('bterm')}) AS DOUBLE)", 6)} AS t_between
  FROM between_terms
)
SELECT w.source, g.n_docs,
       {sql_pround('CAST(g.toks AS DOUBLE) / t.t', 6)} AS token_share,
       {sql_pround('w.t_within', 6)} AS theil_within,
       b.t_between
FROM within w
JOIN g ON g.source = w.source
CROSS JOIN tot t CROSS JOIN btot b
ORDER BY w.source
""",
    tags=("statistics", "curation"),
)
def qh02_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of token mass across documents,
    split into within-source and between-source components — the
    additive inequality measure (unlike qd09's Gini) that answers "is
    corpus imbalance driven by a few giant docs inside sources, or by
    sources of very different sizes?" — the number that decides whether
    rebalancing should re-weight SOURCES (qc04) or truncate DOCUMENTS
    (qe14 length caps).

    Scale: one token projection, one per-source aggregate, the
    between term over |sources| rows — all map-side combinable.
    Determinism: means are exact-sum/count, ln on identical doubles,
    terms pround(9)->DECIMAL-summed.
    """
    d = table(spark, sf_dir, "documents")
    x = d.select("source", F.size(F.split("text", " ")).cast("bigint").alias("tok"))
    # bounded per-source stats with four consumers: materialize once
    # so each doesn't replay the token projection scan (scan-lint)
    g = x.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("toks"),
    ).transform(cut_lineage)
    tot = g.agg(
        F.sum("n_docs").cast("bigint").alias("n"), F.sum("toks").cast("bigint").alias("t")
    )
    mu_g = F.col("toks").cast("double") / F.col("n_docs")
    rel = F.col("tok").cast("double") / mu_g
    within = (
        x.join(F.broadcast(g), "source")
        .select("source", "n_docs", _dterm(rel * F.log(rel)).alias("term"))
        .groupBy("source")
        .agg(pround(F.sum("term").cast("double") / F.max("n_docs"), 9).alias("t_within"))
    )
    w_share = F.col("toks").cast("double") / F.col("t")
    mu_all = F.col("t").cast("double") / F.col("n")
    bterms = g.crossJoin(F.broadcast(tot)).select(
        "source",
        pround(w_share * F.log(mu_g / mu_all), 9).alias("bterm"),
    )
    btot = bterms.agg(pround(F.sum(_dterm(F.col("bterm"))).cast("double"), 6).alias("t_between"))
    return (
        within.join(g, "source")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "source",
            "n_docs",
            pround(F.col("toks").cast("double") / F.col("t"), 6).alias("token_share"),
            pround(F.col("t_within"), 6).alias("theil_within"),
            "t_between",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# h04 — substring search with scan pushdown

_H04_PATTERNS = ("fast merge", "table scan", "spark window")


def _h04_sql_arm(pat: str) -> str:
    return f"""
SELECT '{pat}' AS pattern,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM((len(text) - len(replace(text, '{pat}', ''))) // {len(pat)}) AS BIGINT) AS n_occurrences,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM documents WHERE contains(text, '{pat}')"""


@query(
    "qh04_substring_search",
    oracle=" UNION ALL ".join(_h04_sql_arm(p) for p in _H04_PATTERNS) + " ORDER BY pattern",
    tags=("text", "retrieval"),
)
def qh04_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal substring search (grep) over the corpus for a fixed
    phrase set: per pattern, matching-doc count, total occurrence
    count, and the first matching doc — the exact-phrase complement of
    h01's ranked retrieval and the primitive behind "find every
    document quoting this string" takedown/decontamination scans.

    Scale: the `contains` filter is a data-source-pushable
    StringContains predicate — matching happens IN the scan, and only
    matching rows reach the aggregate; occurrence counting is the
    replace-length identity (pure integer arithmetic, no regex
    engine semantics to reconcile between engines).
    """
    d = table(spark, sf_dir, "documents")
    out = None
    for pat in _H04_PATTERNS:
        occ = (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(pat), F.lit(""))))
            / len(pat)
        ).cast("bigint")
        arm = (
            d.filter(F.col("text").contains(pat))
            .agg(
                F.lit(pat).alias("pattern"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum(occ).cast("bigint").alias("n_occurrences"),
                F.min("doc_id").cast("bigint").alias("first_doc"),
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("pattern")


# ---------------------------------------------------------------------------
# h06 — document co-occurrence PMI

_H06_TOPK = 20


@query(
    "qh06_cooccurrence_pmi",
    oracle=f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), nd AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM dw
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS nw FROM dw GROUP BY w
), pair AS (
  SELECT a.w AS word_a, b.w AS word_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
), scored AS (
  SELECT p.word_a, p.word_b, p.n_ab,
         {sql_pround('ln(CAST(p.n_ab AS DOUBLE) * d.n / (ua.nw * ub.nw))', 9)} AS pmi9
  FROM pair p
  JOIN uni ua ON ua.w = p.word_a
  JOIN uni ub ON ub.w = p.word_b
  CROSS JOIN nd d
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pmi9 DESC, word_a ASC, word_b ASC) AS INTEGER) AS rank,
       word_a, word_b, n_ab,
       {sql_pround('pmi9', 6)} AS pmi
FROM scored
ORDER BY rank LIMIT {_H06_TOPK}
""",
    tags=("text", "statistics"),
)
def qh06_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level co-occurrence PMI: word pairs that appear in the
    SAME DOCUMENT far more often than independence predicts — the
    topic-structure signal (qd07's bigram PMI sees only ADJACENT
    words; this sees long-range association, the difference between
    collocations and topics).

    Scale: co-occurrence is a per-doc self-join of the distinct
    (doc, word) projection — vocabulary-bounded output (<= V^2/2 pairs
    regardless of corpus size) and Heaps-sublinear input; a production
    corpus caps the posting list per word (the q55 max_df discipline)
    before pairing. Determinism: PMI is ln of a ratio of exact
    integers; rank ordering on the pround(9) key, tie-broken by the
    word pair.
    """
    d = table(spark, sf_dir, "documents")
    # the distinct (doc, word) table feeds the doc count, the unigram
    # dictionary AND both self-join sides: materialize once so the
    # explode+distinct isn't recomputed four times (scan-lint)
    dw = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .transform(cut_lineage)
    )
    nd = dw.agg(F.count_distinct("doc_id").cast("bigint").alias("n"))
    uni = dw.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("nw"))
    a = dw.select("doc_id", F.col("w").alias("word_a"))
    b = dw.select("doc_id", F.col("w").alias("word_b"))
    pair = (
        a.join(b, "doc_id")
        .filter(F.col("word_a") < F.col("word_b"))
        .groupBy("word_a", "word_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    scored = (
        pair.join(F.broadcast(uni.withColumnRenamed("w", "word_a").withColumnRenamed("nw", "na")), "word_a")
        .join(F.broadcast(uni.withColumnRenamed("w", "word_b").withColumnRenamed("nw", "nb")), "word_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "word_a",
            "word_b",
            "n_ab",
            pround(
                F.log(F.col("n_ab").cast("double") * F.col("n") / (F.col("na") * F.col("nb"))), 9
            ).alias("pmi9"),
        )
    )
    w = Window.orderBy(F.desc("pmi9"), F.asc("word_a"), F.asc("word_b"))  # V^2-bounded
    return (
        scored.select(
            F.row_number().over(w).cast("int").alias("rank"),
            "word_a",
            "word_b",
            "n_ab",
            pround(F.col("pmi9"), 6).alias("pmi"),
        )
        .filter(F.col("rank") <= _H06_TOPK)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# h03 — Johnson-Lindenstrauss projection audit

_H03_K = 16  # projected dims; sqrt(16) = 4 exactly (no irrational scaling)
_H03_BUDGET = 24  # FIXED anchor budget: hash-rank top-K, scale-invariant

_H03_SIGN_SQL = (
    "CASE WHEN CAST(list_sum(list_transform(range(1, 9), i -> "
    "(strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || '#' || CAST(pos AS VARCHAR)), i, 1)) - 1)"
    " * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END"
)


@query(
    "qh03_jl_projection_audit",
    oracle=f"""
WITH samp AS (
  SELECT vec_id FROM (
    SELECT vec_id, CAST(list_sum(list_transform(range(1, 9), i -> (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), i, 1)) - 1) * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) AS h
    FROM embeddings ORDER BY h, vec_id LIMIT {_H03_BUDGET}) t
), sampled AS (
  SELECT e.vec_id, e.embedding FROM embeddings e JOIN samp s ON s.vec_id = e.vec_id
), pos AS (
  SELECT vec_id, t.pos AS pos, CAST(t.val AS DOUBLE) AS val FROM (
    SELECT vec_id,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {{'pos': i - 1, 'val': embedding[i]}})) AS t
    FROM sampled) s
), proj AS (
  SELECT p.vec_id, j.j,
         {sql_pround(f"CAST(SUM({_sql_dterm(_H03_SIGN_SQL + ' * val')}) AS DOUBLE) / 4.0", 9)} AS pv
  FROM pos p CROSS JOIN (SELECT unnest(range(0, {_H03_K})) AS j) j
  GROUP BY p.vec_id, j.j
), od AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(SUM({_sql_dterm('(a.val - b.val) * (a.val - b.val)')}) AS DOUBLE) AS d2
  FROM pos a JOIN pos b ON a.pos = b.pos AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
), pd AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(SUM({_sql_dterm('(a.pv - b.pv) * (a.pv - b.pv)')}) AS DOUBLE) AS p2
  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
), ratios AS (
  SELECT o.va, o.vb, {sql_pround('p.p2 / o.d2', 9)} AS ratio
  FROM od o JOIN pd p ON p.va = o.va AND p.vb = o.vb
  WHERE o.d2 > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {sql_pround(f"CAST(SUM({_sql_dterm('ratio')}) AS DOUBLE) / COUNT(*)", 6)} AS mean_ratio,
       CAST(SUM(CASE WHEN abs(ratio - 1.0) <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_50pct,
       {sql_pround('MIN(ratio)', 6)} AS min_ratio,
       {sql_pround('MAX(ratio)', 6)} AS max_ratio
FROM ratios
""",
    tags=("vector", "audit"),
)
def qh03_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection audit: embeddings are projected
    64 -> {_H03_K} dims with a +-1 md5-sign matrix (the database-
    friendly random projection — no dense float matrix to ship, both
    engines derive the identical matrix from md5 parity) and the audit
    measures how well pairwise squared distances survive on a
    deterministic sample — the go/no-go number before swapping the
    cheap projected representation into ANN indexing or semantic dedup
    at 100 TB (qb28/qb30's scale path).

    Scale: the projection is one (vec, j) grouped DECIMAL sum (k x dim
    expansion of the SAMPLE only); distance pairs run over the sampled
    set (hash-rank top-{_H03_BUDGET}: a FIXED budget at any corpus
    size, selected by TakeOrderedAndProject on the md5 key — never a
    fraction that grows with the data) — the audit is O(sample^2), never
    corpus^2, exactly how a production pipeline spot-checks a
    representation change. Determinism: signs from md5 parity,
    projections pround(9) BEFORE differencing, DECIMAL-summed
    squared terms, 1/sqrt(k) folded as the exact literal 4.0.
    """
    emb = table(spark, sf_dir, "embeddings")
    samp = (
        emb.select("vec_id", _md5fold_local(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(_H03_BUDGET)
        .select("vec_id")
    )
    sampled = emb.join(F.broadcast(samp), "vec_id")
    pos = sampled.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias("pos", "val"),
    ).transform(cut_lineage)  # feeds proj + both distance sides
    js = spark.range(_H03_K).select(F.col("id").cast("int").alias("j"))

    sign = F.when(
        _md5fold_local(F.concat_ws("#", F.col("j").cast("string"), F.col("pos").cast("string"))) % 2
        == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    proj = (
        pos.crossJoin(F.broadcast(js))
        .select("vec_id", "j", _dterm(sign * F.col("val")).alias("t"))
        .groupBy("vec_id", "j")
        .agg(pround(F.sum("t").cast("double") / 4.0, 9).alias("pv"))
    )
    pa = pos.select(F.col("vec_id").alias("va"), "pos", F.col("val").alias("xa"))
    pb = pos.select(F.col("vec_id").alias("vb"), "pos", F.col("val").alias("xb"))
    od = (
        pa.join(pb, "pos")
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", _dterm((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))).alias("t"))
        .groupBy("va", "vb")
        .agg(F.sum("t").cast("double").alias("d2"))
    )
    qa = proj.select(F.col("vec_id").alias("va"), "j", F.col("pv").alias("ya"))
    qb = proj.select(F.col("vec_id").alias("vb"), "j", F.col("pv").alias("yb"))
    pd_ = (
        qa.join(qb, "j")
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", _dterm((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))).alias("t"))
        .groupBy("va", "vb")
        .agg(F.sum("t").cast("double").alias("p2"))
    )
    ratios = (
        od.join(pd_, ["va", "vb"])
        .filter(F.col("d2") > 0)
        .select(pround(F.col("p2") / F.col("d2"), 9).alias("ratio"))
    )
    return ratios.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        pround(F.sum(_dterm(F.col("ratio"))).cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_ratio"
        ),
        F.sum((F.abs(F.col("ratio") - 1.0) <= 0.5).cast("int")).cast("bigint").alias(
            "n_within_50pct"
        ),
        pround(F.min("ratio"), 6).alias("min_ratio"),
        pround(F.max("ratio"), 6).alias("max_ratio"),
    )


# ---------------------------------------------------------------------------
# h05 — per-group KS drift vs the global distribution


@query(
    "qh05_grouped_ks_drift",
    oracle="""
WITH vals AS (
  SELECT DISTINCT n_chars AS v FROM documents
), gsize AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY source
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), gcum AS (
  SELECT v.v,
         CAST((SELECT COUNT(*) FROM documents d WHERE d.n_chars <= v.v) AS BIGINT) AS cg
  FROM vals v
), scum AS (
  SELECT g.source, v.v,
         CAST((SELECT COUNT(*) FROM documents d
               WHERE d.source = g.source AND d.n_chars <= v.v) AS BIGINT) AS cs
  FROM gsize g CROSS JOIN vals v
), dnum AS (
  SELECT s.source,
         MAX(abs(s.cs * t.n - g.cg * z.n_s)) AS d_num
  FROM scum s
  JOIN gcum g ON g.v = s.v
  JOIN gsize z ON z.source = s.source
  CROSS JOIN tot t
  GROUP BY s.source
)
SELECT d.source, z.n_s AS n_docs,
       CAST(d.d_num AS DOUBLE) / (z.n_s * t.n) AS ks_stat
FROM dnum d JOIN gsize z ON z.source = d.source CROSS JOIN tot t
ORDER BY d.source
""",
    tags=("statistics", "curation"),
)
def qh05_grouped_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KS drift against the GLOBAL length distribution: the
    maximum ECDF gap between each source's n_chars distribution and the
    corpus-wide one — qd10 generalized from two fixed samples to
    every-group-vs-rest, the per-source "does this feed look like the
    corpus?" tripwire that runs after every ingestion batch.

    Scale: the ECDF lattice is the DISTINCT value domain (bounded by
    the value dictionary, not row count); per-source cumulative counts
    come from one (source, value) count + a per-source running-sum
    window (partitioned by source, ordered over the bounded lattice —
    never a row-level global window). The statistic is exact integer
    cross-products (qd10's rule: |cs/ns - cg/N| compared as
    |cs*N - cg*ns|), with ONE final division.
    """
    d = table(spark, sf_dir, "documents")
    # ONE pass over documents: the (source, value) cell table is the
    # finest lattice — every other aggregate (value lattice, source
    # sizes, global counts, total) is an exact integer re-aggregation
    # of it, so no second scan exists (scan-lint: was 9 scans)
    scnt = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    ).transform(cut_lineage)
    vals = scnt.select("v").distinct()
    gsize = scnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    tot = gsize.agg(F.sum("n_s").cast("bigint").alias("n"))
    # global cumulative over the value lattice
    gcnt = scnt.groupBy("v").agg(F.sum("c").alias("c"))
    wg = Window.orderBy("v")  # bounded: |distinct n_chars| rows
    gcum = (
        vals.join(gcnt, "v", "left")
        .select("v", F.coalesce("c", F.lit(0)).alias("c"))
        .withColumn("cg", F.sum("c").over(wg).cast("bigint"))
        .select("v", "cg")
    )
    # per-source cumulative over the SAME lattice (grid join fills gaps)
    grid = gsize.select("source").crossJoin(vals)
    ws = Window.partitionBy("source").orderBy("v")
    scum = (
        grid.join(scnt, ["source", "v"], "left")
        .select("source", "v", F.coalesce("c", F.lit(0)).alias("c"))
        .withColumn("cs", F.sum("c").over(ws).cast("bigint"))
        .select("source", "v", "cs")
    )
    dnum = (
        scum.join(gcum, "v")
        .join(F.broadcast(gsize), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(F.max(F.abs(F.col("cs") * F.col("n") - F.col("cg") * F.col("n_s"))).alias("d_num"))
    )
    return (
        dnum.join(F.broadcast(gsize), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            (F.col("d_num").cast("double") / (F.col("n_s") * F.col("n"))).alias("ks_stat"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# h07 — hierarchical percent-of-parent rollup


@query(
    "qh07_percent_of_parent",
    oracle=f"""
WITH cell AS (
  SELECT r.r_name AS region, n.n_name AS nation, c.c_mktsegment AS segment,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2, 3
), nat AS (
  SELECT region, nation, CAST(SUM(CAST(rev AS DECIMAL(25,6))) AS DOUBLE) AS nrev
  FROM cell GROUP BY 1, 2
), reg AS (
  SELECT region, CAST(SUM(CAST(nrev AS DECIMAL(25,6))) AS DOUBLE) AS rrev
  FROM nat GROUP BY 1
), tot AS (
  SELECT CAST(SUM(CAST(rrev AS DECIMAL(25,6))) AS DOUBLE) AS trev FROM reg
)
SELECT c.region, c.nation, c.segment,
       {sql_pround('c.rev', 2)} AS revenue,
       {sql_pround('c.rev / n.nrev', 6)} AS share_of_nation,
       {sql_pround('n.nrev / r.rrev', 6)} AS nation_share_of_region,
       {sql_pround('r.rrev / t.trev', 6)} AS region_share_of_total
FROM cell c
JOIN nat n ON n.region = c.region AND n.nation = c.nation
JOIN reg r ON r.region = c.region
CROSS JOIN tot t
ORDER BY c.region, c.nation, c.segment
""",
    tags=("relational",),
)
def qh07_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent rollup (region > nation >
    market segment): each leaf cell carries its share at every level
    of the hierarchy — the OLAP drill-down report shape (q11/q12 give
    the grouped TOTALS; this gives the normalized shares a BI layer
    actually renders), with every denominator derived from the same
    exact decimal sums so shares at each level sum to 1 by
    construction.

    Scale: ONE fact aggregation at leaf grain, then re-aggregation of
    the tiny cell table upward (cells are dim-bounded: regions x
    nations x segments); dims broadcast into the fact join. Shares
    are single divisions of exact-decimal-sum doubles.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cell = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("rev"))
    )
    cell = cell.transform(cut_lineage)  # dim-bounded; 3 consumers
    nat = cell.groupBy("region", "nation").agg(
        F.sum(F.col("rev").cast("decimal(25,6)")).cast("double").alias("nrev")
    )
    reg = nat.groupBy("region").agg(
        F.sum(F.col("nrev").cast("decimal(25,6)")).cast("double").alias("rrev")
    )
    tot = reg.agg(F.sum(F.col("rrev").cast("decimal(25,6)")).cast("double").alias("trev"))
    return (
        cell.join(F.broadcast(nat), ["region", "nation"])
        .join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "segment",
            pround(F.col("rev"), 2).alias("revenue"),
            pround(F.col("rev") / F.col("nrev"), 6).alias("share_of_nation"),
            pround(F.col("nrev") / F.col("rrev"), 6).alias("nation_share_of_region"),
            pround(F.col("rrev") / F.col("trev"), 6).alias("region_share_of_total"),
        )
        .orderBy("region", "nation", "segment")
    )


# ---------------------------------------------------------------------------
# h08 — session path mining

_H08_GAP_US = 30 * 60 * 1_000_000
_H08_TOPK = 15


@query(
    "qh08_session_paths",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events
), marked AS (
  SELECT user_id, event_id, event_type, tus,
         CASE WHEN tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                   > {_H08_GAP_US} THEN 1 ELSE 0 END AS is_new
  FROM ev
), sess AS (
  SELECT user_id, event_id, event_type, tus,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), tri AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id, sid ORDER BY tus, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id, sid ORDER BY tus, event_id) AS e3
  FROM sess
), counted AS (
  SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
  FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
  GROUP BY e1, e2, e3
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, e1 ASC, e2 ASC, e3 ASC) AS INTEGER) AS rank,
       e1, e2, e3, n
FROM counted
ORDER BY rank LIMIT {_H08_TOPK}
""",
    tags=("events",),
)
def qh08_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the {_H08_TOPK} most common within-session
    event-type trigrams, after 30-minute-gap sessionization — the
    behavioral-pattern complement of qe12's one-step transition matrix
    (paths see three steps, so view->click->purchase and
    view->click->error separate) and the batch shape of the funnel
    family (qe09/f12).

    Scale: sessionization and path windows all partition by user (and
    session) — never global; the path space is |event_types|^3-bounded
    so the count table is tiny, and the final top-k window runs over
    it. Integer microsecond gaps (the f15 idiom); rank tie-broken by
    the full path.
    """
    e = table(spark, sf_dir, "events")
    ev = e.select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus"))
    wu = Window.partitionBy("user_id").orderBy("tus", "event_id")
    marked = ev.withColumn(
        "is_new",
        F.when(F.col("tus") - F.lag("tus").over(wu) > _H08_GAP_US, 1).otherwise(0),
    )
    sess = marked.withColumn(
        "sid", F.sum("is_new").over(wu.rowsBetween(Window.unboundedPreceding, 0))
    )
    wsess = Window.partitionBy("user_id", "sid").orderBy("tus", "event_id")
    tri = sess.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(wsess).alias("e2"),
        F.lead("event_type", 2).over(wsess).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    counted = tri.groupBy("e1", "e2", "e3").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wr = Window.orderBy(F.desc("n"), F.asc("e1"), F.asc("e2"), F.asc("e3"))  # |types|^3-bounded
    return (
        counted.select(F.row_number().over(wr).cast("int").alias("rank"), "e1", "e2", "e3", "n")
        .filter(F.col("rank") <= _H08_TOPK)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# h09 — windowed top-k heavy hitters (batch twin of the streaming job)

_H09_WIN_US = 6 * 3600 * 1_000_000
_H09_K = 3


@query(
    "qh09_windowed_topk",
    oracle=f"""
WITH counted AS (
  SELECT epoch_us(ts) // {_H09_WIN_US} AS window_idx, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT window_idx, event_type, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY window_idx
                                 ORDER BY n DESC, event_type ASC) AS INTEGER) AS rank
  FROM counted
)
SELECT CAST(window_idx AS BIGINT) AS window_idx, rank, event_type, n
FROM ranked WHERE rank <= {_H09_K}
ORDER BY window_idx, rank
""",
    tags=("events", "streaming-twin"),
)
def qh09_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_H09_K} event types per tumbling 6-hour window — the batch
    twin of `streaming/jobs.py::windowed_topk_stream`: the stream
    maintains the (window, type) counts (the only state ranking needs);
    the RANKING itself is not stream-expressible (no window functions
    over streaming aggregates), so it runs sink-side on the closed
    windows — this query pins the exact semantics the sink must
    reproduce, and the parity test drives the real streaming engine
    against it.

    Scale: one (window, type) count — map-side combinable, state
    bounded by windows x types; the rank window partitions per window
    over |types| rows. Window index is pure integer µs division (no
    engine time-bucket conventions).
    """
    e = table(spark, sf_dir, "events")
    counted = e.groupBy(
        (F.unix_micros("ts") / _H09_WIN_US).cast("bigint").alias("window_idx"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("window_idx").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counted.select(
            "window_idx",
            F.row_number().over(w).cast("int").alias("rank"),
            "event_type",
            "n",
        )
        .filter(F.col("rank") <= _H09_K)
        .orderBy("window_idx", "rank")
    )


# ---------------------------------------------------------------------------
# h10/h11 — source/sink matrix extensions (ORC, partition pruning)


@query(
    "qh10_orc_roundtrip",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM documents GROUP BY source ORDER BY source
""",
    tags=("source", "orc"),
)
def qh10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingestion end-to-end (qc01's CSV pattern for the other
    columnar format the lakehouse world actually ships): documents ->
    ORC files (zlib) -> native ORC scan -> aggregate; the oracle
    aggregates the original parquet, so hash-match proves the ORC path
    loses nothing. ORC keeps predicate pushdown and column pruning
    (unlike CSV), so it is a steady-state citizen of the source
    matrix, not just an ingestion one.

    Idempotent under re-invocation (b34/qc01 discipline): per-run temp
    dir, eager materialization of the k-row result, cleanup in
    finally.
    """
    import shutil

    base = scratch_dir("qh10_orc")
    try:
        d = table(spark, sf_dir, "documents")
        d.write.mode("overwrite").orc(base + "/documents")
        back = spark.read.orc(base + "/documents")
        out = (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("chars_sum"),
                F.max("doc_id").cast("bigint").alias("max_doc"),
            )
            .orderBy("source")
        )
        return out.transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "qh11_partition_pruned_scan",
    oracle="""
SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY day_idx
""",
    tags=("source", "partitioning"),
)
def qh11_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning end-to-end: events are written
    partitioned by event_type, read back with an event_type filter —
    the filter resolves at PLANNING time (PartitionFilters in the
    scan, only the matching directory is listed/read), which is THE
    mechanism that makes a 100 TB table cheap to query by its
    partition key. The oracle computes the same aggregate from the
    unpartitioned source, so the hash-match proves pruning loses no
    rows; test_plans_analytics pins that the physical scan carries the
    partition filter and reads only the pruned partition.

    Idempotent (qc01 discipline): per-run temp dir, eager k-row
    materialization, cleanup in finally.
    """
    import shutil

    base = scratch_dir("qh11_part")
    try:
        e = table(spark, sf_dir, "events")
        e.write.mode("overwrite").partitionBy("event_type").parquet(base + "/events")
        back = spark.read.parquet(base + "/events").filter(F.col("event_type") == "purchase")
        out = (
            back.select(
                F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("bigint").alias("day_idx"),
                "user_id",
            )
            .groupBy("day_idx")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.count_distinct("user_id").cast("bigint").alias("n_users"),
            )
            .orderBy("day_idx")
        )
        return out.transform(cut_lineage)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# h12/h13 — contrastive mining + label-noise audit over sampled anchors

_H12_BUDGET = 96  # FIXED anchor budget: hash-rank top-K, scale-invariant

_H12_PAIR_CTE = f"""
asamp AS (
  SELECT vec_id FROM (
    SELECT vec_id, CAST(list_sum(list_transform(range(1, 9), i -> (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), i, 1)) - 1) * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) AS h
    FROM embeddings ORDER BY h, vec_id LIMIT {_H12_BUDGET}) t
), anchors AS (
  SELECT e.vec_id, e.label, e.embedding FROM embeddings e JOIN asamp s ON s.vec_id = e.vec_id
), apos AS (
  SELECT vec_id, label, t.pos AS pos, CAST(t.val AS DOUBLE) AS val FROM (
    SELECT vec_id, label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {{'pos': i - 1, 'val': embedding[i]}})) AS t
    FROM anchors) s
), bpos AS (
  SELECT vec_id, label, t.pos AS pos, CAST(t.val AS DOUBLE) AS val FROM (
    SELECT vec_id, label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {{'pos': i - 1, 'val': embedding[i]}})) AS t
    FROM embeddings) s
), norms AS (
  SELECT vec_id, CAST(SUM({_sql_dterm('val * val')}) AS DOUBLE) AS n2
  FROM bpos GROUP BY vec_id
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         MAX(a.label) AS label_a, MAX(b.label) AS label_b,
         CAST(SUM({_sql_dterm('a.val * b.val')}) AS DOUBLE) AS dot
  FROM apos a JOIN bpos b ON b.pos = a.pos AND b.vec_id <> a.vec_id
  GROUP BY a.vec_id, b.vec_id
), cos AS (
  SELECT p.a_id, p.b_id, p.label_a, p.label_b,
         {sql_pround('p.dot / (sqrt(na.n2) * sqrt(nb.n2))', 9)} AS c9
  FROM pairs p JOIN norms na ON na.vec_id = p.a_id JOIN norms nb ON nb.vec_id = p.b_id
)"""


def _pair_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a_id, b_id, label_a, label_b, c9): pround(9) cosine of every
    sampled anchor (hash-rank top-{_H12_BUDGET} — a FIXED budget at
    any corpus size) against every OTHER vector — the shared machinery
    of h12/h13. Anchor side is a tiny broadcast; the corpus is scanned
    once; cosine is DECIMAL-summed dot / exact norms (qc13's fold), so
    both engines rank identical doubles."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))

    def dfold(terms: Column) -> Column:
        return F.aggregate(
            terms,
            F.lit(0).cast("decimal(25,12)"),
            lambda acc, x: (acc + x).cast("decimal(25,12)"),
        ).cast("double")

    base = emb.select("vec_id", "label", v.alias("v"))
    samp = (
        base.select("vec_id", _md5fold_local(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(_H12_BUDGET)
        .select("vec_id")
    )
    # budget-bounded anchor set with its norm precomputed, materialized
    # once so h12/h13's pos/neg branches don't replay the sample lineage
    # (scan-lint)
    anchors = (
        base.join(F.broadcast(samp), "vec_id")
        .select(
            F.col("vec_id").alias("a_id"),
            F.col("label").alias("label_a"),
            F.col("v").alias("va"),
            dfold(F.transform("v", lambda a: _dterm(a * a))).alias("na2"),
        )
        .transform(cut_lineage)
    )
    # corpus-side norm INLINE on the single corpus scan: a separate
    # norms table would cost another full scan plus a budget*N-row
    # shuffle join on b_id — the largest exchange this query had
    return (
        base.select(F.col("vec_id").alias("b_id"), F.col("label").alias("label_b"), F.col("v").alias("vb"))
        .withColumn("nb2", dfold(F.transform("vb", lambda a: _dterm(a * a))))
        .join(F.broadcast(anchors), F.col("b_id") != F.col("a_id"))
        .select(
            "a_id",
            "b_id",
            "label_a",
            "label_b",
            pround(
                dfold(F.zip_with("va", "vb", lambda a, b: _dterm(a * b)))
                / (F.sqrt("na2") * F.sqrt("nb2")),
                9,
            ).alias("c9"),
        )
    )


@query(
    "qh12_hard_negative_mining",
    oracle=f"""
WITH {_H12_PAIR_CTE},
pos AS (
  SELECT a_id, b_id AS pos_id, c9 AS cos_pos,
         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY c9 DESC, b_id ASC) AS rn
  FROM cos WHERE label_a = label_b
), neg AS (
  SELECT a_id, b_id AS neg_id, c9 AS cos_neg,
         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY c9 DESC, b_id ASC) AS rn
  FROM cos WHERE label_a <> label_b
)
SELECT p.a_id AS anchor_id, p.pos_id, n.neg_id,
       {sql_pround('p.cos_pos', 6)} AS cos_pos,
       {sql_pround('n.cos_neg', 6)} AS cos_neg,
       {sql_pround('p.cos_pos - n.cos_neg', 6)} AS margin
FROM pos p JOIN neg n ON n.a_id = p.a_id AND n.rn = 1
WHERE p.rn = 1
ORDER BY anchor_id
""",
    tags=("vector", "training"),
)
def qh12_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for metric learning: for each sampled
    anchor, the hardest positive (most-similar SAME-label vector) and
    the hardest negative (most-similar DIFFERENT-label vector) with
    the triplet margin — the batch-mining step behind triplet /
    InfoNCE embedding training and the "which labels collide?"
    diagnostic (a negative margin = an imposter sits closer than any
    true neighbor).

    Scale: anchors are a deterministic FIXED-budget sample
    (hash-rank top-{_H12_BUDGET}, TakeOrderedAndProject — the sample
    does NOT grow with the corpus, so mining cost stays O(budget x
    corpus) at any scale) broadcast against one corpus scan — O(sample x corpus), the
    production mining shape (full N^2 mining is never run; LSH/IVF
    pre-candidates replace the scan at 100 TB). Ranking on pround(9)
    cosines with b_id tie-breaks.
    """
    cos = _pair_cos(spark, sf_dir)
    wp = Window.partitionBy("a_id").orderBy(F.desc("c9"), F.asc("b_id"))
    pos = (
        cos.filter(F.col("label_a") == F.col("label_b"))
        .withColumn("rn", F.row_number().over(wp))
        .filter("rn = 1")
        .select(F.col("a_id"), F.col("b_id").alias("pos_id"), F.col("c9").alias("cos_pos"))
    )
    neg = (
        cos.filter(F.col("label_a") != F.col("label_b"))
        .withColumn("rn", F.row_number().over(wp))
        .filter("rn = 1")
        .select(F.col("a_id"), F.col("b_id").alias("neg_id"), F.col("c9").alias("cos_neg"))
    )
    return (
        pos.join(neg, "a_id")
        .select(
            F.col("a_id").alias("anchor_id"),
            "pos_id",
            "neg_id",
            pround(F.col("cos_pos"), 6).alias("cos_pos"),
            pround(F.col("cos_neg"), 6).alias("cos_neg"),
            pround(F.col("cos_pos") - F.col("cos_neg"), 6).alias("margin"),
        )
        .orderBy("anchor_id")
    )


_H13_K = 5


@query(
    "qh13_knn_label_noise",
    oracle=f"""
WITH {_H12_PAIR_CTE},
ranked AS (
  SELECT a_id, label_a, label_b,
         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY c9 DESC, b_id ASC) AS rn
  FROM cos
)
SELECT a_id AS anchor_id, CAST(MAX(label_a) AS INTEGER) AS label,
       CAST(SUM(CASE WHEN label_b <> label_a THEN 1 ELSE 0 END) AS INTEGER) AS n_disagree,
       (SUM(CASE WHEN label_b <> label_a THEN 1 ELSE 0 END) * 2 > {_H13_K}) AS suspect
FROM ranked WHERE rn <= {_H13_K}
GROUP BY a_id ORDER BY a_id
""",
    tags=("vector", "quality"),
)
def qh13_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-noise audit (confident-learning style): for each
    sampled anchor, how many of its {_H13_K} nearest neighbors carry a
    DIFFERENT label — an anchor outvoted by its own neighborhood
    (majority disagreement) is flagged as probably mislabeled, the
    label-quality gate run before any supervised fine-tune on
    harvested labels (qc13 scores label REGIONS; this scores
    individual EXAMPLES).

    Scale: same sampled-anchor x corpus scan as h12 (one shared
    machinery, `_pair_cos`); the k-NN cut is a per-anchor window over
    pround(9) cosines with b_id tie-breaks. Integer votes out.
    """
    cos = _pair_cos(spark, sf_dir)
    wp = Window.partitionBy("a_id").orderBy(F.desc("c9"), F.asc("b_id"))
    ranked = cos.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= _H13_K)
    return (
        ranked.groupBy(F.col("a_id").alias("anchor_id"))
        .agg(
            F.max("label_a").cast("int").alias("label"),
            F.sum((F.col("label_b") != F.col("label_a")).cast("int")).cast("int").alias(
                "n_disagree"
            ),
            (F.sum((F.col("label_b") != F.col("label_a")).cast("int")) * 2 > _H13_K).alias(
                "suspect"
            ),
        )
        .orderBy("anchor_id")
    )


# ---------------------------------------------------------------------------
# h14 — importance weights for distribution matching


@query(
    "qh14_importance_weights",
    oracle=f"""
WITH g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS l FROM g
), weighted AS (
  SELECT g.lang, g.n_docs,
         CAST(g.n_docs AS DOUBLE) / t.n AS actual_share,
         (1.0 / t.l) / (CAST(g.n_docs AS DOUBLE) / t.n) AS w
  FROM g CROSS JOIN tot t
), ess AS (
  SELECT {sql_pround(
      f"pow(CAST(SUM({_sql_dterm('n_docs * w')}) AS DOUBLE), 2)"
      f" / CAST(SUM({_sql_dterm('n_docs * w * w')}) AS DOUBLE)", 6)} AS effective_n
  FROM weighted
)
SELECT w.lang, w.n_docs,
       {sql_pround('w.actual_share', 6)} AS actual_share,
       {sql_pround('w.w', 6)} AS weight,
       e.effective_n
FROM weighted w CROSS JOIN ess e
ORDER BY w.lang
""",
    tags=("curation", "sampling"),
)
def qh14_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights for distribution matching: per-language
    sampling weights that reshape the corpus toward a UNIFORM language
    target (weight = target_share / actual_share), with the effective
    sample size ESS = (Σw)²/Σw² — the number that says how much data
    the reweighted corpus is REALLY worth (ESS collapses when a rare
    language carries giant weights), the gate before choosing
    reweighting over qc04's temperature resampling.

    Scale: one group count + scalar algebra on the |langs|-row table;
    the per-doc weight assignment at materialization time is a
    broadcast join on lang. DECIMAL-summed ESS moments.
    """
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tot = g.agg(
        F.sum("n_docs").cast("bigint").alias("n"), F.count(F.lit(1)).cast("bigint").alias("l")
    )
    weighted = g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("n")).alias("actual_share"),
        ((1.0 / F.col("l")) / (F.col("n_docs").cast("double") / F.col("n"))).alias("w"),
    )
    ess = weighted.agg(
        pround(
            F.pow(F.sum(_dterm(F.col("n_docs") * F.col("w"))).cast("double"), F.lit(2))
            / F.sum(_dterm(F.col("n_docs") * F.col("w") * F.col("w"))).cast("double"),
            6,
        ).alias("effective_n")
    )
    return (
        weighted.crossJoin(F.broadcast(ess))
        .select(
            "lang",
            "n_docs",
            pround(F.col("actual_share"), 6).alias("actual_share"),
            pround(F.col("w"), 6).alias("weight"),
            "effective_n",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# h15 — pipeline freshness audit


@query(
    "qh15_freshness_audit",
    oracle=f"""
WITH anchor AS (
  SELECT MAX(epoch_us(ts)) AS now_us FROM events
), per_type AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY event_type
), span AS (
  SELECT MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS span_us FROM events
)
SELECT p.event_type, p.n_events,
       CAST(a.now_us - p.last_us AS BIGINT) AS staleness_us,
       {sql_pround('(CAST(p.n_events AS DOUBLE) * 86400000000.0) / s.span_us', 6)} AS events_per_day
FROM per_type p CROSS JOIN anchor a CROSS JOIN span s
ORDER BY p.event_type
""",
    tags=("events", "audit"),
)
def qh15_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline freshness audit: per event type, how stale its newest
    record is relative to the stream head, plus its average daily rate
    — the monitoring query every ingestion SLA dashboard runs (a type
    whose staleness exceeds its inter-arrival scale has a stuck
    upstream), anchored at max(ts) so the audit is deterministic and
    replayable (no wall-clock).

    Scale: one grouped max/count + two 1-row broadcast aggregates —
    a single scan. Integer microseconds; one rate division.
    """
    e = table(spark, sf_dir, "events")
    ev = e.select("event_type", F.unix_micros("ts").alias("tus"))
    anchor = ev.agg(F.max("tus").alias("now_us"))
    span = ev.agg((F.max("tus") - F.min("tus")).alias("span_us"))
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("tus").alias("last_us"),
    )
    return (
        per_type.crossJoin(F.broadcast(anchor))
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            "n_events",
            (F.col("now_us") - F.col("last_us")).cast("bigint").alias("staleness_us"),
            pround(
                (F.col("n_events").cast("double") * 86400000000.0) / F.col("span_us"), 6
            ).alias("events_per_day"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# h16 — mergeable exact quantile summaries

_H16_QS = ((50, "p50"), (90, "p90"), (99, "p99"))


@query(
    "qh16_mergeable_quantiles",
    oracle=f"""
WITH ranked AS (
  SELECT o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
)
SELECT {", ".join(f"MAX(CASE WHEN rn = (n * {q} + 99) // 100 THEN o_totalprice END) AS {name}" for q, name in _H16_QS)},
       TRUE AS halves_agree
FROM ranked
""",
    tags=("relational", "audit"),
)
def qh16_mergeable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable EXACT quantile summaries: the order-value histogram is
    built independently on two disjoint halves of the data (orderkey
    parity = two 'partitions'), the per-half (value -> count)
    summaries are merged by addition, and disc p50/p90/p99 read off
    the merged summary — then verified EQUAL to the quantiles computed
    directly on the full data. This is the distributed-algebra fact
    that makes exact quantiles feasible at 100 TB when the value
    dictionary is bounded (prices, latencies-in-ms, lengths): partials
    merge like counts, no global sort — the exact counterpart of
    qb37's approximate KLL, audited the g06/g07 way (the oracle
    asserts halves_agree=TRUE).

    Scale: two grouped counts + one merge-groupBy over the value
    dictionary; the quantile read is a TWO-LEVEL running sum (bounded
    bucket-offset window + per-bucket partitioned window), never a row
    sort and never a single-partition pass over the dictionary — safe
    even for continuous-valued columns. The direct-path check uses one
    global rank window — test-scale only, the audit's point is that
    the merged path REPLACES it.
    """
    o = table(spark, sf_dir, "orders")
    # per-half value histograms -> additive merge
    hist = (
        o.groupBy((F.col("o_orderkey") % 2).alias("half"), F.col("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("v")
        .agg(F.sum("c").alias("c"))
        .transform(cut_lineage)  # value dictionary; bucket + cum consumers (scan-lint)
    )
    # Two-level cumulative count, so the merged path NEVER serializes the
    # value dictionary through one partition even when values are
    # near-unique (continuous prices): bucket-level totals get a bounded
    # ordered window (#buckets ~ price_range/1000), then the per-value
    # running sum is partitioned BY bucket and shifted by the bucket's
    # offset — exact, and parallel over buckets (round-5 advice on the
    # unpartitioned Window.orderBy("v") here).
    bkt = hist.withColumn("bkt", F.floor(F.col("v") / F.lit(1000.0)).cast("bigint"))
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
        .crossJoin(F.broadcast(hist.agg(F.sum("c").alias("n"))))
    )
    merged = cum.agg(
        *[
            F.min(F.when(F.col("cum") >= ((F.col("n") * q + 99) / 100).cast("bigint"), F.col("v"))).alias(
                f"m_{name}"
            )
            for q, name in _H16_QS
        ]
    )
    # direct disc quantiles (global rank — the path the merge replaces)
    wr = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    ranked = o.select(
        "o_totalprice", F.row_number().over(wr).alias("rn")
    ).crossJoin(F.broadcast(o.agg(F.count(F.lit(1)).alias("n"))))
    direct = ranked.agg(
        *[
            F.max(
                F.when(F.col("rn") == ((F.col("n") * q + 99) / 100).cast("bigint"), F.col("o_totalprice"))
            ).alias(name)
            for q, name in _H16_QS
        ]
    )
    agree = None
    for _, name in _H16_QS:
        cond = F.col(name) == F.col(f"m_{name}")
        agree = cond if agree is None else (agree & cond)
    return direct.crossJoin(F.broadcast(merged)).select(
        *[F.col(name) for _, name in _H16_QS], agree.alias("halves_agree")
    )


# ---------------------------------------------------------------------------
# h17 — two-level exact distinct decomposition

_H17_BLOCK = 1024


@query(
    "qh17_two_level_distinct",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
       TRUE AS decomposition_agrees
FROM events GROUP BY event_type ORDER BY event_type
""",
    tags=("relational", "audit"),
)
def qh17_two_level_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level exact COUNT DISTINCT decomposition: distinct users are
    counted per (type, id-block) first (block = user_id // {_H17_BLOCK}),
    then block partials SUM — exactness holds because blocks partition
    the id space, and the pattern is THE way an exact distinct survives
    100 TB: the first level is map-side combinable and each block's
    distinct set is bounded, so no single reducer ever holds the full
    id universe (the direct pre-distinct path holds it sharded by hash
    — same bound, but this shape also yields mergeable per-block
    summaries a rollup can reuse). The oracle asserts the decomposition
    agrees with the direct distinct (decomposition_agrees=TRUE).
    """
    e = table(spark, sf_dir, "events")
    two_level = (
        e.select(
            "event_type",
            (F.col("user_id") / _H17_BLOCK).cast("bigint").alias("blk"),
            "user_id",
        )
        .distinct()
        .groupBy("event_type", "blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(F.sum("c").cast("bigint").alias("n_two_level"))
    )
    direct = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct"))
    )
    return (
        direct.join(two_level, "event_type")
        .select(
            "event_type",
            "n_distinct",
            (F.col("n_distinct") == F.col("n_two_level")).alias("decomposition_agrees"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# h18 — count-min sketch error audit (hash-gates qb40's class)

_H18_EPS = 0.001
_H18_TOPK = 10


@query(
    "qh18_cms_error_audit",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), counted AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n FROM toks GROUP BY token
), ranked AS (
  SELECT token, exact_n,
         ROW_NUMBER() OVER (ORDER BY exact_n DESC, token ASC) AS rn
  FROM counted
)
SELECT token, exact_n, TRUE AS within_bound
FROM ranked WHERE rn <= {_H18_TOPK}
ORDER BY exact_n DESC, token
""",
    tags=("sketch", "approx", "audit"),
)
def qh18_cms_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch error audit, hash-gated (the g06/g07 pattern
    applied to qb40's class): the CMS (eps={_H18_EPS}, conf=99%,
    seeded) estimates the top-{_H18_TOPK} token frequencies, and the
    audit checks the sketch's one-sided guarantee — est >= exact and
    est <= exact + eps*N — emitting within_bound, which the oracle
    asserts TRUE alongside the exact counts. qb40 stays rows-only (it
    EMITS the estimates, which only this engine's CMS produces); this
    query makes the GUARANTEE itself driver-hashable.

    Scale: the sketch side is one fixed-size aggregate regardless of
    corpus size; the exact side is a token count + top-k
    (TakeOrderedAndProject). Deterministic: fixed seed, deterministic
    input set.
    """
    d = table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(F.explode(F.split("text", " ")).alias("token"))
    blob_row = toks.agg(
        F.count_min_sketch("token", F.lit(_H18_EPS), F.lit(0.99), F.lit(42)).alias("sk"),
        F.count(F.lit(1)).alias("n_total"),
    ).first()
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "token")
        .limit(_H18_TOPK)
        .collect()
    )
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(blob_row.sk))
    )
    slack = _H18_EPS * int(blob_row.n_total)
    rows = []
    for r in top:
        est = int(cms.estimateCount(r.token))
        rows.append(
            (r.token, int(r.exact_n), bool(est >= r.exact_n and est <= r.exact_n + slack))
        )
    return spark.createDataFrame(rows, "token string, exact_n bigint, within_bound boolean").orderBy(
        F.col("exact_n").desc(), "token"
    )


# ---------------------------------------------------------------------------
# h19 — join-key skew planner


@query(
    "qh19_join_skew_planner",
    oracle=f"""
WITH k AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY o_custkey
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_c
  FROM k
)
SELECT n_keys, n_rows, max_c,
       {sql_pround('CAST(max_c AS DOUBLE) * n_keys / n_rows', 6)} AS skew_ratio,
       CAST(CASE WHEN max_c * 32 > n_rows
                 THEN ((max_c * 32) + n_rows - 1) // n_rows
                 ELSE 1 END AS INTEGER) AS recommended_salt
FROM s
""",
    tags=("relational", "audit"),
)
def qh19_join_skew_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew planner: profiles the orders->customer join key
    (key count, hottest-key share, skew ratio = hottest/mean) and
    recommends a salt factor sized so the hottest key's rows spread to
    at most 1/32 of the data per salted partition — the advisory that
    feeds q39's salted-join machinery (measure, THEN salt; salting an
    unskewed join just adds a shuffle). AQE handles moderate skew at
    runtime; the planner exists for the pathological keys AQE splits
    too late.

    Scale: one key-count aggregation + a 1-row profile — the cost of
    knowing. Integer arithmetic, ceil via (a+b-1)//b.
    """
    o = table(spark, sf_dir, "orders")
    k = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    s = k.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_c"),
    )
    return s.select(
        "n_keys",
        "n_rows",
        "max_c",
        pround(F.col("max_c").cast("double") * F.col("n_keys") / F.col("n_rows"), 6).alias(
            "skew_ratio"
        ),
        F.when(
            F.col("max_c") * 32 > F.col("n_rows"),
            F.floor((F.col("max_c") * 32 + F.col("n_rows") - 1) / F.col("n_rows")),
        )
        .otherwise(F.lit(1))
        .cast("int")
        .alias("recommended_salt"),
    )


# ---------------------------------------------------------------------------
# h20 — order-insensitive result-set checksum


@query(
    "qh20_resultset_checksum",
    oracle="""
WITH res AS (
  SELECT o.o_orderkey, c.c_nationkey, o.o_totalprice
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), hashed AS (
  SELECT CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef', substr(md5(
              CAST(o_orderkey AS VARCHAR) || '|' || CAST(c_nationkey AS VARCHAR)
              || '|' || CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)), i, 1)) - 1)
           * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) AS h
  FROM res
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(h) AS BIGINT) AS checksum,
       TRUE AS plans_agree
FROM hashed
""",
    tags=("relational", "audit"),
)
def qh20_resultset_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive result-set checksum: a join's result is
    fingerprinted as the SUM of per-row md5 hashes (canonical column
    serialization, cents-exact prices) — additive, so partitioning,
    join order, and row order cannot change it. The same result is
    computed through TWO physical plans (broadcast-hint vs
    merge-hint join) and the checksums must match — the cheap
    result-equality certificate used to validate plan changes,
    engine upgrades, and migrations at 100 TB without ever sorting or
    diffing rows (g03's loss-free idea promoted from scans to QUERY
    RESULTS). The oracle recomputes the checksum independently and
    asserts plans_agree=TRUE.
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def checksum(joined: DataFrame) -> DataFrame:
        key = F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("c_nationkey").cast("string"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").cast("string"),
        )
        from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold

        return joined.select(_md5fold(key).alias("h")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("h").cast("bigint").alias("checksum"),
        )

    res_cols = [o["o_orderkey"], c["c_nationkey"], o["o_totalprice"]]
    bcast = checksum(o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(*res_cols))
    merge = checksum(
        o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"]).select(*res_cols)
    )
    m = merge.select(
        F.col("n_rows").alias("n2"), F.col("checksum").alias("ck2")
    )
    return bcast.crossJoin(F.broadcast(m)).select(
        "n_rows",
        "checksum",
        ((F.col("n_rows") == F.col("n2")) & (F.col("checksum") == F.col("ck2"))).alias(
            "plans_agree"
        ),
    )


# ---------------------------------------------------------------------------
# h21 — hash-bucket prefilter audit (one-hash bloom, engine-portable)

_H21_BUCKETS = 1 << 18


@query(
    "qh21_bucket_prefilter_audit",
    oracle=f"""
WITH fp AS (
  SELECT doc_id, md5(text) AS fp,
         CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef', substr(md5(text), i, 1)) - 1)
           * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) % {_H21_BUCKETS} AS bkt
  FROM documents
), eval_side AS (
  SELECT fp, bkt FROM fp WHERE doc_id % 10 = 0
), corpus AS (
  SELECT doc_id, fp, bkt FROM fp WHERE doc_id % 10 <> 0
), truth AS (
  SELECT DISTINCT c.doc_id FROM corpus c JOIN eval_side e ON e.fp = c.fp
), cands AS (
  SELECT DISTINCT c.doc_id FROM corpus c
  JOIN (SELECT DISTINCT bkt FROM eval_side) b ON b.bkt = c.bkt
), missed AS (
  SELECT t.doc_id FROM truth t LEFT JOIN cands c ON c.doc_id = t.doc_id
  WHERE c.doc_id IS NULL
)
SELECT CAST((SELECT COUNT(*) FROM eval_side) AS BIGINT) AS n_eval,
       CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_matches,
       CAST((SELECT COUNT(*) FROM cands) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM missed) AS BIGINT) AS n_missed,
       TRUE AS no_false_negatives
""",
    tags=("dedup", "audit"),
)
def qh21_bucket_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket prefilter audit (a one-hash Bloom filter in pure
    relational form): the eval set's fingerprints are collapsed to a
    {_H21_BUCKETS}-bucket membership set; the corpus is pre-filtered
    by a semi-join on the BUCKET (a tiny broadcast of distinct
    buckets) before the exact fingerprint join. Same hash on both
    paths ⇒ NO false negatives — which the oracle asserts (n_missed=0,
    no_false_negatives=TRUE) — while candidates may include bucket
    collisions. This is how a 100 TB decontamination pass avoids
    shuffling corpus fingerprints: the full corpus meets only a
    broadcast bitset; only the tiny candidate set reaches the exact
    join (q75/f18's scale prequel; Spark's own bloom runtime filters
    are this idea inside AQE).
    """
    d = table(spark, sf_dir, "documents")
    from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold

    fp = d.select(
        "doc_id",
        F.md5("text").alias("fp"),
        (_md5fold(F.col("text")) % _H21_BUCKETS).alias("bkt"),
    )
    # eval side has three consumers (fp set, bucket set, count) and the
    # two match sets two each (anti-join + count): materialize them so
    # no branch replays the fingerprint scan (scan-lint)
    eval_side = fp.filter(F.col("doc_id") % 10 == 0).transform(cut_lineage)
    corpus = fp.filter(F.col("doc_id") % 10 != 0)
    truth = corpus.join(
        eval_side.select("fp").distinct(), "fp", "left_semi"
    ).select("doc_id").distinct().transform(cut_lineage)
    cands = corpus.join(
        F.broadcast(eval_side.select("bkt").distinct()), "bkt", "left_semi"
    ).select("doc_id").distinct().transform(cut_lineage)
    missed = truth.join(cands, "doc_id", "left_anti")
    ne = eval_side.agg(F.count(F.lit(1)).cast("bigint").alias("n_eval"))
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_matches"))
    nc = cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    nm = missed.agg(F.count(F.lit(1)).cast("bigint").alias("n_missed"))
    return (
        ne.crossJoin(nt)
        .crossJoin(nc)
        .crossJoin(nm)
        .select(
            "n_eval",
            "n_true_matches",
            "n_candidates",
            "n_missed",
            (F.col("n_missed") == 0).alias("no_false_negatives"),
        )
    )


# ---------------------------------------------------------------------------
# h22 — stratified k-fold assignment

_H22_FOLDS = 5


@query(
    "qh22_stratified_kfold",
    oracle=f"""
WITH assigned AS (
  SELECT lang,
         CAST(list_sum(list_transform(range(1, 9), i ->
           (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
           * CAST(pow(16, 8 - i) AS BIGINT))) AS BIGINT) % {_H22_FOLDS} AS fold
  FROM documents
), cells AS (
  SELECT lang, CAST(fold AS INTEGER) AS fold, CAST(COUNT(*) AS BIGINT) AS n
  FROM assigned GROUP BY lang, fold
), strata AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang,
         CAST(MAX(n) - MIN(n) AS BIGINT) AS spread
  FROM cells GROUP BY lang
)
SELECT c.lang, c.fold, c.n,
       {sql_pround('CAST(c.n AS DOUBLE) / s.n_lang', 6)} AS fold_share,
       s.spread AS stratum_spread
FROM cells c JOIN strata s ON s.lang = c.lang
ORDER BY c.lang, c.fold
""",
    tags=("curation", "sampling"),
)
def qh22_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified {_H22_FOLDS}-fold assignment: every
    document lands in a fold by md5(doc_id) — reproducible on any
    cluster, any run, any partitioning (no RNG state, the qe20
    placement idea applied to cross-validation) — and the audit
    reports per-(stratum, fold) counts, fold shares, and the
    within-stratum spread (max-min imbalance) a training pipeline
    checks before trusting fold-wise metrics.

    Scale: one hash projection + one (stratum, fold) count — the
    assignment is embarrassingly parallel and the audit table is
    strata x folds rows. Integers + one share division.
    """
    d = table(spark, sf_dir, "documents")
    from pyspark_distributed_kmodes_spark.operators.analytics4 import _md5fold

    assigned = d.select(
        "lang", (_md5fold(F.col("doc_id").cast("string")) % _H22_FOLDS).cast("int").alias("fold")
    )
    cells = assigned.groupBy("lang", "fold").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    strata = cells.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_lang"),
        (F.max("n") - F.min("n")).cast("bigint").alias("stratum_spread"),
    )
    return (
        cells.join(F.broadcast(strata), "lang")
        .select(
            "lang",
            "fold",
            "n",
            pround(F.col("n").cast("double") / F.col("n_lang"), 6).alias("fold_share"),
            "stratum_spread",
        )
        .orderBy("lang", "fold")
    )
