"""Property tests for the round-5 g-suite (operators/analytics4.py):
invariants the oracle hash can't express — teleport normalization,
loss-free sharding, signature determinism, sketch bounds holding with
margin, bootstrap reproducibility, and cross-checks against independent
numpy references for the statistics queries.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.registry import load_all


@pytest.fixture(scope="module")
def reg():
    return load_all()


def test_ppr_teleport_normalized_and_mass_conserved(spark, sf_dir, reg):
    """The personalization vector must sum to 1, and — because the
    symmetric near-dup graph has no dangling nodes — total PPR mass
    stays 1 per iteration up to pround(9) accumulation noise."""
    rows = reg["qg01_personalized_pagerank"].fn(spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.teleport for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.ppr for r in rows) - 1.0) < 1e-4
    assert all(r.ppr > 0 for r in rows)
    # every node keeps at least its own teleport floor
    assert all(r.ppr >= 0.15 * r.teleport - 1e-9 for r in rows)


def test_incremental_dedup_covers_all_fingerprints(spark, sf_dir, reg):
    r = reg["qg02_incremental_dedup_reconcile"].fn(spark, sf_dir).collect()[0]
    assert r.n_same_survivor + r.n_differ == r.n_fingerprints
    assert r.n_dropped == r.n_docs - r.n_fingerprints
    # a differing survivor can only happen when the global min sits in
    # the delta — never more divergence than delta fingerprints exist
    assert r.n_differ <= r.n_fingerprints


def test_shard_reconciliation_loss_free(spark, sf_dir, reg):
    rows = reg["qg03_shard_reconciliation"].fn(spark, sf_dir).collect()
    assert rows and all(r.loss_free for r in rows)
    from pyspark_distributed_kmodes_spark.sources.tables import table

    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs


def test_minhash_md5_signature_deterministic_and_copy_stable(spark):
    """Exact copies get identical signatures; the signature is stable
    across partitionings (the md5 minhash is a pure function)."""
    from pyspark_distributed_kmodes_spark.functions.shingles import shingle_arrays
    from pyspark_distributed_kmodes_spark.operators.analytics4 import _mh_mins

    rows = [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta epsilon"),
            (3, "one two three four five six")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: tuple(r[i] for i in range(1, 9)) for r in _mh_mins(shingle_arrays(d)).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    d7 = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    sigs7 = {r.doc_id: tuple(r[i] for i in range(1, 9)) for r in _mh_mins(shingle_arrays(d7)).collect()}
    assert sigs == sigs7


def test_lsh_recall_audit_consistency(spark, sf_dir, reg):
    r = reg["qg04_lsh_recall_audit"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= r.recall <= 1.0
    assert r.n_hits <= r.n_true_pairs
    assert r.n_hits <= r.n_candidates
    # exact copies share every signature position => every >=0.5-pair
    # that IS an exact copy must be a candidate; this corpus has exact
    # copies, so a zero recall would mean the banding is broken
    assert r.n_true_pairs == 0 or r.recall > 0.0


def test_sketch_bound_audits_hold(spark, sf_dir, reg):
    assert all(
        r.within_bound for r in reg["qg06_approx_percentile_audit"].fn(spark, sf_dir).collect()
    )
    assert all(r.within_bound for r in reg["qg07_hll_error_audit"].fn(spark, sf_dir).collect())


def test_winsorized_mean_between_cut_points(spark, sf_dir, reg):
    for r in reg["qg08_winsorized_stats"].fn(spark, sf_dir).collect():
        assert r.p05 <= r.winsorized_mean <= r.p95
        assert r.n_clipped_low < r.n and r.n_clipped_high < r.n


def test_vocab_growth_monotone_and_totals(spark, sf_dir, reg):
    rows = reg["qg09_vocab_growth"].fn(spark, sf_dir).collect()
    cums = [r.cum_vocab for r in sorted(rows, key=lambda r: r.bucket)]
    assert cums == sorted(cums)
    assert cums[-1] == sum(r.n_new_grams for r in rows)


def test_retention_offset_zero_is_full_cohort(spark, sf_dir, reg):
    rows = reg["qg13_retention_matrix"].fn(spark, sf_dir).collect()
    base = [r for r in rows if r.offset_weeks == 0]
    assert base and all(r.retention == 1.0 and r.n_active == r.cohort_size for r in base)
    assert all(0.0 < r.retention <= 1.0 for r in rows)


def test_poisson_bootstrap_reproducible_and_sane(spark, sf_dir, reg):
    a = reg["qg14_poisson_bootstrap"].fn(spark, sf_dir).collect()
    b = reg["qg14_poisson_bootstrap"].fn(spark, sf_dir).collect()
    assert [(r.b, r.n_drawn, r.boot_mean) for r in a] == [(r.b, r.n_drawn, r.boot_mean) for r in b]
    from pyspark_distributed_kmodes_spark.sources.tables import table

    o = table(spark, sf_dir, "orders")
    n = o.count()
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    for r in a:
        assert lo <= r.boot_mean <= hi
        # Poisson(1) replicate size concentrates around n
        assert abs(r.n_drawn - n) < 6 * math.sqrt(n) + 6


def test_chi_square_matches_numpy(spark, sf_dir, reg):
    """Cross-check the distributed chi-square against an independent
    numpy contingency computation (the d09/d13 discipline)."""
    from pyspark_distributed_kmodes_spark.sources.tables import table

    got = {r.event_type: r.chi2_part for r in reg["qg15_chi_square_independence"].fn(spark, sf_dir).collect()}
    e = table(spark, sf_dir, "events").select(
        "event_type",
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7).cast("int").alias("dow"),
    ).toPandas()
    tab = e.groupby(["event_type", "dow"]).size().unstack(fill_value=0)
    obs = tab.to_numpy().astype(float)
    exp = obs.sum(axis=1, keepdims=True) * obs.sum(axis=0, keepdims=True) / obs.sum()
    parts = ((obs - exp) ** 2 / exp).sum(axis=1)
    for et, part in zip(tab.index, parts):
        assert abs(got[et] - part) < 1e-4, (et, got[et], part)


def test_corr_matrix_matches_numpy(spark, sf_dir, reg):
    from pyspark_distributed_kmodes_spark.sources.tables import table

    got = {(r.col_x, r.col_y): r.pearson for r in reg["qg16_exact_corr_matrix"].fn(spark, sf_dir).collect()}
    pdf = table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    ).toPandas()
    for (x, y), v in got.items():
        ref = np.corrcoef(pdf[x], pdf[y])[0, 1]
        assert abs(v - ref) < 1e-4, (x, y, v, ref)


def test_ab_test_consistency(spark, sf_dir, reg):
    r = reg["qg17_two_proportion_ab"].fn(spark, sf_dir).collect()[0]
    assert r.conv_ctl <= r.n_ctl and r.conv_trt <= r.n_trt
    assert abs((r.rate_trt - r.rate_ctl) - r.lift) < 2e-6
    if 0 < r.conv_ctl + r.conv_trt < r.n_ctl + r.n_trt:
        p = (r.conv_ctl + r.conv_trt) / (r.n_ctl + r.n_trt)
        se = math.sqrt(p * (1 - p) * (1 / r.n_ctl + 1 / r.n_trt))
        assert abs(r.z_score - (r.rate_trt - r.rate_ctl) / se) < 1e-4


def test_char_ngram_compressibility_bounds(spark, sf_dir, reg):
    rows = reg["qg18_char_ngram_compressibility"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.distinct_ratio <= 1.0
        assert r.distinct_grams <= r.total_grams


def test_snapshot_novelty_bounds(spark, sf_dir, reg):
    rows = reg["qg19_snapshot_novelty"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.mean_novelty <= 1.0
        assert r.new_shingles <= r.total_shingles


def test_activity_streaks_conserve_users(spark, sf_dir, reg):
    from pyspark_distributed_kmodes_spark.sources.tables import table

    rows = reg["qg20_activity_streaks"].fn(spark, sf_dir).collect()
    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == n_users
    assert all(r.streak_days >= 1 for r in rows)


def test_embedding_drift_is_symmetric_in_halves(spark, sf_dir, reg):
    """Drift is a distance: nonnegative, and counts cover the corpus."""
    from pyspark_distributed_kmodes_spark.sources.tables import table

    rows = reg["qg21_embedding_drift"].fn(spark, sf_dir).collect()
    n_vecs = table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_a + r.n_b for r in rows) == n_vecs
    assert all(r.centroid_l2_drift >= 0.0 for r in rows)


def test_dup_cluster_sizes_cover_corpus(spark, sf_dir, reg):
    from pyspark_distributed_kmodes_spark.sources.tables import table

    rows = reg["qg22_dup_cluster_sizes"].fn(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert abs(sum(r.corpus_share for r in rows) - 1.0) < 1e-4


def test_functional_dependency_rates(spark, sf_dir, reg):
    rows = reg["qg23_functional_dependency"].fn(spark, sf_dir).collect()
    assert len(rows) == 4
    for r in rows:
        assert 0 <= r.n_violating <= r.n_groups
        assert 0.0 <= r.violation_rate <= 1.0
