"""Scale probe: replicate the sf0.1 tables K× (key-shifted, so joins
stay valid and cardinalities really grow) into a temp dir, then time the
headline queries at both scales. Near-linear growth = the plans hold;
super-linear growth = a shuffle/crossjoin bottleneck to fix.

    python tools/scale_probe.py [K] [--unique-text] [--unique-embeddings] [--only q1,q2,...]

--unique-text: Caesar-shift each document-text replica by its replica
index (bijective letter map — length-preserving, within-replica dup
structure EXACTLY preserved, cross-replica shingle sets disjoint). The
default identical-text replication makes the TRUE near-dup pair/triangle
workload grow ~K² (every doc gains K-1 exact twins), so readings for
qi01/qg04/m30 measure that real quadratic workload, not a plan defect
(the documented "replication artifact"). Unique-text mode grows true
pair work ~linearly and is the honest probe for those queries.

--unique-embeddings: circular-shift each embedding replica's components
by 7x its replica index (norm-preserving bijection — within-replica
cosine structure exactly preserved, cross-replica cosines decorrelated).
Identical-embedding replication gives every vector K-1 exact twins, so
true near-dup pair workload grows ~K^2 for p01/qb30-class queries (the
embedding form of the replication artifact); this flag is the honest
linear-workload probe for them.

--only: comma-separated subset of PROBE_QUERIES to run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from pyspark_distributed_kmodes_spark.registry import load_all
from pyspark_distributed_kmodes_spark.session import get_spark
from pyspark_distributed_kmodes_spark.sources.tables import TABLES, table

# key columns to shift per replica so fact/dim relationships scale
KEY_SHIFTS = {
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 0},
    "lineitem": {"l_orderkey": 10_000_000},
    "events": {"event_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}
REPLICATED = set(KEY_SHIFTS)  # dims stay fixed size

PROBE_QUERIES = [
    "q01_pricing_summary",
    "q16_top_spenders",
    "q21_lag_lead_running",
    "q32_session_window",
    "qo50_word_count",
    "qo56_exact_dedup",
    "qo63_minhash_neardup",
    "qo97_dup_clusters",
    "qo05_context_chunks",
    "o11_duplicate_spans",
    "o12_unigram_logprob",
    "qc03_dup_clusters_distributed",
    "qc06_logprob_quality_tiers",
    "qc11_shingle_novelty",
    "qc13_label_cohesion",
    "qe01_weighted_reservoir_sample",
    "qe03_oov_rate",
    "qd01_neardup_pagerank",
    "qd03_watermark_batch_twin",
    "qd05_interval_coalesce",
    "qd06_pareto_frontier",
    "qd15_duprate_wilson",
    "qf02_bigram_lm_logprob",
    "qf04_harmonic_centrality",
    "qf08_sliding_dau",
    "qf13_segment_dedup",
    "qf18_ngram_decontamination",
    "qg01_personalized_pagerank",
    "qg04_lsh_recall_audit",
    "qg09_vocab_growth",
    "qg10_repetition_audit",
    "qg14_poisson_bootstrap",
    "qg18_char_ngram_compressibility",
    "qg19_snapshot_novelty",
    "qg21_embedding_drift",
    "qh01_bm25_ranking",
    "qh06_cooccurrence_pmi",
    "qh12_hard_negative_mining",
    "qh16_mergeable_quantiles",
    "qh17_two_level_distinct",
    "qh21_bucket_prefilter_audit",
    "qi01_incremental_neardup_edges",
    "qi10_levenshtein_blocked_join",
    "qi22_key_skew_profile",
    "qi24_session_bounce_rate",
    "qi26_nearest_event_join",
    "qj19_kendall_tau",
    "qj26_ewma_anomaly",
    "qj28_burstiness_index",
    "qj45_boilerplate_position",
    "qj49_interval_intersection_volume",
    "qj50_cogrouped_applyinpandas",
    "qk13_markov_stationary",
    "qk17_ngram_dup_mass",
    "qk39_coengagement_lift",
    "qk41_blocking_key_cost",
    "qk46_dup_rate_by_length",
    "qk50_powerlaw_alpha",
    # round-7 conversion twins: constant fan-outs whose growth should
    # stay ~linear (l13's exploded Lloyd step is k*dim per row)
    "ql11_lsh_routing_audit",
    "ql13_lloyd_step_audit",
    "ql14_projection_variance_audit",
    # round-8 m-suite: the data-sized shapes (dictionaries, stacked
    # scans, pair-bounded graph joins, bitmap screens)
    "qm05_markov_row_stochastic_audit",
    "qm07_anderson_darling_uniformity",
    "qm20_cronbach_alpha",
    "qm25_shingle_width_sweep",
    "qm26_bloom_prefilter_audit",
    "qm27_checksum_merge_audit",
    "qm28_cdc_tombstone_apply",
    "qm29_zorder_locality_audit",
    "qm30_triangle_count",
    "qm58_language_id",
    # round-10 staged r-suite: the data-sized shapes (per-row JVM
    # parse/serialize expressions feeding bounded-key aggregates)
    "qo02_variant_json_extraction",
    "qo03_xml_expression_roundtrip",
    "qo05_url_parsing",
    "qo07_utf8_validation",
    "qo08_bitmap_distinct_rollup",
    "qo10_file_metadata_provenance",
    "qo11_passage_chunking",
    "qo12_stream_dedup_within_watermark",
    "qo13_variant_explode_lateral",
    "qo15_stream_outer_join",
    "qo16_statestore_changefeed",
    "qo17_dynamic_gap_sessions",
    "qo18_try_arithmetic_quarantine",
    "qo19_rocksdb_statestore_parity",
    "qo21_xpath_extraction",
    "qo22_runtime_bloom_filter_join",
    "qo23_sql_transform_pipe",
    "qo24_csv_expression_roundtrip",
    "qo25_sql_sugar_all_except",
    "qo26_rocksdb_changelog_checkpoint",
    "qp01_semantic_dedup_fixed_quantizer",
    "qp02_kmodes_fit_step_trace",
    "qp03_stream_observe_metrics",
    "qp04_stream_session_windows",
    "qp05_stream_chained_stateful",
    "qp06_stream_dedup_unbounded_state",
    "qp07_stream_join_state_reader",
    "qp08_udtf_polymorphic_analyze",
    "qp09_timestamp_ntz_surface",
    "qp10_aes_codec_quarantine",
    "qp11_binary_chunk_transport",
    "qp12_collated_join",
    "qp13_stream_static_join",
    "qp14_stateful_timer_sessions",
    "qp15_stream_union_two_sources",
    "qp16_sorted_run_writer_audit",
    "qp17_ntile_equidepth",
]


_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _caesar(col, shift: int):
    """Per-replica bijective letter map (both cases), identity at shift 0."""
    if shift % 26 == 0:
        return col
    rot = _ALPHA[shift % 26 :] + _ALPHA[: shift % 26]
    return F.translate(col, _ALPHA + _ALPHA.upper(), rot + rot.upper())


def _roll(col, shift: int):
    """Per-replica circular shift of the embedding components (identity
    at shift 0): norm-preserving and bijective, so within-replica
    cosine structure is EXACTLY preserved while cross-replica cosines
    decorrelate (a rolled vector's dot with an unrolled one mixes
    unrelated components) — the embedding analog of _caesar. The
    dimension is taken from the data (F.size), not hardcoded, so a
    changed embedding width still yields a true rotation rather than
    a silently truncated/padded vector."""
    if shift == 0:
        return col
    dim = F.size(col)
    s = F.lit(shift) % dim
    return F.when(s == 0, col).otherwise(
        F.concat(F.slice(col, s + 1, dim - s), F.slice(col, 1, s))
    )


def replicate(
    spark, src_dir: str, dst_dir: str, k: int, unique_text: bool = False,
    unique_embeddings: bool = False,
) -> None:
    for t in TABLES:
        df = table(spark, src_dir, t)
        if t in REPLICATED:
            parts = []
            for i in range(k):
                rep = df
                for col, stride in KEY_SHIFTS[t].items():
                    if stride:
                        rep = rep.withColumn(col, F.col(col) + F.lit(i * stride))
                if unique_text and t == "documents":
                    rep = rep.withColumn("text", _caesar(F.col("text"), i))
                if unique_embeddings and t == "embeddings":
                    rep = rep.withColumn("embedding", _roll(F.col("embedding"), i * 7))
                parts.append(rep)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df
        out.write.mode("overwrite").parquet(f"{dst_dir}/{t}.parquet")


def time_queries(spark, reg, sf_dir: str, names=None) -> dict:
    out = {}
    for name in names or PROBE_QUERIES:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            # noop sink: full distributed execution without driver
            # collect, so wide results (b05's chunk text) measure
            # compute scaling, not result-transfer bandwidth
            reg[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t0)
        out[name] = round(best, 2)
    return out


def main():
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    k = int(pos[0]) if pos else 10
    unique_text = "--unique-text" in sys.argv
    unique_embeddings = "--unique-embeddings" in sys.argv
    names = None
    for a in sys.argv[1:]:
        if a.startswith("--only"):
            names = a.split("=", 1)[1].split(",") if "=" in a else None
    if names is None and "--only" in sys.argv:
        names = sys.argv[sys.argv.index("--only") + 1].split(",")
    spark = get_spark("scale-probe")
    reg = load_all()
    base = "/root/testdata/sf0.1"
    big = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        replicate(spark, base, big, k, unique_text=unique_text,
                  unique_embeddings=unique_embeddings)
        t_small = time_queries(spark, reg, base, names)
        t_big = time_queries(spark, reg, big, names)
        report = {
            "k": k,
            "unique_text": unique_text,
            "unique_embeddings": unique_embeddings,
            "sf0.1_sec": t_small,
            f"sf0.1x{k}_sec": t_big,
            "scaling_factor": {
                q: round(t_big[q] / max(t_small[q], 0.05), 1)
                for q in (names or PROBE_QUERIES)
            },
        }
        print(json.dumps(report, indent=2))
    finally:
        shutil.rmtree(big, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
