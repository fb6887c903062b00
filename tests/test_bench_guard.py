"""Unit tests for bench.py's rotation-stable noise guard (round-5
verdict item 3): stem mapping must track the documented key rotations,
and the previous-round medians must parse both the raw bench JSON and
the driver's wrapped shape."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_stem_strips_letter_prefix():
    # rotation renames preserve number + suffix; the stem is exactly that
    assert bench._stem("qd01_neardup_pagerank") == "01_neardup_pagerank"
    assert bench._stem("d01_neardup_pagerank") == "01_neardup_pagerank"
    assert bench._stem("qb14_tokenize_ids") == "14_tokenize_ids"
    assert bench._stem("q01_pricing_summary") == "01_pricing_summary"
    # the round-11 prefix-CHANGING renames (r11 -> o11, q50 -> o50) map
    # to the same stem as their history keys
    assert bench._stem("qo11_passage_chunking") == bench._stem("r11_passage_chunking")
    assert bench._stem("qo50_word_count") == bench._stem("q50_word_count")
    assert bench._stem("qo12_stream_dedup_within_watermark") == bench._stem(
        "r12_stream_dedup_within_watermark"
    )
    # distinct queries sharing a number stay distinct via the suffix
    assert bench._stem("q11_rollup") != bench._stem("qo11_passage_chunking")


def test_previous_bench_reads_driver_wrapped_shape():
    prev = bench._previous_bench()
    # BENCH_r04.json exists in the repo with the driver's {"parsed": ...}
    # wrapper; the reader must surface per-query floats keyed by stem
    assert prev, "expected BENCH_r*.json to parse"
    assert all(isinstance(v, (int, float)) for v in prev.values())
    assert "01_pricing_summary" in prev


def test_every_bench_query_maps_to_history_or_is_new():
    from pyspark_distributed_kmodes_spark.registry import load_all

    prev = bench._previous_bench()
    names = [n for n, q in load_all().items() if q.bench]
    unmapped = [n for n in names if bench._stem(n) not in prev]
    # only genuinely NEW bench entries (staged suites with no history)
    # may lack history; every pre-existing entry must map through the
    # rotation (o-keys carry r/q history stems, so they must all map)
    assert all(n.startswith(("p",)) for n in unmapped), unmapped


def test_streaming_lane_keys_exist_and_are_streaming():
    """The round-12 streaming bench lane (verdict item 2): every lane
    key must exist in the registry and carry the streaming tag, so a
    rotation rename that forgets bench._STREAMING_LANE fails here
    instead of silently dropping the lane from BENCH_r{N}."""
    from pyspark_distributed_kmodes_spark.registry import load_all

    reg = load_all()
    assert len(bench._STREAMING_LANE) == 3
    for name in bench._STREAMING_LANE:
        assert name in reg, name
        assert "streaming" in reg[name].tags or "stream" in name, name
