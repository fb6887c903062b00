"""Headline benchmark: runs the bench-tagged queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pyspark_distributed_kmodes_spark.registry import load_all
    from pyspark_distributed_kmodes_spark.session import get_spark

    spark = get_spark("bench")
    reg = load_all()
    bench_queries = {n: q for n, q in sorted(reg.items()) if q.bench}

    # Warm one-time subsystems so timings measure queries, not session
    # init: JVM/codegen (a query), Python workers + Arrow (mapInPandas),
    # local-relation path (createDataFrame).
    next(iter(bench_queries.values())).fn(spark, sf_dir).collect()
    spark.createDataFrame([(1,)], ["x"]).mapInPandas(lambda it: it, "x long").collect()

    import gc

    timings = {}
    for name, q in bench_queries.items():
        # label jobs for the UI / event logs (guide §1.5); set OUTSIDE
        # the timed region, methodology unchanged
        spark.sparkContext.setJobDescription(f"bench:{name}")
        runs = []
        for _ in range(3):  # median-of-3: robust round-over-round comparison
            t0 = time.time()
            len(q.fn(spark, sf_dir).collect())
            runs.append(time.time() - t0)
        timings[name] = round(sorted(runs)[1], 3)
        # release dropped localCheckpoint RDDs between queries so one
        # query's lineage cuts don't occupy memory during the next
        gc.collect()

    # Noise guard: this VM's wall-clock is +-2x noisy under load, and three
    # rounds running a single-query "regression" in the recorded JSON turned
    # out to be phantom (q56/q60 in r02, q97 in r04 — each re-measured fine
    # standalone).  Any query whose median moved >2x vs the previous round's
    # recorded number is automatically re-measured standalone (3 extra runs
    # after a gc quiesce) and BOTH numbers are recorded; the re-measured
    # median is reported as the value.
    remeasured = {}
    prev = _previous_bench()
    for name, first in list(timings.items()):
        old = prev.get(_stem(name))
        if old is None or old <= 0:
            continue
        ratio = first / old if old else 1.0
        if ratio > 2.0 or ratio < 0.5:
            gc.collect()
            spark.sparkContext.setJobDescription(f"bench-remeasure:{name}")
            runs = []
            for _ in range(3):
                t0 = time.time()
                len(bench_queries[name].fn(spark, sf_dir).collect())
                runs.append(time.time() - t0)
            again = round(sorted(runs)[1], 3)
            remeasured[name] = {"first_median": first, "remeasured_median": again, "prev_round": old}
            timings[name] = again
    total = round(sum(timings.values()), 3)

    # Streaming lane (round-12 verdict item 2): engine-only medians for
    # three real Structured Streaming keys. The first call per key runs
    # UNTIMED to warm the memoized one-time file staging
    # (streaming.jobs.stage_event_chunks), so the reported medians measure
    # micro-batch execution + state management, not fixture staging —
    # every timed run still replays the full stream from a fresh
    # checkpoint. Kept OUT of the headline total so round-over-round
    # comparisons of `value` stay apples-to-apples.
    streaming = {}
    for name in _STREAMING_LANE:
        q = reg.get(name)
        if q is None:
            continue
        spark.sparkContext.setJobDescription(f"bench-streaming:{name}")
        q.fn(spark, sf_dir).collect()  # warm staging, untimed
        gc.collect()
        runs = []
        for _ in range(3):
            t0 = time.time()
            len(q.fn(spark, sf_dir).collect())
            runs.append(time.time() - t0)
        streaming[name] = round(sorted(runs)[1], 3)
        gc.collect()

    spark.sparkContext.setJobDescription(None)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "streaming": streaming,
                "streaming_note": (
                    "engine-only medians of 3 full stream replays (fresh "
                    "checkpoint each run); one-time file staging warmed "
                    "untimed beforehand and excluded from the timer"
                ),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **({"remeasured": remeasured} if remeasured else {}),
            }
        )
    )
    spark.stop()


# Streaming bench lane: steady-state stream dedup (bounded state via
# dropDuplicatesWithinWatermark), chained stateful window-on-window, and
# the stream-stream join whose buffer is read back via the state reader.
_STREAMING_LANE = [
    "qo12_stream_dedup_within_watermark",
    "qp05_stream_chained_stateful",
    "qp07_stream_join_state_reader",
]


def _stem(name: str) -> str:
    """Rotation-stable identity: strip the leading letter-run.

    Keys are rotation-renamed between rounds with the number AND suffix
    preserved (d01_x -> qd01_x, r11_x -> o11_x, q50_x -> o50_x, ...), so
    the digits + suffix are the query's identity across every rename;
    only the letter prefix rotates.
    """
    import re

    return re.sub(r"^[a-z]+", "", name)


def _previous_bench() -> dict:
    """Per-query medians from the newest BENCH_r*.json, rotation-mapped."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if not files:
        return {}
    try:
        with open(files[-1]) as fh:
            doc = json.load(fh)
    except (OSError, ValueError):
        return {}
    # the driver wraps our JSON line under "parsed"; accept both shapes
    prev = doc.get("queries") or doc.get("parsed", {}).get("queries") or {}
    return {_stem(k): v for k, v in prev.items() if isinstance(v, (int, float))}


if __name__ == "__main__":
    main()
