"""One workload in one fresh process: set up, run the op list a few
times untimed, time whole passes over it, check every output, and write
the metrics as JSON. Started by run.py, which prepares the environment
(run directory, PYTHONPATH, SPARK_GRAFT_CPUS) and cleans up after it.

Set-up (`setup_s`) is everything from the start of this process to the
first timed op: session, registry, inputs and the untimed passes. They
are there because the first pass over an op list runs 1.7-3.5x slower
than later ones (JIT warm-up, code generation, memoized staging), and a
user running a query many times sees the later speed.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import json
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Callable

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from checks import Categorical, check_cost, check_counts, check_fixed_point, check_model, compare_rows, oracle  # noqa: E402
from tracing import NullTracer, PeakRss, ProcessTree, Tracer, read_event_log, self_times  # noqa: E402

# -- workloads ---------------------------------------------------------------

# The stream-stream join whose buffered state is read back through the
# state reader: it writes checkpoints and keeps four state stores per
# shuffle partition, and it anti-scales with cores (ROADMAP item 2).
STREAMING = ("qp07_stream_join_state_reader",)
STREAMING_TABLES = ("events",)

# k-modes inputs: one table below KModes.COMBO_THRESHOLD (local weighted
# Lloyd on the collected combo table) and one above it (per-iteration
# distributed Lloyd). Noise 0.75 over 4 wide columns makes most rows a
# distinct combo (103,782 of 115,000) while each planted value stays its
# column's plurality within its cluster. Four columns rather than six
# cut the distributed fit from ~4.5 to ~3.5 s: it builds one comparison
# expression per mode and column, over py4j, in every iteration.
KMODES_LOCAL = inputs.CategoricalSpec("kmodes_local", 12_000, (6, 8, 10, 12, 16, 20), k=8, noise=0.25, files=4)
KMODES_DIST = inputs.CategoricalSpec("kmodes_dist", 115_000, (40, 50, 60, 80), k=4, noise=0.75, files=4)
# The ensemble fits the local table's rows in the order they were drawn,
# whatever the run seed: its result depends on the row order inside each
# applyInPandas group, and its convergence claim is wrong on this table
# in every run (see Op.fault), so the share of failed ops must not vary.
KMODES_ENSEMBLE = dataclasses.replace(KMODES_LOCAL, name="kmodes_ensemble")
ENSEMBLE_PARTITIONS = 4

WORKLOADS = ("kmodes", "streaming")
# Untimed passes per workload. The JIT keeps compiling on kmodes for
# several passes (pass times fell 12.6 -> 9.5 -> 9.0 -> 8.1 s as the
# compiler threads' CPU fell 4.0 -> 1.8 s per pass), so it gets a second
# untimed pass; the streaming query is warm after its first. More would
# not fit the run's time limit.
WARMUP_PASSES = {"kmodes": 2, "streaming": 1}
MIN_PASSES = 2


@dataclass
class Op:
    name: str
    run: Callable  # (tracer) -> result
    check: Callable  # (result) -> list of problems; runs outside the timed passes
    # A check for a known fault of the program. Its problems count the op
    # as failed, but leave `correct` true: that speaks of the outputs of
    # the ops that did not fail.
    fault: Callable | None = None


class RegistryWorkload:
    """Registry keys over parquet tables, checked against DuckDB."""

    def __init__(self, spark, registry, keys, tables, sf_dir: str):
        self.spark, self.sf_dir, self.tables = spark, sf_dir, tables
        self.ops = [self._op(registry[k]) for k in keys]

    def _op(self, q) -> Op:
        want: list = []

        def run(tr):
            with tr.span("registry.build"):
                df = q.fn(self.spark, self.sf_dir)
            if tr.enabled:
                with tr.span("engine.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("engine.execute"):
                rows = df.collect()
            return df.columns, rows

        def check(result):
            if not want:
                want.append(oracle(self.sf_dir, self.tables, q.oracle))
            return compare_rows(*result, *want[0])

        return Op(q.name, run, check)


class KModesWorkload:
    """The public ml.kmodes API on generated categorical tables.

    The fits keep the API's default init seed: with the planted structure
    fixed too (inputs.STRUCTURE_SEED), every run seed does the same
    clustering work, and only the rows' order and files differ (for the
    local and distributed fits; the ensemble's table is the same in
    every run)."""

    def __init__(self, spark, data_dir: str, seed: int):
        from pyspark_distributed_kmodes_spark.ml.kmodes import EnsembleKModes, KModes

        self.paths = {s.name: inputs.write_kmodes(data_dir, s, seed) for s in (KMODES_LOCAL, KMODES_DIST)}
        self.paths[KMODES_ENSEMBLE.name] = inputs.write_kmodes(data_dir, KMODES_ENSEMBLE, None)
        self._data: dict = {}
        self.fitted: dict = {}
        L, D, E = KMODES_LOCAL, KMODES_DIST, KMODES_ENSEMBLE
        read = lambda spec: spark.read.parquet(self.paths[spec.name])  # noqa: E731

        def fit(label, make, spec):
            def run(tr):
                df = read(spec)
                with tr.span(f"ml.kmodes.{label}"):
                    model = make().fit(df)
                self.fitted[label] = model
                return model

            return run

        def transform(tr):
            model = self.fitted.pop("distributed_fit")  # fitted earlier in the same pass
            df = read(D)
            with tr.span("ml.kmodes.transform"):
                rows = model.transform(df).groupBy("prediction").count().collect()
            return model.modes, {r["prediction"]: r["count"] for r in rows}

        self.ops = [
            Op("kmodes_fit_local", fit("local_fit", lambda: KModes(L.k, L.cols), L),
               lambda m: check_model(self.data(L), m.modes, m.cost, m.converged, mean_cost=False)),
            Op("kmodes_fit_distributed", fit("distributed_fit", lambda: KModes(D.k, D.cols), D),
               lambda m: check_model(self.data(D), m.modes, m.cost, m.converged, mean_cost=False)),
            Op("kmodes_fit_ensemble",
               fit("ensemble_fit", lambda: EnsembleKModes(ENSEMBLE_PARTITIONS, E.k, cols=E.cols), E),
               lambda m: check_cost(self.data(E), m.modes, m.cost, mean_cost=True),
               # ml/kmodes.py:431 reports converged=True for the meta-clustered
               # partition modes, which are not refined on the data
               fault=lambda m: check_fixed_point(self.data(E), m.modes, m.converged)),
            Op("kmodes_transform", transform, lambda r: check_counts(self.data(D), *r)),
        ]
        self.threshold = KModes.COMBO_THRESHOLD

    def data(self, spec) -> Categorical:
        if spec.name not in self._data:
            self._data[spec.name] = Categorical.read(self.paths[spec.name], spec.cols)
        return self._data[spec.name]

    def combos(self) -> dict[str, int]:
        return {s.name: len(np.unique(self.data(s).codes, axis=0)) for s in (KMODES_LOCAL, KMODES_DIST)}

    def check_shape(self) -> None:
        """The two tables must fall on either side of the fit's path choice."""
        c = self.combos()
        if not c[KMODES_LOCAL.name] <= self.threshold < c[KMODES_DIST.name]:
            raise RuntimeError(f"combo counts {c} do not straddle COMBO_THRESHOLD={self.threshold}")


# -- one run -----------------------------------------------------------------


def run_pass(ops, tracer, pass_no: int, log) -> list[dict]:
    """Run every op once; an op that raises is recorded and the pass goes on."""
    out = []
    tracer.current_pass = pass_no
    for op in ops:
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op:{op.name}", op=op.name):
                result, error = op.run(tracer), None
        except Exception:  # one failing op must not end the run
            result, error = None, traceback.format_exc()
            log(f"op {op.name} failed in pass {pass_no}:\n{error}")
        out.append({"op": op.name, "s": time.perf_counter() - t0, "result": result, "error": error})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", default=None)
    ap.add_argument("--t0", type=float, required=True, help="time the process was started")
    a = ap.parse_args(argv)
    log = lambda msg: print(f"[perfbench {a.workload}] {msg}", file=sys.stderr, flush=True)  # noqa: E731

    tree = ProcessTree()
    rss = PeakRss(tree) if a.trace else None  # sampling costs CPU in this process: traced runs only
    if rss:
        rss.start()
    tracer = Tracer(f"{a.workload}-{a.seed}-{os.getpid()}") if a.trace else NullTracer()

    from pyspark_distributed_kmodes_spark.registry import load_all
    from pyspark_distributed_kmodes_spark.session import get_spark

    with tracer.span("session"):
        spark = get_spark(f"perfbench-{a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    with tracer.span("registry.load"):
        registry = load_all()
    with tracer.span("inputs"):
        if a.workload == "kmodes":
            work = KModesWorkload(spark, os.path.join(a.run_dir, "inputs"), a.seed)
        else:
            sf_dir = a.sf_dir
            if sf_dir is None:
                sf_dir = os.path.join(a.run_dir, "inputs")
                inputs.write_events(sf_dir, a.seed)
            work = RegistryWorkload(spark, registry, STREAMING, STREAMING_TABLES, sf_dir)
    ops = work.ops
    log(f"session, registry and inputs ready at {time.time() - a.t0:.1f}s")

    for i in range(WARMUP_PASSES[a.workload]):
        gc.collect()
        run_pass(ops, tracer, 0, log)
        log(f"untimed pass {i + 1} done at {time.time() - a.t0:.1f}s")
    setup_s = time.time() - a.t0

    passes, pass_s, pass_cpu = [], [], []
    cpu_samples = []
    t_measure = time.perf_counter()
    # Whole passes until `seconds` have gone, and at least MIN_PASSES, so
    # that a run's median never rests on a single pass.
    while len(passes) < MIN_PASSES or time.perf_counter() - t_measure < a.seconds:
        gc.collect()
        s0 = tree.sample()
        t0 = time.perf_counter()
        passes.append(run_pass(ops, tracer, len(passes) + 1, log))
        pass_s.append(time.perf_counter() - t0)
        s1 = tree.sample()
        cpu_samples.append({k: s1[k] - s0[k] for k in ("python", "jvm", "pyworker")})
        pass_cpu.append(sum(cpu_samples[-1].values()))
    peak_rss_mb = rss.stop() if rss else None
    log(f"{len(passes)} timed passes: " + ", ".join(f"{s:.2f}s" for s in pass_s))
    log("  cpu python/jvm/pyworker: " + ", ".join(
        "/".join(f"{c[k]:.1f}" for k in ("python", "jvm", "pyworker")) for c in cpu_samples))
    for i, op in enumerate(ops):
        log(f"  {op.name}: " + ", ".join(f"{p[i]['s']:.2f}s" for p in passes))

    # -- checks, outside the timed passes ------------------------------
    if isinstance(work, KModesWorkload):
        work.check_shape()
    attempted = failed = 0
    correct = True
    for p in passes:
        for op, r in zip(ops, p):
            attempted += 1
            if r["error"] is not None:
                failed += 1
                continue
            problems = op.check(r["result"])
            faults = op.fault(r["result"]) if op.fault else []
            if problems:
                correct = False
                log(f"CHECK FAILED {op.name}: " + "; ".join(problems))
            if faults:
                log(f"KNOWN FAULT {op.name}: " + "; ".join(faults))
            failed += bool(problems or faults)

    if a.trace:
        op_medians = [statistics.median(p[i]["s"] for p in passes) for i in range(len(ops))]
        metrics = layer_metrics(tracer, spark, work, passes, cpu_samples, a)
        metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
        # Wall times are per-layer figures, not end-to-end ones: they follow
        # the shared host's load (see README.md, "Why CPU and not wall time").
        metrics["run.pass_wall_s"] = (statistics.median(pass_s), "s")
        metrics["run.op_geomean_s"] = (math.exp(statistics.fmean(math.log(m) for m in op_medians)), "s")
    else:
        metrics = {"setup_s": (setup_s, "s"), "pass_cpu_s": (statistics.median(pass_cpu), "s")}
        spark.stop()
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(a.result, "w") as fh:
        json.dump(result, fh)
    return 0


def layer_metrics(tracer, spark, work, passes, cpu_samples, a) -> dict:
    """Per-layer totals per timed pass, from the spans of a traced run."""
    deadline = time.time() + 10  # streaming progress reaches the listener asynchronously
    seen = -1
    while time.time() < deadline and seen != len(tracer.progress):
        seen = len(tracer.progress)
        time.sleep(1.0)
    spark.stop()
    spans = tracer.spans
    events = read_event_log(os.path.join(a.run_dir, "eventlog"))
    selfs = self_times(spans)
    n = len(passes)
    timed = [s for s in spans if s["pass_no"] >= 1]
    dur = lambda s: s["end"] - s["start"]  # noqa: E731

    def total(names, key=None):
        ss = [s for s in timed if s["name"] in names]
        return sum((s[key] if key else dur(s)) for s in ss) / n

    def ev(key):
        return sum(events.get(s["job_group"], {}).get(key, 0.0) for s in timed) / n

    fits = ("ml.kmodes.local_fit", "ml.kmodes.distributed_fit", "ml.kmodes.ensemble_fit")
    kmodes_calls = fits + ("ml.kmodes.transform",)
    runs = {r for s in timed for r in s["stream_runs"]}
    progress = [p for p in tracer.progress if p["run_id"] in runs]
    peak_rows: dict = {}
    for p in progress:
        peak_rows[p["run_id"]] = max(peak_rows.get(p["run_id"], 0), p["state_rows"])
    setup = {s["name"]: dur(s) for s in spans if s["pass_no"] == -1}
    execute_s = total(("engine.execute",) + kmodes_calls)
    task_run_s = ev("task_run_s")
    kmodes = isinstance(work, KModesWorkload)
    n_iter = sum(
        r["result"].n_iter for p in passes for r in p
        if r["result"] is not None and r["op"] in ("kmodes_fit_local", "kmodes_fit_distributed")
    )
    m = {
        "session.start_s": (setup["session"], "s"),
        "registry.load_s": (setup["registry.load"], "s"),
        "registry.build_s": (total(("registry.build",)), "s"),
        "registry.build_jobs": (total(("registry.build",), "jobs"), "count"),
        "engine.plan_s": (total(("engine.plan",)), "s"),
        "engine.execute_s": (execute_s, "s"),
        "engine.jobs": (sum(s["jobs"] for s in timed) / n, "count"),
        "engine.stages": (sum(s["stages"] for s in timed) / n, "count"),
        "engine.tasks": (sum(s["tasks"] for s in timed) / n, "count"),
        "engine.busy_cores": (task_run_s / execute_s if execute_s else 0.0, "cores"),
        "engine.task_run_s": (task_run_s, "s"),
        "engine.task_cpu_s": (ev("task_cpu_s"), "s"),
        "engine.gc_s": (ev("gc_s"), "s"),
        "engine.shuffle_write_mb": (ev("shuffle_write_mb"), "MB"),
        "engine.shuffle_read_mb": (ev("shuffle_read_mb"), "MB"),
        "engine.spill_mb": (ev("spill_mb"), "MB"),
        "engine.result_mb": (ev("result_mb"), "MB"),
        "py4j.calls": (sum(s["py4j_calls"] for s in timed) / n, "count"),
        "py4j.wait_s": (sum(s["py4j_wait_s"] for s in timed) / n, "s"),
        "python.cpu_s": (statistics.fmean(c["python"] for c in cpu_samples), "s"),
        "jvm.cpu_s": (statistics.fmean(c["jvm"] for c in cpu_samples), "s"),
        "pyworker.cpu_s": (statistics.fmean(c["pyworker"] for c in cpu_samples), "s"),
        "ml.kmodes.local_fit_s": (total(("ml.kmodes.local_fit",)), "s"),
        "ml.kmodes.distributed_fit_s": (total(("ml.kmodes.distributed_fit",)), "s"),
        "ml.kmodes.ensemble_fit_s": (total(("ml.kmodes.ensemble_fit",)), "s"),
        "ml.kmodes.transform_s": (total(("ml.kmodes.transform",)), "s"),
        "ml.kmodes.n_iter": (n_iter / n, "count"),
        "ml.kmodes.fit_jobs": (total(fits, "jobs"), "count"),
        "ml.kmodes.combos": (sum(work.combos().values()) if kmodes else 0, "count"),
        "streaming.batches": (len(progress) / n, "count"),
        "streaming.batch_ms": (sum(p["batch_ms"] for p in progress) / n, "ms"),
        "streaming.state_commit_ms": (sum(p["state_commit_ms"] for p in progress) / n, "ms"),
        "streaming.state_rows": (sum(peak_rows.values()) / n, "count"),
        "streaming.state_stores": (sum(p["state_stores"] for p in progress) / n, "count"),
    }
    if a.trace_out:
        for s in spans:
            s["self_s"] = selfs.get(s["id"])
            s["events"] = events.get(s["job_group"], {})
        os.makedirs(os.path.dirname(a.trace_out), exist_ok=True)
        with open(a.trace_out, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "passes": n, "metrics": m,
                       "spans": spans, "progress": tracer.progress}, fh, indent=1, default=str)
    return m


if __name__ == "__main__":
    sys.exit(main())
