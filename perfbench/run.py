"""Benchmark of the package's DataFrame workloads, end to end and per layer.

    python3 perfbench/run.py --workload kmodes --seed 1 --seconds 10 --trace 0

Each workload runs in a fresh Python process (worker.py) that drives a
local[nproc] session. Its last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics of a traced
run (spans kept in .perfbench/traces/).

Inputs are generated from `--seed` under a run-private directory that is
removed on every exit path; `--sf-dir` reads an existing
`events.parquet` for the streaming workload instead. See README.md for
the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kmodes", "streaming")
NEEDED = ("pyspark_distributed_kmodes_spark/registry.py", "tools/check_correctness.py")
_PR_SET_CHILD_SUBREAPER = 36
CHILD_TIMEOUT_S = 600


def _descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
                out.extend(kids)
                stack.extend(kids)
        except OSError:
            continue
    return out


def _reap_all(grace_s: float) -> None:
    """Wait until every process this one started has ended; after
    `grace_s`, kill what is left. As a child subreaper this process
    inherits the JVM and the Python workers once their parents exit."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in _descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _env(run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "eventlog", "inputs"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # no JVM writes outside the run directory: java.io.tmpdir moves its
    # temp files, -XX:-UsePerfData drops the /tmp/hsperfdata_<user> file
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # the Python workers import the package too (applyInPandas, data sources)
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=env.get("PYSPARK_PYTHON", sys.executable),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    return env


def run_workload(workload: str, a, run_dir: str) -> dict | None:
    """Run one workload in a fresh process; its result, or None if it failed."""
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir, "--result", result,
        "--trace-out", os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{a.seed}.json"),
    ]
    if a.sf_dir:
        cmd += ["--sf-dir", os.path.abspath(a.sf_dir)]
    env = _env(run_dir, bool(a.trace))
    cmd += ["--t0", repr(time.time())]
    child = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=sys.stderr)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        code = None
    finally:
        _reap_all(grace_s=0 if child.returncode is None else 30)
    if code != 0 or not os.path.exists(result):
        print(f"perfbench: {workload} worker failed (exit {code})", file=sys.stderr)
        return None
    with open(result) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1, help="input generator seed")
    ap.add_argument("--seconds", type=float, default=10, help="length of the timed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="read an existing events.parquet instead of generating it")
    a = ap.parse_args()

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the package (missing {missing})", file=sys.stderr)
        return 2

    def on_signal(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        out = run_workload(a.workload, a, run_root)
    finally:
        _reap_all(grace_s=0)
        shutil.rmtree(run_root, ignore_errors=True)
    if out is None:
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
