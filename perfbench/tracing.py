"""Measurement from outside the program: process CPU and memory from
/proc, and, for traced runs, spans around each call into the package's
layers with the Spark jobs, py4j round trips, event-log task metrics and
streaming progress that each span caused.

Nothing here patches the package. The py4j count wraps the gateway
client's `send_command` on the benchmark side; the event log is enabled
through the launch arguments of the traced run only.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _stat(pid: int) -> tuple[str, float, int] | None:
    """(comm, CPU seconds incl. reaped children, RSS pages) of one pid."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            head, tail = fh.read().rsplit(b") ", 1)
    except OSError:
        return None
    f = tail.split()
    cpu = sum(int(x) for x in f[11:15]) / _TICK  # utime stime cutime cstime
    return head.split(b" (", 1)[1].decode(errors="replace"), cpu, int(f[21])


class ProcessTree:
    """The benchmark process, its JVM and the JVM's Python workers.

    CPU of a process that has exited is kept by its parent's cutime, so
    the sum over live processes covers the whole tree."""

    def __init__(self):
        self.root = os.getpid()

    def sample(self) -> dict[str, float]:
        """CPU seconds per role and the tree's resident MB."""
        out = {"python": 0.0, "jvm": 0.0, "pyworker": 0.0, "rss_mb": 0.0}
        stack = [(self.root, "python")]
        while stack:
            pid, role = stack.pop()
            st = _stat(pid)
            if st is None:
                continue
            comm, cpu, rss = st
            if pid != self.root and role == "python" and comm == "java":
                role = "jvm"
            elif role == "jvm" and comm != "java":
                role = "pyworker"
            out[role] += cpu
            out["rss_mb"] += rss * _PAGE_MB
            stack.extend((c, role) for c in _children(pid))
        return out


class PeakRss(threading.Thread):
    """Samples the tree's resident memory until stopped; keeps the peak."""

    EVERY_S = 0.25

    def __init__(self, tree: ProcessTree):
        super().__init__(daemon=True)
        self.tree, self.peak_mb = tree, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.sample()["rss_mb"])
            self._stop_evt.wait(self.EVERY_S)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_mb


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    enabled = False
    current_pass = -1

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def attach(self, spark) -> None:
        pass


class Tracer:
    """Spans with the engine work each one caused.

    Each leaf span runs in its own Spark job group; when it ends, the
    status tracker gives that group's jobs, stages and tasks (plus those
    of any streaming query the span started, which run in a job group
    named after the query's runId). py4j round trips made from the main
    thread are counted into the innermost open span.
    """

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._open: list[dict] = []
        self._bookkeeping = False
        self._main = threading.get_ident()
        self._sc = None
        self._send = None
        self.current_pass = -1

    # -- wiring ---------------------------------------------------------
    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        self._send = client.send_command
        tracer = self

        def counted(*args, **kwargs):
            if tracer._bookkeeping or threading.get_ident() != tracer._main or not tracer._open:
                return tracer._send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return tracer._send(*args, **kwargs)
            finally:
                top = tracer._open[-1]
                top["py4j_calls"] += 1
                top["py4j_wait_s"] += time.perf_counter() - t0

        client.send_command = counted

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # called synchronously by start()
                if tracer._open:
                    tracer._open[-1]["stream_runs"].append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append(
                    {
                        "run_id": str(p.runId),
                        "batch_ms": (p.durationMs or {}).get("triggerExecution", 0),
                        "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_stores": sum(s.numStateStoreInstances for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        with self.bookkeeping():
            spark.streams.addListener(Listener())

    @contextlib.contextmanager
    def bookkeeping(self):
        self._bookkeeping = True
        try:
            yield
        finally:
            self._bookkeeping = False

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            "py4j_calls": 0,
            "py4j_wait_s": 0.0,
            "stream_runs": [],
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "pass_no": self.current_pass,
            **attrs,
        }
        self.spans.append(s)
        group = f"perfbench-{self.run_id}-{s['id']}"
        s["job_group"] = group
        if self._sc is not None:
            with self.bookkeeping():
                self._sc.setJobGroup(group, name)
        self._open.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._open.pop()
            if self._sc is not None:
                with self.bookkeeping():
                    s.update(self._job_counts([group] + s["stream_runs"]))
                    if self._open:  # resume the parent's group
                        self._sc.setJobGroup(self._open[-1]["job_group"], self._open[-1]["name"])
                    else:
                        self._sc._jsc.clearJobGroup()

    def _job_counts(self, groups: list[str]) -> dict:
        tracker = self._sc.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:  # skipped stages ran no task
                        stages += 1
                        tasks += si.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - covered[s["id"]] for s in spans if s["end"] is not None}


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: task run/CPU/GC seconds, shuffle, spill and result MB."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    t = totals[group]
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    t["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
                    t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    t["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
                    t["result_mb"] += m.get("Result Size", 0) / 2**20
    return {g: dict(v) for g, v in totals.items()}
