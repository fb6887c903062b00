"""SparkSession construction, per-session runtime configuration, and the
two primitives that keep one query's state out of the next.

The driver may hand us an already-built session, so everything that can
be set at runtime (timezone, AQE, shuffle partitions) is applied
idempotently via `configure(spark)`; builder-time settings live in
`get_spark()` for our own tests/bench.

Queries that need their own temp dirs or session confs take them from
here: `scratch_dir(tag)` is the engine's only mkdtemp (one prefix, removed
at exit, stale leftovers swept by `sweep_stale_tmp()`), and
`scoped_conf(spark, **confs)` sets confs for a with-block and restores
or unsets each one on every exit path.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session that runs our queries.
# - UTC timezone: the DuckDB oracle is timezone-naive; parquet timestamps
#   are naive — pinning the session to UTC makes year()/date_trunc()/
#   window() agree with the oracle on any machine.
# - AQE on (default in 4.x, pinned for safety): runtime coalescing of
#   shuffle partitions + skew-join splitting is the 100 TB safety net.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp
    # type — read as long and convert in sources.tables.table().
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# Every temp dir the engine creates (staging copies, checkpoints, stream
# targets) comes from scratch_dir(), so all of them share this prefix.
# Each is removed inline or at exit, but a killed process leaks its dirs
# (the round-9 audit found 273 stale ones); sweep_stale_tmp() removes
# only dirs with this prefix AND older than a day, so concurrent live
# sessions (whose dirs are minutes old) are never touched.
_TMP_PREFIX = "sgraft_"


def scratch_dir(tag: str) -> str:
    """A fresh temp dir named sgraft_<tag>_*, removed at process exit.

    Removal waits for exit because streaming targets are read lazily:
    the DataFrame a key returns reads its dir when the caller collects.
    Callers whose dir is dead weight once the key returns rmtree it
    inline as well."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=f"{_TMP_PREFIX}{tag}_")
    atexit.register(shutil.rmtree, path, True)
    return path


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str) -> Iterator[None]:
    """Set session confs for the body of a with-block, then put each back
    as it was on every exit path: its prior value, or unset if it had
    none. Keys are Spark conf names, so callers pass them as
    **{"spark.sql....": value}."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_SWEEP_DONE = False


def sweep_stale_tmp(max_age_sec: float = 86400.0) -> int:
    """Remove engine temp dirs older than max_age_sec; returns count."""
    global _SWEEP_DONE
    import shutil
    import tempfile
    import time

    _SWEEP_DONE = True
    root = tempfile.gettempdir()
    cutoff = time.time() - max_age_sec
    removed = 0
    try:
        entries = os.listdir(root)
    except OSError:
        return 0
    for name in entries:
        if not name.startswith(_TMP_PREFIX):
            continue
        path = os.path.join(root, name)
        try:
            if os.path.isdir(path) and os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
                removed += 1
        except OSError:
            continue
    return removed


def configure(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to a session we didn't build."""
    if not _SWEEP_DONE:
        sweep_stale_tmp()
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — accept default
    return spark


def get_spark(app_name: str = "pyspark-distributed-kmodes-spark") -> SparkSession:
    """Build a local session sized for this machine (local[N], AQE on).

    On a real cluster the same code runs unchanged: nothing below pins
    local mode semantics — shuffle partition count is a starting hint
    that AQE re-coalesces at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return configure(builder.getOrCreate())
