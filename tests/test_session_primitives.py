"""The engine's state primitives: scratch_dir (the only temp-dir
factory), scoped_conf (the only conf save/restore),
drain_available_now (the only bounded availableNow wait) and the
replay-chunk stager in streaming/jobs.py (the only place that writes
single-file chunks and pins their mtimes).

The guard tests are Spark-free: an AST scan of the package (and, for
temp dirs, of the tests, which take theirs from pytest's tmp_path), so
names mentioned in docstrings and comments do not count."""

import ast
import pathlib

import pytest

TESTS = pathlib.Path(__file__).resolve().parent
PKG = TESTS.parent / "pyspark_distributed_kmodes_spark"


def _nodes(match, root: pathlib.Path = PKG, pattern: str = "**/*.py"):
    """(file, enclosing function, line) of every AST node for which
    `match(node)` holds, in the files under `root` matching `pattern`."""
    found = []
    for path in sorted(root.glob(pattern)):
        tree = ast.parse(path.read_text(), filename=str(path))
        stack = [(tree, None)]
        while stack:
            node, fn = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if match(node):
                found.append((path.relative_to(root).as_posix(), fn, node.lineno))
            stack.extend((child, fn) for child in ast.iter_child_nodes(node))
    return found


def _name(node):
    return node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)


def _calls(attr: str, root: pathlib.Path = PKG, pattern: str = "**/*.py"):
    """Every call to `<x>.attr(...)` or `attr(...)` (see `_nodes`)."""
    return _nodes(lambda n: isinstance(n, ast.Call) and _name(n.func) == attr, root, pattern)


def _is_coalesce1_write(node) -> bool:
    """`<df>.coalesce(1).write`: a single-file parquet write."""
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "write"
        and isinstance(node.value, ast.Call)
        and _name(node.value.func) == "coalesce"
        and [getattr(a, "value", None) for a in node.value.args] == [1]
    )


def test_temp_dirs_and_stream_waits_go_through_one_primitive_each():
    mkdtemp = [c for c in _calls("mkdtemp") if c[:2] != ("session.py", "scratch_dir")]
    assert not mkdtemp, f"mkdtemp outside session.scratch_dir: {mkdtemp}"
    in_tests = _calls("mkdtemp", TESTS, "*.py")
    assert not in_tests, f"mkdtemp in tests (use tmp_path): {in_tests}"
    waits = [
        c
        for c in _calls("awaitTermination")
        if c[:2] != ("streaming/jobs.py", "drain_available_now")
    ]
    assert not waits, f"awaitTermination outside streaming.jobs.drain_available_now: {waits}"


def test_replay_chunks_are_written_and_pinned_in_one_module():
    pins = [c for c in _calls("utime") if c[0] != "streaming/jobs.py"]
    assert not pins, f"os.utime outside streaming/jobs.py: {pins}"
    # qp16 pins one writer task to split a sorted run by
    # maxRecordsPerFile into many files: a sink audit, not a chunk
    allowed = {
        ("streaming/jobs.py", "_write_single_file"),
        ("operators/analytics13.py", "qp16_sorted_run_writer_audit"),
    }
    singles = [c for c in _nodes(_is_coalesce1_write) if c[:2] not in allowed]
    assert not singles, f".coalesce(1).write outside streaming.jobs._write_single_file: {singles}"


@pytest.mark.parametrize("fail", [False, True], ids=["normal_exit", "exception"])
def test_scoped_conf_restores_set_and_unsets_unset(spark, fail):
    from pyspark_distributed_kmodes_spark.session import scoped_conf

    was_set = "spark.sql.shuffle.partitions"
    was_unset = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(was_set)
    assert was_set in spark.conf.getAll and was_unset not in spark.conf.getAll

    class Boom(Exception):
        pass

    try:
        with scoped_conf(spark, **{was_set: "7", was_unset: "dynamic"}):
            assert spark.conf.get(was_set) == "7"
            assert spark.conf.get(was_unset) == "dynamic"
            if fail:
                raise Boom
    except Boom:
        assert fail
    assert spark.conf.get(was_set) == before
    assert was_unset not in spark.conf.getAll


def test_drain_timeout_stops_query_and_names_label(spark, sf_dir, monkeypatch):
    from pyspark_distributed_kmodes_spark.session import scratch_dir
    from pyspark_distributed_kmodes_spark.streaming import jobs

    monkeypatch.setattr(jobs, "DRAIN_TIMEOUT_S", 0.001)
    stream = jobs.events_stream(spark, sf_dir)
    writer = jobs.tumbling_counts_stream(stream).writeStream.format("noop").outputMode("update")
    with pytest.raises(TimeoutError, match="drain_probe"):
        jobs.drain_available_now(writer, scratch_dir("drain_probe"), "drain_probe")
    assert spark.streams.active == []
