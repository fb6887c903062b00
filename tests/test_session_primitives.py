"""The engine's three state primitives: scratch_dir (the only temp-dir
factory), scoped_conf (the only conf save/restore) and
drain_available_now (the only bounded availableNow wait).

The guard test is Spark-free: an AST scan of the package, so names
mentioned in docstrings and comments do not count."""

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "pyspark_distributed_kmodes_spark"


def _calls(attr: str):
    """(file, enclosing function, line) of every call to `<x>.attr(...)`
    or `attr(...)` in the package."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        stack = [(tree, None)]
        while stack:
            node, fn = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == attr:
                    found.append((path.relative_to(PKG).as_posix(), fn, node.lineno))
            stack.extend((child, fn) for child in ast.iter_child_nodes(node))
    return found


def test_temp_dirs_and_stream_waits_go_through_one_primitive_each():
    mkdtemp = [c for c in _calls("mkdtemp") if c[:2] != ("session.py", "scratch_dir")]
    assert not mkdtemp, f"mkdtemp outside session.scratch_dir: {mkdtemp}"
    waits = [
        c
        for c in _calls("awaitTermination")
        if c[:2] != ("streaming/jobs.py", "drain_available_now")
    ]
    assert not waits, f"awaitTermination outside streaming.jobs.drain_available_now: {waits}"


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
