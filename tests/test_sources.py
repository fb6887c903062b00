"""Source/sink round-trips: CSV and JSON scans with explicit schemas,
partitioned parquet sink."""

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_distributed_kmodes_spark.sources.tables import read_csv, read_json, table, write_parquet


def test_csv_roundtrip(spark, sf_dir):
    nation = table(spark, sf_dir, "nation")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "nation_csv")
        nation.write.option("header", True).csv(path)
        schema = T.StructType(
            [
                T.StructField("n_nationkey", T.IntegerType()),
                T.StructField("n_name", T.StringType()),
                T.StructField("n_regionkey", T.IntegerType()),
            ]
        )
        back = read_csv(spark, path, schema)
        assert sorted(r.n_name for r in back.collect()) == sorted(r.n_name for r in nation.collect())


def test_json_roundtrip(spark, sf_dir):
    region = table(spark, sf_dir, "region")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "region_json")
        region.write.json(path)
        schema = T.StructType(
            [T.StructField("r_regionkey", T.IntegerType()), T.StructField("r_name", T.StringType())]
        )
        back = read_json(spark, path, schema)
        assert back.count() == region.count()


def test_partitioned_parquet_sink(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "docs_by_lang")
        write_parquet(docs, path, partition_by=["lang"])
        langs = {e.split("=")[1] for e in os.listdir(path) if e.startswith("lang=")}
        assert langs == {r.lang for r in docs.select("lang").distinct().collect()}
        back = spark.read.parquet(path)
        assert back.count() == docs.count()


def test_jsonl_python_datasource(spark, tmp_path):
    """Custom Python Data Source: file-per-partition JSONL reads with
    schema-driven projection."""
    import json

    from pyspark_distributed_kmodes_spark.sources import jsonl

    for shard in range(3):
        with open(tmp_path / f"shard-{shard}.jsonl", "w") as f:
            for i in range(10):
                doc = {"doc_id": shard * 10 + i, "text": f"doc {shard} {i}", "lang": "en", "extra": "ignored"}
                f.write(json.dumps(doc) + "\n")

    jsonl.register(spark)
    df = (
        spark.read.format("jsonl_docs")
        .schema("doc_id long, text string, lang string")
        .option("path", str(tmp_path / "shard-*.jsonl"))
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # one partition per shard file
    rows = df.orderBy("doc_id").collect()
    assert len(rows) == 30
    assert rows[0].doc_id == 0 and rows[0].text == "doc 0 0" and rows[0].lang == "en"
    assert rows[29].doc_id == 29
    # missing fields in the narrowed schema surface as NULL, extras drop
    df2 = (
        spark.read.format("jsonl_docs")
        .schema("doc_id long, source string")
        .option("path", str(tmp_path / "shard-*.jsonl"))
        .load()
    )
    r = df2.orderBy("doc_id").first()
    assert r.doc_id == 0 and r.source is None


def test_jsonl_streaming_source_incremental_exactly_once(spark, tmp_path):
    """The jsonl streaming reader must (a) pick up only NEW shard files
    per availableNow run against the same checkpoint, and (b) never
    re-emit rows already consumed — exactly-once via file-set offsets."""
    import json as _json

    from pyspark_distributed_kmodes_spark.sources import jsonl

    def write_shard(i, rows):
        with open(tmp_path / f"s-{i:03d}.jsonl", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_shard(0, [{"doc_id": 1, "text": "a"}, {"doc_id": 2, "text": "b"}])
    write_shard(1, [{"doc_id": 3, "text": "c"}])
    jsonl.register(spark)
    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("jsonl_docs")
            .schema("doc_id bigint, text string")
            .option("path", str(tmp_path / "s-*.jsonl"))
            .option("stability_sec", "0")  # shards here are complete by construction
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [r.doc_id for r in spark.read.parquet(out).collect()]

    got1 = drain()
    assert sorted(got1) == [1, 2, 3]
    # new shard arrives; restart from the same checkpoint
    write_shard(2, [{"doc_id": 4, "text": "d"}])
    got2 = drain()
    # only doc 4 appended, nothing re-emitted: exactly-once via offsets
    assert sorted(got2) == [1, 2, 3, 4]


def test_jsonl_streaming_stability_window_defers_fresh_files(tmp_path):
    """A shard whose mtime is inside the stability window must be
    DEFERRED (not consumed, not marked done) so a producer writing in
    place can't lose rows appended after a partial read; once stable it
    is consumed exactly once."""
    import json as _json
    import os
    import time

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pyspark_distributed_kmodes_spark.sources.jsonl import JsonlDocsStreamReader

    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    with open(tmp_path / "s-000.jsonl", "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": "a"}) + "\n")

    reader = JsonlDocsStreamReader(
        {"path": str(tmp_path / "s-*.jsonl"), "stability_sec": "60"}, schema
    )
    rows, end = reader.read(reader.initialOffset())
    assert rows == [] and end == {"done": []}  # too fresh: deferred

    # age the file past the window (backdate mtime instead of sleeping)
    old = time.time() - 120
    os.utime(tmp_path / "s-000.jsonl", (old, old))
    rows, end = reader.read(reader.initialOffset())
    assert [r[0] for r in rows] == [1] and end["done"] != []


def test_jsonl_writer_roundtrip(spark, tmp_path):
    """Batch writer two-phase commit: rows written via the custom sink
    come back identical through the custom reader; temp files are gone
    and a _SUCCESS manifest records the totals."""
    import json as _json
    import os

    from pyspark_distributed_kmodes_spark.sources import jsonl

    jsonl.register(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "bonjour", "fr"), (3, "hola", "es")],
        "doc_id bigint, text string, lang string",
    ).repartition(2)
    df.write.format("jsonl_docs").option("path", out).mode("append").save()

    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    manifest = _json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["rows"] == 3
    assert not [p for p in os.listdir(out) if p.startswith("_tmp-")]

    back = (
        spark.read.format("jsonl_docs")
        .schema("doc_id bigint, text string, lang string")
        .option("path", os.path.join(out, "part-*.jsonl"))
        .load()
    )
    assert sorted((r.doc_id, r.text, r.lang) for r in back.collect()) == [
        (1, "hello world", "en"),
        (2, "bonjour", "fr"),
        (3, "hola", "es"),
    ]


def test_jsonl_writer_overwrite_replaces_append_accumulates(spark, tmp_path):
    """mode=overwrite removes previously committed shards; mode=append
    keeps them."""
    import os

    from pyspark_distributed_kmodes_spark.sources import jsonl

    jsonl.register(spark)
    out = str(tmp_path / "sink2")
    schema = "doc_id bigint, text string"

    def write(ids, mode):
        spark.createDataFrame([(i, f"doc {i}") for i in ids], schema).coalesce(1).write.format(
            "jsonl_docs"
        ).option("path", out).mode(mode).save()

    def read_ids():
        return sorted(
            r.doc_id
            for r in spark.read.format("jsonl_docs")
            .schema(schema)
            .option("path", os.path.join(out, "part-*.jsonl"))
            .load()
            .collect()
        )

    write([1, 2], "append")
    write([3], "append")
    assert read_ids() == [1, 2, 3]
    write([7, 8], "overwrite")
    assert read_ids() == [7, 8]


def test_jsonl_writer_abort_and_stale_sweep(tmp_path):
    """Driver-side commit/abort contract, exercised directly: abort
    removes the reported temp shard; commit publishes only reported
    temps and sweeps orphans from failed attempts."""
    import os

    from pyspark.sql.types import StructType

    from pyspark_distributed_kmodes_spark.sources.jsonl import (
        JsonlDocsWriter,
        JsonlShardCommit,
    )

    out = tmp_path / "sink3"
    out.mkdir()
    schema = StructType.fromDDL("doc_id bigint, text string")
    w = JsonlDocsWriter({"path": str(out)}, schema, overwrite=False)

    aborted = out / "_tmp-deadbeef.jsonl"
    aborted.write_text('{"doc_id": 1, "text": "x"}\n')
    w.abort([None, JsonlShardCommit(str(aborted), 1)])
    assert not aborted.exists()

    good = out / "_tmp-cafe01.jsonl"
    good.write_text('{"doc_id": 2, "text": "y"}\n')
    orphan = out / "_tmp-0rphan.jsonl"  # speculative attempt, no message
    orphan.write_text('{"doc_id": 2, "text": "y"}\n')
    w.commit([JsonlShardCommit(str(good), 1), None])
    names = sorted(os.listdir(out))
    assert any(n.startswith("part-00000-") for n in names)
    assert not any(n.startswith("_tmp-") for n in names)
    assert "_SUCCESS" in names


def test_jsonl_stream_writer_end_to_end_exactly_once(spark, tmp_path):
    """Custom streaming SINK: jsonl stream reader → jsonl stream writer
    across two availableNow runs on one checkpoint — every row lands in
    exactly one committed batch shard, and the ledger records each
    batch once."""
    import json as _json
    import os

    from pyspark_distributed_kmodes_spark.sources import jsonl

    jsonl.register(spark)
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def write_shard(i, rows):
        with open(src / f"s-{i:03d}.jsonl", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def drain():
        q = (
            spark.readStream.format("jsonl_docs")
            .schema("doc_id bigint, text string")
            .option("path", str(src / "s-*.jsonl"))
            .option("stability_sec", "0")
            .load()
            .writeStream.format("jsonl_docs")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def read_sink():
        rows = []
        for p in sorted(os.listdir(sink)):
            if p.startswith("batch-") and p.endswith(".jsonl"):
                with open(os.path.join(sink, p)) as f:
                    rows += [_json.loads(line)["doc_id"] for line in f if line.strip()]
        return sorted(rows)

    write_shard(0, [{"doc_id": 1, "text": "a"}, {"doc_id": 2, "text": "b"}])
    drain()
    assert read_sink() == [1, 2]
    write_shard(1, [{"doc_id": 3, "text": "c"}])
    drain()
    assert read_sink() == [1, 2, 3]  # no re-publication of batch 0
    assert not [p for p in os.listdir(sink) if p.startswith("_tmp-")]
    with open(os.path.join(sink, "_commits.jsonl")) as f:
        ids = [_json.loads(line)["batch_id"] for line in f if line.strip()]
    assert len(ids) == len(set(ids))


def test_jsonl_stream_writer_replay_and_partial_commit(tmp_path):
    """Driver-side commit contract under failure: a replayed batch id
    discards its temp files instead of double-publishing, and a commit
    retried after a mid-rename crash sweeps the partial files first."""
    import json as _json
    import os

    from pyspark.sql.types import StructType

    from pyspark_distributed_kmodes_spark.sources.jsonl import (
        JsonlDocsStreamWriter,
        JsonlShardCommit,
    )

    out = tmp_path / "sink"
    out.mkdir()
    schema = StructType.fromDDL("doc_id bigint, text string")
    w = JsonlDocsStreamWriter({"path": str(out)}, schema, overwrite=False)

    def mktmp(name, rows):
        p = out / f"_tmp-{name}.jsonl"
        p.write_text("".join(_json.dumps(r) + "\n" for r in rows))
        return str(p)

    # normal commit of batch 0
    w.commit([JsonlShardCommit(mktmp("aa", [{"doc_id": 1}]), 1)], 0)
    # crashed attempt left a partial batch-1 file, no ledger line
    (out / "batch-00000001-part-00000-dead.jsonl").write_text('{"doc_id": 9}\n')
    w.commit([JsonlShardCommit(mktmp("bb", [{"doc_id": 2}]), 1)], 1)
    # replay of batch 1 (checkpoint recovery): must be a no-op
    w.commit([JsonlShardCommit(mktmp("cc", [{"doc_id": 2}]), 1)], 1)

    docs = []
    for p in sorted(os.listdir(out)):
        if p.startswith("batch-") and p.endswith(".jsonl"):
            docs += [
                _json.loads(line)["doc_id"]
                for line in open(os.path.join(out, p))
                if line.strip()
            ]
    assert sorted(docs) == [1, 2]  # 9 swept, 2 published once
    assert not [p for p in os.listdir(out) if p.startswith("_tmp-")]


def test_sweep_stale_tmp_removes_only_old_engine_dirs(tmp_path, monkeypatch):
    """The startup sweep must remove engine-prefixed dirs older than the
    age bound (including one made by scratch_dir) and leave fresh ones
    and foreign dirs alone."""
    import os
    import pathlib
    import tempfile
    import time

    from pyspark_distributed_kmodes_spark import session as sess

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    stale = tmp_path / "sgraft_qm01_stage_stale"
    fresh = tmp_path / "sgraft_qm01_stage_fresh"
    foreign = tmp_path / "someone_elses_dir_old"
    for d in (stale, fresh, foreign):
        d.mkdir()
    made = pathlib.Path(sess.scratch_dir("qm01_stage"))
    assert made.parent == tmp_path
    old = time.time() - 2 * 86400
    for d in (stale, foreign, made):
        os.utime(d, (old, old))
    removed = sess.sweep_stale_tmp()
    assert removed == 2
    assert not stale.exists() and not made.exists()
    assert fresh.exists() and foreign.exists()
