"""One ingest query per consumer, and the one exactly-once publish rule
every engine-owned sink shares: a micro-batch's files are renamed into
place under batch-id names, then the writer's high-water batch id is
recorded, and a replayed batch at or below that mark is skipped."""

from __future__ import annotations

import os
import shutil

import pytest

from pipeline_kinesis_spark import engine as engine_mod
from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.file_replay import write_record_file


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    yield eng
    eng.consume_end_all()


def _put(stream_dir, rows, tag):
    write_record_file(
        str(stream_dir),
        [
            {"data": d, "sequence_number": f"{tag}-{i:08d}"}
            for i, d in enumerate(rows)
        ],
    )


def test_one_ingest_query_per_consumer(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put(src_root / "s", ["a", "b"], "s")
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("oq_stream", "payload STRING")
    engine.create_continuous_view(
        "oq_view",
        "SELECT payload, count(*) AS n FROM oq_stream GROUP BY payload",
        stream="oq_stream",
    )
    c = engine.consume_begin("ep", "s", "oq_stream")
    engine.wait_for_ingest()
    assert {q.name for q in engine._queries[c.id]} == {
        f"ingest_oq_stream_c{c.id}",
        "oq_view",
    }
    assert not any(
        (q.name or "").startswith("deadletter_")
        for q in spark.streams.active
    )
    assert spark.table("oq_view").count() == 2


def test_no_empty_dead_letter_files(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put(src_root / "s", ["a\t1", "b\t2"], "s")
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("ne_stream", "k STRING, v BIGINT")
    engine.consume_begin("ep", "s", "ne_stream")
    engine.wait_for_ingest()
    assert engine.stream_table("ne_stream").count() == 2
    d = engine.dead_letter_dir("ne_stream")
    assert not os.path.isdir(d) or not any(
        n.endswith(".parquet") for n in os.listdir(d)
    )
    dl = engine.dead_letters("ne_stream")
    assert dl.count() == 0
    assert dl.columns == [
        "k", "v", "_corrupt_record", "arrival_timestamp",
        "sequence_number", "shard_id",
    ]


def test_two_consumers_into_one_relation(engine, spark, tmp_path):
    """Each consumer publishes under its own batch-id names and mark, so
    neither's batches shadow the other's."""
    src_root = tmp_path / "kinesis"
    _put(src_root / "a", ["a0", "a1", "a2"], "a")
    _put(src_root / "b", ["b0", "b1", "b2"], "b")
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("tc_rel", "payload STRING")
    engine.consume_begin("ep", "a", "tc_rel")
    engine.consume_begin("ep", "b", "tc_rel")
    engine.wait_for_ingest()
    got = sorted(r.payload for r in engine.stream_table("tc_rel").collect())
    assert got == ["a0", "a1", "a2", "b0", "b1", "b2"]


def test_transform_sink_exactly_once_when_proc_fails(engine, spark, tmp_path):
    """The proc raises once, after the sink publish: the replayed batch
    re-runs the proc but must not append its sink rows again."""
    src_root = tmp_path / "kinesis"
    _put(src_root / "s", ["a,1", "b,2", "c,3"], "s")
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("tp_in", "k STRING, v BIGINT")
    calls: list[int] = []

    def proc(bdf, bid):
        calls.append(bid)
        if len(calls) == 1:
            raise RuntimeError("injected proc failure")

    engine.create_continuous_transform(
        "tp_copy", "SELECT k, v FROM tp_in", stream="tp_in",
        sink_relation="tp_out", proc=proc,
    )
    engine.consume_begin("ep", "s", "tp_in", fmt="csv", delimiter=",")
    with pytest.raises(Exception, match="injected proc failure"):
        engine.wait_for_ingest()
    engine.consume_end("ep", "s", "tp_in")
    engine.consume_begin("ep", "s", "tp_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    assert len(calls) >= 2  # the proc saw the replayed batch
    got = sorted((r.k, r.v) for r in engine.stream_table("tp_out").collect())
    assert got == [("a", 1), ("b", 2), ("c", 3)]


def test_replay_after_compaction_archived_once(
    engine, spark, tmp_path, monkeypatch
):
    """The publish of batch 1 fails after its files and mark landed; the
    relation is compacted (merging those files under other names) before
    the consumer restarts and Spark replays batch 1."""
    src_root = tmp_path / "kinesis"
    for i in range(3):
        _put(src_root / "s", [f"r{i}"], f"f{i}")
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("rc_stream", "payload STRING")
    real = engine_mod._publish_batch
    fired: list[int] = []

    def publish_then_fail(tag, bid, staged, ext):
        real(tag, bid, staged, ext)
        if bid == 1 and not fired:
            fired.append(bid)
            raise RuntimeError("injected failure after publish")

    monkeypatch.setattr(engine_mod, "_publish_batch", publish_then_fail)
    engine.consume_begin("ep", "s", "rc_stream")
    with pytest.raises(Exception, match="injected failure"):
        engine.wait_for_ingest()
    engine.consume_end("ep", "s", "rc_stream")
    engine.compact_stream_table("rc_stream", target_files=1)
    _put(src_root / "s", ["r3"], "f3")
    engine.consume_begin("ep", "s", "rc_stream")
    engine.wait_for_ingest()
    assert fired == [1]
    got = sorted(r.payload for r in engine.stream_table("rc_stream").collect())
    assert got == ["r0", "r1", "r2", "r3"]


def test_compaction_drops_unmarked_batch_files(engine, spark, tmp_path):
    """A crash between a batch's renames and its mark leaves the files
    of a batch Spark never committed, which the restarted writer
    replays: compaction must not merge them in."""
    src_root = tmp_path / "kinesis"
    _put(src_root / "s", ["a", "b"], "s")
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("um_stream", "payload STRING")
    c = engine.consume_begin("ep", "s", "um_stream")
    engine.wait_for_ingest()
    engine.consume_end("ep", "s", "um_stream")
    d = engine.table_dir("um_stream")
    shutil.copy(
        os.path.join(d, f"c{c.id}-b0000000000-0000.parquet"),
        os.path.join(d, f"c{c.id}-b0000000001-0000.parquet"),
    )
    engine.compact_stream_table("um_stream", target_files=1)
    got = sorted(r.payload for r in engine.stream_table("um_stream").collect())
    assert got == ["a", "b"]


@pytest.mark.parametrize("which", ["table_dir", "dead_letter_dir"])
def test_old_file_sink_layout_refused(engine, spark, tmp_path, which):
    """A dir written by Spark's parquet file sink carries a
    _spark_metadata log that readers would honour over the files
    published beside it; consume_begin refuses to ingest into it."""
    src_root = tmp_path / "kinesis"
    _put(src_root / "s", ["a"], "s")
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("ol_stream", "payload STRING")
    dest = getattr(engine, which)("ol_stream")
    (
        spark.readStream.schema("payload STRING").json(str(src_root / "s"))
        .writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", str(tmp_path / "old_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert os.path.isdir(os.path.join(dest, "_spark_metadata"))
    with pytest.raises(ValueError, match="_spark_metadata"):
        engine.consume_begin("ep", "s", "ol_stream")
