"""Engine lifecycle: dropping a running view stops only its maintenance;
RocksDB state-store provider runs streaming aggregations end-to-end."""

from __future__ import annotations

import pytest

from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.file_replay import write_record_file


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    yield eng
    eng.consume_end_all()


def test_drop_view_stops_its_query_keeps_ingest(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    write_record_file(str(src_root / "s"), [{"data": "a"}])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("dv_stream", "payload STRING")
    engine.create_continuous_view(
        "dv_view",
        "SELECT payload, count(*) AS n FROM dv_stream GROUP BY payload",
        stream="dv_stream",
    )
    engine.consume_begin("ep", "s", "dv_stream")
    engine.wait_for_ingest()
    assert spark.table("dv_view").count() == 1

    engine.drop_continuous_view("dv_view")
    active = {q.name for q in spark.streams.active}
    assert "dv_view" not in active
    # ingestion continues without the view
    write_record_file(str(src_root / "s"), [{"data": "b"}])
    engine.wait_for_ingest()
    rows = {r.payload for r in engine.stream_table("dv_stream").collect()}
    assert rows == {"a", "b"}


def test_seqnums_progress_relation(engine, spark, tmp_path):
    """README.md:119-129 parity: advancing per-shard seqnums are
    queryable; they advance as new records land."""
    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s"),
        [
            {"data": "a", "sequence_number": "001", "shard_id": "shardId-0"},
            {"data": "b", "sequence_number": "002", "shard_id": "shardId-1"},
        ],
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("sq_stream", "payload STRING")
    consumer = engine.consume_begin("ep", "s", "sq_stream")
    engine.wait_for_ingest()
    rows = {
        (r.consumer_id, r.shard_id, r.seqnum)
        for r in engine.seqnums().collect()
    }
    assert rows == {
        (consumer.id, "shardId-0", "001"),
        (consumer.id, "shardId-1", "002"),
    }
    write_record_file(
        str(src_root / "s"),
        [{"data": "c", "sequence_number": "003", "shard_id": "shardId-0"}],
    )
    engine.wait_for_ingest()
    rows = {
        (r.shard_id, r.seqnum) for r in engine.seqnums().collect()
    }
    assert rows == {("shardId-0", "003"), ("shardId-1", "002")}


def test_rocksdb_state_store_view(spark, tmp_path):
    eng = Engine(
        spark,
        metadata_dir=str(tmp_path / "meta"),
        state_store="rocksdb",
    )
    try:
        src_root = tmp_path / "kinesis"
        write_record_file(
            str(src_root / "s"), [{"data": p} for p in ["x", "x", "y"]]
        )
        eng.add_endpoint("ep", url=str(src_root))
        eng.create_stream("rdb_stream", "payload STRING")
        eng.create_continuous_view(
            "rdb_view",
            "SELECT payload, count(*) AS n FROM rdb_stream GROUP BY payload",
            stream="rdb_stream",
        )
        eng.consume_begin("ep", "s", "rdb_stream")
        eng.wait_for_ingest()
        rows = {(r.payload, r.n) for r in spark.table("rdb_view").collect()}
        assert rows == {("x", 2), ("y", 1)}
    finally:
        eng.consume_end_all()
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_unknown_state_store_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="state_store"):
        Engine(spark, metadata_dir=str(tmp_path / "m"), state_store="redis")


def test_view_created_mid_stream_starts_immediately(engine, spark, tmp_path):
    """PipelineDB semantics: CREATE CONTINUOUS VIEW while consumers run
    starts materializing at once — no consumer restart needed. Because
    the source is replayable (archived files), the late view's fresh
    checkpoint BACKFILLS the full retained history before following
    the live stream — an upgrade over PipelineDB, whose views see only
    post-creation events."""
    src_root = tmp_path / "kinesis"
    write_record_file(str(src_root / "s"), [{"data": "a"}])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("mid_stream", "payload STRING")
    engine.consume_begin("ep", "s", "mid_stream")
    engine.wait_for_ingest()

    engine.create_continuous_view(
        "mid_view",
        "SELECT payload, count(*) AS n FROM mid_stream GROUP BY payload",
        "mid_stream",
    )
    write_record_file(str(src_root / "s"), [{"data": "b"}, {"data": "b"}])
    engine.wait_for_ingest()
    rows = {
        (r.payload, r.n)
        for r in engine.view_table("mid_view").collect()
    }
    # materializing without any restart, backfilled from the archive
    assert rows == {("a", 1), ("b", 2)}


def test_reused_view_name_is_private_to_its_metadata_dir(spark, tmp_path):
    """A memory view's sink table is session-wide and named after the
    view. A second Engine over ANOTHER metadata dir that reuses the
    name reads only its own (still empty) view — through view_table and
    sql() — while an Engine over the SAME dir still sees the contents
    before its first batch (the restart contract)."""
    view_sql = "SELECT payload, count(*) AS n FROM rv_stream GROUP BY payload"

    def engine(meta, src):
        eng = Engine(spark, metadata_dir=str(tmp_path / meta))
        eng.add_endpoint("ep", url=str(tmp_path / src))
        eng.create_stream("rv_stream", "payload STRING")
        eng.create_continuous_view("rv_view", view_sql, stream="rv_stream")
        return eng

    write_record_file(str(tmp_path / "src_a" / "s"), [{"data": "a"}])
    a = engine("meta_a", "src_a")
    a.consume_begin("ep", "s", "rv_stream")
    a.wait_for_ingest()
    a.consume_end_all()
    want_a = [("a", 1)]
    assert [tuple(r) for r in a.view_table("rv_view").collect()] == want_a

    b = engine("meta_b", "src_b")
    assert b.view_table("rv_view").collect() == []
    assert b.sql("SELECT * FROM rv_view WHERE payload = 'a'").collect() == []
    assert b.sql("SELECT count(*) AS c FROM RV_VIEW").collect()[0].c == 0

    a2 = Engine(spark, metadata_dir=str(tmp_path / "meta_a"))
    assert [tuple(r) for r in a2.view_table("rv_view").collect()] == want_a
    a2.consume_begin("ep", "s", "rv_stream")
    assert [tuple(r) for r in a2.view_table("rv_view").collect()] == want_a
    a2.consume_end_all()

    write_record_file(str(tmp_path / "src_b" / "s"), [{"data": "b"}] * 2)
    b.consume_begin("ep", "s", "rv_stream")
    b.wait_for_ingest()
    assert [tuple(r) for r in b.view_table("rv_view").collect()] == [("b", 2)]
    assert [tuple(r) for r in b.sql("SELECT * FROM rv_view").collect()] == [
        ("b", 2)
    ]
    b.consume_end_all()
