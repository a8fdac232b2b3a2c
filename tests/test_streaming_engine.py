"""End-to-end engine tests reproducing the reference README recipe
(README.md:34-129): put records → consume → continuous view shows counts →
seqnum-style progress → stop/resume from checkpoint without data loss or
duplication.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.file_replay import write_record_file


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    yield eng
    eng.consume_end_all()


def _put_foo_records(stream_dir, start, stop):
    """README.md:39-45: records foo{N} across 4 shards, partition_key=data."""
    write_record_file(
        str(stream_dir),
        [
            {
                "data": f"foo{i}",
                "partition_key": f"foo{i}",
                "shard_id": f"shardId-{i % 4:012d}",
                "sequence_number": f"{i:056d}",
            }
            for i in range(start, stop)
        ],
    )


def test_readme_recipe_end_to_end(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put_foo_records(src_root / "foo_kinesis", 1, 101)

    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("foo_stream", "payload STRING")
    engine.create_continuous_view(
        "foo_view",
        "SELECT payload, count(*) AS count FROM foo_stream GROUP BY payload",
        stream="foo_stream",
    )
    engine.consume_begin("ep", "foo_kinesis", "foo_stream")
    engine.wait_for_ingest()

    # SELECT * FROM foo_view (README.md:78-88)
    view = spark.table("foo_view")
    rows = {r.payload: r["count"] for r in view.collect()}
    assert len(rows) == 100
    assert rows["foo1"] == 1 and rows["foo100"] == 1

    # archived stream relation is queryable ad hoc, with lineage
    archived = engine.stream_table("foo_stream")
    assert archived.count() == 100
    assert {"payload", "arrival_timestamp", "sequence_number", "shard_id"} <= set(
        archived.columns
    )

    # per-query progress, as a catalog relation
    n = engine.sql(
        "SELECT sum(input_rows) AS n FROM pipeline_query_stats "
        "WHERE kind = 'ingest'"
    ).first().n
    assert n == 100


def test_shard_split_new_shards_consumed_without_restart(
    engine, spark, tmp_path
):
    """Shard split/merge resilience: the reference fetches the shard list
    once at consumer start (pipeline_kinesis.c:668-675), so records in
    shards created after a resharding are never consumed until restart.
    Here shard identity is data (`shard_id` column), not topology — a
    RUNNING consumer picks up records from brand-new shard ids, and
    per-shard seqnum tracking covers them immediately."""
    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s"),
        [
            {"data": f"p{i}", "sequence_number": f"{i:04d}",
             "shard_id": "shardId-000000000000"}
            for i in range(10)
        ],
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("split_stream", "payload STRING")
    engine.consume_begin("ep", "s", "split_stream")
    engine.wait_for_ingest()
    assert engine.stream_table("split_stream").count() == 10

    # resharding: parent closes, two children appear — no consumer restart
    write_record_file(
        str(src_root / "s"),
        [
            {"data": f"c{i}", "sequence_number": f"{100 + i:04d}",
             "shard_id": f"shardId-{1 + i % 2:012d}"}
            for i in range(10)
        ],
    )
    engine.wait_for_ingest()
    t = engine.stream_table("split_stream")
    assert t.count() == 20
    shards = {r.shard_id for r in t.select("shard_id").distinct().collect()}
    assert shards == {
        "shardId-000000000000",
        "shardId-000000000001",
        "shardId-000000000002",
    }
    # per-shard progress covers the children without reconfiguration
    seq_shards = {r.shard_id for r in engine.seqnums().collect()}
    assert shards <= seq_shards


def test_continuous_view_with_sketch_aggregates(engine, spark, tmp_path):
    """PipelineDB's signature shape: a continuous view whose state is a
    mergeable sketch (hll_agg analog) maintained incrementally across
    micro-batches. approx_count_distinct keeps HLL state in the streaming
    aggregation; at the fixture cardinality the estimate is exact, so the
    view is assertable against true distinct counts."""
    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s"),
        [
            {"data": f"k{i % 3}\tu{i % 7}", "sequence_number": f"{i:04d}"}
            for i in range(42)
        ],
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("sk_stream", "k STRING, u STRING")
    engine.create_continuous_view(
        "sk_view",
        "SELECT k, approx_count_distinct(u) AS nd, count(*) AS n "
        "FROM sk_stream GROUP BY k",
        stream="sk_stream",
    )
    engine.consume_begin("ep", "s", "sk_stream")
    engine.wait_for_ingest()
    rows = {r.k: (r.nd, r.n) for r in engine.view_table("sk_view").collect()}
    assert rows == {"k0": (7, 14), "k1": (7, 14), "k2": (7, 14)}

    # second batch arrives → the sketch state merges incrementally
    write_record_file(
        str(src_root / "s"),
        [
            {"data": f"k{i % 3}\tw{i}", "sequence_number": f"{100 + i:04d}"}
            for i in range(6)
        ],
    )
    engine.wait_for_ingest()
    rows = {r.k: (r.nd, r.n) for r in engine.view_table("sk_view").collect()}
    assert rows == {"k0": (9, 16), "k1": (9, 16), "k2": (9, 16)}


def test_checkpoint_resume_no_loss_no_dup(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put_foo_records(src_root / "s1", 0, 50)

    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("s1_stream", "payload STRING")
    engine.consume_begin("ep", "s1", "s1_stream")
    engine.wait_for_ingest()
    assert engine.stream_table("s1_stream").count() == 50

    # stop (kinesis_consume_end_sr analog) ...
    assert engine.consume_end("ep", "s1", "s1_stream")
    # ... more records arrive while stopped ...
    _put_foo_records(src_root / "s1", 50, 80)
    # ... resume: checkpoint recovery must pick up exactly the new records
    # (pipeline_kinesis.c:459-536 analog, upgraded to exactly-once).
    engine.consume_begin("ep", "s1", "s1_stream")
    engine.wait_for_ingest()
    archived = engine.stream_table("s1_stream")
    assert archived.count() == 80
    assert archived.select("payload").distinct().count() == 80


def test_dead_letter_quarantine(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s2"),
        [
            {"data": "a\t1"},
            {"data": "broken row with no tab"},
            {"data": "b\t2"},
        ],
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("kv_stream", "k STRING, v BIGINT")
    engine.consume_begin("ep", "s2", "kv_stream")
    engine.wait_for_ingest()

    assert engine.stream_table("kv_stream").count() == 2
    dead = engine.dead_letters("kv_stream")
    assert dead.count() == 1
    assert dead.collect()[0]["_corrupt_record"] == "broken row with no tab"


def test_consume_begin_all_restarts_catalog(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put_foo_records(src_root / "s3", 0, 10)
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("s3_stream", "payload STRING")
    engine.consume_begin("ep", "s3", "s3_stream")
    engine.wait_for_ingest()
    assert engine.consume_end_all() == 1

    # no-arg begin-all restarts every cataloged consumer
    # (pipeline_kinesis--0.9.0.sql:75-78)
    consumers = engine.consume_begin_all()
    assert len(consumers) == 1
    engine.wait_for_ingest()
    assert engine.stream_table("s3_stream").count() == 10


def test_csv_consumer_options(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s4"), [{"data": '"x,y",1'}, {"data": "z,2"}]
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("csv_stream", "k STRING, v BIGINT")
    engine.consume_begin(
        "ep", "s4", "csv_stream", fmt="csv", delimiter=","
    )
    engine.wait_for_ingest()
    rows = {
        (r.k, r.v)
        for r in engine.stream_table("csv_stream").select("k", "v").collect()
    }
    assert rows == {("x,y", 1), ("z", 2)}


def test_update_mode_view(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put_foo_records(src_root / "s5", 0, 20)
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("s5_stream", "payload STRING")
    engine.create_continuous_view(
        "s5_total",
        "SELECT count(*) AS n FROM s5_stream",
        stream="s5_stream",
        output_mode="complete",
    )
    engine.consume_begin("ep", "s5", "s5_stream")
    engine.wait_for_ingest()
    assert spark.table("s5_total").collect()[0].n == 20
    # more data arrives → the standing query advances the materialized count
    _put_foo_records(src_root / "s5", 20, 30)
    engine.wait_for_ingest()
    assert spark.table("s5_total").collect()[0].n == 30


def test_rate_limited_consumer_paces_and_ingests_all(engine, spark, tmp_path):
    """A12 active pacing: rate_limit_rps maps the reference's GetRecords
    request pacing (kinesis_consumer.cpp:364-434) onto the micro-batch
    trigger — 4 req/s → one fetch round per 250 ms. The paced consumer
    must still ingest every record, the derived trigger must follow
    1/rps, and the knob must survive the catalog round-trip so a
    restarted consumer stays paced."""
    assert engine._trigger_for_cid(10**9) == engine.trigger_interval
    src_root = tmp_path / "kinesis"
    _put_foo_records(src_root / "s1", 0, 10)
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("rl_stream", "payload STRING")
    c = engine.consume_begin(
        "ep", "s1", "rl_stream", rate_limit_rps=4.0
    )
    assert engine._trigger_for(c) == "250 milliseconds"
    engine.wait_for_ingest()
    assert engine.stream_table("rl_stream").count() == 10

    # catalog round-trip: the persisted consumer row carries the pacing
    persisted = engine.catalog.find_consumer("ep", "s1", "rl_stream")
    assert persisted.rate_limit_rps == 4.0
    assert engine._trigger_for_cid(persisted.id) == "250 milliseconds"


def test_alter_stream_add_column_evolution(engine, spark, tmp_path):
    """ALTER STREAM ADD COLUMN: rows archived under the old schema read
    back NULL for the new column; a restarted consumer parses the new
    schema; the alter is refused while consumers run."""
    src_root = tmp_path / "kinesis"
    write_record_file(str(src_root / "s"), [{"data": '{"k": "a"}'}])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("ev_s", "k STRING")
    engine.consume_begin("ep", "s", "ev_s", fmt="json")
    engine.wait_for_ingest()

    with pytest.raises(ValueError, match="stop consumers"):
        engine.alter_stream_add_column("ev_s", "v", "BIGINT")
    engine.consume_end("ep", "s", "ev_s")

    # SQL surface form (PG type mapped), then resume with the new schema
    assert engine.execute("ALTER STREAM ev_s ADD COLUMN v bigint") == (
        "success"
    )
    with pytest.raises(ValueError, match="already exists"):
        engine.alter_stream_add_column("ev_s", "v", "BIGINT")
    write_record_file(str(src_root / "s"), [{"data": '{"k": "b", "v": 7}'}])
    engine.consume_begin("ep", "s", "ev_s", fmt="json")
    engine.wait_for_ingest()

    rows = {r.k: r.v for r in engine.stream_table("ev_s").collect()}
    assert rows == {"a": None, "b": 7}


def test_alter_stream_parameterized_type(engine):
    """ALTER STREAM accepts parameterized PG types incl. commas."""
    engine.create_stream("alt_p", "k STRING")
    assert engine.execute(
        "ALTER STREAM alt_p ADD COLUMN price numeric(10,2)"
    ) == "success"
    assert "price" in engine.catalog.stream("alt_p").schema_ddl
    # the duplicate check must parse the DDL (a naive comma split would
    # see phantom tokens like '2)') — both directions still correct:
    with pytest.raises(ValueError, match="already exists"):
        engine.alter_stream_add_column("alt_p", "PRICE", "STRING")
    assert engine.execute(
        "ALTER STREAM alt_p ADD COLUMN qty bigint"
    ) == "success"
    ddl = engine.catalog.stream("alt_p").schema_ddl.lower()
    assert all(n in ddl for n in ["k", "price", "qty"])
