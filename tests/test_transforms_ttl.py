"""Continuous transforms (CREATE CONTINUOUS TRANSFORM ... THEN EXECUTE
PROCEDURE analog) and TTL-expiring continuous views — the two PipelineDB
surface features beyond plain continuous views that the connector's host
engine exposes.
"""

from __future__ import annotations

import pytest

from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.file_replay import write_record_file


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    yield eng
    eng.consume_end_all()


def _put(stream_dir, rows, start=1):
    write_record_file(
        str(stream_dir),
        [
            {
                "data": data,
                "partition_key": data.split(",")[0],
                "shard_id": "shardId-000000000000",
                "sequence_number": f"{i:056d}",
            }
            for i, data in enumerate(rows, start)
        ],
    )


def test_transform_feeds_sink_relation_and_proc(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put(src_root / "s1", ["a,1", "b,2", "c,3"])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("t_in", "k STRING, v BIGINT")
    seen: list[int] = []
    engine.create_continuous_transform(
        "upper_k",
        "SELECT upper(k) AS k_uc, v * 10 AS v10 FROM t_in WHERE v >= 2",
        stream="t_in",
        sink_relation="t_out",
        proc=lambda bdf, bid: seen.append(bdf.count()),
    )
    engine.consume_begin("ep", "s1", "t_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()

    out = {(r.k_uc, r.v10) for r in engine.stream_table("t_out").collect()}
    assert out == {("B", 20), ("C", 30)}
    assert sum(seen) == 2  # proc saw exactly the transformed rows

    # the sink relation is chainable via ad-hoc SQL like any stream table
    n = engine.sql("SELECT count(*) AS n FROM t_out").collect()[0].n
    assert n == 2


def test_transform_exactly_once_across_restart(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put(src_root / "s1", ["a,1", "b,2"])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("t_in", "k STRING, v BIGINT")
    engine.create_continuous_transform(
        "ident",
        "SELECT k, v FROM t_in",
        stream="t_in",
        sink_relation="t_copy",
    )
    engine.consume_begin("ep", "s1", "t_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    assert engine.stream_table("t_copy").count() == 2

    engine.consume_end("ep", "s1", "t_in")
    _put(src_root / "s1", ["c,3"], start=100)
    engine.consume_begin("ep", "s1", "t_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    rows = sorted((r.k, r.v) for r in engine.stream_table("t_copy").collect())
    assert rows == [("a", 1), ("b", 2), ("c", 3)]  # no dups, no loss


def test_drop_transform_stops_its_query(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put(src_root / "s1", ["a,1"])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("t_in", "k STRING, v BIGINT")
    engine.create_continuous_transform(
        "t1", "SELECT k FROM t_in", stream="t_in", sink_relation="t_o"
    )
    engine.consume_begin("ep", "s1", "t_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    names = {
        q.name for qs in engine._queries.values() for q in qs if q.name
    }
    assert "transform_t1" in names
    engine.drop_continuous_transform("t1")
    names = {
        q.name
        for qs in engine._queries.values()
        for q in qs
        if q.name and q.isActive
    }
    assert "transform_t1" not in names
    assert "t1" not in engine.catalog.state.transforms


def test_view_chained_on_transform_output(engine, spark, tmp_path):
    """PipelineDB output-stream chaining: a continuous view can read a
    transform's sink relation as its stream — transform filters/reshapes,
    the chained view aggregates, all standing queries."""
    src_root = tmp_path / "kinesis"
    _put(src_root / "s1", ["a,1", "a,2", "b,3", "b,4", "c,1"])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("t_in", "k STRING, v BIGINT")
    engine.create_continuous_transform(
        "big_only",
        "SELECT k, v FROM t_in WHERE v >= 2",
        stream="t_in",
        sink_relation="t_big",
    )
    engine.create_continuous_view(
        "big_counts",
        "SELECT k, count(*) AS n, sum(v) AS total FROM t_big GROUP BY k",
        stream="t_big",
    )
    engine.consume_begin("ep", "s1", "t_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()

    got = {r.k: (r.n, r.total) for r in engine.view_table("big_counts").collect()}
    assert got == {"a": (1, 2), "b": (2, 7)}

    # more input propagates through both stages on the next wait
    _put(src_root / "s1", ["a,9"], start=100)
    engine.wait_for_ingest()
    got = {r.k: (r.n, r.total) for r in engine.view_table("big_counts").collect()}
    assert got == {"a": (2, 11), "b": (2, 7)}


def test_transform_requires_sink_or_proc(engine):
    engine.create_stream("t_in", "k STRING")
    with pytest.raises(ValueError):
        engine.create_continuous_transform(
            "bad", "SELECT k FROM t_in", stream="t_in"
        )


def test_ttl_memory_view_hides_expired_rows(engine, spark, tmp_path):
    """Memory-sink TTL views evict at read time: keys whose ttl_column
    lags the wall clock by more than the TTL disappear from view_table
    and from sql()."""
    src_root = tmp_path / "kinesis"
    # 'old' carries an event time far in the past; 'new' is recent-ish
    _put(
        src_root / "s1",
        ["old,2000-01-01 00:00:00", "new,2200-01-01 00:00:00"],
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("e_in", "k STRING, ts TIMESTAMP")
    engine.create_continuous_view(
        "ttl_view",
        "SELECT k, count(*) AS n, max(ts) AS last_ts FROM e_in GROUP BY k",
        stream="e_in",
        ttl_seconds=3600,
        ttl_column="last_ts",
    )
    engine.consume_begin("ep", "s1", "e_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()

    visible = {r.k for r in engine.view_table("ttl_view").collect()}
    assert visible == {"new"}
    # sql() reads the view as view_table does
    assert {
        r.k for r in engine.sql("SELECT k FROM ttl_view").collect()
    } == {"new"}
    # the raw sink still holds both groups — TTL is an eviction contract,
    # not a data-loss one
    assert {r.k for r in spark.table("ttl_view").collect()} == {"old", "new"}


def test_ttl_parquet_upsert_reaps_at_write(engine, spark, tmp_path):
    """parquet_upsert TTL views reap during the merge: expired keys are
    physically absent from the materialized table."""
    src_root = tmp_path / "kinesis"
    _put(
        src_root / "s1",
        ["old,2000-01-01 00:00:00", "new,2200-01-01 00:00:00"],
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("e_in", "k STRING, ts TIMESTAMP")
    engine.create_continuous_view(
        "ttl_up",
        "SELECT k, count(*) AS n, max(ts) AS last_ts FROM e_in GROUP BY k",
        stream="e_in",
        materialize="parquet_upsert",
        key_cols=["k"],
        ttl_seconds=3600,
        ttl_column="last_ts",
    )
    engine.consume_begin("ep", "s1", "e_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()

    stored = {r.k for r in engine.view_table("ttl_up").collect()}
    assert stored == {"new"}


def test_deactivate_then_activate_view(engine, spark, tmp_path):
    """ACTIVATE/DEACTIVATE analog: a deactivated view stops updating but
    keeps its state; reactivating resumes from the checkpoint so records
    ingested while inactive appear — nothing is lost."""
    src_root = tmp_path / "kinesis"
    _put(src_root / "s1", ["a,1", "b,2"])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("t_in", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "counts", "SELECT k, count(*) AS n FROM t_in GROUP BY k", stream="t_in"
    )
    engine.consume_begin("ep", "s1", "t_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    assert {r.k: r.n for r in engine.view_table("counts").collect()} == {
        "a": 1,
        "b": 1,
    }

    engine.deactivate("counts")
    pq = {r.name: (r.active, r.running) for r in engine.pipeline_queries().collect()}
    assert pq["counts"] == (False, False)

    # records arriving while deactivated: ingested, but view untouched
    _put(src_root / "s1", ["a,3"], start=100)
    engine.wait_for_ingest()
    assert engine.stream_table("t_in").count() == 3
    assert {r.k: r.n for r in engine.view_table("counts").collect()} == {
        "a": 1,
        "b": 1,
    }

    engine.activate("counts")
    engine.wait_for_ingest()
    assert {r.k: r.n for r in engine.view_table("counts").collect()} == {
        "a": 2,
        "b": 1,
    }
    pq = {r.name: (r.active, r.running) for r in engine.pipeline_queries().collect()}
    assert pq["counts"] == (True, True)


def test_deactivate_then_activate_transform(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put(src_root / "s1", ["a,1"])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("t_in", "k STRING, v BIGINT")
    engine.create_continuous_transform(
        "copy", "SELECT k, v FROM t_in", stream="t_in", sink_relation="t_out"
    )
    engine.consume_begin("ep", "s1", "t_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    assert engine.stream_table("t_out").count() == 1

    engine.deactivate("copy")
    _put(src_root / "s1", ["b,2"], start=100)
    engine.wait_for_ingest()
    assert engine.stream_table("t_out").count() == 1  # paused

    engine.activate("copy")
    engine.wait_for_ingest()
    rows = sorted((r.k, r.v) for r in engine.stream_table("t_out").collect())
    assert rows == [("a", 1), ("b", 2)]  # resumed exactly-once


def test_inactive_view_not_started_by_consume_begin(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    _put(src_root / "s1", ["a,1"])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("t_in", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "v1", "SELECT k, count(*) AS n FROM t_in GROUP BY k", stream="t_in"
    )
    engine.catalog.set_active("v1", False)
    engine.consume_begin("ep", "s1", "t_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    pq = {r.name: r.running for r in engine.pipeline_queries().collect()}
    assert pq["v1"] is False


def test_ttl_requires_both_knobs(engine):
    engine.create_stream("e_in", "k STRING, ts TIMESTAMP")
    with pytest.raises(ValueError):
        engine.create_continuous_view(
            "v", "SELECT k FROM e_in", stream="e_in", ttl_seconds=10
        )


def test_manual_ttl_expire_sweeps_all_buckets(engine, spark, tmp_path):
    """pipeline_ttl_expire('<view>') analog: a synchronous full-store
    sweep reaps expired rows from EVERY bucket (the background merge
    only reaps touched + one round-robin bucket per batch) and returns
    the reaped count; the SQL spelling works too."""
    src_root = tmp_path / "kinesis"
    _put(
        src_root / "s1",
        [
            "dead1,2000-01-01 00:00:00",
            "dead2,2000-06-01 00:00:00",
            "live,2200-01-01 00:00:00",
        ],
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("e_in", "k STRING, ts TIMESTAMP")
    engine.create_continuous_view(
        "sweep_up",
        "SELECT k, count(*) AS n, max(ts) AS last_ts FROM e_in GROUP BY k",
        stream="e_in",
        materialize="parquet_upsert",
        key_cols=["k"],
        ttl_seconds=3600,
        ttl_column="last_ts",
    )
    engine.consume_begin("ep", "s1", "e_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    # the merge already reaps arriving-expired rows, so nothing dead is
    # stored; plant expired rows directly in the store to simulate rows
    # that aged out AFTER materialization, across arbitrary buckets
    import pyspark.sql.functions as F

    store = engine.view_dir("sweep_up")
    planted = spark.createDataFrame(
        [("old_a", 1), ("old_b", 2)], "k STRING, n BIGINT"
    ).withColumn("last_ts", F.expr("timestamp'2000-01-01 00:00:00'"))
    from pipeline_kinesis_spark.streaming.continuous_view import (
        upsert_to_parquet,
    )

    engine.consume_end_all()
    upsert_to_parquet(planted, store, ["k"], batch_id=999)

    n = engine.ttl_expire("sweep_up")
    assert n == 2
    assert {r.k for r in engine.view_table("sweep_up").collect()} == {"live"}
    # idempotent; SQL spelling returns the count string
    assert engine.execute("SELECT pipeline_ttl_expire('sweep_up')") == "0"


def test_ttl_expire_rejects_memory_and_nonttl(engine):
    engine.create_stream("e2", "k STRING, ts TIMESTAMP")
    engine.create_continuous_view(
        "m1", "SELECT k, count(*) AS n FROM e2 GROUP BY k", stream="e2"
    )
    with pytest.raises(ValueError, match="no TTL"):
        engine.ttl_expire("m1")
