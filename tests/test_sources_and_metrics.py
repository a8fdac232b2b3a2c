"""Format-parity batch scans (B3), stream-stream join (B11), the
pipeline_query_stats relation (A14, B2st)."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from pipeline_kinesis_spark.sources.batch_formats import read_table
from pipeline_kinesis_spark.sources.file_replay import (
    FileReplaySource,
    write_record_file,
)


def test_csv_json_scan_parity(spark, sf_dir, tmp_path):
    """The same relation scanned as parquet, csv, and json yields the
    same rows."""
    pq = read_table(spark, f"{sf_dir}/nation.parquet", "parquet")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    pq.write.option("header", True).csv(csv_dir)
    pq.write.json(json_dir)

    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    got_csv = read_table(spark, csv_dir, "csv", schema=schema)
    got_json = read_table(spark, json_dir, "json", schema=schema)
    expect = {tuple(r) for r in pq.collect()}
    assert {tuple(r) for r in got_csv.collect()} == expect
    assert {tuple(r) for r in got_json.select(pq.columns).collect()} == expect


def test_stream_stream_join(spark, tmp_path):
    """B11: two live streams joined on key within a watermarked time
    bound — the streaming form of the as-of/interval join."""
    left_dir, right_dir = str(tmp_path / "l"), str(tmp_path / "r")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    write_record_file(
        left_dir,
        [
            {"data": "click1", "partition_key": "u1",
             "approximate_arrival_timestamp": "2024-01-01T10:00:00"},
            {"data": "click2", "partition_key": "u2",
             "approximate_arrival_timestamp": "2024-01-01T10:01:00"},
        ],
    )
    write_record_file(
        right_dir,
        [
            {"data": "buy1", "partition_key": "u1",
             "approximate_arrival_timestamp": "2024-01-01T10:02:00"},
            {"data": "buy_far", "partition_key": "u2",
             "approximate_arrival_timestamp": "2024-01-01T11:30:00"},
        ],
    )
    l = (
        FileReplaySource(left_dir)
        .read_stream(spark)
        .selectExpr(
            "partition_key AS user",
            "data AS click",
            "approximate_arrival_timestamp AS click_ts",
        )
        .withWatermark("click_ts", "10 minutes")
    )
    r = (
        FileReplaySource(right_dir)
        .read_stream(spark)
        .selectExpr(
            "partition_key AS buser",
            "data AS buy",
            "approximate_arrival_timestamp AS buy_ts",
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = l.join(
        r,
        F.expr(
            "user = buser AND buy_ts >= click_ts "
            "AND buy_ts <= click_ts + INTERVAL 5 MINUTES"
        ),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r.user, r.click, r.buy) for r in spark.table(name).collect()}
        # u1's buy is within 5 min of the click; u2's is 89 min away
        assert rows == {("u1", "click1", "buy1")}
    finally:
        q.stop()


def test_pipeline_query_stats_relation(spark, tmp_path):
    """PipelineDB pipeline_query_stats analog: one row per standing
    query, read from the progress Spark keeps for it. The first call
    after wait_for_ingest already holds every batch (nothing to attach
    beforehand, nothing to poll for); a failed query is reported under
    its own name; the relation is queryable through sql()."""
    from pipeline_kinesis_spark.engine import Engine

    eng = Engine(
        spark, metadata_dir=str(tmp_path / "meta"), shuffle_partitions=4
    )
    try:
        src_root = tmp_path / "kinesis"
        write_record_file(
            str(src_root / "s"), [{"data": f"k{i % 2},1"} for i in range(10)]
        )
        eng.add_endpoint("ep", url=str(src_root))
        eng.create_stream("qs_stream", "k STRING, v BIGINT")
        agg = "SELECT k, count(*) AS cnt FROM qs_stream GROUP BY k"
        eng.create_continuous_view("qs_view", agg, "qs_stream")
        eng.create_continuous_view(
            "qs_sw", agg, "qs_stream",
            materialize="parquet_upsert", sw_seconds=3600,
        )

        def boom(bdf, bid):
            raise RuntimeError("qs_bad proc failed")

        eng.create_continuous_transform(
            "qs_bad", "SELECT k FROM qs_stream", "qs_stream", proc=boom
        )
        c = eng.consume_begin(
            "ep", "s", "qs_stream", fmt="csv", delimiter=","
        )
        # the transform is wired last, so every other query has drained
        # by the time its failure surfaces here
        with pytest.raises(StreamingQueryException):
            eng.wait_for_ingest()
        stats = {
            (r.kind, r.name): r for r in eng.pipeline_query_stats().collect()
        }
        assert set(stats) == {
            ("ingest", "qs_stream"),
            ("view", "qs_view"),
            ("view", "qs_sw"),
            ("transform", "qs_bad"),
        }
        for key in (("ingest", "qs_stream"), ("view", "qs_view")):
            r = stats[key]
            assert r.input_rows == 10 and r.batches >= 1, r
            assert r.consumer_id == c.id and r.active, r
            assert r.last_batch_id >= 0 and r.errors == 0, r
            assert r.last_error is None and "addBatch" in r.duration_ms, r
        ingest = stats[("ingest", "qs_stream")]
        assert ingest.query == f"ingest_qs_stream_c{c.id}"
        sw = stats[("view", "qs_sw")]
        assert sw.watermark is not None and sw.last_batch_id >= 0, sw
        # last_batch_id reads the checkpoint each query was started on:
        # the rows' kind/name pairs name exactly the consumer's checkpoints
        ckpts = os.listdir(tmp_path / "meta" / "checkpoints" / str(c.id))
        assert sorted(ckpts) == sorted(
            os.path.basename(eng._ckpt(c.id, kind, name))
            for kind, name in stats
        )
        bad = stats[("transform", "qs_bad")]
        assert bad.query == "transform_qs_bad" and not bad.active
        assert bad.errors == 1 and "qs_bad proc failed" in bad.last_error
        # SQL-surface read
        n = eng.sql(
            "SELECT sum(input_rows) AS n FROM pipeline_query_stats "
            "WHERE kind = 'ingest'"
        ).collect()[0].n
        assert n == 10
    finally:
        eng.consume_end_all()
