"""Spool retention: the raw kinesis landing area must be boundable.

Without retention the spool (record files the pump/datasource writes and
the ingest pipeline consumes) duplicates the archived stream forever.
reap_spool / spool_keep_seconds delete files past an age that exceeds
consumer lag; already-processed files are tracked BY NAME in each
query's file-source offset log — and spool names are never reused — so
a reap is invisible to standing queries.
"""

from __future__ import annotations

import os
import time

import pytest

from pipeline_kinesis_spark.engine import Engine

from tests.test_kinesis_protocol import FakeKinesisClient


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(
        spark,
        metadata_dir=str(tmp_path / "meta"),
        trigger_interval="200 milliseconds",
    )
    yield eng
    eng.consume_end_all()


def _spool_files(eng, cid):
    d = os.path.join(eng.metadata_dir, "spool", str(cid))
    return [f for f in os.listdir(d) if f.endswith(".jsonl")]


def _backdate(eng, cid, seconds):
    d = os.path.join(eng.metadata_dir, "spool", str(cid))
    past = time.time() - seconds
    for f in os.listdir(d):
        if f.endswith(".jsonl"):
            os.utime(os.path.join(d, f), (past, past))


def _start(engine, fake, **kw):
    engine.add_endpoint("ep", region="local")
    engine.register_kinesis_client("ep", fake)
    engine.create_stream("sp_in", "k STRING, v BIGINT")
    return engine.consume_begin(
        "ep", "events", "sp_in", fmt="csv", delimiter=",", **kw
    )


def test_spool_keep_rejected_for_file_feed_consumers(engine, tmp_path):
    # the file-feed path has no engine-owned spool: accepting the knob
    # would promise retention the engine cannot deliver
    feed = tmp_path / "feed" / "events"
    feed.mkdir(parents=True)
    engine.add_endpoint("files", url=str(tmp_path / "feed"), region="local")
    engine.create_stream("sp_f", "k STRING, v BIGINT")
    with pytest.raises(ValueError, match="kinesis consumers only"):
        engine.consume_begin(
            "files", "events", "sp_f", fmt="csv", spool_keep_seconds=60.0
        )


def test_reap_spool_deletes_old_files_without_reingest(engine):
    fake = FakeKinesisClient(
        {"shardId-000": [b"a,1", b"a,2"], "shardId-001": [b"b,5"]}
    )
    c = _start(engine, fake)
    engine.wait_for_ingest()
    assert engine.stream_table("sp_in").count() == 3
    assert _spool_files(engine, c.id)
    # too young: nothing reaped
    assert engine.reap_spool("ep", "events", "sp_in", 3600) == 0
    _backdate(engine, c.id, 120)
    assert engine.reap_spool("ep", "events", "sp_in", 60) >= 1
    assert _spool_files(engine, c.id) == []
    # the reap is invisible downstream: counts hold, and NEW records
    # keep flowing (collision-free names are never mistaken for
    # already-seen files)
    fake.append("shardId-000", b"a,9")
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if engine.stream_table("sp_in").count() == 4:
            break
        time.sleep(0.2)
    assert engine.stream_table("sp_in").count() == 4
    seqs = [
        r.sequence_number for r in engine.stream_table("sp_in").collect()
    ]
    assert len(seqs) == len(set(seqs))  # no dups either


def test_spool_keep_seconds_auto_reaps_during_ingest(engine):
    fake = FakeKinesisClient({"shardId-000": [b"a,1"]})
    engine._spool_reap_interval_s = 0.0  # sweep on every landing round
    c = _start(engine, fake, spool_keep_seconds=60.0)
    engine.wait_for_ingest()
    assert engine.stream_table("sp_in").count() == 1
    _backdate(engine, c.id, 300)
    fake.append("shardId-000", b"a,2")  # next landing round sweeps
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        files = _spool_files(engine, c.id)
        old = [f for f in files]
        if engine.stream_table("sp_in").count() == 2 and len(files) <= 1:
            break
        time.sleep(0.2)
    assert engine.stream_table("sp_in").count() == 2
    # only the fresh round's file may remain
    assert len(_spool_files(engine, c.id)) <= 1
    # retention persisted on the consumer row for restarts
    assert engine.catalog.all_consumers()[0].spool_keep_seconds == 60.0


def test_reap_spool_unknown_consumer(engine):
    with pytest.raises(KeyError):
        engine.reap_spool("nope", "s", "r")


def test_datasource_landing_auto_reaps(spark, tmp_path):
    """The executor-parallel path's ingest query runs the same
    retention sweep: spool files past spool_keep_seconds disappear
    while ingestion keeps flowing."""
    pytest.importorskip("boto3")
    from pipeline_kinesis_spark.sources.fake_kinesis import (
        serve_fake_kinesis,
    )

    fake = FakeKinesisClient({"shardId-000": [b"a,1", b"a,2"]})
    srv, url = serve_fake_kinesis(fake)
    cred = tmp_path / "creds"
    cred.write_text(
        "[default]\naws_access_key_id = testing\n"
        "aws_secret_access_key = testing\n"
    )
    eng = Engine(
        spark,
        metadata_dir=str(tmp_path / "meta"),
        trigger_interval="300 milliseconds",
    )
    eng._spool_reap_interval_s = 0.0
    try:
        eng.add_endpoint(
            "ep",
            region="us-east-1",
            url=url,
            credfile=str(cred),
        )
        eng.create_stream("ds_in", "k STRING, v BIGINT")
        c = eng.consume_begin(
            "ep",
            "events",
            "ds_in",
            fmt="csv",
            delimiter=",",
            source="datasource",
            spool_keep_seconds=60.0,
        )
        eng.wait_for_ingest(timeout_s=120)
        assert eng.stream_table("ds_in").count() == 2
        _backdate(eng, c.id, 300)
        fake.append("shardId-000", b"a,3")
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if (
                eng.stream_table("ds_in").count() == 3
                and len(_spool_files(eng, c.id)) <= 1
            ):
                break
            time.sleep(0.3)
        assert eng.stream_table("ds_in").count() == 3
        assert len(_spool_files(eng, c.id)) <= 1
    finally:
        eng.consume_end_all()
        srv.shutdown()
        srv.server_close()
