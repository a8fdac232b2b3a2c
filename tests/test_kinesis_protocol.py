"""Kinesis consumer-protocol engine against an in-process fake client.

The fake returns canned boto3-shaped DescribeStream / GetShardIterator /
GetRecords responses, so the PROTOCOL logic is the unit under test —
iterator-type resolution, NextShardIterator follow, linear 1-5 s
throttle backoff (kinesis_consumer.cpp:395-430 parity), expired-iterator
re-acquisition, mid-stream resharding, and MillisBehindLatest surfacing.
This file deliberately uses no network and no boto3 (the SigV4 wire has
its own suite, test_kinesis_wire.py, which DOES drive real boto3 HTTP).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pytest

from pipeline_kinesis_spark.sources.kinesis import (
    BACKOFF_MAX_S,
    KinesisSource,
)


# The fake wire moved into the package (sources/fake_kinesis.py) so the
# streaming_reshard_counts gate row can drive a real Engine consume loop
# through it under the DuckDB oracle; re-exported here because five
# sibling suites import it from this module.
from pipeline_kinesis_spark.sources.fake_kinesis import (  # noqa: F401
    ExpiredIteratorException,
    FakeKinesisClient,
    ProvisionedThroughputExceededException,
)


ARRIVAL0 = datetime(2026, 1, 1, 12, 30, 45, 123000, tzinfo=timezone.utc)


def arrival_of(seq: str) -> datetime:
    """The arrival DatetimeArrivalFake gives the record ``seq``."""
    return ARRIVAL0 + timedelta(seconds=int(seq.rsplit("-", 1)[1]))


class DatetimeArrivalFake(FakeKinesisClient):
    """boto3's record shape: every record carries a tz-aware datetime
    ApproximateArrivalTimestamp (the wire fake sends none)."""

    def get_records(self, ShardIterator, Limit):
        resp = super().get_records(ShardIterator, Limit)
        for rec in resp["Records"]:
            rec["ApproximateArrivalTimestamp"] = arrival_of(
                rec["SequenceNumber"]
            )
        return resp


def _src(start="trim_horizon", **kw):
    return KinesisSource(
        stream_name="events", region="us-east-1", start_position=start, **kw
    )


def _drain(poller, rounds=10):
    out = []
    for _ in range(rounds):
        out.extend(poller.step())
    return out


def test_trim_horizon_reads_everything_and_follows_iterator():
    fake = FakeKinesisClient(
        {"shardId-000": [b"a", b"b", b"c"], "shardId-001": [b"d"]}
    )
    p = _src(batch_size=2).poller(fake)  # batch 2 forces iterator follow
    got = _drain(p, rounds=3)
    assert [r.data for r in got if r.shard_id == "shardId-000"] == [
        "a",
        "b",
        "c",
    ]
    assert [r.data for r in got if r.shard_id == "shardId-001"] == ["d"]
    # NextShardIterator was followed, not re-acquired: one GetShardIterator
    # per shard despite multiple GetRecords pages
    assert fake.calls.count("get_shard_iterator:TRIM_HORIZON") == 2
    # polled positions surface in-memory; the DURABLE checkpoint map
    # stays empty until the caller commits records as handed downstream
    assert p.shards["shardId-000"].last_seq == "shardId-000-2"
    assert p.checkpoints == {}
    p.commit(got)
    assert p.snapshot_checkpoints()["shardId-000"] == "shardId-000-2"


def test_latest_skips_backlog_then_sees_new_records():
    fake = FakeKinesisClient({"shardId-000": [b"old1", b"old2"]})
    p = _src(start="latest").poller(fake)
    assert _drain(p, rounds=2) == []
    fake.append("shardId-000", b"fresh")
    got = _drain(p, rounds=2)
    assert [r.data for r in got] == ["fresh"]


def test_after_sequence_number_and_checkpoint_resume():
    fake = FakeKinesisClient({"shardId-000": [b"a", b"b", b"c", b"d"]})
    # explicit start position
    p = _src(start="after_sequence_number:shardId-000-1").poller(fake)
    assert [r.data for r in _drain(p, 2)] == ["c", "d"]
    # checkpoint beats configured start (resume semantics)
    fake2 = FakeKinesisClient({"shardId-000": [b"a", b"b", b"c", b"d"]})
    p2 = _src(start="trim_horizon").poller(
        fake2, checkpoints={"shardId-000": "shardId-000-2"}
    )
    assert [r.data for r in _drain(p2, 2)] == ["d"]
    assert "get_shard_iterator:AFTER_SEQUENCE_NUMBER" in fake2.calls


def test_throttle_backoff_is_linear_and_capped_and_resets():
    fake = FakeKinesisClient({"shardId-000": [b"a"]})
    fake.throttle_next = 7
    slept: list[float] = []
    p = _src().poller(fake, sleep=slept.append)
    got = _drain(p, rounds=9)
    # linear 1,2,3,4 then capped at 5 (kinesis_consumer.cpp:395-430)
    assert slept == [1.0, 2.0, 3.0, 4.0, 5.0, 5.0, 5.0]
    assert [r.data for r in got] == ["a"]
    # a successful fetch resets the backoff ramp
    st = p.shards["shardId-000"]
    assert st.backoff_s == 0.0
    fake.throttle_next = 1
    _drain(p, rounds=2)
    assert slept[-1] == 1.0
    assert max(slept) <= BACKOFF_MAX_S


def test_expired_iterator_reacquires_without_loss_or_dup():
    fake = FakeKinesisClient({"shardId-000": [b"a", b"b", b"c"]})
    p = _src(batch_size=1).poller(fake)
    first = p.step()  # reads 'a'
    fake.expire_next = 1
    rest = _drain(p, rounds=4)
    assert [r.data for r in first + rest] == ["a", "b", "c"]
    seqs = [r.sequence_number for r in first + rest]
    assert len(seqs) == len(set(seqs))  # no duplicates after re-acquire
    # re-acquired AFTER the checkpointed seq, not from the stream start
    assert fake.calls.count("get_shard_iterator:TRIM_HORIZON") == 1
    assert "get_shard_iterator:AFTER_SEQUENCE_NUMBER" in fake.calls


def test_resharding_children_after_parent_drains():
    fake = FakeKinesisClient({"shardId-000": [b"p1", b"p2"]})
    p = _src(batch_size=1).poller(fake)
    p.step()  # p1
    # split mid-stream: parent closes, children appear with records
    fake.reshard("shardId-000", ["shardId-001", "shardId-002"])
    fake.append("shardId-001", b"c1")
    fake.append("shardId-002", b"c2")
    got = _drain(p, rounds=6)
    datas = [r.data for r in got]
    assert datas[0] == "p2"  # parent drains first
    assert set(datas[1:]) == {"c1", "c2"}
    # children started at TRIM_HORIZON (no gap), parent marked closed
    assert p.shards["shardId-000"].closed
    assert not p.shards["shardId-001"].closed
    # child records were NOT consumed before the parent closed
    parent_close_idx = datas.index("p2")
    assert all(d in ("c1", "c2") for d in datas[parent_close_idx + 1 :])


def test_describe_stream_pagination():
    fake = FakeKinesisClient(
        {f"shardId-{i:03d}": [bytes([65 + i])] for i in range(5)},
        page_size=2,
    )
    p = _src().poller(fake)
    got = _drain(p, rounds=2)
    assert len(got) == 5  # every shard found across 3 DescribeStream pages
    assert fake.calls.count("describe_stream") >= 3


def test_millis_behind_latest_surfaces_in_lag():
    fake = FakeKinesisClient({"shardId-000": [b"a"], "shardId-001": []})
    fake.millis_behind = 1234
    p = _src().poller(fake)
    p.step()
    assert p.lag() == {"shardId-000": 1234, "shardId-001": 1234}


def test_bridge_end_to_end_with_engine(spark, tmp_path):
    """The complete reference flow with the wire faked: canned Kinesis
    responses → protocol poller → record files → FileReplaySource →
    parse → continuous view. A mid-stream reshard's child records flow
    through subsequent pumps with no restart."""
    from pipeline_kinesis_spark.engine import Engine
    from pipeline_kinesis_spark.sources.kinesis import KinesisReplayBridge

    fake = FakeKinesisClient(
        {"shardId-000": [b"a,1", b"a,2"], "shardId-001": [b"b,5"]}
    )
    src_root = tmp_path / "kinesis"
    bridge = KinesisReplayBridge(_src().poller(fake), str(src_root / "s"))
    assert bridge.pump() == 3

    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    eng.add_endpoint("ep", url=str(src_root))
    eng.create_stream("k_in", "k STRING, v BIGINT")
    eng.create_continuous_view(
        "k_counts",
        "SELECT k, count(*) AS n, sum(v) AS total FROM k_in GROUP BY k",
        stream="k_in",
    )
    eng.consume_begin("ep", "s", "k_in", fmt="csv", delimiter=",")
    eng.wait_for_ingest()
    rows = {
        r.k: (r.n, r.total) for r in eng.view_table("k_counts").collect()
    }
    assert rows == {"a": (2, 3), "b": (1, 5)}

    # live reshard: shardId-001 splits; its child's records arrive via
    # later pumps and the SAME standing query picks them up
    fake.reshard("shardId-001", ["shardId-002"])
    fake.append("shardId-002", b"c,9")
    for _ in range(4):
        bridge.pump()
    eng.wait_for_ingest()
    rows = {
        r.k: (r.n, r.total) for r in eng.view_table("k_counts").collect()
    }
    assert rows == {"a": (2, 3), "b": (1, 5), "c": (1, 9)}
    # shard lineage rode through to the archived stream relation
    shard_ids = {
        r.shard_id
        for r in eng.stream_table("k_in").select("shard_id").collect()
    }
    assert shard_ids == {"shardId-000", "shardId-001", "shardId-002"}
    eng.consume_end_all()


def test_unknown_client_error_propagates():
    class Boom(Exception):
        pass

    fake = FakeKinesisClient({"shardId-000": [b"a"]})

    def bad(**kw):
        raise Boom("auth failure")

    fake.get_records = bad
    p = _src().poller(fake)
    with pytest.raises(Boom):
        p.step()


def test_reshard_describes_once_not_every_round():
    """A closed shard triggers ONE post-close DescribeStream sweep —
    not one per round forever (AWS caps DescribeStream at ~10/s, so a
    per-round refresh throttles itself to death after any reshard)."""
    fake = FakeKinesisClient({"shardId-000": [b"p1"]})
    p = _src().poller(fake)
    p.step()  # p1 read
    fake.reshard("shardId-000", ["shardId-001"])
    fake.append("shardId-001", b"c1")
    _drain(p, rounds=3)  # parent closes, child discovered + drained
    n_desc = fake.calls.count("describe_stream")
    _drain(p, rounds=5)  # steady state: no further discovery
    assert fake.calls.count("describe_stream") == n_desc


def test_discovery_throttle_is_absorbed_not_fatal():
    """LimitExceeded on the post-close DescribeStream skips the sweep
    that round and retries later — it must not propagate and kill the
    pump."""
    fake = FakeKinesisClient({"shardId-000": [b"p1"]})

    class LimitExceededException(Exception):
        pass

    p = _src().poller(fake)
    p.step()
    fake.reshard("shardId-000", ["shardId-001"])
    fake.append("shardId-001", b"c1")
    p.step()  # parent drains and closes
    orig = fake.describe_stream
    state = {"fail": 2}

    def flaky(**kw):
        if state["fail"] > 0:
            state["fail"] -= 1
            raise LimitExceededException("slow down")
        return orig(**kw)

    fake.describe_stream = flaky
    got = _drain(p, rounds=5)  # throttled sweeps absorbed, then child found
    assert [r.data for r in got] == ["c1"]


def test_commit_after_spool_checkpoint_discipline():
    """checkpoints only ever contain COMMITTED positions: a crash
    between poll and spool must replay, never skip. Restarting from
    the committed map re-reads the uncommitted records."""
    fake = FakeKinesisClient({"shardId-000": [b"a", b"b", b"c"]})
    p = _src(batch_size=2).poller(fake)
    first = p.step()  # polls a, b
    p.commit(first[:1])  # only 'a' made it downstream before the crash
    # a restarted poller from the committed map resumes after 'a'
    fake2 = FakeKinesisClient({"shardId-000": [b"a", b"b", b"c"]})
    p2 = _src(batch_size=2).poller(fake2, checkpoints=p.snapshot_checkpoints())
    assert [r.data for r in _drain(p2, 2)] == ["b", "c"]


def test_bridge_spools_datetime_arrivals_as_iso(tmp_path):
    """Against real Kinesis boto3 returns each arrival as a tz-aware
    datetime: the bridge must spool it as ISO-8601 with its offset (a
    raw datetime is not JSON-serializable), decode the data once, and
    commit the spooled positions."""
    from pipeline_kinesis_spark.sources.kinesis import KinesisReplayBridge

    fake = DatetimeArrivalFake(
        {"shardId-000": [b"a,1", b"\xffb,2"], "shardId-001": [b"c,3"]}
    )
    spool = tmp_path / "spool"
    bridge = KinesisReplayBridge(_src().poller(fake), str(spool))
    assert bridge.pump() == 3
    (name,) = os.listdir(spool)
    with open(spool / name) as f:
        rows = [json.loads(line) for line in f]
    assert [
        (r["shard_id"], r["sequence_number"], r["partition_key"], r["data"])
        for r in rows
    ] == [
        ("shardId-000", "shardId-000-0", "pk0", "a,1"),
        ("shardId-000", "shardId-000-1", "pk1", "\ufffdb,2"),
        ("shardId-001", "shardId-001-0", "pk0", "c,3"),
    ]
    assert rows[1]["approximate_arrival_timestamp"] == (
        "2026-01-01T12:30:46.123000+00:00"
    )
    for r in rows:
        assert datetime.fromisoformat(
            r["approximate_arrival_timestamp"]
        ) == arrival_of(r["sequence_number"])
    assert bridge.poller.snapshot_checkpoints() == {
        "shardId-000": "shardId-000-1",
        "shardId-001": "shardId-001-0",
    }
