"""Managed Kinesis ingestion: consume_begin on a kinesis-typed endpoint
drives the full consumer protocol on a paced background pump — the
reference's consume_thread scheduling seam (kinesis_consumer.cpp:328-332
spawn, :364-434 loop, :415-421 pacing) — with per-shard seqnums
persisted to the catalog each landing round (save_consumer_state,
pipeline_kinesis.c:543-579). No manual pump() calls anywhere here."""

from __future__ import annotations

import time
from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.kinesis import KinesisPump

from tests.test_kinesis_protocol import (
    DatetimeArrivalFake,
    FakeKinesisClient,
    arrival_of,
)


def _wait_until(cond, timeout=60.0):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(0.05)
    return False


_VIEW_SQL = "SELECT k, count(*) AS n, sum(v) AS total FROM k_in GROUP BY k"


def test_consume_begin_runs_pump_reshards_and_resumes(spark, tmp_path):
    """The verdict's done-criteria e2e: consume_begin against the fake
    client ingests unattended, a mid-stream reshard drains through, and
    a full engine restart resumes from catalog seqnums with no
    duplicates. The records carry boto3's tz-aware datetime arrivals,
    and the archive keeps each record's arrival instant."""
    fake = DatetimeArrivalFake(
        {"shardId-000": [b"a,1", b"a,2"], "shardId-001": [b"b,5"]}
    )
    meta = str(tmp_path / "meta")
    eng = Engine(spark, metadata_dir=meta)
    eng.add_endpoint("ep")  # kinesis-typed: no url, client injected
    eng.register_kinesis_client("ep", fake)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    eng.create_continuous_view("k_counts", _VIEW_SQL, stream="k_in")
    c = eng.consume_begin("ep", "events", "k_in", fmt="csv", delimiter=",")

    assert _wait_until(
        lambda: eng.pump_status().get(c.id, {}).get("records", 0) >= 3
    ), eng.pump_status()
    eng.wait_for_ingest()
    rows = {
        r.k: (r.n, r.total) for r in eng.view_table("k_counts").collect()
    }
    assert rows == {"a": (2, 3), "b": (1, 5)}
    # per-shard positions are already durable in the catalog
    seqs = eng.catalog.load_kinesis_seqnums(c.id)
    assert seqs["shardId-000"] == "shardId-000-1"
    assert seqs["shardId-001"] == "shardId-001-0"
    # lag metric rides through the pump (A14)
    assert "shardId-000" in eng.pump_status()[c.id]["lag"]

    # mid-stream reshard: parent closes, child's records flow with no
    # restart and no manual polling
    fake.reshard("shardId-001", ["shardId-002"])
    fake.append("shardId-002", b"c,9")
    assert _wait_until(
        lambda: eng.pump_status()[c.id]["records"] >= 4
    ), eng.pump_status()
    eng.wait_for_ingest()
    rows = {
        r.k: (r.n, r.total) for r in eng.view_table("k_counts").collect()
    }
    assert rows == {"a": (2, 3), "b": (1, 5), "c": (1, 9)}

    eng.consume_end_all()
    assert eng.pump_status() == {}  # pump stopped with the consumer

    # ---- full restart: fresh Engine over the same metadata ----
    fake.append("shardId-002", b"c,11")
    fake.calls.clear()
    eng2 = Engine(spark, metadata_dir=meta)
    eng2.register_kinesis_client("ep", fake)  # clients are process-local
    c2 = eng2.consume_begin("ep", "events", "k_in", fmt="csv", delimiter=",")
    assert c2.id == c.id  # same cataloged consumer
    assert _wait_until(
        lambda: eng2.pump_status()[c2.id]["records"] >= 1
    ), eng2.pump_status()
    eng2.wait_for_ingest()
    rows = {
        r.k: (r.n, r.total)
        for r in eng2.view_table("k_counts").collect()
    }
    assert rows == {"a": (2, 3), "b": (1, 5), "c": (2, 20)}
    # exactly-once across the restart: archive holds 5 records, no dups
    seq_rows = eng2.stream_table("k_in").select(
        "sequence_number", F.unix_micros("arrival_timestamp").alias("us")
    ).collect()
    seqs_seen = [r.sequence_number for r in seq_rows]
    assert len(seqs_seen) == 5 and len(set(seqs_seen)) == 5
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    assert {r.sequence_number: r.us for r in seq_rows} == {
        seq: (arrival_of(seq) - epoch) // timedelta(microseconds=1)
        for seq in seqs_seen
    }
    # the poller resumed AFTER the checkpointed seqnums, not from the
    # stream start
    assert "get_shard_iterator:AFTER_SEQUENCE_NUMBER" in fake.calls
    assert "get_shard_iterator:TRIM_HORIZON" not in fake.calls
    eng2.consume_end_all()


def test_multi_worker_pump_partitions_shards(spark, tmp_path):
    """parallelism>1 spreads shards across polling workers (the
    reference's shard→bgworker partitioning): every record still lands
    exactly once, checkpoints cover every shard."""
    shards = {f"shardId-{i:03d}": [f"k{i},{j}".encode() for j in range(5)]
              for i in range(6)}
    fake = FakeKinesisClient(shards)
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    eng.add_endpoint("ep")
    eng.register_kinesis_client("ep", fake)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    c = eng.consume_begin(
        "ep", "events", "k_in", fmt="csv", delimiter=",", parallelism=4
    )
    assert eng._pumps[c.id].workers == 4
    assert _wait_until(
        lambda: eng.pump_status()[c.id]["records"] >= 30
    ), eng.pump_status()
    eng.wait_for_ingest()
    seqs = [
        r.sequence_number
        for r in eng.stream_table("k_in").select("sequence_number").collect()
    ]
    assert len(seqs) == 30 and len(set(seqs)) == 30  # exactly once
    ckpt = eng.catalog.load_kinesis_seqnums(c.id)
    assert set(ckpt) == set(shards)  # every shard checkpointed
    eng.consume_end_all()


def test_pump_error_surfaces_in_status(spark, tmp_path):
    class Boom(Exception):
        pass

    fake = FakeKinesisClient({"shardId-000": [b"a,1"]})

    def bad(**kw):
        raise Boom("wire down")

    fake.get_records = bad
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    eng.add_endpoint("ep")
    eng.register_kinesis_client("ep", fake)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    c = eng.consume_begin("ep", "events", "k_in", fmt="csv", delimiter=",")
    assert _wait_until(
        lambda: eng.pump_status()[c.id]["error"] is not None
    ), eng.pump_status()
    st = eng.pump_status()[c.id]
    assert "Boom" in st["error"] and not st["alive"]
    eng.consume_end_all()


def test_pump_pacing_matches_reference_rate():
    """4 req/s/shard parity: each round waits out the remainder of the
    250 ms pacing window (kinesis_consumer.cpp:415-421)."""

    class CountingBridge:
        def __init__(self):
            self.n = 0

        def pump(self, owner, workers):
            self.n += 1
            return 1

    delays: list[float] = []
    p = KinesisPump(
        CountingBridge(),
        rate_per_shard=4.0,
        clock=lambda: 0.0,  # zero elapsed → full window remains
        wait=lambda d: delays.append(d) or (
            len(delays) >= 3 and p._halt.set()
        ),
    )
    p.run()  # synchronous: no thread needed for the pacing math
    assert delays == [0.25, 0.25, 0.25]
    assert p.rounds == 3 and p.records == 3


def test_make_boto3_client_constructs_when_available():
    """The production client builder works wherever boto3 is installed
    (construction only — no network here); the wire itself stays
    untestable in this sandbox."""
    import pytest

    pytest.importorskip("boto3")
    from pipeline_kinesis_spark.sources.kinesis import make_boto3_client

    c = make_boto3_client("us-east-1", endpoint_url="http://127.0.0.1:1")
    assert c.meta.region_name == "us-east-1"
    assert str(c.meta.endpoint_url).startswith("http://127.0.0.1:1")


def test_pump_on_round_failure_is_terminal():
    class OneShotBridge:
        def pump(self, owner, workers):
            return 2

    def bad_persist(n):
        raise RuntimeError("catalog write failed")

    p = KinesisPump(OneShotBridge(), on_round=bad_persist)
    p.run()
    assert isinstance(p.error, RuntimeError)
    assert p.rounds == 0  # round did not count as completed


def test_pump_merge_after_split_under_faults_exactly_once(
    spark, tmp_path
):
    """Distilled twin of the streaming_reshard_counts gate row
    (gates/streaming.py): split -> children drain -> MERGE of
    the children (the child carries ParentShardId AND
    AdjacentParentShardId) -> final era lands, with one throttled
    GetRecords and one expired iterator injected while the post-split
    era is pending. Every record exactly once across both reshard
    boundaries and the expiry re-acquire."""
    fake = FakeKinesisClient(
        {"shardId-000": [b"a,1", b"a,2"], "shardId-001": [b"b,5"]}
    )
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    eng.add_endpoint("ep")
    eng.register_kinesis_client("ep", fake)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    eng.create_continuous_view("k_counts", _VIEW_SQL, stream="k_in")
    c = eng.consume_begin(
        "ep", "events", "k_in", fmt="csv", delimiter=",",
        rate_limit_rps=40,
    )
    assert _wait_until(
        lambda: eng.pump_status().get(c.id, {}).get("records", 0) >= 3
    ), eng.pump_status()

    # split 000 -> 002/003, era arrives under one throttle + one expiry.
    # Faults are pinned per-shard (fault_plan): the global counters let
    # the expiry land on a child's FIRST GetRecords, where re-acquire
    # has no last_seq and legitimately falls back to TRIM_HORIZON — so
    # the AFTER_SEQUENCE_NUMBER assert below could flake (ADVICE r12).
    # Here 002's first read throttles (backoff then retry), and 003
    # expires on its SECOND read, after b"d,11" delivered a last_seq.
    fake.reshard("shardId-000", ["shardId-002", "shardId-003"])
    fake.fault_plan["shardId-002"] = ["throttle"]
    fake.fault_plan["shardId-003"] = [None, "expire"]
    fake.append("shardId-002", b"c,7")
    fake.append("shardId-003", b"d,11")
    assert _wait_until(
        lambda: eng.pump_status()[c.id]["records"] >= 5, timeout=90
    ), eng.pump_status()

    # merge the split children; the merged shard carries the final era
    fake.merge(["shardId-002", "shardId-003"], "shardId-004")
    fake.append("shardId-004", b"e,13")
    assert _wait_until(
        lambda: eng.pump_status()[c.id]["records"] >= 6, timeout=90
    ), eng.pump_status()
    eng.wait_for_ingest()

    rows = {
        r.k: (r.n, r.total) for r in eng.view_table("k_counts").collect()
    }
    assert rows == {
        "a": (2, 3), "b": (1, 5), "c": (1, 7), "d": (1, 11), "e": (1, 13),
    }
    seqs = [
        r.sequence_number
        for r in eng.stream_table("k_in").select("sequence_number").collect()
    ]
    assert len(seqs) == 6 and len(set(seqs)) == 6  # exactly once
    # children of the merge started at TRIM_HORIZON after parents
    # drained; the expiry re-acquire resumed AFTER a delivered seqnum
    assert "get_shard_iterator:AFTER_SEQUENCE_NUMBER" in fake.calls
    eng.consume_end_all()
