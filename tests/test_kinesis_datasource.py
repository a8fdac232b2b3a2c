"""Executor-parallel Kinesis source (Python DataSource API).

Two layers:
- protocol unit tests drive KinesisStreamReader directly (no Spark):
  offset bookkeeping, per-shard partition planning, committed-start
  determinism, reshard gating, sticky latest, throttle/expiry;
- Spark e2e runs the registered format through readStream against the
  in-process fake Kinesis HTTP endpoint (real boto3 SigV4 wire, records
  polled by executor tasks): shard→partition mapping, mid-stream
  appends, mid-stream reshard, kill/resume from checkpoint with no
  loss or duplication.
"""

from __future__ import annotations

import os
import time

import pytest

from pipeline_kinesis_spark.sources.kinesis_datasource import (
    KinesisStreamReader,
    _read_attained,
)

from tests.test_kinesis_protocol import FakeKinesisClient

# module-global seam for the clientFactory option: unit tests run the
# reader in-process, so a factory referencing this module works
_FAKE: FakeKinesisClient | None = None


def fake_factory() -> FakeKinesisClient:
    assert _FAKE is not None
    return _FAKE


def _reader(tmp_path, fake, start="trim_horizon", **opts):
    global _FAKE
    _FAKE = fake
    # the per-process client cache would pin the PREVIOUS test's fake
    # (same factory key); each test gets a fresh client world
    import pipeline_kinesis_spark.sources.kinesis_datasource as kd

    kd._CLIENT_CACHE.clear()
    base = {
        "streamName": "events",
        "stateDir": str(tmp_path / "state"),
        # __name__ (not a hardcoded path): pytest may import this file
        # under either "tests.test_kinesis_datasource" or the bare
        # module name, and the factory must resolve to THIS instance
        "clientFactory": f"{__name__}:fake_factory",
        "startingPosition": start,
        "maxFetchRatePerShard": "100000",  # unpaced in unit tests
    }
    base.update(opts)
    return KinesisStreamReader(base)


def _by_shard(parts):
    """shard id → (start_seq, from_reshard) over planned partitions."""
    return {sid: (seq, fr) for p in parts for sid, seq, fr in p.shards}


def _run_batch(r, start):
    """Plan and read one micro-batch; returns (end_offset, rows)."""
    end = r.latestOffset()
    rows = [t for p in r.partitions(start, end) for t in r.read(p)]
    r.commit(end)
    return end, rows


class TestProtocol:
    def test_one_partition_per_shard_with_committed_starts(self, tmp_path):
        fake = FakeKinesisClient(
            {"shardId-000": [b"a"], "shardId-001": [b"b"], "shardId-002": []}
        )
        r = _reader(tmp_path, fake)
        o0 = r.initialOffset()
        o1, rows = _run_batch(r, o0)
        assert {t[4] for t in rows} == {"shardId-000", "shardId-001"}
        o2 = r.latestOffset()
        parts = r.partitions(o1, o2)
        assert len(parts) == 3 and all(len(p.shards) == 1 for p in parts)
        starts = _by_shard(parts)
        assert set(starts) == {"shardId-000", "shardId-001", "shardId-002"}
        # starts are the COMMITTED positions frozen into the offset
        assert starts["shardId-000"][0] == "shardId-000-0"
        assert starts["shardId-002"][0] is None

    def test_caught_up_batches_are_empty_then_appends_arrive(self, tmp_path):
        fake = FakeKinesisClient({"shardId-000": [b"x", b"y"]})
        r = _reader(tmp_path, fake)
        o1, rows = _run_batch(r, r.initialOffset())
        assert [t[0] for t in rows] == ["x", "y"]
        o2, rows2 = _run_batch(r, o1)
        assert rows2 == []
        fake.append("shardId-000", b"z")
        _, rows3 = _run_batch(r, o2)
        assert [t[0] for t in rows3] == ["z"]

    def test_replay_reads_from_same_starts(self, tmp_path):
        """A batch re-planned from the same WAL (start, end) offsets
        reads from the same seqnums even though a previous attempt
        already advanced the attained files — committed-start
        determinism (the crash-replay path)."""
        fake = FakeKinesisClient({"shardId-000": [b"x", b"y"]})
        r = _reader(tmp_path, fake)
        o1, _ = _run_batch(r, r.initialOffset())
        fake.append("shardId-000", b"z")
        o2 = r.latestOffset()
        first = [t for p in r.partitions(o1, o2) for t in r.read(p)]
        # attained now points past z; a replay of the SAME offsets must
        # still start after y (start frozen in o2), re-emitting z
        replay = [t for p in r.partitions(o1, o2) for t in r.read(p)]
        assert [t[0] for t in first] == ["z"]
        assert [t[0] for t in replay] == ["z"]

    def test_reshard_children_gated_until_parent_drained(self, tmp_path):
        fake = FakeKinesisClient({"shardId-000": [b"p1"]})
        r = _reader(tmp_path, fake)
        o1, _ = _run_batch(r, r.initialOffset())
        fake.reshard("shardId-000", ["shardId-001", "shardId-002"])
        fake.append("shardId-001", b"c1")
        # parent not yet observed-closed: children not planned
        o2 = r.latestOffset()
        parts = r.partitions(o1, o2)
        assert list(_by_shard(parts)) == ["shardId-000"]
        rows = [t for p in parts for t in r.read(p)]
        assert rows == []  # drain round marks the parent closed
        r.commit(o2)
        # children now planned, from TRIM_HORIZON; drained parent skipped
        o3 = r.latestOffset()
        parts = r.partitions(o2, o3)
        assert set(_by_shard(parts)) == {"shardId-001", "shardId-002"}
        assert all(fr for _, fr in _by_shard(parts).values())
        rows = [t for p in parts for t in r.read(p)]
        assert [t[0] for t in rows] == ["c1"]

    def test_replay_pinned_to_first_attempt_reach(self, tmp_path):
        """Crash-replay determinism, the stronger property: records
        arriving AFTER the first attempt ran are excluded from the
        replayed batch (the attained file pins the reach per (epoch,
        start)), so batch-id-keyed sinks may skip OR rewrite the
        replayed batch — identical content either way."""
        fake = FakeKinesisClient({"shardId-000": [b"x"]})
        r = _reader(tmp_path, fake)
        o1, _ = _run_batch(r, r.initialOffset())
        fake.append("shardId-000", b"y")
        o2 = r.latestOffset()
        first = [t for p in r.partitions(o1, o2) for t in r.read(p)]
        assert [t[0] for t in first] == ["y"]
        fake.append("shardId-000", b"z")  # arrives between attempts
        replay = [t for p in r.partitions(o1, o2) for t in r.read(p)]
        assert [t[0] for t in replay] == ["y"]  # z NOT widened in
        r.commit(o2)
        _, rows3 = _run_batch(r, o2)
        assert [t[0] for t in rows3] == ["z"]  # and never lost

    def test_replay_of_empty_first_attempt_stays_empty(self, tmp_path):
        fake = FakeKinesisClient({"shardId-000": [b"x"]})
        r = _reader(tmp_path, fake)
        o1, _ = _run_batch(r, r.initialOffset())
        o2 = r.latestOffset()
        first = [t for p in r.partitions(o1, o2) for t in r.read(p)]
        assert first == []
        fake.append("shardId-000", b"late")
        replay = [t for p in r.partitions(o1, o2) for t in r.read(p)]
        assert replay == []  # pinned-empty, not widened
        r.commit(o2)
        _, rows = _run_batch(r, o2)
        assert [t[0] for t in rows] == ["late"]

    def test_sticky_latest_no_gap_between_polls(self, tmp_path):
        """LATEST with no traffic: the executor caches the shard
        iterator, so records arriving between batches are not skipped
        by a fresh LATEST acquisition."""
        fake = FakeKinesisClient({"shardId-000": [b"old1", b"old2"]})
        r = _reader(tmp_path, fake, start="latest")
        o1, rows = _run_batch(r, r.initialOffset())
        assert rows == []  # history skipped
        fake.append("shardId-000", b"new")
        _, rows2 = _run_batch(r, o1)
        assert [t[0] for t in rows2] == ["new"]

    def test_after_sequence_number_start(self, tmp_path):
        fake = FakeKinesisClient({"shardId-000": [b"a", b"b", b"c"]})
        r = _reader(
            tmp_path, fake, start="after_sequence_number:shardId-000-0"
        )
        _, rows = _run_batch(r, r.initialOffset())
        assert [t[0] for t in rows] == ["b", "c"]

    def test_throttle_bounded_then_recovers(self, tmp_path):
        fake = FakeKinesisClient({"shardId-000": [b"a"]})
        fake.throttle_next = 2
        r = _reader(tmp_path, fake)
        o1, rows = _run_batch(r, r.initialOffset())
        assert [t[0] for t in rows] == ["a"]  # in-batch backoff absorbed

    def test_expired_iterator_reacquires_without_loss(self, tmp_path):
        fake = FakeKinesisClient({"shardId-000": [b"a", b"b"]})
        r = _reader(tmp_path, fake)
        o1, rows = _run_batch(r, r.initialOffset())
        fake.append("shardId-000", b"c")
        fake.expire_next = 1  # cached iterator rejected on first use
        _, rows2 = _run_batch(r, o1)
        assert [t[0] for t in rows2] == ["c"]

    def test_per_batch_record_cap(self, tmp_path):
        fake = FakeKinesisClient({"shardId-000": [b"a", b"b", b"c", b"d"]})
        r = _reader(
            tmp_path,
            fake,
            maxRecordsPerShardPerBatch="3",
            maxRecordsPerFetch="2",
        )
        o1, rows = _run_batch(r, r.initialOffset())
        assert len(rows) == 3
        _, rows2 = _run_batch(r, o1)
        assert [t[0] for t in rows2] == ["d"]

    def test_epoch_monotonic_across_reader_restarts(self, tmp_path):
        fake = FakeKinesisClient({"shardId-000": [b"a"]})
        r = _reader(tmp_path, fake)
        o1, _ = _run_batch(r, r.initialOffset())
        r2 = _reader(tmp_path, fake)  # simulated driver restart
        o2 = r2.latestOffset()
        assert o2["epoch"] > o1["epoch"]

    def test_missing_options_rejected(self, tmp_path):
        with pytest.raises(ValueError, match="streamName"):
            KinesisStreamReader({"stateDir": str(tmp_path)})
        with pytest.raises(ValueError, match="stateDir"):
            KinesisStreamReader({"streamName": "s"})
        with pytest.raises(ValueError, match="startingPosition"):
            KinesisStreamReader(
                {
                    "streamName": "s",
                    "stateDir": str(tmp_path),
                    "startingPosition": "bogus",
                }
            )


# ---------------------------------------------------------------- Spark e2e


@pytest.fixture
def wire(tmp_path):
    """(fake, endpoint_url, credfile): HTTP Kinesis endpoint + a
    shared-credentials file (how executor workers, whose env Spark
    controls, get SigV4 material)."""
    from pipeline_kinesis_spark.sources.fake_kinesis import (
        serve_fake_kinesis,
    )

    boto3 = pytest.importorskip("boto3")  # noqa: F841

    fake = FakeKinesisClient(
        {"shardId-000": [b"a,1", b"a,2"], "shardId-001": [b"b,5"]}
    )
    srv, url = serve_fake_kinesis(fake)
    cred = tmp_path / "creds"
    cred.write_text(
        "[default]\naws_access_key_id = testing\n"
        "aws_secret_access_key = testing\n"
    )
    yield fake, url, str(cred)
    srv.shutdown()
    srv.server_close()


def _stream(spark, wire, wd, start="trim_horizon"):
    from pipeline_kinesis_spark.sources.kinesis import KinesisSource

    fake, url, cred = wire
    src = KinesisSource(
        stream_name="events",
        region="us-east-1",
        endpoint_url=url,
        credfile=cred,
        start_position=start,
    )
    return src.read_stream(spark, state_dir=os.path.join(wd, "state"))


def _collecting_query(df, wd, batches):
    from pyspark.sql import functions as F

    return (
        df.withColumn("pid", F.spark_partition_id())
        .writeStream.foreachBatch(
            lambda b, i: batches.append((i, b.collect()))
        )
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )


def _flatten(batches):
    # foreachBatch is at-least-once across restart: a batch planned but
    # not yet written to the commit log is RE-DELIVERED under the same
    # batchId after kill/resume (the engine's real sink is idempotent
    # per batch via rename-publish). Dedup by batchId — and assert the
    # replay carried identical rows, which is exactly the attained-pin
    # guarantee the source makes.
    by_id: dict = {}
    for i, bs in list(batches):
        if i in by_id:
            assert sorted(map(tuple, by_id[i])) == sorted(
                map(tuple, bs)
            ), f"replayed batch {i} differs from first delivery"
        by_id[i] = bs
    return [r for _, bs in sorted(by_id.items()) for r in bs]


def _await_rows(q, batches, n, timeout=240):
    # generous margin: under a full-suite battery the host is saturated
    # and a streaming-query (re)start — planner worker spawn, offset
    # replay — can take minutes; short margins turn load into flakes
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        rows = _flatten(batches)
        if len(rows) >= n:
            return rows
        if not q.isActive:
            raise AssertionError(f"query died: {q.exception()}")
        time.sleep(0.2)
    raise AssertionError(f"timed out at {len(_flatten(batches))}/{n} rows")


def test_e2e_shard_per_partition_and_append(spark, wire, tmp_path):
    """Records polled by executor tasks over real SigV4 HTTP; each
    shard is its own input partition; appends arrive exactly once."""
    fake, _, _ = wire
    wd = str(tmp_path / "q")
    batches: list = []
    q = _collecting_query(_stream(spark, wire, wd), wd, batches)
    try:
        rows = _await_rows(q, batches, 3)
        pids = {}
        for r in rows:
            pids.setdefault(r.shard_id, set()).add(r.pid)
        # one input partition per shard, distinct across shards
        assert all(len(v) == 1 for v in pids.values())
        assert pids["shardId-000"] != pids["shardId-001"]
        fake.append("shardId-001", b"b,6")
        rows = _await_rows(q, batches, 4)
        assert len({r.sequence_number for r in rows}) == 4  # no dups
        assert sorted(r.data for r in rows) == ["a,1", "a,2", "b,5", "b,6"]
    finally:
        q.stop()


def test_e2e_reshard_mid_stream(spark, wire, tmp_path):
    fake, _, _ = wire
    wd = str(tmp_path / "q")
    batches: list = []
    q = _collecting_query(_stream(spark, wire, wd), wd, batches)
    try:
        _await_rows(q, batches, 3)
        fake.reshard("shardId-000", ["shardId-002", "shardId-003"])
        fake.append("shardId-002", b"c,7")
        fake.append("shardId-003", b"d,8")
        rows = _await_rows(q, batches, 5)
        assert len({r.sequence_number for r in rows}) == 5
        assert {r.shard_id for r in rows} >= {"shardId-002", "shardId-003"}
    finally:
        q.stop()


def test_engine_datasource_mode_end_to_end(spark, wire, tmp_path):
    """consume_begin(source='datasource'): the engine's full pipeline —
    one ingest query (spool + parse → archive + dead letter), then the
    continuous view off the spool — fed by executor-parallel Kinesis
    polling over real SigV4 HTTP, with seqnums() surfacing the attained
    positions and a stop/resume cycle staying exactly-once."""
    from pipeline_kinesis_spark.engine import Engine

    fake, url, cred = wire
    fake.millis_behind = 250  # reported per shard by datasource_status
    eng = Engine(
        spark,
        metadata_dir=str(tmp_path / "meta"),
        trigger_interval="300 milliseconds",
    )
    eng.add_endpoint("ep", region="us-east-1", url=url, credfile=cred)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    eng.create_continuous_view(
        "k_counts",
        "SELECT k, count(*) AS n, sum(v) AS total FROM k_in GROUP BY k",
        stream="k_in",
    )
    c = eng.consume_begin(
        "ep", "events", "k_in", fmt="csv", delimiter=",",
        source="datasource",
    )
    assert c.id in eng.datasource_status()
    assert not eng.pump_status()  # no driver pump on this path
    # the ingest query is the datasource's one reader: no landing query
    assert sorted(q.name for q in eng._queries[c.id]) == sorted(
        [f"ingest_k_in_c{c.id}", "k_counts"]
    )
    eng.wait_for_ingest(timeout_s=120)
    assert eng.stream_table("k_in").count() == 3
    # the reader plans a batch every trigger; an empty one archives
    # nothing (no footer-only parquet file per idle trigger)
    archived = sorted(os.listdir(eng.table_dir("k_in")))
    ingest = eng._datasource_ingests()[c.id]
    idle_from = ingest.lastProgress["batchId"]
    deadline = time.monotonic() + 60
    while ingest.lastProgress["batchId"] < idle_from + 4:
        assert time.monotonic() < deadline
        time.sleep(0.1)
    assert sorted(os.listdir(eng.table_dir("k_in"))) == archived
    assert "kds_landing" not in os.listdir(
        tmp_path / "meta" / "checkpoints" / str(c.id)
    )
    assert {r.kind for r in eng.pipeline_query_stats().collect()} == {
        "ingest",
        "view",
    }
    rows = {
        r.k: (r.n, r.total) for r in eng.view_table("k_counts").collect()
    }
    assert rows == {"a": (2, 3), "b": (1, 5)}
    marks = {
        (r.consumer_id, r.shard_id): r.seqnum
        for r in eng.seqnums().collect()
    }
    assert marks[(c.id, "shardId-000")] == "shardId-000-1"
    st = eng.datasource_status()[c.id]
    assert st["alive"] and st["shards"]["shardId-000"] == {
        "seqnum": "shardId-000-1",
        "closed": False,
        "millis_behind": 250,
    }
    # stop, append while down, resume: exactly-once
    assert eng.consume_end("ep", "events", "k_in")
    fake.append("shardId-000", b"a,7")
    eng.consume_begin(
        "ep", "events", "k_in", fmt="csv", delimiter=",",
        source="datasource",
    )
    eng.wait_for_ingest(timeout_s=120)
    seqs = [r.sequence_number for r in eng.stream_table("k_in").collect()]
    assert len(seqs) == len(set(seqs))
    rows = {
        r.k: (r.n, r.total) for r in eng.view_table("k_counts").collect()
    }
    assert rows["a"] == (3, 10)
    eng.consume_end_all()


def test_engine_refuses_old_landing_checkpoint(spark, wire, tmp_path):
    """A datasource consumer whose checkpoints hold the separate landing
    query of the old two-query layout is refused before anything
    starts: spool files it landed but never archived would never reach
    the archive."""
    from pipeline_kinesis_spark.catalog import Consumer
    from pipeline_kinesis_spark.engine import Engine

    _, url, cred = wire
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    eng.add_endpoint("ep", region="us-east-1", url=url, credfile=cred)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    c = eng.catalog.upsert_consumer(
        Consumer(0, "ep", "events", "k_in", source="datasource")
    )
    os.makedirs(tmp_path / "meta" / "checkpoints" / str(c.id) / "kds_landing")
    active = {q.id for q in spark.streams.active}
    try:
        with pytest.raises(ValueError, match="landing query"):
            eng.consume_begin(
                "ep", "events", "k_in", fmt="csv", delimiter=",",
                source="datasource",
            )
        assert {q.id for q in spark.streams.active} == active
        assert not eng._queries and not eng.datasource_status()
    finally:
        eng.consume_end_all()


# A factory every process can rebuild on its own: the streaming planner
# and the executor workers import this module fresh (the suite runs from
# the repo root, which is on their path) and each builds an identical
# canned stream, so no client state has to cross a process boundary.
_CANNED = {
    f"shardId-00{i}": [f"k{i},{j}".encode() for j in range(5)]
    for i in range(3)
}


def canned_factory() -> FakeKinesisClient:
    return FakeKinesisClient(_CANNED, page_size=2)


@pytest.mark.parametrize(
    "endpoint_row",
    [{"region": "us-east-1", "url": "http://127.0.0.1:9"}, {}],
    ids=["closed_port_url", "no_url"],
)
def test_engine_datasource_through_registered_client_factory(
    spark, tmp_path, endpoint_row
):
    """register_kinesis_client_factory: the planner and the executors
    build their client from a "module:attr" factory string, not from
    the endpoint row — the row points at a closed local port, or has
    no url at all, so only the factory reaches the stream. The archive
    holds every record exactly once, and a stop/resume re-ingests
    nothing."""
    from pipeline_kinesis_spark.engine import Engine

    eng = Engine(
        spark,
        metadata_dir=str(tmp_path / "meta"),
        trigger_interval="300 milliseconds",
    )
    eng.add_endpoint("ep", **endpoint_row)
    # the module's import name, not __name__: pytest imports this file
    # under its bare name, which the Python workers cannot resolve
    eng.register_kinesis_client_factory(
        "ep", "tests.test_kinesis_datasource:canned_factory"
    )
    eng.create_stream("k_in", "k STRING, v BIGINT")
    want = sorted(
        f"{s}-{j}" for s, recs in _CANNED.items() for j in range(len(recs))
    )
    try:
        for _ in range(2):
            c = eng.consume_begin(
                "ep", "events", "k_in", fmt="csv", delimiter=",",
                source="datasource",
            )
            assert c.id in eng.datasource_status()
            eng.wait_for_ingest(timeout_s=120)
            seqs = [
                r.sequence_number
                for r in eng.stream_table("k_in").collect()
            ]
            assert sorted(seqs) == want
            assert eng.consume_end("ep", "events", "k_in")
    finally:
        eng.consume_end_all()


def test_remove_endpoint_drops_its_client_factory(spark, tmp_path):
    """remove_endpoint forgets the endpoint's client factory with its
    client: an endpoint re-added under the same name with no url and
    region 'local' is plainly misconfigured again, so consume_begin
    refuses it and starts nothing."""
    from pipeline_kinesis_spark.engine import Engine

    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    eng.add_endpoint("ep")
    eng.register_kinesis_client_factory(
        "ep", "tests.test_kinesis_datasource:canned_factory"
    )
    eng.remove_endpoint("ep")
    eng.add_endpoint("ep", region="local")
    eng.create_stream("k_in", "k STRING, v BIGINT")
    active = {q.id for q in spark.streams.active}
    try:
        with pytest.raises(ValueError, match="no source url"):
            eng.consume_begin("ep", "events", "k_in", fmt="csv", delimiter=",")
        assert {q.id for q in spark.streams.active} == active
        assert not eng._queries and not eng.pump_status()
    finally:
        eng.consume_end_all()


def test_engine_auto_mode_picks_datasource_beyond_max_procs(
    spark, wire, tmp_path
):
    """source='auto' crosses to the executor-parallel path when
    discovery reports more shards than the reference's worker ceiling
    (MAX_PROCS=8)."""
    from pipeline_kinesis_spark.engine import MAX_PROCS, Engine

    fake, url, cred = wire
    for i in range(2, MAX_PROCS + 2):  # 2 existing + 8 more = 10 > 8
        fake.shards[f"shardId-{i:03d}"] = [f"s{i},1".encode()]
        fake.meta[f"shardId-{i:03d}"] = {}
    eng = Engine(
        spark,
        metadata_dir=str(tmp_path / "meta"),
        trigger_interval="300 milliseconds",
    )
    eng.add_endpoint("ep", region="us-east-1", url=url, credfile=cred)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    c = eng.consume_begin(
        "ep", "events", "k_in", fmt="csv", delimiter=",", source="auto"
    )
    try:
        assert c.id in eng.datasource_status()  # crossed the threshold
        eng.wait_for_ingest(timeout_s=120)
        assert eng.stream_table("k_in").count() == 3 + MAX_PROCS
    finally:
        eng.consume_end_all()


def test_engine_datasource_rejects_injected_client_object(
    spark, wire, tmp_path
):
    from pipeline_kinesis_spark.engine import Engine

    fake, url, cred = wire
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    eng.add_endpoint("ep", region="us-east-1", url=url, credfile=cred)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    eng.register_kinesis_client("ep", fake)
    with pytest.raises(ValueError, match="datasource"):
        eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",",
            source="datasource",
        )


def test_e2e_kill_resume_no_loss_no_dup(spark, wire, tmp_path):
    fake, _, _ = wire
    wd = str(tmp_path / "q")
    batches: list = []
    q = _collecting_query(_stream(spark, wire, wd), wd, batches)
    try:
        _await_rows(q, batches, 3)
    finally:
        q.stop()
    # records arriving while the query is down
    fake.append("shardId-000", b"a,3")
    fake.append("shardId-001", b"b,6")
    q2 = _collecting_query(_stream(spark, wire, wd), wd, batches)
    try:
        rows = _await_rows(q2, batches, 5)
        assert sorted(r.data for r in rows) == [
            "a,1", "a,2", "a,3", "b,5", "b,6",
        ]
        assert len({r.sequence_number for r in rows}) == 5
    finally:
        q2.stop()


# ------------------------------------------------------------------- soak


class TestSoakAtScale:
    """VERDICT r07 #3: the datasource contract under its worst case —
    wide shard fan-out, split AND merge mid-stream, forced batch replay
    with records arriving between attempts, kill/resume — no loss, no
    duplication, byte-identical replays."""

    def test_128_shards_split_merge_pinned_replay_full_drain(
        self, tmp_path
    ):
        """Protocol-level 128-shard soak (fast: in-process fake). The
        per-shard batch cap forces multi-batch drains; a forced replay
        of one planned batch after appends must be byte-identical; at
        the end every record — initial, post-reshard, late — is
        consumed exactly once."""
        n = 128
        fake = FakeKinesisClient(
            {
                f"shardId-{i:03d}": [
                    f"r{i}-{j}".encode() for j in range(20)
                ]
                for i in range(n)
            }
        )
        r = _reader(tmp_path, fake, maxRecordsPerShardPerBatch="7")
        seen: list = []
        o, rows = _run_batch(r, r.initialOffset())
        seen += rows
        # mid-stream reshard: SPLIT shard 0, MERGE shards 1+2 — while
        # all three still hold unconsumed records (cap was 7 of 20)
        fake.reshard("shardId-000", ["shardId-200", "shardId-201"])
        fake.merge(
            ["shardId-001", "shardId-002"], "shardId-202"
        )
        fake.append("shardId-200", b"post-split-a")
        fake.append("shardId-201", b"post-split-b")
        fake.append("shardId-202", b"post-merge")
        # forced replay: plan one batch, read it, let the stream grow,
        # read the SAME (start, end) again — attained pins the reach
        o2 = r.latestOffset()
        first = [t for p in r.partitions(o, o2) for t in r.read(p)]
        for i in range(3, n):
            fake.append(f"shardId-{i:03d}", b"late")
        replay = [t for p in r.partitions(o, o2) for t in r.read(p)]
        assert replay == first  # byte-identical under growth
        r.commit(o2)
        seen += first
        o = o2
        for _ in range(20):
            o, rows = _run_batch(r, o)
            seen += rows
        payloads = sorted(t[0] for t in seen)
        expected = sorted(
            [f"r{i}-{j}" for i in range(n) for j in range(20)]
            + ["post-split-a", "post-split-b", "post-merge"]
            + ["late"] * (n - 3)
        )
        assert payloads == expected  # nothing lost
        seqs = [t[1] for t in seen]
        assert len(seqs) == len(set(seqs))  # nothing duplicated
        # reshard bookkeeping: every closed shard observed drained
        att = _read_attained(str(tmp_path / "state"))
        assert all(
            att[s]["closed"]
            for s in ("shardId-000", "shardId-001", "shardId-002")
        )

    def test_e2e_64_shards_split_merge_kill_resume(
        self, spark, wire, tmp_path
    ):
        """Spark e2e at 64 shards over real SigV4 HTTP: split + merge
        mid-stream, then kill/resume with records arriving while down
        — exactly-once end to end."""
        fake, _, _ = wire
        for i in range(2, 64):
            fake.shards[f"shardId-{i:03d}"] = [
                f"s{i},{j}".encode() for j in range(3)
            ]
            fake.meta[f"shardId-{i:03d}"] = {}
        wd = str(tmp_path / "q")
        batches: list = []
        total = 3 + 62 * 3  # wire fixture's 3 + the wide fan-out
        q = _collecting_query(_stream(spark, wire, wd), wd, batches)
        try:
            _await_rows(q, batches, total)
            fake.reshard("shardId-003", ["shardId-100", "shardId-101"])
            fake.merge(
                ["shardId-004", "shardId-005"], "shardId-102"
            )
            fake.append("shardId-100", b"c,1")
            fake.append("shardId-101", b"c,2")
            fake.append("shardId-102", b"c,3")
            _await_rows(q, batches, total + 3)
        finally:
            q.stop()
        # records arriving while the query is down
        fake.append("shardId-100", b"d,1")
        fake.append("shardId-102", b"d,2")
        q2 = _collecting_query(_stream(spark, wire, wd), wd, batches)
        try:
            rows = _await_rows(q2, batches, total + 5)
            seqs = [r.sequence_number for r in rows]
            assert len(seqs) == len(set(seqs))
            expected = sorted(
                ["a,1", "a,2", "b,5"]
                + [f"s{i},{j}" for i in range(2, 64) for j in range(3)]
                + ["c,1", "c,2", "c,3", "d,1", "d,2"]
            )
            assert sorted(r.data for r in rows) == expected
        finally:
            q2.stop()


class TestShardGroupPartitions:
    """maxPartitions > 0: shards pack round-robin into group
    partitions so a micro-batch is one scheduling wave even when the
    live shard count exceeds the cluster's task slots. Per-shard
    semantics (attained files, replay pins, reshard gating) must be
    identical to the one-partition-per-shard default."""

    def test_grouping_covers_every_shard_once(self, tmp_path):
        from pipeline_kinesis_spark.sources.kinesis_datasource import (
            KinesisShardGroupPartition,
        )

        fake = FakeKinesisClient(
            {
                f"shardId-{i:03d}": [f"r{i}-{j}".encode() for j in range(3)]
                for i in range(10)
            }
        )
        r = _reader(tmp_path, fake, maxPartitions="4")
        end = r.latestOffset()
        parts = r.partitions(r.initialOffset(), end)
        assert len(parts) == 4
        assert all(
            isinstance(p, KinesisShardGroupPartition) for p in parts
        )
        covered = [s[0] for p in parts for s in p.shards]
        assert sorted(covered) == [f"shardId-{i:03d}" for i in range(10)]
        rows = [t for p in parts for t in r.read(p)]
        assert len(rows) == 30
        assert {t[4] for t in rows} == set(covered)
        r.commit(end)
        # attained bookkeeping is still per shard
        att = _read_attained(str(tmp_path / "state"))
        assert set(att) == set(covered)

    def test_grouping_inactive_at_or_below_cap(self, tmp_path):
        fake = FakeKinesisClient(
            {f"shardId-{i:03d}": [b"x"] for i in range(4)}
        )
        r = _reader(tmp_path, fake, maxPartitions="8")
        parts = r.partitions(r.initialOffset(), r.latestOffset())
        assert len(parts) == 4
        assert all(len(p.shards) == 1 for p in parts)

    def test_replay_determinism_through_groups(self, tmp_path):
        """The attained (epoch, start) replay pin lives inside the
        per-shard loop — a replayed grouped batch re-emits exactly the
        first attempt's records even after the stream grew."""
        fake = FakeKinesisClient(
            {f"shardId-{i:03d}": [b"a", b"b"] for i in range(6)}
        )
        r = _reader(tmp_path, fake, maxPartitions="2")
        o1, rows = _run_batch(r, r.initialOffset())
        assert len(rows) == 12
        for i in range(6):
            fake.append(f"shardId-{i:03d}", b"late")
        o2 = r.latestOffset()
        first = [t for p in r.partitions(o1, o2) for t in r.read(p)]
        replay = [t for p in r.partitions(o1, o2) for t in r.read(p)]
        assert sorted(t[0] for t in first) == ["late"] * 6
        assert sorted((t[4], t[0]) for t in replay) == sorted(
            (t[4], t[0]) for t in first
        )

    def test_grouping_stable_assignment_across_batches(self, tmp_path):
        """While the live shard set is unchanged, a shard lands in the
        same group index every batch (sorted + round-robin), keeping
        its cached NextShardIterator warm in the worker that polls
        it."""
        fake = FakeKinesisClient(
            {f"shardId-{i:03d}": [b"x"] for i in range(9)}
        )
        r = _reader(tmp_path, fake, maxPartitions="3")
        o1, _ = _run_batch(r, r.initialOffset())
        a = [tuple(s[0] for s in p.shards) for p in r.partitions(o1, r.latestOffset())]
        b = [tuple(s[0] for s in p.shards) for p in r.partitions(o1, r.latestOffset())]
        assert a == b

    def test_group_interleaves_pacing_across_shards(self, tmp_path):
        """A packed group's catch-up must OVERLAP its shards' pacing
        windows, not stack them: 4 shards x 5 paced GetRecords calls
        at 5 req/s/shard is >= 3.2 s if drained shard-by-shard (4
        inter-call gaps x 0.2 s x 4 shards) but ~0.8 s interleaved
        (the gaps run concurrently; the rate limit is PER SHARD).
        Content and per-shard order must be exactly the serial
        drain's."""
        from pipeline_kinesis_spark.sources.kinesis_datasource import (
            KinesisShardGroupPartition,
        )

        n_shards, per_shard = 4, 500
        fake = FakeKinesisClient(
            {
                f"shardId-{i:03d}": [
                    f"r{i}-{j:04d}".encode() for j in range(per_shard)
                ]
                for i in range(n_shards)
            },
            page_size=100,  # 5 calls per shard
        )
        r = _reader(
            tmp_path,
            fake,
            maxPartitions=str(n_shards // 4),
            maxFetchRatePerShard="5",  # 0.2 s start-to-start per shard
        )
        end = r.latestOffset()
        parts = r.partitions(r.initialOffset(), end)
        assert len(parts) == 1
        assert isinstance(parts[0], KinesisShardGroupPartition)
        t0 = time.monotonic()
        rows = list(r.read(parts[0]))
        wall = time.monotonic() - t0
        # generous bound: interleaved ~0.8 s, serial floor 3.2 s
        assert wall < 2.0, f"group drain took {wall:.2f}s — serialized?"
        assert len(rows) == n_shards * per_shard
        by_shard: dict[str, list[str]] = {}
        for t in rows:
            by_shard.setdefault(t[4], []).append(t[0])
        assert {
            s: v for s, v in by_shard.items()
        } == {
            f"shardId-{i:03d}": [
                f"r{i}-{j:04d}" for j in range(per_shard)
            ]
            for i in range(n_shards)
        }
