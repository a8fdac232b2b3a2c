"""Kinesis source adapter — the production counterpart of FileReplaySource.

Maps the reference's endpoint/consumer surface (pipeline_kinesis--0.9.0.sql:
4-25; kinesis_add_endpoint args region/credfile/url, pipeline_kinesis.c:
120-188) onto the driver-side consumer pump (KinesisShardPoller →
KinesisReplayBridge → KinesisPump). The per-shard protocol itself —
iterator resolution, GetRecords with NextShardIterator follow, throttle
and expired-iterator handling — is the ShardCursor in
sources/kinesis_datasource.py, shared with the executor-parallel
datasource path, and so is the one record conversion (record_row): the
poller returns RECORD_SCHEMA rows and the bridge spools them as they
are. This module adds only the pump's policy: discovery, parent gating,
crc32 shard ownership (one loop for any worker count), commit-after-
spool checkpoints and never-give-up throttle sleeps. make_boto3_client
builds real clients, and test_kinesis_wire.py drives genuine
SigV4-signed HTTP through botocore against an in-process fake Kinesis
REST endpoint (x-amz-json-1.1); against real AWS the same code runs
unchanged.

Reference flow parity:
- shard discovery (DescribeStream, kinesis_consumer.cpp:200-234)
  → describe_all_shards, per pump round and datasource plan
- iterator resolution (GetShardIterator, kinesis_consumer.cpp:258-325)
  → ShardCursor.acquire, resumed per shard from checkpoints
- GetRecords pacing/backoff (kinesis_consumer.cpp:364-434)
  → ShardCursor.fetch; pacing by KinesisPump / the reader's ready_at
- record accessors (kinesis_consumer.cpp:473-501) → record_row
"""

from __future__ import annotations

import threading
import time
import zlib
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# the protocol core lives in kinesis_datasource.py (which must be
# self-contained for planner/executor pickling); re-exported here for
# the pump path and external callers
from pipeline_kinesis_spark.sources.kinesis_datasource import (  # noqa: F401
    BACKOFF_MAX_S,
    RecordRow,
    ShardCursor,
    aws_error_code,
    describe_all_shards,
    iterator_type,
    make_boto3_client,
    record_row,
    shard_parents,
)


@dataclass
class KinesisSource:
    """Config for one Kinesis stream consumer (endpoints row analog)."""

    stream_name: str
    region: str
    endpoint_url: str | None = None  # LocalStack/VPC endpoints
    credfile: str | None = None
    start_position: str = "latest"
    max_fetch_rate_per_shard: float = 4.0  # reqs/s — reference pacing
    batch_size: int = 1000  # GetRecords limit — reference batchsize

    def __post_init__(self) -> None:
        if not self.stream_name:
            raise ValueError("stream_name is required")
        if not self.region:
            raise ValueError("region is required")
        iterator_type(self.start_position)  # validate eagerly
        if self.batch_size < 1 or self.batch_size > 10_000:
            raise ValueError("batch_size must be in [1, 10000]")  # AWS limit

    def poller(
        self,
        client,
        checkpoints: dict[str, str] | None = None,
        sleep=time.sleep,
    ) -> "KinesisShardPoller":
        """Bind this source config to a Kinesis client (boto3 in
        production, an in-process fake in tests) and return the
        consumer-protocol engine."""
        return KinesisShardPoller(
            client, self, checkpoints=checkpoints, sleep=sleep
        )

    def read_stream(
        self,
        spark: SparkSession,
        state_dir: str,
        client_factory: str | None = None,
        max_partitions: int | None = None,
    ) -> DataFrame:
        """Executor-parallel streaming read via the Python DataSource
        API (sources/kinesis_datasource.py): one input partition per
        live shard, GetRecords polled ON EXECUTORS — ingest bandwidth
        scales with the cluster instead of funneling through the
        driver (the managed-pump path). ``state_dir`` holds the
        attained-position metadata; on a cluster it must be shared
        storage, paired 1:1 with the query's checkpointLocation."""
        from pipeline_kinesis_spark.sources import kinesis_datasource

        kinesis_datasource.register(spark)
        FORMAT_NAME = kinesis_datasource.FORMAT_NAME
        reader = (
            spark.readStream.format(FORMAT_NAME)
            .option("streamName", self.stream_name)
            .option("stateDir", state_dir)
            .option("region", self.region)
            # validated by iterator_type in __post_init__; the reader
            # parses it with the same function
            .option("startingPosition", self.start_position)
            .option("maxRecordsPerFetch", str(self.batch_size))
            .option(
                "maxFetchRatePerShard",
                str(self.max_fetch_rate_per_shard),
            )
        )
        if max_partitions is not None:
            # cap tasks per micro-batch: beyond the cluster's task
            # slots, shards pack round-robin into group partitions
            # (one scheduling wave per trigger instead of several)
            reader = reader.option("maxPartitions", str(max_partitions))
        if self.endpoint_url:
            reader = reader.option("endpointUrl", self.endpoint_url)
        if self.credfile:
            reader = reader.option("credfile", self.credfile)
        if client_factory:
            reader = reader.option("clientFactory", client_factory)
        return reader.load()


class KinesisShardPoller:
    """Drives the Kinesis consumer protocol over an injected client: the
    driver-side loop over one ShardCursor per shard.

    The cursor owns the protocol (iterator resolution: a known position →
    AFTER_SEQUENCE_NUMBER, a reshard child → TRIM_HORIZON, else the
    source's start_position; NextShardIterator follow; throttle and
    expired-iterator classification; closed-shard detection;
    MillisBehindLatest). The poller adds the pump's policy:
    - shard discovery with DescribeStream pagination (HasMoreShards),
      re-run once per reshard so child shards join mid-stream;
    - parent gating: a child is not polled until every parent closed;
    - ProvisionedThroughputExceeded → sleep the linear 1-5 s backoff
      (reset on a successful fetch) and never give up;
    - crc32 shard→worker ownership and commit-after-spool checkpoints;
    - MillisBehindLatest per live shard via lag().
    """

    def __init__(
        self,
        client,
        source: KinesisSource,
        checkpoints: dict[str, str] | None = None,
        sleep=time.sleep,
    ) -> None:
        self.client = client
        self.source = source
        self._start = iterator_type(source.start_position)
        # COMMITTED positions only: a shard's entry advances when its
        # records have been handed downstream (bridge spool write →
        # commit()), never merely on poll — persisting a polled-but-
        # unspooled position would let a crash skip those records
        # forever. A cursor's last_seq tracks the in-memory polled
        # position (seeded from here when the shard is registered).
        self.checkpoints = dict(checkpoints or {})
        self.sleep = sleep
        self.shards: dict[str, ShardCursor] = {}
        # shard id → parent shard ids (reshard lineage, for gating)
        self._parents: dict[str, tuple[str, ...]] = {}
        # closed shards whose post-close rediscovery already ran —
        # without it every later round would DescribeStream again (AWS
        # caps that call at ~10/s account-wide)
        self._swept: set[str] = set()
        # guards shard DISCOVERY; each shard's polling state is owned
        # by exactly one worker (stable crc32 assignment), so per-shard
        # mutation needs no lock — the reference's shard→bgworker
        # partitioning (pipeline_kinesis.c:774-823)
        self._disc_lock = threading.Lock()
        # guards the checkpoint map against concurrent commit/snapshot
        # key insertion across workers
        self._ck_lock = threading.Lock()

    # -- discovery ---------------------------------------------------------

    def refresh_shards(self) -> list[str]:
        """Register newly discovered shards (split/merge children appear
        here mid-stream — no restart needed, improves the reference's
        restart-to-reshard). Returns the new shard ids."""
        new = []
        for sh in describe_all_shards(self.client, self.source.stream_name):
            sid = sh["ShardId"]
            if sid in self.shards:
                continue
            parents = shard_parents(sh)
            with self._ck_lock:
                committed = self.checkpoints.get(sid)
            # lineage before the cursor: a worker that sees the shard
            # must also see its parents
            self._parents[sid] = parents
            self.shards[sid] = ShardCursor(
                self.source.stream_name,
                sid,
                from_reshard=bool(parents),
                last_seq=committed,
            )
            new.append(sid)
        return new

    # -- polling -----------------------------------------------------------

    def _parent_pending(self, c: ShardCursor) -> bool:
        """A child shard must not be consumed until every parent has
        drained (ordering across a reshard boundary)."""
        return any(
            p in self.shards and not self.shards[p].closed
            for p in self._parents.get(c.shard_id, ())
        )

    def poll_shard(self, c: ShardCursor) -> list[RecordRow]:
        """One GetRecords call for one shard; a throttled shard sleeps
        its backoff (capped at BACKOFF_MAX_S) and is retried next
        round, forever."""
        if c.closed or self._parent_pending(c):
            return []
        recs, fault = c.fetch(self.client, self._start, self.source.batch_size)
        if fault == "throttle":
            self.sleep(min(c.backoff_s, BACKOFF_MAX_S))
        return [record_row(rec, c.shard_id) for rec in recs]

    @staticmethod
    def shard_owner(shard_id: str, workers: int) -> int:
        """Stable shard→worker assignment (A4: the reference partitions
        shards across at most MAX_PROCS bgworkers). crc32, not hash():
        deterministic across processes so a restarted pump re-forms the
        same partitions."""
        return zlib.crc32(shard_id.encode()) % workers

    def step(self, owner: int = 0, workers: int = 1) -> list[RecordRow]:
        """One polling round of worker ``owner`` of ``workers``: polls
        ONLY the shards shard_owner assigns it (the default single
        worker owns every shard) — concurrent workers each drive a
        disjoint subset, sharing discovery and the checkpoint map.
        Rediscovers shards ONCE per reshard (a newly closed shard
        triggers one DescribeStream sweep, then is marked — AWS caps
        DescribeStream at ~10/s account-wide, so a per-round refresh
        would throttle forever after the first reshard). Discovery
        throttling is absorbed like GetRecords throttling: skip the
        sweep this round, retry next."""
        if not self.shards:
            with self._disc_lock:
                if not self.shards:
                    self.refresh_shards()
        out = []
        for sid, c in list(self.shards.items()):
            if self.shard_owner(sid, workers) != owner:
                continue
            out.extend(self.poll_shard(c))
        pending = [
            sid
            for sid, c in list(self.shards.items())
            if c.closed and sid not in self._swept
        ]
        if pending:
            with self._disc_lock:
                pending = [sid for sid in pending if sid not in self._swept]
                if pending:
                    try:
                        self.refresh_shards()
                    except Exception as exc:  # noqa: BLE001 — classify
                        code = aws_error_code(exc)
                        if not (
                            "LimitExceeded" in code
                            or "ProvisionedThroughputExceeded" in code
                        ):
                            raise
                        # throttled discovery: leave the shards unswept
                        # so a later round retries the sweep
                    else:
                        self._swept.update(pending)
        return out

    def commit(self, recs: list[RecordRow]) -> None:
        """Mark records as handed downstream — only now do their
        positions enter the durable checkpoint map (the spool write
        happened; a restart resuming AFTER these seqnums loses
        nothing)."""
        if not recs:
            return
        with self._ck_lock:
            for r in recs:
                self.checkpoints[r.shard_id] = r.sequence_number

    def snapshot_checkpoints(self) -> dict[str, str]:
        """Consistent copy of the committed positions (safe against
        concurrent worker commits)."""
        with self._ck_lock:
            return dict(self.checkpoints)

    def lag(self) -> dict[str, int | None]:
        """MillisBehindLatest per live shard (lag-metrics feed,
        consumer_status analog)."""
        return {
            sid: c.millis_behind
            for sid, c in list(self.shards.items())
            if not c.closed
        }


class KinesisReplayBridge:
    """Glue from the consumer-protocol engine to the ingestion path: each
    pump() drains one polling round into an atomic record file under the
    stream's endpoint directory, which the standard FileReplaySource →
    parse → archive → continuous-view pipeline then consumes. Sequence
    numbers, shard ids, partition keys and arrival timestamps ride
    through, so downstream dedup/checkpoint semantics are identical to
    file-fed streams — this runs the reference's ENTIRE flow (wire
    protocol included) against a boto3 client in production or the
    canned fake in tests."""

    def __init__(self, poller: KinesisShardPoller, stream_dir: str) -> None:
        self.poller = poller
        self.stream_dir = stream_dir

    def pump(self, owner: int = 0, workers: int = 1) -> int:
        """One poll round of worker ``owner`` of ``workers`` → one record
        file (if any records). Returns the number of records landed.
        Batch files ALWAYS carry collision-free unique names (never the
        count-based default): concurrent workers append to one spool
        dir, and spool retention (Engine.reap_spool) deletes old files —
        a reused name would be skipped as already-seen by the file
        source's offset log."""
        import uuid as _uuid

        from pipeline_kinesis_spark.sources.file_replay import (
            write_record_file,
        )

        rows = self.poller.step(owner, workers)
        if not rows:
            return 0
        file_name = f"batch-w{owner}-{_uuid.uuid4().hex[:12]}.jsonl"
        write_record_file(self.stream_dir, rows, file_name=file_name)
        # records are durably spooled — ONLY now may their positions
        # enter the checkpoint map a concurrent worker might persist
        # (committing at poll time would let a crash between poll and
        # spool skip records forever)
        self.poller.commit(rows)
        return len(rows)


class KinesisPump(threading.Thread):
    """Unattended polling loop driving a KinesisReplayBridge — the
    scheduling seam the reference fills with consume_threads spread
    over at most MAX_PROCS bgworkers (kinesis_consumer.cpp:364-434,
    spawned at kinesis_consumer.cpp:328-332; worker partitioning
    pipeline_kinesis.c:774-823). ``workers`` loops each poll a
    disjoint stable subset of the shards (crc32 assignment) through
    ``bridge.pump(owner, workers)``, pacing their own rounds so each
    shard sees at most ``rate_per_shard`` GetRecords/s — the
    reference's 4 req/s pacing (kinesis_consumer.cpp:415-421). Worker
    0 runs in this thread (``run()`` called directly is synchronous);
    workers 1..n-1 run on inner threads. Throttle backoff sleeps
    happen inside the poller on top of this pacing. One worker (the
    default) owns every shard and is plenty for a handful of them; the
    reference's own ceiling is 8 workers, and a deployment beyond that
    scale runs the executor-parallel datasource path
    (KinesisSource.read_stream), where executors fetch in parallel.

    ``on_round(n_records)`` runs after every round that landed records
    — the engine persists poller checkpoints there (reference
    save_consumer_state). A hard error (from the client or the
    persistence hook) in ANY worker halts the whole pump and is
    surfaced on ``.error`` / pump_status; transient throttle/expiry is
    already absorbed by the poller and never reaches here."""

    def __init__(
        self,
        bridge: KinesisReplayBridge,
        rate_per_shard: float = 4.0,
        on_round=None,
        name: str | None = None,
        clock=time.monotonic,
        wait=None,
        workers: int = 1,
    ) -> None:
        super().__init__(daemon=True, name=name or "kinesis-pump")
        self.bridge = bridge
        self.interval_s = 1.0 / rate_per_shard if rate_per_shard > 0 else 0.0
        self.on_round = on_round
        self.workers = max(1, int(workers))
        self.error: Exception | None = None
        self.rounds = 0
        self.records = 0
        self._clock = clock
        self._halt = threading.Event()
        self._ctr_lock = threading.Lock()
        # injectable for tests; default paces on the stop event so
        # stop() interrupts a sleep immediately
        self._wait = wait or self._halt.wait

    def run(self) -> None:
        threads = [
            threading.Thread(
                target=self._loop,
                args=(i,),
                daemon=True,
                name=f"{self.name}-w{i}",
            )
            for i in range(1, self.workers)
        ]
        for t in threads:
            t.start()
        self._loop(0)
        for t in threads:
            t.join()

    def _loop(self, owner: int) -> None:
        while not self._halt.is_set():
            t0 = self._clock()
            try:
                n = self.bridge.pump(owner, self.workers)
                if n and self.on_round is not None:
                    self.on_round(n)
            except Exception as exc:  # noqa: BLE001 — surfaced via .error
                self.error = exc
                self._halt.set()  # one worker's hard error halts all
                return
            with self._ctr_lock:
                self.rounds += 1
                self.records += n
            delay = self.interval_s - (self._clock() - t0)
            if delay > 0:
                self._wait(delay)

    def stop(self, timeout: float = 30.0) -> None:
        self._halt.set()
        self.join(timeout)
