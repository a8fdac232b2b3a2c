"""Executor-parallel Kinesis source on PySpark's Python DataSource API.

The managed pump (sources/kinesis.py) is the direct analog of the
reference's <=8 driver-side bgworkers (pipeline_kinesis.c:54,774-823) and
is fine at reference scale — but every ingested byte crosses the driver.
This module removes that ceiling: a `pyspark.sql.datasource.DataSource`
whose stream reader plans ONE INPUT PARTITION PER LIVE SHARD (the
reference's shard list, kinesis_consumer.cpp:200-234; with
``maxPartitions`` below the shard count, shards pack round-robin into
that many groups) and whose per-partition `read()` runs the GetRecords consumer protocol
(kinesis_consumer.cpp:364-434 parity: iterator resolution, pacing,
NextShardIterator follow, closed-shard drain) ON EXECUTORS — GetRecords
responses land in executor Python workers and flow straight into the
micro-batch, never through the driver. Ingest bandwidth then scales with
the cluster: 1000 shards on a 1000-executor cluster poll concurrently.

This module also holds the consumer protocol core both ingest paths
share (it must stay self-contained, so the pump imports from here, not
the other way round): ``ShardCursor`` (iterator resolution and one
GetRecords step), ``record_row`` (the one GetRecords record →
RECORD_SCHEMA row conversion), ``iterator_type`` (the start-position
parser), ``aws_error_code``, ``describe_all_shards``, ``shard_parents``
(reshard lineage) and the client builders. The reader's
``_ShardCursor`` adds only its per-batch policy on top.

Offset & exactly-once model
---------------------------
Kinesis, unlike Kafka, has no "tail offset" API: the only way to learn a
shard's latest sequence number is to read records. Ends can therefore
not be pinned at planning time. The design used here:

- The Spark offset WAL stores, per batch, ``{"epoch": n, "shards":
  {shard_id: last_consumed_seqnum}}`` — the COMMITTED start positions of
  that batch (frozen at planning time, so a replayed batch always starts
  from the same seqnums).
- Each executor task polls from its shard's start seqnum up to
  ``maxRecordsPerShardPerBatch`` (or until caught up / shard closed) and
  atomically records the position it reached in a tiny per-shard
  "attained" file under ``stateDir`` (metadata only — a few bytes, not
  data).
- ``latestOffset()`` (driver) folds the attained files into the next
  batch's offset dict. The batch END is not known at planning time, but
  replays are still DETERMINISTIC: the attained file records which
  (epoch, start) produced its reach, and a replayed attempt of the same
  batch treats that reach as a hard end bound — it emits exactly the
  records the first attempt emitted, never the longer tail the stream
  grew in between. Sinks that skip an already-committed batch id and
  sinks that rewrite it are therefore BOTH correct, and the pipeline is
  exactly-once end to end — the upgrade over the reference's
  at-least-once wire + transactional landing
  (pipeline_kinesis.c:543-579,742).
- ``stateDir`` pairs 1:1 with the query's checkpointLocation and, on a
  real cluster, must live on the same shared storage (it is written by
  executors and read by the driver). Wipe both together or neither.

Resharding: a task that drains a closed shard (GetRecords returns no
NextShardIterator) marks it closed in its attained file; planning skips
fully-drained closed shards and gates child shards until every parent is
drained (records between parent end and child start are never skipped —
children start at TRIM_HORIZON, kinesis_consumer.cpp:258-325 parity).

Sticky latest: a shard started at LATEST that reads nothing persists its
shard iterator (valid ~5 min) in the attained file; the next batch
resumes from it, so records arriving between polls are not skipped. If
the iterator expires during an idle gap, LATEST is re-acquired (same
semantics as a reference consumer restart).
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
from collections import namedtuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from pipeline_kinesis_spark.sources.records import RECORD_SCHEMA

FORMAT_NAME = "pipeline_kinesis"

# SELF-CONTAINMENT CONTRACT: Spark runs the driver-side reader methods
# (initialOffset/latestOffset/partitions/commit) in a separate Python
# planner process, and read() in executor workers — neither of which
# necessarily has this repo on sys.path. register() therefore tells
# cloudpickle to serialize this MODULE by value (the class ships inside
# the pickle, like a --py-files wheel but self-carried), which works
# only because nothing executed after planning imports the package:
# every helper the reader calls is defined in THIS module, and only
# stdlib/boto3/pyspark are imported at call time. Do not add package
# imports to reader methods or their helpers.

# GetRecords pacing within one read() call — reference 4 req/s/shard
# (kinesis_consumer.cpp:415-421). Across batches the trigger interval
# paces; within a batch consecutive calls sleep this floor.
DEFAULT_RATE_PER_SHARD = 4.0
DEFAULT_LIMIT = 1000  # reference batchsize default
DEFAULT_MAX_PER_SHARD_PER_BATCH = 10_000


def _load_factory(spec: str):
    """'pkg.mod:attr' → the callable it names (test seam: lets suites
    swap boto3 for an in-process fake client without any network)."""
    mod, _, attr = spec.partition(":")
    return getattr(importlib.import_module(mod), attr)


def make_boto3_client(
    region: str,
    credfile: str | None = None,
    endpoint_url: str | None = None,
):
    """boto3 Kinesis client for one endpoint — the analog of the
    reference's per-endpoint AWS client construction
    (pipeline_kinesis.c:120-188: region/credfile/url → client). The
    import guard is for minimal deployments without boto3, where an
    injected client (Engine.register_kinesis_client) is the
    alternative."""
    try:
        import boto3
        import botocore.session
    except ImportError as exc:
        raise NotImplementedError(
            "boto3 is not installed; register an injected client via "
            "Engine.register_kinesis_client(endpoint, client) or install "
            "boto3 for the real AWS wire"
        ) from exc
    core = botocore.session.Session()
    if credfile:
        # reference credfile: shared-credentials-file style, scoped to
        # THIS client's session — the process environment is never
        # written, so two endpoints with different credfiles (or a
        # host-level AWS_SHARED_CREDENTIALS_FILE) cannot leak into
        # each other's signing
        core.set_config_variable("credentials_file", credfile)
    return boto3.session.Session(botocore_session=core).client(
        "kinesis", region_name=region, endpoint_url=endpoint_url or None
    )


def build_client(
    factory: str | None,
    region: str,
    credfile: str | None = None,
    endpoint_url: str | None = None,
):
    """A Kinesis client for one endpoint: the registered "module:attr"
    factory's product when there is one, else boto3. Uncached — the
    reader caches per process (_make_client); the engine builds one
    per consume_begin."""
    if factory:
        return _load_factory(factory)()
    return make_boto3_client(region, credfile, endpoint_url)


# per-process client cache: the planner process calls partitions()
# every trigger and executor workers are reused across tasks — a fresh
# boto3 client each time would pay client construction + a TLS
# handshake per micro-batch per shard. Keyed by the full connection
# config; boto3 clients are thread-safe for our call set.
_CLIENT_CACHE: dict[tuple, object] = {}


def _make_client(opts: dict):
    """build_client from reader options, cached per process and config
    — clients are never stored on the pickled reader."""
    key = (
        opts.get("clientfactory"),
        opts.get("region"),
        opts.get("endpointurl"),
        opts.get("credfile"),
    )
    client = _CLIENT_CACHE.get(key)
    if client is None:
        client = _CLIENT_CACHE[key] = build_client(
            opts.get("clientfactory"),
            opts.get("region", "us-east-1"),
            opts.get("credfile"),
            opts.get("endpointurl"),
        )
    return client


def describe_all_shards(client, stream_name: str) -> list[dict]:
    """DescribeStream following HasMoreShards pagination
    (kinesis_consumer.cpp:200-234) — canonical copy; the poller path
    (sources/kinesis.py) reuses it."""
    shards: list[dict] = []
    start_id = None
    while True:
        kwargs = {"StreamName": stream_name}
        if start_id is not None:
            kwargs["ExclusiveStartShardId"] = start_id
        resp = client.describe_stream(**kwargs)
        desc = resp["StreamDescription"]
        shards.extend(desc["Shards"])
        if not desc.get("HasMoreShards"):
            return shards
        start_id = shards[-1]["ShardId"]


def shard_parents(shard: dict) -> tuple[str, ...]:
    """A DescribeStream shard's reshard lineage: its ParentShardId and,
    for a merge child, its AdjacentParentShardId."""
    parents = (shard.get("ParentShardId"), shard.get("AdjacentParentShardId"))
    return tuple(p for p in parents if p)


# one RECORD_SCHEMA row; a plain tuple to Spark, so the reader yields it
# as is, while the pump reads its fields by name
RecordRow = namedtuple("RecordRow", RECORD_SCHEMA.fieldNames())


def record_row(rec: dict, shard_id: str) -> RecordRow:
    """A GetRecords record of ``shard_id`` → its RECORD_SCHEMA row
    (kinesis_consumer.cpp:473-501 accessors): data decoded as utf-8
    with replacement, seqnum, partition key, arrival as the client
    returns it (boto3: a tz-aware datetime) and shard id. The pump
    spools these rows, the reader yields them."""
    data = rec["Data"]
    if isinstance(data, (bytes, bytearray)):
        data = data.decode("utf-8", "replace")
    return RecordRow(
        data,
        rec["SequenceNumber"],
        rec.get("PartitionKey"),
        rec.get("ApproximateArrivalTimestamp"),
        shard_id,
    )


_ITERATOR_TYPES = {
    "trim_horizon": "TRIM_HORIZON",
    "latest": "LATEST",
}


def iterator_type(
    start_position: str, what: str = "start_position"
) -> tuple[str, str | None]:
    """start_position → (ShardIteratorType, seqnum or None) — the analog
    of parse_seqnum/format_seqnum (pipeline_kinesis.c:587-605). The one
    parser of trim_horizon | latest | after_sequence_number:X (type name
    case-insensitive); ``what`` names the setting in the error."""
    kind, sep, seq = start_position.partition(":")
    kind = kind.lower()
    if not sep and kind in _ITERATOR_TYPES:
        return _ITERATOR_TYPES[kind], None
    if sep and kind == "after_sequence_number":
        return "AFTER_SEQUENCE_NUMBER", seq
    raise ValueError(f"unknown {what} {start_position!r}")


def aws_error_code(exc: Exception) -> str:
    """AWS error code of an exception: botocore ClientError carries it
    in .response, fakes in .code or the type name."""
    name = getattr(exc, "code", None) or type(exc).__name__
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        name = resp.get("Error", {}).get("Code") or name
    return name


# linear throttle backoff: 1 s, 2 s, ... capped at 5 s, reset on
# success — kinesis_consumer.cpp:395-430 parity
BACKOFF_STEP_S = 1.0
BACKOFF_MAX_S = 5.0


class ShardCursor:
    """One shard's place in the Kinesis consumer protocol
    (kinesis_consumer.cpp:258-434) — the single implementation both
    ingest paths drive: the driver pump (KinesisShardPoller in
    sources/kinesis.py) and the executor reader (_ShardCursor below).
    It holds only protocol state; pacing, giving up, shard ownership
    and checkpointing are the caller's policy. Any boto3-shaped client
    drives it (get_shard_iterator / get_records), so the protocol — not
    the network — is the unit under test."""

    def __init__(
        self,
        stream: str,
        shard_id: str,
        from_reshard: bool = False,
        last_seq: str | None = None,
        iterator: str | None = None,
    ) -> None:
        self.stream = stream
        self.shard_id = shard_id
        self.from_reshard = from_reshard  # child shard of a reshard
        self.last_seq = last_seq  # last consumed (or resumed-from) seqnum
        self.iterator = iterator
        self.closed = False  # drained after a reshard
        # throttle ramp in BACKOFF_STEP_S steps, UNcapped: the caller
        # applies BACKOFF_MAX_S (the pump sleeps at most that long; the
        # executor reader gives up past it)
        self.backoff_s = 0.0
        self.millis_behind: int | None = None

    def acquire(self, client, start: tuple[str, str | None]) -> None:
        """GetShardIterator (kinesis_consumer.cpp:258-325): a known
        position always wins (resume AFTER it); a reshard child starts
        at TRIM_HORIZON whatever the configured start (records between
        parent end and child start must not be skipped); otherwise
        ``start`` — iterator_type() of the configured position."""
        if self.last_seq is not None:
            it_type, seq = "AFTER_SEQUENCE_NUMBER", self.last_seq
        elif self.from_reshard:
            it_type, seq = "TRIM_HORIZON", None
        else:
            it_type, seq = start
        kwargs = {
            "StreamName": self.stream,
            "ShardId": self.shard_id,
            "ShardIteratorType": it_type,
        }
        if seq is not None:
            kwargs["StartingSequenceNumber"] = seq
        self.iterator = client.get_shard_iterator(**kwargs)[
            "ShardIterator"
        ]

    def fetch(
        self, client, start: tuple[str, str | None], limit: int
    ) -> tuple[list[dict], str | None]:
        """At most ONE GetRecords call (kinesis_consumer.cpp:364-434),
        acquiring an iterator first if none is held. Returns (records,
        fault): the response's raw records and None, or ([], "throttle")
        after ProvisionedThroughputExceeded (backoff_s ramps; the caller
        decides how to wait) or ([], "expire") after ExpiredIterator
        (the next fetch re-acquires AFTER last_seq: no loss, no
        duplicates). Any other error propagates. A response resets the
        backoff, records MillisBehindLatest and advances last_seq; with
        no NextShardIterator the shard is closed (fully drained after a
        reshard — its children become eligible)."""
        if self.iterator is None:
            self.acquire(client, start)
        try:
            resp = client.get_records(ShardIterator=self.iterator, Limit=limit)
        except Exception as exc:  # noqa: BLE001 — classify by code
            code = aws_error_code(exc)
            if "ProvisionedThroughputExceeded" in code:
                self.backoff_s += BACKOFF_STEP_S
                return [], "throttle"
            if "ExpiredIterator" in code:
                self.iterator = None
                return [], "expire"
            raise
        self.backoff_s = 0.0
        self.millis_behind = resp.get("MillisBehindLatest")
        recs = resp["Records"]
        if recs:
            self.last_seq = recs[-1]["SequenceNumber"]
        self.iterator = resp.get("NextShardIterator")
        if self.iterator is None:
            self.closed = True
        return recs, None


# -- attained-position side channel -----------------------------------------
# One tiny JSON file per shard under <stateDir>/attained/. Written
# atomically (tmp + os.replace) by the executor task that read the
# shard; read by the driver in latestOffset(). Content:
#   {"seq": str|None, "it": str|None, "closed": bool,
#    "millis_behind": int|None, "epoch": int, "start": str|None}
# seq   — last consumed sequence number (None until the first record)
# it    — cached NextShardIterator (saves one GetShardIterator per
#         batch; also carries sticky-latest across empty polls)
# closed — shard fully drained after a reshard
# millis_behind — the last GetRecords response's MillisBehindLatest
#         (datasource_status reports it per shard)
# epoch/start — which (epoch, start) produced this reach (replay pins)
#
# CONCURRENT-ATTEMPT SAFETY (speculative execution / zombie tasks): the
# file for epoch N is named `{shard}.e{N}.json` and created with
# os.link (fails if it exists), so the FIRST attempt to finish reading
# a given (epoch, start) pins its reach atomically-with-content; a
# concurrent or later attempt of the same epoch — or a zombie from an
# older epoch — can never overwrite it. Readers take the max-epoch
# entry per shard; commit() reaps older epochs. This closes the
# last-writer-wins loss window (a non-committed attempt that read
# further no longer advances the next batch's start past records the
# committed batch never emitted).


def _attained_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "attained")


def _split_attained_name(name: str) -> tuple[str, int]:
    """`{shard}.e{N}.json` → (shard, N)."""
    base, _, epoch = name[: -len(".json")].rpartition(".e")
    return base, int(epoch)


def _read_attained(
    state_dir: str, shard_id: str | None = None
) -> dict[str, dict]:
    """Each shard's winning attained entry: its max-epoch file. With
    ``shard_id``, only that shard's files are opened — the executor poll
    loop reads one shard per batch, and a full-dir parse there would be
    O(shards) opens per call, O(shards²) per micro-batch at scale."""
    d = _attained_dir(state_dir)
    out: dict[str, dict] = {}
    best: dict[str, int] = {}
    try:
        names = os.listdir(d)
    except OSError:
        return out
    for name in names:
        if not name.endswith(".json") or not name.startswith(shard_id or ""):
            continue
        shard, epoch = _split_attained_name(name)
        if shard_id not in (None, shard):
            continue  # another shard id sharing this one as a prefix
        if epoch <= best.get(shard, -1):
            continue
        try:
            with open(os.path.join(d, name)) as f:
                out[shard] = json.load(f)
        except (OSError, ValueError):
            continue  # reaped mid-read: next round heals
        best[shard] = epoch
    return out


def _write_attained(state_dir: str, shard_id: str, state: dict) -> None:
    """Record a shard's reach for `state['epoch']`, first-writer-wins.

    The content is written to a tmp file and published via os.link to
    `{shard}.e{epoch}.json` — link fails with FileExistsError if any
    attempt of this epoch already pinned its reach, so the pin is
    atomic WITH the content (no window where a crashed attempt leaves
    a pin that blocks its own retry from recording anything)."""
    d = _attained_dir(state_dir)
    os.makedirs(d, exist_ok=True)
    epoch = int(state.get("epoch") or 0)
    path = os.path.join(d, f"{shard_id}.e{epoch}.json")
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(state, f)
    try:
        os.link(tmp, path)
    except FileExistsError:
        pass  # a concurrent/earlier attempt already pinned this epoch
    except OSError:
        # filesystem without hard links: fall back to exclusive create
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            pass
        else:
            with os.fdopen(fd, "w") as f:
                json.dump(state, f)
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def _reap_attained(state_dir: str) -> None:
    """Driver-side (commit()) cleanup: drop per-epoch attained files
    older than each shard's max epoch. Readers tolerate files
    vanishing mid-scan."""
    d = _attained_dir(state_dir)
    try:
        names = [n for n in os.listdir(d) if n.endswith(".json")]
    except OSError:
        return
    newest: dict[str, int] = {}
    for name in names:
        shard, epoch = _split_attained_name(name)
        newest[shard] = max(newest.get(shard, -1), epoch)
    for name in names:
        shard, epoch = _split_attained_name(name)
        if epoch < newest[shard]:
            try:
                os.unlink(os.path.join(d, name))
            except OSError:
                pass


class KinesisShardGroupPartition(InputPartition):
    """The shards ONE task polls in a micro-batch — one Spark input
    partition (A1/A4 parity: the reference's shard→bgworker assignment
    becomes Spark task scheduling over input partitions). By default
    each group holds one shard. When the live shard count exceeds the
    cluster's task slots, one-task-per-shard stops scaling: every
    micro-batch pays multiple scheduling waves (128 shards on 32 cores
    = 4 waves per 100 ms trigger). Packing shards round-robin into at
    most `maxPartitions` groups keeps each batch a single wave — the
    same move as the Kafka source's partition packing. The task
    round-robins GetRecords calls ACROSS its shards (one call per ready
    shard per pass) because the reference's 4 req/s pacing is PER
    SHARD (pipeline_kinesis.c consumer pacing): while shard A's 250 ms
    window cools, shards B/C/D poll — a serial shard-by-shard drain
    would stack the pacing gaps and make a 4-shard group ~4x slower
    than one shard in catch-up. Per-shard semantics are untouched:
    pacing, per-batch record caps, and the attained-position replay
    pins all live inside the per-shard cursor."""

    shards: list  # [(shard_id, start_seq, from_reshard), ...]
    epoch: int

    def __init__(self, shards, epoch):
        self.shards = shards
        self.epoch = epoch


class KinesisStreamReader(DataSourceStreamReader):
    """Driver side: offset bookkeeping + per-shard partition planning.
    Executor side (`read`): the GetRecords polling protocol.

    The reader object is pickled to executors — it holds only plain
    option strings (clients are built lazily per call and cached
    module-side, never on self).
    """

    def __init__(self, options: dict) -> None:
        opts = {k.lower(): v for k, v in options.items()}
        self.opts = opts
        if not opts.get("streamname"):
            raise ValueError("streamName option is required")
        if not opts.get("statedir"):
            raise ValueError(
                "stateDir option is required (shared-storage dir for "
                "attained-position metadata; pair it 1:1 with the "
                "query's checkpointLocation)"
            )
        self.stream = opts["streamname"]
        self.state_dir = opts["statedir"]
        self.start = iterator_type(
            opts.get("startingposition", "latest"), "startingPosition"
        )
        self.limit = int(opts.get("maxrecordsperfetch", DEFAULT_LIMIT))
        self.max_per_batch = int(
            opts.get(
                "maxrecordspershardperbatch",
                DEFAULT_MAX_PER_SHARD_PER_BATCH,
            )
        )
        self.rate = float(
            opts.get("maxfetchratepershard", DEFAULT_RATE_PER_SHARD)
        )
        # 0 = one task per shard (exact A1/A4 parity); > 0 caps the
        # tasks per micro-batch, packing shards round-robin into that
        # many KinesisShardGroupPartitions
        self.max_partitions = int(opts.get("maxpartitions", 0))
        self._epoch = 0

    # -- offsets -----------------------------------------------------------

    def initialOffset(self) -> dict:  # noqa: N802 — Spark API
        return {"epoch": 0, "shards": json.dumps({})}

    def latestOffset(self) -> dict:  # noqa: N802 — Spark API
        # epoch always advances so every trigger plans a batch (the
        # poll cadence IS the trigger cadence, like the rate source);
        # monotonic across restarts via the epoch file. The shards map
        # = positions attained through the last COMPLETED batch — i.e.
        # the start positions of the batch that will end at this
        # offset (frozen into the WAL so replays are
        # start-deterministic).
        #
        # The epoch file is persisted at PLAN time, not just commit
        # (r15, found by tools/fuzz_lifecycle.py --mode datasource):
        # persisting only in commit() leaves a one-batch window where
        # the checkpoint's commit log is ahead of the epoch file — a
        # stop landing between them made a restarted reader REUSE the
        # last epoch for a new batch with different start positions.
        # The attained pins are first-writer-wins PER EPOCH, so the
        # reused batch's reach could never be pinned, the next plan
        # regressed to the stale pin's position, and one batch's
        # records were fetched and published twice (exactly-once
        # breach). Planning itself now advances the high-water mark,
        # so no later incarnation can ever reuse a planned epoch.
        self._epoch = max(self._epoch, self._read_epoch()) + 1
        self._persist_epoch(self._epoch)
        attained = _read_attained(self.state_dir)
        shards = {
            sid: st["seq"]
            for sid, st in attained.items()
            if st.get("seq") is not None
        }
        return {"epoch": self._epoch, "shards": json.dumps(shards)}

    def _epoch_path(self) -> str:
        return os.path.join(self.state_dir, "epoch")

    def _read_epoch(self) -> int:
        try:
            with open(self._epoch_path()) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return 0

    def _persist_epoch(self, epoch: int) -> None:
        """Advance the durable epoch high-water mark (never regress:
        plan-time and commit-time writers may interleave across query
        incarnations)."""
        if epoch <= self._read_epoch():
            return
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = f"{self._epoch_path()}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(int(epoch)))
        os.replace(tmp, self._epoch_path())

    def commit(self, end: dict) -> None:
        # the batch ending at `end` is fully committed downstream.
        # The epoch high-water mark already advanced at plan time;
        # max-merge it here too (a restarted reader replaying a WAL
        # batch may commit an epoch the new incarnation never planned)
        self._persist_epoch(int(end.get("epoch", 0)))
        # committed → older epochs' attained pins can never bound a
        # replay again; reap them (driver-side, single process)
        _reap_attained(self.state_dir)

    # -- planning ----------------------------------------------------------

    def partitions(self, start: dict, end: dict):
        if start == end:
            return []
        starts = json.loads(end.get("shards") or "{}")
        # WAL `end.shards` carries this batch's frozen start positions
        # (see latestOffset); `start.shards` is one batch staler — fold
        # it in only for shards the newer map lacks (first batch after
        # a restart where attained files were wiped but the WAL wasn't)
        for sid, seq in json.loads(start.get("shards") or "{}").items():
            starts.setdefault(sid, seq)
        epoch = int(end.get("epoch", 0))
        client = _make_client(self.opts)
        shards = describe_all_shards(client, self.stream)
        meta = {s["ShardId"]: s for s in shards}
        attained = _read_attained(self.state_dir)

        def drained(sid: str) -> bool:
            st = attained.get(sid)
            return bool(
                st
                and st.get("closed")
                and st.get("seq") == starts.get(sid)
            )

        live = []  # (shard_id, start_seq, from_reshard)
        for sid, sh in meta.items():
            if drained(sid):
                continue  # closed shard fully consumed: nothing left
            parents = [p for p in shard_parents(sh) if p in meta]
            if any(not drained(p) for p in parents):
                # reshard ordering: children wait for every parent to
                # drain (records keep per-key order across the split)
                continue
            live.append((sid, starts.get(sid), bool(parents)))
        # pack round-robin over a stable (sorted) shard order into at
        # most maxPartitions groups (0: one group per shard), so a
        # shard maps to the same group index while the live set is
        # unchanged — iterator caching in the attained files stays
        # warm per shard
        n = min(self.max_partitions or len(live), len(live))
        groups: list[list] = [[] for _ in range(n)]
        for i, shard in enumerate(sorted(live)):
            groups[i % n].append(shard)
        return [KinesisShardGroupPartition(g, epoch) for g in groups]

    # -- executor-side read ------------------------------------------------

    def read(self, partition):
        """One micro-batch's poll work for one TASK, on an executor: the
        partition's shards with one shared client. It round-robins ONE
        GetRecords call per ready shard per pass, so per-shard pacing
        windows overlap across a group's shards instead of stacking
        serially (see KinesisShardGroupPartition). Yields RecordRows;
        per-shard order is preserved (cross-shard interleaving carries
        no ordering contract)."""
        client = _make_client(self.opts)
        pending = [
            c
            for c in (
                _ShardCursor(self, *shard, partition.epoch)
                for shard in partition.shards
            )
            if not c.done
        ]
        while pending:
            progressed = False
            now = time.monotonic()
            for c in pending:
                if c.ready_at > now:
                    continue
                yield from c.step(client)
                progressed = True
                now = time.monotonic()
            nxt = []
            for c in pending:
                if c.done:
                    # write this shard's attained reach the moment its
                    # batch work completes (same timing as the old
                    # serial loop): first-writer-wins pins must exist
                    # before a speculative twin can finish
                    c.write_attained()
                else:
                    nxt.append(c)
            pending = nxt
            if pending and not progressed:
                wait = min(c.ready_at for c in pending) - time.monotonic()
                if wait > 0:
                    time.sleep(wait)


class _ShardCursor(ShardCursor):
    """The executor reader's per-batch policy over one ShardCursor, ON
    AN EXECUTOR. ``step()`` makes at most ONE GetRecords call, so a
    packed group can interleave calls across its shards while each
    shard's pacing window (``ready_at``) cools. Stops (``done``) at the
    per-batch record cap, when caught up (empty response), at the
    replay bound, when the shard closes, or once throttle backoff
    passes BACKOFF_MAX_S (the next batch retries).
    """

    def __init__(self, reader, sid, start_seq, from_reshard, epoch):
        attained = _read_attained(reader.state_dir, sid).get(sid, {})
        super().__init__(
            reader.stream,
            sid,
            from_reshard,
            last_seq=start_seq,
            # cached NextShardIterator from the previous batch — valid
            # only if it continues exactly from our committed start
            # (also carries sticky-latest across empty polls)
            iterator=(
                attained.get("it")
                if attained.get("seq") == start_seq
                else None
            ),
        )
        # the last known lag until this batch's first response
        self.millis_behind = attained.get("millis_behind")
        self.reader = reader
        self.start_seq = start_seq
        self.epoch = epoch
        self.emitted = 0
        self.empty_polls = 0
        self.done = False
        self.skip_write = False
        self.ready_at = 0.0  # monotonic instant the next call may fire
        self.min_gap = 1.0 / reader.rate if reader.rate > 0 else 0.0

        # Deterministic replay: if a previous ATTEMPT of this same
        # (epoch, start) already ran — its attained file records this
        # epoch and start — its reach becomes a hard END BOUND, so the
        # replay emits exactly the records the first attempt emitted
        # (never a longer tail the stream grew in between). Downstream
        # sinks that key on batch id may then either skip or rewrite
        # the batch; both are correct because the content is identical.
        self.bound = None
        if (
            attained.get("epoch") == epoch
            and attained.get("start") == start_seq
        ):
            self.bound = attained.get("seq")
            if self.bound == start_seq:
                # first attempt emitted nothing — the replay must too,
                # and the pin must survive untouched
                self.done = True
                self.skip_write = True

    def step(self, client):
        """At most one GetRecords call; yields this call's RecordRows.
        Start-to-start pacing: ready_at advances by min_gap per
        call, matching the old sleep-before-call spacing."""
        reader = self.reader
        self.ready_at = time.monotonic() + self.min_gap
        recs, fault = self.fetch(
            client,
            reader.start,
            min(reader.limit, reader.max_per_batch - self.emitted),
        )
        if fault == "throttle":
            # bounded in-batch backoff; the next batch retries
            if self.backoff_s > BACKOFF_MAX_S:
                self.done = True
            else:
                self.ready_at = time.monotonic() + self.backoff_s
            return
        if fault is not None:
            return  # expired: the next step re-acquires from last_seq
        if self.bound is not None:
            seqs = [rec["SequenceNumber"] for rec in recs]
            if self.bound in seqs:
                # replay reached the pinned end, possibly MID-response:
                # the response's NextShardIterator points past records
                # not emitted — discard it so the next batch
                # re-acquires AFTER the bound and reads them
                recs = recs[: seqs.index(self.bound) + 1]
                self.last_seq, self.iterator = self.bound, None
                self.closed = False
                self.done = True
        self.emitted += len(recs)
        for rec in recs:
            yield record_row(rec, self.shard_id)
        if self.done:
            return
        if self.closed:
            self.done = True
            return
        if not recs:
            if self.bound is not None and self.empty_polls < 100:
                # pinned replay: the bound's records were read once
                # already, so they exist — keep polling (bounded,
                # in case retention expired them meanwhile)
                self.empty_polls += 1
                return
            # caught up; keep the iterator for the next batch
            self.done = True
            return
        if self.emitted >= reader.max_per_batch:
            self.done = True

    def write_attained(self) -> None:
        if self.skip_write:
            return
        _write_attained(
            self.reader.state_dir,
            self.shard_id,
            {
                "seq": self.last_seq,
                "it": self.iterator,
                "closed": self.closed,
                "millis_behind": self.millis_behind,
                # replay pinning (see `bound` above): which (epoch,
                # start) produced this reach
                "epoch": self.epoch,
                "start": self.start_seq,
            },
        )


class KinesisDataSource(DataSource):
    """``spark.readStream.format("pipeline_kinesis")`` — executor-
    parallel Kinesis ingestion. Register with
    ``spark.dataSource.register(KinesisDataSource)``.

    Options (case-insensitive):
      streamName (required), stateDir (required, shared storage),
      region, endpointUrl, credfile, startingPosition
      (trim_horizon | latest | after_sequence_number:X),
      maxRecordsPerFetch (GetRecords limit, default 1000),
      maxRecordsPerShardPerBatch (default 10000),
      maxFetchRatePerShard (req/s, default 4 — reference pacing),
      maxPartitions (tasks per micro-batch; default 0 = one task per
      shard, else shards pack round-robin into at most this many),
      clientFactory ("module:attr" test seam returning a boto3-shaped
      client).
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return RECORD_SCHEMA

    def streamReader(self, schema: StructType) -> KinesisStreamReader:  # noqa: N802
        return KinesisStreamReader(self.options)


def register(spark) -> None:
    """Register the format with this SparkSession AND switch this
    module to pickle-by-value, so the planner process and executor
    workers receive the classes inside the pickle instead of needing
    ``pipeline_kinesis_spark`` on their sys.path (see SELF-CONTAINMENT
    CONTRACT above). Idempotent."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(KinesisDataSource)
