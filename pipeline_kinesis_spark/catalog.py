"""Engine metadata catalog — the Spark-native analog of the reference's
``endpoints`` / ``consumers`` / ``seqnums`` tables
(pipeline_kinesis--0.9.0.sql:4-31).

Persisted as a single JSON document under the engine's metadata dir with
atomic rewrite; a process-local lock mirrors the reference's
AccessExclusiveLock around consumer mutation (pipeline_kinesis.c:830-849).
The third reference table, ``seqnums``, has no direct analog here: offsets
live in Structured Streaming checkpoints (exactly-once, managed by Spark),
plus the pump's per-shard positions saved here — Engine.seqnums() is the
queryable relation of ingest position, and Engine.pipeline_query_stats()
the per-query progress.
"""

from __future__ import annotations

import json
import os
import re
import threading
from dataclasses import asdict, dataclass, field

from pyspark.sql.types import StructType

# <view>_osrel — the output-stream relation naming convention, and
# PipelineDB's output_of('v') spelling of it; the one copy of each rule
OSREL_RE = re.compile(r"^(\w+)_osrel$")
_OUTPUT_OF = re.compile(r"output_of\(\s*'(\w+)'\s*\)", re.IGNORECASE)


def rewrite_output_of(sql: str) -> str:
    """PipelineDB's ``output_of('v')`` spelling → the ``<v>_osrel``
    relation the engine registers for view delta streams."""
    return _OUTPUT_OF.sub(lambda m: f"{m.group(1)}_osrel", sql)


@dataclass
class Endpoint:
    """Reference: kinesis_add_endpoint(name, region, credfile, url)
    (pipeline_kinesis.c:120-165). ``url`` doubles as the source root for
    the file-replay source."""

    name: str
    region: str = "local"
    credfile: str | None = None
    url: str | None = None


@dataclass
class StreamDef:
    """CREATE STREAM analog (README.md:65): declared name + DDL schema.
    ``arrival_timestamp`` is engine-injected, never declared
    (pipeline_kinesis.c:247-257)."""

    name: str
    schema_ddl: str  # e.g. "payload STRING" / "k STRING, v BIGINT, ts TIMESTAMP"


@dataclass
class ViewDef:
    """CREATE CONTINUOUS VIEW analog (README.md:66).

    materialize: 'memory' (queryable via spark.table(name)) or
    'parquet_upsert' (durable keyed MERGE per micro-batch — the
    ON CONFLICT DO UPDATE analog, pipeline_kinesis.c:543-579 —
    requires key_cols; queryable via Engine.view_table(name)).
    """

    name: str
    sql: str
    stream: str
    output_mode: str = "complete"
    materialize: str = "memory"
    key_cols: list[str] | None = None
    # PipelineDB TTL (CREATE CONTINUOUS VIEW ... WITH (ttl='...',
    # ttl_column='...')): rows whose ttl_column falls behind now-ttl are
    # expired — reaped at write time for parquet_upsert views, filtered at
    # read time (view_table/sql) for memory views.
    ttl_seconds: int | None = None
    ttl_column: str | None = None
    # PipelineDB ACTIVATE/DEACTIVATE: inactive queries keep their
    # definition and materialized state but are not maintained.
    active: bool = True
    # PipelineDB sliding-window views (WITH (sw = '1 hour')): the view
    # always answers over the trailing sw window. Implemented the way
    # PipelineDB does (step-factor design): the standing query maintains
    # per-(group, time-step) PARTIAL aggregates; reads recombine the
    # steps inside the window. sw_aggs maps output alias → combinable
    # aggregate (count/sum/min/max — the same restriction PipelineDB
    # places on sw views); sw_group_cols are the user's group columns.
    sw_seconds: int | None = None
    sw_step_seconds: int | None = None
    sw_aggs: dict | None = None
    sw_group_cols: list[str] | None = None
    # HAVING clause of an sw view, applied to the RECOMBINED window at
    # read time (PipelineDB overlay placement) — never to per-step
    # partials; references only output columns (validated at CREATE).
    sw_having: str | None = None
    # hash-bucket count for the parquet_upsert store layout (None →
    # library default). A physical sizing knob: buckets bound the
    # per-batch rewrite granularity, so size ~O(table_size / desired
    # rewrite unit); the store pins its creation-time value in a marker
    # file, so changing this later never rehashes existing data.
    upsert_buckets: int | None = None
    # combine() support (PipelineDB read-time re-aggregation): output
    # alias → {fn, arg} for every combinable aggregate in the view's
    # SELECT list. Decomposable aggregates (avg/stddev/variance/
    # approx_count_distinct) make the standing query carry hidden
    # partial-state columns in the matrel; view_table hides them,
    # Engine.combine / SQL combine(alias) merges them. None → the SQL
    # shape was out of parse scope and combine() is unavailable.
    combine_aggs: dict | None = None
    # output-stream history retention: keep the last N per-batch delta
    # subdirs (None → keep everything). Size it well above the longest
    # plausible consumer lag — reaped batches are gone for late readers.
    osrel_keep_batches: int | None = None
    # B25 event-time watermark (PipelineDB arrival-time ordering,
    # pipeline_kinesis.c:247-257, generalized to a declared event-time
    # column): the standing query runs under
    # withWatermark(watermark_column, delay) — rows arriving more than
    # the delay behind the max observed event time are DROPPED and
    # finalized windows never reopen. Requires append/update output
    # (Spark's complete mode keeps all state and never drops late
    # rows, so a watermark there would silently do nothing).
    watermark_column: str | None = None
    watermark_delay_seconds: int | None = None


@dataclass
class TransformDef:
    """CREATE CONTINUOUS TRANSFORM analog (PipelineDB surface): a standing
    row-wise (non-aggregating) query over a stream whose output feeds an
    output relation and/or a per-batch procedure (THEN EXECUTE PROCEDURE).
    The output relation is itself queryable/chainable like a stream table.
    """

    name: str
    sql: str
    stream: str
    sink_relation: str | None = None
    active: bool = True


@dataclass
class Consumer:
    """Reference consumers row (pipeline_kinesis--0.9.0.sql:13-25)."""

    id: int
    endpoint: str
    stream: str
    relation: str
    format: str = "text"
    delimiter: str = "\t"
    quote: str | None = None
    escape: str | None = None
    batchsize: int = 1000
    parallelism: int = 1
    start_position: str = "trim_horizon"
    # A12 pacing: max fetch rounds per second for this consumer — the
    # analog of the reference's KINESIS_READS_PER_SEC GetRecords pacing
    # (kinesis_consumer.cpp:364-434). None → engine default trigger.
    rate_limit_rps: float | None = None
    # spool retention: raw kinesis record files older than this are
    # auto-reaped during ingestion (None = keep forever; see
    # Engine.reap_spool for the safety contract)
    spool_keep_seconds: float | None = None
    # per-shard max seqnum snapshot, filled once when start_position is
    # 'latest' — the analog of resolving LATEST into a concrete iterator at
    # first start (kinesis_consumer.cpp:296-325); restarts reuse it so a
    # crash between start and first checkpoint can't skip records.
    resolved_position: dict[str, str] | None = None
    # RESOLVED ingest architecture ("pump" | "datasource" | "file"),
    # persisted at first start so consume_begin_all restarts a consumer
    # on the SAME path it ran on. "auto" = not yet resolved. This
    # matters for exactly-once: pump checkpoints live in the catalog
    # seqnums, datasource offsets in the Spark WAL + attained files —
    # restarting a datasource consumer in pump mode would resume from
    # checkpoints that path never wrote and re-ingest from
    # start_position.
    source: str = "auto"
    # B26 wire-level redelivery collapse: the reference's delivery is
    # at-least-once (a failed copy retries the WHOLE batch,
    # pipeline_kinesis.c:744-758), so the same (shard, seqnum) record
    # can arrive twice. False = archive redeliveries as-is (reference
    # behavior); True = exact dropDuplicates on (shard_id,
    # sequence_number) before parse (state grows with the stream —
    # replay/audit use); a duration string like "10 minutes" = Spark's
    # dropDuplicatesWithinWatermark keyed the same way, state bounded
    # by the redelivery horizon — the at-scale setting.
    dedup: bool | str = False


@dataclass
class CatalogState:
    endpoints: dict[str, dict] = field(default_factory=dict)
    streams: dict[str, dict] = field(default_factory=dict)
    views: dict[str, dict] = field(default_factory=dict)
    transforms: dict[str, dict] = field(default_factory=dict)
    consumers: dict[str, dict] = field(default_factory=dict)  # key: id str
    next_consumer_id: int = 1
    # per-consumer Kinesis poller positions: {consumer_id: {shard: seq}}.
    # The analog of the reference's seqnums relation written by
    # save_consumer_state (pipeline_kinesis.c:543-579) — the pump
    # persists them each round so a restarted consumer resumes AFTER
    # the last polled record.
    kinesis_seqnums: dict[str, dict] = field(default_factory=dict)


class Catalog:
    def __init__(self, metadata_dir: str):
        self.metadata_dir = metadata_dir
        self.path = os.path.join(metadata_dir, "catalog.json")
        self._lock = threading.RLock()
        os.makedirs(metadata_dir, exist_ok=True)
        self.state = self._load()

    def _load(self) -> CatalogState:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return CatalogState(**json.load(f))
        return CatalogState()

    def _save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(self.state), f, indent=2)
        os.replace(tmp, self.path)

    # -- endpoints (reference pipeline_kinesis.c:120-188) --

    def add_endpoint(self, ep: Endpoint) -> None:
        with self._lock:
            self.state.endpoints[ep.name] = asdict(ep)
            self._save()

    def remove_endpoint(self, name: str) -> None:
        with self._lock:
            in_use = [
                c
                for c in self.state.consumers.values()
                if c["endpoint"] == name
            ]
            if in_use:
                raise ValueError(f"endpoint {name!r} has active consumers")
            self.state.endpoints.pop(name, None)
            self._save()

    def endpoint(self, name: str) -> Endpoint:
        try:
            return Endpoint(**self.state.endpoints[name])
        except KeyError:
            raise KeyError(f"unknown endpoint {name!r}") from None

    # -- streams --

    def create_stream(self, sd: StreamDef) -> None:
        with self._lock:
            self.state.streams[sd.name] = asdict(sd)
            self._save()

    def alter_stream_add_column(
        self, name: str, col_name: str, col_type: str
    ) -> StreamDef:
        """ALTER STREAM ... ADD COLUMN (PipelineDB stream evolution):
        append a column to the declared schema. Existing archived rows
        read back NULL for it (the archive is read with the declared
        schema, so old parquet files simply lack the column)."""
        with self._lock:
            sd = self.stream(name)
            # real DDL parse (same as stream_table): a naive comma split
            # would yield phantom tokens for parameterized types like
            # DECIMAL(10,2)
            existing = [
                f.name.lower()
                for f in StructType.fromDDL(sd.schema_ddl).fields
            ]
            if col_name.lower() in existing:
                raise ValueError(
                    f"column {col_name!r} already exists on {name!r}"
                )
            if col_name.lower() == "arrival_timestamp":
                raise ValueError(
                    "arrival_timestamp is engine-injected; do not declare it"
                )
            sd.schema_ddl = f"{sd.schema_ddl}, {col_name} {col_type}"
            self.state.streams[name] = asdict(sd)
            self._save()
            return sd

    def drop_stream(self, name: str) -> None:
        with self._lock:
            dependent = [
                v for v in self.state.views.values() if v["stream"] == name
            ]
            if dependent:
                raise ValueError(f"stream {name!r} has continuous views")
            if any(
                t["stream"] == name for t in self.state.transforms.values()
            ):
                raise ValueError(f"stream {name!r} has continuous transforms")
            self.state.streams.pop(name, None)
            self._save()

    def stream(self, name: str) -> StreamDef:
        try:
            return StreamDef(**self.state.streams[name])
        except KeyError:
            raise KeyError(f"unknown stream {name!r}") from None

    # -- continuous views --

    def _is_source_relation(self, rel: str) -> bool:
        """A standing query may read a declared stream, a transform's
        output relation, or a continuous view's output stream
        (``<view>_osrel`` — PipelineDB's output_of chaining)."""
        if rel in self.state.streams:
            return True
        if any(
            t.get("sink_relation") == rel
            for t in self.state.transforms.values()
        ):
            return True
        m = OSREL_RE.match(rel)
        return bool(m and m.group(1) in self.state.views)

    def create_view(self, vd: ViewDef) -> None:
        with self._lock:
            if not self._is_source_relation(vd.stream):
                raise KeyError(f"unknown stream {vd.stream!r}")
            self.state.views[vd.name] = asdict(vd)
            self._save()

    def drop_view(self, name: str) -> None:
        with self._lock:
            self.state.views.pop(name, None)
            self._save()

    def _seqnum_path(self, consumer_id: int) -> str:
        return os.path.join(
            self.metadata_dir, "seqnums", f"c{consumer_id}.json"
        )

    def save_kinesis_seqnums(
        self, consumer_id: int, seqs: dict[str, str]
    ) -> None:
        """Durably record a consumer's per-shard positions (reference
        save_consumer_state, pipeline_kinesis.c:543-579). One small
        file per consumer, written atomically — the pump persists after
        every landing round, and rewriting the whole catalog JSON at
        that cadence (and holding its lock) would serialize every
        polling worker on unrelated catalog I/O."""
        path = self._seqnum_path(consumer_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "w") as f:
            json.dump(dict(seqs), f)
        os.replace(tmp, path)

    def load_kinesis_seqnums(self, consumer_id: int) -> dict[str, str]:
        try:
            with open(self._seqnum_path(consumer_id)) as f:
                return dict(json.load(f))
        except (OSError, ValueError):
            pass
        # legacy location: early r06 builds kept them in catalog.json
        with self._lock:
            return dict(
                self.state.kinesis_seqnums.get(str(consumer_id), {})
            )

    def update_view_options(self, name: str, **options) -> None:
        """Persist a change to an existing view's options (only keys
        ViewDef already defines — this is not schema evolution)."""
        with self._lock:
            vd = self.state.views.get(name)
            if vd is None:
                raise KeyError(f"unknown continuous view {name!r}")
            unknown = set(options) - set(vd)
            if unknown:
                raise ValueError(f"unknown view options {sorted(unknown)}")
            vd.update(options)
            self._save()

    def views_on(self, stream: str) -> list[ViewDef]:
        return [
            ViewDef(**v)
            for v in self.state.views.values()
            if v["stream"] == stream
        ]

    # -- continuous transforms --

    def create_transform(self, td: TransformDef) -> None:
        with self._lock:
            if not self._is_source_relation(td.stream):
                raise KeyError(f"unknown stream {td.stream!r}")
            self.state.transforms[td.name] = asdict(td)
            self._save()

    def drop_transform(self, name: str) -> None:
        with self._lock:
            self.state.transforms.pop(name, None)
            self._save()

    def transforms_on(self, stream: str) -> list[TransformDef]:
        return [
            TransformDef(**t)
            for t in self.state.transforms.values()
            if t["stream"] == stream
        ]

    # -- ACTIVATE / DEACTIVATE (PipelineDB query lifecycle) --

    def set_active(self, name: str, active: bool) -> str:
        """Flip a view's or transform's active flag; returns 'view' or
        'transform' (raises KeyError if the name is neither)."""
        with self._lock:
            if name in self.state.views:
                self.state.views[name]["active"] = active
                self._save()
                return "view"
            if name in self.state.transforms:
                self.state.transforms[name]["active"] = active
                self._save()
                return "transform"
            raise KeyError(f"unknown continuous query {name!r}")

    # -- consumers (reference upsert: pipeline_kinesis.c:857-948) --

    def upsert_consumer(self, c: Consumer) -> Consumer:
        with self._lock:
            for existing in self.state.consumers.values():
                if (
                    existing["endpoint"] == c.endpoint
                    and existing["stream"] == c.stream
                    and existing["relation"] == c.relation
                ):
                    c.id = existing["id"]
                    if c.resolved_position is None:
                        c.resolved_position = existing.get("resolved_position")
                    self.state.consumers[str(c.id)] = asdict(c)
                    self._save()
                    return c
            c.id = self.state.next_consumer_id
            self.state.next_consumer_id += 1
            self.state.consumers[str(c.id)] = asdict(c)
            self._save()
            return c

    def find_consumer(
        self, endpoint: str, stream: str, relation: str
    ) -> Consumer | None:
        for c in self.state.consumers.values():
            if (
                c["endpoint"] == endpoint
                and c["stream"] == stream
                and c["relation"] == relation
            ):
                return Consumer(**c)
        return None

    def all_consumers(self) -> list[Consumer]:
        return [Consumer(**c) for c in self.state.consumers.values()]
