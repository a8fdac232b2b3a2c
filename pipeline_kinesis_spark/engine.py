"""Engine control plane — the Spark-native analog of the reference's SQL
UDF surface (pipeline_kinesis--0.9.0.sql:33-83):

reference                           → Engine method
-----------------------------------------------------------------
kinesis_add_endpoint / _remove      → add_endpoint / remove_endpoint
CREATE STREAM (PipelineDB)          → create_stream
CREATE CONTINUOUS VIEW (PipelineDB) → create_continuous_view
kinesis_consume_begin_sr            → consume_begin
kinesis_consume_end_sr / _all       → consume_end / consume_end_all
SELECT * FROM seqnums (progress)    → seqnums()

consume_begin wires: record source → one ingest query (COPY-parity
parse → exactly-once parquet archive of the stream relation plus the
dead-letter quarantine; on the datasource path it also lands the spool
the views read), then every active continuous view and transform whose
chain roots at the relation, through _wire_view/_wire_transform — the
one wiring path CREATE and ACTIVATE also take on a running consumer,
so a catalog gets the same standing queries whenever they were created.
Process/thread plumbing from the reference (bgworkers, shard threads,
bounded queues — pipeline_kinesis.c:774-823, conc_queue.hpp) collapses
into Spark's task scheduler; shard→task assignment is automatic.
"""

from __future__ import annotations

import functools
import glob
import os
import re
import shutil
import threading
import uuid
import warnings
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pipeline_kinesis_spark.catalog import (
    OSREL_RE,
    Catalog,
    Consumer,
    Endpoint,
    StreamDef,
    TransformDef,
    ViewDef,
    rewrite_output_of,
)
from pipeline_kinesis_spark.ingest.parse import parse_records, split_quarantine
from pipeline_kinesis_spark.shipping import ship_package
from pipeline_kinesis_spark.sources.file_replay import FileReplaySource
from pipeline_kinesis_spark.sources.kinesis import (
    KinesisPump,
    KinesisReplayBridge,
    KinesisSource,
    describe_all_shards,
    iterator_type,
)
from pipeline_kinesis_spark.sources.kinesis_datasource import (
    _read_attained,
    build_client,
)
from pipeline_kinesis_spark.sources.records import RECORD_SCHEMA
from pipeline_kinesis_spark.streaming.pinned_start import pinned_shuffle
from pipeline_kinesis_spark.streaming.continuous_view import (
    KB_COL,
    OSREL_KEEP_DEFAULT,
    PARTIAL_SEP,
    SW_BUCKET_COL,
    _outside_string_mask,
    combine_rewrite_sql,
    combine_select_expr,
    combine_view,
    compile_view,
    drop_partial_cols,
    has_hidden_partials,
    parse_combine_view_sql,
    parse_sw_view_sql,
    publish_bucket_files,
    read_reap_marker,
    read_store,
    read_store_manifest,
    split_having,
    store_bucket_files,
    sw_combine,
    sw_rewrite_sql,
    upsert_to_parquet,
    validate_having,
)

# Reference caps parallelism at 8 bgworkers (pipeline_kinesis.c:54). On
# Kinesis paths the knob sets the pump's polling workers; on file feeds
# it is the maxFilesPerTrigger admission cap (A11).
MAX_PROCS = 8


def spool_admission_cap(n_live_shards: int) -> int:
    """maxFilesPerTrigger for an engine-owned Kinesis spool, on the pump
    and datasource paths alike. Flow control there lives upstream
    (``batchsize`` per shard per fetch, ``rate_limit_rps`` fetches per
    second), so this cap is only a backstop and must never throttle the
    drain below the landing rate: each micro-batch admits everything
    spooled since the last one. A datasource ingest batch publishes up
    to one file per live shard (2x headroom for resharding splits
    between restarts); a pump round publishes one file per polling
    worker (at most MAX_PROCS), which the floor of 64 covers."""
    return max(2 * n_live_shards, 64)


# a consumer's own standing query: ingest_<relation>_c<id>
_INGEST_QUERY_RE = re.compile(r"^ingest_(.+)_c\d+$")

# Default output-stream retention: OSREL_KEEP_DEFAULT (imported above,
# 1000 batches). Unbounded delta history is wrong as a default at
# 100 TB — a standing emitter would grow the osrel dir with stream
# lifetime. 1000 batches at the default 500 ms trigger is ~8 minutes of
# slack for chained consumers that run on the same cadence (typically
# <1 batch behind). Pass osrel_keep_batches=None explicitly (SQL:
# osrel_keep_batches=unbounded) for audit-everything deployments; the
# first reap under the default warns once per store (README
# "Output-stream retention").
# sentinel distinguishing "caller said nothing" (finite default) from an
# explicit None (unbounded opt-in)
_OSREL_KEEP_UNSET = object()

# cap on the error text a foreachBatch function re-raises to the JVM.
# Sizing: the stop classifier's `(.|\r\n|\r|\n)*` loop costs ~6 JVM
# stack frames PER CHARACTER of message tail after the `An error
# occurred while calling` prefix (greedy star + backtrack), and a
# default 1 MB thread stack holds ~10k frames — a 2 kB tail was
# observed to still overflow it. 300 chars ≈ 2k frames, a 5x margin,
# and the informative part (call target + root exception type) is the
# first two lines anyway.
_STREAM_ERR_HEAD = 300


def _raise_compact_batch_error(e: BaseException) -> None:
    """Re-raise a foreachBatch failure with a bounded message.

    When a foreachBatch body fails (most commonly: the stop() interrupt
    landing mid-write), the exception crossing py4j embeds the full
    Java stack as TEXT — tens of kB. Spark's stop classifier
    (StreamExecution.isInterruptionException) then runs the pattern
    ``py4j.protocol.Py4JJavaError: An error occurred while
    calling((.|\\r\\n|\\r|\\n)*)(java.lang.InterruptedException|...)``
    over that text; the unanchored any-char loop recurses once per
    character and a long message overflows the JVM stack, killing the
    stream-execution thread mid-stop instead of concluding "graceful
    stop" (observed: ~9,300 regex frames from a ~30 kB message).

    Capping the message here keeps the classifier's input small. The
    composed head line is ``module.Type: str(e)`` — for a
    Py4JJavaError that reads ``py4j.protocol.Py4JJavaError: An error
    occurred while calling oNNN.json.\\n: java.lang.InterruptedException
    ...``, so the interruption marker sits within the first ~100
    chars and stop classification still succeeds. ``from None``
    suppresses exception chaining so the original giant text does not
    ride along in the formatted traceback either.
    """
    s = f"{type(e).__module__}.{type(e).__name__}: {e}"
    if len(s) <= _STREAM_ERR_HEAD:
        raise e
    # first lines carry the py4j call target and the root exception
    # type; the java stack below them is pure classifier poison
    keep = "\n".join(s.splitlines()[:3])[:_STREAM_ERR_HEAD]
    for marker in (
        "java.lang.InterruptedException",
        "java.io.InterruptedIOException",
        "java.nio.channels.ClosedByInterruptException",
    ):
        if marker in s and marker not in keep:
            keep += f" ... {marker}"
    raise RuntimeError(keep + " ... [message truncated]") from None


def _guarded_batch(fn):
    """Wrap a foreachBatch function with the compact-error boundary."""

    @functools.wraps(fn)
    def wrapper(bdf, bid):
        try:
            return fn(bdf, bid)
        except Exception as e:
            _raise_compact_batch_error(e)
        # non-Exception BaseExceptions (SystemExit, KeyboardInterrupt)
        # propagate unchanged: re-typing them as RuntimeError would
        # alter what the interpreter-shutdown path sees, and their
        # messages are never the multi-kB py4j stacks the compaction
        # exists for

    return wrapper


def _published_through(dest: str, tag: str) -> int:
    """High-water batch id writer `tag` has published into `dest` (-1:
    none yet). Batches at or below it are replays of published ones,
    whose files compact_stream_table may since have merged or a spool
    reap deleted: writing them again would duplicate them."""
    try:
        with open(os.path.join(dest, f"_{tag}.hwm")) as f:
            return int(f.read())
    except FileNotFoundError:
        return -1


def _dedup(records: DataFrame, dedup: bool | str) -> DataFrame:
    """B26: the wire is at-least-once (a failed copy retries the WHOLE
    batch, pipeline_kinesis.c:744-758). With ``dedup`` on, collapse
    redeliveries of one (shard_id, sequence_number) BEFORE parse, first
    delivery wins, so the archive, the dead letters and every view see
    a record once. A string is the redelivery horizon: the watermark
    reaps older keys (unbounded dropDuplicates state on a 100 TB stream
    is a slow leak); records must then carry arrival timestamps."""
    if not dedup:
        return records
    keys = ["shard_id", "sequence_number"]
    if isinstance(dedup, str):
        return records.withWatermark(
            "approximate_arrival_timestamp", dedup
        ).dropDuplicatesWithinWatermark(keys)
    return records.dropDuplicates(keys)


def _committed_batch_id(ckpt: str) -> int:
    """The last batch id a Structured Streaming checkpoint's commit log
    holds (-1: none yet)."""
    try:
        names = os.listdir(os.path.join(ckpt, "commits"))
    except OSError:
        return -1
    return max((int(n) for n in names if n.isdigit()), default=-1)


def _staging_dir(dest: str, tag: str, bid: int) -> str:
    """Sibling temp dir a batch is written to before _publish_batch."""
    return f"{dest.rstrip('/')}__tmp_{tag}_b{int(bid)}"


def _publish_batch(
    tag: str, bid: int, staged: list[tuple[str, str]], ext: str
) -> int:
    """Publish one micro-batch of writer `tag` (one standing query: a
    datasource spool landing, an archive plus its dead letters, a
    transform sink).
    For each (tmp, dest) pair, replace this batch id's files in `dest`
    with `tmp`'s non-empty part files, named
    `{tag}-b{bid:010d}-{i:04d}{ext}` (a replay that writes fewer files
    than the first attempt must leave no stale one). Then, after every
    rename, os.replace the writer's `_{tag}.hwm` mark in the FIRST dest
    (underscore-prefixed, so Spark's file listings skip it). Returns
    the number of files published."""
    stem = f"{tag}-b{int(bid):010d}-"
    published = 0
    for tmp, dest in staged:
        os.makedirs(dest, exist_ok=True)
        for n in os.listdir(dest):
            if n.startswith(stem):
                try:
                    os.unlink(os.path.join(dest, n))
                except OSError:
                    pass
        i = 0
        for n in sorted(os.listdir(tmp)):
            full = os.path.join(tmp, n)
            if not n.startswith("part-") or n.endswith(".crc"):
                continue
            if os.path.getsize(full) == 0:
                continue
            os.replace(full, os.path.join(dest, f"{stem}{i:04d}{ext}"))
            i += 1
        shutil.rmtree(tmp, ignore_errors=True)
        published += i
    mark = os.path.join(staged[0][1], f"_{tag}.hwm")
    with open(f"{mark}.tmp", "w") as f:
        f.write(str(int(bid)))
    os.replace(f"{mark}.tmp", mark)
    return published


# A memory view's sink table lives in the SparkSession (named after the
# view), but a view name is unique only within one metadata dir. Per
# session: sink name → the metadata dir whose standing query last
# started that sink. Engines over other dirs never read its rows. Keyed
# weakly by the session, the object whose name space is shared — no
# single Engine can hold this.
_SINK_OWNERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _repoint_table(query: str, name: str, tmp_name: str) -> str:
    """Rewrite references to table ``name`` in ``query`` to ``tmp_name``,
    case-insensitively and outside string literals only (a predicate
    like WHERE label = 'v' keeps its literal)."""
    mask = _outside_string_mask(query)
    return re.sub(
        rf"\b{re.escape(name)}\b",
        lambda m: tmp_name if mask[m.start()] else m.group(0),
        query,
        flags=re.IGNORECASE,
    )


def _view_qnames(name: str) -> set[str]:
    """Every streaming-query name a view may run under: the public name
    (plain memory), the sw per-step partial sink, and the combine()
    matrel sink."""
    return {name, f"{name}__sw_raw", f"{name}__mrel"}


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        metadata_dir: str = ".pipeline_kinesis_spark",
        trigger_interval: str = "500 milliseconds",
        state_store: str | None = None,
        shuffle_partitions: int | None = None,
    ):
        self.spark = spark
        ship_package(spark)
        # Per-engine shuffle width for the STANDING queries this engine
        # starts (ingest/views/transforms). Structured Streaming
        # snapshots spark.sql.shuffle.partitions into each query's
        # checkpoint at start, and every stateful operator then pays one
        # state-store partition (plus task) per shuffle partition per
        # micro-batch — so the width should follow the pipeline's data
        # volume, not whatever the shared session happens to default to
        # (32 here, 200 stock). Tune UP for wide keyspaces on a real
        # cluster, DOWN for small replays; None = inherit the session.
        # Applied under pinned_shuffle's process-wide lock so concurrent
        # engines/gate rows can't leak widths into each other's starts.
        self._shuffle_partitions = shuffle_partitions
        if state_store == "rocksdb":
            # streaming state spills to disk instead of executor heap —
            # the right provider once view/dedup state outgrows memory
            # (100 TB keyspaces). Must be set before queries start.
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        elif state_store is not None:
            raise ValueError(f"unknown state_store {state_store!r}")
        self.metadata_dir = os.path.abspath(metadata_dir)
        self.catalog = Catalog(self.metadata_dir)
        self.trigger_interval = trigger_interval
        # consumer id → list[StreamingQuery]; registry mutex mirrors the
        # reference's consumer lock (pipeline_kinesis.c:830-849).
        self._queries: dict[int, list[StreamingQuery]] = {}
        # transform name → per-batch callable (THEN EXECUTE PROCEDURE);
        # process-local by nature, re-registered after restart.
        self._procs: dict[str, object] = {}
        # consumer id → (relation, parsed streaming DF) — kept so
        # ACTIVATE can wire a query onto an already-running consumer.
        self._parsed: dict[int, tuple[str, DataFrame]] = {}
        self._lock = threading.RLock()
        # per-upsert-store mutex: the manifest design assumes a single
        # writer per store (continuous_view.py manifest note). The
        # view's foreachBatch merge and the synchronous ttl_expire()
        # sweep both rewrite buckets and republish the manifest, and
        # both run on driver threads of THIS engine — serializing them
        # here keeps the single-writer invariant without deactivating
        # the view for the sweep.
        self._store_locks: dict[str, threading.Lock] = {}
        # wire-time pins of memory-view contents, served while a
        # restarted sink query hasn't repopulated its table yet
        # (see _snapshot_memory_sink)
        self._memview_snapshots: dict[str, tuple] = {}
        # endpoint name → injected Kinesis client (boto3-shaped). Like
        # _procs, clients are process-local by nature: re-register after
        # a restart (production builds one from the endpoint row via
        # make_boto3_client when none is registered).
        self._kinesis_clients: dict[str, object] = {}
        self._kinesis_client_factories: dict[str, str] = {}
        # auto spool-reap cadence (spool_keep_seconds consumers):
        # listdir cost per sweep, so gated; tests shrink it
        self._spool_reap_interval_s = 30.0
        # consumer id → running KinesisPump background thread
        self._pumps: dict[int, KinesisPump] = {}
        # view names whose CURRENT standing query was started with
        # output-stream emission on — lets chain wiring skip a needless
        # base restart when emission is already flowing
        self._emitting: set[str] = set()

    # ------------------------------------------------------------- catalog

    def add_endpoint(
        self,
        name: str,
        region: str = "local",
        credfile: str | None = None,
        url: str | None = None,
    ) -> None:
        self.catalog.add_endpoint(Endpoint(name, region, credfile, url))

    def remove_endpoint(self, name: str) -> None:
        self.catalog.remove_endpoint(name)
        self._kinesis_clients.pop(name, None)
        self._kinesis_client_factories.pop(name, None)

    def register_kinesis_client(self, endpoint: str, client) -> None:
        """Bind a boto3-shaped Kinesis client to an endpoint: any object
        exposing describe_stream / get_shard_iterator / get_records.
        consume_begin on this endpoint then runs the full consumer
        protocol (discovery, iterator resolution, backoff, reshard
        draining) on a managed background pump instead of reading
        record files. Process-local like transform procs — re-register
        after a restart (or leave unregistered and let production build
        a real boto3 client from the endpoint's region/credfile/url)."""
        self.catalog.endpoint(endpoint)  # must exist
        self._kinesis_clients[endpoint] = client

    def register_kinesis_client_factory(
        self, endpoint: str, factory: str
    ) -> None:
        """Bind a "module:attr" factory string resolving to a zero-arg
        callable that builds a boto3-shaped Kinesis client. Unlike
        register_kinesis_client (an in-process OBJECT, driver-only),
        a factory string can ship to executor tasks — it is what the
        executor-parallel datasource path uses when the endpoint row
        alone cannot build a boto3 client (tests; exotic auth)."""
        self.catalog.endpoint(endpoint)  # must exist
        self._kinesis_client_factories[endpoint] = factory

    def create_stream(self, name: str, schema_ddl: str) -> None:
        self.catalog.create_stream(StreamDef(name, schema_ddl))

    def drop_stream(self, name: str) -> None:
        self.catalog.drop_stream(name)

    def create_continuous_view(
        self,
        name: str,
        sql: str,
        stream: str,
        output_mode: str = "complete",
        materialize: str = "memory",
        key_cols: list[str] | None = None,
        ttl_seconds: int | None = None,
        ttl_column: str | None = None,
        sw_seconds: int | None = None,
        sw_step_seconds: int | None = None,
        upsert_buckets: int | None = None,
        osrel_keep_batches: int | None = _OSREL_KEEP_UNSET,
        watermark_column: str | None = None,
        watermark_delay_seconds: int | None = None,
    ) -> None:
        """ttl_seconds/ttl_column mirror PipelineDB's
        `WITH (ttl='...', ttl_column='...')`: view rows whose ttl_column
        falls more than ttl behind the wall clock are expired — reaped at
        write time for parquet_upsert views (state stays bounded), filtered
        at read time (view_table) for memory views.

        sw_seconds mirrors PipelineDB's `WITH (sw = '...')` sliding-window
        views: reads always answer over the trailing window. The standing
        query maintains per-(group, step) PARTIAL aggregates (step =
        sw_step_seconds, default sw/20) and view_table recombines the live
        steps — aggregates must be combinable count/sum/min/max with
        aliases, the PipelineDB sw restriction, plus
        approx_count_distinct (kept as per-step mergeable HLL sketches,
        union-estimated at read — PipelineDB's own sw count(DISTINCT)
        mechanism). Exact DISTINCT is rejected: per-step distinct
        partials don't combine.

        Two sw materializations:
        - ``memory`` (default): complete-mode partials in the memory
          sink. Simple and exact, but expired steps are only filtered at
          READ time — complete mode never evicts aggregation state, so
          partials grow with process runtime (one row per group per step
          ever touched). Fine for sessions; use the durable form for
          long-running deployments.
        - ``parquet_upsert``: the production form, PipelineDB-step-GC
          equivalent. Update-mode partials under an event-time watermark
          (per-bucket aggregation state EVICTS two steps behind the
          max arrival) upserted into a parquet store keyed on
          (group cols, bucket) whose merge-time TTL reaper drops buckets
          past sw + 2 steps — state AND store bounded by the window at
          any runtime."""
        self._validate_osrel_source(stream)
        if (watermark_column is None) != (watermark_delay_seconds is None):
            raise ValueError(
                "watermark_column and watermark_delay_seconds go together"
            )
        if watermark_column is not None:
            if sw_seconds is not None:
                # sw views carry their own arrival_timestamp watermark
                # (see _view_stream_df) — two watermarks on one stream
                # would race on eviction
                raise ValueError("sw views manage their own watermark")
            if output_mode == "complete":
                # Spark's complete mode never evicts aggregation state,
                # so late rows would be silently ACCEPTED — reject
                # rather than ship a watermark that does nothing
                raise ValueError(
                    "watermark views need append or update output "
                    "(complete mode never drops late data)"
                )
        sw_aggs = sw_group_cols = sw_having = None
        combine_aggs = None
        if sw_seconds is None:
            # combine() support (PipelineDB re-aggregation at coarser
            # groupings): best-effort SELECT-list analysis; decomposable
            # aggregates make the standing query carry hidden partial
            # state. sw views get their combine map from sw_aggs below —
            # their recombined count/sum/min/max finals are themselves
            # combinable.
            combine_aggs = parse_combine_view_sql(sql)
        if sw_seconds is not None:
            if ttl_seconds is not None:
                raise ValueError("sw and ttl are mutually exclusive")
            sw_step_seconds = sw_step_seconds or max(sw_seconds // 20, 1)
            if sw_step_seconds > sw_seconds:
                raise ValueError("sw_step must not exceed sw")
            # HAVING never reaches the standing query: it is stripped
            # here and applied to the RECOMBINED window at read time
            # (view_table) — PipelineDB's overlay-view placement. A
            # per-step HAVING would silently drop groups that pass over
            # the window but in no single step.
            base_sql, sw_having = split_having(sql)
            sw_group_cols, sw_aggs = parse_sw_view_sql(base_sql)
            # combine() over an sw view merges the per-(group, step)
            # PARTIALS inside the live window — count/sum/min/max
            # combine arithmetically and approx_count_distinct unions
            # the stored HLL sketches (set semantics across both steps
            # AND regrouped keys, never sum-of-estimates).
            combine_aggs = {
                a: {"fn": fn, "arg": a} for a, fn in sw_aggs.items()
            } or None
            if sw_having is not None:
                validate_having(
                    sw_having, set(sw_group_cols) | set(sw_aggs)
                )
            if materialize == "parquet_upsert":
                # durable sw: per-step partials keyed by (groups, bucket)
                # upserted each batch; the merge's TTL reaper drops
                # buckets past the retention, and the update-mode query
                # runs under a watermark so per-bucket aggregation state
                # evicts too — sw state bounded by the WINDOW, not by
                # process lifetime (closes the memory-mode retention gap).
                if key_cols is not None:
                    # the key IS derived: (group cols, step bucket). A
                    # caller-supplied key that omits the bucket would
                    # upsert-overwrite partials across steps and silently
                    # undercount the recombined window.
                    raise ValueError(
                        "sw parquet_upsert views derive key_cols "
                        "(group columns + window bucket); do not pass it"
                    )
                key_cols = [*sw_group_cols, SW_BUCKET_COL]
                ttl_seconds = sw_seconds + 2 * sw_step_seconds
                ttl_column = f"{SW_BUCKET_COL}.end"
                output_mode = "update"
            elif materialize != "memory":
                raise ValueError(
                    "sw views support memory or parquet_upsert "
                    "materialization"
                )
        elif sw_step_seconds is not None:
            raise ValueError("sw_step requires sw")
        if materialize == "parquet_upsert" and not key_cols:
            raise ValueError("parquet_upsert materialization requires key_cols")
        if (ttl_seconds is None) != (ttl_column is None):
            raise ValueError("ttl_seconds and ttl_column go together")
        if osrel_keep_batches is _OSREL_KEEP_UNSET:
            # bounded by default; None stays the explicit
            # audit-everything opt-in
            osrel_keep_batches = OSREL_KEEP_DEFAULT
        self.catalog.create_view(
            ViewDef(
                name,
                sql,
                stream,
                output_mode,
                materialize,
                key_cols,
                ttl_seconds,
                ttl_column,
                sw_seconds=sw_seconds,
                sw_step_seconds=sw_step_seconds,
                sw_aggs=sw_aggs,
                sw_group_cols=sw_group_cols,
                sw_having=sw_having,
                upsert_buckets=upsert_buckets,
                combine_aggs=combine_aggs,
                osrel_keep_batches=osrel_keep_batches,
                watermark_column=watermark_column,
                watermark_delay_seconds=watermark_delay_seconds,
            )
        )
        # PipelineDB starts materializing the moment the view exists —
        # wire it onto any consumer already running for its stream
        # (consumers started later pick it up in consume_begin).
        with self._lock:
            vd_live = ViewDef(**self.catalog.state.views[name])
            for cid, (relation, good) in self._parsed.items():
                self._wire_view(cid, relation, good, vd_live)

    def _validate_osrel_source(self, stream: str) -> None:
        """A standing query reading ``<v>_osrel`` chains on view v's
        output stream — v must exist and be a parquet_upsert view (the
        only materialization whose merge sees old and new rows
        together). Checked here so the error surfaces at CREATE, not at
        consume_begin. A DECLARED stream whose name merely ends in
        ``_osrel`` is not an output stream — same precedence as
        catalog._is_source_relation (streams checked first), so the two
        validators agree."""
        m = OSREL_RE.match(stream)
        if not m or stream in self.catalog.state.streams:
            return
        base = self.catalog.state.views.get(m.group(1))
        if base is None:
            raise KeyError(
                f"output stream {stream!r} has no continuous view "
                f"{m.group(1)!r}"
            )
        if base.get("materialize") != "parquet_upsert":
            raise ValueError(
                "output streams are emitted by parquet_upsert views; "
                f"{m.group(1)!r} materializes as "
                f"{base.get('materialize')!r}"
            )

    def output_stream(self, view_name: str) -> DataFrame:
        """Batch read of a view's output stream history — every (old,
        new, arrival_timestamp) delta tuple emitted so far. The live
        streaming form is a chained view/transform FROM
        ``<view>_osrel`` (SQL: ``FROM output_of('view')``)."""
        d = self.osrel_dir(view_name)
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(d)
        )

    def _view_compile_sql(self, view: ViewDef) -> str:
        """The SQL the standing query actually runs: sw views compile to
        their per-step partial form, with any HAVING stripped (it
        belongs to the read-time recombination, never to partials)."""
        if view.sw_seconds is not None:
            return sw_rewrite_sql(
                split_having(view.sql)[0], view.sw_step_seconds
            )
        if view.combine_aggs:
            # hidden partial-state columns ride the same hash-aggregate
            # pass as the user's aggregates — combine() maintenance is
            # free at write time
            return combine_rewrite_sql(view.sql, view.combine_aggs)
        return view.sql

    def _view_stream_df(self, view: ViewDef, src: DataFrame) -> DataFrame:
        """Durable sw views aggregate under an event-time watermark on
        arrival_timestamp so update-mode per-bucket state EVICTS once the
        bucket falls two steps behind the max observed arrival — without
        it the windowed aggregation keeps every bucket ever touched."""
        if (
            view.sw_seconds is not None
            and view.materialize == "parquet_upsert"
        ):
            return src.withWatermark(
                "arrival_timestamp", f"{2 * view.sw_step_seconds} seconds"
            )
        if view.watermark_column is not None:
            # B25 explicit event-time watermark: late rows behind
            # max(event_time) - delay are dropped. NB: Catalyst pushes
            # deterministic WHERE predicates BELOW the watermark node,
            # so rows the view SQL filters out do NOT advance the
            # watermark — a heartbeat/sentinel record must survive the
            # view's own predicates to move event time forward.
            return src.withWatermark(
                view.watermark_column,
                f"{view.watermark_delay_seconds} seconds",
            )
        return src

    def create_continuous_transform(
        self,
        name: str,
        sql: str,
        stream: str,
        sink_relation: str | None = None,
        proc=None,
    ) -> None:
        """CREATE CONTINUOUS TRANSFORM analog (PipelineDB surface): `sql`
        must be row-wise (no aggregation — it runs in append mode). Output
        rows append to `sink_relation` (queryable via stream_table / sql,
        like PipelineDB's output stream), and/or `proc(batch_df, batch_id)`
        runs per micro-batch (THEN EXECUTE PROCEDURE). Callables can't be
        persisted: after a process restart, re-register the proc by calling
        this again before consume_begin (the catalog row itself survives).
        """
        if sink_relation is None and proc is None:
            raise ValueError("transform needs a sink_relation and/or a proc")
        self._validate_osrel_source(stream)
        self.catalog.create_transform(
            TransformDef(name, sql, stream, sink_relation)
        )
        if proc is not None:
            self._procs[name] = proc
        # start on already-running consumers of the stream (PipelineDB
        # semantics: transforms run as soon as they exist)
        with self._lock:
            td_live = TransformDef(
                **self.catalog.state.transforms[name]
            )
            for cid, (relation, good) in self._parsed.items():
                self._wire_transform(cid, relation, good, td_live)

    def drop_continuous_transform(self, name: str) -> None:
        """Stop the transform's standing query and unregister it (running
        consumers keep ingesting — same contract as dropping a view)."""
        with self._lock:
            self.catalog.drop_transform(name)
            self._procs.pop(name, None)
            self._stop_queries("transform", name)

    def drop_continuous_view(self, name: str) -> None:
        """Unregister the view and stop any running query materializing it
        (running consumers keep ingesting; only this view's maintenance
        stops — the PipelineDB DROP CONTINUOUS VIEW contract). A view
        with standing output-stream consumers cannot be dropped — drop
        the dependents first (PipelineDB's dependent-object error)."""
        with self._lock:
            osrel = f"{name}_osrel"
            deps = [v.name for v in self.catalog.views_on(osrel)] + [
                t.name for t in self.catalog.transforms_on(osrel)
            ]
            if deps:
                raise ValueError(
                    f"continuous view {name!r} has output-stream "
                    f"consumers {deps}; drop them first"
                )
            self._stop_queries("view", name)
            self.catalog.drop_view(name)
            for sink in _view_qnames(name):
                self._memview_snapshots.pop(sink, None)

    # --------------------------------------------------------------- paths

    def table_dir(self, relation: str) -> str:
        return os.path.join(self.metadata_dir, "tables", relation)

    def dead_letter_dir(self, relation: str) -> str:
        return os.path.join(self.metadata_dir, "dead_letter", relation)

    def view_dir(self, view_name: str) -> str:
        return os.path.join(self.metadata_dir, "views", view_name)

    def osrel_dir(self, view_name: str) -> str:
        """Directory backing the view's output stream (PipelineDB
        ``<view>_osrel``): one ``b<batch>`` subdir of delta tuples per
        upsert batch."""
        return os.path.join(self.metadata_dir, "osrel", view_name)

    def _store_lock(self, view_name: str) -> threading.Lock:
        """The single-writer mutex for one view's upsert store (created
        on first use; _lock guards the registry itself)."""
        with self._lock:
            return self._store_locks.setdefault(
                view_name, threading.Lock()
            )

    def _ckpt(self, cid: int, kind: str, entity: str = "") -> str:
        """Checkpoint path for one standing query. PURE — no side
        effects; callable from gap checks or diagnostics while a query
        may be mid-batch. The batch-0 debris reset lives in
        _reset_batch0_debris and runs only via _ckpt_for_start,
        immediately before writeStream.start(). Given the query's
        _query_kind pair (``kind``, ``entity``), this is the one naming
        rule of every start site and pipeline_query_stats."""
        if entity and kind != "ingest":
            kind = f"{kind}_{entity}"
        return os.path.join(
            self.metadata_dir, "checkpoints", str(cid), kind
        )

    @staticmethod
    def _ckpt_has_committed_batch(path: str) -> bool:
        """True iff the checkpoint's offset log holds at least one
        committed (digit-named) batch. FAIL-SAFE: a transient OSError
        on the listing (EMFILE, permission blip, NFS hiccup) reports
        True — callers must then KEEP the checkpoint and let Spark
        surface the real error, never destroy state on a read failure
        (ADVICE r14 #1)."""
        off = os.path.join(path, "offsets")
        try:
            return os.path.isdir(off) and any(
                n.isdigit() for n in os.listdir(off)
            )
        except OSError:
            return True

    def _reset_batch0_debris(self, path: str) -> str:
        """Batch-0 debris hygiene (r14, found by tools/fuzz_lifecycle.py):
        consume_end can interrupt Spark's offset-log write between the
        temp-file create and its atomic rename, leaving a checkpoint
        whose offset log holds a `.tmp` stub but NO committed batch.
        Spark 4.1's verifyCheckpointDirectoryEmptyOnStart guard
        (default on) then refuses the resume outright
        (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY: "should be empty
        on batch 0"). A checkpoint with no committed offsets batch
        never got past batch 0, so resetting it for a clean first
        start loses nothing — the exactly-once contract rides the
        sink side (batch-id publish marks, attained-position pins),
        where such a query recorded nothing. A checkpoint WITH a
        committed batch — or one whose offset log can't be LISTED
        (fail-safe: only wipe when the listing positively shows no
        committed batch) — resumes untouched. Destructive, so called ONLY from
        _ckpt_for_start immediately before a query start (ADVICE r14
        #2: a path-getter with a destructive side effect was safe only
        while every caller preceded query start)."""
        if os.path.isdir(path) and not self._ckpt_has_committed_batch(
            path
        ):
            shutil.rmtree(path, ignore_errors=True)
        return path

    def _ckpt_for_start(self, cid: int, kind: str, entity: str = "") -> str:
        """Checkpoint path for a query that is about to START — applies
        the batch-0 debris reset. Every `.option("checkpointLocation",
        ...)` site uses this; everything else uses the pure _ckpt."""
        return self._reset_batch0_debris(self._ckpt(cid, kind, entity))

    def _ds_state_dir(self, consumer_id: int) -> str:
        """Attained-position metadata for the executor-parallel
        datasource path — pairs 1:1 with the consumer's checkpoints
        (wipe both together or neither)."""
        return os.path.join(
            self.metadata_dir, "dsstate", str(consumer_id)
        )

    # ------------------------------------------------------------- consume

    def consume_begin(
        self,
        endpoint: str,
        stream: str,
        relation: str,
        fmt: str = "text",
        delimiter: str = "\t",
        quote: str | None = None,
        escape: str | None = None,
        batchsize: int = 1000,
        parallelism: int = 1,
        start_position: str = "trim_horizon",
        rate_limit_rps: float | None = None,
        source: str = "auto",
        spool_keep_seconds: float | None = None,
        dedup: bool | str = False,
    ) -> Consumer:
        """Start ingesting `stream` (a directory under the endpoint url)
        into the declared `relation`, then wire every active continuous
        view and transform whose chain roots at that relation — on the
        relation itself, on a view's output stream (at any depth), or
        on the sink of a transform on the relation — through
        _wire_view/_wire_transform, in catalog order (each query's
        feeders start before it). If any start fails, every query this
        call started is stopped before the error propagates.

        Defaults mirror the reference (format='text', delimiter=tab,
        batchsize=1000, parallelism=1 — pipeline_kinesis--0.9.0.sql:54-60).
        Restarting an existing consumer resumes from its checkpoints — the
        analog of seqnum recovery (pipeline_kinesis.c:459-536).

        Like the reference (pipeline_kinesis.c:887-892, 931-940) the call
        checks every argument, then writes the consumer row once: the
        ingest path is decided by _resolve_source, which has no side
        effect, and the row persists that RESOLVED path, from which the
        path is built. A refused call leaves the catalog untouched. A
        consumer already running only has its options persisted.

        ``source`` picks the Kinesis ingest architecture:
        - "pump": the managed driver-side polling pump (reference
          bgworker parity; fine up to MAX_PROCS-ish shards);
        - "datasource": the executor-parallel Python DataSource
          (sources/kinesis_datasource.py) — one input partition per
          shard, GetRecords on executors, ingest bandwidth scales with
          the cluster; needs a boto3-reachable endpoint row (or a
          registered client factory), not an injected client object;
        - "auto" (default): the consumer's persisted path on a restart;
          on a first start "datasource" when discovery reports more
          shards than MAX_PROCS (the reference's own worker ceiling,
          pipeline_kinesis.c:54) and the endpoint can serve it, else
          "pump".
        File-feed endpoints always resolve to "file". An explicit
        "pump"/"datasource" that contradicts the persisted path is
        refused: the two paths' checkpoints are not interchangeable.

        ``parallelism`` (clamped to 1..MAX_PROCS) sets the pump's polling
        workers on Kinesis paths, not batch admission: each micro-batch
        there admits everything spooled since the last one, up to the
        spool_admission_cap backstop, and ``batchsize`` x
        ``rate_limit_rps`` is the flow control. On file-feed endpoints
        it caps the files one micro-batch admits (maxFilesPerTrigger).

        ``spool_keep_seconds`` bounds the raw kinesis spool (the record
        files the pump or the datasource ingest query writes and the
        standing queries consume): files older than this are
        auto-reaped during ingestion. None (default) keeps them
        forever — the audit-everything behavior;
        at scale pass a retention comfortably above the slowest
        standing query's lag (see reap_spool for the safety contract).
        """
        with self._lock:
            ep = self.catalog.endpoint(endpoint)
            sd = self.catalog.stream(relation)
            it_type = iterator_type(start_position)[0]
            prev = self.catalog.find_consumer(endpoint, stream, relation)
            old_landing = prev and self._ckpt(prev.id, "kds_landing")
            if old_landing and os.path.isdir(old_landing):
                # old two-query datasource layout: spool files it landed
                # but never archived would never reach the archive
                raise ValueError(
                    f"{old_landing} is the checkpoint of a separate "
                    "landing query, which this engine no longer runs; "
                    "move the consumer's checkpoints, dsstate and spool "
                    "aside to re-ingest from start_position"
                )
            self._restore_compacted(relation)
            for d in (self.table_dir(relation), self.dead_letter_dir(relation)):
                if os.path.isdir(os.path.join(d, "_spark_metadata")):
                    raise ValueError(
                        f"{d} holds an old file-sink _spark_metadata log, "
                        "which readers would honour over newly published "
                        "files; move it aside first"
                    )
            running = prev is not None and bool(self._queries.get(prev.id))
            path, client, n_live_shards = self._resolve_source(
                endpoint, ep, stream, source, prev, running
            )
            if spool_keep_seconds is not None and path == "file":
                # the file-feed path reads the caller's own directory
                # directly — there is no engine-owned spool to reap, and
                # silently accepting the knob would let a user believe
                # their landing area is retention-bounded when it isn't
                raise ValueError(
                    "spool_keep_seconds applies to kinesis consumers "
                    "only (file-feed consumers read the source "
                    "directory directly; nothing is spooled)"
                )
            parallelism = min(max(parallelism, 1), MAX_PROCS)
            resolved_position = prev.resolved_position if prev else None
            if path == "file":
                # file feeds: the caller's own directory, where this
                # cap is the only flow control (A11)
                replay_src = FileReplaySource(
                    os.path.join(ep.url, stream),
                    max_files_per_trigger=parallelism,
                )
                if (
                    not running
                    and it_type == "LATEST"
                    and resolved_position is None
                ):
                    resolved_position = self._latest_snapshot(replay_src)
            consumer = self.catalog.upsert_consumer(
                Consumer(
                    id=0,
                    endpoint=endpoint,
                    stream=stream,
                    relation=relation,
                    format=fmt,
                    delimiter=delimiter,
                    quote=quote,
                    escape=escape,
                    batchsize=batchsize,
                    parallelism=parallelism,
                    start_position=start_position,
                    rate_limit_rps=rate_limit_rps,
                    spool_keep_seconds=spool_keep_seconds,
                    source=path,
                    dedup=dedup,
                    resolved_position=resolved_position,
                )
            )
            if running:
                return consumer

            pump: KinesisPump | None = None
            if path == "file":
                records = self._apply_start_position(
                    consumer, replay_src.read_stream(self.spark)
                )
            else:
                # the engine-owned record spool both Kinesis paths land
                # into and the ingest pipeline replays from
                spool = os.path.join(
                    self.metadata_dir, "spool", str(consumer.id)
                )
                os.makedirs(spool, exist_ok=True)
                reap_spool = self._spool_reaper(spool, spool_keep_seconds)
                cfg = KinesisSource(
                    stream_name=stream,
                    region=ep.region or "local",
                    endpoint_url=ep.url,
                    credfile=ep.credfile,
                    start_position=start_position,
                    batch_size=batchsize,
                    max_fetch_rate_per_shard=rate_limit_rps or 4.0,
                )
                records = FileReplaySource(
                    spool,
                    max_files_per_trigger=spool_admission_cap(n_live_shards),
                ).read_stream(self.spark)
            if path == "datasource":
                # Executor-parallel ingest (sources/kinesis_datasource.py):
                # one input partition per shard, GetRecords polled ON
                # executors. The ingest query is the source's one reader
                # (its attained side-channel is single-consumer) and
                # lands each batch in the spool the views fan out from
                # (see _ingest). Offsets live in its checkpoint and the
                # attained files, which seqnums() reads.
                ds_raw = cfg.read_stream(
                    self.spark,
                    state_dir=self._ds_state_dir(consumer.id),
                    client_factory=self._kinesis_client_factories.get(
                        endpoint
                    ),
                    # one scheduling wave per trigger: when live shards
                    # outnumber the cluster's task slots, the reader
                    # packs shards round-robin into at most this many
                    # group partitions (per-shard pacing/caps/replay
                    # pins unchanged) — 128 shards on local[32] was 4
                    # waves per 100 ms batch, measured 1.6x slower
                    # than 64 shards despite half the data
                    max_partitions=max(
                        self.spark.sparkContext.defaultParallelism,
                        parallelism,
                    ),
                )
            elif path == "pump":
                # full consumer protocol on a managed background pump
                # (reference consume_thread, kinesis_consumer.cpp:
                # 328-332, 364-434): poller → record spool → the same
                # FileReplaySource→parse→view pipeline as file feeds.
                # The poller resolves start position SERVER-side (and a
                # catalog checkpoint always wins), so no driver-side
                # seqnum filtering — kinesis seqnums need not compare
                # lexicographically.
                poller = cfg.poller(
                    client,
                    checkpoints=self.catalog.load_kinesis_seqnums(
                        consumer.id
                    ),
                )
                # reference save_consumer_state parity: persist the
                # per-shard COMMITTED (spooled) positions after every
                # landing round. snapshot+write happen under ONE lock:
                # with parallelism>1 each worker thread lands rounds
                # independently, and an unserialized pair would let a
                # worker holding an older snapshot os.replace over a
                # newer one — a restart would then resume BEFORE
                # already-spooled records and re-ingest them. Within
                # the lock, snapshots are taken in write order and the
                # checkpoint map only ever advances per shard, so the
                # last write is always the newest.
                persist_lock = threading.Lock()

                def _persist_round(
                    n,
                    _cid=consumer.id,
                    _p=poller,
                    _lk=persist_lock,
                    _reap=reap_spool,
                ):
                    with _lk:
                        self.catalog.save_kinesis_seqnums(
                            _cid, _p.snapshot_checkpoints()
                        )
                    _reap()

                pump = KinesisPump(
                    KinesisReplayBridge(poller, spool),
                    rate_per_shard=cfg.max_fetch_rate_per_shard,
                    on_round=_persist_round,
                    name=f"kinesis_pump_c{consumer.id}",
                    # A4 parity: shards partition across up to
                    # MAX_PROCS polling workers (parallelism is already
                    # clamped above)
                    workers=parallelism,
                )
            records = _dedup(records, dedup)
            if path == "datasource":
                ingest_src = _dedup(ds_raw, dedup)
            else:
                # the ingest query reads the records; only on the
                # datasource path does it land (and reap) the spool
                ingest_src, spool, reap_spool = records, None, None
            parsed = parse_records(
                records, sd.schema_ddl, fmt, delimiter, quote, escape
            )
            good = split_quarantine(parsed)[0]
            tag = f"c{consumer.id}"

            # one parse per micro-batch: good rows to the archive, bad
            # ones (if any) to the dead-letter quarantine (the reference
            # drops the whole batch, pipeline_kinesis.c:740-758). A
            # datasource batch is persisted (a second read would re-run
            # GetRecords) and spooled before the archive write; a crash
            # between the two publishes replays it under the same spool
            # names, and the archive mark archives it once. A batch that
            # spools no file is empty: the reader plans one every
            # trigger, and archiving it would add a footer-only parquet
            # file each time (the reference COPYs non-empty batches
            # only, pipeline_kinesis.c:725-758).
            def _ingest(
                bdf, bid, _tag=tag, _arch=self.table_dir(relation),
                _dl=self.dead_letter_dir(relation),
                _spool=spool, _reap=reap_spool,
            ):
                if _reap is not None:
                    _reap()
                if bid <= _published_through(_arch, _tag):
                    return
                if _spool is not None:
                    bdf.persist()
                parsed_b = parse_records(
                    bdf, sd.schema_ddl, fmt, delimiter, quote, escape
                ).persist()
                try:
                    if _spool is not None:
                        tmp = _staging_dir(_spool, _tag, bid)
                        bdf.write.mode("overwrite").json(tmp)
                        if not _publish_batch(
                            _tag, bid, [(tmp, _spool)], ".jsonl"
                        ):
                            return
                    good_b, bad_b = split_quarantine(parsed_b)
                    staged = [(_staging_dir(_arch, _tag, bid), _arch)]
                    good_b.write.mode("overwrite").parquet(staged[0][0])
                    if not bad_b.isEmpty():
                        staged.append((_staging_dir(_dl, _tag, bid), _dl))
                        bad_b.write.mode("overwrite").parquet(staged[1][0])
                    _publish_batch(_tag, bid, staged, ".parquet")
                finally:
                    parsed_b.unpersist()
                    bdf.unpersist()

            # registered before the first start, so a failure anywhere
            # below stops exactly what this call started
            queries: list[StreamingQuery] = []
            self._queries[consumer.id] = queries
            self._parsed[consumer.id] = (relation, good)
            try:
                queries.append(self._start_query(
                    ingest_src.writeStream.foreachBatch(
                        _guarded_batch(_ingest)
                    ),
                    f"ingest_{relation}_c{consumer.id}",
                    consumer.id, "ingest", relation,
                ))
                # every active view, then every active transform, in
                # catalog order through the same wiring CREATE and
                # ACTIVATE use; chain resolution starts each query's
                # feeders first, so the list stays in dependency order.
                # Snapshots: a concurrent CREATE writes the catalog
                # before it takes self._lock.
                for v in list(self.catalog.state.views.values()):
                    vd = ViewDef(**v)
                    if vd.active:
                        self._wire_view(consumer.id, relation, good, vd)
                for t in list(self.catalog.state.transforms.values()):
                    td = TransformDef(**t)
                    if td.active:
                        self._wire_transform(consumer.id, relation, good, td)
            except BaseException:
                self._stop_consumer(consumer.id)
                raise
            if pump is not None:
                # start polling only after every standing query is up so
                # a pump error never races engine wiring
                pump.start()
                self._pumps[consumer.id] = pump
            return consumer

    def _resolve_source(
        self,
        endpoint: str,
        ep: Endpoint,
        stream: str,
        source: str,
        prev: Consumer | None,
        running: bool,
    ) -> tuple[str, object, int]:
        """consume_begin's one ingest-path decision. Runs every check on
        the endpoint and ``source`` with no side effect, and returns the
        path ("file", "pump" or "datasource"), the Kinesis client it
        built or looked up (None on a file feed or a running consumer)
        and the live shard count when it read one (0 otherwise). The
        one DescribeStream call feeds both the auto threshold and the
        datasource's spool_admission_cap; a running consumer keeps its
        persisted path and makes none."""
        # kinesis-typed endpoints carry an injected client, or no
        # local source directory to replay from (url absent, or a
        # scheme:// URL — the reference's AWS endpoint url);
        # file-replay endpoints always carry a plain directory
        # path, whatever region string they declare
        injected = endpoint in self._kinesis_clients
        factory = self._kinesis_client_factories.get(endpoint)
        url_is_dir = bool(ep.url) and not re.match(
            r"^[a-z][a-z0-9+.-]*://", ep.url
        )
        if (
            not injected
            and factory is None
            and not ep.url
            and (ep.region or "local") == "local"
        ):
            # plainly misconfigured: nothing to replay, no client or
            # client factory, no region to build one from — fail
            # here, not in the pump thread
            raise ValueError(
                f"endpoint {endpoint!r} has no source url and no "
                "kinesis client (register_kinesis_client or "
                "register_kinesis_client_factory, or set url/region)"
            )
        is_kinesis = injected or not url_is_dir
        # consume_begin_all restarts a file-feed consumer with its
        # persisted source, "file"
        modes = ("auto", "pump", "datasource") + (
            () if is_kinesis else ("file",)
        )
        if source not in modes:
            raise ValueError(f"unknown source mode {source!r}")
        if not is_kinesis:
            return "file", None, 0
        kinesis_paths = ("pump", "datasource")
        persisted = (
            prev.source if prev and prev.source in kinesis_paths else None
        )
        if persisted and source in kinesis_paths and source != persisted:
            # an EXPLICIT source that conflicts with the persisted
            # resolution would restart on the other path and
            # resume from checkpoints that path never wrote,
            # re-ingesting from start_position — the exact
            # duplicate window the persisted resolution closes.
            # consume_end drops the consumer (and its checkpoint
            # domain) for a deliberate mode switch.
            raise ValueError(
                f"consumer for {stream!r} previously ingested via "
                f"source={persisted!r}; restarting with "
                f"source={source!r} would resume from checkpoints "
                f"the {source!r} path never wrote (duplicate "
                f"ingest). consume_end first to switch ingest "
                f"modes, or pass source='auto' / "
                f"source={persisted!r}."
            )
        if running:
            return prev.source, None, 0
        # "auto" on a restart reuses the persisted path: pump
        # checkpoints (catalog seqnums) and datasource offsets (Spark
        # WAL + attained files) are not interchangeable, so re-rolling
        # the decision could resume from checkpoints the original path
        # never wrote and re-ingest from start_position (duplicates)
        path = persisted if source == "auto" and persisted else source
        # an injected client OBJECT is driver-only; the datasource
        # needs executors to build their own (factory string, or a
        # boto3-usable endpoint row)
        ds_capable = factory is not None or not injected
        if path == "datasource" and not ds_capable:
            raise ValueError(
                "source='datasource' needs a boto3-usable "
                "endpoint row or register_kinesis_client_"
                "factory — an injected client object "
                "cannot ship to executors"
            )
        if path == "auto" and not ds_capable:
            path = "pump"
        client = self._kinesis_clients.get(endpoint)
        if client is None:
            # built fresh per consume_begin (never cached): a
            # factory may hand out a different client each call
            client = build_client(factory, ep.region, ep.credfile, ep.url)
        n_live_shards = 0
        if path != "pump":
            # discovery failure is not fatal: the auto decision falls
            # to the pump, which surfaces it properly, and the
            # admission backstop to its floor
            try:
                n_live_shards = len(describe_all_shards(client, stream))
            except Exception as exc:  # noqa: BLE001
                if isinstance(exc, (NameError, AttributeError, TypeError)):
                    raise  # programming error, never swallow
        if path == "auto":
            # the reference's own worker ceiling (MAX_PROCS=8,
            # pipeline_kinesis.c:54): beyond it, shard-parallel
            # executor ingest wins
            path = "datasource" if n_live_shards > MAX_PROCS else "pump"
        spec = self.spark.sparkContext.getConf().get(
            "spark.speculation", "false"
        )
        if path == "datasource" and str(spec).lower() == "true":
            # the attained side-channel pins replays first-writer-wins
            # per (epoch, start), which removes the record-LOSS window —
            # but a speculative attempt whose output commits after
            # losing the pin race could still duplicate a tail; refuse
            # rather than weaken exactly-once
            raise ValueError(
                "source='datasource' requires "
                "spark.speculation=false (speculative task "
                "attempts race the attained-position pin)"
            )
        return path, client, n_live_shards

    # ---------------------------------------- ACTIVATE / DEACTIVATE

    def deactivate(self, name: str) -> None:
        """DEACTIVATE analog: stop maintaining the named continuous view
        or transform. Definition and materialized state stay; consumers
        keep ingesting."""
        with self._lock:
            kind = self.catalog.set_active(name, False)
            self._stop_queries(kind, name)

    def _stop_queries(
        self, kind: str, name: str, cid: int | None = None
    ) -> None:
        """Stop and unregister the standing queries _query_kind names
        (kind, name), on consumer `cid` or, when cid is None, on every
        running consumer; the consumers themselves keep ingesting."""
        lists = self._queries.values() if cid is None else [self._queries[cid]]
        key = (kind, name)
        for queries in lists:
            for q in [q for q in queries if self._query_kind(q.name) == key]:
                q.stop()
                queries.remove(q)

    def _runs(self, cid: int, kind: str, name: str) -> bool:
        """True iff a live (kind, name) standing query runs on `cid`."""
        return any(
            q.isActive and self._query_kind(q.name) == (kind, name)
            for q in self._queries[cid]
        )

    def activate(self, name: str) -> None:
        """ACTIVATE analog: resume maintenance of a deactivated view or
        transform on every running consumer of its stream, from its
        checkpoint — no events are lost while deactivated (they are
        replayed/resumed from the archived source)."""
        with self._lock:
            kind = self.catalog.set_active(name, True)
            for cid, (relation, good) in self._parsed.items():
                if kind == "view":
                    vd = ViewDef(**self.catalog.state.views[name])
                    self._wire_view(cid, relation, good, vd)
                else:
                    td = TransformDef(**self.catalog.state.transforms[name])
                    self._wire_transform(cid, relation, good, td)

    def _resolve_chain_source(
        self,
        cid: int,
        relation: str,
        good: DataFrame,
        stream: str,
        _seen: frozenset = frozenset(),
    ) -> DataFrame | None:
        """Resolve the streaming source for `stream` on a running
        consumer of `relation`, starting what feeds it first. One
        recursive rule for every chain: `stream` is the consumer's
        parsed stream itself, a view's output stream (the base view is
        restarted WITH delta emission only if an active query reads that
        stream and it is not already emitting), or the sink relation of
        a transform anywhere in the catalog (the transform is wired
        first when active; an inactive one leaves the sink readable as
        it stands). Whatever feeds a view or transform is resolved the
        same way, to any depth. None when the chain does not root at
        `relation`, or loops back on itself (`_seen`: the streams
        already being resolved)."""
        if stream == relation:
            return good
        if stream in _seen:
            return None
        _seen = _seen | {stream}
        m = OSREL_RE.match(stream)
        if m and m.group(1) in self.catalog.state.views:
            base = ViewDef(**self.catalog.state.views[m.group(1)])
            if not base.active:
                return None
            base_src = self._resolve_chain_source(
                cid, relation, good, base.stream, _seen
            )
            if base_src is None:
                return None
            base_vdf = compile_view(
                self.spark,
                self._view_stream_df(base, base_src),
                base.stream,
                self._view_compile_sql(base),
            )
            base_running = self._runs(cid, "view", base.name)
            delta_dir = self._osrel_delta_dir(base)
            if delta_dir is not None and not (
                base_running and base.name in self._emitting
            ):
                # (re)start the base with emission on — checkpoint
                # resume, nothing lost; an already-emitting base, or
                # one whose output stream no active query reads (an
                # inactive transform's sink only needs its schema), is
                # left untouched (no needless materialization stall)
                self._stop_queries("view", base.name, cid)
                self._queries[cid].append(
                    self._start_view_query(
                        cid, base, base_vdf, delta_dir=delta_dir
                    )
                )
            return self.spark.readStream.schema(
                self._osrel_schema(base_vdf.schema)
            ).parquet(os.path.join(self.osrel_dir(base.name), "b*"))
        for t in list(self.catalog.state.transforms.values()):
            if t.get("sink_relation") != stream:
                continue
            td = TransformDef(**t)
            src = self._resolve_chain_source(
                cid, relation, good, td.stream, _seen
            )
            if src is None:
                continue
            if td.active:
                self._wire_transform(cid, relation, good, td, src)
            tdf = compile_view(self.spark, src, td.stream, td.sql)
            sink_dir = self.table_dir(stream)
            os.makedirs(sink_dir, exist_ok=True)
            return self.spark.readStream.schema(tdf.schema).parquet(sink_dir)
        return None

    def _wire_view(
        self, cid: int, relation: str, good: DataFrame, vd: ViewDef
    ) -> bool:
        """Start vd's standing query on a running consumer of
        `relation` — direct, chained on another view's output stream
        (any depth), or chained on a transform's sink. Idempotent: a
        live query for the view is never double-started. The one view
        wiring path: consume_begin, ACTIVATE and CREATE CONTINUOUS VIEW
        issued while consumers run (PipelineDB starts materializing
        immediately) all come here."""
        if self._runs(cid, "view", vd.name):
            return False
        src = self._resolve_chain_source(cid, relation, good, vd.stream)
        if src is None:
            return False
        m = OSREL_RE.match(vd.stream)
        if m and m.group(1) in self.catalog.state.views:
            self._check_osrel_gap(
                m.group(1),
                self._ckpt(cid, "view", vd.name),
                f"continuous view {vd.name!r}",
            )
        vdf = compile_view(
            self.spark,
            self._view_stream_df(vd, src),
            vd.stream,
            self._view_compile_sql(vd),
        )
        self._queries[cid].append(
            self._start_view_query(
                cid, vd, vdf, delta_dir=self._osrel_delta_dir(vd)
            )
        )
        return True

    def _wire_transform(
        self,
        cid: int,
        relation: str,
        good: DataFrame,
        td: TransformDef,
        src: DataFrame | None = None,
    ) -> bool:
        """Start td's standing query on a running consumer of `relation`
        (idempotent) — direct, or chained on a view's output stream or a
        transform's sink; `src` is td's already-resolved source, if the
        caller has it. The one transform wiring path: consume_begin,
        ACTIVATE and CREATE CONTINUOUS TRANSFORM issued while consumers
        run all come here."""
        if self._runs(cid, "transform", td.name):
            return False
        if src is None:
            src = self._resolve_chain_source(cid, relation, good, td.stream)
        if src is None:
            return False
        m = OSREL_RE.match(td.stream)
        if m and m.group(1) in self.catalog.state.views:
            self._check_osrel_gap(
                m.group(1),
                self._ckpt(cid, "transform", td.name),
                f"continuous transform {td.name!r}",
            )
        tdf = compile_view(self.spark, src, td.stream, td.sql)
        self._queries[cid].append(
            self._start_transform_query(cid, td, tdf)
        )
        return True

    def pipeline_queries(self) -> DataFrame:
        """Queryable inventory of standing queries — the analog of
        PipelineDB's pipeline_views()/pipeline_transforms() catalog
        relations. `running` reflects live StreamingQuery state."""
        live = {
            self._query_kind(q.name)
            for queries in self._running_queries().values()
            for q in queries
            if q.isActive
        }
        rows = []
        for v in self.catalog.state.views.values():
            rows.append(
                (
                    v["name"],
                    "view",
                    v["stream"],
                    v.get("materialize", "memory"),
                    bool(v.get("active", True)),
                    ("view", v["name"]) in live,
                )
            )
        for t in self.catalog.state.transforms.values():
            rows.append(
                (
                    t["name"],
                    "transform",
                    t["stream"],
                    t.get("sink_relation") or "",
                    bool(t.get("active", True)),
                    ("transform", t["name"]) in live,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "name STRING, kind STRING, stream STRING, sink STRING, "
            "active BOOLEAN, running BOOLEAN",
        )

    def ttl_expire(self, view_name: str) -> int:
        """``pipeline_ttl_expire('<view>')`` analog: synchronously reap
        every expired row from a TTL parquet_upsert view's store, not
        just the buckets recent batches touched — returns the number of
        rows removed. The background path already guarantees
        correctness (merge-time reap + round-robin sweep + read-time
        filter); this is the ops hammer for reclaiming space NOW.
        Per-bucket rewrite through the same two-generation MVCC commit
        the merge uses, so concurrent manifest-planned readers keep
        their files; only buckets that actually hold expired rows are
        rewritten.

        Output-stream note: the manual sweep does NOT emit delete
        tuples (it runs outside any batch, and reads already hide
        expired rows everywhere); chained consumers see TTL deletes
        through the merge-time reaper's tuples."""
        vd = self.catalog.state.views.get(view_name)
        if vd is None:
            raise KeyError(f"unknown continuous view {view_name!r}")
        ttl, col = vd.get("ttl_seconds"), vd.get("ttl_column")
        if ttl is None or col is None:
            raise ValueError(f"view {view_name!r} has no TTL")
        if vd.get("materialize") != "parquet_upsert":
            raise ValueError(
                "memory TTL views filter expired rows at read time; "
                "there is no store to reap"
            )
        table_dir = self.view_dir(view_name)
        alive = F.col(col) >= F.current_timestamp() - F.expr(
            f"INTERVAL {int(ttl)} SECOND"
        )
        reaped = 0
        # single-writer: hold the store mutex for the sweep so a live
        # foreachBatch merge can never commit the same bucket (or
        # clobber the manifest) mid-sweep — merges queue behind the
        # sweep and proceed when it finishes
        with self._store_lock(view_name):
            buckets = store_bucket_files(table_dir)
            if buckets is None:
                return 0  # nothing committed yet
            for bucket in sorted(buckets):
                paths = buckets[bucket]
                if not paths:
                    continue
                cur = self.spark.read.option(
                    "basePath", table_dir
                ).parquet(*paths)
                n_dead = cur.filter(~alive).count()
                if n_dead == 0:
                    continue
                tmp = f"{table_dir}__expire_{uuid.uuid4().hex[:8]}"
                (
                    cur.filter(alive)
                    .withColumn(KB_COL, F.lit(bucket))
                    .write.mode("overwrite")
                    .partitionBy(KB_COL)
                    .parquet(tmp)
                )
                try:
                    # same two-generation MVCC commit the merge uses:
                    # concurrent manifest-planned reads keep their
                    # files through the next commit
                    publish_bucket_files(
                        table_dir, tmp, {bucket}, None, None
                    )
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
                reaped += n_dead
        return reaped

    def rebucket(self, view_name: str, num_buckets: int) -> None:
        """Resize a parquet_upsert view's hash-bucket count — the ops
        path for a view whose keyspace outgrew the bucket count fixed
        at creation (more buckets = smaller per-batch bucket rewrites).
        One full-store rewrite committed through the store's one
        manifest commit (publish_bucket_files), the same as every
        merge: re-hash every committed row into the new layout in a tmp
        dir, move the new part files into the live bucket dirs, and
        flip the manifest — which carries the bucket count, so the file
        list and the hash modulus change in ONE atomic rename. The live
        directory is never renamed, so in-flight readers keep every
        file they planned until the next commit reaps the old
        generation. Serialized against the view's live foreachBatch
        merge (and ttl_expire) via the store mutex; merges queue behind
        the rewrite and resume on the new layout."""
        vd = self.catalog.state.views.get(view_name)
        if vd is None:
            raise KeyError(f"unknown continuous view {view_name!r}")
        if vd.get("materialize") != "parquet_upsert":
            raise ValueError(
                "rebucket applies to parquet_upsert views only"
            )
        if num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        key_cols = list(vd.get("key_cols") or [])
        table_dir = self.view_dir(view_name)
        with self._store_lock(view_name):
            # future first-materializations (and restarts before one)
            # pick the new count up from the catalog
            self.catalog.update_view_options(
                view_name, upsert_buckets=num_buckets
            )
            old_buckets = store_bucket_files(table_dir)
            if old_buckets is None:
                return  # nothing committed yet
            kb = F.pmod(
                F.xxhash64(*[F.col(k) for k in key_cols]),
                F.lit(int(num_buckets)),
            ).cast("int")
            rehashed = (
                self._read_view_store(view_name)
                .drop(KB_COL)
                .withColumn(KB_COL, kb)
            )
            tmp = f"{table_dir}__rebucket_{uuid.uuid4().hex[:8]}"
            rehashed.write.mode("overwrite").partitionBy(KB_COL).parquet(
                tmp
            )
            try:
                new_buckets = {
                    int(n.split("=", 1)[1])
                    for n in os.listdir(tmp)
                    if n.startswith(f"{KB_COL}=")
                }
                # touch the UNION: old bucket ids not in the new layout
                # get their manifest entries dropped (files retained one
                # generation, the orphan-dir reap claims them at the
                # commit after next)
                publish_bucket_files(
                    table_dir,
                    tmp,
                    set(old_buckets) | new_buckets,
                    None,
                    rehashed.schema.json(),
                    num_buckets=num_buckets,
                )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

    def pipeline_query_stats(self) -> DataFrame:
        """The pipeline_query_stats catalog relation (PipelineDB's
        per-CQ stats view; SQL: ``SELECT * FROM pipeline_query_stats``):
        one row per standing query of the running consumers, read from
        the progress Spark keeps for it anyway, so the first call
        returns full rows and the ingest path pays nothing. ``kind`` is
        ingest (one per consumer, on every ingest path), view or
        transform; ``name`` the relation, view or transform served.
        ``batches`` / ``input_rows`` count the
        input-carrying batches among the reports Spark retains for the
        current run (spark.sql.streaming.numRecentProgressUpdates, 100
        by default). ``last_batch_id`` is the checkpoint's last committed
        batch, so it survives restarts. ``errors`` / ``last_error`` are
        the query's own exception(), so a failed query keeps its own
        row. ``watermark`` is the latest report's; ``duration_ms`` the
        durationMs split of the last input-carrying batch."""
        rows = []
        for cid, queries in self._running_queries().items():
            for q in queries:
                kind, entity = self._query_kind(q.name)
                recent = q.recentProgress
                ran = [p for p in recent if p.get("numInputRows")]
                exc = q.exception()
                last = recent[-1] if recent else {}
                rows.append(
                    (
                        q.name,
                        kind,
                        entity,
                        len(ran),
                        sum(p["numInputRows"] for p in ran),
                        _committed_batch_id(self._ckpt(cid, kind, entity)),
                        int(exc is not None),
                        None if exc is None else str(exc)[:2000],
                        cid,
                        q.isActive,
                        (last.get("eventTime") or {}).get("watermark"),
                        dict(ran[-1]["durationMs"]) if ran else None,
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "query STRING, kind STRING, name STRING, batches BIGINT, "
            "input_rows BIGINT, last_batch_id BIGINT, errors BIGINT, "
            "last_error STRING, consumer_id INT, active BOOLEAN, "
            "watermark STRING, duration_ms MAP<STRING, BIGINT>",
        )

    def _running_queries(self) -> dict[int, list[StreamingQuery]]:
        """A copy of the consumer → standing-query registry, taken under
        the lock (consume_end and CREATE mutate it from other threads)."""
        with self._lock:
            return {cid: list(qs) for cid, qs in self._queries.items()}

    def _query_kind(self, qname: str) -> tuple[str, str]:
        """(kind, entity) of a standing query this engine started:
        ("view", view) under any of _view_qnames, ("transform", name),
        or ("ingest", relation)."""
        for suffix in ("", "__sw_raw", "__mrel"):
            if qname.removesuffix(suffix) in self.catalog.state.views:
                return "view", qname.removesuffix(suffix)
        m = _INGEST_QUERY_RE.match(qname)
        if m:
            return "ingest", m[1]
        if qname.startswith("transform_"):
            return "transform", qname[len("transform_"):]
        return "view", qname  # a view dropped since the registry copy

    def _trigger_for(self, consumer: Consumer) -> str:
        """A12 pacing: the reference caps GetRecords at a fixed request
        rate per shard (kinesis_consumer.cpp:364-434, KINESIS_READS_PER_
        SEC). One micro-batch trigger = one fetch round here, so a
        consumer's ``rate_limit_rps`` maps to a processingTime trigger of
        1/rps seconds — an ACTIVE limit on fetch rounds (and with
        ``batchsize``/``maxFilesPerTrigger`` admission, on records/s),
        not just a stored config value."""
        rps = consumer.rate_limit_rps
        if not rps or rps <= 0:
            return self.trigger_interval
        return f"{max(int(1000 / rps), 1)} milliseconds"

    def _trigger_for_cid(self, consumer_id: int) -> str:
        for c in self.catalog.all_consumers():
            if c.id == consumer_id:
                return self._trigger_for(c)
        return self.trigger_interval

    def _start_query(
        self, builder, name: str, cid: int, kind: str, entity: str
    ) -> StreamingQuery:
        """The one start site of a standing query: ``.start()`` it as
        `name`, checkpointed at its _query_kind pair (``kind``,
        ``entity``) of consumer `cid` and triggered at that consumer's
        pace, under this engine's shuffle width (see
        ``shuffle_partitions`` in ``__init__``; no pin when unset). The
        pin is held under a process-wide lock so concurrent starts
        never inherit each other's width."""
        builder = (
            builder.queryName(name)
            .option(
                "checkpointLocation", self._ckpt_for_start(cid, kind, entity)
            )
            .trigger(processingTime=self._trigger_for_cid(cid))
        )
        if self._shuffle_partitions is None:
            return builder.start()
        with pinned_shuffle(self.spark, self._shuffle_partitions):
            return builder.start()

    def _osrel_delta_dir(self, view: ViewDef) -> str | None:
        """Where this view's output stream lands — or None when no
        active downstream consumer reads it (emission off, zero cost).
        Only parquet_upsert views emit: their foreachBatch merge is the
        one place old and new matrel rows coexist."""
        if view.materialize != "parquet_upsert":
            return None
        osrel = f"{view.name}_osrel"
        has_consumers = any(
            v.active for v in self.catalog.views_on(osrel)
        ) or any(t.active for t in self.catalog.transforms_on(osrel))
        if not has_consumers:
            return None
        d = self.osrel_dir(view.name)
        os.makedirs(d, exist_ok=True)
        return d

    def _osrel_schema(self, view_schema) -> "StructType":
        """Schema of a view's output stream: (old, new) structs of the
        DECLARED view columns (hidden combine partials excluded) plus
        arrival_timestamp — PipelineDB's (old, new) delta records."""
        from pyspark.sql.types import (
            StructField,
            StructType,
            TimestampType,
        )

        row = StructType(
            [f for f in view_schema.fields if PARTIAL_SEP not in f.name]
        )
        return StructType(
            [
                StructField("old", row, True),
                StructField("new", row, True),
                StructField("arrival_timestamp", TimestampType(), True),
            ]
        )

    def _check_osrel_gap(
        self, base_view: str, ckpt: str, consumer_desc: str
    ) -> None:
        """A chained consumer starting WITHOUT a checkpoint reads the
        osrel history from scratch — if retention has already reaped
        batches, its aggregates silently undercount. Surface that at
        wire time (warning, not error: the operator may know the
        consumer only needs go-forward deltas)."""
        lo = read_reap_marker(self.osrel_dir(base_view))
        # "no checkpoint" for gap purposes = no COMMITTED batch: a
        # batch-0-debris checkpoint will be reset at start and read the
        # history from scratch exactly like an absent one.
        if lo > 0 and not self._ckpt_has_committed_batch(ckpt):
            warnings.warn(
                f"{consumer_desc} chains on {base_view!r}'s output "
                f"stream, which has already reaped delta batches below "
                f"b{lo}; the new consumer starts from the retained "
                f"window only (history before the reap is gone). "
                f"Create chained consumers before retention reaps, or "
                f"raise osrel_keep_batches.",
                stacklevel=3,
            )

    def _start_transform_query(
        self, consumer_id: int, t: TransformDef, tdf: DataFrame
    ) -> StreamingQuery:
        """Run one compiled continuous transform: append-mode standing
        query whose batches land in the sink relation and/or invoke the
        registered per-batch procedure."""
        sink_dir = (
            self.table_dir(t.sink_relation) if t.sink_relation else None
        )
        proc = self._procs.get(t.name)

        def _transform_batch(
            bdf: DataFrame, bid: int, _dir=sink_dir, _p=proc,
            _tag=f"{t.name}-c{consumer_id}",
        ) -> None:
            # the sink publish is exactly-once; the proc runs again on
            # a replayed batch (at-least-once)
            if _dir is not None and bid > _published_through(_dir, _tag):
                tmp = _staging_dir(_dir, _tag, bid)
                bdf.write.mode("overwrite").parquet(tmp)
                _publish_batch(_tag, bid, [(tmp, _dir)], ".parquet")
            if _p is not None:
                _p(bdf, bid)

        return self._start_query(
            tdf.writeStream.foreachBatch(_guarded_batch(_transform_batch))
            .outputMode("append"),
            f"transform_{t.name}", consumer_id, "transform", t.name,
        )

    def _start_view_query(
        self,
        consumer_id: int,
        view: ViewDef,
        vdf: DataFrame,
        delta_dir: str | None = None,
    ) -> StreamingQuery:
        """Materialize one compiled continuous view (memory sink or keyed
        parquet upsert with optional TTL reaping). delta_dir switches on
        output-stream emission (PipelineDB ``<view>_osrel``): the merge
        also appends (old, new, arrival_timestamp) change tuples there —
        only requested when the view has active downstream consumers, so
        unconsumed output streams cost nothing."""
        if delta_dir is not None:
            self._emitting.add(view.name)
        else:
            self._emitting.discard(view.name)
        if view.materialize == "parquet_upsert":
            table_dir = self.view_dir(view.name)
            key_cols = list(view.key_cols or [])
            store_lock = self._store_lock(view.name)

            def _merge_batch(
                bdf, bid, _d=table_dir, _k=key_cols, _v=view,
                _lk=store_lock,
            ):
                # serialized against ttl_expire()/rebucket() — the
                # store's manifest contract is single-writer
                with _lk:
                    # the FIRST commit fixes the bucket count in the
                    # (thereafter authoritative) manifest — if a
                    # rebucket() ran between view start and this first
                    # batch, the captured ViewDef's count is stale, so
                    # re-read the catalog's current value; once a
                    # manifest exists it wins and the kwarg is only a
                    # first-commit default anyway
                    buckets = _v.upsert_buckets
                    if read_store_manifest(_d) is None:
                        cur = self.catalog.state.views.get(_v.name)
                        if cur is not None and cur.get("upsert_buckets"):
                            buckets = cur["upsert_buckets"]
                    upsert_to_parquet(
                        bdf,
                        _d,
                        _k,
                        ttl_seconds=_v.ttl_seconds,
                        ttl_column=_v.ttl_column,
                        batch_id=bid,
                        delta_dir=delta_dir,
                        delta_keep_batches=_v.osrel_keep_batches,
                        **({"num_buckets": buckets} if buckets else {}),
                    )

            return self._start_query(
                vdf.writeStream.foreachBatch(_guarded_batch(_merge_batch))
                .outputMode("update"),
                view.name, consumer_id, "view", view.name,
            )
        # sw views keep their per-step partials under a raw-suffixed sink
        # name: view_table / sql() recombine them under the public name,
        # which must never shadow the sink table in the catalog. Views
        # carrying hidden combine() partial columns likewise sink under
        # a matrel-suffixed name so the public name always shows the
        # declared schema (PipelineDB's <v>_mrel / overlay-view split).
        sink_name = self._sink_name(vars(view))
        self._snapshot_memory_sink(sink_name)
        _SINK_OWNERS.setdefault(self.spark, {})[sink_name] = self.metadata_dir
        return self._start_query(
            vdf.writeStream.format("memory").outputMode(view.output_mode),
            sink_name, consumer_id, "view", view.name,
        )

    def _snapshot_memory_sink(self, sink_name: str) -> None:
        """Pin a memory view's current contents just before its sink
        query (re)starts (r15, found by tools/fuzz_lifecycle.py's
        chained-view ledger): Spark recreates a memory sink EMPTY on
        query restart and only repopulates it when the next batch runs
        — so after any consume_end/consume_begin cycle (pause, ALTER,
        engine restart) a memory view read EMPTY until new data
        arrived, where PipelineDB's matrel would still show its
        contents. The pre-restart table (which survives the query stop
        in the session catalog) is snapshotted driver-side here;
        view_table serves the snapshot while the live table is empty.
        Complete-mode agg output can only lose rows across a restart
        by losing state (which the checkpoint prevents), so an empty
        live table with a non-empty snapshot always means 'no batch
        has repopulated the sink yet', never 'the view became empty'.
        Memory views are the session-scale tier by contract, so the
        driver-side copy is bounded. Only this metadata dir's own sink
        is pinned (see _owns_sink)."""
        if not self._owns_sink(sink_name):
            return
        try:
            df = self.spark.table(sink_name)
            rows = df.collect()
        except Exception:  # noqa: BLE001 — first start: no table yet
            return
        if rows:
            self._memview_snapshots[sink_name] = (df.schema, rows)

    def _owns_sink(self, sink_name: str) -> bool:
        """True iff the session's memory sink ``sink_name`` was last
        started by an Engine over this metadata dir — this one, or an
        earlier one the r15 restart contract hands its contents to."""
        owners = _SINK_OWNERS.get(self.spark, {})
        return owners.get(sink_name) == self.metadata_dir

    def _serves_live_sink(self, sink_name: str) -> bool:
        """True iff _memory_sink_table serves the session's live sink
        table itself: this metadata dir owns it and either no snapshot
        is pinned or a batch has repopulated it since."""
        if not self._owns_sink(sink_name):
            return False
        if sink_name not in self._memview_snapshots:
            return True
        try:
            return not self.spark.table(sink_name).isEmpty()
        except Exception:  # noqa: BLE001 — never started this session
            return False

    def _memory_sink_table(self, sink_name: str) -> DataFrame:
        """The memory sink's live table, or its wire-time snapshot
        while the live table is empty (see _snapshot_memory_sink). A
        sink another metadata dir started under a reused view name
        reads as empty: no batch of this view has written it."""
        if self._serves_live_sink(sink_name):
            return self.spark.table(sink_name)
        snap = self._memview_snapshots.get(sink_name)
        if snap is not None:
            return self.spark.createDataFrame(snap[1], snap[0])
        return self.spark.createDataFrame(
            [], self.spark.table(sink_name).schema
        )

    def _apply_start_position(
        self, consumer: Consumer, records: DataFrame
    ) -> DataFrame:
        """A3 offset resolution (pipeline_kinesis.c:587-605,
        kinesis_consumer.cpp:258-291): trim_horizon | latest |
        after_sequence_number:X. 'latest' is resolved ONCE into a concrete
        per-shard seqnum snapshot (_latest_snapshot) that consume_begin
        persists with the consumer row, so restarts resume from the
        checkpoint rather than re-resolving (which could skip records).
        Seqnums compare lexicographically — the file source zero-pads its
        framing (write_record_file); a real Kinesis connector resolves this
        server-side via GetShardIterator instead.
        """
        it_type, seq = iterator_type(
            consumer.start_position or "trim_horizon"
        )
        if it_type == "TRIM_HORIZON":
            return records
        if it_type == "AFTER_SEQUENCE_NUMBER":
            return records.filter(F.col("sequence_number") > F.lit(seq))
        snap = consumer.resolved_position
        if not snap:
            return records
        snap_df = self.spark.createDataFrame(
            sorted(snap.items()), "shard_id STRING, _start_seq STRING"
        )
        return (
            records.join(F.broadcast(snap_df), "shard_id", "left")
            .filter(
                F.col("_start_seq").isNull()
                | (F.col("sequence_number") > F.col("_start_seq"))
            )
            .select(*[f.name for f in RECORD_SCHEMA.fields])
        )

    def _latest_snapshot(self, source: FileReplaySource) -> dict[str, str]:
        """Each shard's newest sequence number in a file feed: where a
        'latest' consumer starts."""
        if not os.path.isdir(source.stream_dir):
            return {}
        rows = (
            source.read_batch(self.spark)
            .groupBy("shard_id")
            .agg(F.max("sequence_number").alias("m"))
            .collect()
        )
        return {r.shard_id: r.m for r in rows if r.m is not None}

    def consume_end(self, endpoint: str, stream: str, relation: str) -> bool:
        """Stop the consumer's queries (kinesis_consume_end_sr analog)."""
        with self._lock:
            consumer = self.catalog.find_consumer(endpoint, stream, relation)
            if consumer is None:
                return False
            self._stop_consumer(consumer.id)
            return True

    def _stop_consumer(self, cid: int) -> None:
        """Stop one consumer's pump and every standing query it runs,
        and drop its registry entries."""
        pump = self._pumps.pop(cid, None)
        if pump is not None:
            pump.stop()  # stop polling before stopping the drain
        for q in self._queries.pop(cid, []):
            q.stop()
        self._parsed.pop(cid, None)

    def consume_begin_all(self) -> list[Consumer]:
        """Restart every cataloged consumer (kinesis_consume_begin no-arg,
        pipeline_kinesis--0.9.0.sql:75-78). One consumer failing to
        start — typically a kinesis consumer whose process-local client
        was not re-registered after a restart — must not keep the
        OTHERS down: failures are warned and skipped; re-run after
        register_kinesis_client to pick the stragglers up (already
        -running consumers are idempotent no-ops)."""
        started: list[Consumer] = []
        for c in self.catalog.all_consumers():
            try:
                started.append(
                    self.consume_begin(
                        c.endpoint,
                        c.stream,
                        c.relation,
                        c.format,
                        c.delimiter,
                        c.quote,
                        c.escape,
                        c.batchsize,
                        c.parallelism,
                        c.start_position,
                        c.rate_limit_rps,
                        # restart on the RESOLVED ingest path — a
                        # datasource consumer restarted in pump mode
                        # would resume from catalog seqnums that path
                        # never wrote and re-ingest from
                        # start_position (and vice versa)
                        source=c.source,
                        spool_keep_seconds=c.spool_keep_seconds,
                        dedup=c.dedup,
                    )
                )
            except Exception as exc:  # noqa: BLE001 — isolate per consumer
                warnings.warn(
                    f"consumer {c.id} ({c.endpoint}/{c.stream}→"
                    f"{c.relation}) failed to start: {exc}",
                    stacklevel=2,
                )
        return started

    def consume_end_all(self) -> int:
        with self._lock:
            n = len(self._queries)
            for cid in list(self._queries):
                self._stop_consumer(cid)
            return n

    def pump_status(self) -> dict[int, dict]:
        """Live state of the managed Kinesis pumps: rounds/records
        landed, per-shard MillisBehindLatest (A14 lag feed), and any
        terminal error (consumer_status analog)."""
        # copy under the lock: consume_end/consume_end_all pop entries
        # from other threads, and iterating the live dict could raise
        # "dictionary changed size during iteration" in a monitor call
        with self._lock:
            pumps = dict(self._pumps)
        out = {}
        for cid, p in pumps.items():
            out[cid] = {
                "alive": p.is_alive(),
                "rounds": p.rounds,
                "records": p.records,
                "error": None if p.error is None else repr(p.error),
                "lag": p.bridge.poller.lag(),
            }
        return out

    def _datasource_ingests(self) -> dict[int, StreamingQuery]:
        """consumer id → the ingest query of each running datasource
        consumer: the one reader of its executor-parallel source."""
        ds = {
            c.id
            for c in self.catalog.all_consumers()
            if c.source == "datasource"
        }
        return {
            cid: q
            for cid, queries in sorted(self._running_queries().items())
            if cid in ds
            for q in queries
            if self._query_kind(q.name)[0] == "ingest"
        }

    def datasource_status(self) -> dict[int, dict]:
        """Live state of executor-parallel (datasource-mode) consumers —
        the pump_status analog for the path where polling happens on
        executors: the liveness and batch progress of the consumer's
        ingest query, plus the per-shard attained positions, closed
        flags and MillisBehindLatest (``millis_behind``, the pump_status
        ``lag`` counterpart) from the side-channel (A14 lag feed)."""
        out = {}
        for cid, q in self._datasource_ingests().items():
            p = q.lastProgress
            out[cid] = {
                "alive": q.isActive,
                "batch_id": p.get("batchId") if p else None,
                "num_input_rows": p.get("numInputRows") if p else None,
                "shards": {
                    sid: {
                        "seqnum": st.get("seq"),
                        "closed": bool(st.get("closed")),
                        "millis_behind": st.get("millis_behind"),
                    }
                    for sid, st in sorted(
                        _read_attained(self._ds_state_dir(cid)).items()
                    )
                },
            }
        return out

    def _spool_reaper(self, spool: str, keep_s: float | None):
        """Per-round auto-reap hook for a consumer's spool: sweeps files
        older than ``keep_s`` (spool_keep_seconds; None = keep all) at
        most once per _spool_reap_interval_s — a listdir every pump round
        or ingest batch would be O(spool) work per batch."""
        import time as _time

        last = [0.0]

        def reap() -> None:
            if keep_s is None:
                return
            now = _time.monotonic()
            if now - last[0] > self._spool_reap_interval_s:
                last[0] = now
                self._reap_spool_dir(spool, keep_s)

        return reap

    @staticmethod
    def _reap_spool_dir(spool: str, older_than_s: float) -> int:
        import time as _time

        now = _time.time()
        n = 0
        try:
            names = os.listdir(spool)
        except OSError:
            return 0
        for f in names:
            if not f.endswith(".jsonl"):
                continue
            p = os.path.join(spool, f)
            try:
                if now - os.path.getmtime(p) > older_than_s:
                    os.unlink(p)
                    n += 1
            except OSError:
                pass  # concurrent reap / already gone
        return n

    def reap_spool(
        self,
        endpoint: str,
        stream: str,
        relation: str,
        older_than_s: float = 3600.0,
    ) -> int:
        """Delete the consumer's raw spool record files older than
        ``older_than_s`` — the maintenance op that bounds the kinesis
        landing area (compact_stream_table's sibling; without it the
        spool duplicates the archived stream forever). SAFETY CONTRACT:
        the age must exceed the slowest standing query's processing lag
        — already-processed files are tracked BY NAME in each query's
        file-source offset log (and spool names are never reused), so
        reaping them is invisible to consumers; reaping an unprocessed
        file would lose its records. Returns files deleted. Runs
        automatically during ingestion when the consumer was started
        with spool_keep_seconds."""
        c = self.catalog.find_consumer(endpoint, stream, relation)
        if c is None:
            raise KeyError(
                f"no consumer for {endpoint}/{stream}→{relation}"
            )
        return self._reap_spool_dir(
            os.path.join(self.metadata_dir, "spool", str(c.id)),
            older_than_s,
        )

    # ---------------------------------------------------------- inspection

    def _require_stopped(self, relation: str, action: str) -> None:
        """Refuse `action` on `relation` while a consumer of it runs
        (the caller holds self._lock)."""
        for c in self.catalog.all_consumers():
            if c.relation == relation and c.id in self._queries:
                raise ValueError(
                    f"stop consumers for {relation!r} before {action}"
                )

    def alter_stream_add_column(
        self, relation: str, col_name: str, col_type: str
    ) -> None:
        """ALTER STREAM ... ADD COLUMN (stream schema evolution): append
        a column to the declared schema. Consumers must be stopped first
        — the parse schema binds when a consumer's standing queries
        start, and a restart re-binds it (same contract as compaction).
        Archived rows written under the old schema read back NULL for
        the new column (mergeSchema parquet read + declared-schema
        fill-in in stream_table)."""
        with self._lock:
            self._require_stopped(relation, "altering")
            self.catalog.alter_stream_add_column(relation, col_name, col_type)

    def stream_table(self, relation: str) -> DataFrame:
        """Ad-hoc batch reads over the archived stream relation (ingested
        rows plus any recovered via replay_dead_letters). mergeSchema
        unions file schemas across ALTER STREAM generations; declared
        columns present in no file yet are filled with typed NULLs."""
        df = self.spark.read.option("mergeSchema", "true").parquet(
            self.table_dir(relation)
        )
        if os.path.isdir(self._replayed_dir(relation)):
            df = df.unionByName(
                self.spark.read.option("mergeSchema", "true").parquet(
                    self._replayed_dir(relation)
                ),
                allowMissingColumns=True,
            )
        try:
            sd = self.catalog.stream(relation)
        except KeyError:
            return df  # transform sink relations have no declared schema
        present = set(df.columns)
        from pyspark.sql.types import StructType

        for field in StructType.fromDDL(sd.schema_ddl).fields:
            if field.name not in present:
                df = df.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
        return df

    def compact_stream_table(
        self, relation: str, target_files: int = 4
    ) -> tuple[int, int]:
        """Rewrite the stream relation's parquet into ``target_files``
        files and swap directories — the OPTIMIZE/compaction maintenance
        op every streaming sink needs (micro-batches write a file per
        trigger per partition; small files dominate scan cost long before
        100 TB). Consumers for the relation must be stopped (the swap
        cannot race an appending writer). The writers' batch-id
        high-water marks are carried across the swap, so a batch
        replayed after compaction — its files now merged under other
        names — is still recognized as published and skipped.
        Returns (files_before, files_after).

        The swap is two os.rename calls, NOT one atomic operation: a
        concurrent reader in the instant between them sees a missing
        directory (consumers are required stopped for exactly this
        reason, and the engine lock serializes engine-API readers). If
        the second rename fails, the original directory is restored from
        the .compact.bak snapshot before the error propagates, so the
        relation is never left missing; if the process dies between
        them, the next consume_begin or compact_stream_table of the
        relation restores it (_restore_compacted).
        """
        with self._lock:
            self._require_stopped(relation, "compacting")
            self._restore_compacted(relation)
            d = self.table_dir(relation)
            if not os.path.isdir(d):
                raise ValueError(f"no stream table for {relation!r}")
            for n in os.listdir(d):
                m = re.match(r"(.+)-b(\d{10})-\d+\.parquet$", n)
                if m and int(m[2]) > _published_through(d, m[1]):
                    # renamed in but never marked (a crash between the
                    # two), so never committed: its writer replays it
                    os.unlink(os.path.join(d, n))
            before = len(glob.glob(os.path.join(d, "*.parquet")))
            tmp = d.rstrip("/") + ".compact.tmp"
            bak = d.rstrip("/") + ".compact.bak"
            (
                self.spark.read.option("mergeSchema", "true").parquet(d)
                .coalesce(max(target_files, 1))
                .write.mode("overwrite")
                .parquet(tmp)
            )
            for mark in glob.glob(os.path.join(d, "_*.hwm")):
                shutil.copy2(mark, tmp)
            os.rename(d, bak)
            try:
                os.rename(tmp, d)
            except BaseException:
                os.rename(bak, d)  # restore — never leave the relation gone
                raise
            shutil.rmtree(bak)
            return before, len(glob.glob(os.path.join(d, "*.parquet")))

    def _restore_compacted(self, relation: str) -> None:
        """Finish a compaction that died between its two renames (the
        caller holds self._lock): with the archive dir missing, the
        .compact.bak snapshot IS the archive — rename it back; with
        both present, the swap completed and the bak is stale."""
        d = self.table_dir(relation).rstrip("/")
        bak = d + ".compact.bak"
        if not os.path.isdir(bak):
            return
        if os.path.isdir(d):
            shutil.rmtree(bak)
        else:
            os.rename(bak, d)

    def replay_dead_letters(
        self,
        relation: str,
        fmt: str | None = None,
        delimiter: str | None = None,
        quote: str | None = None,
        escape: str | None = None,
        schema_ddl: str | None = None,
    ) -> int:
        """Re-parse quarantined rows — with optionally corrected format
        options — appending recovered rows to the stream table. Returns
        the number recovered. Idempotent: recovered seqnums are recorded
        in a marker table and excluded from ``dead_letters`` and from
        future replays. (The reference DROPPED such batches outright,
        pipeline_kinesis.c:744-758; quarantine+replay is the upgrade.)

        ``schema_ddl`` overrides the declared stream schema for the
        re-parse (r14, found by tools/fuzz_lifecycle.py): rows framed
        under a PRE-``ALTER STREAM`` schema that were still unconsumed
        when the ALTER landed quarantine as arity-mismatches, and
        re-parsing them under the post-ALTER schema can never recover
        them. Pass the schema they were framed with; stream_table's
        mergeSchema + declared-schema NULL-fill then reads them back
        with NULL for the later-added columns, same as any archived
        pre-ALTER row. The override must be a prefix of the declared
        schema (ADD COLUMN only appends), so recovered files stay
        union-compatible."""
        consumer = next(
            (
                c
                for c in self.catalog.all_consumers()
                if c.relation == relation
            ),
            None,
        )
        sd = self.catalog.stream(relation)
        replay_ddl = schema_ddl or sd.schema_ddl
        if schema_ddl is not None:
            from pyspark.sql.types import StructType

            declared = [
                (f.name, f.dataType)
                for f in StructType.fromDDL(sd.schema_ddl).fields
            ]
            override = [
                (f.name, f.dataType)
                for f in StructType.fromDDL(schema_ddl).fields
            ]
            if override != declared[: len(override)]:
                raise ValueError(
                    "replay schema_ddl must be a prefix of the declared "
                    f"stream schema (ALTER only appends); declared="
                    f"{sd.schema_ddl!r}"
                )
        pending = self.dead_letters(relation)
        records = pending.select(
            F.col("_corrupt_record").alias("data"),
            "sequence_number",
            F.lit(None).cast("string").alias("partition_key"),
            F.col("arrival_timestamp").alias(
                "approximate_arrival_timestamp"
            ),
            "shard_id",
        )
        parsed = parse_records(
            records,
            replay_ddl,
            fmt or (consumer.format if consumer else "text"),
            delimiter or (consumer.delimiter if consumer else "\t"),
            quote if quote is not None else (consumer.quote if consumer else None),
            escape if escape is not None else (consumer.escape if consumer else None),
        )
        good, _bad = split_quarantine(parsed)
        good = good.cache()
        n = good.count()
        if n:
            # a separate dir that doubles as the recovered-row marker:
            # stream_table unions both; dead_letters anti-joins this
            # dir's lineage.
            good.write.mode("append").parquet(self._replayed_dir(relation))
        good.unpersist()
        return n

    def _replayed_dir(self, relation: str) -> str:
        return os.path.join(self.metadata_dir, "dead_letter_replayed", relation)

    def dead_letters(self, relation: str) -> DataFrame:
        """Quarantined rows not yet recovered by replay_dead_letters."""
        d = self.dead_letter_dir(relation)
        if glob.glob(os.path.join(d, "*.parquet")):
            dl = self.spark.read.parquet(d)
        else:  # nothing quarantined yet: the quarantine schema, no rows
            dl = split_quarantine(parse_records(
                self.spark.createDataFrame([], RECORD_SCHEMA),
                self.catalog.stream(relation).schema_ddl,
            ))[1]
        if not os.path.isdir(self._replayed_dir(relation)):
            return dl
        replayed = self.spark.read.parquet(
            self._replayed_dir(relation)
        ).select("sequence_number", "shard_id")
        return dl.join(
            replayed, ["sequence_number", "shard_id"], "left_anti"
        )

    def _sink_name(self, vd: dict) -> str:
        """Memory-sink table name for a view dict (sw partials / combine
        matrel / plain) — the one naming rule _start_view_query starts
        sinks under and the readers read."""
        if vd.get("sw_seconds") is not None:
            return f"{vd['name']}__sw_raw"
        if has_hidden_partials(vd.get("combine_aggs")):
            return f"{vd['name']}__mrel"
        return vd["name"]

    def _ttl_live_filter(self, df: DataFrame, vd: dict) -> DataFrame:
        """Apply a TTL view's read-time liveness predicate — every read
        path that bypasses view_table (combine over the matrel) must
        still honor the view's declared expiry semantics."""
        ttl, col = vd.get("ttl_seconds"), vd.get("ttl_column")
        if ttl is None or col is None:
            return df
        return df.filter(
            F.col(col)
            >= F.current_timestamp() - F.expr(f"INTERVAL {ttl} SECOND")
        )

    def _read_view_store(self, view_name: str) -> DataFrame:
        """Manifest-planned read of a parquet_upsert store (read_store:
        snapshot-consistent while merges commit). A store with no
        manifest has committed nothing."""
        df = read_store(self.spark, self.view_dir(view_name))
        if df is None:
            raise RuntimeError(
                f"view {view_name!r} not materialized: its store has no "
                "committed manifest yet (the standing query has not "
                "committed a batch, or the view was never activated)"
            )
        return df

    def matrel(self, view_name: str) -> DataFrame:
        """The view's raw materialization — PipelineDB's ``<v>_mrel``:
        partial-state columns included, one row per declared group (per
        (group, step) for sw views). combine() reads this; ordinary
        reads go through view_table, which hides the partials."""
        vd = self.catalog.state.views.get(view_name)
        if vd is None:
            raise KeyError(f"unknown continuous view {view_name!r}")
        if vd.get("materialize") == "parquet_upsert":
            df = self._read_view_store(view_name)
            return df.drop(KB_COL) if KB_COL in df.columns else df
        return self._memory_sink_table(self._sink_name(vd))

    def combine(
        self, view_name: str, group_cols: list[str] | None = None
    ) -> DataFrame:
        """PipelineDB ``combine()``: re-aggregate a continuous view at a
        COARSER grouping with exact semantics — avg merges as
        (Σsum/Σcount) over hidden partials, never avg-of-avgs;
        stddev/variance merge their (n, Σx, Σx²) states;
        approx_count_distinct unions the mergeable HLL sketches. The
        merge is one hash aggregate over O(view groups) matrel rows —
        the raw stream is never rescanned, which is the whole point of
        the feature at scale. SQL spelling:
        ``SELECT g, combine(alias) AS x FROM v GROUP BY g``."""
        vd = self.catalog.state.views.get(view_name)
        if vd is None:
            raise KeyError(f"unknown continuous view {view_name!r}")
        specs = vd.get("combine_aggs")
        if not specs:
            raise ValueError(
                f"view {view_name!r} has no combinable aggregates "
                "(or its SQL shape is outside combine() parse scope)"
            )
        group_cols = list(group_cols or [])
        if vd.get("sw_seconds") is not None:
            # sw: merge the per-(group, step) partials inside the live
            # window directly — sketches union, so approx-distinct
            # regroups with set semantics; the window always applies
            allowed = set(vd.get("sw_group_cols") or [])
            missing = [c for c in group_cols if c not in allowed]
            if missing:
                raise ValueError(
                    f"group columns {missing} not in sw view groups "
                    f"{sorted(allowed)}"
                )
            return sw_combine(
                self.matrel(view_name),
                vd["sw_seconds"],
                vd["sw_aggs"],
                group_cols,
            )
        base = self._ttl_live_filter(self.matrel(view_name), vd)
        missing = [c for c in group_cols if c not in base.columns]
        if missing:
            raise ValueError(
                f"group columns {missing} not in view output "
                f"{[c for c in base.columns if PARTIAL_SEP not in c]}"
            )
        return combine_view(base, group_cols, specs)

    def view_table(self, view_name: str) -> DataFrame:
        """Query a continuous view's current materialized state, whatever
        its sink (memory table or parquet_upsert directory): the matrel
        with its partial-state columns hidden (sw views: the trailing
        window recombined). TTL views (create_continuous_view
        ttl_seconds/ttl_column) never show expired rows here:
        parquet_upsert reaps them at write time, memory views filter them
        at read time."""
        df = self.matrel(view_name)
        vd = self.catalog.state.views[view_name]
        if vd.get("sw_seconds") is not None:
            # sliding-window view: the matrel holds per-step partials
            # (a durable store already reaped to the retention) —
            # recombine the steps inside the window
            df = sw_combine(
                df,
                vd["sw_seconds"],
                vd["sw_aggs"],
                vd.get("sw_group_cols") or [],
            )
            if vd.get("sw_having"):
                df = df.filter(F.expr(vd["sw_having"]))
            return df
        # parquet_upsert TTL rides the merge for touched buckets and a
        # round-robin sweep covers the rest within n batches; this
        # read-time filter hides memory views' expired rows and
        # guarantees sweep lag is never visible to queries.
        return self._ttl_live_filter(drop_partial_cols(df), vd)

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc SQL with every registered continuous view queryable as a
        table — the reference's `SELECT * FROM foo_view` read path
        (README.md:78-88), available mid-stream. Views resolve to their
        CURRENT materialized state at call time.

        Plain MEMORY views resolve to their live sink table by name.
        The name resolves instead to this engine's own view_table,
        under a private name the query is rewritten to (rebinding the
        public name would detach the standing sink), when the view has
        a TTL (so expired rows stay hidden, as in view_table), when
        another metadata dir started the sink under the same view
        name, or when the sink restarted empty while view_table serves
        its pinned snapshot.
        Every other materialization (parquet, sw, hidden partials)
        resolves through view_table and honors TTL."""
        # PipelineDB spelling output_of('v') → the <v>_osrel relation;
        # emitted delta history is batch-queryable like any relation
        query = rewrite_output_of(query)
        # combine() first: it re-points its view at the matrel, which
        # the private-name repoint below must not rename away
        query = self._rewrite_combine(query)
        # register ONLY relations the query text references — an ad-hoc
        # read must not pay O(registry) view_table planning (manifest
        # reads, sw recombination) for relations it never touches.
        # Matching is case-insensitive, like Spark SQL's own identifier
        # resolution (``FROM Events`` must find stream ``events``).
        ids = {t.lower() for t in re.findall(r"\w+", query)}
        for name in self.catalog.state.views:
            osrel = f"{name}_osrel"
            if osrel.lower() in ids and os.path.isdir(
                self.osrel_dir(name)
            ):
                self.output_stream(name).createOrReplaceTempView(osrel)
        for name, vd in self.catalog.state.views.items():
            if name.lower() in ids and (
                vd.get("materialize") == "parquet_upsert"
                or vd.get("sw_seconds") is not None
                or has_hidden_partials(vd.get("combine_aggs"))
            ):
                # parquet views, sliding-window views and views carrying
                # hidden combine() partials resolve through view_table
                # (sw: per-step partials recombined; combine: partial
                # columns hidden); plain memory views are already
                # queryable by name
                try:
                    self.view_table(name).createOrReplaceTempView(name)
                except Exception:
                    continue  # not materialized yet — leave unregistered
            elif name.lower() in ids and (
                vd.get("ttl_seconds") is not None
                or not self._serves_live_sink(name)
            ):
                # the session's sink under this name is not what
                # view_table serves — its expired TTL rows are still
                # there, another metadata dir owns it, or it restarted
                # empty under a pinned snapshot: read this engine's view
                # under a private name (replacing the public one would
                # detach the standing sink)
                try:
                    own = self.view_table(name)
                except Exception:
                    continue  # no sink under this name at all
                tmp_name = f"__own_view_{name}"
                own.createOrReplaceTempView(tmp_name)
                query = _repoint_table(query, name, tmp_name)
        for name in self.catalog.state.streams:
            if name.lower() not in ids:
                continue
            try:
                self.stream_table(name).createOrReplaceTempView(name)
            except Exception:
                continue
        # transform output relations are stream tables too (chainable)
        for td in self.catalog.state.transforms.values():
            sink = td.get("sink_relation")
            if (
                sink
                and sink.lower() in ids
                and sink not in self.catalog.state.streams
            ):
                try:
                    self.stream_table(sink).createOrReplaceTempView(sink)
                except Exception:
                    continue
        # the standing-query inventory is itself queryable — PipelineDB's
        # pipeline_queries catalog relation
        if re.search(r"\bpipeline_queries\b", query):
            self.pipeline_queries().createOrReplaceTempView(
                "pipeline_queries"
            )
        # per-CQ cumulative stats relation (PipelineDB
        # pipeline_query_stats)
        if re.search(r"\bpipeline_query_stats\b", query):
            self.pipeline_query_stats().createOrReplaceTempView(
                "pipeline_query_stats"
            )
        return self.spark.sql(query)

    _COMBINE_CALL = re.compile(r"\bcombine\s*\(\s*(\w+)\s*\)", re.IGNORECASE)

    def _rewrite_combine(self, query: str) -> str:
        """SQL spelling of PipelineDB's combine(): each ``combine(alias)``
        in an ad-hoc query over ONE continuous view becomes that alias's
        partial-merge expression, and the view name is re-pointed at its
        matrel (partials visible) for this query. The rewrite is textual
        but anchored: it fires only when exactly one registered view both
        appears in the query and exposes every referenced alias."""
        pre_mask = _outside_string_mask(query)
        aliases = {
            m.group(1)
            for m in self._COMBINE_CALL.finditer(query)
            if pre_mask[m.start()]
        }
        if not aliases:
            return query
        cands = [
            (name, vd)
            for name, vd in self.catalog.state.views.items()
            if re.search(rf"\b{re.escape(name)}\b", query)
            and vd.get("combine_aggs")
            and aliases <= set(vd["combine_aggs"])
        ]
        if not cands:
            known = {
                n: sorted(vd["combine_aggs"])
                for n, vd in self.catalog.state.views.items()
                if vd.get("combine_aggs")
            }
            raise ValueError(
                f"combine() over {sorted(aliases)}: no referenced "
                f"continuous view exposes those aggregates "
                f"(combinable: {known})"
            )
        if len(cands) > 1:
            raise ValueError(
                "combine() is ambiguous between views "
                f"{[n for n, _ in cands]}; query one view at a time"
            )
        name, vd = cands[0]
        is_sw = vd.get("sw_seconds") is not None
        if is_sw:
            # the LIVE-window slice of the raw per-step partials:
            # count/sum/min/max merge arithmetically and approx-distinct
            # unions the stored sketches
            mrel = self.matrel(name).filter(
                F.col(f"{SW_BUCKET_COL}.end")
                > F.current_timestamp()
                - F.expr(f"INTERVAL {int(vd['sw_seconds'])} SECOND")
            )
        else:
            # the matrel with partial columns in scope (TTL liveness
            # still applies — combine must agree with the view's own
            # read semantics)
            mrel = self._ttl_live_filter(self.matrel(name), vd)
        # register under a throwaway name and rewrite the reference in
        # the query text — repointing the PUBLIC view name would leak
        # matrel semantics (TTL filter, partial columns) into every
        # later plain `SELECT * FROM v` in the session
        tmp_name = f"__combine_mrel_{name}"
        mrel.createOrReplaceTempView(tmp_name)
        specs = vd["combine_aggs"]
        # rewrites apply OUTSIDE string literals only — a predicate
        # like WHERE label = 'v' must keep its literal untouched.
        # re.sub scans the original string, so match offsets index the
        # original mask even as replacements change lengths.
        mask = _outside_string_mask(query)
        # substitute combine() calls BEFORE the table-name rewrite so an
        # alias that happens to equal the view name still resolves
        query2 = self._COMBINE_CALL.sub(
            lambda m: (
                combine_select_expr(
                    m.group(1),
                    specs[m.group(1)]["fn"],
                    sw=is_sw,
                    spec=specs[m.group(1)],
                )
                if mask[m.start()]
                else m.group(0)
            ),
            query,
        )
        return _repoint_table(query2, name, tmp_name)

    def execute(self, statement: str) -> DataFrame | str:
        """The reference's SQL surface as a single entry point: endpoint /
        consume control calls (``SELECT pipeline_kinesis.<fn>(...)``,
        pipeline_kinesis--0.9.0.sql:33-82), PipelineDB DDL (CREATE STREAM
        / CONTINUOUS VIEW / CONTINUOUS TRANSFORM, ACTIVATE/DEACTIVATE,
        DROP), and ad-hoc reads — see sqlapi.py. Control statements
        return 'success' (README.md:103-110); reads return a DataFrame."""
        from pipeline_kinesis_spark.sqlapi import execute as _execute

        return _execute(self, statement)

    def register_proc(self, name: str, proc) -> None:
        """Register a per-batch procedure so SQL-surface transforms can
        reference it via THEN EXECUTE PROCEDURE name()."""
        self._procs[name] = proc

    def execute_script(self, script: str) -> list:
        """Run a multi-statement ops script (psql-style: `--` comments,
        semicolon-terminated statements) through execute()."""
        from pipeline_kinesis_spark.sqlapi import execute_script

        return execute_script(self, script)

    def seqnums(self) -> DataFrame:
        """Per-(consumer, shard) high-water marks — the queryable progress
        relation the reference exposes as pipeline_kinesis.seqnums
        (README.md:119-129; table written by save_consumer_state,
        pipeline_kinesis.c:543-579). Kinesis consumers report the
        catalog-persisted poller positions (the direct
        save_consumer_state analog); file-replay consumers derive their
        marks from ingested lineage, so they reflect exactly what is
        durably in the stream tables."""
        schema = "consumer_id INT, shard_id STRING, seqnum STRING"
        frames = []
        ck_rows = []
        for c in self.catalog.all_consumers():
            ds_state = self._ds_state_dir(c.id)
            if os.path.isdir(os.path.join(ds_state, "attained")):
                # datasource consumers: Spark's checkpoint owns the
                # offsets; the attained side-channel is the queryable
                # per-shard high-water mark
                att = _read_attained(ds_state)
                rows = [
                    (c.id, sid, st["seq"])
                    for sid, st in sorted(att.items())
                    if st.get("seq") is not None
                ]
                if rows:
                    ck_rows.extend(rows)
                    continue
            ck = self.catalog.load_kinesis_seqnums(c.id)
            if ck:
                ck_rows.extend(
                    (c.id, sid, seq) for sid, seq in sorted(ck.items())
                )
                continue
            if not os.path.isdir(self.table_dir(c.relation)):
                continue
            frames.append(
                self.stream_table(c.relation)
                .groupBy("shard_id")
                .agg(F.max("sequence_number").alias("seqnum"))
                .select(
                    F.lit(c.id).alias("consumer_id"),
                    "shard_id",
                    "seqnum",
                )
            )
        if ck_rows:
            frames.append(self.spark.createDataFrame(ck_rows, schema))
        if not frames:
            return self.spark.createDataFrame([], schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def wait_for_ingest(self, timeout_s: float = 60.0) -> None:
        """Block until all running queries have processed available input
        (test/demo helper). The ingest query of a datasource consumer
        polls an always-advancing source (every trigger plans a batch),
        so Spark's noNewData flag — what processAllAvailable waits on —
        never sets for it; it is instead polled until three consecutive
        completed batches carried zero input rows (three, not two — see
        _await_quiescent for the pinned-replay chain). Every other query
        then drains what is available, the spool those batches landed
        included."""
        import time as _time

        deadline = _time.monotonic() + timeout_s
        ds = self._datasource_ingests()
        for q in ds.values():
            self._await_quiescent(q, deadline)
        for cid, queries in self._running_queries().items():
            for q in queries:
                if q is not ds.get(cid):
                    q.processAllAvailable()

    @staticmethod
    def _await_quiescent(q, deadline: float) -> None:
        import time as _time

        zero_streak = 0
        last_bid = None
        while _time.monotonic() < deadline:
            if not q.isActive:
                return
            p = q.lastProgress
            bid = p.get("batchId") if p else None
            if bid is not None and bid != last_bid:
                last_bid = bid
                if p.get("numInputRows", 0) == 0:
                    zero_streak += 1
                    # 3, not 2: after a kill/resume, a record already on
                    # the stream takes up to three batches to surface —
                    # the REPLAY batch reads only to its attained pin
                    # (no poll past it, by design), the first live batch
                    # polls and records the new reach but its planned
                    # range predates it, and the third delivers. The
                    # first two legitimately carry zero input rows, so a
                    # 2-streak can declare quiescence with data still
                    # undelivered server-side.
                    if zero_streak >= 3:
                        return
                else:
                    zero_streak = 0
            _time.sleep(0.05)
        raise TimeoutError(
            f"ingest query {q.name!r} did not quiesce before deadline"
        )
