"""Budgeted randomized ENGINE-LIFECYCLE fuzz (r14).

The gate rows each pin ONE lifecycle choreography (restart, pause/
resume, rebucket, alter, TTL reap...). This tool fuzzes the
INTERLEAVINGS: a seeded random schedule of lifecycle operations runs
against one standing parquet_upsert view while deterministic records
feed in, and at the end the contract must hold exactly:

  - view_table == the exact python-side aggregate of everything fed
    (count / sum / min / max per key),
  - the durable archive holds every record exactly once,
  - no operation ever raises.

Ops drawn per step (seeded):
  feed           write another record file (monotonic seqnums; may
                 land while the pipeline is down — must be picked up)
  feed_malformed a feed where ~1/5 rows use the wrong delimiter —
                 they must quarantine exactly (first column BIGINT,
                 so a mis-delimited row always fails the cast)
  drain          wait_for_ingest
  pause_resume   consume_end_all + consume_begin on the SAME engine
  restart        consume_end_all + a NEW Engine over the same
                 metadata dir + consume_begin (process-death analog)
  flap_view      deactivate + activate of the base view or one of the
                 scenario's chained views (consumers keep archiving;
                 the view resumes from its checkpoint)
  rebucket       live store resize to a new bucket count
  replay         replay_dead_letters with the corrected delimiter
                 (idempotent; recovered rows append to the ARCHIVE —
                 standing views do not consume them, by contract)
  alter          consume_end_all + ALTER STREAM ADD COLUMN via the
                 SQL surface + resume; later feeds carry the extra
                 column (view untouched; once per scenario)
  compact        consume_end_all + compact_stream_table + resume (a
                 batch replayed after the swap must not be archived
                 again)
  crash_commit   arm a one-shot fault on the upsert store's manifest
                 flip, feed: the next store commit raises after its
                 part files moved in (the view query dies) —
                 consume_end_all + resume replays the batch over the
                 crashed commit's orphans
  crash_publish  (wire and datasource mixes) arm a one-shot fault on
                 the ingest query's archive publish, feed: the batch
                 dies after its spool landing (datasource path), before
                 its archive publish — consume_end_all + resume must
                 archive it exactly once

Scenario shapes (seeded, reported as shape_counts): ~half chain a view
on the base view's output stream (osrel_chain), ~a third carry a
durable sliding-window twin (sw_twin), ~a third add a transform-sink
chain (sink_chain): a transform copying the stream into a sink
relation, a parquet_upsert view on the sink and a view on that view's
output stream.

End-of-scenario ledger (after a final drain):
  view == exact aggregate of WELL-FORMED rows fed,
  every chained view (telescoped osrel sums included) == the same,
  archive == well-formed + replay-recovered,
  dead_letters == malformed - recovered.

--mode wire fuzzes the MANAGED KINESIS PUMP path instead (the
reference's core protocol, A1-A4/A9-A12): a boto3-shaped canned wire
(sources/fake_kinesis.py) takes seeded interleavings of append /
shard SPLIT / shard MERGE / injected throttle+expire faults /
pause-resume / full engine restart, and the same exactness ledger
must hold (every appended record lands in the view and archive
exactly once, across reshard boundaries, fault retries, restarts,
compactions, crashed store commits and crashed archive publishes).
--mode datasource drives the executor-parallel path the same way;
--mode mixed cycles all three per scenario.

Scenario i draws from default_rng([seed, i]) so any single scenario
replays standalone: --only-scenario N reruns exactly scenario N of
the same seed.

Usage:
  python tools/fuzz_lifecycle.py [--budget-s 300] [--seed N]
                                 [--only-scenario N]
                                 [--mode file|wire|datasource|mixed]

Emits one JSON summary line; exit 1 on any contract violation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback
import uuid
from collections import Counter

sys.path.insert(0, ".")

import numpy as np  # noqa: E402

OPS = (
    "feed", "drain", "pause_resume", "restart", "flap_view",
    "rebucket", "feed_malformed", "replay", "alter",
    "ttl_expire", "replay_rebucket", "compact", "crash_commit",
)
# feeds and drains dominate so most scenarios move real data between
# lifecycle punches. r15 ops (VERDICT r14 #3): ttl_expire = the manual
# sweep racing the live merge (the view carries a never-expiring TTL so
# the sweep takes the store lock mid-stream but must reap 0);
# replay_rebucket = replay_dead_letters on a worker thread racing a
# concurrent rebucket of the same view's store (A19 concurrency guard).
WEIGHTS = (0.18, 0.16, 0.10, 0.10, 0.09, 0.08, 0.08, 0.05, 0.03,
           0.04, 0.03, 0.03, 0.03)
KEYS = tuple(f"k{i}" for i in range(8))


def _scenario(spark, rng: np.random.Generator, ops_run: list) -> dict:
    """Run one seeded scenario; appends each op to ops_run as it goes
    (so a raising op leaves its trace for the caller's report)."""
    from pipeline_kinesis_spark.engine import Engine
    from pipeline_kinesis_spark.sources.file_replay import (
        write_record_file,
    )

    tag = uuid.uuid4().hex[:8]
    root = tempfile.mkdtemp(prefix=f"lcf_{tag}_")
    ep, stream, view = f"lcf_ep_{tag}", f"lcf_st_{tag}", f"lcf_v_{tag}"

    def new_engine() -> "Engine":
        return Engine(
            spark,
            metadata_dir=f"{root}/meta",
            trigger_interval="50 milliseconds",
            shuffle_partitions=4,
        )

    expected: dict[str, list] = {}  # k -> [n, sum, min, max] (good rows)
    state = {
        "good": 0,       # well-formed rows fed
        "malformed": 0,  # mis-delimited rows fed (must quarantine)
        "recovered": 0,  # rows replay_dead_letters brought back
        "feed_no": 0,
        "altered": False,
    }

    def feed(malformed_frac: float = 0.0):
        n = int(rng.integers(20, 120))
        recs = []
        for i in range(n):
            k = KEYS[int(rng.integers(0, len(KEYS)))]
            v = int(rng.integers(-1000, 1000))
            if rng.random() < malformed_frac:
                # wrong delimiter: "v;k" is ONE field and fails the
                # BIGINT cast on column 1 -> quarantined exactly
                data = f"{v};{k}"
                state["malformed"] += 1
            else:
                data = f"{v},{k}"
                if state["altered"]:
                    data += f",{int(rng.integers(0, 100))}"
                agg = expected.setdefault(k, [0, 0, v, v])
                agg[0] += 1
                agg[1] += v
                agg[2] = min(agg[2], v)
                agg[3] = max(agg[3], v)
                state["good"] += 1
            recs.append(
                {
                    "data": data,
                    "partition_key": k,
                    "shard_id": f"shardId-{i % 4:012d}",
                    "sequence_number": (
                        f"{state['feed_no'] * 10**9 + i:056d}"
                    ),
                }
            )
        write_record_file(f"{root}/records", recs)
        state["feed_no"] += 1

    eng = new_engine()
    consuming = False
    view_active = True
    try:
        eng.add_endpoint(ep, url=root)
        eng.create_stream(stream, "v BIGINT, k STRING")
        eng.create_continuous_view(
            view,
            f"SELECT k, count(*) AS n, sum(v) AS total, "
            f"min(v) AS vmin, max(v) AS vmax, "
            # TTL plumbing for the ttl_expire op: a 10-year TTL on the
            # freshest arrival means the manual sweep always races the
            # merge but must never reap a live row
            f"max(arrival_timestamp) AS last_seen "
            f"FROM {stream} GROUP BY k",
            stream=stream,
            materialize="parquet_upsert",
            key_cols=["k"],
            upsert_buckets=2,
            ttl_seconds=86400 * 3650,
            ttl_column="last_seen",
            # chained scenarios telescope the FULL delta history
            osrel_keep_batches=None,
        )
        # ~half the scenarios chain a second CONTINUOUS VIEW on the
        # base view's output stream (VERDICT r14 #3: osrel chains
        # under restart) — its telescoped sums must equal the base
        # counts at the end no matter how the lifecycle interleaved
        chained = bool(rng.random() < 0.5)
        if chained:
            eng.create_continuous_view(
                f"{view}_chain",
                f"SELECT new.k AS k, "
                f"sum(new.n - coalesce(old.n, 0)) AS n, "
                f"sum(new.total - coalesce(old.total, 0)) AS total "
                f"FROM {view}_osrel GROUP BY new.k",
                stream=f"{view}_osrel",
            )
        # ~a third carry a sliding-window twin (VERDICT r14 #3: ALTER
        # interleaved with sw views) — 30-day window, so every record
        # stays in-window and the recombined read equals the exact
        # aggregate
        sw_twin = bool(rng.random() < 0.35)
        if sw_twin:
            eng.create_continuous_view(
                f"{view}_sw",
                f"SELECT k, count(*) AS n, sum(v) AS total "
                f"FROM {stream} GROUP BY k",
                stream=stream,
                materialize="parquet_upsert",
                sw_seconds=30 * 86400,
                sw_step_seconds=86400,
            )
        # ~a third chain through a transform's sink: stream → transform
        # → sink relation → parquet_upsert view → view on its output
        # stream, whose telescoped sums must equal the exact aggregate
        sink_chain = bool(rng.random() < 0.33)
        flappable = [view]
        if chained:
            flappable.append(f"{view}_chain")
        if sink_chain:
            eng.create_continuous_transform(
                f"{view}_t",
                f"SELECT k, v FROM {stream}",
                stream=stream,
                sink_relation=f"{view}_sink",
            )
            eng.create_continuous_view(
                f"{view}_sv",
                f"SELECT k, count(*) AS n, sum(v) AS total "
                f"FROM {view}_sink GROUP BY k",
                stream=f"{view}_sink",
                materialize="parquet_upsert",
                key_cols=["k"],
                osrel_keep_batches=None,
            )
            eng.create_continuous_view(
                f"{view}_svc",
                f"SELECT new.k AS k, "
                f"sum(new.n - coalesce(old.n, 0)) AS n, "
                f"sum(new.total - coalesce(old.total, 0)) AS total "
                f"FROM {view}_sv_osrel GROUP BY new.k",
                stream=f"{view}_sv_osrel",
            )
            flappable += [f"{view}_sv", f"{view}_svc"]
        shape = [
            name for name, on in (
                ("osrel_chain", chained),
                ("sw_twin", sw_twin),
                ("sink_chain", sink_chain),
            ) if on
        ]
        feed()

        def begin():
            nonlocal consuming
            eng.consume_begin(
                ep, "records", stream, fmt="csv", delimiter=",",
            )
            consuming = True

        begin()
        n_ops = int(rng.integers(5, 11))
        for _ in range(n_ops):
            op = str(rng.choice(OPS, p=WEIGHTS))
            ops_run.append(op)
            if op == "feed":
                feed()
            elif op == "feed_malformed":
                feed(malformed_frac=0.2)
            elif op == "drain":
                if consuming:
                    eng.wait_for_ingest(timeout_s=180)
            elif op == "pause_resume":
                eng.consume_end_all()
                consuming = False
                if rng.random() < 0.5:
                    feed()  # lands while the pipeline is down
                begin()
            elif op == "restart":
                eng.consume_end_all()
                consuming = False
                if rng.random() < 0.5:
                    feed()
                eng = new_engine()
                begin()
                view_active = True
            elif op == "flap_view":
                if view_active and consuming:
                    flapped = str(rng.choice(flappable))
                    part = flapped[len(view) + 1:] or "base"
                    ops_run[-1] = f"flap_view:{part}"
                    eng.deactivate(flapped)
                    if rng.random() < 0.5:
                        feed()  # archived while the view is down
                    eng.activate(flapped)
            elif op == "rebucket":
                if consuming:
                    eng.rebucket(view, int(rng.choice([1, 2, 4, 8])))
            elif op == "replay":
                # only quarantined-and-drained rows are recoverable;
                # drain first so the ledger stays exact
                if consuming:
                    eng.wait_for_ingest(timeout_s=180)
                state["recovered"] += int(
                    eng.replay_dead_letters(stream, delimiter=";")
                )
            elif op == "ttl_expire":
                # manual sweep racing the live merge: must not raise,
                # must reap nothing (TTL is 10 years)
                reaped = int(eng.ttl_expire(view))
                if reaped:
                    raise AssertionError(
                        f"ttl_expire reaped {reaped} live rows"
                    )
            elif op == "replay_rebucket":
                # replay on a worker thread racing a rebucket of the
                # same view's store — the concurrency guard must
                # serialize them without deadlock or ledger drift
                if consuming:
                    eng.wait_for_ingest(timeout_s=180)
                box: list = []

                def _rep(e=eng):
                    try:
                        box.append(int(
                            e.replay_dead_letters(stream, delimiter=";")
                        ))
                    except Exception as ex:  # surfaces as violation
                        box.append(ex)

                t = threading.Thread(target=_rep)
                t.start()
                if consuming:
                    eng.rebucket(view, int(rng.choice([1, 2, 4, 8])))
                t.join(timeout=180)
                if t.is_alive():
                    raise AssertionError(
                        "replay_rebucket deadlock: replay thread hung"
                    )
                got_r = box[0] if box else 0
                if isinstance(got_r, Exception):
                    raise got_r
                state["recovered"] += got_r
            elif op == "alter":
                if not state["altered"]:
                    # documented precondition: drain, THEN stop, THEN
                    # alter — old-format rows still unconsumed at ALTER
                    # time quarantine as arity-mismatches (recoverable
                    # only via replay_dead_letters(schema_ddl=...);
                    # that path has its own deterministic test)
                    if consuming:
                        eng.wait_for_ingest(timeout_s=180)
                    eng.consume_end_all()
                    consuming = False
                    from pipeline_kinesis_spark import sqlapi

                    sqlapi.execute(
                        eng,
                        f"ALTER STREAM {stream} ADD COLUMN w bigint",
                    )
                    state["altered"] = True
                    begin()
            elif op == "compact":
                eng.consume_end_all()
                consuming = False
                _compact(eng, stream)
                begin()
            elif op == "crash_commit":
                _crash_commit(feed)
                eng.consume_end_all()
                consuming = False
                begin()
        if not consuming:
            begin()
        eng.wait_for_ingest(timeout_s=300)
        if chained or sink_chain:
            eng.wait_for_ingest(timeout_s=120)  # drain the cascade tail

        problems = []
        got = {
            r.k: (int(r.n), int(r.total), int(r.vmin), int(r.vmax))
            for r in eng.view_table(view).collect()
        }
        want = {k: tuple(v) for k, v in expected.items()}
        if got != want:
            extra = {k: got[k] for k in got if want.get(k) != got[k]}
            missing = {k: want[k] for k in want if got.get(k) != want[k]}
            problems.append(
                f"view mismatch: got!={extra} want!={missing}"
            )
        if chained:
            cgot = {
                r.k: (int(r.n), int(r.total))
                for r in eng.view_table(f"{view}_chain").collect()
            }
            cwant = {k: (v[0], v[1]) for k, v in expected.items()}
            if cgot != cwant:
                problems.append(
                    f"chained telescope mismatch: {cgot} != {cwant}"
                )
        if sink_chain:
            cwant = {k: (v[0], v[1]) for k, v in expected.items()}
            for chained_view in (f"{view}_sv", f"{view}_svc"):
                cgot = {
                    r.k: (int(r.n), int(r.total))
                    for r in eng.view_table(chained_view).collect()
                }
                if cgot != cwant:
                    problems.append(
                        f"sink chain {chained_view[len(view):]} mismatch: "
                        f"{cgot} != {cwant}"
                    )
        if sw_twin:
            sgot = {
                r.k: (int(r.n), int(r.total))
                for r in eng.view_table(f"{view}_sw").collect()
            }
            swant = {k: (v[0], v[1]) for k, v in expected.items()}
            if sgot != swant:
                problems.append(
                    f"sw twin mismatch: {sgot} != {swant}"
                )
        archived = eng.stream_table(stream).count()
        want_archive = state["good"] + state["recovered"]
        if archived != want_archive:
            problems.append(
                f"archive {archived} != good+recovered {want_archive}"
            )
        dl = eng.dead_letters(stream).count()
        want_dl = state["malformed"] - state["recovered"]
        if dl != want_dl:
            problems.append(
                f"dead_letters {dl} != malformed-recovered {want_dl}"
            )
        return {
            "fed": state["good"] + state["malformed"],
            "feeds": state["feed_no"],
            "problems": problems,
            "shape": shape,
        }
    finally:
        eng.consume_end_all()
        shutil.rmtree(root, ignore_errors=True)


WIRE_OPS = (
    "append", "drain", "split", "merge", "fault",
    "pause_resume", "restart", "compact", "crash_commit", "crash_publish",
)
WIRE_WEIGHTS = (0.26, 0.13, 0.12, 0.10, 0.10, 0.07, 0.07, 0.05, 0.05, 0.05)


def _compact(eng, stream: str) -> None:
    """compact_stream_table on stopped consumers; a relation with no
    archive dir yet (nothing ingested) has nothing to compact."""
    if os.path.isdir(eng.table_dir(stream)):
        eng.compact_stream_table(stream, target_files=1)


def _crash_commit(feed, timeout_s: float = 120.0) -> None:
    """Arm a one-shot fault on the upsert store's manifest flip and
    feed: the next store commit raises after its part files moved into
    the bucket dirs, which kills the committing view query. Returns
    once the fault fired (or timeout_s passed); the caller restarts the
    consumers, whose replay of the batch must commit it exactly once
    and reap the crashed attempt's orphans."""
    from pipeline_kinesis_spark.streaming import continuous_view as cv

    real = cv.write_store_manifest
    fired = threading.Event()

    def crash(*args, **kwargs):
        cv.write_store_manifest = real
        fired.set()
        raise RuntimeError("injected crash before the manifest flip")

    cv.write_store_manifest = crash
    try:
        feed()
        fired.wait(timeout_s)
    finally:
        cv.write_store_manifest = real


def _crash_publish(feed, archive: str, timeout_s: float = 120.0) -> bool:
    """Arm a one-shot fault on the ingest query's archive publish and
    feed: the next batch that archives rows raises after staging them,
    before any file is published (on the datasource path, after the
    batch's spool files were), which kills the ingest query. Returns
    whether the fault fired within timeout_s; the caller restarts the
    consumers, whose replay of the batch must archive it exactly once
    while the views take each republished spool file once."""
    import pyarrow.parquet as pq

    import pipeline_kinesis_spark.engine as engine_mod

    real = engine_mod._publish_batch
    fired = threading.Event()

    def rows(tmp: str) -> int:
        return sum(
            pq.read_metadata(os.path.join(tmp, n)).num_rows
            for n in os.listdir(tmp)
            if n.startswith("part-") and n.endswith(".parquet")
        )

    def crash(tag, bid, staged, ext):
        # the datasource reader plans a batch every trigger: skip the
        # empty ones, whose replay would prove nothing
        if staged[0][1] != archive or not rows(staged[0][0]):
            return real(tag, bid, staged, ext)
        engine_mod._publish_batch = real
        fired.set()
        raise RuntimeError("injected crash before the archive publish")

    engine_mod._publish_batch = crash
    try:
        feed()
        return fired.wait(timeout_s)
    finally:
        engine_mod._publish_batch = real


def _scenario_wire(
    spark, rng: np.random.Generator, ops_run: list,
    datasource: bool = False,
) -> dict:
    """Wire-path scenario: seeded lifecycle ops against a canned
    boto3-shaped Kinesis. Default drives the managed driver-side pump;
    datasource=True drives the EXECUTOR-PARALLEL DataSource path over
    real SigV4 HTTP instead (VERDICT r14 #3: datasource-path
    lifecycle) — same ledger, the records must land exactly once
    through splits, merges, injected faults, pauses and engine
    restarts on either path."""
    import time as _time

    from pipeline_kinesis_spark.engine import Engine
    from pipeline_kinesis_spark.sources.fake_kinesis import (
        FakeKinesisClient,
        serve_fake_kinesis,
    )

    tag = uuid.uuid4().hex[:8]
    root = tempfile.mkdtemp(prefix=f"lcw_{tag}_")
    ep, stream, view = f"lcw_ep_{tag}", f"lcw_st_{tag}", f"lcw_v_{tag}"

    fake = FakeKinesisClient({"shardId-000": [], "shardId-001": []})
    keep = [False]
    srv = url = cred = None
    if datasource:
        srv, url = serve_fake_kinesis(fake)
        cred = f"{root}/creds"
        with open(cred, "w") as f:
            f.write(
                "[default]\naws_access_key_id = testing\n"
                "aws_secret_access_key = testing\n"
            )
    open_shards = ["shardId-000", "shardId-001"]
    next_shard = [2]
    expected: dict[str, list] = {}
    state = {"fed": 0}

    def shard_name() -> str:
        n = f"shardId-{next_shard[0]:03d}"
        next_shard[0] += 1
        return n

    def append():
        n = int(rng.integers(10, 60))
        for _ in range(n):
            k = KEYS[int(rng.integers(0, len(KEYS)))]
            v = int(rng.integers(-1000, 1000))
            agg = expected.setdefault(k, [0, 0, v, v])
            agg[0] += 1
            agg[1] += v
            agg[2] = min(agg[2], v)
            agg[3] = max(agg[3], v)
            s = open_shards[int(rng.integers(0, len(open_shards)))]
            fake.append(s, f"{v},{k}".encode())
        state["fed"] += n

    def new_engine() -> "Engine":
        eng = Engine(
            spark,
            metadata_dir=f"{root}/meta",
            trigger_interval="50 milliseconds",
            shuffle_partitions=4,
        )
        # clients are process-local by design: re-register after any
        # restart (production rebuilds one via make_boto3_client).
        # The datasource path builds its own SigV4 HTTP clients from
        # the endpoint's url/credfile, so no re-registration there.
        if not datasource:
            eng.register_kinesis_client(ep, fake)
        return eng

    def drain(eng, timeout_s=240.0):
        """Wire fetch is async to wait_for_ingest: poll until the
        archive holds everything appended so far, then drain views."""
        deadline = _time.monotonic() + timeout_s
        while _time.monotonic() < deadline:
            eng.wait_for_ingest(timeout_s=timeout_s)
            try:
                n = eng.stream_table(stream).count()
            except Exception:
                n = 0  # nothing archived yet
            if n >= state["fed"]:
                return
            _time.sleep(0.1)
        raise TimeoutError(
            f"archive stuck below fed={state['fed']}"
        )

    eng = None
    try:
        eng = Engine(
            spark,
            metadata_dir=f"{root}/meta",
            trigger_interval="50 milliseconds",
            shuffle_partitions=4,
        )
        if datasource:
            eng.add_endpoint(
                ep, region="us-east-1", url=url, credfile=cred
            )
        else:
            eng.add_endpoint(ep)  # kinesis-typed ep, injected client
            eng.register_kinesis_client(ep, fake)
        eng.create_stream(stream, "v BIGINT, k STRING")
        eng.create_continuous_view(
            view,
            f"SELECT k, count(*) AS n, sum(v) AS total, "
            f"min(v) AS vmin, max(v) AS vmax FROM {stream} GROUP BY k",
            stream=stream,
            materialize="parquet_upsert",
            key_cols=["k"],
            upsert_buckets=2,
        )
        append()

        def begin():
            eng.consume_begin(
                ep, "events_replay", stream, fmt="csv", delimiter=",",
                source="datasource" if datasource else "pump",
                rate_limit_rps=40,
            )

        begin()
        n_ops = int(rng.integers(5, 10))
        for _ in range(n_ops):
            op = str(rng.choice(WIRE_OPS, p=WIRE_WEIGHTS))
            ops_run.append(op)
            if op == "append":
                append()
            elif op == "drain":
                drain(eng)
            elif op == "split":
                if len(open_shards) <= 10:
                    parent = open_shards.pop(
                        int(rng.integers(0, len(open_shards)))
                    )
                    kids = [shard_name(), shard_name()]
                    fake.reshard(parent, kids)
                    open_shards.extend(kids)
            elif op == "merge":
                if len(open_shards) >= 3:
                    i = int(rng.integers(0, len(open_shards)))
                    a = open_shards.pop(i)
                    j = int(rng.integers(0, len(open_shards)))
                    b = open_shards.pop(j)
                    child = shard_name()
                    fake.merge([a, b], child)
                    open_shards.append(child)
            elif op == "fault":
                s = open_shards[int(rng.integers(0, len(open_shards)))]
                kind = "throttle" if rng.random() < 0.5 else "expire"
                fake.fault_plan.setdefault(s, []).append(kind)
            elif op == "pause_resume":
                eng.consume_end_all()
                if rng.random() < 0.5:
                    append()  # lands while the pump is down
                begin()
            elif op == "restart":
                eng.consume_end_all()
                if rng.random() < 0.5:
                    append()
                eng = new_engine()
                begin()
            elif op == "compact":
                eng.consume_end_all()
                _compact(eng, stream)
                begin()
            elif op == "crash_commit":
                _crash_commit(append)
                eng.consume_end_all()
                begin()
            elif op == "crash_publish":
                if not _crash_publish(append, eng.table_dir(stream)):
                    ops_run[-1] = "crash_publish_unfired"
                eng.consume_end_all()
                begin()
        drain(eng)

        problems = []
        got = {
            r.k: (int(r.n), int(r.total), int(r.vmin), int(r.vmax))
            for r in eng.view_table(view).collect()
        }
        want = {k: tuple(v) for k, v in expected.items()}
        if got != want:
            extra = {k: got[k] for k in got if want.get(k) != got[k]}
            missing = {k: want[k] for k in want if got.get(k) != want[k]}
            problems.append(
                f"view mismatch: got!={extra} want!={missing}"
            )
        archived = eng.stream_table(stream).count()
        if archived != state["fed"]:
            # dup/miss forensics: which sequence numbers were delivered
            # a wrong number of times (sample)
            seqs = Counter(
                r.sequence_number
                for r in eng.stream_table(stream)
                .select("sequence_number").collect()
            )
            dups = {k: c for k, c in seqs.items() if c > 1}
            problems.append(
                f"archive {archived} != fed {state['fed']}; "
                f"{len(dups)} dup seqnums, sample="
                f"{sorted(dups.items())[:6]}"
            )
        if problems and os.environ.get("LCF_KEEP_ON_VIOLATION"):
            print(f"KEEP root={root}", file=sys.stderr)
            keep[0] = True
        return {"fed": state["fed"], "feeds": -1, "problems": problems}
    finally:
        if eng is not None:
            eng.consume_end_all()
        if srv is not None:
            try:
                srv.shutdown()
            except Exception:
                pass
        if not keep[0]:
            shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--budget-s", type=float, default=300.0)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--only-scenario", type=int, default=None)
    ap.add_argument(
        "--mode",
        choices=("file", "wire", "datasource", "mixed"),
        default="file",
    )
    args = ap.parse_args()

    from pipeline_kinesis_spark import get_spark

    spark = get_spark("fuzz-lifecycle")
    t0 = time.monotonic()
    scenarios = 0
    total_ops = 0
    total_fed = 0
    op_counts: Counter = Counter()
    shape_counts: Counter = Counter()
    violations = []

    def run_one(idx: int):
        nonlocal scenarios, total_ops, total_fed
        rng = np.random.default_rng([args.seed, idx])
        ops_run: list = []
        # mixed cycles file / wire / datasource so one budget sweeps
        # all three ingestion paths
        if args.mode == "mixed":
            kind = ("file", "wire", "datasource")[idx % 3]
        else:
            kind = args.mode
        try:
            if kind == "file":
                res = _scenario(spark, rng, ops_run)
            else:
                ops_run.append(f"[{kind}]")
                res = _scenario_wire(
                    spark, rng, ops_run,
                    datasource=(kind == "datasource"),
                )
        except Exception as e:  # an op raising IS a violation
            violations.append(
                {
                    "scenario": idx,
                    "ops": ops_run,
                    "error": f"{type(e).__name__}: {e}"[:500],
                    "trace_tail": traceback.format_exc()[-800:],
                }
            )
        else:
            total_ops += len(ops_run)
            total_fed += res["fed"]
            shape_counts.update(res.get("shape", ()))
            for p in res["problems"]:
                violations.append(
                    {"scenario": idx, "ops": ops_run, "problem": p}
                )
        scenarios += 1
        op_counts.update(op for op in ops_run if not op.startswith("["))

    if args.only_scenario is not None:
        run_one(args.only_scenario)
    else:
        idx = 0
        while time.monotonic() - t0 < args.budget_s:
            run_one(idx)
            idx += 1
    print(
        json.dumps(
            {
                "metric": "lifecycle_fuzz_budget",
                "scenarios": scenarios,
                "lifecycle_ops": total_ops,
                "records_fed": total_fed,
                "op_counts": dict(sorted(op_counts.items())),
                "shape_counts": dict(sorted(shape_counts.items())),
                "violations": len(violations),
                "seed": args.seed,
                "budget_s": args.budget_s,
                "wall_s": round(time.monotonic() - t0, 1),
                "detail": violations[:4],
            }
        )
    )
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
