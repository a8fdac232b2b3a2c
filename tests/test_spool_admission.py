"""Spool admission on the Kinesis paths: the ingest pipeline's file
source admits everything the pump (or the datasource ingest query) has
spooled, up to a shard-derived backstop — flow control lives upstream
in the poller (batchsize per shard per fetch x fetches per second), so
``parallelism`` picks polling workers and never throttles the drain."""

from __future__ import annotations

import json
import os
import time

from pipeline_kinesis_spark.engine import (
    MAX_PROCS,
    Engine,
    spool_admission_cap,
)

from tests.test_kinesis_protocol import FakeKinesisClient


def _admitted_files_per_batch(source_log: str) -> dict[int, list[str]]:
    """batch id → spool files the file source admitted in it, from the
    ingest checkpoint's source log (a version line, then one JSON entry
    per admitted file; few batches, so no .compact files yet)."""
    out = {}
    for name in os.listdir(source_log):
        if not name.isdigit():
            continue
        with open(os.path.join(source_log, name)) as f:
            out[int(name)] = [
                os.path.basename(json.loads(line)["path"])
                for line in f
                if line.startswith("{")
            ]
    return out


def test_spool_admission_cap_is_a_shard_derived_backstop():
    assert spool_admission_cap(0) == 64
    assert spool_admission_cap(4) == 64
    assert spool_admission_cap(128) == 256
    # a pump round publishes one file per polling worker: the floor
    # admits many rounds of the widest pump in one micro-batch
    assert spool_admission_cap(0) >= 8 * MAX_PROCS


def test_pump_micro_batch_admits_whole_spool(spark, tmp_path):
    """With parallelism=1, batchsize=1 and a long trigger, the pump
    lands one single-record file per fetch round (4/s) — several files
    between two triggers. One micro-batch admits them all (the old
    parallelism cap admitted one file per batch), and the archive still
    holds each (shard_id, sequence_number) exactly once."""
    n = 6
    fake = FakeKinesisClient(
        {"shardId-000": [f"k{i % 2},{i}".encode() for i in range(n)]}
    )
    meta = str(tmp_path / "meta")
    eng = Engine(spark, metadata_dir=meta, trigger_interval="8 seconds")
    eng.add_endpoint("ep")
    eng.register_kinesis_client("ep", fake)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    eng.create_continuous_view(
        "adm_counts",
        "SELECT k, count(*) AS n, sum(v) AS total FROM k_in GROUP BY k",
        stream="k_in",
    )
    c = eng.consume_begin(
        "ep", "events", "k_in", fmt="csv", delimiter=",", batchsize=1,
        source="pump",
    )
    try:
        deadline = time.monotonic() + 60
        while eng.pump_status()[c.id]["records"] < n:
            assert time.monotonic() < deadline, eng.pump_status()
            time.sleep(0.05)
        eng.wait_for_ingest()

        spool = os.path.join(meta, "spool", str(c.id))
        spooled = sorted(f for f in os.listdir(spool) if f.endswith(".jsonl"))
        assert len(spooled) == n  # one record per pump round
        per_batch = _admitted_files_per_batch(
            os.path.join(meta, "checkpoints", str(c.id), "ingest", "sources", "0")
        )
        admitted = sorted(f for files in per_batch.values() for f in files)
        assert admitted == spooled  # every file, once
        # the pump lands all n files within ~1.5 s: the trigger that
        # follows the first (t=0) one finds the rest and takes them all
        assert len(per_batch) <= 2, per_batch
        assert max(map(len, per_batch.values())) > c.parallelism == 1

        arch = eng.stream_table("k_in").select(
            "shard_id", "sequence_number"
        ).collect()
        assert len(arch) == n and len(set(map(tuple, arch))) == n
        rows = {r.k: (r.n, r.total) for r in eng.view_table("adm_counts").collect()}
        assert rows == {"k0": (3, 0 + 2 + 4), "k1": (3, 1 + 3 + 5)}
    finally:
        eng.consume_end_all()
