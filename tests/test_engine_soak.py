"""Concurrency soak: a standing parquet_upsert view with a chained
output-stream consumer keeps materializing while a chaos thread
hammers every maintenance entry point that shares the store
(ttl_expire sweeps, combine() reads, ad-hoc sql, view_table plans) and
the store is REBUCKETED twice mid-flight. The single-writer mutex and
manifest snapshots must keep all of it linearizable: at the end the
view equals the exact aggregate of everything fed, the archive holds
every record exactly once, and no maintenance call ever errored."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.file_replay import write_record_file


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    yield eng
    eng.consume_end_all()


import datetime as _dt

N_KEYS, N_BATCHES, ROWS_PER = 12, 15, 40
# must be LIVE relative to the fresh view's 86400 s TTL at run time
_TS = _dt.datetime.utcnow().strftime("%Y-%m-%d %H:%M:%S")


def test_concurrent_maintenance_soak(engine, spark, tmp_path):
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("st", "k STRING, v BIGINT, ts TIMESTAMP")
    engine.create_continuous_view(
        "agg",
        "SELECT k, count(*) AS cnt, sum(v) AS total, avg(v) AS mean "
        "FROM st GROUP BY k",
        "st",
        materialize="parquet_upsert",
        key_cols=["k"],
        upsert_buckets=4,
    )
    # TTL view (nothing actually expires) gives ttl_expire a live
    # target store to sweep concurrently with its own merges
    engine.create_continuous_view(
        "fresh",
        "SELECT k, max(ts) AS last_ts, count(*) AS n FROM st GROUP BY k",
        "st",
        materialize="parquet_upsert",
        key_cols=["k"],
        ttl_seconds=86400,
        ttl_column="last_ts",
    )
    engine.create_continuous_view(
        "changes",
        "SELECT new.k AS k, count(*) AS versions FROM agg_osrel "
        "GROUP BY new.k",
        "agg_osrel",
    )

    def feed():
        seq = 0
        for b in range(N_BATCHES):
            rows = []
            for i in range(ROWS_PER):
                n = b * ROWS_PER + i
                rows.append(
                    {
                        "data": f"k{n % N_KEYS},{n},{_TS}",
                        "partition_key": f"k{n % N_KEYS}",
                        "shard_id": "shardId-000000000000",
                        "sequence_number": f"{seq:056d}",
                    }
                )
                seq += 1
            write_record_file(str(src_root / "s1"), rows)
            time.sleep(0.25)

    errors: list[str] = []
    stop = threading.Event()

    def chaos():
        # wait for the first merges to materialize both stores — a
        # parquet_upsert view has no readable state before batch one
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and not stop.is_set():
            try:
                engine.view_table("agg").count()
                engine.view_table("fresh").count()
                break
            except Exception:  # noqa: BLE001 — not materialized yet
                time.sleep(0.1)
        rounds = 0
        while not stop.is_set():
            try:
                engine.ttl_expire("fresh")
                engine.view_table("agg").count()
                engine.combine("agg", []).collect()
                engine.sql(
                    "SELECT combine(total) AS t FROM agg"
                ).collect()
                rounds += 1
            except Exception:  # noqa: BLE001 — recorded, fails test
                import traceback

                errors.append(traceback.format_exc())
                return
        assert rounds > 0

    feeder = threading.Thread(target=feed)
    chaoser = threading.Thread(target=chaos)
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    feeder.start()
    chaoser.start()
    # two live rebuckets while everything runs
    time.sleep(1.0)
    engine.rebucket("agg", 8)
    time.sleep(1.0)
    engine.rebucket("agg", 16)
    feeder.join()
    engine.wait_for_ingest()
    engine.wait_for_ingest()  # drain the chained level too
    stop.set()
    chaoser.join(60)
    assert not chaoser.is_alive()
    assert not errors, "\n".join(errors)

    total_rows = N_BATCHES * ROWS_PER
    # archive: every record exactly once through all the chaos
    seqs = [
        r.sequence_number
        for r in engine.stream_table("st")
        .select("sequence_number")
        .collect()
    ]
    assert len(seqs) == total_rows and len(set(seqs)) == total_rows

    # the view equals the exact batch aggregate of everything fed
    expect: dict[str, tuple[int, int]] = {}
    for i in range(total_rows):
        k = f"k{i % N_KEYS}"
        c, t = expect.get(k, (0, 0))
        expect[k] = (c + 1, t + i)
    got = {
        r.k: (r.cnt, r.total)
        for r in engine.view_table("agg").collect()
    }
    assert got == expect
    # final layout is the rebucketed one and the manifest agrees
    manifest = os.path.join(engine.view_dir("agg"), "_manifest", "LATEST.json")
    with open(manifest) as f:
        assert json.load(f)["num_buckets"] == 16
    # chained consumer saw deltas for every key
    chained = {r.k for r in engine.view_table("changes").collect()}
    assert chained == set(expect)
    # TTL view holds every key (nothing expired through the sweeps)
    assert {
        r.k for r in engine.view_table("fresh").collect()
    } == set(expect)
    # combine over the final store merges the avg partials exactly
    mean = engine.combine("agg", []).collect()[0].mean
    assert abs(mean - (sum(range(total_rows)) / total_rows)) < 1e-9
