"""Round-6 hardening: bounded osrel retention by default, single-writer
serialization of ttl_expire against the live merge, combine() leaving
the public view binding untouched, reference-driven sql() registration,
osrel reap-gap warnings for late-wired consumers, stream names that
merely end in ``_osrel``, and upsert-store rebucketing."""

from __future__ import annotations

import json
import os
import threading

import pytest

import pipeline_kinesis_spark.engine as eng_mod
from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.file_replay import write_record_file
from pipeline_kinesis_spark.streaming.continuous_view import (
    read_reap_marker,
)


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    yield eng
    eng.consume_end_all()


def _manifest_buckets(table_dir):
    with open(os.path.join(table_dir, "_manifest", "LATEST.json")) as f:
        return json.load(f)["num_buckets"]


def _put(stream_dir, rows, start=1):
    write_record_file(
        str(stream_dir),
        [
            {
                "data": data,
                "partition_key": data.split(",")[0],
                "shard_id": "shardId-000000000000",
                "sequence_number": f"{i:056d}",
            }
            for i, data in enumerate(rows, start)
        ],
    )


_BASE_SQL = "SELECT k, count(*) AS cnt, sum(v) AS total FROM st GROUP BY k"


def _setup_emitting(engine, tmp_path, **view_kwargs):
    """Base parquet_upsert view + one chained consumer (emission on)."""
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("st", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "agg",
        _BASE_SQL,
        "st",
        materialize="parquet_upsert",
        key_cols=["k"],
        **view_kwargs,
    )
    engine.create_continuous_view(
        "changes",
        "SELECT new.k AS k, count(*) AS versions FROM agg_osrel "
        "GROUP BY new.k",
        "agg_osrel",
    )
    return src_root


# ----------------------------------------------------- osrel retention


def test_osrel_retention_bounded_by_default(
    engine, spark, tmp_path, monkeypatch
):
    """An UNCONFIGURED emitting view gets the finite retention default —
    its delta dir stays bounded across more than keep batches."""
    monkeypatch.setattr(eng_mod, "OSREL_KEEP_DEFAULT", 1)
    src_root = _setup_emitting(engine, tmp_path)  # no osrel_keep_batches
    assert (
        engine.catalog.state.views["agg"]["osrel_keep_batches"] == 1
    )
    _put(src_root / "s1", ["a,1"])
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    _put(src_root / "s1", ["a,2"], start=10)
    engine.wait_for_ingest()
    _put(src_root / "s1", ["a,3"], start=20)
    engine.wait_for_ingest()
    batches = [
        n for n in os.listdir(engine.osrel_dir("agg")) if n.startswith("b")
    ]
    assert len(batches) <= 2  # bounded without any configuration
    got = {r.k: r.versions for r in engine.view_table("changes").collect()}
    assert got == {"a": 3}  # the standing consumer still saw every delta


def test_osrel_explicit_none_is_unbounded(engine, spark, tmp_path):
    """osrel_keep_batches=None stays the audit-everything opt-in: every
    emitted batch is retained."""
    src_root = _setup_emitting(engine, tmp_path, osrel_keep_batches=None)
    assert (
        engine.catalog.state.views["agg"]["osrel_keep_batches"] is None
    )
    _put(src_root / "s1", ["a,1"])
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    _put(src_root / "s1", ["a,2"], start=10)
    engine.wait_for_ingest()
    _put(src_root / "s1", ["a,3"], start=20)
    engine.wait_for_ingest()
    batches = [
        n for n in os.listdir(engine.osrel_dir("agg")) if n.startswith("b")
    ]
    assert len(batches) == 3


def test_sql_surface_unbounded_spelling(engine):
    engine.create_stream("st", "k STRING, v BIGINT")
    engine.execute(
        "CREATE CONTINUOUS VIEW a WITH (materialize='parquet_upsert', "
        f"key_cols='k', osrel_keep_batches=unbounded) AS {_BASE_SQL}"
    )
    assert engine.catalog.state.views["a"]["osrel_keep_batches"] is None
    engine.execute(
        "CREATE CONTINUOUS VIEW b WITH (materialize='parquet_upsert', "
        f"key_cols='k', osrel_keep_batches=7) AS {_BASE_SQL}"
    )
    assert engine.catalog.state.views["b"]["osrel_keep_batches"] == 7
    engine.execute(
        "CREATE CONTINUOUS VIEW c WITH (materialize='parquet_upsert', "
        f"key_cols='k') AS {_BASE_SQL}"
    )
    assert (
        engine.catalog.state.views["c"]["osrel_keep_batches"]
        == eng_mod.OSREL_KEEP_DEFAULT
    )


def test_late_osrel_consumer_warns_after_reap(engine, spark, tmp_path):
    """Wiring a NEW chained consumer after retention has reaped batches
    warns (its from-scratch file-stream can't see the reaped history)."""
    src_root = _setup_emitting(engine, tmp_path, osrel_keep_batches=1)
    _put(src_root / "s1", ["a,1"])
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    _put(src_root / "s1", ["a,2"], start=10)
    engine.wait_for_ingest()
    _put(src_root / "s1", ["a,3"], start=20)
    engine.wait_for_ingest()
    assert read_reap_marker(engine.osrel_dir("agg")) > 0
    with pytest.warns(UserWarning, match="reaped delta batches"):
        engine.create_continuous_view(
            "late",
            "SELECT new.k AS k, count(*) AS n FROM agg_osrel "
            "GROUP BY new.k",
            "agg_osrel",
        )


# ------------------------------------------- _osrel-suffixed stream name


def test_declared_stream_named_osrel_suffix(engine):
    """A DECLARED stream whose name ends in _osrel (with no view of the
    prefix) is a legal source — validator precedence matches the
    catalog's (streams first)."""
    engine.create_stream("x_osrel", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "v_over_x",
        "SELECT k, count(*) AS n FROM x_osrel GROUP BY k",
        "x_osrel",
    )
    engine.create_continuous_transform(
        "t_over_x",
        "SELECT k FROM x_osrel",
        stream="x_osrel",
        sink_relation="x_sink",
    )


# ------------------------------------------------ combine() name hygiene


def test_combine_sql_leaves_public_view_binding(engine, spark, tmp_path):
    """A combine() ad-hoc query must not repoint the view's public temp
    name at the (TTL-filtered) matrel — plain SELECTs keep identical
    semantics before and after."""
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("st", "k STRING, ts TIMESTAMP")
    engine.create_continuous_view(
        "m",
        "SELECT k, max(ts) AS last_ts, count(*) AS n FROM st GROUP BY k",
        "st",
        ttl_seconds=3600,
        ttl_column="last_ts",
    )
    _put(
        src_root / "s1",
        ["a,2099-01-01 00:00:00", "b,2000-01-01 00:00:00"],
    )
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    # sql() by name reads the view as view_table does: TTL-filtered
    before = engine.sql("SELECT count(*) AS c FROM m").collect()[0].c
    assert before == 1
    assert {r.k for r in engine.view_table("m").collect()} == {"a"}
    # the memory sink itself still holds both groups
    assert spark.table("m").count() == 2
    # combine() respects the view's TTL read semantics...
    total = engine.sql("SELECT combine(n) AS total FROM m").collect()[0]
    assert total.total == 1  # only a's live group contributes
    # ...and does NOT change what the public name means afterwards
    after = engine.sql("SELECT count(*) AS c FROM m").collect()[0].c
    assert after == before
    # the public name still resolves to the live memory sink (both
    # groups), not to a TTL-filtered view that combine() rebound it to
    assert spark.table("m").count() == 2


# ------------------------------------- reference-driven sql() registration


def test_sql_registers_only_referenced_relations(
    engine, spark, tmp_path, monkeypatch
):
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("st", "k STRING, v BIGINT")
    engine.create_stream("other_stream", "k STRING, v BIGINT")
    for name in ("v1", "v2"):
        engine.create_continuous_view(
            name,
            _BASE_SQL,
            "st",
            materialize="parquet_upsert",
            key_cols=["k"],
        )
    _put(src_root / "s1", ["a,1", "b,2"])
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    engine.consume_end_all()

    planned: list[str] = []
    orig_vt = engine.view_table
    orig_st = engine.stream_table
    monkeypatch.setattr(
        engine,
        "view_table",
        lambda n: (planned.append(n), orig_vt(n))[1],
    )
    monkeypatch.setattr(
        engine,
        "stream_table",
        lambda n: (planned.append(n), orig_st(n))[1],
    )
    rows = engine.sql("SELECT k, cnt FROM v1 ORDER BY k").collect()
    assert [r.k for r in rows] == ["a", "b"]
    # v2's manifest and the streams' parquet dirs were never planned
    assert planned == ["v1"]


# ----------------------------------------- ttl_expire writer serialization


def test_ttl_expire_waits_for_store_lock(engine):
    engine.create_stream("st", "k STRING, ts TIMESTAMP")
    engine.create_continuous_view(
        "v",
        "SELECT k, max(ts) AS last_ts, count(*) AS n FROM st GROUP BY k",
        "st",
        materialize="parquet_upsert",
        key_cols=["k"],
        ttl_seconds=60,
        ttl_column="last_ts",
    )
    os.makedirs(engine.view_dir("v"), exist_ok=True)
    lock = engine._store_lock("v")
    result: dict[str, int] = {}
    lock.acquire()
    try:
        t = threading.Thread(
            target=lambda: result.setdefault("n", engine.ttl_expire("v"))
        )
        t.start()
        t.join(0.5)
        # the sweep queues behind the (simulated) in-flight merge
        assert t.is_alive() and "n" not in result
    finally:
        lock.release()
    t.join(30)
    assert result["n"] == 0


# ------------------------------------------------------------- rebucket


def test_rebucket_resizes_store_and_survives_restart(
    engine, spark, tmp_path
):
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("st", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "agg",
        _BASE_SQL,
        "st",
        materialize="parquet_upsert",
        key_cols=["k"],
        upsert_buckets=4,
    )
    keys = [chr(ord("a") + i) for i in range(12)]
    _put(src_root / "s1", [f"{k},1" for k in keys])
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    engine.consume_end_all()
    table_dir = engine.view_dir("agg")
    assert _manifest_buckets(table_dir) == 4
    before = {
        r.k: (r.cnt, r.total) for r in engine.view_table("agg").collect()
    }
    assert set(before) == set(keys)

    # the ops-hammer SQL spelling drives the same path
    assert engine.execute("SELECT pipeline_rebucket('agg', 16)") == "success"
    assert _manifest_buckets(table_dir) == 16
    assert engine.catalog.state.views["agg"]["upsert_buckets"] == 16
    buckets = {
        int(n.split("=", 1)[1])
        for n in os.listdir(table_dir)
        if n.startswith("upsert_kb=")
    }
    assert buckets and all(0 <= b < 16 for b in buckets)
    after = {
        r.k: (r.cnt, r.total) for r in engine.view_table("agg").collect()
    }
    assert after == before  # merge/read semantics intact

    # merges resume cleanly on the new layout...
    _put(src_root / "s1", ["a,10"], start=100)
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    engine.consume_end_all()
    got = {
        r.k: (r.cnt, r.total) for r in engine.view_table("agg").collect()
    }
    assert got["a"] == (2, 11)
    assert got["b"] == before["b"]

    # ...and a fresh engine over the same metadata reads the manifest
    eng2 = Engine(spark, metadata_dir=engine.metadata_dir)
    got2 = {
        r.k: (r.cnt, r.total) for r in eng2.view_table("agg").collect()
    }
    assert got2 == got


def test_combine_rewrite_leaves_string_literals_alone(
    engine, spark, tmp_path
):
    """combine() rewrites the view reference in the query TEXT — a
    string literal that happens to equal the view name must survive."""
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("st", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "vv", "SELECT k, count(*) AS n FROM st GROUP BY k", "st"
    )
    _put(src_root / "s1", ["vv,1", "vv,2", "other,3"])
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    row = engine.sql(
        "SELECT combine(n) AS total FROM vv WHERE k = 'vv'"
    ).collect()[0]
    assert row.total == 2  # the literal 'vv' was not rewritten
    row = engine.sql(
        "SELECT combine(n) AS total FROM vv WHERE k <> 'vv'"
    ).collect()[0]
    assert row.total == 1


def test_sql_resolves_relations_case_insensitively(
    engine, spark, tmp_path
):
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("events_in", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "agg",
        "SELECT k, count(*) AS cnt FROM events_in GROUP BY k",
        "events_in",
        materialize="parquet_upsert",
        key_cols=["k"],
    )
    _put(src_root / "s1", ["a,1", "b,2"])
    engine.consume_begin("ep", "s1", "events_in", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    engine.consume_end_all()
    # Spark SQL resolves identifiers case-insensitively — registration
    # must match that, not require the exact catalog spelling
    assert engine.sql("SELECT count(*) AS c FROM Events_IN").collect()[
        0
    ].c == 2
    assert engine.sql("SELECT count(*) AS c FROM AGG").collect()[0].c == 2


def test_rebucket_count_rides_the_manifest(engine, spark, tmp_path):
    """The bucket count flips atomically WITH the manifest: a stale
    marker file (the crash the old two-file design allowed) must not
    make later merges hash keys into the wrong layout."""
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("st", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "agg",
        _BASE_SQL,
        "st",
        materialize="parquet_upsert",
        key_cols=["k"],
        upsert_buckets=4,
    )
    keys = [chr(ord("a") + i) for i in range(10)]
    _put(src_root / "s1", [f"{k},1" for k in keys])
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    engine.consume_end_all()
    engine.rebucket("agg", 16)
    # a stray bucket-count file (the old marker's name) is ignored:
    # the manifest is the only record of the count
    with open(os.path.join(engine.view_dir("agg"), "_upsert_nb"), "w") as f:
        f.write("4")
    _put(src_root / "s1", ["a,10"], start=50)
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    engine.consume_end_all()
    got = {
        r.k: (r.cnt, r.total) for r in engine.view_table("agg").collect()
    }
    assert got["a"] == (2, 11)  # merged, not duplicated across layouts
    assert all(got[k] == (1, 1) for k in keys if k != "a")


def test_shrinking_rebucket_reaps_old_high_buckets(
    engine, spark, tmp_path
):
    """rebucket down: bucket ids outside the new modulus are dropped
    from the manifest with one generation of grace, then the orphan-dir
    reap claims them at the next commit — they must not leak forever
    (no future merge or round-robin sweep would ever touch them)."""
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("st", "k STRING, v BIGINT")
    engine.create_continuous_view(
        "agg",
        _BASE_SQL,
        "st",
        materialize="parquet_upsert",
        key_cols=["k"],
        upsert_buckets=16,
    )
    keys = [f"key{i}" for i in range(40)]
    _put(src_root / "s1", [f"{k},1" for k in keys])
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    engine.consume_end_all()
    table_dir = engine.view_dir("agg")
    high = [
        n
        for n in os.listdir(table_dir)
        if n.startswith("upsert_kb=")
        and int(n.split("=", 1)[1]) >= 4
    ]
    assert high  # 40 keys over 16 buckets: some land high

    engine.rebucket("agg", 4)
    # one generation of grace: old dirs may still exist right now, but
    # the next commit reaps every bucket dir outside the new layout
    _put(src_root / "s1", ["key0,10"], start=100)
    engine.consume_begin("ep", "s1", "st", fmt="csv", delimiter=",")
    engine.wait_for_ingest()
    engine.consume_end_all()
    left = {
        int(n.split("=", 1)[1])
        for n in os.listdir(table_dir)
        if n.startswith("upsert_kb=")
    }
    assert left and all(b < 4 for b in left), left
    got = {
        r.k: (r.cnt, r.total) for r in engine.view_table("agg").collect()
    }
    assert got["key0"] == (2, 11)
    assert all(got[k] == (1, 1) for k in keys if k != "key0")
