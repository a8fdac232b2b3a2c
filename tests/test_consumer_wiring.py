"""One wiring path for standing queries.

consume_begin wires every active view and transform through the same
_wire_view/_wire_transform path that CREATE and ACTIVATE take on a
running consumer. So one catalog gets the same standing queries, in
dependency order and with the same watermarks, whether it was created
before consume_begin, while the consumer runs, or before a restart.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from pipeline_kinesis_spark.catalog import Consumer
from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.fake_kinesis import FakeKinesisClient
from pipeline_kinesis_spark.sources.file_replay import write_record_file


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(
        spark,
        metadata_dir=str(tmp_path / "meta"),
        trigger_interval="100 milliseconds",
        shuffle_partitions=4,
    )
    yield eng
    eng.consume_end_all()


def _put(src_root, rows, start):
    """One record file of "v,k" rows; a None k writes a mis-delimited
    row that fails the BIGINT cast and quarantines."""
    write_record_file(
        str(src_root / "s1"),
        [
            {
                "data": f"{v},{k}" if k is not None else f"{v};x",
                "partition_key": str(k),
                "shard_id": "shardId-000000000000",
                "sequence_number": f"{i:056d}",
            }
            for i, (v, k) in enumerate(rows, start)
        ],
    )


_BATCH1 = [(3, "a"), (-2, "a"), (5, "b"), (7, "c"), (1, "b"), (9, None)]
_BATCH2 = [(4, "a"), (6, "c"), (-8, "c"), (2, "d")]

_AGG = "SELECT k, count(*) AS n, sum(v) AS total FROM {} GROUP BY k"
_TELESCOPE = (
    "SELECT new.k AS k, sum(new.n - coalesce(old.n, 0)) AS n, "
    "sum(new.total - coalesce(old.total, 0)) AS total "
    "FROM {0}_osrel GROUP BY new.k"
)


def _create_catalog(eng):
    """Every chain shape: a view on the relation; a parquet_upsert view
    with a view and a transform on its output stream, and a view on
    that transform's sink; a transform with a sink; on that sink a
    parquet_upsert view (itself chained on by a view), a durable
    sliding-window view and a second transform, whose own sink has a
    view."""
    eng.create_continuous_view("direct", _AGG.format("ev"), "ev")
    eng.create_continuous_view(
        "base", _AGG.format("ev"), "ev",
        materialize="parquet_upsert", key_cols=["k"],
    )
    eng.create_continuous_view(
        "base_tel", _TELESCOPE.format("base"), "base_osrel"
    )
    eng.create_continuous_transform(
        "base_audit",
        "SELECT new.k AS k, new.total - coalesce(old.total, 0) AS dt "
        "FROM base_osrel",
        "base_osrel",
        sink_relation="base_audit_out",
    )
    eng.create_continuous_view(
        "audit_v",
        "SELECT k, sum(dt) AS total FROM base_audit_out GROUP BY k",
        "base_audit_out",
    )
    eng.create_continuous_transform(
        "t", "SELECT v, k, arrival_timestamp FROM ev WHERE v > 0", "ev",
        sink_relation="s",
    )
    eng.create_continuous_view(
        "sv", _AGG.format("s"), "s",
        materialize="parquet_upsert", key_cols=["k"],
    )
    eng.create_continuous_view("sv_tel", _TELESCOPE.format("sv"), "sv_osrel")
    eng.create_continuous_view(
        "sw", _AGG.format("s"), "s",
        materialize="parquet_upsert", sw_seconds=3600,
    )
    eng.create_continuous_transform(
        "t2", "SELECT k, v * 2 AS v2 FROM s", "s", sink_relation="s2"
    )
    eng.create_continuous_view(
        "s2v", "SELECT k, count(*) AS n, sum(v2) AS total FROM s2 GROUP BY k",
        "s2",
    )


# (feeder, reader) pairs: each reader's query must follow its feeder's
# so a single wait_for_ingest pass drains the whole cascade
_FEEDS = [
    ("base", "base_tel"),
    ("base", "transform_base_audit"),
    ("transform_t", "sv"),
    ("sv", "sv_tel"),
    ("transform_t", "sw"),
    ("transform_t", "transform_t2"),
    ("transform_base_audit", "audit_v"),
    ("transform_t2", "s2v"),
]


def _exact(rows, keep=lambda v: True):
    out: dict[str, tuple[int, int]] = {}
    for v, k in rows:
        if k is not None and keep(v):
            n, total = out.get(k, (0, 0))
            out[k] = (n + 1, total + v)
    return out


def _view(eng, name):
    return {
        r.k: (int(r.n), int(r.total))
        for r in eng.view_table(name).collect()
    }


def _check(eng, cid, fed):
    names = [q.name for q in eng._queries[cid]]
    assert set(names) == {
        f"ingest_ev_c{cid}", "direct", "base", "base_tel",
        "transform_base_audit", "transform_t", "sv", "sv_tel", "sw",
        "transform_t2", "audit_v", "s2v",
    }
    for feeder, reader in _FEEDS:
        assert names.index(feeder) < names.index(reader), names
    (sw_q,) = [q for q in eng._queries[cid] if q.name == "sw"]
    assert "watermark" in sw_q.lastProgress["eventTime"]

    everything, positive = _exact(fed), _exact(fed, lambda v: v > 0)
    for name in ("direct", "base", "base_tel"):
        assert _view(eng, name) == everything, name
    for name in ("sv", "sv_tel", "sw"):
        assert _view(eng, name) == positive, name
    audit: dict[str, int] = {}
    for r in eng.stream_table("base_audit_out").collect():
        audit[r.k] = audit.get(r.k, 0) + r.dt
    assert audit == {k: t for k, (_, t) in everything.items()}
    assert {
        r.k: int(r.total) for r in eng.view_table("audit_v").collect()
    } == audit
    doubled: dict[str, int] = {}
    for r in eng.stream_table("s2").collect():
        doubled[r.k] = doubled.get(r.k, 0) + r.v2
    assert doubled == {k: 2 * t for k, (_, t) in positive.items()}
    assert _view(eng, "s2v") == {
        k: (n, 2 * t) for k, (n, t) in positive.items()
    }


def _begin(eng):
    return eng.consume_begin("ep", "s1", "ev", fmt="csv", delimiter=",")


@pytest.mark.parametrize(
    "wiring",
    ["create_then_begin", "begin_then_create", "begin_create_restart"],
)
def test_one_catalog_wires_the_same_whenever_created(
    engine, tmp_path, wiring
):
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("ev", "v BIGINT, k STRING")
    if wiring == "create_then_begin":
        _create_catalog(engine)
        c = _begin(engine)
    else:
        c = _begin(engine)
        _create_catalog(engine)
    _put(src_root, _BATCH1, 1)
    engine.wait_for_ingest()
    _check(engine, c.id, _BATCH1)
    if wiring == "begin_create_restart":
        assert engine.consume_end("ep", "s1", "ev")
        _put(src_root, _BATCH2, 100)
        c = _begin(engine)
        engine.wait_for_ingest()
        _check(engine, c.id, _BATCH1 + _BATCH2)


def _sink_chain(eng):
    eng.create_continuous_transform(
        "t", "SELECT v, k FROM ev", "ev", sink_relation="s"
    )
    eng.create_continuous_view("sv", _AGG.format("s"), "s")


def test_view_on_deactivated_transforms_sink_still_runs(
    spark, engine, tmp_path
):
    """A view reads the sink relation whether or not the transform that
    feeds it runs: consume_begin over a deactivated transform starts
    the sink's view, as wiring the same catalog on a running consumer
    does, and ACTIVATE later starts the transform beside it."""
    src_root = tmp_path / "kinesis"
    live = Engine(spark, metadata_dir=str(tmp_path / "live"))
    try:
        live.add_endpoint("ep", url=str(src_root))
        live.create_stream("ev", "v BIGINT, k STRING")
        c = _begin(live)
        _sink_chain(live)
        live.deactivate("t")
        assert [q.name for q in live._queries[c.id]] == [
            f"ingest_ev_c{c.id}", "sv"
        ]
    finally:
        live.consume_end_all()

    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("ev", "v BIGINT, k STRING")
    _sink_chain(engine)
    engine.deactivate("t")
    c = _begin(engine)
    assert [q.name for q in engine._queries[c.id]] == [
        f"ingest_ev_c{c.id}", "sv"
    ]
    _put(src_root, _BATCH1, 1)
    engine.activate("t")
    # ACTIVATE appends the transform after the view that reads its
    # sink, so the second pass drains what the first one published
    engine.wait_for_ingest()
    engine.wait_for_ingest()
    assert _view(engine, "sv") == _exact(_BATCH1)


def test_failed_consume_begin_stops_what_it_started(spark, engine, tmp_path):
    """A view that fails analysis aborts consume_begin after the ingest
    query started; that query is stopped and unregistered, so once the
    view is dropped a retry starts cleanly and ingests."""
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("ev", "v BIGINT, k STRING")
    engine.create_continuous_view(
        "bad", "SELECT missing, count(*) AS n FROM ev GROUP BY missing", "ev"
    )
    _put(src_root, _BATCH1, 1)
    before = {q.id for q in spark.streams.active}
    with pytest.raises(AnalysisException):
        _begin(engine)
    assert {q.id for q in spark.streams.active} <= before
    assert not engine._queries and not engine._parsed

    engine.drop_continuous_view("bad")
    c = _begin(engine)
    engine.wait_for_ingest()
    assert [q.name for q in engine._queries[c.id]] == [f"ingest_ev_c{c.id}"]
    assert engine.stream_table("ev").count() == len(_BATCH1) - 1
    assert engine.dead_letters("ev").count() == 1


@pytest.mark.parametrize("kind", ["kinesis", "file"])
def test_refused_source_leaves_the_consumer_row(
    spark, engine, tmp_path, kind
):
    """consume_begin checks its source before its one catalog write: an
    unknown source, on either endpoint kind, raises and leaves a stopped
    consumer's row — its resolved path included — as it was, so
    consume_begin_all and an auto restart still take that path."""
    if kind == "kinesis":
        engine.add_endpoint("ep", region="local")
        engine.register_kinesis_client(
            "ep", FakeKinesisClient({"shardId-000": []})
        )
        path = "pump"
    else:
        engine.add_endpoint("ep", url=str(tmp_path / "kinesis"))
        path = "file"
    engine.create_stream("ev", "v BIGINT, k STRING")
    engine.catalog.upsert_consumer(
        Consumer(0, "ep", "s1", "ev", format="csv", source=path)
    )
    before = {k: dict(v) for k, v in engine.catalog.state.consumers.items()}
    active = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match="unknown source mode 'bogus'"):
        engine.consume_begin(
            "ep", "s1", "ev", fmt="text", batchsize=7, source="bogus"
        )
    assert engine.catalog.state.consumers == before
    assert engine.catalog.find_consumer("ep", "s1", "ev").source == path
    assert {q.id for q in spark.streams.active} == active
    assert not engine._queries and not engine.pump_status()


def test_consume_begin_writes_the_consumer_row_once(
    engine, tmp_path, monkeypatch
):
    """The first start of a 'latest' file consumer persists its
    resolved path and its start snapshot in one catalog write; a call
    on the running consumer persists its options and starts nothing."""
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("ev", "v BIGINT, k STRING")
    _put(src_root, _BATCH1[:2], 1)
    writes = []
    upsert = engine.catalog.upsert_consumer

    def counting_upsert(c):
        writes.append(dict(vars(c)))
        return upsert(c)

    monkeypatch.setattr(engine.catalog, "upsert_consumer", counting_upsert)
    c = engine.consume_begin(
        "ep", "s1", "ev", fmt="csv", delimiter=",", start_position="latest"
    )
    assert len(writes) == 1
    assert writes[0]["source"] == "file"
    assert writes[0]["resolved_position"] == {
        "shardId-000000000000": f"{2:056d}"
    }
    queries = list(engine._queries[c.id])
    again = engine.consume_begin(
        "ep", "s1", "ev", fmt="csv", delimiter=",", batchsize=5,
        start_position="latest",
    )
    assert again.id == c.id and len(writes) == 2
    assert writes[1]["source"] == "file" and again.batchsize == 5
    assert engine._queries[c.id] == queries
