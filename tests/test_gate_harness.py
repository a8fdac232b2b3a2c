"""The streaming gate harness's teardown contract: a row whose body
raises after its engine started its standing queries still propagates
the error, leaves no query it started running, shuts down any HTTP
wire it served, and removes its temp root."""

from __future__ import annotations

import os

import pytest

from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.gates import streaming as gates


class Injected(RuntimeError):
    pass


@pytest.mark.parametrize(
    "row, drains_before_raise",
    [
        ("streaming_view_counts", 0),
        # raise in the SECOND engine: both engines must be stopped
        ("streaming_restart_counts", 1),
        # serves the fake wire over HTTP
        ("streaming_datasource_counts", 0),
    ],
)
def test_row_teardown_when_body_raises(
    spark, sf_dir, monkeypatch, row, drains_before_raise
):
    started, roots, servers, engines = [], [], [], set()

    real_start = Engine._start_query

    def recording_start(self, builder, *args):
        q = real_start(self, builder, *args)
        started.append(q)
        engines.add(id(self))
        return q

    real_drain = Engine.wait_for_ingest
    drains = []

    def failing_drain(self, timeout_s=60.0):
        # the injected step: the drain after consume_begin started
        # the engine's queries
        if len(drains) == drains_before_raise:
            raise Injected(row)
        drains.append(timeout_s)
        real_drain(self, timeout_s=timeout_s)

    real_init = gates._Gate.__init__

    def recording_init(self, *args):
        real_init(self, *args)
        roots.append(self.root)

    real_serve = gates.serve_fake_kinesis

    def recording_serve(fake):
        srv, url = real_serve(fake)
        servers.append(srv)
        return srv, url

    monkeypatch.setattr(Engine, "_start_query", recording_start)
    monkeypatch.setattr(Engine, "wait_for_ingest", failing_drain)
    monkeypatch.setattr(gates._Gate, "__init__", recording_init)
    monkeypatch.setattr(gates, "serve_fake_kinesis", recording_serve)

    with pytest.raises(Injected):
        getattr(gates, row)(spark, sf_dir)

    assert started, "the row started no standing query before raising"
    if drains_before_raise:
        assert len(engines) == 2
    assert not [q.name for q in started if q.isActive]
    active = {q.id for q in spark.streams.active}
    assert not [q.name for q in started if q.id in active]
    assert len(roots) == 1 and not os.path.exists(roots[0])
    if row == "streaming_datasource_counts":
        assert len(servers) == 1
        assert servers[0].socket.fileno() == -1  # server_close ran
