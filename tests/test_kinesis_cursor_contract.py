"""One consumer protocol, two callers: the driver pump
(KinesisShardPoller.step) and the executor reader
(KinesisStreamReader.read) both drive the shared ShardCursor. Each
scenario below runs the same scripted FakeKinesisClient through both
paths and asserts they deliver the same per-shard sequences of whole
RECORD_SCHEMA rows (data, seqnum, partition key, arrival, shard id —
one record_row conversion) and resolve the same GetShardIterator types
per shard. No Spark session.

A second check guards the self-containment contract of
sources/kinesis_datasource.py: its functions run in Spark's planner
process and executor workers, which need not have this package on
sys.path, so no function body there may import it.
"""

from __future__ import annotations

import ast
import inspect

import pytest

from pipeline_kinesis_spark.sources import kinesis_datasource
from pipeline_kinesis_spark.sources.fake_kinesis import FakeKinesisClient
from pipeline_kinesis_spark.sources.kinesis import KinesisSource

from tests.test_kinesis_datasource import _reader, _run_batch
from tests.test_kinesis_protocol import DatetimeArrivalFake, arrival_of


class _RecordingFake(FakeKinesisClient):
    """Logs (shard, iterator type) per GetShardIterator call."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.acquired: list[tuple[str, str]] = []

    def get_shard_iterator(self, StreamName, ShardId, ShardIteratorType,
                           StartingSequenceNumber=None):
        self.acquired.append((ShardId, ShardIteratorType))
        return super().get_shard_iterator(
            StreamName, ShardId, ShardIteratorType, StartingSequenceNumber
        )


class _RecordingDatetimeFake(_RecordingFake, DatetimeArrivalFake):
    """_RecordingFake whose records carry boto3's datetime arrivals."""


def _recs(prefix, n):
    return [f"{prefix}{i}".encode() for i in range(n)]


def _split(fake):
    # parent still holds unread records when it closes; both children
    # already carry records, so only parent gating keeps them waiting
    fake.reshard("shardId-000", ["shardId-001", "shardId-002"])
    fake.append("shardId-001", b"c1a")
    fake.append("shardId-001", b"c1b")
    fake.append("shardId-002", b"c2a")


# name → (initial shards, start position, GetRecords limit,
#         before-first-drain hook, between-drains hook[, fake class])
SCENARIOS = {
    "trim_horizon_multi_page": (
        {"shardId-000": _recs("a", 5), "shardId-001": _recs("b", 3)},
        "trim_horizon", 2, None, None,
    ),
    "latest": (
        {"shardId-000": _recs("old", 3)},
        "latest", 1000, None,
        lambda f: [f.append("shardId-000", d) for d in _recs("new", 2)],
    ),
    "after_sequence_number": (
        {"shardId-000": _recs("a", 4)},
        "after_sequence_number:shardId-000-1", 1000, None, None,
    ),
    "expiry_after_first_page": (
        {"shardId-000": _recs("a", 5)},
        "trim_horizon", 2,
        lambda f: f.fault_plan.update({"shardId-000": [None, "expire"]}),
        None,
    ),
    "throttle_then_success": (
        {"shardId-000": _recs("a", 3)},
        "trim_horizon", 1000,
        lambda f: f.fault_plan.update({"shardId-000": ["throttle"]}),
        None,
    ),
    "split_child_gated": (
        {"shardId-000": _recs("p", 3)},
        "trim_horizon", 1, _split, None,
    ),
    # children must start at TRIM_HORIZON even when the configured
    # start is LATEST (their records predate the first poll)
    "split_under_latest": (
        {"shardId-000": _recs("p", 3)},
        "latest", 1, _split, None,
    ),
    # boto3's record shape: tz-aware datetime arrivals, which the wire
    # fake never sends
    "datetime_arrivals": (
        {"shardId-000": _recs("a", 3), "shardId-001": _recs("b", 2)},
        "trim_horizon", 2, None,
        lambda f: f.append("shardId-000", b"late"),
        _RecordingDatetimeFake,
    ),
}


def _run_pump(shards, start, limit, before, between, fake_cls=_RecordingFake):
    fake = fake_cls(shards)
    if before:
        before(fake)
    slept: list[float] = []
    poller = KinesisSource(
        stream_name="events", region="us-east-1",
        start_position=start, batch_size=limit,
    ).poller(fake, sleep=slept.append)
    out = []
    for hook in (None, between):
        if hook:
            hook(fake)
        for _ in range(12):
            out.extend(poller.step())
    return out, fake.acquired


def _run_reader(
    tmp_path, shards, start, limit, before, between, fake_cls=_RecordingFake
):
    fake = fake_cls(shards)
    if before:
        before(fake)
    r = _reader(tmp_path, fake, start=start, maxRecordsPerFetch=str(limit))
    out, offset = [], r.initialOffset()
    for hook in (None, between):
        if hook:
            hook(fake)
        for _ in range(3):
            offset, rows = _run_batch(r, offset)
            out.extend(rows)
    return out, fake.acquired


def _per_shard(rows):
    """shard id → its whole rows, in delivery order."""
    out: dict[str, list[tuple]] = {}
    for row in rows:
        out.setdefault(row.shard_id, []).append(row)
    return out


def _pairs(rows):
    return [(r.shard_id, r.data) for r in rows]


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_pump_and_reader_agree(name, tmp_path):
    pump_rows, pump_acq = _run_pump(*SCENARIOS[name])
    ds_rows, ds_acq = _run_reader(tmp_path, *SCENARIOS[name])
    assert pump_rows and _per_shard(pump_rows) == _per_shard(ds_rows)
    assert sorted(pump_acq) == sorted(ds_acq)
    if name == "split_child_gated":
        for rows in (pump_rows, ds_rows):
            assert [r.data for r in _per_shard(rows)["shardId-000"]] == [
                "p0", "p1", "p2",
            ]
            rows = _pairs(rows)
            # every parent record precedes every child record
            last_parent = max(
                i for i, (sid, _) in enumerate(rows) if sid == "shardId-000"
            )
            assert all(
                sid != "shardId-000" for sid, _ in rows[last_parent + 1:]
            )
            assert rows.index(("shardId-000", "p2")) < rows.index(
                ("shardId-001", "c1a")
            )
        assert sorted(pump_acq) == [
            ("shardId-000", "TRIM_HORIZON"),
            ("shardId-001", "TRIM_HORIZON"),
            ("shardId-002", "TRIM_HORIZON"),
        ]


def test_scenarios_exercise_what_they_name():
    """Guards the table above against silently degenerate scenarios."""
    _, acq = _run_pump(*SCENARIOS["expiry_after_first_page"])
    assert acq == [
        ("shardId-000", "TRIM_HORIZON"),
        ("shardId-000", "AFTER_SEQUENCE_NUMBER"),
    ]
    rows, acq = _run_pump(*SCENARIOS["latest"])
    assert acq == [("shardId-000", "LATEST")]
    assert _pairs(rows) == [("shardId-000", "new0"), ("shardId-000", "new1")]
    rows, acq = _run_pump(*SCENARIOS["split_under_latest"])
    assert sorted(acq) == [
        ("shardId-000", "LATEST"),
        ("shardId-001", "TRIM_HORIZON"),
        ("shardId-002", "TRIM_HORIZON"),
    ]
    assert sorted(r.data for r in rows) == ["c1a", "c1b", "c2a"]
    rows, acq = _run_pump(*SCENARIOS["after_sequence_number"])
    assert acq == [("shardId-000", "AFTER_SEQUENCE_NUMBER")]
    assert [r.data for r in rows] == ["a2", "a3"]
    rows, _ = _run_pump(*SCENARIOS["datetime_arrivals"])
    assert len(rows) == 6
    assert all(
        r.approximate_arrival_timestamp == arrival_of(r.sequence_number)
        for r in rows
    )


def _package_imports(fn_node):
    for node in ast.walk(fn_node):
        if isinstance(node, ast.ImportFrom):
            if node.level or (node.module or "").startswith(
                "pipeline_kinesis_spark"
            ):
                yield node.lineno
        elif isinstance(node, ast.Import):
            if any(
                a.name.startswith("pipeline_kinesis_spark")
                for a in node.names
            ):
                yield node.lineno


def test_datasource_functions_import_nothing_from_the_package():
    tree = ast.parse(inspect.getsource(kinesis_datasource))
    fns = [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
    ]
    assert len(fns) > 20  # the walk really sees the module's functions
    bad = sorted({ln for fn in fns for ln in _package_imports(fn)})
    assert not bad, (
        f"kinesis_datasource.py lines {bad} import pipeline_kinesis_spark "
        "inside a function; planner/executor processes may not have the "
        "package (see SELF-CONTAINMENT CONTRACT)"
    )
