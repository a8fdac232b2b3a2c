"""Round-15 regressions.

Distilled from tools/fuzz_lifecycle.py --mode datasource findings (the
new r15 fuzz surface, VERDICT r14 #3): seeded lifecycle interleavings
over the executor-parallel DataSource ingest path.
"""

from __future__ import annotations

from pipeline_kinesis_spark.sources.kinesis_datasource import (
    KinesisStreamReader,
    _read_attained,
    _write_attained,
)


def _reader(tmp_path) -> KinesisStreamReader:
    return KinesisStreamReader(
        {"streamName": "s", "stateDir": str(tmp_path / "state")}
    )


def test_datasource_epoch_never_reused_across_restart(tmp_path):
    """fuzz_lifecycle --mode datasource finding (seed 150816, scenarios
    11/21): the epoch file was persisted only in commit(), which runs
    AFTER the checkpoint's commit-log write — a stop landing between
    them left the epoch file one batch behind the WAL. The restarted
    reader then REUSED the last planned epoch for a new batch with
    different start positions; since attained pins are
    first-writer-wins PER EPOCH, the reused batch's reach could never
    be pinned, the next plan regressed to the stale pin's position and
    one batch's records were fetched and published TWICE (observed as
    byte-identical spool files batch-ds5/batch-ds6 and +50 duplicate
    archive rows). Planning itself must advance the durable epoch
    high-water mark so no later incarnation can reuse a planned
    epoch — even when NOTHING was ever committed."""
    r1 = _reader(tmp_path)
    planned = [r1.latestOffset()["epoch"] for _ in range(5)]
    assert planned == [1, 2, 3, 4, 5]
    # the exact failure shape: epoch 5's batch pinned its reach...
    _write_attained(
        r1.state_dir,
        "shardId-000",
        {"seq": "shardId-000-58", "it": None, "closed": False,
         "epoch": 5, "start": "shardId-000-42"},
    )
    # ...and NO commit ever ran (stop landed before source.commit).
    # A restarted reader must plan ABOVE every planned epoch: a reused
    # epoch 5 would collide with the existing first-writer-wins pin.
    r2 = _reader(tmp_path)
    assert r2.latestOffset()["epoch"] == 6
    # its batch's pin is recordable (no first-writer-wins collision)
    _write_attained(
        r2.state_dir,
        "shardId-000",
        {"seq": "shardId-000-81", "it": None, "closed": False,
         "epoch": 6, "start": "shardId-000-58"},
    )
    st = _read_attained(r2.state_dir)["shardId-000"]
    assert (st["epoch"], st["seq"]) == (6, "shardId-000-81")


def test_datasource_commit_epoch_never_regresses(tmp_path):
    """commit() of a replayed WAL batch (an epoch older than the
    incarnation's own plan counter) must not move the high-water mark
    backwards."""
    r = _reader(tmp_path)
    for _ in range(4):
        r.latestOffset()  # plans epochs 1..4, persisted at plan time
    r.commit({"epoch": 2, "shards": "{}"})  # replayed older batch
    r2 = _reader(tmp_path)
    assert r2.latestOffset()["epoch"] == 5


def test_memory_view_survives_pause_resume_without_new_data(
    spark, tmp_path
):
    """fuzz_lifecycle finding #4 (seed 150817, chained-view ledger):
    Spark recreates a memory sink EMPTY when its query restarts and
    only repopulates it on the next batch — so after consume_end +
    consume_begin (pause, ALTER, engine restart) a memory view read
    EMPTY until new data arrived, where PipelineDB's matrel would
    still show its contents. The engine now pins the pre-restart
    table at wire time and serves the pin while the live table is
    empty."""
    import os

    from pipeline_kinesis_spark.engine import Engine
    from pipeline_kinesis_spark.sources.file_replay import (
        write_record_file,
    )

    root = str(tmp_path)
    eng = Engine(
        spark,
        metadata_dir=os.path.join(root, "meta"),
        trigger_interval="50 milliseconds",
        shuffle_partitions=4,
    )
    try:
        eng.add_endpoint("ep", url=root)
        eng.create_stream("st", "v BIGINT, k STRING")
        eng.create_continuous_view(
            "mv",
            "SELECT k, count(*) AS n, sum(v) AS total FROM st "
            "GROUP BY k",
            stream="st",
        )
        write_record_file(
            os.path.join(root, "records"),
            [
                {"data": f"{i},{'ab'[i % 2]}",
                 "sequence_number": f"{i:056d}",
                 "shard_id": "shardId-000"}
                for i in range(6)
            ],
        )
        eng.consume_begin("ep", "records", "st", fmt="csv", delimiter=",")
        eng.wait_for_ingest(timeout_s=120)
        want = {
            r.k: (r.n, r.total) for r in eng.view_table("mv").collect()
        }
        assert want == {"a": (3, 6), "b": (3, 9)}
        # pause + resume with NO new data: the view must still read
        eng.consume_end_all()
        eng.consume_begin("ep", "records", "st", fmt="csv", delimiter=",")
        eng.wait_for_ingest(timeout_s=120)
        got = {
            r.k: (r.n, r.total) for r in eng.view_table("mv").collect()
        }
        assert got == want
        # ad-hoc SQL reads the same pinned contents, not the empty sink
        got_sql = {
            r.k: (r.n, r.total)
            for r in eng.sql("SELECT k, n, total FROM mv").collect()
        }
        assert got_sql == want
        # ...and new data after the resume takes over from the pin
        write_record_file(
            os.path.join(root, "records"),
            [{"data": "100,a", "sequence_number": f"{10**12:056d}",
              "shard_id": "shardId-000"}],
        )
        eng.wait_for_ingest(timeout_s=120)
        got = {
            r.k: (r.n, r.total) for r in eng.view_table("mv").collect()
        }
        assert got == {"a": (4, 106), "b": (3, 9)}
    finally:
        eng.consume_end_all()
