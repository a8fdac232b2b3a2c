"""Round-8 hardening (ADVICE r07): attained-position pins are
first-writer-wins per (epoch, start) so concurrent/zombie task attempts
can never regress or advance the committed reach; a replayed landing
batch fully replaces the prior attempt's spool publish; and the
RESOLVED ingest path (pump vs datasource) is persisted on the consumer
catalog row so consume_begin_all restarts each consumer on the path
whose checkpoints it actually wrote."""

from __future__ import annotations

import os
import threading

import pytest

from pipeline_kinesis_spark.engine import _publish_batch, _published_through
from pipeline_kinesis_spark.sources.kinesis_datasource import (
    _read_attained,
    _reap_attained,
    _write_attained,
)

from tests.test_kinesis_datasource import wire  # noqa: F401 — fixture


# ------------------------------------------------- attained-pin semantics


@pytest.fixture(params=["hardlink", "no_hardlink"])
def pin_dir(request, monkeypatch, tmp_path):
    """Attained-pin state dir, parametrized over the filesystem's
    hard-link support (VERDICT r10 "what's wrong" #1): object-store /
    non-POSIX mounts raise OSError from os.link, and _write_attained
    degrades to O_CREAT|O_EXCL exclusive create — every pin-semantics
    test must hold on BOTH paths. The denial is scoped to this test's
    tmp dir so nothing else in the session is affected."""
    if request.param == "no_hardlink":
        real_link = os.link

        def deny(src, dst, *a, **kw):
            if str(tmp_path) in str(dst):
                raise OSError(95, "Operation not supported")
            return real_link(src, dst, *a, **kw)

        monkeypatch.setattr(os, "link", deny)
    return str(tmp_path)


def _state(seq, epoch, start=None, closed=False, it=None):
    return {
        "seq": seq,
        "it": it,
        "closed": closed,
        "epoch": epoch,
        "start": start,
    }


class TestAttainedPins:
    def test_first_writer_wins_within_an_epoch(self, pin_dir):
        """Two attempts of the same (epoch, start) — speculative
        execution, or a retry racing a zombie — both write; the FIRST
        write is the pin, the second is discarded (previously:
        last-writer-wins, and a non-committed attempt that read
        further silently advanced the next batch's start past records
        the committed batch never emitted)."""
        sd = pin_dir
        _write_attained(sd, "shardId-000", _state("seq-100", epoch=5))
        _write_attained(sd, "shardId-000", _state("seq-120", epoch=5))
        assert _read_attained(sd)["shardId-000"]["seq"] == "seq-100"

    def test_zombie_from_older_epoch_cannot_regress(self, pin_dir):
        sd = pin_dir
        _write_attained(sd, "shardId-000", _state("seq-200", epoch=7))
        # zombie attempt of epoch 6 finishing late
        _write_attained(sd, "shardId-000", _state("seq-150", epoch=6))
        st = _read_attained(sd)["shardId-000"]
        assert (st["seq"], st["epoch"]) == ("seq-200", 7)

    def test_reap_keeps_newest_epoch_per_shard(self, pin_dir):
        sd = pin_dir
        for e in (1, 2, 3):
            _write_attained(sd, "shardId-000", _state(f"a-{e}", epoch=e))
        _write_attained(sd, "shardId-001", _state("b-2", epoch=2))
        _reap_attained(sd)
        d = os.path.join(sd, "attained")
        assert sorted(os.listdir(d)) == [
            "shardId-000.e3.json",
            "shardId-001.e2.json",
        ]

    def test_concurrent_writers_thread_race(self, pin_dir):
        """N threads racing the same epoch: exactly one content wins
        and it is internally consistent (never a torn mix)."""
        sd = pin_dir
        barrier = threading.Barrier(8)

        def attempt(i):
            barrier.wait()
            _write_attained(
                sd, "shardId-000", _state(f"seq-{i}", epoch=9, start=f"s{i}")
            )

        ts = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        st = _read_attained(sd)["shardId-000"]
        i = int(st["seq"].split("-")[1])
        assert st["start"] == f"s{i}"  # consistent single attempt
        # no tmp litter
        d = os.path.join(sd, "attained")
        assert all(n.endswith(".json") for n in os.listdir(d))


# ------------------------------------------------- spool batch publish


class TestPublishSpoolBatch:
    def test_replay_replaces_prior_attempt_files(self, tmp_path):
        spool = tmp_path / "spool"
        spool.mkdir()
        # prior attempt of batch 5 published two files; other batches
        # must be untouched
        (spool / "c1-b0000000005-0000.jsonl").write_text("old-a\n")
        (spool / "c1-b0000000005-0003.jsonl").write_text("old-b\n")
        (spool / "c1-b0000000004-0000.jsonl").write_text("keep\n")
        tmp = tmp_path / "spool__tmp_c1_b5"
        tmp.mkdir()
        (tmp / "part-00000-x.json").write_text("new-a\n")
        (tmp / "part-00001-x.json").write_text("")  # empty: skipped
        (tmp / "part-00000-x.json.crc").write_text("crc")
        (tmp / "_SUCCESS").write_text("")
        _publish_batch("c1", 5, [(str(tmp), str(spool))], ".jsonl")
        names = sorted(os.listdir(spool))
        assert names == [
            "_c1.hwm",
            "c1-b0000000004-0000.jsonl",
            "c1-b0000000005-0000.jsonl",
        ]
        assert (spool / "c1-b0000000005-0000.jsonl").read_text() == (
            "new-a\n"
        )
        assert (spool / "c1-b0000000004-0000.jsonl").read_text() == (
            "keep\n"
        )
        assert not tmp.exists()
        assert _published_through(str(spool), "c1") == 5

    def test_first_publish_is_plain_rename(self, tmp_path):
        spool = tmp_path / "spool"
        spool.mkdir()
        assert _published_through(str(spool), "c1") == -1
        tmp = tmp_path / "spool__tmp_c1_b0"
        tmp.mkdir()
        (tmp / "part-00000-x.json").write_text("r1\n")
        (tmp / "part-00002-x.json").write_text("r2\n")
        _publish_batch("c1", 0, [(str(tmp), str(spool))], ".jsonl")
        assert sorted(os.listdir(spool)) == [
            "_c1.hwm",
            "c1-b0000000000-0000.jsonl",
            "c1-b0000000000-0001.jsonl",
        ]


# ------------------------------------------------- resolved-source catalog


class TestResolvedSourcePersistence:
    def _wire_engine(self, spark, wire, tmp_path):
        from pipeline_kinesis_spark.engine import Engine

        fake, url, cred = wire
        eng = Engine(
            spark,
            metadata_dir=str(tmp_path / "meta"),
            trigger_interval="300 milliseconds",
        )
        eng.add_endpoint("ep", region="us-east-1", url=url, credfile=cred)
        eng.create_stream("k_in", "k STRING, v BIGINT")
        return eng, fake

    def test_consume_begin_all_restarts_on_datasource_path(
        self, spark, wire, tmp_path
    ):
        """The ADVICE r07 medium: a consumer started with
        source='datasource' must RESTART on the datasource path —
        restarting in pump mode would resume from catalog seqnums the
        datasource path never writes and re-ingest everything."""
        eng, fake = self._wire_engine(spark, wire, tmp_path)
        c = eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",",
            source="datasource",
        )
        assert (
            eng.catalog.find_consumer("ep", "events", "k_in").source
            == "datasource"
        )
        eng.wait_for_ingest(timeout_s=120)
        assert eng.stream_table("k_in").count() == 3
        eng.consume_end_all()
        fake.append("shardId-000", b"a,9")
        started = eng.consume_begin_all()  # note: NO source argument
        try:
            assert [s.id for s in started] == [c.id]
            assert c.id in eng.datasource_status()
            assert not eng.pump_status()  # did not fall back to pump
            eng.wait_for_ingest(timeout_s=120)
            seqs = [
                r.sequence_number
                for r in eng.stream_table("k_in").collect()
            ]
            assert len(seqs) == 4 and len(set(seqs)) == 4  # exactly-once
        finally:
            eng.consume_end_all()

    def test_auto_restart_reuses_resolution_even_if_discovery_shrinks(
        self, spark, wire, tmp_path
    ):
        """source='auto' resolves ONCE; a restart in auto must not
        re-roll the decision (e.g. a transient discovery failure
        reporting few/zero shards would otherwise flip a datasource
        consumer into pump mode)."""
        from pipeline_kinesis_spark.engine import MAX_PROCS

        eng, fake = self._wire_engine(spark, wire, tmp_path)
        for i in range(2, MAX_PROCS + 2):  # 10 shards > MAX_PROCS
            fake.shards[f"shardId-{i:03d}"] = [f"s{i},1".encode()]
            fake.meta[f"shardId-{i:03d}"] = {}
        c = eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",", source="auto"
        )
        assert c.id in eng.datasource_status()
        assert (
            eng.catalog.find_consumer("ep", "events", "k_in").source
            == "datasource"
        )
        eng.wait_for_ingest(timeout_s=120)
        eng.consume_end_all()
        # shrink discovery below the auto threshold; a re-rolled auto
        # would now pick pump — the persisted resolution must win
        for i in range(2, MAX_PROCS + 2):
            del fake.shards[f"shardId-{i:03d}"]
            del fake.meta[f"shardId-{i:03d}"]
        restarted = eng.consume_begin(
            "ep", "events", "k_in", fmt="csv", delimiter=",", source="auto"
        )
        try:
            assert restarted.id == c.id
            assert c.id in eng.datasource_status()
            assert not eng.pump_status()
        finally:
            eng.consume_end_all()

    def test_file_consumer_resolves_to_file_source(self, spark, tmp_path):
        from pipeline_kinesis_spark.engine import Engine
        from pipeline_kinesis_spark.sources.file_replay import (
            write_record_file,
        )

        src_root = tmp_path / "kinesis"
        (src_root / "events").mkdir(parents=True)
        write_record_file(
            str(src_root / "events"),
            [
                {
                    "data": "a\t1",
                    "partition_key": "a",
                    "shard_id": "shardId-000000000000",
                    "sequence_number": f"{1:056d}",
                }
            ],
        )
        eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
        eng.add_endpoint("ep", url=str(src_root))
        eng.create_stream("st", "k STRING, v BIGINT")
        eng.consume_begin("ep", "events", "st")
        try:
            assert (
                eng.catalog.find_consumer("ep", "events", "st").source
                == "file"
            )
        finally:
            eng.consume_end_all()

    def test_speculation_refused_on_datasource_path(
        self, spark, wire, tmp_path
    ):
        eng, _ = self._wire_engine(spark, wire, tmp_path)
        # scheduler confs are set at submit time and read off the
        # SparkContext conf (the runtime SQL conf refuses core keys)
        spark.sparkContext._conf.set("spark.speculation", "true")
        try:
            with pytest.raises(ValueError, match="speculation"):
                eng.consume_begin(
                    "ep", "events", "k_in", fmt="csv", delimiter=",",
                    source="datasource",
                )
        finally:
            spark.sparkContext._conf.set("spark.speculation", "false")
            eng.consume_end_all()
