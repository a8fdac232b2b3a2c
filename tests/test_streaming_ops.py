"""Streaming operator semantics: watermarks + late data (B25), stateful
dedup (B26), keyed upsert materialization (B16)."""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.file_replay import (
    FileReplaySource,
    write_record_file,
)
from pipeline_kinesis_spark.streaming.continuous_view import (
    read_store,
    upsert_to_parquet,
)


def _mem_query(df, name, ckpt, mode="append"):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .start()
    )


def test_watermark_drops_late_data(spark, tmp_path):
    """Tumbling-window agg with a 10-minute watermark: events behind the
    watermark must not reopen finalized windows (B23 + B25)."""
    src = str(tmp_path / "src")
    name = f"wm_{uuid.uuid4().hex[:8]}"
    write_record_file(
        src,
        [
            {"data": "a", "approximate_arrival_timestamp": "2024-01-01T10:05:00"},
            {"data": "b", "approximate_arrival_timestamp": "2024-01-01T10:10:00"},
            {"data": "c", "approximate_arrival_timestamp": "2024-01-01T12:30:00"},
        ],
    )
    records = FileReplaySource(src).read_stream(spark)
    agg = (
        records.withWatermark("approximate_arrival_timestamp", "10 minutes")
        .groupBy(
            F.window("approximate_arrival_timestamp", "1 hour").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = _mem_query(agg, name, str(tmp_path / "ck"), mode="append")
    try:
        q.processAllAvailable()
        # late event (10:15 << watermark 12:20) + a fresh event
        write_record_file(
            src,
            [
                {"data": "late", "approximate_arrival_timestamp": "2024-01-01T10:15:00"},
                {"data": "d", "approximate_arrival_timestamp": "2024-01-01T13:30:00"},
            ],
        )
        q.processAllAvailable()
        rows = {
            (r.ws.isoformat(), r.n) for r in spark.table(name).collect()
        }
        # the 10:00 window finalized with 2 events; the late row is dropped
        assert ("2024-01-01T10:00:00", 2) in rows
        assert ("2024-01-01T10:00:00", 3) not in rows
        assert not any(ws.startswith("2024-01-01T10:15") for ws, _ in rows)
    finally:
        q.stop()


def test_stateful_dedup_across_batches(spark, tmp_path):
    """dropDuplicates on sequence_number: re-delivered records collapse —
    at-least-once feed → effectively-once output (B26, §3.4 upgrade)."""
    src = str(tmp_path / "src")
    name = f"dd_{uuid.uuid4().hex[:8]}"
    write_record_file(
        src,
        [
            {"data": "x", "sequence_number": "s1"},
            {"data": "y", "sequence_number": "s2"},
        ],
    )
    records = FileReplaySource(src).read_stream(spark)
    deduped = records.dropDuplicates(["sequence_number"])
    q = _mem_query(deduped, name, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        # redelivery of s2 + a new record — s2 must be suppressed
        write_record_file(
            src,
            [
                {"data": "y-dup", "sequence_number": "s2"},
                {"data": "z", "sequence_number": "s3"},
            ],
        )
        q.processAllAvailable()
        rows = spark.table(name).collect()
        assert len(rows) == 3
        assert {r.sequence_number for r in rows} == {"s1", "s2", "s3"}
        by_seq = {r.sequence_number: r.data for r in rows}
        assert by_seq["s2"] == "y"  # first delivery wins
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Two LIVE streams joined on key + event-time interval (the
    impression→click attribution shape): Structured Streaming buffers
    both sides in watermarked state, so a match arriving in a LATER
    micro-batch than its partner still joins — the stream-stream upgrade
    of B7 that the reference can only express as stream-table."""
    imp_src = str(tmp_path / "imps")
    clk_src = str(tmp_path / "clicks")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    write_record_file(
        imp_src,
        [
            {"data": "ad1", "approximate_arrival_timestamp": "2024-01-01T10:00:00"},
            {"data": "ad2", "approximate_arrival_timestamp": "2024-01-01T10:01:00"},
        ],
    )
    write_record_file(
        clk_src,
        [
            # clicks ad1 within the 5-minute attribution window
            {"data": "ad1", "approximate_arrival_timestamp": "2024-01-01T10:03:00"},
        ],
    )
    imps = (
        FileReplaySource(imp_src)
        .read_stream(spark)
        .selectExpr(
            "data AS ad",
            "approximate_arrival_timestamp AS imp_ts",
        )
        .withWatermark("imp_ts", "10 minutes")
    )
    clks = (
        FileReplaySource(clk_src)
        .read_stream(spark)
        .selectExpr(
            "data AS c_ad",
            "approximate_arrival_timestamp AS clk_ts",
        )
        .withWatermark("clk_ts", "10 minutes")
    )
    joined = imps.join(
        clks,
        F.expr(
            "ad = c_ad AND clk_ts BETWEEN imp_ts "
            "AND imp_ts + INTERVAL 5 MINUTES"
        ),
    ).select("ad", "imp_ts", "clk_ts")
    q = _mem_query(joined, name, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        rows = {(r.ad, r.clk_ts.isoformat()) for r in spark.table(name).collect()}
        assert rows == {("ad1", "2024-01-01T10:03:00")}
        # a click for ad2 arrives in a LATER micro-batch — the buffered
        # impression state must still produce the match
        write_record_file(
            clk_src,
            [
                {"data": "ad2", "approximate_arrival_timestamp": "2024-01-01T10:04:00"},
                # outside the 5-minute window: must NOT attribute
                {"data": "ad1", "approximate_arrival_timestamp": "2024-01-01T10:30:00"},
            ],
        )
        q.processAllAvailable()
        rows = {(r.ad, r.clk_ts.isoformat()) for r in spark.table(name).collect()}
        assert rows == {
            ("ad1", "2024-01-01T10:03:00"),
            ("ad2", "2024-01-01T10:04:00"),
        }
    finally:
        q.stop()


def test_upsert_to_parquet_merge_semantics(spark, tmp_path):
    """Keyed MERGE emulation (B16): second batch replaces matching keys,
    keeps others."""
    d = str(tmp_path / "tbl")
    b1 = spark.createDataFrame(
        [("a", 1), ("b", 2)], "k STRING, v INT"
    )
    upsert_to_parquet(b1, d, ["k"])
    b2 = spark.createDataFrame(
        [("b", 20), ("c", 3)], "k STRING, v INT"
    )
    upsert_to_parquet(b2, d, ["k"])
    rows = {(r.k, r.v) for r in read_store(spark, d).collect()}
    assert rows == {("a", 1), ("b", 20), ("c", 3)}


def test_upsert_first_commit_crash_then_retry(spark, tmp_path, monkeypatch):
    """A first commit that dies after moving its part files in but
    before its manifest flip has committed nothing; the retried batch
    commits exactly its own rows, and its commit reaps every file the
    crashed attempt left in the bucket dirs."""
    import os

    from pipeline_kinesis_spark.streaming import continuous_view as cv

    def bucket_files():
        return {
            os.path.join(root, f)
            for root, _, files in os.walk(d)
            if os.path.basename(root).startswith(f"{cv.KB_COL}=")
            for f in files
            if f.endswith(".parquet")
        }

    d = str(tmp_path / "tbl")
    rows = [(f"k{i}", i) for i in range(20)]
    batch = spark.createDataFrame(rows, "k STRING, v INT")

    def crash(*args, **kwargs):
        raise OSError("injected: died before the manifest flip")

    monkeypatch.setattr(cv, "write_store_manifest", crash)
    with pytest.raises(OSError, match="injected"):
        upsert_to_parquet(batch, d, ["k"], batch_id=0)
    monkeypatch.undo()
    assert bucket_files()  # the crashed attempt's files were moved in
    assert read_store(spark, d) is None  # ...but nothing was committed

    upsert_to_parquet(batch, d, ["k"], batch_id=0)  # the batch replays
    assert {(r.k, r.v) for r in read_store(spark, d).collect()} == set(rows)
    assert bucket_files() == set(cv.read_store_manifest(d))


def test_upsert_ttl_sweep_reaps_untouched_bucket(spark, tmp_path):
    """The round-robin sweep: an expired row in a bucket NO new key
    hashes into is still physically reaped once batch_id % n lands on
    its bucket — the store stays bounded without full-table rewrites."""
    from pipeline_kinesis_spark.streaming.continuous_view import (
        UPSERT_BUCKETS,
    )

    d = str(tmp_path / "tbl")
    from datetime import datetime

    old = datetime(2000, 1, 1)
    far = datetime(2200, 1, 1)
    # seed WITHOUT ttl so the stale row lands in the store
    upsert_to_parquet(
        spark.createDataFrame(
            [("stale", old), ("live", far)], "k STRING, ts TIMESTAMP"
        ),
        d,
        ["k"],
    )
    stale_b, fresh_b = (
        spark.sql(
            f"SELECT CAST(pmod(xxhash64('stale'), {UPSERT_BUCKETS}) AS INT),"
            f" CAST(pmod(xxhash64('fresh'), {UPSERT_BUCKETS}) AS INT)"
        )
        .collect()[0]
    )
    assert stale_b != fresh_b  # fixed hash: 'fresh' lands elsewhere
    # batch touches only fresh's bucket; batch_id sweeps stale's bucket
    upsert_to_parquet(
        spark.createDataFrame([("fresh", far)], "k STRING, ts TIMESTAMP"),
        d,
        ["k"],
        ttl_seconds=3600,
        ttl_column="ts",
        batch_id=stale_b,
    )
    rows = {r.k for r in read_store(spark, d).collect()}
    assert rows == {"live", "fresh"}


@pytest.fixture
def engine(spark, tmp_path):
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    yield eng
    eng.consume_end_all()


def test_parquet_upsert_view_end_to_end(engine, spark, tmp_path):
    """Continuous view materialized as a durable keyed upsert table —
    the ON CONFLICT DO UPDATE path (pipeline_kinesis.c:543-579 analog)."""
    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s"),
        [{"data": p} for p in ["a", "a", "b"]],
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("u_stream", "payload STRING")
    engine.create_continuous_view(
        "u_counts",
        "SELECT payload, count(*) AS n FROM u_stream GROUP BY payload",
        stream="u_stream",
        materialize="parquet_upsert",
        key_cols=["payload"],
    )
    engine.consume_begin("ep", "s", "u_stream")
    engine.wait_for_ingest()
    rows = {(r.payload, r.n) for r in engine.view_table("u_counts").collect()}
    assert rows == {("a", 2), ("b", 1)}

    write_record_file(str(src_root / "s"), [{"data": p} for p in ["a", "c"]])
    engine.wait_for_ingest()
    rows = {(r.payload, r.n) for r in engine.view_table("u_counts").collect()}
    assert rows == {("a", 3), ("b", 1), ("c", 1)}


def test_adhoc_sql_over_views_and_streams(engine, spark, tmp_path):
    """PipelineDB's read path: ad-hoc SQL over continuous views and stream
    relations mid-stream (README.md:78-88), including joins between a
    parquet-upsert view and the archived stream."""
    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s"), [{"data": p} for p in ["a", "a", "b", "c"]]
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("adq_stream", "payload STRING")
    engine.create_continuous_view(
        "adq_counts",
        "SELECT payload, count(*) AS n FROM adq_stream GROUP BY payload",
        stream="adq_stream",
        materialize="parquet_upsert",
        key_cols=["payload"],
    )
    engine.consume_begin("ep", "s", "adq_stream")
    engine.wait_for_ingest()
    rows = {
        (r.payload, r.n)
        for r in engine.sql(
            "SELECT payload, n FROM adq_counts WHERE n > 1"
        ).collect()
    }
    assert rows == {("a", 2)}
    joined = engine.sql(
        """
        SELECT s.payload, v.n, count(*) AS raw
        FROM adq_stream s JOIN adq_counts v ON s.payload = v.payload
        GROUP BY s.payload, v.n
        """
    ).collect()
    assert all(r.n == r.raw for r in joined)


def test_compact_stream_table(engine, spark, tmp_path):
    """Small-file compaction: many micro-batch files → target_files, data
    identical, ingestion resumes cleanly afterwards (source checkpoint
    tracks offsets, not sink files)."""
    src_root = tmp_path / "kinesis"
    for i in range(5):
        write_record_file(str(src_root / "s"), [{"data": f"r{i}"}])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("c_stream", "payload STRING")
    engine.consume_begin("ep", "s", "c_stream")
    engine.wait_for_ingest()
    before_rows = {
        r.payload for r in engine.stream_table("c_stream").collect()
    }
    assert before_rows == {f"r{i}" for i in range(5)}

    with pytest.raises(ValueError, match="stop consumers"):
        engine.compact_stream_table("c_stream")
    engine.consume_end("ep", "s", "c_stream")

    nb, na = engine.compact_stream_table("c_stream", target_files=1)
    assert nb >= 5 and na == 1
    assert {
        r.payload for r in engine.stream_table("c_stream").collect()
    } == before_rows

    # ingestion resumes from the checkpoint: the high-water mark carried
    # across the swap skips only batches already published, so the
    # post-resume batches (ids 5..11) all land beside the compacted file
    for i in range(5, 12):
        write_record_file(str(src_root / "s"), [{"data": f"r{i}"}])
    engine.consume_begin("ep", "s", "c_stream")
    engine.wait_for_ingest()
    assert {
        r.payload for r in engine.stream_table("c_stream").collect()
    } == {f"r{i}" for i in range(12)}


def test_upsert_rewrites_only_touched_buckets(engine, spark, tmp_path):
    """The hash-bucketed upsert store's scale contract: a micro-batch
    rewrites ONLY the buckets its keys hash into — every other bucket's
    files are byte-identical across the batch (no read, no rewrite, no
    write amplification proportional to table size)."""
    import hashlib
    import json
    import os

    from pipeline_kinesis_spark.streaming.continuous_view import KB_COL

    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s"), [{"data": f"k{i}"} for i in range(40)]
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("b_stream", "payload STRING")
    engine.create_continuous_view(
        "b_counts",
        "SELECT payload, count(*) AS n FROM b_stream GROUP BY payload",
        stream="b_stream",
        materialize="parquet_upsert",
        key_cols=["payload"],
    )
    engine.consume_begin("ep", "s", "b_stream")
    engine.wait_for_ingest()
    vdir = engine.view_dir("b_counts")

    def snap():
        out = {}
        for root, _, files in os.walk(vdir):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, vdir)] = hashlib.sha256(
                        fh.read()
                    ).hexdigest()
        return out

    before = snap()
    write_record_file(str(src_root / "s"), [{"data": "k0"}])
    engine.wait_for_ingest()
    after = snap()

    with open(os.path.join(vdir, "_manifest", "LATEST.json")) as f:
        nb = json.load(f)["num_buckets"]
    touched = spark.sql(
        f"SELECT CAST(pmod(xxhash64('k0'), {nb}) AS INT) AS b"
    ).collect()[0].b
    touched_prefix = f"{KB_COL}={touched}/"
    untouched = [
        p
        for p in before
        if p.startswith(f"{KB_COL}=") and not p.startswith(touched_prefix)
    ]
    assert untouched, "expected multiple populated buckets"
    for p in untouched:  # byte-identical: never read, never rewritten
        assert after.get(p) == before[p]
    changed = {
        p
        for p in set(before) | set(after)
        if before.get(p) != after.get(p)
        # the commit manifest is version metadata — rewritten every
        # merge by design; the byte-identity contract is about BUCKETS
        and not p.startswith("_manifest/")
    }
    assert changed and all(p.startswith(touched_prefix) for p in changed)
    rows = {(r.payload, r.n) for r in engine.view_table("b_counts").collect()}
    assert rows == {("k0", 2)} | {(f"k{i}", 1) for i in range(1, 40)}


def test_upsert_buckets_option_flows_to_store_layout(engine, spark, tmp_path):
    """The per-view bucket-count sizing knob reaches the store: the
    manifest pins it and partition dirs stay within range."""
    import json
    import os

    from pipeline_kinesis_spark.streaming.continuous_view import KB_COL

    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s"), [{"data": f"k{i}"} for i in range(12)]
    )
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("nb_stream", "payload STRING")
    assert engine.execute(
        "CREATE CONTINUOUS VIEW nb_counts WITH "
        "(materialize = 'parquet_upsert', key_cols = 'payload', "
        "upsert_buckets = '4') AS "
        "SELECT payload, count(*) AS n FROM nb_stream GROUP BY payload"
    ) == "success"
    engine.consume_begin("ep", "s", "nb_stream")
    engine.wait_for_ingest()
    vdir = engine.view_dir("nb_counts")
    with open(os.path.join(vdir, "_manifest", "LATEST.json")) as f:
        assert json.load(f)["num_buckets"] == 4
    buckets = {
        int(n.split("=")[1])
        for n in os.listdir(vdir)
        if n.startswith(f"{KB_COL}=")
    }
    assert buckets and all(0 <= b < 4 for b in buckets)
    assert engine.view_table("nb_counts").count() == 12


def test_view_table_without_manifest_is_not_materialized(engine, spark):
    """Bucket files under a store dir with no manifest are not data (a
    first commit died before its manifest flip): the view has
    committed nothing, and view_table says so instead of listing
    them."""
    from pipeline_kinesis_spark.streaming.continuous_view import KB_COL

    engine.create_stream("nm_stream", "payload STRING")
    engine.create_continuous_view(
        "nm_counts",
        "SELECT payload, count(*) AS n FROM nm_stream GROUP BY payload",
        stream="nm_stream",
        materialize="parquet_upsert",
        key_cols=["payload"],
    )
    spark.createDataFrame(
        [("a", 1, 0)], f"payload STRING, n BIGINT, {KB_COL} INT"
    ).write.partitionBy(KB_COL).parquet(engine.view_dir("nm_counts"))
    with pytest.raises(RuntimeError, match="not materialized"):
        engine.view_table("nm_counts")


def test_parquet_upsert_requires_keys(engine):
    engine.create_stream("k_stream", "payload STRING")
    with pytest.raises(ValueError, match="key_cols"):
        engine.create_continuous_view(
            "bad_view",
            "SELECT 1",
            stream="k_stream",
            materialize="parquet_upsert",
        )


def test_sketch_in_continuous_view(engine, spark, tmp_path):
    """B14 x B2 composition: PipelineDB's signature trick — an
    approximate-distinct sketch maintained incrementally by a standing
    query. approx_count_distinct runs in the continuous view's streaming
    aggregation (partial sketches merged across micro-batches by the
    state store), so the standing 'distinct users per event type' stays
    O(sketch) state at any stream length."""
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("ev_stream", "etype STRING, user_id BIGINT")
    engine.create_continuous_view(
        "ev_users",
        "SELECT etype, approx_count_distinct(user_id) AS approx_users, "
        "count(*) AS n FROM ev_stream GROUP BY etype",
        stream="ev_stream",
    )
    engine.consume_begin("ep", "s", "ev_stream", fmt="csv", delimiter=",")
    write_record_file(
        str(src_root / "s"),
        [{"data": f"click,{u}"} for u in range(40)]
        + [{"data": f"view,{u % 5}"} for u in range(20)],
    )
    engine.wait_for_ingest()
    # second batch: overlapping users must not inflate the distinct count
    write_record_file(
        str(src_root / "s"),
        [{"data": f"click,{u}"} for u in range(40)],
    )
    engine.wait_for_ingest()
    rows = {r.etype: (r.approx_users, r.n) for r in
            engine.view_table("ev_users").collect()}
    assert rows["click"][1] == 80 and rows["view"][1] == 20
    # HLL++ at default rsd=5%: 40 distinct clicks, 5 distinct viewers
    assert abs(rows["click"][0] - 40) <= 4
    assert abs(rows["view"][0] - 5) <= 1


def test_compact_swap_failure_restores_relation(engine, spark, tmp_path, monkeypatch):
    """If the second rename of the compaction swap fails, the original
    directory must be restored from the .compact.bak snapshot — the
    relation is never left missing and its data is intact."""
    import os as _os

    src_root = tmp_path / "kinesis"
    for i in range(3):
        write_record_file(str(src_root / "s"), [{"data": f"x{i}"}])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("cf_stream", "payload STRING")
    engine.consume_begin("ep", "s", "cf_stream")
    engine.wait_for_ingest()
    engine.consume_end("ep", "s", "cf_stream")
    table_dir = engine.table_dir("cf_stream")

    real_rename = _os.rename

    def failing_rename(src, dst):
        if dst == table_dir and src.endswith(".compact.tmp"):
            raise OSError("injected: second rename fails")
        return real_rename(src, dst)

    monkeypatch.setattr("pipeline_kinesis_spark.engine.os.rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        engine.compact_stream_table("cf_stream", target_files=1)
    monkeypatch.undo()

    assert _os.path.isdir(table_dir), "relation directory gone after failure"
    assert {
        r.payload for r in engine.stream_table("cf_stream").collect()
    } == {"x0", "x1", "x2"}


def test_compaction_crash_between_renames_is_restored(engine, tmp_path):
    """A process that dies between compact_stream_table's two renames
    leaves the archive only at <dir>.compact.bak. The next
    consume_begin restores it before publishing into the archive, so
    stream_table holds the old and the new rows, each exactly once —
    and a later compaction is not blocked by the bak."""
    import os

    src_root = tmp_path / "kinesis"
    for i in range(3):
        write_record_file(str(src_root / "s"), [{"data": f"x{i}"}])
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("cc_stream", "payload STRING")
    engine.consume_begin("ep", "s", "cc_stream")
    engine.wait_for_ingest()
    engine.consume_end("ep", "s", "cc_stream")
    d = engine.table_dir("cc_stream")
    os.rename(d, d + ".compact.bak")  # died after the first rename

    for i in range(3, 5):
        write_record_file(str(src_root / "s"), [{"data": f"x{i}"}])
    engine.consume_begin("ep", "s", "cc_stream")
    engine.wait_for_ingest()
    engine.consume_end("ep", "s", "cc_stream")
    want = [f"x{i}" for i in range(5)]
    got = sorted(r.payload for r in engine.stream_table("cc_stream").collect())
    assert got == want
    assert not os.path.exists(d + ".compact.bak")
    engine.compact_stream_table("cc_stream", target_files=1)
    got = sorted(r.payload for r in engine.stream_table("cc_stream").collect())
    assert got == want


def test_stream_table_join_in_continuous_view(engine, spark, tmp_path):
    """PipelineDB's signature stream-table join INSIDE a continuous
    view: the standing aggregate enriches stream rows against a static
    dimension (broadcast side) before grouping — declared in plain SQL,
    incrementalized by the engine."""
    spark.createDataFrame(
        [("us", "americas"), ("de", "emea"), ("jp", "apac")],
        "cc STRING, region STRING",
    ).createOrReplaceTempView("geo_dim")
    src_root = tmp_path / "kinesis"
    engine.add_endpoint("ep", url=str(src_root))
    engine.create_stream("stj_stream", "cc STRING, amount BIGINT")
    engine.create_continuous_view(
        "region_rev",
        "SELECT g.region, sum(s.amount) AS revenue, count(*) AS n "
        "FROM stj_stream s JOIN geo_dim g ON s.cc = g.cc "
        "GROUP BY g.region",
        stream="stj_stream",
    )
    engine.consume_begin("ep", "s", "stj_stream", fmt="csv", delimiter=",")
    write_record_file(
        str(src_root / "s"),
        [{"data": d} for d in ["us,10", "us,5", "de,7", "xx,99"]],
    )
    engine.wait_for_ingest()
    rows = {
        r.region: (r.revenue, r.n)
        for r in spark.table("region_rev").collect()
    }
    # inner join drops the unknown country; aggregates are per region
    assert rows == {"americas": (15, 2), "emea": (7, 1)}

    # second batch updates the standing aggregate incrementally
    write_record_file(str(src_root / "s"), [{"data": "jp,3"}, {"data": "us,1"}])
    engine.wait_for_ingest()
    rows = {
        r.region: (r.revenue, r.n)
        for r in spark.table("region_rev").collect()
    }
    assert rows == {"americas": (16, 3), "emea": (7, 1), "apac": (3, 1)}


def test_upsert_manifest_snapshot_read(spark, tmp_path):
    """The merge publishes a committed-version manifest; manifest-planned
    reads ignore files a torn/in-flight state would show (orphan file in
    a bucket), and a store with no manifest has committed nothing."""
    import os as _os
    import shutil as _shutil

    from pipeline_kinesis_spark.streaming.continuous_view import (
        read_store_manifest,
    )

    d = str(tmp_path / "tbl")
    upsert_to_parquet(
        spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT"),
        d,
        ["k"],
        batch_id=0,
    )
    paths = read_store_manifest(d)
    assert paths and all(_os.path.exists(p) for p in paths)

    # plant an orphan parquet (simulates a concurrent half-committed
    # merge): the manifest-planned read must not see it
    bucket = next(n for n in _os.listdir(d) if n.startswith("upsert_kb="))
    src_file = next(
        f for f in _os.listdir(_os.path.join(d, bucket))
        if f.endswith(".parquet")
    )
    _shutil.copy(
        _os.path.join(d, bucket, src_file),
        _os.path.join(d, bucket, "part-orphan.parquet"),
    )
    snap = spark.read.parquet(*read_store_manifest(d))
    assert snap.count() == 2  # orphan invisible
    assert spark.read.parquet(d).count() > 2  # dir listing would see it

    # next merge recomputes the manifest from the committed layout
    upsert_to_parquet(
        spark.createDataFrame([("c", 3)], "k STRING, v INT"),
        d,
        ["k"],
        batch_id=1,
    )
    assert read_store_manifest(d)

    # no manifest: nothing committed, whatever the bucket dirs hold
    _shutil.rmtree(_os.path.join(d, "_manifest"))
    assert read_store_manifest(d) is None
    assert read_store(spark, d) is None
