"""The REAL wire path: make_boto3_client → SigV4-signed HTTP → an
in-process fake Kinesis REST endpoint speaking the public
application/x-amz-json-1.1 protocol (X-Amz-Target dispatch, base64
Data). This exercises everything the sandbox previously had to gate —
boto3 client construction, request serialization, response parsing,
throttle-error code mapping — with only AWS itself faked, reusing
FakeKinesisClient as the protocol brain behind the HTTP front."""

from __future__ import annotations

import base64
import json
import os
import time

import pytest

boto3 = pytest.importorskip("boto3")

from pipeline_kinesis_spark.engine import Engine
from pipeline_kinesis_spark.sources.kinesis import make_boto3_client

from tests.test_kinesis_protocol import FakeKinesisClient


# The HTTP front moved into the package (sources/fake_kinesis.py
# serve_fake_kinesis) so the streaming_datasource_counts gate row can
# drive the executor-parallel path over real SigV4 HTTP under the
# DuckDB oracle; sibling suites build their endpoints from it too.
from pipeline_kinesis_spark.sources.fake_kinesis import serve_fake_kinesis


@pytest.fixture
def wire(monkeypatch):
    """(fake, endpoint_url): an HTTP Kinesis endpoint backed by
    FakeKinesisClient, plus static test credentials so SigV4 signing
    (which the server accepts unverified) has material to work with."""
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_EC2_METADATA_DISABLED", "true")
    fake = FakeKinesisClient(
        {"shardId-000": [b"a,1", b"a,2"], "shardId-001": [b"b,5"]}
    )
    srv, url = serve_fake_kinesis(fake)
    yield fake, url
    srv.shutdown()
    srv.server_close()


def test_boto3_client_drives_protocol_over_http(wire):
    fake, url = wire
    client = make_boto3_client("us-east-1", endpoint_url=url)
    desc = client.describe_stream(StreamName="events")
    assert [
        s["ShardId"] for s in desc["StreamDescription"]["Shards"]
    ] == ["shardId-000", "shardId-001"]
    it = client.get_shard_iterator(
        StreamName="events",
        ShardId="shardId-000",
        ShardIteratorType="TRIM_HORIZON",
    )["ShardIterator"]
    recs = client.get_records(ShardIterator=it, Limit=10)["Records"]
    assert [r["Data"] for r in recs] == [b"a,1", b"a,2"]  # base64 decoded

    # throttle error surfaces as a botocore ClientError whose CODE (not
    # type name) carries the AWS error — the poller classifies on it.
    # botocore itself retries throttling, so exhaust its budget.
    fake.throttle_next = 20
    with pytest.raises(Exception) as ei:
        client.get_records(ShardIterator=it, Limit=10)
    fake.throttle_next = 0
    assert (
        "ProvisionedThroughputExceeded"
        in ei.value.response["Error"]["Code"]
    )


def test_engine_ingests_through_real_boto3_wire(wire, spark, tmp_path):
    """consume_begin with NO injected client: the engine builds a real
    boto3 client from the endpoint row (region + scheme:// url) and the
    managed pump ingests through actual signed HTTP requests."""
    fake, url = wire
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    eng.add_endpoint("ep", region="us-east-1", url=url)
    eng.create_stream("k_in", "k STRING, v BIGINT")
    eng.create_continuous_view(
        "k_counts",
        "SELECT k, count(*) AS n, sum(v) AS total FROM k_in GROUP BY k",
        stream="k_in",
    )
    c = eng.consume_begin("ep", "events", "k_in", fmt="csv", delimiter=",")
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        st = eng.pump_status().get(c.id, {})
        assert not st.get("error"), st
        if st.get("records", 0) >= 3:
            break
        time.sleep(0.05)
    else:
        pytest.fail(f"pump never landed records: {eng.pump_status()}")
    eng.wait_for_ingest()
    rows = {
        r.k: (r.n, r.total) for r in eng.view_table("k_counts").collect()
    }
    assert rows == {"a": (2, 3), "b": (1, 5)}
    # poller positions persisted from wire-fed rounds — and surfaced
    # through the reference's seqnums relation
    assert eng.catalog.load_kinesis_seqnums(c.id)["shardId-000"] == (
        "shardId-000-1"
    )
    marks = {
        (r.consumer_id, r.shard_id): r.seqnum
        for r in eng.seqnums().collect()
    }
    assert marks[(c.id, "shardId-000")] == "shardId-000-1"
    eng.consume_end_all()


def test_credfile_scoped_to_its_client(monkeypatch, tmp_path):
    """Each client signs with ITS endpoint's credfile, and building one
    never writes AWS_SHARED_CREDENTIALS_FILE: two endpoints with
    different credfiles cannot leak into each other, and a host-level
    value survives every client build."""
    for var in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY",
                "AWS_SESSION_TOKEN", "AWS_PROFILE"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("AWS_EC2_METADATA_DISABLED", "true")
    host = str(tmp_path / "host_creds")
    monkeypatch.setenv("AWS_SHARED_CREDENTIALS_FILE", host)

    class Signed(Exception):
        pass

    def authorization(request, **_):
        # stop before the wire: the signed header is all this needs
        raise Signed(str(request.headers["Authorization"]))

    for key in ("AKIDFIRST", "AKIDSECOND"):
        cred = tmp_path / f"{key}.creds"
        cred.write_text(
            f"[default]\naws_access_key_id = {key}\n"
            "aws_secret_access_key = testing\n"
        )
        client = make_boto3_client(
            "us-east-1", str(cred), endpoint_url="http://127.0.0.1:1"
        )
        client.meta.events.register("before-send", authorization)
        with pytest.raises(Signed) as signed:
            client.describe_stream(StreamName="events")
        assert f"Credential={key}/" in str(signed.value)
        assert os.environ["AWS_SHARED_CREDENTIALS_FILE"] == host
