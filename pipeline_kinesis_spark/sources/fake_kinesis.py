"""Deterministic in-process Kinesis wire (boto3-shaped, no network).

Plays canned DescribeStream / GetShardIterator / GetRecords against the
consumer protocol (ShardCursor in sources/kinesis_datasource.py, driven
by both the pump and the datasource reader) exactly the way the reference's
test rig plays against kinesis_consumer.cpp: shards hold ordered record
payloads, iterators encode (shard, offset), reshard()/merge() close
parents and surface children with ParentShardId lineage the next
DescribeStream — so split/merge draining, iterator follow, throttle
backoff and expiry re-acquisition are all drivable without AWS.

Lives in the package (not tests/) because the replay gate row
`streaming_reshard_counts` (gates/streaming.py) drives a real
Engine consume loop through this wire under the DuckDB oracle; the
pytest suites import it from here too.
"""

from __future__ import annotations


class ProvisionedThroughputExceededException(Exception):
    """Fake of the AWS throttle error (matched by type name,
    kinesis_datasource.py:aws_error_code)."""


class ExpiredIteratorException(Exception):
    """Fake of the AWS expired-iterator error (matched by type name)."""


class FakeKinesisClient:
    """Canned-response Kinesis: shards hold ordered records; iterators
    encode (shard, offset); reshard() closes parents and adds children."""

    def __init__(self, shards: dict[str, list[bytes]], page_size: int = 100):
        # shard_id -> list of record payloads (seq = "<shard>-<i>")
        self.shards = {s: list(rs) for s, rs in shards.items()}
        self.meta: dict[str, dict] = {s: {} for s in shards}
        self.closed: set[str] = set()
        self.page_size = page_size
        self.throttle_next: int = 0  # fail the next N get_records calls
        self.expire_next: int = 0
        # shard_id -> per-call fault queue: each get_records for that
        # shard pops one entry — "throttle" / "expire" raise, None
        # passes through. Unlike the global counters above (which fire
        # on WHICHEVER shard polls next — fine for chaos, wrong for a
        # docstring that promises where the fault lands), this pins the
        # injection to a specific shard AND call ordinal, so e.g. "the
        # expiry hits child X after its first delivered page" is a
        # deterministic per-run fact (ADVICE r12: the global form let
        # the expiry land on a child's FIRST read, where re-acquire has
        # no last_seq and legitimately falls back to TRIM_HORIZON).
        self.fault_plan: dict[str, list[str | None]] = {}
        self.calls: list[str] = []
        self.millis_behind: int = 0

    # -- stream mutation hooks --------------------------------------------

    def append(self, shard: str, data: bytes) -> None:
        self.shards[shard].append(data)

    def reshard(self, parent: str, children: list[str]) -> None:
        # meta BEFORE shards: describe_stream (pump thread) iterates
        # self.shards and joins self.meta — a child visible in shards
        # without its ParentShardId yet would be registered parentless
        # ONCE by the poller, silently disabling parent-before-child
        # gating for the run (ADVICE r12). Ordering the dict inserts
        # closes the window (each assignment is atomic under the GIL).
        self.closed.add(parent)
        for c in children:
            self.meta[c] = {"ParentShardId": parent}
            self.shards[c] = []

    def merge(self, parents: list[str], child: str) -> None:
        """Kinesis MergeShards: two adjacent parents close; the child
        carries ParentShardId + AdjacentParentShardId."""
        assert len(parents) == 2
        for p in parents:
            self.closed.add(p)
        # meta before shards — same describe_stream race as reshard()
        self.meta[child] = {
            "ParentShardId": parents[0],
            "AdjacentParentShardId": parents[1],
        }
        self.shards[child] = []

    # -- boto3-shaped API --------------------------------------------------

    def describe_stream(self, StreamName, ExclusiveStartShardId=None):
        self.calls.append("describe_stream")
        ids = sorted(self.shards)
        if ExclusiveStartShardId is not None:
            ids = [s for s in ids if s > ExclusiveStartShardId]
        page, rest = ids[: self.page_size], ids[self.page_size:]
        return {
            "StreamDescription": {
                "StreamName": StreamName,
                "Shards": [
                    {"ShardId": s, **self.meta.get(s, {})} for s in page
                ],
                "HasMoreShards": bool(rest),
            }
        }

    def get_shard_iterator(
        self,
        StreamName,
        ShardId,
        ShardIteratorType,
        StartingSequenceNumber=None,
    ):
        self.calls.append(f"get_shard_iterator:{ShardIteratorType}")
        n = len(self.shards[ShardId])
        if ShardIteratorType == "TRIM_HORIZON":
            off = 0
        elif ShardIteratorType == "LATEST":
            off = n
        elif ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            off = int(StartingSequenceNumber.rsplit("-", 1)[1]) + 1
        else:
            raise ValueError(ShardIteratorType)
        return {"ShardIterator": f"{ShardId}@{off}"}

    def get_records(self, ShardIterator, Limit):
        self.calls.append("get_records")
        if self.throttle_next > 0:
            self.throttle_next -= 1
            raise ProvisionedThroughputExceededException("slow down")
        if self.expire_next > 0:
            self.expire_next -= 1
            raise ExpiredIteratorException("iterator expired")
        shard, off = ShardIterator.rsplit("@", 1)
        plan = self.fault_plan.get(shard)
        if plan:
            fault = plan.pop(0)
            if fault == "throttle":
                raise ProvisionedThroughputExceededException("slow down")
            if fault == "expire":
                raise ExpiredIteratorException("iterator expired")
        off = int(off)
        recs = self.shards[shard][off : off + Limit]
        new_off = off + len(recs)
        drained = new_off >= len(self.shards[shard])
        nxt = (
            None
            if (shard in self.closed and drained)
            else f"{shard}@{new_off}"
        )
        return {
            "Records": [
                {
                    "SequenceNumber": f"{shard}-{off + i}",
                    "PartitionKey": f"pk{off + i}",
                    "Data": d,
                    "ApproximateArrivalTimestamp": None,
                }
                for i, d in enumerate(recs)
            ],
            "NextShardIterator": nxt,
            "MillisBehindLatest": self.millis_behind,
        }


def serve_fake_kinesis(fake: FakeKinesisClient):
    """Front the fake with a real HTTP endpoint speaking the public
    application/x-amz-json-1.1 protocol (X-Amz-Target dispatch, base64
    Data) so an actual boto3 client — driver-side pump or executor-side
    datasource task — can drive it over SigV4-signed requests. Returns
    (server, url); call server.shutdown() when done."""
    import base64
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 — http.server API
            n = int(self.headers.get("Content-Length", 0))
            body = json.loads(self.rfile.read(n) or b"{}")
            target = self.headers.get("X-Amz-Target", "").split(".")[-1]
            try:
                if target == "DescribeStream":
                    out = fake.describe_stream(**body)
                elif target == "GetShardIterator":
                    out = fake.get_shard_iterator(**body)
                elif target == "GetRecords":
                    raw = fake.get_records(**body)
                    recs = [
                        {
                            k: v
                            for k, v in {
                                **r,
                                "Data": base64.b64encode(
                                    r["Data"]
                                ).decode(),
                            }.items()
                            if v is not None
                        }
                        for r in raw["Records"]
                    ]
                    out = {
                        k: v
                        for k, v in {**raw, "Records": recs}.items()
                        if v is not None
                    }
                else:
                    raise ValueError(f"unhandled target {target!r}")
            except Exception as exc:  # typed errors -> AWS error shape
                payload = json.dumps(
                    {"__type": type(exc).__name__, "message": str(exc)}
                ).encode()
                self.send_response(400)
                self.send_header(
                    "Content-Type", "application/x-amz-json-1.1"
                )
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)
                return
            payload = json.dumps(out).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/x-amz-json-1.1")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *args):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"
