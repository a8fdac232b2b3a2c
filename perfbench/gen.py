"""Seeded inputs for the ingest workloads, and the load-generator process.

Records are CSV lines ``k,v,ts`` for the stream schema
``k STRING, v BIGINT, ts BIGINT``:

- ``k`` is one of ``N_KEYS`` group keys drawn with a Zipf-like skew
  (weight of rank r is 1/(r+1)**ZIPF_S), so a few keys are hot;
- ``v`` is a signed integer, so per-key sums are exact;
- ``ts`` is the record's scheduled send time in ms since the paced
  phase began (0 for a pre-filled backlog).

Each key lives on one shard (crc32 of the key, as Kinesis routes a
partition key to one shard), so the records of one key reach the view
in the order they were sent. That makes per-key view counts enough to
tell exactly when each record became visible.

The shard a key maps to and its weight are fixed, so the load per shard
differs between seeds only by sampling noise; the seed picks which key
each record carries and its value.

Run as ``python3 perfbench/gen.py`` this file is the generator process:
it serves a fake Kinesis stream over HTTP (the package's
``serve_fake_kinesis``) and obeys one JSON command per stdin line,
answering one JSON line per command on stdout. Commands:

- ``{"op": "load", "seed", "n", "shards"}``: a fresh stream pre-filled
  with the backlog for that seed;
- ``{"op": "live", "seed", "rate", "seconds", "shards", "t0"}``: an
  open-loop pacer appends record j of that seed's paced input to the
  current stream (load it empty first) at monotonic time
  ``t0 + j / rate`` until ``seconds`` have passed;
- ``{"op": "stats"}``: pacer and wire counters (see ``_Wire``);
- ``{"op": "quit"}``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys
import threading
import time
import zlib

import numpy as np

N_KEYS = 1000
ZIPF_S = 1.1
SCHEMA_DDL = "k STRING, v BIGINT, ts BIGINT"
KEY_NAMES = [f"k{r:04d}" for r in range(N_KEYS)]
_WEIGHTS = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S
_WEIGHTS /= _WEIGHTS.sum()


def key_shards(n_shards: int) -> np.ndarray:
    """Shard index of every key: crc32 of the key, like a partition key."""
    return np.array(
        [zlib.crc32(k.encode()) % n_shards for k in KEY_NAMES], dtype=np.int64
    )


def shard_ids(n_shards: int) -> list[str]:
    return [f"shardId-{s:03d}" for s in range(n_shards)]


class Inputs:
    """The records of one run of one workload, and the view's expected
    answer: per-key count and sum over all records."""

    def __init__(self, seed: int, n: int, rate: float | None = None):
        rng = np.random.default_rng(seed)
        self.n = n
        self.keys = rng.choice(N_KEYS, size=n, p=_WEIGHTS)
        self.vals = rng.integers(-1000, 1000, size=n)
        # scheduled send time (ms after the paced phase starts)
        self.ts_ms = (
            np.zeros(n, dtype=np.int64)
            if rate is None
            else (np.arange(n) * 1000.0 / rate).astype(np.int64)
        )
        self.counts = np.bincount(self.keys, minlength=N_KEYS)
        self.sums = np.bincount(
            self.keys, weights=self.vals, minlength=N_KEYS
        ).astype(np.int64)
        # rank of each record among the records of its key, from 1
        order = np.argsort(self.keys, kind="stable")
        starts = np.concatenate([[0], np.cumsum(self.counts)[:-1]])
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(n) - np.repeat(starts, self.counts) + 1
        self.rank = rank

    def payload(self, j: int) -> bytes:
        return (
            f"{KEY_NAMES[self.keys[j]]},{self.vals[j]},{self.ts_ms[j]}".encode()
        )

    def by_shard(self, n_shards: int) -> dict[str, list[bytes]]:
        shard_of = key_shards(n_shards)[self.keys]
        ids = shard_ids(n_shards)
        out: dict[str, list[bytes]] = {s: [] for s in ids}
        for j in range(self.n):
            out[ids[shard_of[j]]].append(self.payload(j))
        return out

    def expected(self) -> dict[str, tuple[int, int]]:
        return {
            KEY_NAMES[k]: (int(self.counts[k]), int(self.sums[k]))
            for k in np.flatnonzero(self.counts)
        }

    def digest(self) -> str:
        h = hashlib.sha256()
        for j in range(self.n):
            h.update(self.payload(j))
            h.update(b"\n")
        return h.hexdigest()


def view_counts(rows) -> np.ndarray:
    """Per-key counts of a view snapshot (rows of k, n) as a dense array."""
    out = np.zeros(N_KEYS, dtype=np.int64)
    for r in rows:
        out[int(r["k"][1:])] = r["n"]
    return out


def check_view(rows, expected: dict[str, tuple[int, int]]) -> bool:
    """The view equals the expected answer: same keys, counts and sums."""
    got = {r["k"]: (int(r["n"]), int(r["total"])) for r in rows}
    return got == expected


# ---------------------------------------------------------------- process


def _load_fake_module():
    """Import the package's fake Kinesis wire by file, so the generator
    does not import pyspark (the package __init__ does)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(
        root, "pipeline_kinesis_spark", "sources", "fake_kinesis.py"
    )
    spec = importlib.util.spec_from_file_location("_pb_fake_kinesis", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Wire:
    """Stands in for the fake client behind the HTTP server: forwards to
    the current fake, which a command may swap, and counts the
    GetRecords calls it serves and the time spent serving them."""

    def __init__(self, fake):
        self.fake = fake
        self.lock = threading.Lock()
        self.get_records_calls = 0
        self.records_served = 0
        self.busy_s = 0.0

    def describe_stream(self, **kw):
        return self.fake.describe_stream(**kw)

    def get_shard_iterator(self, **kw):
        return self.fake.get_shard_iterator(**kw)

    def get_records(self, **kw):
        t = time.perf_counter()
        out = self.fake.get_records(**kw)
        dt = time.perf_counter() - t
        with self.lock:
            self.get_records_calls += 1
            self.records_served += len(out["Records"])
            self.busy_s += dt
        return out


class _Pacer(threading.Thread):
    """Open-loop sender: record j is due at t0 + j / rate whatever the
    consumer does. Tracks how late it ran and how long it was busy."""

    def __init__(self, fake, inputs: Inputs, n_shards: int, t0: float, rate):
        super().__init__(daemon=True)
        self.fake = fake
        self.inputs = inputs
        self.shard_of = key_shards(n_shards)[inputs.keys]
        self.ids = shard_ids(n_shards)
        self.t0 = t0
        self.rate = rate
        self.sent = 0
        self.lag_ms_max = 0.0
        self.busy_s = 0.0

    def run(self) -> None:
        n = self.inputs.n
        while self.sent < n:
            now = time.monotonic()
            due = min(n, int((now - self.t0) * self.rate) + 1)
            if due > self.sent:
                t = time.perf_counter()
                lag = (now - (self.t0 + self.sent / self.rate)) * 1000.0
                self.lag_ms_max = max(self.lag_ms_max, lag)
                for j in range(self.sent, due):
                    self.fake.append(
                        self.ids[self.shard_of[j]], self.inputs.payload(j)
                    )
                self.sent = due
                self.busy_s += time.perf_counter() - t
            if self.sent < n:
                nxt = self.t0 + self.sent / self.rate
                time.sleep(max(0.0, min(0.005, nxt - time.monotonic())))


def main() -> None:
    fk = _load_fake_module()
    wire = _Wire(fk.FakeKinesisClient({}))
    srv, url = fk.serve_fake_kinesis(wire)
    pacer: _Pacer | None = None
    print(json.dumps({"url": url}), flush=True)
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["op"]
        if op == "quit":
            break
        if op == "load":
            inp = Inputs(cmd["seed"], cmd["n"])
            wire.fake = fk.FakeKinesisClient(
                inp.by_shard(cmd["shards"]), page_size=100
            )
            out = {"ok": True}
        elif op == "live":
            inp = Inputs(cmd["seed"], int(cmd["rate"] * cmd["seconds"]),
                         rate=cmd["rate"])
            pacer = _Pacer(
                wire.fake, inp, cmd["shards"], cmd["t0"], cmd["rate"]
            )
            pacer.start()
            out = {"ok": True}
        elif op == "stats":
            out = {
                "get_records_calls": wire.get_records_calls,
                "records_served": wire.records_served,
                "server_busy_s": wire.busy_s,
                "sent": pacer.sent if pacer else 0,
                "lag_ms_max": pacer.lag_ms_max if pacer else 0.0,
                "busy_s": pacer.busy_s if pacer else 0.0,
                "cpu_s": time.process_time(),
            }
        else:
            out = {"error": f"unknown op {op!r}"}
        print(json.dumps(out), flush=True)
    srv.shutdown()
    srv.server_close()


if __name__ == "__main__":
    main()
