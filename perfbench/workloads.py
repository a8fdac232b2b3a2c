"""The benchmark's workloads, driven through the public Engine API.

Every repetition ("rep") builds a fresh Engine with its own metadata
directory and fresh endpoint, stream and view names, so no rep can see
another's state. One rep:

1. set-up (timed as ``setup_s``): Engine, endpoint, stream, the standing
   view ``SELECT k, count(*) AS n, sum(v) AS total ... GROUP BY k``,
   and ``consume_begin``;
2. the timed region, from ``consume_begin`` (backlog workloads) or the
   first scheduled send (``live_tail``) until a ``view_table`` poll
   equals the generator's expected per-key counts and sums;
3. a reader polls ``view_table(view).collect()`` every ``POLL_S``
   throughout; each poll's per-key counts say which records are
   visible (see gen.py), which gives every record's freshness;
4. ``consume_end_all`` and removal of the metadata directory.

A rep that does not converge before its deadline, or whose view holds
the right number of records with wrong contents, counts as failed.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

import numpy as np

from perfbench import probe
from perfbench.gen import SCHEMA_DDL, Inputs, check_view, view_counts

POLL_S = 0.1
N_SHARDS = 4
DEADLINE_S = 120.0
# Backlog drains run the standing queries on a short trigger, so that
# when a query picks up new spool files is not rounded to a long tick;
# live_tail keeps the engine's default (500 ms), as the README runs it.
BACKLOG_TRIGGER = "100 milliseconds"
VIEW_SQL = "SELECT k, count(*) AS n, sum(v) AS total FROM {s} GROUP BY k"


class Tally:
    """Operations attempted and failed (wrong, incomplete or raising)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


class Run:
    """One benchmark run: the Spark session, work directory, samplers
    and the per-rep samples the workload collects."""

    def __init__(self, spark, work, workload, seed, seconds, trace, scale,
                 proc):
        self.spark = spark
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.proc = proc
        self.tally = Tally()
        self.setup_s: list[float] = []
        self.reps: list[dict[str, float]] = []  # measured reps only
        self.cpu_s: float | None = None  # per measured rep
        self.gen: Generator | None = None
        self.nproc = int(os.environ["SPARK_GRAFT_CPUS"])

    def tracer(self):
        return probe.Tracer() if self.trace else None


# ----------------------------------------------------------- generator


class Generator:
    """The load-generator process (gen.py), one per run."""

    def __init__(self, work: str):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "gen.py")],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.url = json.loads(self.proc.stdout.readline())["url"]
        self.credfile = os.path.join(work, "creds")
        with open(self.credfile, "w") as f:
            f.write(
                "[default]\naws_access_key_id = bench\n"
                "aws_secret_access_key = bench\n"
            )

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        out = json.loads(self.proc.stdout.readline())
        if "error" in out:
            raise RuntimeError(out["error"])
        return out

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call(op="quit")
            except (OSError, ValueError):
                pass
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


# ----------------------------------------------------------- one rep


def freshness_ms(polls_t, polls_counts, inputs: Inputs, due) -> np.ndarray:
    """Per-record time from due to the first poll showing it (ms).

    Record j (key k, rank r among k's records) is visible at the first
    poll whose count for k reaches r; a key's records arrive in send
    order, so this is exact. Records never seen get NaN."""
    t = np.asarray(polls_t)
    c = np.asarray(polls_counts)  # polls x keys, non-decreasing
    vis = np.full(inputs.n, np.nan)
    order = np.argsort(inputs.keys, kind="stable")
    starts = np.concatenate([[0], np.cumsum(inputs.counts)[:-1]])
    for k in np.flatnonzero(inputs.counts):
        idx = order[starts[k] : starts[k] + inputs.counts[k]]
        p = np.searchsorted(c[:, k], inputs.rank[idx], side="left")
        ok = p < len(t)
        vis[idx[ok]] = t[p[ok]]
    return (vis - due) * 1000.0


def _spool_stats(meta: str) -> tuple[int, int]:
    """(spool files written, spool files admitted by the ingest query)."""
    written = admitted = 0
    spool_root = os.path.join(meta, "spool")
    for cid in os.listdir(spool_root) if os.path.isdir(spool_root) else ():
        d = os.path.join(spool_root, cid)
        written += sum(1 for f in os.listdir(d) if f.endswith(".jsonl"))
        admitted += probe.count_admitted_files(
            os.path.join(meta, "checkpoints", cid, "ingest", "sources", "0")
        )
    return written, admitted


def ingest_rep(run: Run, inputs: Inputs, connect, consume_kw: dict,
               paced: dict | None = None, measured: bool = True,
               trigger: str = "500 milliseconds") -> None:
    """One rep of an ingest workload (see module docstring).

    ``connect(eng, ep, tracer)`` declares the endpoint and wires the
    client; ``paced`` (live_tail) holds the rate and starts the
    generator's pacer once the consumer is up."""
    from pipeline_kinesis_spark.engine import Engine

    tag = f"{run.workload}_{run.seed}_{len(run.setup_s)}_{uuid.uuid4().hex[:6]}"
    meta = os.path.join(run.work, tag)
    ep, stream, view = f"ep_{tag}", f"s_{tag}", f"v_{tag}"
    tracer = run.tracer()
    expected = inputs.expected()
    cpu0 = run.proc.sample()[0]
    gen0 = run.gen.call(op="stats") if run.gen and measured else None
    if measured and not run.reps:
        run.proc.reset_peak()

    t_set = time.perf_counter()
    eng = Engine(run.spark, metadata_dir=meta, trigger_interval=trigger)
    read = lambda: eng.view_table(view).collect()  # noqa: E731
    if tracer is not None:
        eng.consume_begin = tracer.wrap("consume_begin", eng.consume_begin)
        eng.catalog.save_kinesis_seqnums = tracer.wrap(
            "catalog.save_kinesis_seqnums", eng.catalog.save_kinesis_seqnums
        )
        read = tracer.wrap("view_table", read)
    connect(eng, ep, tracer)
    eng.create_stream(stream, SCHEMA_DDL)
    eng.create_continuous_view(view, VIEW_SQL.format(s=stream), stream=stream)
    t0 = time.monotonic()
    try:
        eng.consume_begin(ep, "events", stream, fmt="csv", delimiter=",",
                          **consume_kw)
        run.setup_s.append(time.perf_counter() - t_set)
        if paced is not None:
            t0 = time.monotonic() + 0.2
            run.gen.call(op="live", seed=paced["seed"], rate=paced["rate"],
                         seconds=paced["seconds"], shards=N_SHARDS, t0=t0)
            due = t0 + inputs.ts_ms / 1000.0
            t_paced_end = t0 + paced["seconds"]
        else:
            due = np.full(inputs.n, t0)
            t_paced_end = t0
        polls_t, polls_c, read_ms, backlog = [], [], [], []
        max_backlog_files = 0
        ok, why, t_done = False, "incomplete", None
        nxt = time.monotonic()
        while time.monotonic() < t0 + DEADLINE_S:
            nxt += POLL_S
            ts = time.perf_counter()
            rows = read()
            te = time.monotonic()
            counts = view_counts(rows)
            polls_t.append(te)
            polls_c.append(counts)
            read_ms.append((time.perf_counter() - ts) * 1000.0)
            if te <= t_paced_end:
                sent = min(inputs.n, int((te - t0) * paced["rate"]) + 1) \
                    if paced is not None else inputs.n
                backlog.append((te - t0, sent - int(counts.sum())))
            if tracer is not None:
                w, a = _spool_stats(meta)
                max_backlog_files = max(max_backlog_files, w - a)
            if counts.sum() >= inputs.n:
                ok = check_view(rows, expected)
                why = "" if ok else "view differs from expected answer"
                t_done = te
                break
            time.sleep(max(0.0, nxt - time.monotonic()))
        run.tally.record(ok, f"{tag}: {why}" if why else "")
        if not measured or not ok:
            return
        fresh = freshness_ms(polls_t, polls_c, inputs, due)
        cpu = probe.cpu_delta(cpu0, run.proc.sample()[0])
        work_s = t_done - t0
        rep = {
            "work_s": work_s,
            "ingest_rps": inputs.n / work_s,
            "fresh_mean_ms": float(fresh.mean()),
            "fresh_p50_ms": float(np.percentile(fresh, 50)),
            "fresh_p99_ms": float(np.percentile(fresh, 99)),
            "read_p50_ms": float(np.percentile(read_ms, 50)),
            "read_p95_ms": float(np.percentile(read_ms, 95)),
            "cpu_by_role": cpu,
            "polls": len(polls_t),
        }
        if len(backlog) >= 3:
            x, y = np.array(backlog, dtype=float).T
            rep["backlog_growth_rps"] = float(np.polyfit(x, y, 1)[0])
        if tracer is not None:
            rep.update(_layer_metrics(run, eng, tracer, meta, view, cpu,
                                      gen0, work_s, max_backlog_files))
        run.reps.append(rep)
    finally:
        eng.consume_end_all()
        shutil.rmtree(meta, ignore_errors=True)


def _layer_metrics(run, eng, tracer, meta, view, cpu, gen0, wall_s,
                   max_backlog_files) -> dict[str, float]:
    out = probe.harvest_progress(run.spark.streams.active, view, wall_s)
    tot = tracer.totals()
    gr = tot.get("kinesis.get_records", {"calls": 0, "s": 0.0})
    calls = gr["calls"]
    out["kinesis.get_records_calls"] = calls
    out["kinesis.get_records_s"] = gr["s"]
    out["kinesis.records_per_call"] = (
        tracer.counts["kinesis.records"] / calls if calls else 0.0
    )
    out["kinesis.empty_call_ratio"] = (
        tracer.counts["kinesis.empty_calls"] / calls if calls else 0.0
    )
    pumps = eng.pump_status()
    out["pump.rounds"] = sum(p["rounds"] for p in pumps.values())
    written, admitted = _spool_stats(meta)
    pump_records = sum(p["records"] for p in pumps.values())
    out["pump.spool_files"] = written if pumps else 0
    out["pump.records_per_file"] = (
        pump_records / written if pumps and written else 0.0
    )
    batches = out.get("ingest_query.batches", 0)
    out["spool.backlog_files"] = max_backlog_files
    out["spool.files_per_batch"] = admitted / batches if batches else 0.0
    sq = tot.get("catalog.save_kinesis_seqnums", {"calls": 0, "s": 0.0})
    out["catalog.seqnum_writes"] = sq["calls"]
    out["catalog.seqnum_write_s"] = sq["s"]
    vt = tot.get("view_table", {"calls": 0, "s": 0.0})
    out["view_table.calls"] = vt["calls"]
    out["view_table.s"] = vt["s"]
    cb = tot.get("consume_begin", {"s": 0.0})
    out["consume_begin.s"] = cb["s"]
    for role in ("driver_py", "jvm", "pyworker"):
        out[f"proc.{role}_cpu_s"] = cpu.get(role, 0.0)
    if gen0 is not None:
        g1 = run.gen.call(op="stats")
        out["gen.lag_ms_max"] = g1["lag_ms_max"]
        out["gen.busy_s"] = g1["busy_s"] - gen0["busy_s"]
        if run.workload == "backfill_ds":
            n = g1["get_records_calls"] - gen0["get_records_calls"]
            out["datasource.get_records_calls"] = n
            out["datasource.records_per_call"] = (
                (g1["records_served"] - gen0["records_served"]) / n
                if n else 0.0
            )
            out["datasource.server_busy_s"] = (
                g1["server_busy_s"] - gen0["server_busy_s"]
            )
    return out


def setup_probe(run: Run, connect, consume_kw: dict) -> None:
    """Set-up only: a fresh engine, DDL and consume_begin on an empty
    stream, then teardown. Adds one ``setup_s`` sample."""
    from pipeline_kinesis_spark.engine import Engine

    tag = f"{run.workload}_{run.seed}_p{len(run.setup_s)}_{uuid.uuid4().hex[:6]}"
    meta = os.path.join(run.work, tag)
    ep, stream, view = f"ep_{tag}", f"s_{tag}", f"v_{tag}"
    t = time.perf_counter()
    eng = Engine(run.spark, metadata_dir=meta)
    connect(eng, ep, None)
    eng.create_stream(stream, SCHEMA_DDL)
    eng.create_continuous_view(view, VIEW_SQL.format(s=stream), stream=stream)
    try:
        eng.consume_begin(ep, "events", stream, fmt="csv", delimiter=",",
                          **consume_kw)
        run.setup_s.append(time.perf_counter() - t)
        run.tally.record(True)
    finally:
        eng.consume_end_all()
        shutil.rmtree(meta, ignore_errors=True)


# ----------------------------------------------------------- workloads


MIN_REPS = 3


def _measure(run: Run, one_rep, probe_setup) -> None:
    """A full-size warm-up rep, then measured reps until ``seconds`` have
    passed and at least MIN_REPS ran, then set-up probes until there are
    at least three set-up samples from measured reps and probes. The
    JVM keeps getting faster for several reps after the warm-up; the
    median of three drops the slowest."""
    one_rep(warm=True)
    run.setup_s.clear()
    with _cpu_per_rep(run):
        t_end = time.monotonic() + run.seconds
        while time.monotonic() < t_end or len(run.reps) < MIN_REPS:
            n_before = run.tally.failed
            one_rep(warm=False)
            if run.tally.failed > n_before:
                break  # a failed rep makes the run incorrect anyway
    while len(run.setup_s) < 3:
        probe_setup()


@contextlib.contextmanager
def _cpu_per_rep(run: Run):
    """Sets ``run.cpu_s``: CPU of the system under test over the whole
    measured phase (set-up, timed region and teardown of every rep)
    divided by the measured reps. One pair of samples around the phase,
    not per rep, so a worker process that exits near a rep boundary is
    not charged to the wrong rep."""
    cpu0 = run.proc.sample()[0]
    yield
    cpu = probe.cpu_delta(cpu0, run.proc.sample()[0])
    run.cpu_s = sum(cpu.values()) / max(1, len(run.reps))


def backfill(run: Run) -> None:
    """In-process FakeKinesisClient, 4 shards pre-filled with a skewed
    backlog, pump path at the AWS per-shard read limits."""
    from pipeline_kinesis_spark.sources.fake_kinesis import FakeKinesisClient

    n = max(1000, int(80_000 * run.scale))
    kw = dict(source="pump", batchsize=10_000, rate_limit_rps=5,
              parallelism=min(4, run.nproc))
    reps = iter(range(1, 10**6))

    def connect_with(fake):
        def connect(eng, ep, tracer):
            eng.add_endpoint(ep)
            client = fake if tracer is None else probe.ClientProxy(fake, tracer)
            eng.register_kinesis_client(ep, client)
        return connect

    def one_rep(warm):
        seed = run.seed * 1000 + next(reps)
        inputs = Inputs(seed, n)
        fake = FakeKinesisClient(inputs.by_shard(N_SHARDS))
        ingest_rep(run, inputs, connect_with(fake), kw, measured=not warm,
                   trigger=BACKLOG_TRIGGER)

    def probe_setup():
        fake = FakeKinesisClient({s: [] for s in Inputs(0, 0).by_shard(N_SHARDS)})
        setup_probe(run, connect_with(fake), kw)

    _measure(run, one_rep, probe_setup)


def _http_connect(run: Run, boto_client: bool):
    """Endpoint served by the generator over HTTP. With ``boto_client``
    the benchmark injects a boto3 client (traced in a traced run), as
    the pump path allows; else the engine builds its own (datasource)."""

    def connect(eng, ep, tracer):
        eng.add_endpoint(ep, region="us-east-1", url=run.gen.url,
                         credfile=run.gen.credfile)
        if boto_client:
            from pipeline_kinesis_spark.sources.kinesis import (
                make_boto3_client,
            )

            client = make_boto3_client("us-east-1", run.gen.credfile,
                                       run.gen.url)
            if tracer is not None:
                client = probe.ClientProxy(client, tracer)
            eng.register_kinesis_client(ep, client)

    return connect


LIVE_RATE = 200.0  # records/s, open loop


def live_tail(run: Run) -> None:
    """README default consumer settings against an open-loop generator
    appending LIVE_RATE records/s in its own process; a reader polls
    the view meanwhile."""
    run.gen = Generator(run.work)
    run.proc.exclude.add(run.gen.proc.pid)
    connect = _http_connect(run, boto_client=True)
    kw = dict(source="pump")  # README defaults otherwise
    rate = LIVE_RATE * run.scale
    reps = iter(range(1, 10**6))

    def one_rep(warm):
        seed = run.seed * 1000 + next(reps)
        if warm:
            inputs = Inputs(seed, 200)
            run.gen.call(op="load", seed=seed, n=200, shards=N_SHARDS)
            ingest_rep(run, inputs, connect, kw, measured=False)
            return
        inputs = Inputs(seed, int(rate * run.seconds), rate=rate)
        run.gen.call(op="load", seed=seed, n=0, shards=N_SHARDS)
        ingest_rep(run, inputs, connect, kw,
                   paced={"seed": seed, "rate": rate, "seconds": run.seconds})

    def probe_setup():
        run.gen.call(op="load", seed=0, n=0, shards=N_SHARDS)
        setup_probe(run, connect, kw)

    # one paced rep fills the run; set-up probes make up the samples
    one_rep(warm=True)
    run.setup_s.clear()
    with _cpu_per_rep(run):
        one_rep(warm=False)
    while len(run.setup_s) < 3:
        probe_setup()


def backfill_ds(run: Run) -> None:
    """A backlog served over HTTP by the generator process, ingested by
    the executor-parallel datasource path."""
    run.gen = Generator(run.work)
    run.proc.exclude.add(run.gen.proc.pid)
    connect = _http_connect(run, boto_client=False)
    n = max(1000, int(24_000 * run.scale))
    kw = dict(source="datasource", batchsize=10_000, rate_limit_rps=5,
              parallelism=min(4, run.nproc))
    reps = iter(range(1, 10**6))

    def one_rep(warm):
        seed = run.seed * 1000 + next(reps)
        run.gen.call(op="load", seed=seed, n=n, shards=N_SHARDS)
        ingest_rep(run, Inputs(seed, n), connect, kw, measured=not warm,
                   trigger=BACKLOG_TRIGGER)

    def probe_setup():
        run.gen.call(op="load", seed=0, n=0, shards=N_SHARDS)
        setup_probe(run, connect, kw)

    _measure(run, one_rep, probe_setup)


WORKLOADS = {
    "backfill": backfill,
    "live_tail": live_tail,
    "backfill_ds": backfill_ds,
}
