"""Outside-in measurement: the process tree's CPU and memory from /proc,
timing wrappers around public calls, and standing-query progress.

Nothing here reaches into the engine: spans time calls the benchmark
makes (or hands to the engine, like an injected Kinesis client), and
per-query numbers come from Spark's public ``recentProgress``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int):
    """(name, ppid, cpu_s incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    name = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (field 3); utime..cstime are fields 14-17
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return name, int(fields[1]), cpu


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (forked Python workers share
    most of theirs) are split between the processes that map them, so
    the sum over a tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _role(name: str, ancestors: list[str]) -> str:
    if name == "java":
        return "jvm"
    if "java" in ancestors:
        return "pyworker"
    return "driver_py"


class ProcTree:
    """This process and its descendants, minus the subtrees of
    ``exclude`` (the load generator). ``sample()`` returns CPU seconds
    per role (driver_py / jvm / pyworker) and the tree's proportional
    set size; a background thread keeps the peak between ``reset_peak``
    calls."""

    def __init__(self, interval_s: float = 0.1):
        self.root = os.getpid()
        self.exclude: set[int] = set()
        self.peak_rss = 0
        self._interval = interval_s
        self._halt = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self, memory: bool = False) -> tuple[dict[str, float], int]:
        """(CPU seconds per role, PSS bytes of the tree if ``memory``)."""
        stats = {}
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _read_stat(int(d))
                if st is not None:
                    stats[int(d)] = st
                    children[st[1]].append(int(d))
        cpu: dict[str, float] = defaultdict(float)
        rss = 0
        stack = [(self.root, [])]
        while stack:
            pid, anc = stack.pop()
            if pid in self.exclude or pid not in stats:
                continue
            name, _, c = stats[pid]
            cpu[_role(name, anc)] += c
            if memory:
                rss += _pss_bytes(pid)
            stack.extend((k, anc + [name]) for k in children[pid])
        return dict(cpu), rss

    def _run(self) -> None:
        while not self._halt.wait(self._interval):
            _, rss = self.sample(memory=True)
            with self._lock:
                self.peak_rss = max(self.peak_rss, rss)

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = self.sample(memory=True)[1]

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._halt.set()
        self._thread.join(timeout=5)


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b.get(k, 0.0) - a.get(k, 0.0) for k in set(a) | set(b)}


class Tracer:
    """Spans and counts recorded by the benchmark's own wrappers.

    A span is (name, start, end, parent); self time is a span's duration
    minus the part covered by its child spans. Spans stay in memory."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._stack = threading.local()

    def wrap(self, name: str, fn, count=None):
        """``fn`` with every call recorded as span ``name``; ``count``
        maps the call's result to extra counts to add."""

        def traced(*a, **kw):
            stack = getattr(self._stack, "ids", None)
            if stack is None:
                stack = self._stack.ids = []
            parent = stack[-1] if stack else None
            with self._lock:
                sid = len(self.spans)
                self.spans.append((name, 0.0, 0.0, parent))
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with self._lock:
                    self.spans[sid] = (name, t0, t1, parent)
            if count is not None:
                for k, v in count(out).items():
                    with self._lock:
                        self.counts[k] += v
            return out

        return traced

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds and self seconds."""
        child_s: dict[int, float] = defaultdict(float)
        for name, t0, t1, parent in self.spans:
            if parent is not None:
                child_s[parent] += t1 - t0
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0}
        )
        for sid, (name, t0, t1, _) in enumerate(self.spans):
            o = out[name]
            o["calls"] += 1
            o["s"] += t1 - t0
            o["self_s"] += t1 - t0 - child_s[sid]
        return dict(out)


class ClientProxy:
    """A Kinesis client whose ``get_records`` is traced; everything else
    passes through."""

    def __init__(self, client, tracer: Tracer, prefix: str = "kinesis"):
        self._client = client
        self.get_records = tracer.wrap(
            f"{prefix}.get_records",
            client.get_records,
            lambda out: {
                f"{prefix}.records": len(out["Records"]),
                f"{prefix}.empty_calls": 0 if out["Records"] else 1,
            },
        )

    def __getattr__(self, name):
        return getattr(self._client, name)


_OVERHEAD_KEYS = (
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
)


def query_role(name: str | None, view: str) -> str | None:
    """Which standing query a Spark query name belongs to."""
    name = name or ""
    if name == view:
        return "view_query"
    for prefix, role in (
        ("ingest_", "ingest_query"),
        ("deadletter_", "deadletter_query"),
        ("kds_landing_", "landing_query"),
    ):
        if name.startswith(prefix):
            return role
    return None


def harvest_progress(queries, view: str, wall_s: float) -> dict[str, float]:
    """Per-role batch counts and durationMs splits from recentProgress.

    ``<role>.idle_s`` is the wall of the timed region minus the summed
    triggerExecution of the role's batches."""
    out: dict[str, float] = {}
    for q in queries:
        role = query_role(q.name, view)
        if role is None:
            continue
        progress = list(q.recentProgress)
        batches = [p for p in progress if p.get("numInputRows", 0) > 0]
        dur = [p.get("durationMs", {}) for p in progress]
        trig = sum(d.get("triggerExecution", 0) for d in dur) / 1000.0
        out[f"{role}.batches"] = len(batches)
        out[f"{role}.rows_per_batch"] = (
            statistics.fmean(p["numInputRows"] for p in batches)
            if batches
            else 0.0
        )
        out[f"{role}.addBatch_s"] = (
            sum(d.get("addBatch", 0) for d in dur) / 1000.0
        )
        out[f"{role}.overhead_s"] = (
            sum(d.get(k, 0) for d in dur for k in _OVERHEAD_KEYS) / 1000.0
        )
        out[f"{role}.idle_s"] = max(0.0, wall_s - trig)
        if role == "view_query" and progress:
            ops = progress[-1].get("stateOperators") or [{}]
            out["view_query.state_rows"] = ops[0].get("numRowsTotal", 0)
            out["view_query.state_bytes"] = ops[0].get("memoryUsedBytes", 0)
    return out


def count_admitted_files(source_log: str) -> int:
    """Files a file-source query has admitted, from its checkpoint's
    source log (Spark's on-disk format: batch files and ``.compact``
    files of JSON lines after a version line)."""
    try:
        names = os.listdir(source_log)
    except OSError:
        return 0
    compact = [int(n.split(".")[0]) for n in names if n.endswith(".compact")]
    floor = max(compact) if compact else -1
    n = 0
    for name in names:
        stem = name.split(".")[0]
        if not stem.isdigit() or name.endswith(".tmp"):
            continue
        b = int(stem)
        if (name.endswith(".compact") and b == floor) or (
            "." not in name and b > floor
        ):
            try:
                with open(os.path.join(source_log, name)) as f:
                    n += sum(1 for line in f if line.startswith("{"))
            except OSError:
                pass
    return n
