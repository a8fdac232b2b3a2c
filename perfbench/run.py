"""Ingest-to-view benchmark for pipeline_kinesis_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--scale <f>]

Run from the root of a checkout. The workloads are listed in
``perfbench/NOTES.md``. Each run starts its own Spark session
(``local[nproc]``), makes its inputs from ``--seed``, measures for
``--seconds`` and checks every answer. It prints two JSON lines:

- a report with every end-to-end metric the workload defines (null
  where one does not apply), the per-layer metrics of a traced run and
  the host stamps;
- last, the result: ``correct``, ``attempted``, ``failed`` and
  ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
  metrics with ``--trace 1``), each as ``{"value", "unit"}``.

Everything the run writes goes under ``.bench_build/perfbench`` of the
checkout. ``--scale`` shrinks the inputs for smoke tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit); every workload reports these with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("work_s", "s"),
    ("latency_ms", "ms"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
]

# the full metric set of the report line, per workload (null where one
# does not apply)
REPORT = [
    ("setup_s", "s"),
    ("ingest_rps", "1/s"),
    ("fresh_p50_ms", "ms"),
    ("fresh_p99_ms", "ms"),
    ("backlog_growth_rps", "1/s"),
    ("read_p50_ms", "ms"),
    ("read_p95_ms", "ms"),
    ("query_total_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("fail_ratio", "ratio"),
]

_ROLES = ("ingest_query", "deadletter_query", "view_query", "landing_query")
_QSTATS = (
    ("batches", "count"),
    ("rows_per_batch", "count"),
    ("addBatch_s", "s"),
    ("overhead_s", "s"),
    ("idle_s", "s"),
)

# (name, unit); every workload reports these with --trace 1 (0 where the
# workload does not exercise the layer)
PER_LAYER = (
    [
        ("kinesis.get_records_calls", "count"),
        ("kinesis.records_per_call", "count"),
        ("kinesis.empty_call_ratio", "ratio"),
        ("kinesis.get_records_s", "s"),
        ("pump.rounds", "count"),
        ("pump.spool_files", "count"),
        ("pump.records_per_file", "count"),
        ("spool.backlog_files", "count"),
        ("spool.files_per_batch", "count"),
    ]
    + [(f"{r}.{m}", u) for r in _ROLES for m, u in _QSTATS]
    + [
        ("view_query.state_rows", "count"),
        ("view_query.state_bytes", "B"),
        ("datasource.get_records_calls", "count"),
        ("datasource.records_per_call", "count"),
        ("datasource.server_busy_s", "s"),
        ("catalog.seqnum_writes", "count"),
        ("catalog.seqnum_write_s", "s"),
        ("view_table.calls", "count"),
        ("view_table.s", "s"),
        ("consume_begin.s", "s"),
        ("proc.driver_py_cpu_s", "s"),
        ("proc.jvm_cpu_s", "s"),
        ("proc.pyworker_cpu_s", "s"),
        ("gen.lag_ms_max", "ms"),
        ("gen.busy_s", "s"),
        ("e2e.backlog_growth_rps", "1/s"),
        ("e2e.fresh_p99_ms", "ms"),
        ("trace.work_s", "s"),
    ]
)


# A fixed, pre-touched driver heap: the JVM's resident size then does not
# depend on when its collector decides to grow the heap, so peak RSS
# moves only with memory held outside the heap (Python driver and
# workers, off-heap buffers, threads).
HEAP = "1g"


def _prepare_env(work: str) -> int:
    """Process environment for Spark; must run before pyspark is
    imported. Returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p]
    )
    return nproc


def _stamp() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            boot = f.read().strip()
    except OSError:
        boot = None
    return {"loadavg": load, "boot_id": boot}


def _start_spark(work: str):
    from pipeline_kinesis_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            # no hsperfdata file: it would go to /tmp, outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"
                " -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every batch's progress for the harvest
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait()


def _median(reps, key):
    vals = [r[key] for r in reps if r.get(key) is not None]
    return statistics.median(vals) if vals else None


def summarize(run, peak_rss) -> tuple[dict, dict]:
    """(report, end-to-end) metric values from the run's samples."""
    reps = run.reps
    fail_ratio = run.tally.failed / max(1, run.tally.attempted)
    report = {name: None for name, _ in REPORT}
    report["setup_s"] = statistics.median(run.setup_s) if run.setup_s else None
    report["cpu_s"] = run.cpu_s
    report["peak_rss_mb"] = peak_rss / 2**20
    report["fail_ratio"] = fail_ratio
    for k in ("ingest_rps", "fresh_p50_ms", "fresh_p99_ms", "read_p50_ms",
              "read_p95_ms", "backlog_growth_rps"):
        report[k] = _median(reps, k)
    e2e = {
        "setup_s": report["setup_s"],
        "work_s": _median(reps, "work_s"),
        "latency_ms": _median(reps, "fresh_mean_ms"),
        "cpu_s": report["cpu_s"],
        "peak_rss_mb": report["peak_rss_mb"],
    }
    return report, e2e


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pipeline_kinesis_spark")):
        print("perfbench: run from a checkout of pipeline_kinesis_spark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import probe
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-{os.getpid()}")
    nproc = _prepare_env(work)
    start = _stamp()
    proc = probe.ProcTree()
    t = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t
    proc.start()
    run = Run(spark, work, args.workload, args.seed, args.seconds,
              bool(args.trace), args.scale, proc)
    try:
        try:
            WORKLOADS[args.workload](run)
        except Exception as exc:  # noqa: BLE001 — counted, then reported
            import traceback

            traceback.print_exc()
            run.tally.record(False, f"raised {exc!r}")
        peak_rss = proc.peak_rss
    finally:
        proc.stop()
        if run.gen is not None:
            run.gen.close()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    report, e2e = summarize(run, peak_rss)
    layers = {}
    if args.trace:
        for name, _ in PER_LAYER:
            layers[name] = _median(run.reps, name) or 0.0
        layers["e2e.backlog_growth_rps"] = report["backlog_growth_rps"] or 0.0
        layers["e2e.fresh_p99_ms"] = report["fresh_p99_ms"] or 0.0
        layers["trace.work_s"] = e2e["work_s"] or 0.0
    correct = run.tally.failed == 0 and bool(run.reps)
    print(json.dumps({
        "report": {n: {"value": report[n], "unit": u} for n, u in REPORT},
        "layers": layers,
        "workload": args.workload,
        "seed": args.seed,
        "e2e": e2e,
        "reps": len(run.reps),
        "rep_work_s": [r["work_s"] for r in run.reps],
        "rep_cpu_s": [r["cpu_by_role"] for r in run.reps],
        "setup_samples": run.setup_s,
        "session_s": session_s,
        "errors": run.tally.errors[:5],
        "host": {"nproc": nproc, "loadavg_start": start["loadavg"],
                 "loadavg_end": _stamp()["loadavg"],
                 "boot_id": start["boot_id"]},
    }))
    chosen = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    metrics = {
        n: {"value": float(values[n]) if values[n] is not None else None,
            "unit": u}
        for n, u in chosen
    }
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.tally.attempted),
        "failed": run.tally.failed if run.tally.attempted else 1,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
