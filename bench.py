"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": <float>}
If that line would pass 1900 chars, "queries" is left out and the
"sidecar" field names the diagnostics file that carries it.

The driver runs this per-round and records BENCH_r{N}.json against
BASELINE.md. Each query is timed end-to-end (plan + execute + collect).

Variance hardening (round 4): each query is timed REPS times on the warm
JVM and the per-query MIN is reported. A single-sample bench on a shared
sandbox records scheduler noise as phantom regressions (BENCH_r03
recorded 1.4-2.7x inflation on untouched queries vs a clean rerun); min-
of-N is the standard remedy — the minimum is the best estimate of the
code's intrinsic cost because contention only ever adds time. The spread
(max/min per query) is emitted under "spread" so a contended run is
visible in the artifact instead of silently poisoning the headline.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pipeline_kinesis_spark import get_spark
from pipeline_kinesis_spark.registry import bench_queries
from pipeline_kinesis_spark.session import default_parallelism


def gates_main() -> None:
    """`python bench.py --gates` (VERDICT r07 #7): one-shot absolute
    cost of every CURRENT gate-window row at sf0.1 — the driver-window
    rows mostly default bench=False, so without this their costs live
    only in the scale probe's ratios. One JSON line, per-row seconds
    (min of 2 on a warm session). Not the headline set; quote into
    BENCH_NOTES."""
    from pipeline_kinesis_spark import registry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    calib = {**_cpu_calibration(), **_parallel_calibration()}
    spark = get_spark("bench-gates")
    fns = registry.query_fns()
    warm_dir = "/root/testdata/sf0.001"
    timings: dict[str, float] = {}
    for name in registry._PRIORITY:
        try:
            fns[name](spark, warm_dir).collect()
        except Exception:  # noqa: BLE001 — warmup only
            pass
        samples = []
        for _ in range(2):
            t0 = time.time()
            fns[name](spark, sf_dir).collect()
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 3)
    try:
        loadavg = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg = None
    print(
        json.dumps(
            {
                "metric": "gate_window_rows_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": float(m.group(1)) if m else -1.0,
                "n_queries": len(timings),
                "queries": timings,
                "loadavg": loadavg,
                **calib,
            }
        )
    )


def _cpu_calibration() -> dict:
    """Fixed-work single-thread host-speed probe (VERDICT r12 "next
    round" #3): run immediately before the bench, its wall stamped into
    the artifact as calib_s so cross-round deltas normalize by MEASURED
    host speed instead of being inferred from prior-tree A/B reruns
    (r12's canonical artifact read 1.21x r11 purely from co-tenant
    load; the unchanged r11 tree benched 2.6x its recorded number on
    the same box). Three single-threaded components, ~2 s nominal on a
    quiet host: a SHA-256 stream (~1 GiB; crypto/SIMD core speed), a
    pure-Python integer loop (interpreter speed — the driver-side
    overhead bench queries pay), and seeded numpy sorts (memory/cache
    bandwidth). All fixed-work and seeded; calib_digest must be
    identical on every host/run — a changed digest means the probe
    itself changed and calib_s is not comparable.

    calib_s is the per-component MIN of two passes: the probe exists to
    measure the host's intrinsic speed, and contention only ever adds
    time (the same min-of-N argument as the bench's own timings —
    observed 2.2 s vs 1.3 s for back-to-back passes on a loaded host)."""
    import hashlib

    import numpy as np

    def one_pass() -> tuple[float, float, float, str]:
        t0 = time.perf_counter()
        h = hashlib.sha256(b"pks-calib")
        buf = h.digest() * 8192  # 256 KiB
        for _ in range(4000):
            h.update(buf)
        hash_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        acc = 0
        for i in range(3_000_000):
            acc = (acc + i * i) & 0xFFFFFFFF
        py_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        rng = np.random.default_rng(13)
        x = rng.random(1_000_000)
        for _ in range(5):
            np.sort(x)
        np_s = time.perf_counter() - t0

        h.update(str(acc).encode())
        return hash_s, py_s, np_s, h.hexdigest()[:12]

    a, b = one_pass(), one_pass()
    # A digest mismatch means the probe itself misbehaved and calib_s
    # is not cross-comparable — record that fact IN the artifact and
    # keep benching (ADVICE r13 #4: the old assert both vanished under
    # python -O and, had it fired, aborted the whole run — the
    # opposite of making artifacts self-describing).
    deterministic = a[3] == b[3]
    if not deterministic:
        print(
            f"WARNING: calibration digests differ ({a[3]} vs {b[3]}) — "
            "calib_s stamped non-comparable",
            file=sys.stderr,
        )
    hash_s, py_s, np_s = (min(x, y) for x, y in zip(a[:3], b[:3]))
    return {
        "calib_s": round(hash_s + py_s + np_s, 3),
        "calib_components": {
            "sha256_s": round(hash_s, 3),
            "python_loop_s": round(py_s, 3),
            "numpy_sort_s": round(np_s, 3),
        },
        "calib_digest": a[3] if deterministic else None,
        "calib_digests_raw": [a[3], b[3]],
        "calib_deterministic": deterministic,
    }


# Canonical quiet-host calibration figure (VERDICT r13 "next round"
# #3/#4): the r13 round's quiet same-box probes read 1.147-1.318 s;
# 1.147 is the canonical quiet envelope. total_normalized_s in the
# artifact is total_raw_s x (CALIB_REF_S / calib_s), so a contended
# driver run (r13's probe read 1.749 on a loadavg-0.07 host) can never
# masquerade as a code regression. Only comparable while calib_digest
# stays CALIB_REF_DIGEST — normalization is now GATED on that match
# (ADVICE r14 #3: a numpy/platform change yields a different-but-
# deterministic digest and a silently incomparable normalized
# headline).
CALIB_REF_S = 1.147
CALIB_REF_DIGEST = "c5a4b1d81937"

# Canonical quiet figure for the PARALLEL probe (VERDICT r14 #1: the
# 1.2 s single-thread probe admitted the r14 driver run as near-quiet
# while the 32-way ingest measured 36.5k rec/s vs 65.5k on the quiet
# close sample — a momentary single-thread probe can't see co-tenant
# load that steals CORES from parallel stages). 32 PROCESSES x ~600 MiB
# SHA-256 each; wall prices the box's usable parallel capacity.
#
# r15 measurement-bug fix (recorded in OPTIMIZATION_r15.md): the probe
# originally ran 32 THREADS in the bench process, relying on hashlib
# releasing the GIL per >2 KiB update. Measured on a PROVABLY idle host
# (/proc/stat across the probe: 81 cpu-s idle, 0.2 cpu-s steal), the
# thread form read 3.0-4.2 s against its 0.30 s quiet reference while
# the identical work in 32 processes completed in 0.47 s wall — the
# threads were sleeping on GIL handoff between updates (convoy), so the
# probe measured the interpreter's lock scheduling, not the box, and
# deadlocked the admission gate into a permanent "contended" verdict.
# Worker processes have no shared lock; the wall now tracks cores.
# Quiet same-box process probes read ~0.95-1.1 s (launch ~0.3 s +
# 600 MiB hashed per worker), with intermittent same-box periods of
# ~1.4-2.2 s — the fluctuating parallel capacity the probe exists to
# see. pcalib-derived fields are only comparable while pcalib_digest
# stays PCALIB_REF_DIGEST.
PCALIB_REF_S = 1.0
PCALIB_REF_DIGEST = "cf1afee8e7d8"
PCALIB_WORKERS = 32
# per-worker payload: 2400 updates x 256 KiB = 600 MiB; big enough that
# the ~40 ms interpreter startup per worker is noise, small enough that
# one probe pass stays ~0.6 s on a quiet 32-core box
_PCALIB_CHILD = (
    "import hashlib,sys\n"
    "h=hashlib.sha256(('pks-pcalib-'+sys.argv[1]).encode())\n"
    "buf=h.digest()*8192\n"
    "for _ in range(2400): h.update(buf)\n"
    "print(h.hexdigest())\n"
)


def _parallel_calibration(passes: int = 2) -> dict:
    """Fixed-work PARALLEL host-speed probe (VERDICT r14 #1): 32
    worker processes each SHA-256 a 256 KiB buffer 2400 times. Wall
    measures the box's usable parallel capacity — exactly what the
    single-thread probe misses when a co-tenant steals cores but
    leaves one quiet. Worker count is FIXED at 32 (not cpu_count) so
    pcalib_digest — the order-combined digest of every worker's
    output — is deterministic across hosts; wall varies with cores,
    which is the point. Min-of-N passes, same rationale as calib_s."""
    import hashlib
    import subprocess

    def one_pass() -> tuple[float, str]:
        t0 = time.perf_counter()
        procs = [
            subprocess.Popen(
                # -I -S: isolated, no site imports — minimal startup so
                # the wall is hashing, not interpreter boot
                [sys.executable, "-I", "-S", "-c", _PCALIB_CHILD, str(i)],
                stdout=subprocess.PIPE,
            )
            for i in range(PCALIB_WORKERS)
        ]
        outs = [p.communicate()[0].decode().strip() for p in procs]
        wall = time.perf_counter() - t0
        digest = hashlib.sha256("".join(outs).encode()).hexdigest()[:12]
        return wall, digest

    results = [one_pass() for _ in range(max(passes, 1))]
    digests = [d for _, d in results]
    deterministic = len(set(digests)) == 1
    if not deterministic:
        print(
            f"WARNING: parallel calibration digests differ {digests} — "
            "pcalib_s stamped non-comparable",
            file=sys.stderr,
        )
    return {
        "pcalib_s": round(min(w for w, _ in results), 3),
        "pcalib_workers": PCALIB_WORKERS,
        "pcalib_digest": digests[0] if deterministic else None,
        "pcalib_deterministic": deterministic,
    }


def _calib_gated_start(max_wait_s: float) -> tuple[dict, float, bool]:
    """Run BOTH calibration probes BEFORE the suite and use them as the
    admission check (VERDICT r13 #4 + r14 #1: r13's artifact read
    contended_start=false from a 0.07 loadavg yet calibrated 1.5x slow
    — co-tenant steal doesn't show in this box's loadavg; r14's
    SINGLE-THREAD probe then admitted at 1.197 while parallel stages
    ran ~1.8x slow — core steal doesn't show in a 1-thread probe
    either). Admission requires calib_s <= 1.25x its quiet ref AND
    pcalib_s <= 1.35x its quiet ref (the parallel probe has more
    run-to-run variance); otherwise wait and re-probe until quiet or
    the budget runs out.

    Returns (calib dict, seconds waited, still-contended?). The dict
    stamps BOTH the best probes seen during the wait (the intrinsic-
    speed estimate normalization uses, min-of-N rationale) and the
    FINAL probes taken immediately before admission (ADVICE r14 #4:
    the suite starts after the LAST probe — if contention returned
    between best and last, the final probe is the one reflecting
    conditions at suite start; a best/final gap is itself a
    contention marker)."""

    def probe() -> dict:
        return {**_cpu_calibration(), **_parallel_calibration()}

    def contended(p: dict) -> bool:
        return (
            p["calib_s"] > 1.25 * CALIB_REF_S
            or p["pcalib_s"] > 1.35 * PCALIB_REF_S
        )

    waited = 0.0
    final = probe()
    best = final
    while contended(final) and waited < max_wait_s:
        print(
            f"bench: calib_s {final['calib_s']:.3f} (gate "
            f"{1.25 * CALIB_REF_S:.3f}) / pcalib_s "
            f"{final['pcalib_s']:.3f} (gate "
            f"{1.35 * PCALIB_REF_S:.3f}) — host is contended; "
            f"re-probing ({max_wait_s - waited:.0f}s budget left)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15
        final = probe()
        if final["calib_s"] + final["pcalib_s"] < (
            best["calib_s"] + best["pcalib_s"]
        ):
            best = final
    out = dict(best)
    out["calib_final_s"] = final["calib_s"]
    out["pcalib_final_s"] = final["pcalib_s"]
    return out, waited, contended(final)


def _wait_for_quiet_host(max_wait_s: float) -> float:
    """Sleep-poll (bounded) until 1-min load < 1.5 AND 5-min load
    < 2.5, so the canonical driver-stamped artifact is the quiet-host
    envelope instead of a contended sample needing side-file forensics
    (VERDICT r09 #1: BENCH_r09.json recorded 21.65 s at loadavg 4.3
    while the round's real envelope, 15.97 s, lived in a side file;
    VERDICT r11 #1: gating on 1-min only let BENCH_r11.json sample a
    just-drained host — loadavg_start [1.3, 4.85, 4.51] — whose
    cache/turbo state carried ~4% noise vs the quiet close samples).
    Returns seconds actually waited. Poll at 15 s — the 1-min loadavg
    halves roughly every minute after a battery drains, so finer
    polling buys nothing. Opt out with SPARK_GRAFT_BENCH_QUIET_WAIT_S=0
    (e.g. when intentionally sampling a contended host)."""
    deadline = time.time() + max_wait_s
    waited = 0.0
    while time.time() < deadline:
        try:
            load1, load5, _ = os.getloadavg()
        except OSError:
            return waited
        if load1 < 1.5 and load5 < 2.5:
            return waited
        print(
            f"bench: load {load1:.2f}/1min {load5:.2f}/5min above the"
            f" quiet gate (1.5/2.5) — waiting for the host to drain"
            f" ({deadline - time.time():.0f}s budget left)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15
    return waited


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # Make the stamped artifact the quiet-host envelope: if the host is
    # still draining a prior battery, wait it out (bounded) BEFORE
    # sampling loadavg_start.
    quiet_wait_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT_S", "600")
    )
    quiet_waited = (
        _wait_for_quiet_host(quiet_wait_budget) if quiet_wait_budget > 0
        else 0.0
    )
    # Sample host load BEFORE Spark starts: a 1-min load > ~3 at start
    # means something else (a test battery, a prior bench) is still
    # draining and every number below will inflate uniformly — stamp
    # the artifact as contended so a reader never has to do prose
    # forensics (BENCH_r06 26.96 s and BENCH_r08 18.30 s were exactly
    # such samples).
    try:
        loadavg_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg_start = None
    # Admission is gated on the calibration PROBE, not loadavg (VERDICT
    # r13 #4): this box's loadavg misses co-tenant steal (r13 read 0.07
    # while calibrating 1.5x slow). Re-probe until quiet or budget out.
    calib, calib_waited, calib_contended = _calib_gated_start(
        max(quiet_wait_budget - quiet_waited, 0.0)
    )
    quiet_waited += calib_waited
    contended = (
        calib_contended
        or (bool(loadavg_start) and loadavg_start[0] > 3.0)
    )
    if contended:
        print(
            f"WARNING: host still contended at bench start (calib_s "
            f"{calib['calib_s']}, 1-min load "
            f"{loadavg_start[0] if loadavg_start else 'n/a'}) after "
            f"waiting {quiet_waited:.0f}s — sample stamped "
            "contended_start; total_normalized_s remains comparable",
            file=sys.stderr,
        )
    spark = get_spark("bench")

    # Warm the JVM (JIT, codegen caches, parquet reader init) by running
    # the same query shapes at the smallest SF — measured numbers then
    # reflect steady-state engine cost, not first-touch class loading.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for _, spec in sorted(bench_queries().items()):
            try:
                (spec.bench_fn or spec.fn)(spark, warm_dir).collect()
            except Exception:  # noqa: BLE001 — warmup only
                pass

    reps = max(int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")), 1)
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    total_rows = 0
    for name, spec in sorted(bench_queries().items()):
        samples = []
        for rep in range(reps):
            t0 = time.time()
            rows = (spec.bench_fn or spec.fn)(spark, sf_dir).collect()
            samples.append(time.time() - t0)
            if rep == 0:
                total_rows += len(rows)
        timings[name] = round(min(samples), 3)
        spreads[name] = round(max(samples) / max(min(samples), 1e-9), 2)

    # Ingest stat semantics (r11, VERDICT r10 "what's wrong" #2): the
    # single cold shot is dominated by JVM/JIT warmup and varies ~2x
    # run-to-run (11-74k observed across quiet boots) — useless for
    # round-over-round comparison. The HEADLINE is now the median of
    # three same-session warm shots (the steady-state data path a
    # long-running deployment sees, reproducible within ~10%); the
    # first/cold shot is kept as an informational field.
    #
    # r15 (VERDICT r14 #1/#7): each shot self-labels with host stamps —
    # pre-shot parallel mini-probe, loadavg, and the JVM's involuntary
    # context-switch delta across the shot — so a contended shot is
    # machine-visible in the artifact (r14's driver run read 36.5k
    # while the quiet close sample read 65.5k; the discrepancy was
    # measurement, and the artifact couldn't prove it). The
    # calib-normalized warm median (rate x pre-shot slowdown) and the
    # best warm shot are stamped alongside; ingest_contended marks any
    # warm shot whose pre-probe exceeded the admission gate.
    first_shot = _ingest_shot(spark)
    shot_stats = [_ingest_shot(spark) for _ in range(3)]
    ingest_rps_first = first_shot["rps"]
    warm_shots = sorted(s["rps"] for s in shot_stats)
    ingest_rps_warm = warm_shots[1]
    ingest_rps_best = warm_shots[-1]
    norm_shots = sorted(
        s["rps_norm"] for s in shot_stats if s["rps_norm"] is not None
    )
    # median of the mild-regime normalized shots; null when every shot
    # was too contended for a linear correction to be honest
    ingest_rps_warm_norm = (
        norm_shots[len(norm_shots) // 2] if norm_shots else None
    )
    ingest_contended = any(
        s["pcalib_pre_s"] > 1.35 * PCALIB_REF_S for s in shot_stats
    )

    # Host-state provenance: bench numbers are only comparable within
    # one VM boot, and a sample taken on a loaded host (e.g. minutes
    # after a test battery) inflates uniformly — BENCH_r06's 26.96 s
    # headline was exactly that. Recording boot_id + loadavg in the
    # artifact makes a contaminated sample machine-visible instead of
    # needing prose forensics in BENCH_NOTES.md.
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            boot_id = f.read().strip()
    except OSError:
        boot_id = None
    try:
        loadavg = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg = None

    total_raw = round(sum(timings.values()), 3)
    # Host-normalized headline (VERDICT r13 #3): raw wall x the
    # measured host factor vs the canonical quiet box. Divide-compare
    # total_normalized_s across rounds; total_raw_s is this host, this
    # moment. GATED on calib_digest matching the canonical digest
    # CALIB_REF_S was measured under (ADVICE r14 #3: a numpy/platform
    # change yields a different-but-deterministic digest and a
    # silently incomparable normalized headline) — calib_comparable
    # says whether the gate held.
    calib_comparable = calib.get("calib_digest") == CALIB_REF_DIGEST
    norm = (
        round(total_raw * CALIB_REF_S / calib["calib_s"], 3)
        if calib_comparable and calib["calib_s"] > 0
        else None
    )
    # Schema v5 (VERDICT r15 #1): the one-line artifact had grown to
    # ~3.3 KB while the driver archives only the LAST 2000 chars of
    # stdout — BENCH_r14.json's stored tail starts mid-line, so the
    # r15 driver could not re-parse it and PERF_r15 lost its whole
    # per-query comparison (prev_bench_ok=false, null geomean). The
    # headline line printed below is now COMPACT (< ~1.5 KB: the
    # driver-contract fields metric/value/unit/queries/sf plus the few
    # scalars a cross-round comparison needs) so the full line always
    # survives a 2000-char tail capture; every v4 diagnostic field
    # (spread map, per-shot ingest stats, probe components, host
    # provenance) moves UNCHANGED to the sidecar written next to this
    # file (BENCH_DIAGNOSTICS_c<cpus>.json, committed at round close). Timing
    # methodology, query set and the env contract are untouched.
    # core-count-qualified sidecar name: the driver benches the same
    # tree at two core counts back to back in this directory — a fixed
    # name would leave only the LAST run's diagnostics on disk.
    sidecar_name = f"BENCH_DIAGNOSTICS_c{default_parallelism()}.json"
    headline = {
        "metric": "headline_queries_total_wall",
        "value": total_raw,
        "unit": "sec",
        "total_raw_s": total_raw,
        "calib_ref_s": CALIB_REF_S,
        "total_normalized_s": norm,
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "total_result_rows": total_rows,
        "reps": reps,
        # reference envelope: ~4,000 records/s/shard (BASELINE.md).
        # Since r11 the headline ingest stat IS the warm median-of-3;
        # cold shot + per-shot host stamps live in the sidecar.
        "ingest_records_per_s": ingest_rps_warm,
        "bench_schema_version": 5,
        "calib_s": calib["calib_s"],
        "calib_comparable": calib_comparable,
        "pcalib_s": calib["pcalib_s"],
        "pcalib_ref_s": PCALIB_REF_S,
        "contended_start": contended,
        "sidecar": sidecar_name,
    }
    diagnostics = {
        **headline,
        # min-of-N timing: per-query max/min sample ratio; a query
        # with spread >1.5 hit sandbox contention on one sample and
        # the min is the trustworthy number.
        "spread": spreads,
        "ingest_records_per_s_warm_median": ingest_rps_warm,
        "ingest_records_per_s_warm": ingest_rps_warm,
        "ingest_records_per_s_first": ingest_rps_first,
        "ingest_warm_shots": warm_shots,
        # r15 trust fields (VERDICT r14 #1/#7): best warm shot
        # (min-of-N logic — contention only subtracts throughput),
        # calib-normalized warm median (per-shot rate x its pre-shot
        # parallel slowdown, median of 3; compare THIS across rounds
        # when ingest_contended), and the per-shot host stamps that
        # let a reader see which shot was stolen from.
        "ingest_records_per_s_best": ingest_rps_best,
        "ingest_records_per_s_warm_norm": ingest_rps_warm_norm,
        "ingest_contended": ingest_contended,
        "ingest_shot_stats": shot_stats,
        "ingest_first_shot_stats": first_shot,
        "ingest_stat_semantics": (
            "headline = median of 3 same-session warm shots "
            "(since r11); _first = single JVM-cold shot, "
            "informational (r01-r10 artifacts reported the "
            "cold shot under the headline key); _best / "
            "_warm_norm / ingest_shot_stats since r15 "
            "(per-shot host stamps + parallel-probe "
            "normalization); since v5 (r16) these live in the "
            "sidecar, the stdout line keeps the warm median only"
        ),
        # schema v2 (ADVICE r11 #3): r11 ingest stat semantics change
        # (cold single-shot -> warm median-of-3); v3 (r14): calib-GATED
        # start + total_raw_s / total_normalized_s / calib_ref_s keys
        # ("value" stays the raw total for cross-round field
        # compatibility); v4 (r15): parallel calibration probe
        # (pcalib_*), best+final probe stamps, digest-gated
        # normalization (calib_comparable), per-shot ingest host
        # stamps; v5 (r16): compact stdout line + this sidecar — every
        # v4 field is still here, none changed meaning.
        # provenance: numbers comparable only within one boot; loadavg
        # (1/5/15 min, sampled at END of run) >~2 means a contended
        # host inflated the samples; loadavg_start = load BEFORE Spark
        # started; quiet_wait_s = seconds spent waiting for the host
        # to drain before sampling.
        "boot_id": boot_id,
        "loadavg": loadavg,
        "loadavg_start": loadavg_start,
        "quiet_wait_s": round(quiet_waited, 1),
        **calib,
    }
    sidecar_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), sidecar_name
    )
    try:
        with open(sidecar_path, "w") as f:
            json.dump(diagnostics, f, indent=1)
            f.write("\n")
    except OSError as e:  # diagnostics are best-effort; the line is not
        print(f"WARNING: could not write sidecar: {e}", file=sys.stderr)
        headline["sidecar"] = None
    line = json.dumps(headline)
    if len(line) > 1900:
        # the whole point of v5 — never exceed the driver's 2000-char
        # tail capture. The per-query map is what grows with the query
        # count, so the fallback drops it and points at the sidecar,
        # which carries every headline field including the map.
        print(
            f"WARNING: headline line {len(line)} chars > 1900; "
            "falling back to total-only fields (per-query timings are "
            "in the sidecar)",
            file=sys.stderr,
        )
        line = json.dumps(
            {
                k: headline[k]
                for k in ("metric", "value", "unit", "sf", "n_queries", "sidecar")
            }
        )
        if len(line) > 1900:
            print(
                f"WARNING: fallback headline line still {len(line)} "
                "chars > 1900",
                file=sys.stderr,
            )
    print(line)


def _jvm_invol_ctx_switches() -> int | None:
    """Sum of nonvoluntary_ctxt_switches across this process's direct
    java children (local mode: the one Spark JVM). A large delta
    across an ingest shot means the scheduler was preempting the
    executor threads — core steal the shot's wall-clock paid for."""
    me = os.getpid()
    total, found = 0, False
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return None
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
            comm = st[st.index("(") + 1 : st.rindex(")")]
            ppid = int(st[st.rindex(")") + 2 :].split()[1])
            if ppid != me or comm != "java":
                continue
            # /proc/<pid>/status counts the MAIN thread only; the
            # executor threads live under task/ — sum all of them
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    with open(f"/proc/{pid}/task/{tid}/status") as f:
                        for line in f:
                            if line.startswith(
                                "nonvoluntary_ctxt_switches"
                            ):
                                total += int(line.split()[1])
                                found = True
                except (OSError, ValueError):
                    continue
        except (OSError, ValueError, IndexError):
            continue
    return total if found else None


def _ingest_shot(spark) -> dict:
    """One ingest-throughput shot with host self-labeling (VERDICT r14
    #7): a single-pass parallel mini-probe immediately before the shot,
    loadavg, and the JVM's involuntary context-switch delta across the
    shot. rps_norm = rps x the pre-shot slowdown factor (clamped >= 1)
    — the quiet-host estimate of the same shot."""
    pre = _parallel_calibration(passes=1)
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = None
    ctx0 = _jvm_invol_ctx_switches()
    rps = _ingest_throughput(spark)
    ctx1 = _jvm_invol_ctx_switches()
    slowdown = max(1.0, pre["pcalib_s"] / PCALIB_REF_S)
    # Linear rate correction is only trustworthy in the MILD regime:
    # ingest isn't perfectly CPU-bound, so at heavy steal a straight
    # rps x slowdown overstates wildly (observed 22.5k x 5.9 = "133k"
    # on a loadavg-4 host whose true quiet rate is ~65k). Beyond 1.5x
    # the shot stamps rps_norm null and relies on the contended flag +
    # best-shot stat instead of inventing a number.
    norm_ok = rps > 0 and slowdown <= 1.5
    return {
        "rps": rps,
        "rps_norm": round(rps * slowdown, 1) if norm_ok else None,
        "pcalib_pre_s": pre["pcalib_s"],
        "loadavg_pre": load,
        "jvm_invol_ctx_delta": (
            ctx1 - ctx0 if ctx0 is not None and ctx1 is not None
            else None
        ),
    }


def _ingest_throughput(spark, n_records: int = 100_000) -> float:
    """End-to-end engine ingest rate: produce → consume (parse +
    arrival_timestamp + exactly-once parquet archive) → queryable, the
    path BASELINE.md's ~4k records/s/shard ceiling describes."""
    import shutil
    import tempfile

    from pipeline_kinesis_spark.engine import Engine
    from pipeline_kinesis_spark.sources.file_replay import write_record_file

    wd = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        per_file = 10_000
        for i in range(n_records // per_file):
            write_record_file(
                os.path.join(wd, "src", "s"),
                [
                    {"data": f"k{j % 97}\t{j}"}
                    for j in range(i * per_file, (i + 1) * per_file)
                ],
            )
        # Throughput-tuned polling: the default 500 ms trigger interval
        # is a latency/CPU tradeoff for standing consumers; a throughput
        # benchmark (like a backfill) polls tightly so wall-clock measures
        # the data path, not inter-batch idle waits.
        eng = Engine(
            spark,
            metadata_dir=os.path.join(wd, "meta"),
            trigger_interval="50 milliseconds",
        )
        eng.add_endpoint("bench_ep", url=os.path.join(wd, "src"))
        eng.create_stream("bench_stream", "k STRING, v BIGINT")
        t0 = time.time()
        eng.consume_begin(
            "bench_ep", "s", "bench_stream", parallelism=8
        )
        eng.wait_for_ingest(timeout_s=300)
        n = eng.stream_table("bench_stream").count()
        dt = time.time() - t0
        eng.consume_end_all()
        if n != n_records:
            return -1.0  # signal a completeness problem, not a rate
        return round(n / dt, 1)
    finally:
        shutil.rmtree(wd, ignore_errors=True)


if __name__ == "__main__":
    if "--gates" in sys.argv[1:]:
        gates_main()
    else:
        main()
