"""Tests of the benchmark itself. From the root of a checkout:

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark once per workload (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import probe  # noqa: E402
from perfbench import run as bench  # noqa: E402
from perfbench import workloads  # noqa: E402
from perfbench.gen import N_KEYS, Inputs, check_view, key_shards  # noqa: E402


def _bench(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_same_seed_same_input_digest():
    assert Inputs(7, 5000).digest() == Inputs(7, 5000).digest()
    assert Inputs(7, 5000).digest() != Inputs(8, 5000).digest()
    paced = Inputs(7, 500, rate=200.0)
    assert paced.digest() == Inputs(7, 500, rate=200.0).digest()
    assert paced.ts_ms[-1] == int(499 * 1000 / 200)


def test_expected_answer_and_shards_agree_with_payloads():
    inp = Inputs(3, 3000)
    want: dict[str, list[int]] = {}
    for j in range(inp.n):
        k, v, _ = inp.payload(j).decode().split(",")
        c = want.setdefault(k, [0, 0])
        c[0] += 1
        c[1] += int(v)
    assert inp.expected() == {k: tuple(c) for k, c in want.items()}
    shards = inp.by_shard(4)
    assert sum(len(r) for r in shards.values()) == inp.n
    owner = key_shards(4)
    for i, sid in enumerate(sorted(shards)):
        assert all(owner[int(r.split(b",")[0][1:])] == i for r in shards[sid])


def test_freshness_reads_per_key_ranks():
    inp = Inputs(11, 400)
    half = inp.counts // 2
    counts = np.stack([np.zeros(N_KEYS, int), half, inp.counts])
    due = np.zeros(inp.n)
    fresh = workloads.freshness_ms([1.0, 2.0, 3.0], counts, inp, due)
    want = np.where(inp.rank <= half[inp.keys], 2000.0, 3000.0)
    assert np.array_equal(fresh, want)
    # a record no poll has shown yet has no freshness
    fresh = workloads.freshness_ms([1.0, 2.0], counts[:2], inp, due)
    assert np.isnan(fresh[inp.rank > half[inp.keys]]).all()


def test_check_view_rejects_a_wrong_answer():
    exp = Inputs(5, 2000).expected()
    rows = [{"k": k, "n": n, "total": t} for k, (n, t) in exp.items()]
    assert check_view(rows, exp)
    wrong = dict(exp)
    k = next(iter(wrong))
    wrong[k] = (wrong[k][0], wrong[k][1] + 1)
    assert not check_view(rows, wrong)
    assert not check_view(rows[1:], exp)


def test_count_admitted_files(tmp_path):
    def log(name, n):
        lines = ["v1"] + [json.dumps({"path": f"f{i}"}) for i in range(n)]
        (tmp_path / name).write_text("\n".join(lines) + "\n")

    log("0", 1)
    log("1", 2)
    log("2.compact", 3)  # batches 0..2 compacted
    log("3", 4)
    (tmp_path / "4.tmp").write_text("v1\n{}\n")
    assert probe.count_admitted_files(str(tmp_path)) == 7


def test_tracer_self_time():
    tr = probe.Tracer()
    inner = tr.wrap("inner", lambda: sum(range(10000)))
    outer = tr.wrap("outer", lambda: [inner() for _ in range(3)])
    outer()
    tot = tr.totals()
    assert tot["inner"]["calls"] == 3 and tot["outer"]["calls"] == 1
    assert tot["outer"]["self_s"] == pytest.approx(
        tot["outer"]["s"] - tot["inner"]["s"]
    )


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        bench.END_TO_END
    )
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        bench.PER_LAYER
    )
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_wrong_expected_answer_raises_fail_ratio(monkeypatch, capsys):
    class WrongInputs(Inputs):
        def expected(self):
            exp = super().expected()
            k = next(iter(exp))
            exp[k] = (exp[k][0], exp[k][1] + 1)
            return exp

    monkeypatch.setattr(workloads, "Inputs", WrongInputs)
    assert bench.main(["--workload", "backfill", "--seed", "1",
                       "--seconds", "1", "--scale", "0.02"]) == 0
    report, result = [json.loads(x) for x in
                      capsys.readouterr().out.splitlines()[-2:]]
    assert report["report"]["fail_ratio"]["value"] > 0
    assert result["correct"] is False and result["failed"] >= 1


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_every_metric_with_its_unit(workload):
    out = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", "1", "--scale", "0.05")
    assert out.returncode == 0, out.stderr[-2000:]
    report, result = [json.loads(x) for x in out.stdout.splitlines()[-2:]]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert {n: m["unit"] for n, m in result["metrics"].items()} == dict(
        bench.PER_LAYER
    )
    assert all(m["value"] is not None for m in result["metrics"].values())
    assert {n: m["unit"] for n, m in report["report"].items()} == dict(
        bench.REPORT
    )
    assert report["report"]["fail_ratio"]["value"] == 0
    assert set(report["e2e"]) == {n for n, _ in bench.END_TO_END}
    assert all(v and v > 0 for v in report["e2e"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _bench("--workload", "backfill", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path), timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
