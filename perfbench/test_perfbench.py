"""The benchmark's own tests, on the sf0.001 tables.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Each workload runs once untraced and once traced; every metric named in
BENCHMARK.json must come out with its unit. Takes a few minutes: every
run starts its own JVM, as the benchmark does.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for m in wanted:
        value = result["metrics"][m["name"]]["value"]
        assert isinstance(value, (int, float))
        if not trace:
            assert value > 0, m["name"]
    if trace:
        assert 0 <= result["metrics"]["trace.overhead_share"]["value"] < 1


def test_every_run_builds_its_layouts():
    """ops-sample builds its layouts in set-up on every run: a second
    run in the same checkout does the same Spark jobs, not cache hits."""
    jobs = []
    for _ in range(2):
        proc = _run(ROOT, "ops-sample", 1)
        assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        jobs.append(result["metrics"]["layout.ensure_jobs"]["value"])
    assert jobs[0] == jobs[1] > 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run must fail fast and print no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "ask", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_rounds_hold_the_same_mix_for_every_seed():
    verdict = {f"llm:{f['id']}": f["verdict"] for f in workloads.load_fixtures()["responses"]}
    answered = {k for k, v in verdict.items() if v == "answer"}
    families = {f"tpl:{k}" for k in workloads.ASK_FAMILIES}
    order = workloads.ASK_ROUND
    assert set(order) == answered | families | {"llm:rejected", "llm:error"}
    pool = workloads.ops_pool(dict.fromkeys(n for n, _ in json.loads(
        (HERE / "ops_by_cost.json").read_text())))
    for seed in (1, 2):
        slots = []
        for r in _round(workloads.ask_stream(seed)):
            key = r.key.rsplit(":", 1)[0] if r.key.count(":") > 1 else r.key
            slots.append(key if key not in verdict or key in answered else f"llm:{verdict[key]}")
        assert sorted(slots) == sorted(order)
        ops = _round(workloads.ops_sample_stream(seed, dict.fromkeys(pool)))
        # the same queries, one per stratum, every round and every seed
        assert len(ops) == workloads.OPS_STRATA == len({r.text for r in ops})
        assert ops == _round(workloads.ops_sample_stream(seed + 1, dict.fromkeys(pool)))


def _round(stream):
    out = []
    for req in stream:
        out.append(req)
        if req.ends_round:
            return out


@pytest.mark.parametrize("m", [6, 16, 25])
def test_balanced_order_prefixes_cover_the_range(m):
    order = workloads.balanced_order(m)
    assert sorted(order) == list(range(m))
    half = sorted(order[: (m + 1) // 2])
    # the first half of a round reaches both ends of the cost order
    assert half[0] < m // 4 + 1 and half[-1] >= m - m // 4 - 1
