"""Self-tests of the benchmark runner. Each runs the real program on a tiny
query subset in a subprocess, starting a JVM, so the suite takes a few
minutes and is marked slow (a bare ``pytest`` deselects it):

    python3 -m pytest perfbench/test_run.py -m slow -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

pytestmark = pytest.mark.slow

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import pass_order  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SUBSET = {
    "statement_sql": "tpch_q6_forecast_revenue,f13_quarter_mapping",
    "corpus_cold": "dedup_components",
}
#: counts that must repeat exactly for one input, whatever the order. The
#: total job count is not among them: adaptive execution submits a
#: timing-dependent number of query-stage jobs (see probe.is_stage_job).
EXACT = (
    "action_jobs",
    "io.load_table.calls",
    "io.memo.calls",
    "io.memo.session_hits",
    "io.store.lookups",
    "io.store.publishes",
)


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join("perfbench", "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", "0",
            "--trace", str(trace),
            "--queries", SUBSET[workload],
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return proc.returncode, None


@pytest.fixture(scope="module")
def traced():
    """Traced corpus_cold runs: two with seed 7, one with seed 8."""
    return [_run("corpus_cold", seed, 1) for seed in (7, 7, 8)]


def _values(result: dict) -> dict:
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_order_depends_only_on_seed_and_pass():
    names = WORKLOADS["statement_sql"].queries
    assert pass_order(names, 1, "p0") == pass_order(names, 1, "p0")
    assert sorted(pass_order(names, 1, "p0")) == sorted(names)
    orders = {tuple(pass_order(names, seed, "p0")) for seed in range(8)}
    assert len(orders) > 1


def test_untraced_run_prints_every_end_to_end_metric_with_its_unit():
    rc, result = _run("statement_sql", 3, 0)
    assert rc == 0 and result is not None
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = {m["name"]: m["unit"] for m in _bench_spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric_with_its_unit(traced):
    rc, result = traced[0]
    assert rc == 0 and result is not None and result["correct"]
    spec = {m["name"]: m["unit"] for m in _bench_spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    v = _values(result)
    assert v["io.store.publishes"] > 0
    # self times of every layer account for the traced pass
    self_total = sum(x for k, x in v.items() if k.startswith("self."))
    assert self_total == pytest.approx(v["traced_pass_s"], abs=1e-3)
    # planning is read off the write, so it splits the query's time
    assert v["plan_s"] > 0 and v["exec_s"] > 0
    assert v["construct_s"] + v["plan_s"] + v["exec_s"] < v["traced_pass_s"]


def test_same_seed_repeats_tier_and_job_counts(traced):
    a, b = _values(traced[0][1]), _values(traced[1][1])
    assert {k: a[k] for k in EXACT} == {k: b[k] for k in EXACT}


def test_other_seed_changes_only_the_order(traced):
    a, c = _values(traced[0][1]), _values(traced[2][1])
    assert traced[2][1]["correct"]
    assert {k: a[k] for k in EXACT} == {k: c[k] for k in EXACT}


def test_fails_without_the_program():
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    bare = os.path.join(HERE, ".work", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for f in os.listdir(HERE):
            if os.path.isfile(os.path.join(HERE, f)):
                shutil.copy(os.path.join(HERE, f), os.path.join(bare, "perfbench"))
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "statement_sql",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, env=env, capture_output=True, text=True, timeout=180,
        )
        assert proc.returncode != 0
        assert proc.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)
