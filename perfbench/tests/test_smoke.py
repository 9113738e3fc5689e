"""Smoke tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/tests -q

Each test runs the benchmark the way it is meant to be run (a fresh
process from the checkout root), with ``PERFBENCH_SCALE`` shrinking the
registry tables to sf0.001 and a one-second window, so a test costs one
Spark start-up plus a few passes.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, BENCH)

import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload: str, trace: int, seed: int = 3) -> tuple[dict, str]:
    env = dict(os.environ, PERFBENCH_SCALE="0.001")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), out.stdout


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_declared_metric_is_printed_with_its_unit(trace, section):
    result, stdout = run("iterative_chains", trace)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    for name, unit in declared.items():
        assert f" {name} " in stdout and f" {unit} (n=" in stdout


def test_spans_nest_and_self_times_are_not_negative():
    import ledger

    run("warehouse_load", 1, seed=5)
    with open(os.path.join(WORK, "traces", "warehouse_load-seed5.json")) as f:
        spans = json.load(f)["spans"]
    by_id = {s["span_id"]: s for s in spans}
    assert any(s["name"].endswith("/jdbc_load/fn") for s in spans)
    assert any("/job" in s["name"] for s in spans)
    for s in spans:
        assert s["self_s"] >= -1e-9, s
        if s["parent_id"] is not None:
            p = by_id[s["parent_id"]]
            assert p["start"] - ledger.CLOCK_SLACK_S <= s["start"], (s, p)
            assert s["end"] <= p["end"] + ledger.CLOCK_SLACK_S, (s, p)
        assert s["start"] <= s["end"]


def test_a_wrong_expected_result_counts_as_a_failure():
    import datagen
    from oracle import digest

    run("iterative_chains", 0)  # fills the oracle cache at this scale
    cache = os.path.join(WORK, "oracle", os.path.basename(
        datagen.registry_tables(WORK, 0.001)))
    name = workloads.ITERATIVE_CHAINS[0]
    path = next(os.path.join(cache, f) for f in os.listdir(cache) if f.startswith(name + "-"))
    with open(path, "rb") as f:
        good = pickle.load(f)
    bad = dict(good, rows=[tuple(["tampered"] + list(good["rows"][0][1:]))] + good["rows"][1:])
    bad["digest"] = digest(bad["rows"])
    try:
        with open(path, "wb") as f:
            pickle.dump(bad, f)
        result, _ = run("iterative_chains", 0)
    finally:
        with open(path, "wb") as f:
            pickle.dump(good, f)
    assert result["failed"] == 1 and not result["correct"]
