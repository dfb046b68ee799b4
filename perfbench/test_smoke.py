"""Smoke tests of the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py`` from the repository root in its own
process (one Spark JVM at a time), and checks:

* every end-to-end metric is printed with its unit, the outputs check, and
  the events counted are exactly those of the timed reps;
* the traced run prints every per-layer metric, every batch's wall is
  covered by its named child spans plus ``driver.overhead_s``, and on an
  extraction workload the query pass runs and passes its oracle checks;
* a planted corruption fails the output check and raises ``error_rate``;
* outside a checkout of the repository the command fails without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import cdc  # noqa: E402
from perfbench.run import E2E_METRICS, LAYER_METRICS, QUERY_LEAVES  # noqa: E402

SCALE = 0.1
SEED = 901
WORKLOADS = sorted(cdc.SPECS)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def report_lines(proc: subprocess.CompletedProcess) -> dict[str, str]:
    """``# name = value unit`` report lines as {name: "value unit"}."""
    out = {}
    for line in proc.stdout.splitlines():
        if line.startswith("# ") and " = " in line:
            k, v = line[2:].split(" = ", 1)
            out[k] = v
    return out


def artifact(workload: str, trace: int) -> dict:
    spec = cdc.scaled(cdc.SPECS[workload], SCALE)
    name = f"{workload}-n{spec.n_seed}x{spec.n_events}-s{SEED}-t{trace}.json"
    with open(os.path.join(ROOT, ".perfbench_work", "results", name)) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_e2e_metrics_printed_and_outputs_correct(workload):
    proc = run(workload, 0, "--scale", str(SCALE))
    res = result(proc)
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(E2E_METRICS)
    report = report_lines(proc)
    for name, (unit, _) in E2E_METRICS.items():
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0
        assert report[name].endswith(f" {unit}")
    assert report["error_rate"].startswith("0 ")
    # every rep replays the whole change stream: the untimed head batches,
    # then the timed rest, which alone is counted in apply_events_per_s
    art = artifact(workload, 0)
    assert art["warm_events"] > 0 and art["events"] > 0
    assert art["events"] + art["warm_events"] == (
        art["reps"] * cdc.scaled(cdc.SPECS[workload], SCALE).n_events
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_batches_are_attributed(workload):
    res = result(run(workload, 1, "--scale", str(SCALE)))
    assert res["correct"] is True
    assert set(res["metrics"]) == set(LAYER_METRICS)
    for name, (unit, _) in LAYER_METRICS.items():
        assert res["metrics"][name]["unit"] == unit
    art = artifact(workload, 1)
    batches = art["batch_attribution"]
    assert len(batches) == res["metrics"]["driver.batches"]["value"] > 0
    for b in batches:
        assert "merge" in b["spans_s"]
        assert b["overhead_s"] >= 0
        # the named child spans do not overlap, so they plus the uncovered
        # remainder add up to the batch wall
        assert abs(sum(b["spans_s"].values()) + b["overhead_s"] - b["wall_s"]) < 1e-6
    assert res["metrics"]["spark.executor_run_s"]["value"] > 0
    if cdc.SPECS[workload].indexes:
        assert res["metrics"]["cidx.keys"]["value"] > 0
        assert res["metrics"]["ndidx.docs"]["value"] > 0
    if cdc.SPECS[workload].extract:
        # the query-library pass ran every leaf and passed its oracle checks
        assert all(res["metrics"][f"query.{leaf}_s"]["value"] > 0 for leaf in QUERY_LEAVES)
        assert {c["name"] for c in art["checks"]} >= {
            f"query_{leaf}" for leaf in QUERY_LEAVES if leaf != "corpus_pipeline"
        }


def test_planted_corruption_fails_the_check():
    proc = run("backfill_extract", 0, "--scale", str(SCALE), "--plant-corruption")
    res = result(proc)
    assert res["correct"] is False
    assert res["failed"] >= 1
    rate = float(report_lines(proc)["error_rate"].split()[0])
    assert rate == pytest.approx(res["failed"] / res["attempted"]) and rate > 0
    assert "check final_table: FAILED" in proc.stdout


def test_fails_without_the_repository(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = run("backfill_extract", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
