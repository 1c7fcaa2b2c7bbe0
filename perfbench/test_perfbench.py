"""Self-tests of the benchmark, at toy size.

    python3 -m pytest perfbench -q

Each workload runs end to end (its own Spark session each time) with and
without tracing, must emit exactly the metrics ``BENCHMARK.json`` names
with their units, and must count a planted wrong result as a failed
operation instead of passing it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import report, run, testdata, workloads

ROOT = run.ROOT
TOY = workloads.Sizes(data=(100, 2), pos=(10, 1), eq=(10, 1), sf=0.001)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: bool = False, plant: bool = False):
    before = set(os.listdir(ROOT))
    result, detail = run.run(
        workload, seed=3, seconds=1, trace=trace, sizes=TOY, plant_wrong_count=plant
    )
    assert set(os.listdir(ROOT)) == before, "a run left files in the checkout"
    return result, detail


def test_benchmark_json_matches_emitted_metric_tables():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == report.PER_LAYER


@pytest.mark.parametrize("trace", [False, True], ids=["untraced", "traced"])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_workload_emits_every_metric_with_its_unit(workload, trace):
    result, detail = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["errors"]
    assert result["attempted"] >= 1
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_planted_wrong_count_is_counted_as_failed(workload):
    result, detail = _run(workload, plant=True)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert result["metrics"]["success_rate"]["value"] < 1.0
    assert detail["errors"]


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 21))  # 20 samples: x[9] has ten beyond it
    assert report.tail(xs) == (10, 50.0)
    assert report.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_cpu_meter_counts_this_process():
    meter = workloads.CpuMeter(os.getpid())
    before = meter.seconds()
    sum(i * i for i in range(3_000_000))
    assert meter.seconds() - before > 0


def test_corpus_is_a_function_of_the_seed():
    a, b, c = testdata.tables(5, 0.001), testdata.tables(5, 0.001), testdata.tables(6, 0.001)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_fails_without_printing_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
