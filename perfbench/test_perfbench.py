"""The benchmark's own tests: its output checks catch a wrong result,
its counters repeat exactly, and ``BENCHMARK.json`` lists what the
benchmark prints.

    python3 -m pytest perfbench -q

Each run builds its own Spark session in a fresh JVM at the small input
size, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.bench import END_TO_END, per_layer_metrics, run
from perfbench.run import ROOT, WORKLOADS

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_benchmark_json_matches_the_benchmark():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == (
        per_layer_metrics()
    )
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_corrupted_output_row_is_counted(tmp_path):
    calls = []

    def corrupt_first_output(rows):
        calls.append(len(rows))
        if len(calls) > 1:
            return rows
        row = list(rows[0])
        row[1] += 1  # Total_Truyen_hinh of one customer
        return [tuple(row)] + rows[1:]

    res = run(
        "c360_daily", seed=3, seconds=0, traced=False, small=True,
        work_dir=str(tmp_path), tamper=corrupt_first_output,
    )
    assert len(calls) >= 2
    assert res["attempted"] == len(calls)
    assert res["failed"] == 1
    assert res["correct"] is False
    assert "failure_rate %.4f fraction" % (1 / len(calls)) in res["report"]


COUNTS = (".jobs", ".tasks", "iteration.stages", "iteration.input_bytes")


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_counters_repeat_across_traced_runs(tmp_path, workload):
    a, b = (
        run(workload, seed=5, seconds=0, traced=True, small=True,
            work_dir=str(tmp_path))
        for _ in range(2)
    )
    assert a["correct"] and b["correct"]
    counts = {
        k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
        for k in a["metrics"] if k.endswith(COUNTS)
    }
    assert counts["iteration.stages"][0] > 0
    assert counts["iteration.input_bytes"][0] > 0
    assert {k: x for k, (x, y) in counts.items() if x != y} == {}, counts
