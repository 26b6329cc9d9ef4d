"""The traced run's deterministic counters repeat exactly across two runs
of an unchanged tree (different seeds, so different query orders), and
its layer self-times cover each query's wall-clock to within 5%.

    python -m pytest perfbench/test_counters.py -q

Each workload costs two traced runs, about two minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Seconds, held storage and per-run listener timing vary; these may not.
COUNTER_SUFFIXES = (".calls", ".jobs", "_jobs", "_calls", ".stages", "_stages", ".tasks")
COUNTERS = ("storage.local_checkpoints", "streaming.batches", "streaming.input_rows", "arrow.rows")


def traced(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def counters(result: dict) -> dict:
    return {
        k: v["value"]
        for k, v in result["metrics"].items()
        if k in COUNTERS or k.endswith(COUNTER_SUFFIXES)
    }


@pytest.mark.parametrize("workload", ["relational", "text_dedup", "stream_delta"])
def test_counters_repeat_exactly(workload):
    a, b = traced(workload, 1), traced(workload, 2)
    assert a["correct"] and b["correct"]
    ca, cb = counters(a), counters(b)
    assert ca["exec.jobs"] > 0 and ca["io.load_calls"] > 0
    assert ca == cb, {k: (ca[k], cb[k]) for k in ca if ca[k] != cb[k]}
    for r in (a, b):
        assert r["metrics"]["trace.coverage_min"]["value"] >= 0.95


def test_benchmark_json_names_every_metric():
    sys.path.insert(0, HERE)
    import layers
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["per_layer"] == layers.benchmark_entries()
    assert {e["name"]: e["unit"] for e in spec["end_to_end"]} == run.END_TO_END
