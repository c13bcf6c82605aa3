"""The N-vs-4N scaling tool: its committed document, its shape rule, its
efficiency arithmetic, and one child app end to end."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "tools", "scaling_bench.py")

_spec = importlib.util.spec_from_file_location("scaling_bench", SCRIPT)
scaling_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling_bench)


def _results() -> dict:
    with open(scaling_bench.RESULTS) as f:
        return json.load(f)


def test_baseline_md_is_the_rendered_json():
    with open(scaling_bench.BASELINE) as f:
        assert f.read() == scaling_bench.render(_results())


def test_shape_rule():
    assert scaling_bench.shape(4, 15_000)["C"] == 1
    assert scaling_bench.shape(32, 120_000)["C"] == 8
    assert scaling_bench.shape(2, 4_000)["C"] == 1
    # 8 heaps (4 drivers, 4 executors) in half of the free memory
    assert scaling_bench.shape(4, 15_486)["heap_mb"] == 896


def test_efficiency_arithmetic():
    job = {
        "strong": {
            "n": {"wall_median": 100.0, "executor_cpu_s": [10.0, 12.0, 14.0]},
            "4n": {"wall_median": 40.0, "executor_cpu_s": [15.0, 18.0]},
        },
        "envelope": {"wall_median": 125.0},
        "weak": {"wall_median": 30.0},
    }
    assert scaling_bench.efficiencies(job) == {
        "strong": 0.625,  # 100 / (4 x 40)
        "envelope": 0.8,  # 100 / 125
        "vs_envelope": 0.781,  # unclamped 0.625 / 0.8
        "weak": 0.75,  # 30 / 40
        "executor_cpu_4n_over_n": 1.375,  # 16.5 / 12
    }
    job["envelope"]["wall_median"] = 200.0
    assert scaling_bench.efficiencies(job)["vs_envelope"] == 1.25


def test_recorded_efficiencies_follow_from_their_runs():
    measured = 0
    for rec in _results().values():
        for job in scaling_bench.JOBS:
            if "executor_cpu_s" in rec[job]["strong"]["n"]:
                measured += 1
                assert rec[job]["efficiency"] == scaling_bench.efficiencies(rec[job])
    assert measured >= 2


@pytest.mark.slow
def test_child_runs_the_pipeline_on_two_executors(tmp_path):
    import pyarrow.parquet as pq

    from gfftoneo4j_spark import oracle
    from gfftoneo4j_spark.corpus import write_corpus_fast

    t_dir, d_path = write_corpus_fast(str(tmp_path), 2000)
    spec = {"job": "pipeline", "executors": 2, "C": 1, "heap_mb": 512,
            "units": 2000, "corpus": str(tmp_path)}
    r = subprocess.run(
        [sys.executable, SCRIPT, "--child", json.dumps(spec)],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    runs = json.loads(r.stdout.splitlines()[-1])
    assert len(runs) == 1 + scaling_bench.MEASURED
    want = oracle.build_graph(
        pq.read_table(t_dir).to_pylist(), pq.read_table(d_path).to_pylist()
    )
    for run in runs:
        assert run["wall_s"] > 0
        assert run["check"] == len(want["triples"])
        assert run["executor_cpu_s"] > 0 and run["tasks"] > 0
