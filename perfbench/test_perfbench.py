"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The run-based tests start the engine three times (about 3 minutes on
a 4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402


def test_ping_generator_is_deterministic_per_seed():
    first = data.make_pings(7, 2, 60)
    again = data.make_pings(7, 2, 60)
    other = data.make_pings(8, 2, 60)
    assert first == again
    assert first[0] != other[0]
    files, tally = first
    assert len(files) == 3  # two data files and the flush file
    assert 0 < tally["influx_crashes"] < tally["allowed"] < 120


def test_table_generator_is_deterministic():
    a, b = data.make_tables(0.001), data.make_tables(0.001)
    assert a.keys() == b.keys()
    assert all(a[name].equals(b[name]) for name in a)


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def multijob_runs() -> dict:
    return {
        "trace1": _run("query_multijob", 1, 1),
        "trace2": _run("query_multijob", 2, 1),
        "plain": _run("query_multijob", 1, 0),
    }


def test_spark_jobs_per_pass_repeat_exactly(multijob_runs):
    a, b = multijob_runs["trace1"], multijob_runs["trace2"]
    assert a["metrics"]["spark.jobs"]["value"] > 0
    assert a["metrics"]["spark.jobs"]["value"] == b["metrics"]["spark.jobs"]["value"]


def test_every_printed_metric_is_declared_with_its_unit(multijob_runs):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, section in (("plain", "end_to_end"), ("trace1", "per_layer")):
        result = multijob_runs[key]
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        declared = {m["name"]: m["unit"] for m in spec[section]}
        printed = {k: v["unit"] for k, v in result["metrics"].items()}
        assert printed == declared
