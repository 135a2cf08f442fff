"""Smoke test for the benchmark: every workload at tiny sizes, both modes.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes (each case starts its own Spark session).
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
RUN = os.path.join(HERE, "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT, script=RUN):
    p = subprocess.run([sys.executable, script, "--seed", "3", "--seconds", "1",
                        "--size", "tiny", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines else None
    return p.returncode, last, p.stderr


@pytest.mark.parametrize("trace", [0, 1])
# ingest_serve is not declared (see NOTES.md) but must keep working.
@pytest.mark.parametrize(
    "workload", [w["name"] for w in SPEC["workloads"]] + ["ingest_serve"])
def test_every_declared_metric_prints(workload, trace):
    rc, out, err = bench("--workload", workload, "--trace", str(trace))
    assert rc == 0, err[-3000:]
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("family", ["exact", "hnsw", "ivfpq"])
def test_corrupted_result_trips_the_checks(family):
    rc, out, _err = bench("--workload", "serve_fresh", "--trace", "0",
                          "--corrupt", family)
    assert rc == 1
    assert out["correct"] is False and out["failed"] >= 1


def test_refuses_to_run_without_the_engine():
    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, out, _err = bench("--workload", "serve_fresh", "--trace", "0", cwd=bare,
                              script=os.path.join(bare, "perfbench", "run.py"))
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and out is None
