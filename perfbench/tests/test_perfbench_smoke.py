"""The benchmark end to end: smoke mode, and refusal outside a checkout."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import workloads

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _run(args, cwd, timeout):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_smoke_runs_every_workload_check_and_trace():
    p = _run(["--smoke", "--seed", "2"], ROOT, timeout=600)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    results = [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]
    assert len(results) == len(workloads.WORKLOADS)
    for r in results:
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
        assert set(r["metrics"]) == set(workloads.PER_LAYER)
        assert r["metrics"]["session.jobs"]["value"] > 0
    nsl, catalog_ingest = results
    assert nsl["metrics"]["ml.kmeans_assign.jobs"]["value"] > 0
    assert catalog_ingest["metrics"]["plans.q01_pricing_summary.jobs"]["value"] > 0
    assert catalog_ingest["metrics"]["streaming.trigger_ms"]["value"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "catalog_ingest", "--seed", "1", "--seconds", "1",
              "--trace", "0"], tmp_path, timeout=60)
    assert p.returncode != 0
    assert not p.stdout.strip()
