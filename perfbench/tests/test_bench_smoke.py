"""Smoke runs of the benchmark command: every workload, a second long,
traced and untraced. They assert that every named metric is emitted,
that the output checks pass, and that the command refuses to run outside
a full checkout. Each run starts a JVM, so this file takes a few
minutes.

Run: python3 -m pytest perfbench/tests/test_bench_smoke.py -q
The runs read $SPARK_GRAFT_TEST_SF_DIR when it is set (as the package's
own tests do; point it at the sf0.001 tables for the fastest run), else
the tables shipped with the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
DATA = ["--data", SF] if SF else []


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def _lines(out: str, kind: str) -> dict[str, str]:
    rows = [ln.split() for ln in out.splitlines() if ln.startswith(kind + " ")]
    return {r[1]: r[3] for r in rows}


def test_traced_run_of_every_workload():
    p = _run("--workload", "all", "--trace", "1", *DATA)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    layers = _lines(p.stdout, "layer")
    for w in ("ingest", "analytics", "operators"):
        for name, (unit, _) in PER_LAYER.items():
            assert layers[f"{w}.{name}"] == unit
            assert f"{w}.{name}" in result["metrics"]
        for name, unit in END_TO_END.items():
            assert _lines(p.stdout, "metric")[f"{w}.{name}"] == unit
    m = result["metrics"]
    assert m["ingest.broker.produce.calls"]["value"] > 0
    assert m["ingest.registry.validate.calls"]["value"] > 0
    assert m["ingest.lake.store.rows"]["value"] > 0
    assert m["ingest.streaming.batches"]["value"] > 0
    assert m["analytics.session.task_cpu_s"]["value"] > 0
    assert m["analytics.broker.produce.calls"]["value"] == 0
    assert m["operators.queries.embeddings_dbscan_cosine.jobs"]["value"] > 0
    assert m["operators.streaming.batches"]["value"] > 0


def test_untraced_run_prints_exactly_the_end_to_end_metrics():
    p = _run("--workload", "ingest", "--trace", "0", *DATA)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert _lines(p.stdout, "metric") == END_TO_END


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "ingest", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert not any(ln.startswith("{") for ln in p.stdout.splitlines())
