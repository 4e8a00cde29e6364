"""Tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/tests -q

Each test runs the benchmark in a subprocess (one JVM per run, as the
benchmark is run for real), so the suite takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(args: list[str], prelude: str = "") -> tuple[int, str, dict | None]:
    """Run the benchmark's ``main`` in a fresh interpreter, after
    ``prelude`` (code that may patch the engine before the run)."""
    code = "\n".join([
        "import sys",
        f"sys.path[:0] = [{BENCH!r}, {ROOT!r}]",
        prelude,
        "import run",
        f"sys.exit(run.main({args!r}))",
    ])
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, p.stdout + p.stderr, result


def _args(workload: str, trace: int) -> list[str]:
    return ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--size", "tiny"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    rc, out, result = _run(_args(workload, trace))
    assert rc == 0, out[-3000:]
    assert result is not None, out[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    specs = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"][f"tracing_overhead_share.{workload}"][
            "value"] != 0.0
    assert f"cores={len(os.sched_getaffinity(0))}" in out
    assert "input " in out


CORRUPT_BOARD = """
from databricks_etl_pipelines_spark import catalog
catalog.load_all()
_orig = catalog.QUERIES["flagship_pricing_risk_summary"]
catalog.QUERIES["flagship_pricing_risk_summary"] = (
    lambda spark, d: _orig(spark, d).limit(1))
"""

CORRUPT_MEDALLION = """
from pyspark.sql import functions as F
from databricks_etl_pipelines_spark.plans import medallion
_orig = medallion.silver_transform
def _drop_some(bronze, stamps=False):
    silver, quarantined = _orig(bronze, stamps)
    return silver.filter(F.xxhash64("transaction_id") % 97 != 0), quarantined
medallion.silver_transform = _drop_some
"""


@pytest.mark.parametrize("workload,prelude,check", [
    ("query_board", CORRUPT_BOARD, "oracle.flagship_pricing_risk_summary"),
    ("medallion", CORRUPT_MEDALLION, "silver_plus_quarantine"),
])
def test_corrupted_result_fails_the_check(workload, prelude, check):
    rc, out, result = _run(_args(workload, 0), prelude)
    assert rc == 1, out[-3000:]
    assert result is not None and result["correct"] is False
    assert result["failed"] >= 1
    assert f"CHECK FAILED {workload}.{check}" in out, out[-3000:]


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run fails without
    printing a result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
