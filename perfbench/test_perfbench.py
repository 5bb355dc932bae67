"""The benchmark's own checks: the public-API guard, a smoke run of every
workload that must leave the working tree untouched, and the refusal to
run without the package.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import ast
import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Knobs that pick a physical plan; the benchmark must use the defaults so
# they can be deleted without editing it.
PLAN_KWARGS = {"fused", "coord_transfer", "refine", "stats"}


def api_violations(source: str) -> list[str]:
    """Private-name imports, imports of __spark_entry__, and plan-selection
    keyword arguments found in ``source``."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "__spark_entry__" or any(
                    part.startswith("_") for part in alias.name.split(".")
                ):
                    out.append(f"line {node.lineno}: import {alias.name}")
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            module = node.module or ""
            if module.split(".")[0] == "__spark_entry__" or any(
                part.startswith("_") for part in module.split(".")
            ):
                out.append(f"line {node.lineno}: from {module}")
            out += [
                f"line {node.lineno}: private name {a.name}"
                for a in node.names
                if a.name.startswith("_")
            ]
        elif isinstance(node, ast.Call):
            out += [
                f"line {node.lineno}: plan kwarg {k.arg}="
                for k in node.keywords
                if k.arg in PLAN_KWARGS
            ]
    return out


def test_guard_flags_each_kind_of_violation():
    bad = (
        "import __spark_entry__\n"
        "from raster_join_spark.operators.spatial_join import _cell_csr\n"
        "from raster_join_spark._private import x\n"
        "sj.hybrid_join(points, agg, fused='split')\n"
    )
    assert len(api_violations(bad)) == 4
    assert api_violations("from __future__ import annotations\nf(k=1)\n") == []


def test_benchmark_uses_only_public_api_with_default_plans():
    for path in glob.glob(os.path.join(HERE, "*.py")):
        if path == os.path.abspath(__file__):
            continue
        with open(path) as f:
            assert api_violations(f.read()) == [], path


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    spec = _bench_spec()
    cmd = [sys.executable if c == "python3" else c for c in spec["command"]]
    return subprocess.run(cmd + list(args), cwd=cwd, capture_output=True, text=True, timeout=600)


def _git_status() -> str | None:
    try:
        p = subprocess.run(
            ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True
        )
    except OSError:
        return None
    return p.stdout if p.returncode == 0 else None


@pytest.mark.parametrize("workload,trace", [("interactive_agg", 1), ("bulk_pipeline", 0), ("bulk_pipeline", 1)])
def test_smoke_run_is_correct_and_hermetic(workload, trace):
    before = _git_status()
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1", "--docs", "1000",
             "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _bench_spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    report = json.loads(p.stdout.strip().splitlines()[-2])["report"]
    assert report["error_rate"] == 0 and report["latency"]["n"] >= 1
    if trace:
        assert report["trace"] and all(r["spark.stages"] > 0 for r in report["trace"])
    assert _git_status() == before


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "interactive_agg", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
