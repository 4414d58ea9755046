"""Self-tests of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Smoke runs use `--scale 0.025` (1,500 documents for pip_tiles, the
size of the sf0.001 corpus) and check the printed result against
BENCHMARK.json; the planted-failure test swaps an engine operator for
one that drops a row and expects the pass to be counted as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE_SCALE = "0.025"

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_result_schema(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--scale", SMOKE_SCALE)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "pip_tiles", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_planted_wrong_result_counts_as_failure(tmp_path, monkeypatch):
    sys.path.insert(0, ROOT)
    from perfbench import run, trace, workloads

    saved_env = os.environ.copy()
    run.prepare_environment(str(tmp_path))
    from geo_import_spark.session import get_spark

    spark = get_spark()
    try:
        wl = workloads.PipTiles(spark, str(tmp_path / "data"), 5, float(SMOKE_SCALE),
                                trace.NullTracer())
        wl.setup(0)
        passes = run.Passes(wl, trace.NullTracer(), wl.expected())
        real = workloads.pip.pip_join

        def drops_a_row(*args, **kwargs):
            hits = real(*args, **kwargs)
            first = hits.orderBy("doc_id", "poly_id").limit(1)
            return hits.join(first, ["doc_id", "poly_id"], "left_anti")

        monkeypatch.setattr(workloads.pip, "pip_join", drops_a_row)
        assert passes.run("window0") is None
        monkeypatch.setattr(workloads.pip, "pip_join", real)
        assert passes.run("window1") is not None
        assert (passes.attempted, passes.failed) == (2, 1)
    finally:
        run.stop_spark(spark)
        os.environ.clear()
        os.environ.update(saved_env)


def test_rss_sum_leaves_out_young_children(monkeypatch):
    sys.path.insert(0, ROOT)
    from perfbench import trace

    child = subprocess.Popen([sys.executable, "-c",
                              "x = bytearray(300_000_000); import time; time.sleep(60)"])
    try:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            with open(f"/proc/{child.pid}/statm") as f:
                if int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") > 250_000_000:
                    break
            time.sleep(0.05)
        monkeypatch.setattr(trace, "MIN_CHILD_AGE_S", 3600.0)
        young = trace.tree_rss_bytes(os.getpid())
        monkeypatch.setattr(trace, "MIN_CHILD_AGE_S", 0.0)
        counted = trace.tree_rss_bytes(os.getpid())
        assert counted - young > 250_000_000
    finally:
        child.kill()
        child.wait()
