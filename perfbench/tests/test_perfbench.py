"""The benchmark's own checks. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start the real benchmark on every workload (about a
minute each); the corruption test runs one query in-process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_spec_matches_the_metric_catalogue():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == bench.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(bench.workloads())
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(bench.workloads()))
def test_smoke_prints_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f)) as src:
                (tmp_path / "perfbench" / f).write_text(src.read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ksql-session", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_corrupted_result_is_counted_as_failed(monkeypatch):
    from perfbench.batch import BatchWorkload

    monkeypatch.chdir(ROOT)
    run = bench.Run("batch-relational", seed=3, seconds=1, trace=False)
    try:
        wl = BatchWorkload(run, ["q09_group_count"])
        wl.setup()
        assert wl.one("q09_group_count", "ok", traced=False) is not None
        assert run.failed == 0
        good = wl.queries["q09_group_count"]
        wl.queries["q09_group_count"] = lambda spark, d: good(spark, d).limit(1)
        assert wl.one("q09_group_count", "bad", traced=False) is None
        assert (run.attempted, run.failed) == (2, 1)
    finally:
        run.shutdown()
