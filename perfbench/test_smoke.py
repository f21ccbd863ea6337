"""Smoke test of the benchmark at tiny sizes (sf0.001 analytics tables,
a 4k-row generated ratings table). Each case is one full benchmark
process, about a minute on 4 cores.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["train", "analytics"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload: str, trace: int) -> None:
    detail, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert all(c["ok"] for c in detail["checks"]), detail["checks"]
    metrics = result["metrics"]
    if trace:
        assert list(metrics) == list(layers.NAMES)
        assert metrics["spark.jobs"]["value"] > 0
    else:
        assert list(metrics) == ["setup_s", "pass_s", "floor_ms"]
        assert all(m["value"] > 0 for m in metrics.values())


def test_tail_definition() -> None:
    from run import tail

    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    values = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct = tail(values)
    assert value == 20.0 and sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_generators_are_seeded() -> None:
    import gen

    a, ga = gen.movielens_like(3, 5_000)
    b, gb = gen.movielens_like(3, 5_000)
    assert a.equals(b) and ga.equals(gb)
    assert a["rating_10"].between(1, 10).all()
    assert ga["genre_count"].between(1, 3).all()
    assert gen.shuffled(3, list("abcdef")) == gen.shuffled(3, list("abcdef"))
