"""Tests of the CDC-replication benchmark itself, at a tiny size.

Run from the repository root::

    python -m pytest perfbench/tests -q -p no:cacheprovider

The smoke runs start one Spark session each (about half a minute).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from run import WORKLOADS  # noqa: E402
from spans import tail  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TINY = ["--scale", "0.02", "--seconds", "3"]


def _generate(out, seed: int) -> list[str]:
    gen.main(["--workload", "cdc_uniform_churn", "--seed", str(seed), "--out", str(out),
              "--seconds", "2", "--scale", "0.02"])
    return sorted(
        os.path.relpath(os.path.join(r, f), out)
        for r, _d, fs in os.walk(out) for f in fs
    )


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    files = _generate(a, 5)
    assert _generate(b, 5) == files and len(files) > 4
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert match == files and not mismatch and not errors
    _generate(c, 6)
    load = os.path.join("source", "LOAD00000001.parquet")
    assert not filecmp.cmp(a / load, c / load, shallow=False)


def test_expected_state_replays_the_files():
    """The expected state equals a plain last-version-wins replay of
    the snapshot and CDC tables the engine receives."""
    b = gen.Backlog("cdc_uniform_churn", 9, 2, 0.02)
    k = 6
    rows = {}
    for t in [b.snapshot_table()] + [b.cdc_table(i) for i in range(k)]:
        for r in t.to_pylist():
            op = r.pop("Op", "I")
            key = (r["l_orderkey"], r["l_linenumber"])
            if op == "D":
                rows.pop(key, None)
            else:
                rows[key] = r
    want = sorted(rows.values(), key=lambda r: (r["l_orderkey"], r["l_linenumber"]))
    assert b.state_at(k).to_pylist() == want


def test_metric_names():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))


def test_tail_is_at_least_p90_and_honours_ten_beyond():
    v, pct = tail([float(i) for i in range(10, 0, -1)])
    assert pct == 90.0 and v == pytest.approx(9.1)
    v, pct = tail([float(i) for i in range(1, 201)])  # 10 samples beyond p95
    assert pct == 95.0 and v == pytest.approx(190.05)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--trace", str(trace), *TINY],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0, p.stderr[-3000:]
    assert out["attempted"] >= 1
    assert out["metrics"]["success_rate"]["value"] == 1.0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_reports_every_layer_metric(workload):
    p = _run(workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"], p.stderr[-3000:]
    metrics = out["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    assert metrics["operators.upsert.commit_retries"]["value"] == 0
    assert metrics["operators.upsert.jobs"]["value"] > 0
    assert metrics["sql.jobs"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("cdc_hot_recent", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
