"""The benchmark's own tests.

    python -m pytest perfbench -q

The first group needs no Spark.  The second makes short runs of every
workload (about ten minutes in all on 4 cores): each run must print
every metric BENCHMARK.json names, with its unit; a deliberately
corrupted result must be counted as failed; traced spans must nest and
have non-negative self times, and each op's build, plan and exec spans
must account for its wall time within 10%.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import fixtures  # noqa: E402
from tracing import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


# ---- no Spark -------------------------------------------------------------

def test_fixtures_follow_the_seed(tmp_path):
    small = fixtures.Scale(orders=50, customers=10, parts=10, suppliers=3,
                           events=40, users=3, documents=30, embeddings=30)
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        fixtures.generate(str(tmp_path / sub), seed, small)

    def blob(sub):
        return b"".join(open(tmp_path / sub / f"{t}.parquet", "rb").read()
                        for t in fixtures.TABLES)
    assert blob("a") == blob("b")
    assert blob("a") != blob("c")


def test_self_time_excludes_children():
    tr = Tracer(True)
    with tr.span("op", op=1):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    selfs = tr.self_times()
    op, a, b = tr.spans
    assert a.parent == 0 and b.parent == 0 and a.op == 1
    assert selfs[0] == pytest.approx(op.dur - a.dur - b.dur, abs=1e-9)
    assert min(selfs) >= 0


def test_canon_is_order_and_column_insensitive():
    a = checks.canon(["x", "y"], [(1, 0.5), (2, None)])
    b = checks.canon(["y", "x"], [(None, 2), (0.5, 1)])
    assert a == b and checks.digest(a) == checks.digest(b)
    assert checks.canon(["m"], [({"k": 1},)]) == \
        checks.canon(["m"], [({"key": ["k"], "value": [1]},)])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([*SPEC["command"], "--workload", WORKLOADS[0],
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True,
                         timeout=180)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


# ---- short runs -----------------------------------------------------------

def _run(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run([*SPEC["command"], "--workload", workload,
                          "--seed", "3", "--seconds", "1",
                          "--trace", str(trace), *extra],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_result_is_counted(workload):
    res = _run(workload, 0, "--corrupt")
    assert res["failed"] >= 1 and not res["correct"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run(workload):
    res = _run(workload, 1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed3-spans.json")
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    assert spans
    for s in spans:
        assert s["end"] >= s["start"] and s["self"] >= -1e-9
        if s["parent"] >= 0:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    for i, s in enumerate(spans):
        if s["name"] == "op":
            parts = sum(c["end"] - c["start"] for c in spans
                        if c["parent"] == i)
            assert parts >= 0.9 * (s["end"] - s["start"])
