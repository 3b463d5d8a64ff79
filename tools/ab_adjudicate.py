#!/usr/bin/env python
"""Interleaved cold-JVM A/B adjudicator for board-bench divergences.

The driver bench occasionally shows a per-query regression that the
single-thread calibration probe cannot explain (host-drift mode b:
multi-thread scheduling/IO drift — BENCH_NOTES.md).  The only way to
attribute such a delta to CODE vs HOST is to run both code arms on the
SAME host, interleaved, each measurement in its own cold JVM:

  for round in 1..R:  for arm in (A, B) or (B, A) [alternating]:
      subprocess: import the arm's engine, warm up (sf0.001 + view
      materialization + one untimed run), then take best-of-3 timed
      reps of the query at the target SF.

Each arm also reports how many classes its JVM's code generator compiled
during the timed reps, and the seconds it spent on them (read by this
tool's own `session.codegen_stats`, so both arms use the same probe): a
generated-code cache that thrashes shows as compiles on every rep, which
calib does not see.

Alternating arm order cancels linear host drift; cold JVMs per
measurement remove cross-arm JIT/shuffle-cache contamination.  This is
the exact method that settled `container_key_index` in round 9 and is
prescribed by VERDICT r9 item 1 for `streaming_session_stats` and
`payload_chunk_near_dup`.

Usage:
  python tools/ab_adjudicate.py --arm-a /tmp/ozs_ab_r8tip \
      --arm-b /root/repo --rounds 4 --out AB_r10.json \
      streaming_session_stats payload_chunk_near_dup
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

# the compile-count probe both arms run (see the module docstring)
_PROBE = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "ozone_spark", "session.py")

_RUNNER = r"""
import importlib.util, json, os, sys, time
repo = sys.argv[1]; name = sys.argv[2]; sf_dir = sys.argv[3]
reps = int(sys.argv[4]); probe = sys.argv[5]
spec = importlib.util.spec_from_file_location("_ab_probe", probe)
_probe = importlib.util.module_from_spec(spec); spec.loader.exec_module(_probe)
sys.path.insert(0, repo)
os.chdir(repo)
from ozone_spark.registry import queries, views
from ozone_spark.session import get_spark
spark = get_spark("ozs-ab", cpus=os.cpu_count() or 8)
fn = queries()[name]
warm_dir = "/root/testdata/sf0.001"
if os.path.isdir(warm_dir) and warm_dir != sf_dir:
    try:
        fn(spark, warm_dir).count()
    except Exception:
        pass
for df in views(spark, sf_dir).values():
    df.count()
# single-thread calib probe (same probe as bench.py)
cal = []
for _ in range(3):
    t0 = time.perf_counter()
    spark.range(0, 64_000_000, 1, 32).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s").collect()
    cal.append(time.perf_counter() - t0)
fn(spark, sf_dir).count()  # untimed warm run of the exact plan
runs = []
n0, s0 = _probe.codegen_stats(spark)
for _ in range(reps):
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    runs.append(round(time.perf_counter() - t0, 3))
n1, s1 = _probe.codegen_stats(spark)
print("ABRESULT " + json.dumps(
    {"best": min(runs), "runs": runs, "calib": round(min(cal), 3),
     "compiles": n1 - n0, "compile_s": round(s1 - s0, 3)}))
"""


def _measure(repo: str, name: str, sf_dir: str, reps: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _RUNNER, repo, name, sf_dir, str(reps),
         _PROBE],
        capture_output=True, text=True, timeout=1800,
        env={**os.environ, "PYTHONPATH": repo},
    )
    for line in out.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"no ABRESULT from {repo} / {name}:\n{out.stdout[-2000:]}\n"
        f"{out.stderr[-2000:]}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--arm-a", required=True, help="old-tip worktree")
    ap.add_argument("--arm-b", required=True, help="candidate (HEAD)")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    result: dict = {"arm_a": args.arm_a, "arm_b": args.arm_b,
                    "sf": args.sf, "rounds": args.rounds,
                    "reps": args.reps, "queries": {}}
    for name in args.queries:
        rec = {f"{arm}_{k}": [] for arm in "ab"
               for k in ("best", "calib", "compiles", "compile_s")}
        for r in range(args.rounds):
            # ABBA ordering: alternate which arm goes first each round
            order = ("a", "b") if r % 2 == 0 else ("b", "a")
            for arm in order:
                repo = args.arm_a if arm == "a" else args.arm_b
                m = _measure(repo, name, args.sf, args.reps)
                for k in ("best", "calib", "compiles", "compile_s"):
                    rec[f"{arm}_{k}"].append(m[k])
                print(f"{name} round {r + 1} arm {arm.upper()}: "
                      f"best {m['best']}s runs {m['runs']} "
                      f"calib {m['calib']} compiles {m['compiles']} "
                      f"({m['compile_s']}s)", flush=True)
        rec["a_median"] = round(statistics.median(rec["a_best"]), 3)
        rec["b_median"] = round(statistics.median(rec["b_best"]), 3)
        spread_a = (min(rec["a_best"]), max(rec["a_best"]))
        spread_b = (min(rec["b_best"]), max(rec["b_best"]))
        # CODE verdict only when the arms' spreads do not overlap
        overlap = spread_a[0] <= spread_b[1] and spread_b[0] <= spread_a[1]
        rec["verdict"] = "HOST" if overlap else "CODE"
        result["queries"][name] = rec
        print(f"=> {name}: A median {rec['a_median']}s "
              f"{spread_a} vs B median {rec['b_median']}s {spread_b} "
              f"-> {rec['verdict']}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
