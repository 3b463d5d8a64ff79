#!/usr/bin/env python3
"""ozone_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload ns_interactive --seed 1 \
        --seconds 10 --trace 0

Workloads: ns_interactive, curation_cdc (see workloads.py).
The inputs are generated from --seed; the engine sees nothing else.  The
run builds its Spark session on local[nproc] several times (set-up),
runs an untimed warm-up pass, then a fixed number of timed passes: as
many as fill --seconds at the workload's nominal pass time.  Every
result is checked after the timed window.  The last line of standard
output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(a second, traced timed phase with spans, job groups and an
uncompressed Spark event log), and writes the spans to
.perfbench_out/<workload>-seed<N>-spans.json.  All scratch files live in
.perfbench_work/ and are removed when the run ends.  Human-readable
progress goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ns_interactive", "curation_cdc")


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def _launcher_env(work: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    the private work directory, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"


def _stop_jvm() -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each process to end."""
    from pyspark import SparkContext
    from procstat import _descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = _descendants(proc.pid) if proc else []
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one timed result before the "
                    "checks, which must then count it as failed")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ozone_spark", "session.py")):
        log(f"ozone_spark package not found under {ROOT}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _launcher_env(work, bool(args.trace))
    sys.path[:0] = [HERE, ROOT]
    cwd = os.getcwd()
    os.chdir(work)   # spark-warehouse/, metastore_db/ and the like land here
    try:
        import harness
        result = harness.run(args, ROOT, work, log)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_jvm()
            log("stopped")
        finally:
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass   # another run still has its directory there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
