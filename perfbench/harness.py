"""Run one workload: set-up cycles, warm-up, timed phase, optional
traced phase, result checks, and the metric report.

Layer calls are timed from outside, at the engine's public functions:
`session.get_spark`, `registry.views`, the `api.OzoneSparkNamespace`
methods, `registry.queries()[name]`, `streaming.cdc.synthesize_cdc_log`,
`streaming.rollup.run_incremental_rollup` and the slot-cache functions
of `functions.dedup`.

Set-up runs SETUP_CYCLES times in one process: the first cycle launches
the JVM, the later ones stop the session and build a new one on the
running JVM.  Each cycle builds the session, materializes the views the
workload reads and makes its fixtures; setup_s is the median cycle.  The
warm-up pass runs once, after the last cycle, and is reported on its
own (setup.warmup_s), not inside setup_s.

Other tenants of the host slow some passes and ops of a run, never
speed them up, so the end-to-end timings read the least disturbed
samples of the timed phase: wall_s and throughput the fastest timed
pass, op_p50_ms the median op of the pass mix with each op at the
fastest latency its kind reached.  Their load also changes over minutes,
slowing whole runs by up to 2x, so these three are then scaled to a
reference host speed: multiplied by PROBE_REF_S / probe_s, where
probe_s is the median time of a fixed pure-CPU Spark job (the
benchmark's own, not the engine's) run PROBES_PER_PASS times after each
timed pass.  Raw timings go to standard error.  setup_s is not scaled:
it is measured a minute or more before the first probe, on a JVM that
is still compiling.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time

from procstat import ProcSampler, cpu_delta
from tracing import BatchClock, Tracer, read_event_log

SETUP_CYCLES = 3
PROBE_ROWS = 64_000_000
PROBES_PER_PASS = 2
PROBE_REF_S = 0.25   # probe_s on an idle 4-core host


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class Ctx:
    """Everything a workload touches: the session, the tracer, the
    batch clock and the op log of the current phase."""

    def __init__(self, args, work: str, data: str):
        self.args = args
        self.seed = args.seed
        self.work = work
        self.data = data
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.tracer = Tracer(False)
        self.clock = None
        self.old_sessions = []   # kept alive so no id() is ever reused
        self.ops: list[dict] = []
        self.op_seq = 0

    # -- ops -------------------------------------------------------------
    def _group(self, gid: str | None) -> None:
        sc = self.spark.sparkContext
        if gid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(gid, gid)

    def op(self, kind: str, layer: str, build, action, info: dict) -> dict:
        """One client operation: `build()` calls into the layer and
        returns a DataFrame, `action(df)` brings the result to the
        driver.  Failures are recorded, never raised."""
        self.op_seq += 1
        oid = self.op_seq
        tr = self.tracer
        rec = {"kind": kind, "op": oid, "info": info, "error": None,
               "result": None}
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=oid):
                if tr.enabled:
                    self._group(f"pb-{oid}-build")
                with tr.span(layer):
                    df = build()
                if tr.enabled:
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    self._group(f"pb-{oid}-exec")
                with tr.span("exec"):
                    rec["result"] = action(df)
        except Exception as ex:  # an op that raised counts as failed
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
        finally:
            if tr.enabled:
                self._group(None)
        rec["lat"] = time.perf_counter() - t0
        self.ops.append(rec)
        return rec


def _provenance(ctx: Ctx, root: str) -> dict:
    import duckdb
    import pyspark
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {"nproc": ctx.cpus, "spark": pyspark.__version__,
            "duckdb": duckdb.__version__, "git_rev": rev,
            "seed": ctx.seed, "workload": ctx.args.workload}


def host_probe(spark) -> float:
    """Seconds of a fixed pure-CPU Spark job: no IO, one row per task
    shuffled."""
    t0 = time.perf_counter()
    spark.range(0, PROBE_ROWS, 1, 32).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s").collect()
    return time.perf_counter() - t0


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def run(args, root: str, work: str, log) -> dict:
    """Returns the result object printed as the benchmark's last line."""
    import fixtures
    import workloads
    from ozone_spark import session as ozs_session
    from ozone_spark.functions import dedup

    data = os.path.join(work, "data")
    fixtures.generate(data, args.seed, workloads.SCALE)
    ctx = Ctx(args, work, data)
    wl = workloads.WORKLOADS[args.workload](ctx)

    # ---- set-up, several times; the median is setup_s ----------------
    cycles, builds, views_s, cached = [], [], [], []
    for c in range(SETUP_CYCLES):
        if ctx.spark is not None:
            dedup.release_slots()
            ctx.old_sessions.append((ctx.spark, ctx.spark.sparkContext))
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = ozs_session.get_spark("perfbench", cpus=ctx.cpus)
        t1 = time.perf_counter()
        wl.materialize_views()
        t2 = time.perf_counter()
        wl.fixtures()
        t3 = time.perf_counter()
        cycles.append(t3 - t0)
        builds.append(t1 - t0)
        views_s.append(t2 - t1)
        cached.append(_cached_mb(ctx.spark))
        log(f"setup cycle {c}: {t3 - t0:.3f}s (session {t1 - t0:.3f}s, "
            f"views {t2 - t1:.3f}s, fixtures {t3 - t2:.3f}s)")
    spark = ctx.spark
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    sampler = ProcSampler(jvm_pid)
    ctx.clock = BatchClock()
    spark.streams.addListener(ctx.clock)
    prov = _provenance(ctx, root)
    prov["calib_start"] = ozs_session.jvm_calibrate(spark, reps=1)

    # ---- one untimed warm-up pass --------------------------------------
    t0 = time.perf_counter()
    ctx.ops = []
    wl.run_pass(-1)
    warm_ops = ctx.ops
    warmup_s = time.perf_counter() - t0
    log(f"warm-up pass: {warmup_s:.3f}s")

    # a fixed amount of work per run: as many passes as fill --seconds
    # at the workload's nominal pass time, whatever the host's speed
    n_pass = max(1, math.ceil(args.seconds / wl.PASS_S))

    def phase(traced: bool) -> dict:
        ctx.tracer = Tracer(traced)
        ctx.ops = []
        passes = []
        n_batches0 = len(ctx.clock.batches)
        slots0 = dedup.slot_stats()
        cpu0 = sampler.cpu()
        e0 = time.time() * 1000.0
        pass_cpu, c0, probes = [], cpu0, []
        if not traced:
            host_probe(spark)   # compiles the probe, untimed
        for p in range(n_pass):
            tp = time.perf_counter()
            units = wl.run_pass(p)
            passes.append((time.perf_counter() - tp, units))
            c1 = sampler.cpu()
            d = cpu_delta(c0, c1)
            pass_cpu.append(d["driver"] + d["jvm"] - d["jit"] + d["workers"])
            c0 = c1
            if not traced:
                probes += [host_probe(spark) for _ in range(PROBES_PER_PASS)]
                c0 = sampler.cpu()
            log(f"pass {p}: {passes[-1][0]:.3f}s, cpu {pass_cpu[-1]:.2f}s, "
                f"jit {d['jit']:.2f}s, probes " + " ".join(
                    f"{x:.3f}" for x in probes[-PROBES_PER_PASS:]))
        cpu = cpu_delta(cpu0, c0)
        e1 = time.time() * 1000.0
        ctx.clock.settle()
        slots1 = dedup.slot_stats()
        hits = sum(v[0] for v in slots1.values()) - \
            sum(v[0] for v in slots0.values())
        misses = sum(v[1] for v in slots1.values()) - \
            sum(v[1] for v in slots0.values())
        return {"passes": passes, "cpu": cpu, "pass_cpu": pass_cpu,
                "probes": probes,
                "ops": ctx.ops,
                "batches": ctx.clock.batches[n_batches0:],
                "epoch": (e0, e1), "tracer": ctx.tracer,
                "slots": (hits, misses)}

    untraced = phase(False)
    traced = phase(True) if args.trace else None
    peak_rss = sampler.peak_rss_mb()
    probe_s = _median(untraced["probes"])
    prov["calib_end"] = ozs_session.jvm_calibrate(spark, reps=1)

    if args.corrupt:
        _corrupt_one(untraced["ops"])

    # ---- checks, outside every timed window ----------------------------
    t0 = time.perf_counter()
    failures = wl.check(warm_ops, untraced["ops"]
                        + (traced["ops"] if traced else []))
    log(f"checks: {time.perf_counter() - t0:.3f}s")
    spark.streams.removeListener(ctx.clock)
    dedup.release_slots()
    spark.stop()

    ph = untraced
    op_lat = _best_of_kind(ph["ops"])
    fastest = min(ph["passes"])
    attempted = len(warm_ops) + len(untraced["ops"]) + (
        len(traced["ops"]) if traced else 0)
    failed = len(failures)
    for f in failures[:20]:
        log(f"FAILED {f}")
    scale = PROBE_REF_S / probe_s
    e2e = {
        "setup_s": (_median(cycles), "s"),
        "wall_s": (fastest[0] * scale, "s"),
        "throughput": (fastest[1] / fastest[0] / scale, "1/s"),
        "op_p50_ms": (_median(op_lat) * 1e3 * scale, "ms"),
    }
    prov.update({
        "passes": n_pass, "ops": len(op_lat), "throughput_unit": wl.UNIT,
        "probe_s": probe_s, "raw_wall_s": fastest[0],
        "raw_op_p50_ms": _median(op_lat) * 1e3,
        "cpu_s": min(ph["pass_cpu"]),
        "setup_cycles_s": cycles, "warmup_s": warmup_s,
        "fail_ratio": failed / max(attempted, 1),
    })
    log("provenance " + repr(prov))
    log("timed ops: " + " ".join(f"{o['info'].get('name', o['kind'])}="
                                 f"{o['lat']:.3f}" for o in ph["ops"]))
    for k, (v, u) in e2e.items():
        log(f"{k:>14} = {v:.4f} {u}")
    log(f"{'peak_rss_mb':>14} = {peak_rss:.4f} MB")
    log(f"{'fail_ratio':>14} = {prov['fail_ratio']:.4f} ratio "
        f"({failed} of {attempted})")

    if not args.trace:
        metrics = e2e
    else:
        metrics = per_layer(ctx, wl, traced, untraced, builds, views_s,
                            cached, warmup_s, peak_rss, probe_s)
        for k, (v, u) in metrics.items():
            log(f"{k:>26} = {v:.4f} {u}")
        spans_path = os.path.join(
            root, ".perfbench_out",
            f"{args.workload}-seed{args.seed}-spans.json")
        traced["tracer"].dump(spans_path, {"provenance": prov})
        log(f"spans written to {spans_path}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def _best_of_kind(ops: list[dict]) -> list[float]:
    """Each op's latency replaced by the fastest latency of its kind
    (request type, or query name) in the same phase."""
    kind = lambda o: (o["kind"], o["info"].get("name"))  # noqa: E731
    best: dict = {}
    for o in ops:
        best[kind(o)] = min(best.get(kind(o), o["lat"]), o["lat"])
    return [best[kind(o)] for o in ops]


def _corrupt_one(ops: list[dict]) -> None:
    """Self-test hook: append a copy of the first row to one multi-row
    result, which breaks its order or its digest."""
    for o in ops:
        rows = o["result"]
        if isinstance(rows, list) and len(rows) >= 2 and o["kind"] in (
                "list_keys", "container_keys", "query"):
            o["result"] = rows + [rows[0]]
            return
    raise RuntimeError("no result to corrupt")


def op_breakdown(tracer: Tracer) -> list[dict]:
    """Per op: wall, and the summed build/plan/exec child spans."""
    out: dict[int, dict] = {}
    for i, s in enumerate(tracer.spans):
        if s.name == "op":
            out[i] = {"op": s.op, "wall": s.dur, "parts": 0.0}
    for s in tracer.spans:
        if s.parent in out:
            out[s.parent]["parts"] += s.dur
    return list(out.values())


def per_layer(ctx, wl, traced, untraced, builds, views_s, cached,
              warmup_s, peak_rss, probe_s) -> dict:
    """Per-layer numbers of the traced phase; per op, per pass or per
    set-up cycle as named.  Which end-to-end metric each should move,
    and on which workload (the other workload is the control):

      session.build_s, tables.views_s,     setup_s                both
      tables.cached_mb
      api.build_ms, catalyst.plan_ms       op_p50_ms, throughput  ns_interactive
      registry.build_ms, registry.build_jobs  wall_s, throughput  curation_cdc
      exec.ms, .jobs, .stages, .tasks      op_p50_ms, wall_s      both
      exec.run_s, .jvm_cpu_s, .noncpu_s,   wall_s, cpu_s          curation_cdc
      .gc_s, .shuffle_write_mb, .spill_mb
      functions.slot_*                     wall_s                 curation_cdc
      streaming.* (per micro-batch)        op_p50_ms, wall_s      curation_cdc
      streaming.drain_ms, .view_read_ms    wall_s, throughput     curation_cdc
      streaming.log_write_s                none (written once, in the
                                           warm-up)               curation_cdc
      process.cpu_s (least-CPU pass, JIT   none (no end-to-end    both
      compiler threads left out),          CPU metric: it swung
      process.cpu_s.{driver,jvm,workers,   with the host's load)
      jit}
      host.probe_s                         none (the host, not    both
                                           the program)
      process.peak_rss_mb                  none (memory; too noisy under
                                           the 8g heap for a bound)  both

    setup.warmup_s is the untimed warm-up pass; trace.* describe the
    instrument itself (tracing overhead against the untraced phase of
    the same run, and the lowest share of an op's wall time its build,
    plan and exec spans cover)."""
    tr: Tracer = traced["tracer"]
    n_pass = len(traced["passes"])
    by = {}
    for s in tr.spans:
        by.setdefault(s.name, []).append(s.dur)
    ops = traced["ops"]
    n_ops = max(len(ops), 1)
    drains = {o["op"] for o in ops if o["kind"] == "drain"}
    view_read = [s.dur for s in tr.spans
                 if s.name == "exec" and s.op in drains]
    log_dir = os.path.join(ctx.work, "eventlog")
    ex = read_event_log(log_dir, *traced["epoch"])
    build_jobs = [ex.jobs_by_group.get(f"pb-{o['op']}-build", 0)
                  for o in ops if o["kind"] == "query"]
    batches = traced["batches"]
    dur = lambda k: _median([b["dur"].get(k, 0) for b in batches])  # noqa: E731
    hits, misses = traced["slots"]
    cpu = traced["cpu"]
    t_wall = _median([t for t, _ in traced["passes"]])
    u_wall = _median([t for t, _ in untraced["passes"]])
    ms = lambda name: _median(by.get(name, [])) * 1e3  # noqa: E731
    return {
        "session.build_s": (_median(builds), "s"),
        "tables.views_s": (_median(views_s), "s"),
        "tables.cached_mb": (_median(cached), "MB"),
        "setup.warmup_s": (warmup_s, "s"),
        "api.build_ms": (ms("api.build"), "ms"),
        "registry.build_ms": (ms("registry.build"), "ms"),
        "registry.build_jobs": (sum(build_jobs) / max(len(build_jobs), 1),
                                "count"),
        "catalyst.plan_ms": (ms("catalyst.plan"), "ms"),
        "exec.ms": (ms("exec"), "ms"),
        "exec.jobs": (ex.jobs / n_ops, "count"),
        "exec.stages": (ex.stages / n_ops, "count"),
        "exec.tasks": (ex.tasks / n_ops, "count"),
        "exec.run_s": (ex.run_s / n_pass, "s"),
        "exec.jvm_cpu_s": (ex.jvm_cpu_s / n_pass, "s"),
        "exec.noncpu_s": ((ex.run_s - ex.jvm_cpu_s) / n_pass, "s"),
        "exec.gc_s": (ex.gc_s / n_pass, "s"),
        "exec.shuffle_write_mb": (ex.shuffle_write_mb / n_pass, "MB"),
        "exec.spill_mb": (ex.spill_mb / n_pass, "MB"),
        "functions.slot_hits": (hits / n_pass, "count"),
        "functions.slot_misses": (misses / n_pass, "count"),
        "functions.slot_hit_ratio": (hits / (hits + misses)
                                     if hits + misses else 0.0, "ratio"),
        "streaming.batches": (len(batches) / n_pass, "count"),
        "streaming.batch_rows": (_median([b["rows"] for b in batches]),
                                 "count"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.get_batch_ms": (dur("getBatch"), "ms"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.log_write_s": (wl.log_write_s or 0.0, "s"),
        "streaming.drain_ms": (ms("streaming.drain"), "ms"),
        "streaming.view_read_ms": (_median(view_read) * 1e3, "ms"),
        "process.cpu_s.driver": (cpu["driver"] / n_pass, "s"),
        "process.cpu_s.jvm": (cpu["jvm"] / n_pass, "s"),
        "process.cpu_s.workers": (cpu["workers"] / n_pass, "s"),
        "process.cpu_s.jit": (cpu["jit"] / n_pass, "s"),
        "process.cpu_s": (min(traced["pass_cpu"]), "s"),
        "host.probe_s": (probe_s, "s"),
        "process.peak_rss_mb": (peak_rss, "MB"),
        "trace.overhead_pct": (100.0 * (t_wall / u_wall - 1.0), "%"),
        "trace.op_coverage_pct": (_coverage(tr), "%"),
    }


def _coverage(tr: Tracer) -> float:
    """Lowest share of an op's wall time covered by its child spans."""
    rows = op_breakdown(tr)
    if not rows:
        return 100.0
    return min(100.0 * r["parts"] / r["wall"] for r in rows if r["wall"] > 0)
