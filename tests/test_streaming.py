"""Streaming invariants (SURVEY.md §2.8, FIXTURES.md §3.3/3.6):
  - incremental process() over the drained CDC log == batch reprocess()
    of the final state (the reference's dual-path contract)
  - streaming windowed aggregations (AvailableNow drain) == batch twins
"""

from __future__ import annotations

import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from ozone_spark import tables
from ozone_spark.operators.events import tumbling_daily
from ozone_spark.streaming import cdc, windows
from tests.util import canon, count_jobs


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ozs_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_cdc_incremental_histogram_matches_reprocess(spark, sf_dir, tmpdir):
    t = tables.namespace_views(spark, sf_dir)
    keys, deleted = t["keys"], t["deleted_keys"]

    cdc.synthesize_cdc_log(keys, deleted, f"{tmpdir}/cdc", n_chunks=6)
    cdc.run_incremental_histogram(
        spark, f"{tmpdir}/cdc", f"{tmpdir}/store", f"{tmpdir}/ckpt")

    incremental = cdc.IncrementalViewStore(
        spark, f"{tmpdir}/store",
        ["volume", "bucket", "bin_index"], ["delta"]).current()
    assert incremental is not None

    keys_now = keys.join(deleted.select("object_id"), "object_id", "left_anti")
    expected = cdc.reprocess_histogram(keys_now)
    assert canon(incremental.toPandas()) == canon(expected.toPandas())


def test_cdc_resume_from_checkpoint(spark, sf_dir, tmpdir):
    """ST5: offsets checkpoint — a second run over the same log must be a
    no-op (no double-counting)."""
    t = tables.namespace_views(spark, sf_dir)
    keys, deleted = t["keys"], t["deleted_keys"]
    cdc.synthesize_cdc_log(keys, deleted, f"{tmpdir}/cdc", n_chunks=4)
    for _ in range(2):  # second run resumes at the committed offset
        cdc.run_incremental_histogram(
            spark, f"{tmpdir}/cdc", f"{tmpdir}/store", f"{tmpdir}/ckpt")
    incremental = cdc.IncrementalViewStore(
        spark, f"{tmpdir}/store",
        ["volume", "bucket", "bin_index"], ["delta"]).current()
    keys_now = keys.join(deleted.select("object_id"), "object_id", "left_anti")
    expected = cdc.reprocess_histogram(keys_now)
    assert canon(incremental.toPandas()) == canon(expected.toPandas())
    # TaskStatusService analog: the drained task reports its committed
    # batches; an unstarted task reports -1
    status = {r.task: r for r in cdc.task_status(
        spark, {"histogram": f"{tmpdir}/ckpt",
                "never_ran": f"{tmpdir}/no_such_ckpt"}).collect()}
    assert status["histogram"].last_batch_id >= 3   # 4 chunks drained
    assert status["histogram"].last_commit_ms > 0
    assert status["never_ran"].last_batch_id == -1


def test_incremental_rollup_matches_batch(spark, sf_dir, tmpdir):
    """A4 incremental (signed ancestor deltas folded into the view
    store) == batch ancestors-explode rollup of the final key state
    (NSSummary propagate contract)."""
    from ozone_spark.operators.namespace import namespace_rollup
    from ozone_spark.streaming import rollup as sroll

    t = tables.namespace_views(spark, sf_dir)
    keys, deleted = t["keys"], t["deleted_keys"]
    cdc.synthesize_cdc_log(keys, deleted, f"{tmpdir}/cdc", n_chunks=5)
    got = sroll.run_incremental_rollup(spark, f"{tmpdir}/cdc", f"{tmpdir}/ck")

    keys_now = keys.join(deleted.select("object_id"), "object_id", "left_anti")
    expected = namespace_rollup(keys_now)
    assert canon(got.toPandas()) == canon(expected.toPandas())


def test_incremental_rollup_drops_emptied_directories(spark, tmpdir):
    """DELETEs in later chunks empty whole directories (a nested dir,
    its parent, and every dir of one bucket): their rows fold to all
    zeros and leave the view, which equals the batch rollup of the
    surviving keys."""
    from ozone_spark.operators.namespace import namespace_rollup
    from ozone_spark.streaming import rollup as sroll

    sizes = {("b1", "a/x1"): 10, ("b1", "a/x2"): 20, ("b1", "a/sub/y1"): 5,
             ("b1", "c/z1"): 7, ("b1", "top"): 3, ("b2", "d/e/f"): 11}
    deleted_in = {("b1", "a/x1"): 1, ("b1", "a/sub/y1"): 1,
                  ("b1", "a/x2"): 2, ("b2", "d/e/f"): 2}
    rows = []
    for oid, ((bucket, key), size) in enumerate(sorted(sizes.items())):
        rows.append(("PUT", bucket, key, oid, size, 0))
        if (bucket, key) in deleted_in:
            rows.append(("DELETE", bucket, key, oid, size,
                         deleted_in[(bucket, key)]))
    log = spark.createDataFrame(
        [(seq, op, f"/vol1/{b}/{k}", "vol1", b, k, oid, size, 3 * size,
          seq, chunk)
         for seq, (op, b, k, oid, size, chunk) in enumerate(rows, start=1)],
        "seq long, op string, db_key string, volume string, bucket string,"
        " key_name string, object_id long, data_size long,"
        " replicated_size long, event_time long, chunk int")
    log.repartition(1).write.partitionBy("chunk").parquet(f"{tmpdir}/cdc")

    got = sroll.run_incremental_rollup(spark, f"{tmpdir}/cdc", f"{tmpdir}/ck")

    dirs = {r.dir_path for r in got.collect()}
    assert dirs == {"/vol1/b1", "/vol1/b1/c"}
    keys_now = log.where("op = 'PUT'").join(
        log.where("op = 'DELETE'").select("object_id"), "object_id",
        "left_anti")
    assert canon(got.toPandas()) == \
        canon(namespace_rollup(keys_now).toPandas())


def test_rollup_replayed_batch_folds_once(spark, sf_dir, tmpdir):
    """A fold is not idempotent, so the view store skips a micro-batch
    id it has already merged: a plain re-run on the same checkpoint is a
    no-op, and a batch the stream replays (its commit lost after the
    merge) is not folded twice."""
    import os

    from ozone_spark.operators.namespace import namespace_rollup
    from ozone_spark.streaming import rollup as sroll

    t = tables.namespace_views(spark, sf_dir)
    keys, deleted = t["keys"], t["deleted_keys"]
    cdc.synthesize_cdc_log(keys, deleted, f"{tmpdir}/cdc", n_chunks=3)
    keys_now = keys.join(deleted.select("object_id"), "object_id", "left_anti")
    expected = canon(namespace_rollup(keys_now).toPandas())

    def drain():
        return canon(sroll.run_incremental_rollup(
            spark, f"{tmpdir}/cdc", f"{tmpdir}/ck",
            f"{tmpdir}/view").toPandas())

    assert drain() == expected
    assert drain() == expected  # resumes at the committed offset
    # drop the last commit: the restarted stream replays that batch id
    commits = f"{tmpdir}/ck/commits"
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(f"{commits}/{f}"):
            os.remove(f"{commits}/{f}")
    assert drain() == expected
    assert os.path.exists(f"{commits}/{last}")  # the replay did run


def test_view_store_skips_replayed_batch_id(spark, tmpdir):
    """Handing the fold store the same batch id twice leaves it
    unchanged; the id marker is invisible to the parquet reader."""
    store = cdc.IncrementalViewStore(spark, f"{tmpdir}/store", ["k"], ["v"])
    delta = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    assert store.last_batch_id() == -1
    store.merge(delta, 0)
    store.merge(delta, 0)
    assert {r.k: r.v for r in store.current().collect()} == {"a": 1, "b": 2}
    store.merge(delta, 1)
    store.merge(delta, 1)
    store.merge(delta, 0)
    assert {r.k: r.v for r in store.current().collect()} == {"a": 2, "b": 4}
    assert store.last_batch_id() == 1


def test_view_store_fresh_merge_runs_only_its_fold(spark, tmpdir):
    """A merge into an empty store skips the touched-bucket collect:
    it launches the jobs of its fold's write and nothing more, and the
    view holds every bucket that write produced."""
    import os

    store = cdc.IncrementalViewStore(spark, f"{tmpdir}/store", ["k"], ["v"])
    delta = spark.createDataFrame([(f"k{i}", i % 5 - 2) for i in range(200)],
                                  "k string, v long")
    fold = (delta.groupBy("k").agg(F.sum("v").alias("v")).where("v != 0")
            .withColumn("view_bucket", store._bucket_expr()))
    write = count_jobs(spark, "ozs-fold-write", lambda: fold.write.partitionBy(
        "view_bucket").parquet(f"{tmpdir}/fold"))
    merge = count_jobs(spark, "ozs-fresh-merge", lambda: store.merge(delta, 0))
    assert merge == write

    expected = {r.k: r.v for r in fold.collect()}
    assert {r.k: r.v for r in store.current().collect()} == expected
    assert sorted(e for e in os.listdir(f"{tmpdir}/store")
                  if e.startswith("view_bucket=")) == sorted(
        f"view_bucket={b}" for b in {r.view_bucket for r in fold.collect()})
    assert store.last_batch_id() == 0
    # a later merge reads the store back and folds into it
    store.merge(delta, 1)
    assert {r.k: r.v for r in store.current().collect()} == {
        k: 2 * v for k, v in expected.items()}


def test_cdc_incremental_container_index_matches_batch(spark, sf_dir, tmpdir):
    """ST4 for J5: the incrementally-maintained container index equals
    the batch index of the final (post-delete) key state."""
    from ozone_spark.operators.containers import container_key_index

    t = tables.namespace_views(spark, sf_dir)
    keys, deleted, locations = t["keys"], t["deleted_keys"], t["locations"]
    cdc.synthesize_cdc_log(keys, deleted, f"{tmpdir}/cdc", n_chunks=4)
    cdc.run_incremental_container_index(
        spark, f"{tmpdir}/cdc", locations, f"{tmpdir}/store", f"{tmpdir}/ck")
    got = spark.read.parquet(f"{tmpdir}/store").drop("view_bucket")

    live_locs = locations.join(deleted.select("object_id"), "object_id",
                               "left_anti")
    expected = container_key_index(live_locs).select(
        "container_id", "block_count", "total_bytes")
    assert canon(got.toPandas()) == canon(expected.toPandas())


def test_cdc_incremental_quota_matches_repair(spark, sf_dir, tmpdir):
    """ST4 for A5: incremental quota == the QuotaRepairTask-style full
    recompute over the final key state."""
    from ozone_spark.operators.namespace import quota_usage

    t = tables.namespace_views(spark, sf_dir)
    keys, deleted = t["keys"], t["deleted_keys"]
    cdc.synthesize_cdc_log(keys, deleted, f"{tmpdir}/cdc", n_chunks=4)
    cdc.run_incremental_quota(
        spark, f"{tmpdir}/cdc", f"{tmpdir}/store", f"{tmpdir}/ck")
    got = spark.read.parquet(f"{tmpdir}/store").drop("view_bucket")

    keys_now = keys.join(deleted.select("object_id"), "object_id", "left_anti")
    expected = quota_usage(keys_now).select(
        "volume", "bucket", "used_namespace", "used_bytes",
        "used_replicated_bytes")
    assert canon(got.toPandas()) == canon(expected.toPandas())


def test_cdc_incremental_namespace_dist_matches_batch(spark, sf_dir, tmpdir):
    """ST4 for the per-directory size distribution: incremental bin
    counts equal the batch namespace_dist of the final key state."""
    from ozone_spark.operators.namespace import namespace_dist

    t = tables.namespace_views(spark, sf_dir)
    keys, deleted = t["keys"], t["deleted_keys"]
    cdc.synthesize_cdc_log(keys, deleted, f"{tmpdir}/cdc", n_chunks=4)
    cdc.run_incremental_namespace_dist(
        spark, f"{tmpdir}/cdc", f"{tmpdir}/store", f"{tmpdir}/ck")
    got = spark.read.parquet(f"{tmpdir}/store").drop("view_bucket")

    keys_now = keys.join(deleted.select("object_id"), "object_id", "left_anti")
    expected = namespace_dist(keys_now).select(
        "dir_path", "bin_index", "file_count")
    assert canon(got.toPandas()) == canon(expected.toPandas())


def test_view_store_partial_rewrite(spark, tmpdir):
    """A merge rewrites ONLY the hash buckets its delta touches: files in
    untouched bucket directories are byte-identical and not re-written
    (O(delta) maintenance, not O(view) — VERDICT r01 'what's wrong' #3)."""
    import glob
    import os

    store = cdc.IncrementalViewStore(
        spark, f"{tmpdir}/store", ["k"], ["v"], n_buckets=8)
    base = spark.createDataFrame([(f"key{i}", 1) for i in range(64)], "k string, v long")
    store.merge(base)
    before = {f: os.path.getmtime(f)
              for f in glob.glob(f"{tmpdir}/store/view_bucket=*/*.parquet")}

    delta = spark.createDataFrame([("key0", 5)], "k string, v long")
    touched = delta.withColumn("b", store._bucket_expr()).collect()[0]["b"]
    store.merge(delta)

    after = {f: os.path.getmtime(f)
             for f in glob.glob(f"{tmpdir}/store/view_bucket=*/*.parquet")}
    untouched_before = {f: t for f, t in before.items()
                        if f"view_bucket={touched}/" not in f}
    assert untouched_before  # sanity: other buckets exist
    for f, t in untouched_before.items():
        assert after[f] == t, f"untouched bucket file rewritten: {f}"
    # and the fold itself is correct
    cur = {r.k: r.v for r in store.current().collect()}
    assert cur["key0"] == 6 and cur["key1"] == 1 and len(cur) == 64


def test_rollup_sink_never_collects():
    """The incremental rollup path must stay distributed — no driver-side
    collect() of micro-batch contents (VERDICT r01 'what's wrong' #2)."""
    import inspect

    from ozone_spark.streaming import rollup as sroll
    src = inspect.getsource(sroll.run_incremental_rollup)
    assert ".collect()" not in src


def test_compact_table_restores_layout(spark, sf_dir, tmpdir):
    """Compaction folds a fragmented table into few sorted files with
    identical content."""
    from ozone_spark import layout
    keys = tables.namespace_views(spark, sf_dir)["keys"]
    frag = f"{tmpdir}/frag"
    keys.repartition(37).write.parquet(frag)  # fragmented store
    before = keys.count()
    n_files = layout.compact_table(spark, frag, sort_cols=["db_key"])
    after = spark.read.parquet(frag)
    assert n_files <= 4
    assert after.count() == before
    assert canon(after.toPandas()) == canon(keys.toPandas())


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmpdir):
    ev_batch = tables.load_table(spark, sf_dir, "events")
    stream = windows.read_events_stream(spark, f"{sf_dir}/events.parquet")
    result = windows.drain_to_memory(
        windows.streaming_tumbling_daily(stream), spark,
        "t_tumbling", f"{tmpdir}/ckpt")
    expected = tumbling_daily(ev_batch)
    assert canon(result.toPandas()) == canon(expected.toPandas())


def test_watermark_drops_late_data(spark, tmpdir):
    """ST6: a row arriving behind the watermark is dropped from an
    append-mode windowed aggregation; the on-time rows are complete."""
    import pyspark.sql.functions as F

    on_time = spark.createDataFrame(
        [(i, f"2024-01-0{d} 10:00:00", 1.0)
         for i, d in enumerate([1, 1, 2, 2, 3, 4], start=1)],
        "event_id long, ts_s string, value double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")) \
     .withColumn("user_id", F.lit(1)).withColumn("event_type", F.lit("x")) \
     .withColumn("props", F.lit("{}")).drop("ts_s")
    late = spark.createDataFrame(
        [(99, "2024-01-01 10:00:00", 1.0)],
        "event_id long, ts_s string, value double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")) \
     .withColumn("user_id", F.lit(1)).withColumn("event_type", F.lit("x")) \
     .withColumn("props", F.lit("{}")).drop("ts_s")

    flush = spark.createDataFrame(
        [(50, "2024-01-04 11:00:00", 1.0)],
        "event_id long, ts_s string, value double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")) \
     .withColumn("user_id", F.lit(1)).withColumn("event_type", F.lit("x")) \
     .withColumn("props", F.lit("{}")).drop("ts_s")

    src = f"{tmpdir}/src"
    # batch0: on-time days 1-4 (advances the watermark to day 3);
    # batch1: one more on-time row — its batch evicts+emits the sealed
    #   day-1/day-2 windows (the watermark bounds *eviction*, so a
    #   straggler is only guaranteed dropped once its window's state is
    #   gone);
    # batch2: the day-1 straggler — state evicted, watermark ahead -> drop.
    on_time.coalesce(1).write.parquet(f"{src}/c0")
    flush.coalesce(1).write.parquet(f"{src}/c1")
    late.coalesce(1).write.parquet(f"{src}/c2")
    # the file source orders batches by modification time — pin them
    import glob
    import os
    import time as _time
    now = _time.time()
    for i, delta in ((0, -3600), (1, -1800), (2, 0)):
        for f in glob.glob(f"{src}/c{i}/*"):
            os.utime(f, (now + delta, now + delta))

    schema = spark.read.parquet(src + "/c0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/c*"))
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"), "n")
    )
    q = (agg.writeStream.format("memory").queryName("late_test")
         .outputMode("append")
         .option("checkpointLocation", f"{tmpdir}/ck")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.day: r.n for r in spark.table("late_test").collect()}
    # sealed windows carry on-time counts only — the straggler was dropped
    assert got.get("2024-01-01") == 2
    assert got.get("2024-01-02") == 2


def test_bounded_dedup_state_evicts_beyond_horizon(spark, tmpdir):
    """The dropDuplicatesWithinWatermark dedup really BOUNDS state: a
    duplicate inside the horizon is dropped, one arriving after the
    fingerprint's state was evicted passes again — the forget-beyond-
    horizon behavior that keeps state finite on an unbounded stream."""
    import glob
    import os
    import time as _time

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string,"
                                           " source string")

    src = f"{tmpdir}/src"
    base = 0
    hour_ms = 3_600_000
    # batch0: fp A at t0 + fp B duplicate-pair inside the horizon
    docs([(base, "alpha", "s"), (base + 1, "beta", "s"),
          (base + 2, "beta", "s")]).coalesce(1).write.parquet(f"{src}/c0")
    # batch1: watermark pusher at t0+3h (fp C) — watermark advances to
    # t0+2h only AFTER this batch
    docs([(3 * hour_ms, "gamma", "s")]).coalesce(1) \
        .write.parquet(f"{src}/c1")
    # batch2: second pusher — during it the t0+2h watermark is live, so
    # its end-of-batch cleanup evicts fp A's state (expiry t0+1h)
    docs([(3 * hour_ms + 1000, "delta", "s")]).coalesce(1) \
        .write.parquet(f"{src}/c2")
    # batch3: duplicate of fp A at t0+4h — state gone, passes again
    docs([(4 * hour_ms, "alpha", "s")]).coalesce(1) \
        .write.parquet(f"{src}/c3")
    now = _time.time()
    for i, delta in ((0, -3600), (1, -2400), (2, -1200), (3, 0)):
        for f in glob.glob(f"{src}/c{i}/*"):
            os.utime(f, (now + delta, now + delta))

    schema = spark.read.parquet(f"{src}/c0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/c*"))
    out = windows.streaming_dedup_within_watermark(stream, horizon="1 hour")
    q = (out.writeStream.format("memory").queryName("bounded_dedup")
         .outputMode("append")
         .option("checkpointLocation", f"{tmpdir}/ck")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = [r.fingerprint for r in spark.table("bounded_dedup").collect()]
    import hashlib
    fp = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got.count(fp("beta")) == 1     # in-horizon duplicate dropped
    assert got.count(fp("alpha")) == 2    # state evicted -> passed again
    assert got.count(fp("gamma")) == 1
    assert got.count(fp("delta")) == 1


def test_streaming_sessionize_runs(spark, sf_dir, tmpdir):
    """Session totals must cover every event exactly once."""
    ev_batch = tables.load_table(spark, sf_dir, "events")
    stream = windows.read_events_stream(spark, f"{sf_dir}/events.parquet")
    result = windows.drain_to_memory(
        windows.streaming_sessionize(stream), spark,
        "t_sessions", f"{tmpdir}/ckpt")
    total_stream = result.agg(F.sum("n_events")).collect()[0][0]
    assert total_stream == ev_batch.count()


def test_session_stats_state_spans_batches(spark, sf_dir, tmpdir):
    """applyInPandasWithState sessionizer: splitting the input into
    multiple micro-batches (time-ordered chunks) must produce the SAME
    closed sessions as one batch — the open-session state has to carry
    across triggers.  Also: emitted == batch sessions minus each
    user's final session."""
    import os
    events = tables.load_table(spark, sf_dir, "events").where("user_id < 40")
    # stage time-split chunks so each trigger gets one contiguous slice
    split = events.selectExpr("percentile(unix_millis(ts), 0.5)").collect()[0][0]
    chunk_dir = f"{tmpdir}/chunks"
    os.makedirs(chunk_dir)
    events.where(F.unix_millis("ts") <= split).coalesce(1) \
        .write.parquet(f"{tmpdir}/c1")
    events.where(F.unix_millis("ts") > split).coalesce(1) \
        .write.parquet(f"{tmpdir}/c2")
    for i, src in enumerate(("c1", "c2")):
        for f in os.listdir(f"{tmpdir}/{src}"):
            if f.endswith(".parquet"):
                os.rename(f"{tmpdir}/{src}/{f}", f"{chunk_dir}/{i:02d}.parquet")

    stream = windows.read_events_stream(spark, chunk_dir,
                                        max_files_per_trigger=1)
    got = windows.drain_to_memory(
        windows.streaming_session_stats(stream), spark,
        "sess_stats_batches", f"{tmpdir}/ckpt", output_mode="append",
    ).orderBy("user_id", "session_start_ms").collect()
    assert got, "no sessions closed across batches"

    # single-batch run over the identical rows
    stream1 = windows.read_events_stream(spark, chunk_dir,
                                         max_files_per_trigger=2)
    got1 = windows.drain_to_memory(
        windows.streaming_session_stats(stream1), spark,
        "sess_stats_single", f"{tmpdir}/ckpt1", output_mode="append",
    ).orderBy("user_id", "session_start_ms").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in got1]

    # batch twin: every user's non-final session appears exactly once
    from ozone_spark.operators.events import sessionize
    sess = sessionize(events).collect()
    per_user: dict[int, int] = {}
    for r in sess:
        per_user[r.user_id] = max(per_user.get(r.user_id, -1), r.session_id)
    expected_n = sum(1 for r in sess if r.session_id < per_user[r.user_id])
    assert len(got) == expected_n


def test_process_or_reprocess_boundary_and_equivalence(spark, sf_dir, tmpdir):
    """ST3 bounded-buffer contract: pending == capacity stays on the
    incremental path (overflow is strictly greater-than), pending >
    capacity falls back to reprocess, and both paths produce the same
    view rows (the process()==reprocess() invariant the gate hashes)."""
    t = tables.namespace_views(spark, sf_dir)
    keys, deleted = t["keys"], t["deleted_keys"]
    keys_now = keys.join(deleted.select("object_id"), "object_id",
                         "left_anti")
    cdc.synthesize_cdc_log(keys, deleted, f"{tmpdir}/cdc", n_chunks=4)
    pending = spark.read.parquet(f"{tmpdir}/cdc").count()

    at_cap = cdc.process_or_reprocess(
        spark, f"{tmpdir}/cdc", keys_now, f"{tmpdir}/s1", f"{tmpdir}/c1",
        capacity=pending)  # == capacity: no overflow
    assert at_cap.select("path").distinct().collect()[0][0] == "incremental"

    over = cdc.process_or_reprocess(
        spark, f"{tmpdir}/cdc", keys_now, f"{tmpdir}/s2", f"{tmpdir}/c2",
        capacity=pending - 1)  # > capacity: overflow -> reprocess
    assert over.select("path").distinct().collect()[0][0] == "reprocess"

    assert canon(at_cap.drop("path").toPandas()) == \
        canon(over.drop("path").toPandas())


def test_name_uuid_rfc4122_layout(spark):
    """snapshot_diff_job_ids: ids are valid v3-layout UUIDs (version
    nibble 3, variant in 89ab), stable across calls, distinct across
    distinct request tuples."""
    import re

    from ozone_spark.operators.snapshot import snapshot_diff_job_ids
    chain = tables.snapshot_chain_view(spark)
    a = {r.to_snapshot: r.job_id
         for r in snapshot_diff_job_ids(chain).collect()}
    b = {r.to_snapshot: r.job_id
         for r in snapshot_diff_job_ids(chain).collect()}
    assert a == b and len(set(a.values())) == len(a) == 2
    pat = re.compile(
        r"^[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[89ab][0-9a-f]{3}-"
        r"[0-9a-f]{12}$")
    assert all(pat.match(v) for v in a.values())
    # different volume/bucket -> different job (the jobKey tuple)
    c = {r.to_snapshot: r.job_id
         for r in snapshot_diff_job_ids(chain, volume="vol2").collect()}
    assert set(c.values()).isdisjoint(a.values())


def test_streaming_hdr_histogram_equals_batch_sketch(spark, sf_dir, tmpdir):
    """The stateful streaming HDR aggregation drained over one-file
    micro-batches equals the batch hdr_histogram row-for-row — counter
    addition across micro-batches IS the sketch merge, so the resident
    state is the same mergeable histogram the batch side computes (and
    its size is bucket-grammar-bounded, never corpus-bounded)."""
    from ozone_spark.functions import sketch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = windows.read_documents_stream(
        spark, f"{sf_dir}/documents.parquet")
    drained = windows.drain_to_memory(
        windows.streaming_hdr_histogram(stream), spark,
        "hdr_hist_stream", f"{tmpdir}/hdr_ckpt")
    got = sorted(tuple(r) for r in drained.collect())
    want = sorted(tuple(r) for r in sketch.hdr_histogram(docs).collect())
    assert got == want
    # and the quantile read-off over the drained state matches too
    got_q = sorted(tuple(r) for r in
                   sketch.hdr_quantiles_from_hist(drained).collect())
    want_q = sorted(tuple(r) for r in sketch.hdr_quantiles_from_hist(
        sketch.hdr_histogram(docs)).collect())
    assert got_q == want_q


def test_streaming_ingest_dedup_equals_batch(spark, sf_dir, tmpdir):
    """The foreachBatch ingest-dedup drain over multi-file micro-batches
    equals ONE batch classification of the whole ingest set: per-doc
    verdicts depend only on the resident corpus (persisted once as the
    probe index), so micro-batch boundaries are invisible in the
    result — the property that makes the streaming gate safe to roll
    out without re-verifying every batch split."""
    from ozone_spark.functions import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where("doc_id % 10 <> 0")
    ingest = docs.where("doc_id % 10 = 0")
    staged = f"{tmpdir}/ingest_src"
    ingest.repartition(7).write.mode("overwrite").parquet(staged)
    stream = windows.read_documents_stream(spark, staged)
    got = windows.streaming_ingest_dedup(
        spark, stream, corpus,
        f"{tmpdir}/ingest_out", f"{tmpdir}/ingest_ckpt")
    want = D.incremental_ingest_dedup(corpus, ingest)
    assert sorted(tuple(r) for r in got.collect()) == \
        sorted(tuple(r) for r in want.collect())


def test_streaming_ingest_dedup_recovering_equals_batch(spark, sf_dir, tmpdir):
    """VERDICT r10 item 4, streaming side: with recover_saturated on
    (cap 5 saturates the fixtures), the drained recovering stream still
    equals one recovering batch run — the extended resident index (the
    thinned saturated probe index + the uncapped corpus shingle table)
    is persisted once and micro-batch boundaries stay invisible."""
    from ozone_spark.functions import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where("doc_id % 10 <> 0")
    ingest = docs.where("doc_id % 10 = 0")
    staged = f"{tmpdir}/ingest_rec_src"
    ingest.repartition(5).write.mode("overwrite").parquet(staged)
    stream = windows.read_documents_stream(spark, staged)
    got = windows.streaming_ingest_dedup(
        spark, stream, corpus,
        f"{tmpdir}/ingest_rec_out", f"{tmpdir}/ingest_rec_ckpt",
        max_bucket=5, recover_saturated=3)
    want = D.incremental_ingest_dedup(
        corpus, ingest, max_bucket=5, recover_saturated=3)
    assert sorted(tuple(r) for r in got.collect()) == \
        sorted(tuple(r) for r in want.collect())


def test_cdc_reads_run_no_schema_job(spark, sf_dir, tmpdir):
    """The CDC stream and the view store read with schemas the engine
    declares or wrote, so building either runs no Spark job (schema
    inference would run one each)."""
    t = tables.namespace_views(spark, sf_dir)
    cdc.synthesize_cdc_log(t["keys"], t["deleted_keys"], f"{tmpdir}/cdc",
                           n_chunks=2)
    assert count_jobs(spark, "ozs-cdc-stream",
                      lambda: cdc.read_cdc_stream(spark, f"{tmpdir}/cdc")) == 0
    stream = cdc.read_cdc_stream(spark, f"{tmpdir}/cdc")
    assert stream.columns == cdc.CDC_COLUMNS + ["chunk"]
    assert stream.schema["seq"].dataType.simpleString() == "bigint"

    store = cdc.IncrementalViewStore(spark, f"{tmpdir}/store", ["k"], ["v"])
    store.merge(spark.createDataFrame([("a", 1), ("b", 2)],
                                      "k string, v long"), 0)
    assert count_jobs(spark, "ozs-view-current", store.current) == 0
    cur = store.current()
    assert cur.schema.simpleString() == "struct<k:string,v:bigint>"
    assert {r.k: r.v for r in cur.collect()} == {"a": 1, "b": 2}


def test_container_index_needs_block_locations(spark, sf_dir, tmpdir):
    """The payload-carrying container-index drain declares
    `block_locations`; a log written without it fails the drain rather
    than folding its NULLs into an empty index."""
    t = tables.namespace_views(spark, sf_dir)
    cdc.synthesize_cdc_log(t["keys"], t["deleted_keys"], f"{tmpdir}/cdc",
                           n_chunks=2)
    with pytest.raises(Exception, match="block_locations"):
        cdc.run_incremental_container_index(
            spark, f"{tmpdir}/cdc", None, f"{tmpdir}/store", f"{tmpdir}/ck")
