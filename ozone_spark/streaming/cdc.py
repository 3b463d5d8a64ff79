"""CDC incremental view maintenance (SURVEY.md §2.8 ST1-ST5, §4).

Reference architecture: Recon tails the OM RocksDB WAL as sequence-
numbered DBUpdates (OzoneManagerServiceProviderImpl.java:642-646),
decodes them into typed PUT/DELETE events (OMDBUpdatesHandler.java:
71-99), and every task maintains its materialized view with a dual
path — incremental `process(events)` and full-rebuild `reprocess(db)`
(ReconOmTask contract; overflow of the bounded event buffer falls back
to reprocess, OMUpdateEventBuffer / ST3).

Spark-native mapping:
  - WAL          -> an append-only parquet event log (seq-ordered files);
                    offsets come from the streaming file source
  - decode       -> typed columns on the event rows
  - process()    -> Structured Streaming foreachBatch merging signed
                    deltas (+1 PUT / -1 DELETE) into the view store
  - reprocess()  -> the batch operators in ozone_spark.operators
                    (namespace_rollup, file_size_histogram, ...)
  - invariant    -> after draining the log, process() == reprocess()
                    (FIXTURES.md §3.3/3.6; asserted in tests)

Scale notes: each micro-batch shuffles only the delta keyed by the view
key; the view store itself is partitioned parquet merged by key —
at 100 TB this is the standard foreachBatch+MERGE pattern with the view
bucketed by its group key, and the bounded-buffer fallback is a
Trigger.AvailableNow full rebuild.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ozone_spark.functions.bins import FILE_BIN_BASE_EXP, FILE_BIN_MAX_IDX, size_bin_index

CDC_COLUMNS = ["seq", "op", "db_key", "volume", "bucket", "key_name",
               "object_id", "data_size", "replicated_size", "event_time"]


def synthesize_cdc_log(keys: DataFrame, deleted_object_ids: DataFrame,
                       out_dir: str, n_chunks: int = 8,
                       locations: DataFrame | None = None) -> None:
    """Build a seq-ordered PUT/DELETE event log from the key table:
    every key is PUT at its creation_time; keys in `deleted_object_ids`
    get a later DELETE event.  Written as `n_chunks` seq-ranged parquet
    files so the file source replays them as ordered micro-batches
    (the WAL-tail analog).

    When `locations` is given, each event additionally carries its
    block-location payload (`block_locations` array<struct>) — the
    reference's events embed the full OmKeyInfo including its
    keyLocationVersions (OMDBUpdatesHandler.java:71-99), so a consumer
    reads locations AS OF the event, not from a later table state."""
    if locations is not None:
        locs = (
            locations.groupBy("object_id")
            .agg(F.array_sort(F.collect_list(F.struct(
                "block_seq", "container_id", "block_len")))
                .alias("block_locations"))
        )
        keys = keys.join(locs, "object_id", "left")
    loc_cols = ["block_locations"] if locations is not None else []
    puts = keys.select(
        F.lit("PUT").alias("op"), "db_key", "volume", "bucket", "key_name",
        "object_id", "data_size", "replicated_size",
        F.col("creation_time").alias("event_time"), *loc_cols,
    )
    max_t = keys.agg(F.max("creation_time")).collect()[0][0] or 0
    deletes = (
        keys.join(deleted_object_ids.select("object_id"), "object_id", "left_semi")
        .select(
            F.lit("DELETE").alias("op"), "db_key", "volume", "bucket", "key_name",
            "object_id", "data_size", "replicated_size",
            (F.lit(max_t) + F.col("object_id") % 1000 + 1).alias("event_time"),
            *loc_cols,
        )
    )
    # The global seq decomposes EXACTLY into two per-op sequences:
    # every DELETE event_time is > max(PUT creation_time) by
    # construction, so "order by (event_time, op, db_key)" == all PUTs
    # by (event_time, db_key) followed by all DELETEs by the same —
    # i.e. a row_number per op partition plus a constant offset of
    # n_puts for the DELETE half.  This keeps the window partitioned by
    # a real column (no unpartitioned corpus-sized window, no masked
    # WindowExec warning — ADVICE r9) and stays fully deterministic:
    # db_key is unique within each op half, so the sort key is a total
    # order.
    n_puts = puts.count()
    per_op = Window.partitionBy("op").orderBy("event_time", "db_key")
    log = (
        puts.unionByName(deletes)
        .withColumn("seq", F.row_number().over(per_op)
                    + F.when(F.col("op") == "DELETE",
                             F.lit(n_puts)).otherwise(F.lit(0)))
        .select(*CDC_COLUMNS, *loc_cols)
    )
    n = log.count()
    chunk = (n + n_chunks - 1) // n_chunks
    (
        log.withColumn("chunk", ((F.col("seq") - 1) / chunk).cast("int"))
        .repartition(1)
        .sortWithinPartitions("seq")
        .write.partitionBy("chunk").mode("overwrite").parquet(out_dir)
    )


def read_cdc_stream(spark: SparkSession, cdc_dir: str,
                    max_files_per_trigger: int = 1) -> DataFrame:
    """ST1: the change-log streaming source; file-source offsets play the
    role of the WAL sequence checkpoint."""
    schema = spark.read.parquet(cdc_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(cdc_dir)
    )


def histogram_delta(events: DataFrame) -> DataFrame:
    """ST4 process() delta for the file-size histogram (A1): signed
    counts per (volume, bucket, bin)."""
    sign = F.when(F.col("op") == "PUT", F.lit(1)).otherwise(F.lit(-1))
    bin_idx = size_bin_index(F.col("data_size"), FILE_BIN_BASE_EXP, FILE_BIN_MAX_IDX)
    return (
        events.select("volume", "bucket", bin_idx.alias("bin_index"),
                      sign.alias("delta"))
        .groupBy("volume", "bucket", "bin_index")
        .agg(F.sum("delta").alias("delta"))
    )


def table_stats_delta(events: DataFrame) -> DataFrame:
    """ST4 process() delta for the table-insight counts (A3)."""
    sign = F.when(F.col("op") == "PUT", F.lit(1)).otherwise(F.lit(-1))
    return events.agg(
        F.sum(sign).alias("key_count_delta"),
        F.sum(sign * F.col("data_size")).alias("bytes_delta"),
        F.sum(sign * F.col("replicated_size")).alias("replicated_delta"),
    )


class IncrementalViewStore:
    """Parquet-backed materialized-view store with merge-by-key — the
    Recon RocksDB/Derby store analog.

    The store is hash-partitioned into `n_buckets` directories
    (`view_bucket=N/`, N = xxhash64(group key) mod n_buckets) and a
    merge rewrites ONLY the buckets its delta touches — O(delta), not
    O(view), per micro-batch.  The reference gets the same property from
    RocksDB point writes; a Delta-Lake MERGE would give it too, but
    plain parquet + bucket swap keeps the engine dependency-free.  At
    100 TB raise n_buckets so each bucket is a few hundred MB (the swap
    below is a local-fs rename; on an object store it becomes the usual
    staged-commit/manifest protocol).

    Delta rows are signed measure deltas, summed into the view; rows
    whose measures all reach zero are dropped (the reference deletes
    emptied histogram rows the same way).

    A fold is not idempotent, so a merge tagged with a micro-batch id
    records that id in `_last_batch_id` (the leading `_` hides it from
    the parquet reader) and a later merge with an id at or below it is
    skipped: a batch the stream replays after a failure before its
    commit is folded once.  The id is written after the bucket swap.
    """

    def __init__(self, spark: SparkSession, path: str, group_cols: list[str],
                 measure_cols: list[str], n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.group_cols = group_cols
        self.measure_cols = measure_cols
        self.n_buckets = n_buckets
        self._batch_marker = os.path.join(path, "_last_batch_id")

    def _bucket_expr(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.group_cols), F.lit(self.n_buckets))

    def _has_data(self) -> bool:
        return os.path.exists(self.path) and any(
            e.startswith("view_bucket=") for e in os.listdir(self.path))

    def current(self) -> DataFrame | None:
        if not self._has_data():
            return None
        return self.spark.read.parquet(self.path).drop("view_bucket")

    def last_batch_id(self) -> int:
        """The id of the last micro-batch merged, or -1."""
        if not os.path.exists(self._batch_marker):
            return -1
        with open(self._batch_marker) as f:
            return int(f.read())

    def merge(self, delta: DataFrame, batch_id: int | None = None) -> None:
        if batch_id is not None and batch_id <= self.last_batch_id():
            return  # a replayed micro-batch: already folded in
        delta = delta.withColumn("view_bucket", self._bucket_expr())
        touched = sorted(
            r[0] for r in delta.select("view_bucket").distinct().collect())
        if touched:
            self._fold_buckets(delta, touched)
        if batch_id is not None:
            os.makedirs(self.path, exist_ok=True)
            tmp = self._batch_marker + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(batch_id))
            os.replace(tmp, self._batch_marker)

    def _fold_buckets(self, delta: DataFrame, touched: list[int]) -> None:
        merged = delta
        if self._has_data():
            # partition-pruned read: untouched buckets are never scanned
            merged = (self.spark.read.parquet(self.path)
                      .where(F.col("view_bucket").isin(touched))
                      .unionByName(delta))
        folded = (
            merged.groupBy(*self.group_cols)
            .agg(*[F.sum(c).alias(c) for c in self.measure_cols])
            .where(" OR ".join(f"{c} != 0" for c in self.measure_cols))
            .withColumn("view_bucket", self._bucket_expr())
        )
        tmp = self.path + ".tmpbatch"
        folded.write.mode("overwrite").partitionBy("view_bucket").parquet(tmp)
        os.makedirs(self.path, exist_ok=True)
        for b in touched:  # swap in only the touched buckets
            dst = os.path.join(self.path, f"view_bucket={b}")
            shutil.rmtree(dst, ignore_errors=True)
            src = os.path.join(tmp, f"view_bucket={b}")
            if os.path.exists(src):  # bucket may have folded to empty
                shutil.move(src, dst)
        shutil.rmtree(tmp, ignore_errors=True)


def run_incremental_view(spark: SparkSession, cdc_dir: str,
                         store: IncrementalViewStore, checkpoint_dir: str,
                         delta_fn) -> None:
    """ST2-ST5 wired together: stream the CDC log (AvailableNow drains
    the backlog like Recon's catch-up), fold each micro-batch through
    `delta_fn` into the view store — the generic ReconOmTask.process()
    runner; every maintained view below is one delta function."""

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        store.merge(delta_fn(batch_df), batch_id)

    q = (
        read_cdc_stream(spark, cdc_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_histogram(spark: SparkSession, cdc_dir: str,
                              store_path: str, checkpoint_dir: str) -> None:
    """ST4: the file-size histogram (A1) maintained incrementally."""
    store = IncrementalViewStore(
        spark, store_path, ["volume", "bucket", "bin_index"], ["delta"])
    run_incremental_view(spark, cdc_dir, store, checkpoint_dir, histogram_delta)


def namespace_dist_delta(events: DataFrame) -> DataFrame:
    """ST4 process() delta for the per-directory file-size distribution
    (NSSummary fileSizeBucket[41] — NSSummary.java:38-44): signed counts
    per (ancestor dir, bin).  Same codegen'd ancestors explode as the
    batch operator, so process()==reprocess() holds bin-for-bin."""
    from ozone_spark.operators.namespace import explode_ancestors

    sign = F.when(F.col("op") == "PUT", F.lit(1)).otherwise(F.lit(-1))
    bin_idx = size_bin_index(F.col("data_size"), FILE_BIN_BASE_EXP,
                             FILE_BIN_MAX_IDX)
    rows = events.select(
        "volume", "bucket", "key_name",
        sign.alias("sign"), bin_idx.alias("bin_index"))
    return (
        explode_ancestors(rows, ["bin_index", "sign"])
        .groupBy("dir_path", "bin_index")
        .agg(F.sum("sign").alias("file_count"))
    )


def run_incremental_namespace_dist(spark: SparkSession, cdc_dir: str,
                                   store_path: str,
                                   checkpoint_dir: str) -> None:
    """ST4: the /namespace/dist histogram maintained incrementally."""
    store = IncrementalViewStore(
        spark, store_path, ["dir_path", "bin_index"], ["file_count"])
    run_incremental_view(spark, cdc_dir, store, checkpoint_dir,
                         namespace_dist_delta)


def quota_delta(events: DataFrame) -> DataFrame:
    """ST4 process() delta for quota accounting (A5 — the incremental
    usedBytes/usedNamespace path; the repair job is the batch oracle)."""
    sign = F.when(F.col("op") == "PUT", F.lit(1)).otherwise(F.lit(-1))
    return (
        events.groupBy("volume", "bucket")
        .agg(F.sum(sign).alias("used_namespace"),
             F.sum(sign * F.col("data_size")).alias("used_bytes"),
             F.sum(sign * F.col("replicated_size")).alias("used_replicated_bytes"))
    )


def run_incremental_quota(spark: SparkSession, cdc_dir: str,
                          store_path: str, checkpoint_dir: str) -> None:
    store = IncrementalViewStore(
        spark, store_path, ["volume", "bucket"],
        ["used_namespace", "used_bytes", "used_replicated_bytes"])
    run_incremental_view(spark, cdc_dir, store, checkpoint_dir, quota_delta)


def run_incremental_container_index(spark: SparkSession, cdc_dir: str,
                                    locations: DataFrame | None,
                                    store_path: str,
                                    checkpoint_dir: str) -> None:
    """ST4 for the container→key inverted index (J5 — the reference
    maintains it with the same dual contract:
    ContainerKeyMapperHelper.java:144-175 reprocess, :239-274 delta).

    Preferred path (locations=None): each event carries its own
    `block_locations` payload (synthesize_cdc_log(..., locations=...)),
    mirroring the reference's per-event OmKeyInfo decode
    (OMDBUpdatesHandler.java:71-99) — locations are read AS OF the
    event, so a location change between event and processing time
    cannot skew the index, and no side-table join happens at all.

    Fallback path: join each micro-batch to a static `locations`
    snapshot (the pre-round-3 behavior; correct only while locations
    are immutable)."""
    store = IncrementalViewStore(
        spark, store_path, ["container_id"],
        ["block_count", "total_bytes"])

    if locations is None:
        def index_delta(batch_df: DataFrame) -> DataFrame:
            sign = F.when(F.col("op") == "PUT", F.lit(1)).otherwise(F.lit(-1))
            return (
                batch_df.select(sign.alias("sign"),
                                F.explode("block_locations").alias("loc"))
                .groupBy(F.col("loc.container_id").alias("container_id"))
                .agg(F.sum("sign").alias("block_count"),
                     F.sum(F.col("sign") * F.col("loc.block_len"))
                     .alias("total_bytes"))
            )
    else:
        loc = locations.select("object_id", "container_id", "block_len")

        def index_delta(batch_df: DataFrame) -> DataFrame:
            sign = F.when(F.col("op") == "PUT", F.lit(1)).otherwise(F.lit(-1))
            return (
                batch_df.select("object_id", sign.alias("sign"))
                .join(loc, "object_id")
                .groupBy("container_id")
                .agg(F.sum("sign").alias("block_count"),
                     F.sum(F.col("sign") * F.col("block_len"))
                     .alias("total_bytes"))
            )

    run_incremental_view(spark, cdc_dir, store, checkpoint_dir, index_delta)


def task_status(spark: SparkSession,
                checkpoints: dict[str, str]) -> DataFrame:
    """TaskStatusService analog (recon api/TaskStatusService.java — the
    per-ReconOmTask lastUpdatedSeqNumber/lastUpdatedTimestamp table):
    one row per maintained view with its last committed micro-batch id
    and commit time, read from the Structured Streaming checkpoint's
    commit log (the engine's equivalent of the task-status RocksDB
    table).  A task with no commits yet reports batch -1."""
    import glob

    rows = []
    for task, ckpt in sorted(checkpoints.items()):
        commits = [
            int(os.path.basename(p)) for p in
            glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))
            if os.path.basename(p).isdigit()
        ]
        last = max(commits, default=-1)
        mtime = 0
        if last >= 0:
            mtime = int(os.path.getmtime(
                os.path.join(ckpt, "commits", str(last))) * 1000)
        rows.append((task, last, mtime))
    return spark.createDataFrame(
        rows, "task string, last_batch_id long, last_commit_ms long")


def reprocess_histogram(keys_now: DataFrame) -> DataFrame:
    """ST3 fallback / invariant oracle: full rebuild from current state
    (the reference's reprocess() path)."""
    bin_idx = size_bin_index(F.col("data_size"), FILE_BIN_BASE_EXP, FILE_BIN_MAX_IDX)
    return (
        keys_now.select("volume", "bucket", bin_idx.alias("bin_index"))
        .groupBy("volume", "bucket", "bin_index")
        .agg(F.count("*").alias("delta"))
    )


# --------------------------------------------- ST3: bounded event buffer

EVENT_BUFFER_CAPACITY = 100_000


def process_or_reprocess(spark: SparkSession, cdc_dir: str,
                         keys_now: DataFrame, store_path: str,
                         checkpoint_dir: str,
                         capacity: int = EVENT_BUFFER_CAPACITY) -> DataFrame:
    """ST3's bounded-buffer contract as one callable: when the pending
    change-log exceeds the buffer capacity, fall back to a full
    reprocess() from current state instead of draining event-by-event
    (the reference drops the buffered deltas and re-snapshots when the
    OM delta-update buffer overflows; Recon tasks likewise
    re-initialize from a fresh OM checkpoint).  Below capacity, the
    incremental drain runs through the real Structured-Streaming
    machinery and the store is returned.

    Both branches return the same (volume, bucket, bin_index, delta)
    frame tagged with the path taken — the invariant process() ==
    reprocess() means the choice is a pure efficiency decision, which
    is exactly what the gate query materializes by running both.

    The capacity probe is a metadata-cheap count of the pending log
    (file-source offset arithmetic at real scale, not a data scan)."""
    pending = spark.read.parquet(cdc_dir).count()
    if pending > capacity:
        return reprocess_histogram(keys_now) \
            .withColumn("path", F.lit("reprocess"))
    run_incremental_histogram(spark, cdc_dir, store_path, checkpoint_dir)
    store = IncrementalViewStore(
        spark, store_path, ["volume", "bucket", "bin_index"], ["delta"])
    return store.current().withColumn("path", F.lit("incremental"))
