"""Incremental namespace rollup (SURVEY.md §2.4 A4 + §2.8 ST4): the
NSSummary view maintained as one more delta function on the CDC fold
path (`cdc.run_incremental_view` + `IncrementalViewStore`).

Reference: NSSummaryTaskDbEventHandler.java:128-161 (per-event handlers)
and :426-449 (propagateSizeUpwards) — every key PUT/DELETE updates the
NSSummary node of each ancestor directory.  The reference walks parent
pointers per event against RocksDB; the Spark-native view instead:

  1. explodes each CDC event into (ancestor dir_path, signed deltas) —
     the propagation set, computed declaratively;
  2. sums the deltas per dir_path within the micro-batch (a partial +
     final HashAggregate: the measures are plain sums, so they
     decompose and no per-key user state is needed);
  3. folds the per-directory sums into the bucketed view store, which
     drops directories whose measures all reach zero (emptied dirs).

The view store is partitioned by dir_path — at 100 TB a micro-batch
rewrites only the hash buckets its directories fall in, and the
hottest keys (bucket roots) are bounded by #buckets.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from ozone_spark.streaming.cdc import IncrementalViewStore, run_incremental_view

ROLLUP_SCHEMA = StructType([
    StructField("dir_path", StringType()),
    StructField("num_files", LongType()),
    StructField("size_of_files", LongType()),
    StructField("replicated_size", LongType()),
])


def ancestor_deltas(events: DataFrame) -> DataFrame:
    """Step 1: the upward-propagation set — one signed delta row per
    (event, ancestor directory), depth-generic (shares the ancestor
    expression with the batch rollup so process()==reprocess() holds at
    any tree depth)."""
    from ozone_spark.operators.namespace import explode_ancestors
    sign = F.when(F.col("op") == "PUT", F.lit(1)).otherwise(F.lit(-1))
    deltas = events.select(
        "volume", "bucket", "key_name",
        sign.alias("d_files"),
        (sign * F.col("data_size")).alias("d_size"),
        (sign * F.col("replicated_size")).alias("d_repl"),
    )
    return explode_ancestors(deltas, ["d_files", "d_size", "d_repl"])


def rollup_delta(events: DataFrame) -> DataFrame:
    """Step 2: the ST4 process() delta — signed NSSummary measures per
    ancestor directory."""
    return ancestor_deltas(events).groupBy("dir_path").agg(
        F.sum("d_files").alias("num_files"),
        F.sum("d_size").alias("size_of_files"),
        F.sum("d_repl").alias("replicated_size"),
    )


def run_incremental_rollup(spark: SparkSession, cdc_dir: str,
                           checkpoint_dir: str,
                           store_path: str | None = None) -> DataFrame:
    """Drain the CDC log into the rollup view; returns the final
    NSSummary table.  Each micro-batch's per-directory deltas are folded
    into a bucket-partitioned parquet store (the Recon async-flusher
    analog, NSSummaryAsyncFlusher): the view scales with the parquet
    store, and nothing is ever collected to the driver."""
    store = IncrementalViewStore(
        spark, store_path or checkpoint_dir.rstrip("/") + "_view",
        ["dir_path"], ["num_files", "size_of_files", "replicated_size"])
    run_incremental_view(spark, cdc_dir, store, checkpoint_dir, rollup_delta)
    cur = store.current()
    if cur is None:
        return spark.createDataFrame([], ROLLUP_SCHEMA)
    return cur
