"""Namespace rollup / du / quota operators (SURVEY.md §2.4 A4/A5, §2.5 O5).

Reference semantics:
  - NSSummary rollup: per-directory *subtree* totals (numOfFiles,
    sizeOfFiles, replicatedSize) maintained by upward propagation along
    parent pointers — NSSummary.java:38-44,
    NSSummaryTaskDbEventHandler.java:128-161,426-449.
  - du endpoint: subtree totals + children sorted by size desc
    (NSSummaryEndpoint.java:69-173, sortSubPaths :100-113).
  - quota accounting: usedBytes/usedNamespace per bucket; full recompute
    repair QuotaRepairTask.java:82,258-351.

Spark-native shape: instead of pointer-walking (per-event RocksDB gets),
batch rollup explodes each key's ancestor-directory list and groupBys —
one shuffle keyed by dir_path; the partial aggregation (map-side combine)
plays the role of the reference's per-thread local maps.  The streaming
incremental path lives in ozone_spark/streaming/cdc.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

def ancestors_expr() -> F.Column:
    """Every ancestor directory of a key, at ANY depth: the bucket root
    plus each proper directory prefix of key_name — the declarative
    replacement for the reference's parent-pointer walk
    (NSSummaryTaskDbEventHandler.java:426-449 propagates upward through
    arbitrarily deep trees).

    NOTE: higher-order functions are interpreted, not codegen'd — hot
    paths should use explode_ancestors() below (same output, the depth
    index is exploded first and each path built with one codegen'd
    substring_index; ~2.4x faster at sf0.1)."""
    root = F.concat(F.lit("/"), F.col("volume"), F.lit("/"), F.col("bucket"))
    parts = F.split(F.col("key_name"), "/")
    dirs = F.transform(
        F.sequence(F.lit(1), F.size(parts) - 1),
        lambda i: F.concat(root, F.lit("/"),
                           F.array_join(F.slice(parts, F.lit(1), i), "/")))
    # keys at the bucket root (no '/' in key_name) have only the root
    return F.when(F.size(parts) > 1,
                  F.concat(F.array(root), dirs)).otherwise(F.array(root))


_ancestors = ancestors_expr


def explode_ancestors(keys: DataFrame, carry: list[str]) -> DataFrame:
    """One row per (key, ancestor directory) with `carry` columns kept —
    the hot-path ancestors explode.  The depth index is exploded FIRST
    (sequence 0..n_parts-1) and each ancestor path is then built by a
    single substring_index prefix cut, so the whole pipeline stays
    inside whole-stage codegen (no per-row array materialization, no
    interpreted lambda)."""
    root = F.concat(F.lit("/"), F.col("volume"), F.lit("/"), F.col("bucket"))
    n = F.size(F.split(F.col("key_name"), "/"))
    e = keys.select(
        root.alias("_root"), "key_name", *carry,
        F.explode(F.sequence(F.lit(0), n - 1)).alias("_i"))
    dir_path = F.when(F.col("_i") == 0, F.col("_root")).otherwise(
        F.concat(F.col("_root"), F.lit("/"),
                 F.expr("substring_index(key_name, '/', _i)")))
    return e.select(dir_path.alias("dir_path"), *carry)


def namespace_rollup(keys: DataFrame) -> DataFrame:
    """A4 (batch reprocess path): per-directory subtree totals."""
    return (
        explode_ancestors(keys, ["data_size", "replicated_size"])
        .groupBy("dir_path")
        .agg(
            F.count("*").alias("num_files"),
            F.sum("data_size").alias("size_of_files"),
            F.sum("replicated_size").alias("replicated_size"),
        )
    )


def namespace_dist(keys: DataFrame, prefix: str | None = None) -> DataFrame:
    """A4's per-directory file-size distribution: the NSSummary node
    carries a 41-bin log2 histogram per directory (fileSizeBucket[41],
    NSSummary.java:38-44) served by /namespace/dist
    (NSSummaryEndpoint.java:148-173).  Same ancestors-explode shuffle as
    the rollup with (dir_path, bin) as the grouping key — bins are
    bounded (41), so the key cardinality is at most 41x the directory
    count; partial aggregation keeps the shuffle proportional to
    distinct (dir, bin) pairs, not keys."""
    from ozone_spark.functions.bins import (
        FILE_BIN_BASE_EXP, FILE_BIN_MAX_IDX, size_bin_index, size_bin_upper_bound,
    )
    binned = explode_ancestors(keys, ["data_size"]).select(
        "dir_path",
        size_bin_index(F.col("data_size"), FILE_BIN_BASE_EXP,
                       FILE_BIN_MAX_IDX).alias("bin_index"),
    )
    if prefix is not None:
        binned = binned.where(F.col("dir_path").startswith(prefix))
    return (
        binned.groupBy("dir_path", "bin_index")
        .agg(F.count("*").alias("file_count"))
        .withColumn("bin_upper_bound",
                    size_bin_upper_bound(F.col("bin_index"), FILE_BIN_BASE_EXP))
        .orderBy("dir_path", "bin_index")
    )


def pending_deleted_dirs(keys: DataFrame, directories: DataFrame,
                         prev_key: str = "", limit: int = 1000) -> DataFrame:
    """/keys/deletePending/dirs analog (OMDBInsightEndpoint.java:570-580
    getDeletedDirInfo): the deleted-directory queue with each entry's
    SUBTREE totals, paginated by path (prevKey exclusive, S1 contract).
    The reference reads sizes from the precomputed NSSummary rollup;
    here the rollup aggregate joins in directly.  deletedDirTable is
    modeled as a deterministic md5-hash sample of the directory table
    (every ~11th dir), replayable by any engine with md5."""
    from ozone_spark.operators.listing import _paged

    page = _deleted_dirs(keys, directories)
    if prev_key:
        page = page.where(F.col("path") > prev_key)
    return _paged(page, ["path"], limit)


def _deleted_dirs(keys: DataFrame, directories: DataFrame) -> DataFrame:
    from ozone_spark.functions.dedup import hash28

    dd = directories.where(hash28(F.col("path")) % 11 == 0)
    roll = namespace_rollup(keys)
    return (
        dd.join(roll, dd.path == roll.dir_path, "left")
        .select(
            "path", "depth",
            F.coalesce("num_files", F.lit(0)).alias("num_files"),
            F.coalesce("size_of_files", F.lit(0))
            .alias("unreplicated_bytes"),
            F.coalesce(roll.replicated_size, F.lit(0))
            .alias("replicated_bytes"))
    )


def deleted_dirs_summary(keys: DataFrame,
                         directories: DataFrame) -> DataFrame:
    """/keys/deletePending/dirs/summary analog (OMDBInsightEndpoint
    .java:594-600): one row — totalDeletedDirectories plus the pending
    subtree byte totals the UI pairs it with."""
    return _deleted_dirs(keys, directories).agg(
        F.count("*").alias("total_deleted_directories"),
        F.coalesce(F.sum("num_files"), F.lit(0)).alias("total_files"),
        F.coalesce(F.sum("unreplicated_bytes"), F.lit(0))
        .alias("unreplicated_bytes"),
        F.coalesce(F.sum("replicated_bytes"), F.lit(0))
        .alias("replicated_bytes"))


def du_children(keys: DataFrame, parent: str, top_k: int | None = None) -> DataFrame:
    """O5: immediate children of `parent` ordered by subtree size desc
    (top consumers first), deterministic tie-break on path."""
    return rollup_children(namespace_rollup(keys), parent, top_k)


def rollup_children(rollup: DataFrame, parent: str,
                    top_k: int | None = None) -> DataFrame:
    """du_children over a namespace_rollup frame the caller already
    holds (the facade builds one per handle and filters it per path)."""
    prefix = parent.rstrip("/") + "/"
    depth = prefix.count("/")
    children = rollup.where(
        F.col("dir_path").startswith(prefix)
        & (F.size(F.split(F.col("dir_path"), "/")) == depth + 1)
    )
    out = children.orderBy(F.desc("size_of_files"), F.asc("dir_path"))
    return out.limit(top_k) if top_k else out


def quota_usage(keys: DataFrame) -> DataFrame:
    """A5 (repair/recompute path): per-bucket usedBytes / usedNamespace —
    full groupBy recompute, the QuotaRepairTask contract."""
    return (
        keys.groupBy("volume", "bucket")
        .agg(
            F.sum("data_size").alias("used_bytes"),
            F.sum("replicated_size").alias("used_replicated_bytes"),
            F.count("*").alias("used_namespace"),
        )
        .orderBy("volume", "bucket")
    )
