"""FSO (file-system-optimized) tree operators (SURVEY.md §2.1 S4,
§2.3 J7/J8, §2.9 B2).

Reference semantics:
  - listStatus: k-way min-heap merge of the directory and file iterators
    under a parent (OzoneListStatusHelper.java:219-242; KeyManagerImpl
    .java:1949-1979).  Spark-native: unionByName + orderBy + limit — the
    sort-merge is Catalyst's job, no heap needed (O3).
  - path resolution (J7): the reference chains parentObjectId lookups
    (OmMetadataManagerImpl.java:663-669,787-822); we materialize paths
    and resolve by prefix — the rename caveat from SURVEY.md §7 applies
    (a rename rewrites descendant paths; see rename_subtree).
  - directory delete (B2): DirectoryDeletingService.java:387-456 pops a
    deleted dir and iteratively enumerates sub-dirs/files (BFS).  Spark:
    a join loop to fixpoint over the adjacency list.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ozone_spark import session


def _file_parent(db_key=None):
    return F.regexp_replace(db_key if db_key is not None else F.col("db_key"),
                            "/[^/]+$", "")


def list_status(directories: DataFrame, keys: DataFrame, parent: str,
                max_entries: int = 1000) -> DataFrame:
    """S4: immediate children (dirs + files) of `parent`, name-ordered —
    the sorted merge of the two FSO iterators."""
    dirs = (
        directories.where(F.col("parent_path") == parent)
        .select("name", F.lit("DIR").alias("entry_type"),
                F.lit(None).cast("long").alias("data_size"))
    )
    files = (
        keys.where(_file_parent() == parent)
        .select(F.substring_index("key_name", "/", -1).alias("name"),
                F.lit("FILE").alias("entry_type"), "data_size")
    )
    return dirs.unionByName(files).orderBy("name").limit(max_entries)


def directory_delete_expansion(directories: DataFrame, keys: DataFrame,
                               root_path: str,
                               max_depth: int = 64) -> DataFrame:
    """B2: BFS expansion of a deleted directory — iterative self-join on
    the adjacency list until fixpoint, then collect contained files.
    Returns (entry_type DIR|FILE, path) for everything to purge.

    The loop runs depth-of-tree times (not per-row), each iteration one
    broadcast-able join of the frontier against the dir table — at scale
    this is the GraphFrames-style BFS; the reference re-queues batches
    through deletedDirectoryTable the same way."""
    # frontier frames persisted by the session's previous call: each is
    # in that result's lineage, so none is unpersisted before this call
    # (the one-slot eviction policy of the dedup signature caches)
    spark = directories.sparkSession
    held = session.state(spark).setdefault("bfs", [])
    while held:
        held.pop().unpersist()
    frontier = spark.createDataFrame([(root_path,)], "path string")
    all_dirs = frontier
    # max_depth is a safety bound only — the loop exits on an empty
    # frontier; if the bound is hit with work remaining we FAIL (a
    # silent cap would truncate the purge set on a deeper tree)
    for _ in range(max_depth):
        children = (
            directories.join(
                F.broadcast(frontier.withColumnRenamed("path", "parent_path")),
                "parent_path")
            .select("path")
        )
        new = children.join(all_dirs, "path", "left_anti").persist()
        held.append(new)
        if new.isEmpty():
            break
        all_dirs = all_dirs.unionByName(new)
        frontier = new
    else:
        raise RuntimeError(
            f"directory tree deeper than {max_depth} levels; "
            "refusing to return a truncated purge set")
    files = (
        keys.join(all_dirs.withColumnRenamed("path", "_parent"),
                  _file_parent() == F.col("_parent"))
        .select(F.lit("FILE").alias("entry_type"), F.col("db_key").alias("path"))
    )
    dirs = all_dirs.select(F.lit("DIR").alias("entry_type"), "path")
    return dirs.unionByName(files).orderBy("entry_type", "path")


def resolve_subtree(directories: DataFrame, keys: DataFrame,
                    path: str) -> DataFrame:
    """J7: resolve a path to its subtree summary (dir count, file count,
    bytes) — the path-components->objectId chain collapsed onto the
    materialized path column."""
    prefix = path.rstrip("/") + "/"
    n_dirs = directories.where(
        (F.col("path") == path) | F.col("path").startswith(prefix)
    ).agg(F.count("*").alias("n_dirs"))
    f = keys.where(F.col("db_key").startswith(prefix)).agg(
        F.count("*").alias("n_files"),
        F.coalesce(F.sum("data_size"), F.lit(0)).alias("total_bytes"),
    )
    return n_dirs.crossJoin(f)


def rename_subtree(keys: DataFrame, old_prefix: str, new_prefix: str) -> DataFrame:
    """Rename/move: the reference flips one parent pointer (O(1),
    OMKeyRenameRequestWithFSO.java:74); with materialized paths the
    engine rewrites descendant keys — returned as (old, new) pairs (the
    bulk-metadata-rewrite shape of RewriteTablePathOzoneAction.java:
    83-112, which is the same regexp rewrite over Iceberg manifests)."""
    hit = keys.where(F.col("db_key").startswith(old_prefix))
    return hit.select(
        F.col("db_key").alias("old_key"),
        F.concat(F.lit(new_prefix),
                 F.substring(F.col("db_key"), len(old_prefix) + 1, 1 << 30))
        .alias("new_key"),
        "data_size",
    )
