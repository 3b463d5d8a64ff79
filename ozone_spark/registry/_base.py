"""Query registry: every implemented SURVEY.md §2 operator as a
(spark callable, DuckDB oracle SQL) pair — consumed by __spark_entry__.py
and the driver's correctness gate.

Each callable takes (spark, sf_dir) and returns a DataFrame; the oracle
is the ANSI-SQL twin over the same parquet tables (namespace operators
re-derive the Ozone-shaped views via ozone_spark.oracle CTEs).  Column
names/aliases are identical on both sides — the driver's compare sorts
columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ozone_spark import session, tables
from ozone_spark.functions import (
    dedup, linkage, mining, multimodal, pipeline, similarity, sketch, text)
from ozone_spark.functions.bins import bin_sql
from ozone_spark.operators import (
    admin,
    containers as cops,
    datapath,
    events as eops,
    fso,
    lifecycle as lops,
    listing,
    namespace as nops,
    insights,
    scan as sops,
    snapshot as snops,
    tpch,
)
from ozone_spark.operators import acl as aclops  # noqa: F401
from ozone_spark.operators import compaction as compops  # noqa: F401
from ozone_spark.operators import scm as scmops  # noqa: F401
from ozone_spark.oracle import _CTES as ORACLE_CTES, with_views

NOW_MS = tables.NOW_MS

# the derived namespace views are this engine's base tables — keep the
# hot ones resident (they are small relative to the raw fact tables; at
# real scale these are the laid-out parquet tables of ozone_spark.layout
# instead).  A resident view is persisted when it is first built, so a
# session caches only the views it reads.  A derived resident view
# (directories, snap1/snap2, open_keys, deleted_keys) fetches its source
# through the same map, which builds and persists `keys` first, so its
# cached plan reads the source's in-memory relation.  A session's view
# maps, keyed by sf_dir, live in its state.
RESIDENT_VIEWS = ("keys", "locations", "containers", "replicas",
                  "datanodes", "directories", "snap1", "snap2",
                  "open_keys", "deleted_keys", "acl_entries",
                  "documents", "embeddings", "events")


def views(spark: SparkSession, sf_dir: str) -> tables.NamespaceViews:
    per_session = session.state(spark).setdefault("views", {})
    if sf_dir not in per_session:
        per_session[sf_dir] = tables.NamespaceViews(
            spark, sf_dir, RESIDENT_VIEWS)
    return per_session[sf_dir]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    bench: bool = False  # include in bench.py headline set


def _q(name, fn, oracle=None, bench=False):
    return QuerySpec(name, fn, oracle, bench)


# star-export the ENTIRE shared namespace (impl modules, views,
# QuerySpec, _q, oracle CTE helpers) to the per-domain registry
# modules, underscore names included
__all__ = [n for n in list(globals()) if not n.startswith('__')]
