"""User-facing facade: the reference's client/admin/Recon API surface as
one Python object over a SparkSession — a user of the reference's CLI
(`ozone sh`, `ozone admin`, `ozone debug ldb`, Recon REST) finds each
call here, returning DataFrames instead of RPC responses.

    ns = OzoneSparkNamespace(spark, "/root/testdata/sf0.01")
    ns.list_keys(prefix="/vol1/b1/", max_keys=100)     # ozone sh key list
    ns.list_objects_v2("vol1", "b1", delimiter="/")    # S3 ListObjectsV2
    ns.du("/vol1/b1", top_k=10)                        # Recon /namespace/usage
    ns.snapshot_diff()                                 # ozone sh snapshot diff
    ns.unhealthy_containers()                          # Recon /containers/unhealthy

The parameterized listings (`list_keys`, `list_objects_v2`,
`list_status`, `container_keys`) are each one SQL template built by a
single `spark.sql` call that binds the request's values as parameters
(`session.bound_sql`): a request's build cost does not depend on its
values, and a new value compiles no new generated class.  The tables
they read are registered as session temp views on the first listing
call, not when the handle is constructed.
"""

from __future__ import annotations

import functools
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ozone_spark import tables
from ozone_spark.operators import (
    admin, containers as cops, datapath, fso, lifecycle as lops, listing,
    namespace as nops, insights, scan as sops, snapshot as snops,
)
from ozone_spark.session import apply_runtime_confs


def _report(build: Callable[[Any], DataFrame]) -> Callable[[Any], DataFrame]:
    """A parameter-free endpoint: its DataFrame is built on the first
    call and the same lazy frame is returned on every later one, so a
    request pays the plan build once per handle.  Each call's action
    still plans and runs the query; nothing is cached."""
    @functools.wraps(build)
    def endpoint(self) -> DataFrame:
        df = self._reports.get(build.__name__)
        if df is None:
            df = self._reports[build.__name__] = build(self)
        return df
    return endpoint


class OzoneSparkNamespace:
    """Handle over the namespace tables; every method is a thin
    delegation to the operator library (citations live there).  The
    tables are read and derived on first use, so construction runs no
    Spark job.  The parameter-free reports are built once per handle
    (`_report`)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = apply_runtime_confs(spark)
        self.t = tables.namespace_views(spark, sf_dir)
        self._reports: dict[str, DataFrame] = {}

    # ---- key-space listings (ozone sh / S3 gateway) ----
    def list_keys(self, prefix: str = "", start_key: str = "",
                  max_keys: int = 1000) -> DataFrame:
        return listing.list_keys(self.t["keys"], prefix, start_key, max_keys)

    def list_buckets(self, volume: str | None = None) -> DataFrame:
        return listing.list_buckets(self.t["keys"], volume)

    @_report
    def list_volumes(self) -> DataFrame:
        return admin.list_volumes(self.t["keys"])

    def list_objects_v2(self, volume: str, bucket: str, prefix: str = "",
                        delimiter: str = "/", start_after: str = "",
                        max_keys: int = 1000) -> DataFrame:
        return listing.list_objects_v2(self.t["keys"], volume, bucket,
                                       prefix, delimiter, start_after, max_keys)

    # ---- generic scans (ozone debug ldb / Recon search) ----
    def scan(self, table: str = "keys", **kwargs: Any) -> DataFrame:
        return sops.scan(self.t[table], **kwargs)

    def key_search(self, **kwargs: Any) -> DataFrame:
        return sops.key_search(self.t["keys"], **kwargs)

    # ---- FSO tree ----
    def list_status(self, parent: str, max_entries: int = 1000) -> DataFrame:
        return fso.list_status(self.t["directories"], self.t["keys"],
                               parent, max_entries)

    def delete_directory_recursive_plan(self, path: str) -> DataFrame:
        return fso.directory_delete_expansion(self.t["directories"],
                                              self.t["keys"], path)

    # ---- snapshots ----
    @_report
    def list_snapshots(self) -> DataFrame:
        return admin.list_snapshots(self.t["snap1"], self.t["snap2"])

    @_report
    def snapshot_diff(self) -> DataFrame:
        return snops.snapshot_diff(self.t["snap1"], self.t["snap2"])

    # ---- Recon analytics ----
    def du(self, path: str, top_k: int | None = None) -> DataFrame:
        return nops.rollup_children(self.namespace_summary(), path, top_k)

    @_report
    def namespace_summary(self) -> DataFrame:
        return nops.namespace_rollup(self.t["keys"])

    @_report
    def quota_usage(self) -> DataFrame:
        return nops.quota_usage(self.t["keys"])

    @_report
    def file_size_histogram(self) -> DataFrame:
        return insights.file_size_histogram(self.t["keys"])

    @_report
    def cluster_state(self) -> DataFrame:
        return insights.cluster_state(self.t["keys"], self.t["containers"],
                                      self.t["datanodes"])

    @_report
    def unhealthy_containers(self) -> DataFrame:
        return cops.container_health(self.t["containers"], self.t["replicas"])

    def container_keys(self, container_id: int) -> DataFrame:
        return cops.keys_for_container(self.t["locations"], self.t["keys"],
                                       container_id)

    @_report
    def datanode_utilization(self) -> DataFrame:
        return insights.datanode_utilization(
            self.t["containers"], self.t["replicas"], self.t["datanodes"])

    # ---- lifecycle / cleanup ----
    def expired_keys(self, rules=None) -> DataFrame:
        return lops.lifecycle_expired(self.t["keys"], rules)

    def expired_open_keys(self, ttl_ms: int) -> DataFrame:
        return lops.open_keys_expired(self.t["open_keys"], ttl_ms)

    # ---- SQL surface ----
    def sql(self, query: str) -> DataFrame:
        """Run SQL over the namespace: every table/view is registered as
        a temp view (keys, locations, containers, replicas, datanodes,
        directories, snap1, snap2, open_keys, deleted_keys + the driver
        tables), building the ones no earlier call has touched."""
        for name, df in self.t.items():
            df.createOrReplaceTempView(name)
        return self.spark.sql(query)

    # ---- data plane ----
    def range_read_plan(self, start: int, end: int) -> DataFrame:
        return datapath.range_read_plan(self.t["locations"], start, end)

    def sorted_replicas(self, client_rack: str = "rack0") -> DataFrame:
        return datapath.topology_sorted_replicas(
            self.t["replicas"], self.t["datanodes"], client_rack)
