"""A serving session pays code generation and plan building once per
request shape: the generated-code cache holds the facade's working set,
and the parameter-free reports return one lazily built DataFrame per
handle, which every call still plans and runs."""

from __future__ import annotations

import pytest

from ozone_spark import api
from ozone_spark.operators import (
    admin, containers as cops, insights, namespace as nops,
    snapshot as snops,
)
from ozone_spark.session import codegen_stats
from tests.util import canon, count_jobs

PAGE = 100

# the ten request kinds of the interactive benchmark, fixed arguments
REQUESTS = [
    ("list_keys", lambda ns: ns.list_keys("/vol1/b0/", "", 50)),
    ("list_objects_v2",
     lambda ns: ns.list_objects_v2("vol2", "b1", "f/", "/", "", 25)),
    ("list_status", lambda ns: ns.list_status("/vol0/b2", 100)),
    ("container_keys", lambda ns: ns.container_keys(7)),
    ("du", lambda ns: ns.du("/vol1", 10)),
    ("namespace_summary", lambda ns: ns.namespace_summary()),
    ("file_size_histogram", lambda ns: ns.file_size_histogram()),
    ("quota_usage", lambda ns: ns.quota_usage()),
    ("snapshot_diff", lambda ns: ns.snapshot_diff()),
    ("unhealthy_containers", lambda ns: ns.unhealthy_containers()),
]

# each parameter-free endpoint -> the operator build it memoizes
REPORTS = {
    "namespace_summary": lambda t: nops.namespace_rollup(t["keys"]),
    "quota_usage": lambda t: nops.quota_usage(t["keys"]),
    "file_size_histogram": lambda t: insights.file_size_histogram(t["keys"]),
    "snapshot_diff": lambda t: snops.snapshot_diff(t["snap1"], t["snap2"]),
    "unhealthy_containers":
        lambda t: cops.container_health(t["containers"], t["replicas"]),
    "cluster_state": lambda t: insights.cluster_state(
        t["keys"], t["containers"], t["datanodes"]),
    "datanode_utilization": lambda t: insights.datanode_utilization(
        t["containers"], t["replicas"], t["datanodes"]),
    "list_snapshots": lambda t: admin.list_snapshots(t["snap1"], t["snap2"]),
    "list_volumes": lambda t: admin.list_volumes(t["keys"]),
}


@pytest.fixture(scope="module")
def ns(spark, sf_dir):
    return api.OzoneSparkNamespace(spark, sf_dir)


def test_second_round_of_requests_compiles_almost_nothing(spark, ns):
    def round_compiles() -> int:
        n0, _ = codegen_stats(spark)
        for _, call in REQUESTS:
            call(ns).limit(PAGE).collect()
        return codegen_stats(spark)[0] - n0

    round_compiles()
    assert round_compiles() <= 2


def test_parameter_free_reports_are_built_once(ns):
    for name in REPORTS:
        assert getattr(ns, name)() is getattr(ns, name)(), name


def test_every_call_of_a_report_runs_its_query(spark, ns):
    for name in REPORTS:
        for i in range(2):
            n = count_jobs(spark, f"ozs-reuse-{name}-{i}",
                      lambda: getattr(ns, name)().collect())
            assert n >= 1, (name, i)


def test_reports_equal_a_fresh_operator_build(ns):
    for name, build in REPORTS.items():
        got = getattr(ns, name)()
        fresh = build(ns.t)
        assert got is not fresh
        assert got.columns == fresh.columns, name
        assert canon(got.toPandas()) == canon(fresh.toPandas()), name


@pytest.mark.parametrize("path", ["/vol0", "/vol1/b1", "/vol2/b0/f"])
def test_du_over_the_memoized_rollup_equals_du_children(ns, path):
    want = nops.du_children(ns.t["keys"], path, 10).collect()
    assert want
    assert ns.du(path, 10).collect() == want
    assert ns.du(path).collect() == nops.du_children(
        ns.t["keys"], path).collect()
