"""A serving session pays code generation and plan building once per
request shape: the generated-code cache holds the facade's working set,
the parameter-free reports return one lazily built DataFrame per
handle, which every call still plans and runs, and the listings bind
their values, so a new value compiles nothing and registers no view."""

from __future__ import annotations

import pytest

from ozone_spark import api, session
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


# ---- bound-parameter listings ------------------------------------------------

def test_new_container_ids_compile_no_class(spark, ns, con):
    """500 ids against a 55-container fixture, so most are absent: each
    id is a bound value, so after the first one at most a few classes
    compile (a page shape AQE has not yet planned), not two per id."""
    from ozone_spark.oracle import with_views

    pages = {0: ns.container_keys(0).limit(PAGE).collect()}
    n0, _ = codegen_stats(spark)
    for cid in range(1, 500):
        pages[cid] = ns.container_keys(cid).limit(PAGE).collect()
    assert codegen_stats(spark)[0] - n0 <= 4
    # the page cross-check perfbench makes against DuckDB
    sql = with_views(
        "SELECT db_key FROM keys JOIN (SELECT DISTINCT object_id "
        "FROM locations WHERE container_id = $1) USING (object_id) "
        "ORDER BY db_key LIMIT $2", ["keys", "locations"])
    for cid in [*range(0, 60, 3), *range(60, 500, 40)]:
        want = [r[0] for r in con.execute(sql, [cid, PAGE]).fetchall()]
        assert [r.db_key for r in pages[cid]] == want, cid
    assert any(pages[c] for c in range(55))
    assert not any(pages[c] for c in range(55, 500))


def _frame_views(spark) -> list[str]:
    """The session's temp views, each of which must be a frame view."""
    names = sorted(t.name for t in spark.catalog.listTables()
                   if t.isTemporary)
    assert all(n.startswith(session.FRAME_VIEW_PREFIX) for n in names)
    return names


def test_listing_views_are_registered_once_and_released(spark, sf_dir):
    other = spark.newSession()
    try:
        ns2 = api.OzoneSparkNamespace(other, sf_dir)
        assert _frame_views(other) == []   # construction registers nothing
        counts = []
        for _ in range(3):
            for _, call in REQUESTS[:4]:
                call(ns2).limit(PAGE).collect()
            counts.append(len(_frame_views(other)))
        # keys, directories and locations, once each
        assert counts == [3, 3, 3]
        # handles come and go: the session keeps a bounded set of views
        for _ in range(session.FRAME_VIEWS + 10):
            api.OzoneSparkNamespace(other, sf_dir).list_keys("/vol1/")
        assert len(_frame_views(other)) == session.FRAME_VIEWS
        session.release(other)
        assert _frame_views(other) == []
        # a released session registers its views again on the next call
        assert ns2.list_keys("/vol1/", "", 5).count() == 5
        assert len(_frame_views(other)) == 1
    finally:
        # make the shared session the active one again
        spark.createDataFrame([(1,)], "x int")
        spark.newSession()
