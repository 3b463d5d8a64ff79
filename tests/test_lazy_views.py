"""Namespace views are built on first use: constructing the facade runs
no Spark job, a request builds only the views it reads, the registry
persists each resident view when it is first built, view maps, slot
caches and memos are per session (`session.state`), and
`session.release` frees what a session keeps cached."""

from __future__ import annotations

import gc
import math
import os
import subprocess
import sys
import weakref

import numpy as np
import pytest

from ozone_spark import registry, session, tables
from ozone_spark.api import OzoneSparkNamespace
from ozone_spark.functions import dedup, similarity

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _reactivate(spark) -> None:
    """Make `spark` the active session again: building a view on another
    session (createDataFrame, newSession) pins that session in pyspark's
    class-level active-session slot and RDD.toDF."""
    spark.createDataFrame([(1,)], "x int")
    spark.newSession()


def test_facade_construction_runs_no_job_and_builds_no_view(spark, sf_dir):
    sc = spark.sparkContext
    sc.setJobGroup("lazy-views-ctor", "facade construction")
    try:
        ns = OzoneSparkNamespace(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("lazy-views-ctor")) == []
    assert ns.t.built() == ()
    # the map still reports every name without building any
    assert len(ns.t) == len(tables.VIEW_NAMES) == 32
    assert list(ns.t) == list(ns.t.keys()) == list(tables.VIEW_NAMES)
    assert "snap3" in ns.t and "nope" not in ns.t
    assert ns.t.built() == ()


def test_list_keys_builds_orders_and_keys_only(spark, sf_dir):
    ns = OzoneSparkNamespace(spark, sf_dir)
    ns.list_keys(prefix="/vol1/", max_keys=5)
    assert ns.t.built() == ("orders", "keys")
    assert ns.t["keys"] is ns.t["keys"]   # memoized
    with pytest.raises(KeyError):
        ns.t["nope"]


def test_sql_resolves_every_view(spark, sf_dir):
    ns = OzoneSparkNamespace(spark, sf_dir)
    assert ns.sql("SELECT count(*) AS n FROM snap3").collect()[0].n > 0
    assert set(ns.t.built()) == set(tables.VIEW_NAMES)


def _cache_builder(df):
    """The CacheManager's in-memory builder for `df`'s plan."""
    cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).get().cachedRepresentation() \
        .cacheBuilder()


def _scanned_caches(df) -> list:
    """The cache builders the leaves of `df`'s cached plan scan (None
    for a leaf that is not an in-memory scan)."""
    plan = _cache_builder(df).cachedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    leaves = plan.collectLeaves()
    return [leaf.relation().cacheBuilder()
            if leaf.nodeName() == "InMemoryTableScan" else None
            for leaf in (leaves.apply(i) for i in range(leaves.size()))]


def test_registry_persists_resident_views_and_builds_rest_on_demand(
        spark, sf_dir):
    other = spark.newSession()
    try:
        v = registry.views(other, sf_dir)
        assert v.built() == ()
        assert registry.views(other, sf_dir) is v
        dirs = v["directories"]
        assert v.built() == ("orders", "keys", "directories")
        cached = {n for n in v.built() if v[n].storageLevel.useMemory}
        assert cached == {"keys", "directories"}
        # the derived view's cached plan reads its source's cache
        scanned = _scanned_caches(dirs)
        assert scanned and all(b == _cache_builder(v["keys"])
                               for b in scanned)
        v["snap3"]
        assert v.built()[-1] == "snap3"
        assert not v["snap3"].storageLevel.useMemory
    finally:
        _reactivate(spark)


_RELEASE = r"""
import sys
from ozone_spark import registry, session
from ozone_spark.functions import dedup
from ozone_spark.operators import fso
from ozone_spark.session import get_spark

sf_dir = sys.argv[1]
base = get_spark("release", cpus=1)
cm = base._jsparkSession.sharedState().cacheManager()
a, b = base.newSession(), base.newSession()
va, vb = registry.views(a, sf_dir), registry.views(b, sf_dir)
va["keys"].count()
vb["keys"].count()
dedup._slot_cache(a.range(5).toDF("doc_id"), "release_slot")
fso.directory_delete_expansion(va["directories"], va["keys"], "/vol0")
print("A", sorted(session.release(a)))
print("A-MAP", registry.views(a, sf_dir).built())
print("B-KEYS", vb["keys"].storageLevel.useMemory, cm.isEmpty())
print("B", sorted(session.release(b)))
print("EMPTY", cm.isEmpty())
base.stop()
"""


def test_release_unpersists_a_session_but_not_a_live_twin(tmp_path, sf_dir):
    """A fresh context, so nothing else is cached: releasing A frees its
    slot, BFS frontiers and resident views but keeps the `keys` entry B
    shares; releasing B then empties the CacheManager."""
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, "-c", _RELEASE, sf_dir],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300)
    lines = dict(ln.split(" ", 1) for ln in out.stdout.splitlines()
                 if ln.split(" ", 1)[0] in
                 ("A", "A-MAP", "B-KEYS", "B", "EMPTY"))
    assert lines.get("A", "").startswith("['bfs frontier'"), out.stderr[-2000:]
    assert "\"cache slot 'release_slot'\"" in lines["A"]
    assert "\"view 'directories'\", \"view 'keys'\"" in lines["A"]
    assert lines["A-MAP"] == "()"
    assert lines["B-KEYS"] == "True False"
    assert lines["B"] == "[\"view 'keys'\"]"
    assert lines["EMPTY"] == "True"


def test_view_maps_are_per_session_and_released_with_it(spark, sf_dir):
    mine = registry.views(spark, sf_dir)
    other = spark.newSession()
    theirs = registry.views(other, sf_dir)
    assert theirs is not mine
    assert theirs["keys"] is not mine["keys"]
    assert registry.views(spark, sf_dir) is mine
    # the dropped session also fills a slot and the partition-count memo
    frame = dedup._slot_cache(dedup._spread(
        other.range(7).selectExpr("id AS doc_id", "'dropped' AS tag")),
        "dropped_session_slot")
    st = session.state(other)
    assert st["slots"]["dropped_session_slot"].frame is frame
    assert len(st["nparts"]) == 1
    frame.unpersist()

    class Probe:
        pass

    st["probe"] = probe = Probe()
    gone = [weakref.ref(x) for x in (other, theirs, frame, probe)]
    del other, theirs, frame, st, probe
    _reactivate(spark)
    gc.collect()
    assert [g() for g in gone] == [None] * 4


def test_slot_caches_and_counts_are_per_session(spark):
    """Two sessions cache different plans under one slot name: neither
    evicts the other's frame, and each counts only its own hits and
    misses.  A released twin stays cached while another session's slot
    holds the same plan: they share the context's CacheManager entry."""
    slot = "per_session_slot"
    other = spark.newSession()
    try:
        mine = dedup._slot_cache(spark.range(10).toDF("doc_id"), slot)
        theirs = dedup._slot_cache(other.range(20).toDF("doc_id"), slot)
        assert dedup._slot_cache(spark.range(10).toDF("doc_id"), slot) is mine
        assert mine.storageLevel.useMemory
        assert theirs.storageLevel.useMemory
        _reactivate(spark)
        assert dedup.slot_stats(slot) == {slot: (1, 1)}
        _reactivate(other)
        assert dedup.slot_stats(slot) == {slot: (0, 1)}

        twin = dedup._slot_cache(other.range(10).toDF("doc_id"),
                                 "per_session_twin")
        assert twin.sameSemantics(mine)
        assert sorted(dedup.release_slots("per_session")) == [
            "per_session_slot", "per_session_twin"]
        assert not theirs.storageLevel.useMemory
        assert mine.storageLevel.useMemory
    finally:
        _reactivate(spark)
        dedup.release_slots(slot)
    assert not mine.storageLevel.useMemory


def test_package_ships_to_each_context_object():
    """Shipping is keyed by the context object, not its id(): a context
    allocated where a collected one lived still gets the package."""
    class Ctx:
        def __init__(self):
            self.shipped = 0

        def addPyFile(self, path):
            self.shipped += 1

    class Session:
        def __init__(self, sc):
            self.sparkContext = sc

    for _ in range(20):
        sc = Ctx()
        session._ship_package(Session(sc))
        session._ship_package(Session(sc))
        assert sc.shipped == 1
        del sc
        gc.collect()


_RESHIP = r"""
from ozone_spark.session import get_spark

def shipped(s):
    return any("ozone_spark_pkg" in p for p in s.sparkContext._python_includes)

a = get_spark("reship-a", cpus=1)
first = shipped(a)
a.stop()
b = get_spark("reship-b", cpus=1)
print("SHIPPED", first, shipped(b))
b.stop()
"""


def test_session_built_after_stop_ships_package_again(tmp_path):
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, "-c", _RESHIP], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert "SHIPPED True True" in out.stdout, out.stderr[-2000:]


def test_sig_sql_renders_numpy_planes_as_python_floats():
    planes = [[0.1, -2.5, 1e-300], [3.0, -0.0, 7.25]]
    want = similarity._sig_sql_from_planes("v", planes)
    for dt in (np.float64, np.float32):
        np_planes = [[dt(c) for c in row] for row in planes]
        as_floats = [[float(c) for c in row] for row in np_planes]
        assert (similarity._sig_sql_from_planes("v", np_planes)
                == similarity._sig_sql_from_planes("v", as_floats))
    assert similarity._sig_sql_from_planes(
        "v", np.array(planes)) == want
    assert "array(0.1D,-2.5D,1e-300D)" in want


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf,
                                 np.float32("nan")])
def test_sig_sql_rejects_non_finite_coefficients(bad):
    with pytest.raises(ValueError, match="plane 1 coefficient 2"):
        similarity._sig_sql_from_planes("v", [[1.0, 1.0, 1.0],
                                              [1.0, -1.0, bad]])


def test_sig_sql_shipped_planes_render_unchanged():
    planes = similarity.plane_coeffs(2, 3)
    want = "(" + " ^ ".join(
        f"(CASE WHEN aggregate(zip_with(v, array("
        + ",".join(f"{c!r}D" for c in row)
        + "), (x, c) -> CAST(x AS DOUBLE) * c), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x) >= 0 THEN shiftleft(CAST(1 AS BIGINT), {p}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for p, row in enumerate(planes)) + ")"
    assert similarity._sig_sql_from_planes("v", planes) == want
    assert {c for row in planes for c in row} <= {1.0, -1.0}
