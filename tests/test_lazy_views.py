"""Namespace views are built on first use: constructing the facade runs
no Spark job, a request builds only the views it reads, the registry
keeps its resident views persisted, and view maps, slot caches and
memos are per session (`session.state`)."""

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


def test_registry_persists_resident_views_and_builds_rest_on_demand(
        spark, sf_dir):
    registry.views(spark, sf_dir)       # the shared cache entries exist
    other = spark.newSession()
    try:
        v = registry.views(other, sf_dir)
        assert set(v.built()) == set(registry.RESIDENT_VIEWS) | {
            "orders", "lineitem"}
        assert "snap3" not in v.built()
        v["snap3"]
        assert "snap3" in v.built()
        assert registry.views(other, sf_dir) is v
        cached = {n for n, df in v.items() if df.storageLevel.useMemory}
        assert cached == set(registry.RESIDENT_VIEWS)
    finally:
        _reactivate(spark)


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
