"""Gate-rotation ordering invariants (VERDICT r6 item 6 / r7 item 2): a
query whose implementing module was edited AFTER its last green
CORRECTNESS row — or whose (fn, oracle) content hash no longer matches
the hash recorded by the last self-sweep — must re-verify at the head of
the rotation, behind only never-gated queries, not wait a full rotation
behind its own aging green row."""

from __future__ import annotations

import json
import os

from ozone_spark import registry


def test_spec_source_files_maps_lambda_to_modules():
    specs = {q.name: q for q in registry.ALL_QUERIES}
    files = registry._spec_source_files(specs["pricing_summary"])
    names = {os.path.basename(f) for f in files}
    assert "tpch.py" in names
    # the DEFINING registry domain module is included (it holds the
    # oracle SQL, so oracle edits read as stale — VERDICT r7 item 2)...
    assert "q_scalar_tpch.py" in names
    # ...but the registry package's shared/aggregation modules are not
    # (each q_* module star-imports the whole shared namespace; walking
    # them would collapse every query's source set into "everything")
    assert "_base.py" not in names and "_order.py" not in names
    assert "__init__.py" not in {os.path.basename(f) for f in files
                                 if "registry" in f}


def test_every_spec_has_a_nonempty_source_set():
    """ADVICE r7: a QuerySpec whose lambda references directly-imported
    callables (or whose fn uses function-local imports) must still
    resolve to a non-empty implementing-file set, or the edit-aware
    re-gate is silently disabled for that query."""
    missing = [q.name for q in registry._REGISTRY_ORDER
               if not registry._spec_source_files(q)]
    assert missing == [], f"specs with empty source sets: {missing}"


def test_edited_module_moves_queries_to_head():
    tpch_file = os.path.join(
        os.path.dirname(os.path.dirname(registry.__file__)),
        "operators", "tpch.py")
    st = os.stat(tpch_file)
    try:
        os.utime(tpch_file, None)  # bump mtime to "edited just now"
        order = [q.name
                 for q in registry._gate_priority_order(registry._REGISTRY_ORDER)]
    finally:
        os.utime(tpch_file, (st.st_atime, st.st_mtime))
    idx = order.index("pricing_summary")
    # every query ahead of it is either never driver-gated or itself
    # stale; in a fully-drained backlog this lands well inside the
    # driver's ~50-row cap together with the other tpch queries
    tpch_specs = [q.name for q in registry.TPCH_QUERIES]
    head = order[:len(order) // 2]
    assert all(n in head for n in tpch_specs), (
        "tpch queries must rotate forward after a tpch.py edit")
    assert idx < 120, f"stale pricing_summary too deep in rotation: {idx}"


def test_pure_oracle_edit_moves_query_to_head(tmp_path):
    """VERDICT r7 item 2 done-criterion: an edit that touches ONLY a
    query's oracle SQL (no module mtime the rotation watches) must
    reorder the rotation.  Simulated by recording an artifact whose
    spec_hash for one old-green query differs from the current hash —
    exactly what a post-sweep oracle edit produces."""
    target = "pricing_summary"
    art = {target: {"rows_match": True, "schema_match": True,
                    "hash_match": True, "spec_hash": "feedfacedeadbeef"},
           "file_size_histogram": {"rows_match": True, "schema_match": True,
                                   "hash_match": True}}
    # a DRIVER-named artifact so both queries read as round-9 green
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(art))
    order = [q.name for q in registry._gate_priority_order(
        registry._REGISTRY_ORDER, artifacts_root=str(tmp_path))]
    # the hash-mismatched query re-verifies ahead of the merely-green
    # one — in this synthetic artifact world those two are the ONLY
    # ever-gated queries, so never-gated rows lead (by design) and the
    # stale query slots in directly after them, green control last
    assert order.index(target) < order.index("file_size_histogram")
    assert order.index(target) == len(order) - 2
    # control: with a MATCHING recorded hash, the same artifact leaves
    # the query in the ordinary green band (deep in the rotation)
    specs = {q.name: q for q in registry._REGISTRY_ORDER}
    art[target]["spec_hash"] = registry.spec_hash(specs[target])
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(art))
    order2 = [q.name for q in registry._gate_priority_order(
        registry._REGISTRY_ORDER, artifacts_root=str(tmp_path))]
    assert order2.index(target) > order2.index("file_size_histogram") or \
        order2.index(target) > len(order2) // 2


def test_rewrite_pin_overrides_self_sweep_blindness(tmp_path):
    """VERDICT r8 item 2: a rewritten query whose end-of-round
    self-sweep re-greened it (current spec_hash, fresh green_mtime —
    both automatic staleness inputs reset) must STILL re-verify at the
    head of the rotation until a driver round >= its pin records a
    post-rewrite row; a driver row at/after the pin round clears it.

    r11: the production pin dict is EMPTY (every r8-r10 pin earned its
    post-rewrite driver green and was pruned per VERDICT r10 item 5),
    so the mechanism is exercised through a synthetic pin injected for
    the duration of the test."""
    target = "keeper_policy_audit"
    assert target not in registry._REWRITE_PENDING
    registry._REWRITE_PENDING[target] = 9
    specs = {q.name: q for q in registry._REGISTRY_ORDER}
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spec_hash": registry.spec_hash(specs[target])}
    control = {"rows_match": True, "schema_match": True, "hash_match": True}
    # the blind-spot world: driver green in r7 (pre-rewrite) AND a
    # self-sweep green recorded at the current tip with the current hash
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps(
        {target: control, "file_size_histogram": control}))
    (tmp_path / "CORRECTNESS_SELF_r08.json").write_text(json.dumps(
        {target: green}))
    order = [q.name for q in registry._gate_priority_order(
        registry._REGISTRY_ORDER, artifacts_root=str(tmp_path))]
    # pinned sorts behind never-gated queries (in this synthetic world
    # that is every OTHER query) but ahead of the green-band control
    assert order.index(target) < order.index("file_size_histogram")
    # a driver round >= the pin clears it back to the green band
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(
        {target: control}))
    try:
        order2 = [q.name for q in registry._gate_priority_order(
            registry._REGISTRY_ORDER, artifacts_root=str(tmp_path))]
        assert order2.index(target) > order2.index("file_size_histogram")
    finally:
        registry._REWRITE_PENDING.pop(target, None)


def test_untouched_rotation_is_stable_and_complete():
    order = [q.name
             for q in registry._gate_priority_order(registry._REGISTRY_ORDER)]
    assert sorted(order) == sorted(q.name for q in registry._REGISTRY_ORDER)
    assert len(order) == len(set(order))
