"""Registry aggregation and the driver-gate rotation machinery
(split out of the single-module registry in round 8).
"""

from __future__ import annotations

from ._base import *  # noqa: F401,F403
from .q_listing import LISTING_QUERIES
from .q_snapshot import SNAPSHOT_QUERIES
from .q_compaction import COMPACTION_QUERIES
from .q_scm import SCM_QUERIES
from .q_containers import CONTAINER_QUERIES
from .q_insights import INSIGHT_QUERIES
from .q_namespace import NAMESPACE_QUERIES
from .q_lifecycle import LIFECYCLE_QUERIES
from .q_scalar_tpch import SCALAR_QUERIES, TPCH_QUERIES
from .q_events import EVENT_QUERIES
from .q_text import TEXT_QUERIES
from .q_pipeline import PIPELINE_QUERIES
from .q_dedup import DEDUP_QUERIES
from .q_similarity import SIMILARITY_QUERIES
from .q_multimodal import MULTIMODAL_QUERIES
from .q_fso import FSO_QUERIES
from .q_admin import ADMIN_QUERIES
from .q_streaming import STREAMING_QUERIES
from .q_acl_growth import ACL_GROWTH_QUERIES
from .q_mining import MINING_QUERIES
from .q_r4 import R4_QUERIES
from .q_r5 import R5_QUERIES
from .q_r6 import R6_QUERIES
from .q_r7 import R7_QUERIES
from .q_r8 import R8_QUERIES
from .q_r9 import R9_QUERIES
from .q_r10 import R10_QUERIES
from .q_r11 import R11_QUERIES



_REGISTRY_ORDER: list[QuerySpec] = (
    MINING_QUERIES
    + LISTING_QUERIES + SNAPSHOT_QUERIES + CONTAINER_QUERIES + INSIGHT_QUERIES
    + NAMESPACE_QUERIES + LIFECYCLE_QUERIES + SCALAR_QUERIES + TPCH_QUERIES
    + EVENT_QUERIES + TEXT_QUERIES + PIPELINE_QUERIES + DEDUP_QUERIES
    + SIMILARITY_QUERIES
    + MULTIMODAL_QUERIES + FSO_QUERIES + ADMIN_QUERIES + STREAMING_QUERIES
    + ACL_GROWTH_QUERIES + COMPACTION_QUERIES + SCM_QUERIES + R4_QUERIES
    + R5_QUERIES + R6_QUERIES + R7_QUERIES + R8_QUERIES + R9_QUERIES
    + R10_QUERIES + R11_QUERIES
)


def _code_module_names(fn) -> set[str]:
    """Global names referenced by a callable's code object, recursively
    through nested lambdas/comprehensions — used to map a QuerySpec's
    lambda to the operator modules it calls."""
    import types as _types

    def walk(code) -> set[str]:
        names = set(code.co_names)
        for c in code.co_consts:
            if isinstance(c, _types.CodeType):
                names |= walk(c)
        return names

    code = getattr(fn, "__code__", None)
    return walk(code) if code is not None else set()


def _is_registry_module(mod) -> bool:
    return getattr(mod, "__name__", "").startswith("ozone_spark.registry")


def _spec_source_files(spec: QuerySpec) -> set[str]:
    """Package source files implementing a query: the ozone_spark modules
    the spec's lambda references, closed transitively over package-module
    imports (pipeline imports dedup, so a dedup.py edit marks pipeline
    queries stale too), PLUS the registry domain module (q_*.py) that
    DEFINES the spec — its file holds the oracle SQL, so a pure-oracle
    edit now reads as stale (VERDICT r7 item 2; the old single-module
    registry.py had to be excluded wholesale because every round edited
    it).  Registry-package modules are never WALKED (each q_* module
    star-imports the whole shared namespace, so walking one would pull
    every impl module into every query's source set and destroy the
    per-query granularity); only the defining module's file is added."""
    import os as _os
    import types as _types

    pkg_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    g = getattr(spec.fn, "__globals__", globals())
    seen: set[_types.ModuleType] = set()
    # seed from module globals AND from directly-imported callables
    # (a lambda referencing `quality_by_dup_degree` instead of
    # `pipeline.quality_by_dup_degree` must still resolve its defining
    # module — ADVICE r7)
    import sys as _sys
    work = []
    for n in _code_module_names(spec.fn):
        v = g.get(n)
        if isinstance(v, _types.ModuleType):
            work.append(v)
        elif callable(v) and getattr(v, "__module__", "").startswith(
                "ozone_spark"):
            m = _sys.modules.get(v.__module__)
            if m is not None:
                work.append(m)
        elif v is None and n.startswith("ozone_spark"):
            # function-local `from ozone_spark.x import y` leaves only
            # the dotted module path in co_names (the bound name is a
            # local) — import it (package-internal, side-effect-free)
            # and seed the walk with it
            import importlib as _importlib
            try:
                work.append(_importlib.import_module(n))
            except ImportError:
                pass
    while work:
        mod = work.pop()
        f = getattr(mod, "__file__", "") or ""
        if mod in seen or not f.startswith(pkg_root)                 or _is_registry_module(mod):
            continue
        seen.add(mod)
        for v in vars(mod).values():
            if isinstance(v, _types.ModuleType):
                work.append(v)
            elif callable(v) and getattr(v, "__module__", "").startswith(
                    "ozone_spark"):
                m = __import__("sys").modules.get(v.__module__)
                if m is not None:
                    work.append(m)
    out: set[str] = set()
    for m in seen:
        f = _os.path.abspath(m.__file__)
        out.add(f)
        # a PACKAGE reached via a lazy dotted import (the streaming
        # helpers) may not have its submodules imported yet — include
        # the package's .py files so edits there still read as stale
        if _os.path.basename(f) == "__init__.py":
            d = _os.path.dirname(f)
            out.update(
                _os.path.join(d, p) for p in _os.listdir(d)
                if p.endswith(".py"))
    # the defining registry domain module carries the oracle SQL
    dmod = _sys.modules.get(getattr(spec.fn, "__module__", ""))
    dfile = getattr(dmod, "__file__", "") or ""
    if _os.path.basename(dfile).startswith("q_"):
        out.add(_os.path.abspath(dfile))
    return out


def spec_hash(spec: QuerySpec) -> str:
    """Content hash of a QuerySpec: the fn's (recursive) bytecode +
    consts and the FULL oracle SQL text.  Recorded per query in the
    self-sweep artifacts so the gate rotation can see pure-oracle edits
    (VERDICT r7 item 2) — a query whose recorded hash no longer matches
    re-verifies at the head of the rotation even when no implementing
    module mtime moved (e.g. the edit and the artifact write landed in
    the same second, or the artifact is from another checkout)."""
    import hashlib
    import types as _types

    h = hashlib.sha256()

    def add_code(c) -> None:
        h.update(c.co_code)
        for k in c.co_consts:
            if isinstance(k, _types.CodeType):
                add_code(k)
            else:
                h.update(repr(k).encode())

    code = getattr(spec.fn, "__code__", None)
    if code is not None:
        add_code(code)
    h.update((spec.oracle or "").encode())
    return h.hexdigest()[:16]


def _gate_priority_order(specs: list[QuerySpec],
                         artifacts_root: str | None = None
                         ) -> list[QuerySpec]:
    """Rotate the registry so the driver's capped correctness gate (it
    records the first ~50 queries in registry order per round) always
    verifies the least-recently-verified queries first: never-verified
    queries lead, then queries whose implementing module was EDITED
    after their last green row was recorded OR whose recorded content
    hash no longer matches `spec_hash` (stale greens — VERDICT r6 item
    6 and r7 item 2: a query rewritten this round, including a
    PURE-ORACLE rewrite, must not wait a full rotation behind its own
    aging green row), then queries whose last green
    CORRECTNESS_r*.json row is oldest.  Purely a presentation order —
    every query stays registered; ties keep the hand-written registry
    order.  `artifacts_root` overrides the artifact directory (tests)."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    root = artifacts_root or _os.path.dirname(_os.path.dirname(
        _os.path.dirname(_os.path.abspath(__file__))))
    last_green: dict[str, int] = {}
    # newest artifact (driver OR self-recorded sweep) with a green row
    # per query — the staleness reference time.  Self sweeps count here
    # (they re-verify the whole registry at each round's tip) even
    # though only driver rows drive the last_green ROUND ordering.
    green_mtime: dict[str, float] = {}
    last_hash: dict[str, str] = {}
    hash_mtime: dict[str, float] = {}
    for path in _glob.glob(_os.path.join(root, "CORRECTNESS_*r*.json")):
        m = _re.search(r"_r(\d+)\.json$", _os.path.basename(path))
        # driver artifacts are exactly CORRECTNESS_r{N}.json; SELF/SF01
        # sweeps count toward green_mtime only, not the round ordering
        is_driver = _os.path.basename(path).startswith("CORRECTNESS_r")
        rnd = int(m.group(1)) if m else -1
        try:
            art_t = _os.path.getmtime(path)
            with open(path) as fh:
                data = _json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for qname, row in data.items():
            if not isinstance(row, dict):
                continue
            # Green = an actual value verification: hash_match for
            # oracle-backed queries; rows_match counts ONLY for queries
            # with no registered oracle (the driver's sanctioned weaker
            # rows-only check).  A bare rows_match on an oracle-backed
            # query (hash red, or a rows-only artifact row) must NOT
            # deprioritize it out of future gate rounds (ADVICE r5).
            oracle_less = qname in _NO_ORACLE
            green = (row.get("hash_match") is True
                     or (oracle_less and row.get("rows_match") is True))
            if green:
                green_mtime[qname] = max(green_mtime.get(qname, 0.0), art_t)
                if is_driver and rnd >= 0:
                    last_green[qname] = max(last_green.get(qname, -1), rnd)
            # newest recorded content hash per query, green or not (the
            # self-sweep tools stamp spec_hash; driver artifacts don't)
            rh = row.get("spec_hash")
            if rh and art_t >= hash_mtime.get(qname, -1.0):
                hash_mtime[qname] = art_t
                last_hash[qname] = rh
    pos = {q.name: i for i, q in enumerate(specs)}

    def _mtime(path: str) -> float:
        try:
            return _os.path.getmtime(path)
        except OSError:
            return 0.0

    def stale(q: QuerySpec) -> bool:
        """True when any implementing module file is newer than the
        NEWEST artifact (driver or self sweep) with a green row for this
        query (+2 s slack for same-checkout writes), or when the query's
        recorded content hash no longer matches the current spec_hash
        (pure-oracle edits, VERDICT r7 item 2).  After a fresh clone all
        mtimes are checkout-time, so nothing reads as stale — only
        genuine post-verification edits trigger a re-gate."""
        t = green_mtime.get(q.name)
        if t is None:
            return False
        rh = last_hash.get(q.name)
        if rh is not None and rh != spec_hash(q):
            return True
        return any(_mtime(f) > t + 2.0 for f in _spec_source_files(q))

    def key(q: QuerySpec):
        g = last_green.get(q.name, -1)
        need = _REWRITE_PENDING.get(q.name)
        if need is not None and g < need:
            # rewritten query whose newest DRIVER row predates the
            # rewrite: self-sweeps re-green it (resetting green_mtime
            # AND the recorded spec_hash), so the generic stale()
            # signal goes blind — pin it just behind the never-gated
            # queries until a CORRECTNESS_r{need}+ artifact records a
            # post-rewrite row (VERDICT r8 item 2)
            return (-1, 1, pos[q.name])
        if g >= 0 and stale(q):
            # edited since its green row: re-verify ahead of everything
            # except never-gated queries and rewrite pins
            return (-1, 2, pos[q.name])
        return (g, 0, pos[q.name])

    return sorted(specs, key=key)


# Queries REWRITTEN after their newest driver-green row, mapped to the
# first driver round whose green row counts as post-rewrite
# verification.  The automatic stale() signal cannot carry this: the
# builder's own end-of-round self-sweeps record a fresh green artifact
# with the CURRENT spec_hash, which resets both staleness inputs — so a
# rewritten query would wait a full rotation behind its own pre-rewrite
# driver row (exactly what happened to the four r8 member-grain
# rewrites, VERDICT r8 item 2).  Entries self-clear: once the driver
# records a green row in a round >= the stated value, the pin is inert
# (safe to prune on any later registry edit).
_REWRITE_PENDING: dict[str, int] = {
    # (Every r8-r11 pin was pruned after its post-rewrite driver green;
    # all 20 r11 pins got green CORRECTNESS_r11 rows — VERDICT r11
    # correctness gate.)
    #
    # r12 OPTIMIZATION-round rewrites (results value-identical, each
    # re-gated vs its DuckDB oracle at sf0.01 AND sf0.1 before commit;
    # the pin steers the next driver sample at them):
    # Copy-weighted contracted-graph centrality (member grain):
    "dup_graph_centrality": 12,
    # Per-batch orderBy removal + session-memoized staged source:
    "streaming_ingest_dedup": 12,
    # Slot-cached PQ codebook row (plan gains InMemoryTableScan):
    "knn_pq": 12,
    "knn_ivf_pq": 12,
    "pq_codes": 12,
    "pq_reconstruction_report": 12,
    # Slot-cached IVF centroid row via shared _centroid_row:
    "knn_ivf": 12,
    "ivf_list_balance": 12,
    "ivf_recall": 12,
    "ivf_probe_sweep": 12,
    # NULL-user sessions kept with concurrent = 0, as the oracle's LEFT
    # JOIN does (inert on fixtures, plan changes):
    "session_concurrency": 12,
}


# Queries with no DuckDB oracle (driver runs the weaker rows-only
# check): for these — and ONLY these — a rows_match row counts as a
# green verification in the gate rotation.
_NO_ORACLE = frozenset(
    q.name for q in _REGISTRY_ORDER if q.oracle is None)


ALL_QUERIES: list[QuerySpec] = _gate_priority_order(_REGISTRY_ORDER)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in ALL_QUERIES}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in ALL_QUERIES if q.oracle is not None}


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # stable hand-written order (NOT the rotated gate order) so per-query
    # bench timings are comparable round over round
    return {q.name: q.fn for q in _REGISTRY_ORDER if q.bench}


__all__ = [n for n in list(globals()) if not n.startswith('__')]
