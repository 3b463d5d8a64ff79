"""The two workloads.  Each is a closed loop of one client: the next
operation starts only when the previous one has returned, and every
pass makes the same kinds of call in the same order.

  ns_interactive  OM / S3 gateway / Recon requests through the facade
                  `api.OzoneSparkNamespace`: 7 listings and the 6 Recon
                  reports per pass, each response capped at one page.
  curation_cdc    the n-gram Jaccard near-duplicate query through
                  `registry.queries()`, cold on the slot caches, then
                  Recon's catch-up from the OM change stream: write a
                  change log, drain it into the stateful namespace
                  rollup, read the view back.

A workload provides `materialize_views`, `fixtures` (both part of each
set-up cycle), `run_pass(p)` (returns the units of work done, p = -1 for
the warm-up pass) and `check`.  PASS_S is the time of one warm pass on
a 4-core host shared with other tenants.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import fixtures

SCALE = fixtures.Scale()
PAGE = 100   # rows a REST handler returns per response


class _Base:
    VIEWS: tuple[str, ...] = ()
    UNIT = ""
    PASS_S = 1.0   # nominal seconds per warm pass
    log_write_s = None   # the change-log write, where a workload has one

    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    def materialize_views(self) -> None:
        """The registry's resident views this workload reads."""
        from ozone_spark import registry
        v = registry.views(self.spark, self.ctx.data)
        for name in self.VIEWS:
            v[name].count()
        self.views = v

    def fixtures(self) -> None:
        pass


# ---------------------------------------------------------------------------
# ns_interactive
# ---------------------------------------------------------------------------

REPORTS = ["du", "namespace_summary", "file_size_histogram", "quota_usage",
           "snapshot_diff", "unhealthy_containers"]
# facade report -> the registry query with the same full result
REPORT_ORACLE = {"namespace_summary": "namespace_rollup",
                 "file_size_histogram": "file_size_histogram",
                 "quota_usage": "quota_usage",
                 "snapshot_diff": "snapshot_diff",
                 "unhealthy_containers": "container_health"}
YEARS = range(1995, 2002)


class NsInteractive(_Base):
    UNIT = "requests/s"
    PASS_S = 5.0

    def materialize_views(self) -> None:
        """The facade derives its own tables (`tables.namespace_views`)
        from parquet; building it is this workload's view set-up."""
        from ozone_spark import api
        self.ns = api.OzoneSparkNamespace(self.spark, self.ctx.data)

    # -- request stream --------------------------------------------------
    def _prefix(self, rng: random.Random, depth: int) -> str:
        parts = [f"vol{rng.randrange(4)}", f"b{rng.randrange(3)}",
                 rng.choice("fop"), f"y{rng.choice(YEARS)}"]
        return "/" + "/".join(parts[:depth]) + "/"

    def requests(self, p: int) -> list[list[dict]]:
        """Units of one pass; a unit is one request, or a first page
        followed by its continuation.  Every pass has the same mix (7
        listings, the 6 reports); the seed and the pass number choose
        the prefixes, page sizes and containers."""
        rng = random.Random(self.ctx.seed * 7919 + p)
        mk = rng.choice((25, 50, 100))
        units = [[{"kind": "list_keys", "max_keys": mk,
                   "prefix": self._prefix(rng, rng.randint(1, 4))},
                  {"kind": "list_keys", "continue": True, "max_keys": mk}]]
        for _ in range(2):
            prefix = self._prefix(rng, rng.randint(2, 4))
            vol, bucket, rest = prefix.split("/", 3)[1:]
            units.append([{"kind": "list_objects_v2", "volume": vol,
                           "bucket": bucket, "prefix": rest,
                           "max_keys": rng.choice((25, 50, 100))}])
        units.append([{"kind": "list_status",
                       "parent": self._prefix(rng, rng.randint(2, 4))[:-1],
                       "max_entries": rng.choice((25, 50, 100))}])
        for _ in range(2):
            units.append([{"kind": "container_keys",
                           "container_id": rng.randrange(55)}])
        for name in REPORTS:
            req = {"kind": name}
            if name == "du":
                req["path"] = self._prefix(rng, rng.randint(1, 2))[:-1]
                req["top_k"] = 10
            units.append([req])
        rng.shuffle(units)
        return units

    def _call(self, req: dict):
        ns, k = self.ns, req["kind"]
        if k == "list_keys":
            return ns.list_keys(req["prefix"], req.get("start_key", ""),
                                req["max_keys"])
        if k == "list_objects_v2":
            return ns.list_objects_v2(req["volume"], req["bucket"],
                                      req["prefix"], "/", "", req["max_keys"])
        if k == "list_status":
            return ns.list_status(req["parent"], req["max_entries"])
        if k == "container_keys":
            return ns.container_keys(req["container_id"])
        if k == "du":
            return ns.du(req["path"], req["top_k"])
        return getattr(ns, k)()

    def run_pass(self, p: int) -> int:
        n = 0
        for unit in self.requests(p):
            prev = None
            for req in unit:
                req = dict(req)
                if req.pop("continue", False):
                    rows = (prev or {}).get("result") or []
                    req["prefix"] = prev["info"]["prefix"]
                    req["start_key"] = (rows[-1]["db_key"] if rows
                                        else req["prefix"])
                prev = self.ctx.op(
                    req["kind"], "api.build", lambda r=req: self._call(r),
                    lambda df: df.limit(PAGE).collect(), req)
                n += 1
        return n

    # -- checks ----------------------------------------------------------
    def check(self, warm_ops: list, ops: list) -> list[str]:
        from ozone_spark import registry
        from ozone_spark.oracle import with_views

        li = pq.read_table(os.path.join(self.ctx.data, "lineitem.parquet"),
                           columns=["l_orderkey", "l_partkey", "l_suppkey"]
                           ).to_pandas()
        li["cid"] = (li.l_partkey * 7 + li.l_suppkey) % 55
        in_container = li.groupby("cid").l_orderkey.apply(set).to_dict()
        con = checks.duck_con(self.ctx.data)
        oracles = registry.oracle_sql()
        full: dict[str, list] = {}
        rng = random.Random(self.ctx.seed ^ 0x5EED)
        bad = []
        for o in warm_ops + ops:
            why = o["error"] or self._invariants(o, in_container)
            if why is None and rng.random() < 0.5:
                why = self._cross_check(o, con, oracles, full, with_views)
            if why:
                bad.append(f"{o['kind']} {o['info']}: {why}")
        return bad

    def _invariants(self, o: dict, in_container: dict) -> str | None:
        rows, info, k = o["result"], o["info"], o["kind"]
        if rows is None:
            return "no result"
        if len(rows) > PAGE:
            return "more rows than one page"
        if k == "list_keys":
            keys = [r["db_key"] for r in rows]
            if keys != sorted(keys) or len(keys) > info["max_keys"]:
                return "page not sorted or over max_keys"
            if any(not x.startswith(info["prefix"])
                   or x <= info.get("start_key", "") for x in keys):
                return "key outside prefix or not after start_key"
        elif k == "list_objects_v2":
            names = [r["name"] for r in rows]
            if names != sorted(names) or len(names) > info["max_keys"]:
                return "page not sorted or over max_keys"
            if any(not x.startswith(info["prefix"]) for x in names):
                return "entry outside prefix"
        elif k == "list_status":
            names = [r["name"] for r in rows]
            if names != sorted(names) or len(names) > info["max_entries"]:
                return "page not sorted or over max_entries"
        elif k == "container_keys":
            keys = [r["db_key"] for r in rows]
            owned = in_container.get(info["container_id"], set())
            if keys != sorted(keys):
                return "page not sorted"
            if any(r["object_id"] not in owned for r in rows):
                return "key not in the requested container"
        elif k == "du":
            prefix = info["path"] + "/"
            if len(rows) > info["top_k"] or any(
                    not r["dir_path"].startswith(prefix)
                    or "/" in r["dir_path"][len(prefix):] for r in rows):
                return "du row is not a child of the path"
            sizes = [r["size_of_files"] for r in rows]
            if sizes != sorted(sizes, reverse=True):
                return "du not ordered by size"
        return None

    def _cross_check(self, o, con, oracles, full, with_views) -> str | None:
        rows, info, k = o["result"], o["info"], o["kind"]
        if k == "list_keys":
            sql = with_views(
                "SELECT db_key FROM keys WHERE starts_with(db_key, $1) "
                "AND db_key > $2 ORDER BY db_key LIMIT $3", ["keys"])
            want = [r[0] for r in con.execute(
                sql, [info["prefix"], info.get("start_key", ""),
                      info["max_keys"] + 1]).fetchall()]
            got = [r["db_key"] for r in rows]
            trunc = {r["is_truncated"] for r in rows}
            if got != want[:info["max_keys"]] or (
                    rows and trunc != {len(want) > info["max_keys"]}):
                return "differs from DuckDB"
        elif k == "container_keys":
            sql = with_views(
                "SELECT db_key FROM keys JOIN (SELECT DISTINCT object_id "
                "FROM locations WHERE container_id = $1) USING (object_id) "
                "ORDER BY db_key LIMIT $2", ["keys", "locations"])
            want = [r[0] for r in con.execute(
                sql, [info["container_id"], PAGE]).fetchall()]
            if [r["db_key"] for r in rows] != want:
                return "differs from DuckDB"
        elif k in REPORT_ORACLE:
            if k not in full:
                full[k] = checks.duck_rows(con, oracles[REPORT_ORACLE[k]])
            want = full[k]
            got = checks.canon_rows(rows)
            if len(want) <= PAGE:
                ok = got == want
            else:
                ok = len(got) == PAGE and not _multiset_minus(got, want)
            if not ok:
                return "differs from the DuckDB oracle"
        return None


def _multiset_minus(a: list, b: list) -> list:
    left: dict = {}
    for r in b:
        left[r] = left.get(r, 0) + 1
    out = []
    for r in a:
        if left.get(r, 0):
            left[r] -= 1
        else:
            out.append(r)
    return out


# ---------------------------------------------------------------------------
# curation_cdc
# ---------------------------------------------------------------------------

CURATION = ["dedup_ngram_jaccard"]
DELETE_SHARE = 0.1


class CurationCdc(_Base):
    """Per pass, the curation half then the ingest half; the calls and
    their order are the same in every pass.

    Curation: `dedup.release_slots()` (every pass is cold on the slot
    caches, as a new corpus would be), then `dedup_ngram_jaccard`
    through `registry.queries()` (shingles into a slot cache, a
    candidate-pair shuffle, exact Jaccard on the pairs), its result
    collected.

    Ingest: `cdc.synthesize_cdc_log` writes a seq-ordered PUT/DELETE log
    from the resident `keys` view (the DELETE set is seed-sampled).  The
    log is the same in every pass, so it is written once, in the warm-up
    pass (its time is the per-layer streaming.log_write_s), and
    every pass catches up on it as a new Recon would: a fresh checkpoint
    and view store, drained with AvailableNow into the namespace rollup
    (`rollup.run_incremental_rollup`: the ancestors explode shared with
    the facade's namespace reports, Python state in
    `applyInPandasWithState`, a replace merge into an
    `IncrementalViewStore`).

    An op is one client call: the curation query, or the view drain
    with its read-back, as a Recon read would follow the catch-up.
    """
    VIEWS = ("documents", "keys")
    UNIT = "rows/s"
    PASS_S = 8.0

    def __init__(self, ctx):
        super().__init__(ctx)
        rng = np.random.default_rng(ctx.seed + 1)
        n = SCALE.orders
        self.deleted = sorted(int(i) for i in rng.choice(
            n, int(n * DELETE_SHARE), replace=False))
        self.seq = 0
        self.log_write_s = None

    def fixtures(self) -> None:
        self.deleted_df = self.spark.createDataFrame(
            [(i,) for i in self.deleted], "object_id long")
        # rows one pass feeds through the engine: the corpus once per
        # curation query, the change log once
        self.pass_rows = (SCALE.documents * len(CURATION)
                          + self.views["keys"].count() + len(self.deleted))

    def run_pass(self, p: int) -> int:
        from ozone_spark import registry
        from ozone_spark.functions import dedup
        from ozone_spark.streaming import cdc, rollup

        ctx, spark, data = self.ctx, self.spark, self.ctx.data
        qs = registry.queries()
        with ctx.tracer.span("functions.release_slots"):
            dedup.release_slots()
        for name in CURATION:
            ctx.op("query", "registry.build",
                   lambda n=name: qs[n](spark, data),
                   lambda df: df.collect(), {"name": name, "pass": p})

        log = os.path.join(ctx.work, "cdc", "log")
        if self.log_write_s is None:
            t0 = time.perf_counter()
            cdc.synthesize_cdc_log(self.views["keys"], self.deleted_df, log,
                                   n_chunks=1)
            self.log_write_s = time.perf_counter() - t0
        self.seq += 1
        d = os.path.join(ctx.work, "cdc", f"pass{self.seq}")
        ctx.op("drain", "streaming.drain",
               lambda: rollup.run_incremental_rollup(
                   spark, log, f"{d}/ck_rollup", f"{d}/rollup"),
               lambda df: df.collect(), {"name": "namespace_rollup", "pass": p})
        return self.pass_rows

    def check(self, warm_ops: list, ops: list) -> list[str]:
        """The curation result against its DuckDB oracle; the drained
        rollup against reprocess(), the batch rollup over the final key
        state."""
        from ozone_spark import registry
        from ozone_spark.operators import namespace as nops

        con = checks.duck_con(self.ctx.data)
        oracles = registry.oracle_sql()
        want = {n: checks.duck_rows(con, oracles[n]) for n in CURATION}
        keys_now = self.views["keys"].join(self.deleted_df, "object_id",
                                           "left_anti")
        want["namespace_rollup"] = checks.canon_rows(
            nops.namespace_rollup(keys_now).collect())
        digests = {k: (len(r), checks.digest(r)) for k, r in want.items()}
        bad = []
        for o in warm_ops + ops:
            name = o["info"]["name"]
            if o["error"]:
                bad.append(f"{name}: {o['error']}")
                continue
            rows = checks.canon_rows(o["result"])
            if (len(rows), checks.digest(rows)) != digests[name]:
                bad.append(f"pass {o['info']['pass']} {name}: {len(rows)} "
                           f"rows, want {digests[name][0]} (or digest "
                           "differs)")
        return bad


WORKLOADS = {"ns_interactive": NsInteractive,
             "curation_cdc": CurationCdc}
