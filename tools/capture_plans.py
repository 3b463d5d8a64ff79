"""Dump .explain('formatted') for every bench-board query into
plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt (default r12) — the
before/after plan evidence for a change, readable without running
Spark.

Usage: python tools/capture_plans.py <tag> [--all | query ...]
  tag    = 'before' | 'after' (file suffix)
  --all  = every registered query, in registration order
           (`_REGISTRY_ORDER`; the gate order of `queries()` moves
           with source edits, and the cached-relation state a plan
           sees depends on what ran before it)
  query  = optional subset; default is the whole bench board.

The plan text is written NORMALIZED (see `normalize`): expression ids,
lambda-variable ids, exchange plan ids, RDD ids and temp / checkpoint /
warehouse paths are replaced by fixed placeholders, AQE stage numbers
and codegen ids are relabeled by first appearance, and the header
carries neither the tag nor the capture time (those go to stderr).
Captures of the same query from two checkouts therefore compare with
plain `diff`:

  python tools/capture_plans.py before q1 q2   # on the old checkout
  python tools/capture_plans.py after q1 q2    # on the new checkout
  diff plans/<round>/q1_before.txt plans/<round>/q1_after.txt

A whole-registry identity check is one `--all` capture per checkout
(same tag, same round dir name) and `diff -r` of the two plan dirs.

Drain-style queries (streaming_* wrappers that run a stream to
completion inside the builder function) still return a DataFrame, so
explain works on the drained result; the plan shown is the final
read-back, which is labeled as such in the file header.
"""
from __future__ import annotations

import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ozone_spark import registry  # noqa: E402
from ozone_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12"))


def _path_roots() -> list[str]:
    """Directories whose paths differ run to run: the temp dir (streaming
    checkpoints, staged sources), Spark's local dirs and the warehouse."""
    roots = {tempfile.gettempdir(), "/tmp"}
    roots.update(p for p in os.environ.get("SPARK_LOCAL_DIRS", "").split(",")
                 if p)
    return sorted((r.rstrip("/") for r in roots), key=len, reverse=True)


# Order matters: paths first (a temp path may contain digits and '#'),
# then the run-specific ids.
_ID_RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    # Python-side lambdas get globally counted names (x_12); SQL lambdas
    # keep their written name and only carry the #id handled above
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    # RDD ids count every RDD the context has made so far, so they
    # shift with what ran before (e.g. a createDataFrame scan); the
    # call site after the creating method is the caller's stack frame
    (re.compile(r"\b(\w*RDD)\[\d+\]( at \w+)?( at \S+:\d+)?"), r"\1[N]\2"),
]


# AQE numbers query stages, and whole-stage codegen numbers its groups,
# in the order concurrent stages happen to run, so these ids can swap
# between two runs of one plan.  `_renumber` relabels them by order of
# first appearance: which operators share a stage or a codegen group is
# kept, the run order is not.  Each adaptive plan (a cached relation's
# plan nests one) counts from 0 and 1 again, and the detail list closes
# its nodes with its `(N) AdaptiveSparkPlan` entry, so the relabeling
# restarts after each such entry.
_STAGE_ARG = re.compile(
    r"^(\(\d+\) \w*QueryStage\b.*\n(?:.+\n)*?Arguments: )(\d+)()$",
    re.MULTILINE)
_CODEGEN_ID = re.compile(r"(\[codegen id : )(\d+)(\])")
_ADAPTIVE_END = re.compile(r"^\(\d+\) AdaptiveSparkPlan\n", re.MULTILINE)


def _renumber(pat: re.Pattern, plan: str, first: int) -> str:
    """Relabel group 2 of each match of `pat` by order of first
    appearance, counting from `first`."""
    seen: dict[str, int] = {}

    def relabel(m: re.Match) -> str:
        n = seen.setdefault(m[2], first + len(seen))
        return f"{m[1]}{n}{m[3]}"
    return pat.sub(relabel, plan)


def _renumber_stages(plan: str) -> str:
    cuts = [0, *(m.end() for m in _ADAPTIVE_END.finditer(plan)), len(plan)]
    return "".join(
        _renumber(_CODEGEN_ID, _renumber(_STAGE_ARG, plan[a:b], 0), 1)
        for a, b in zip(cuts, cuts[1:]))


def normalize(plan: str) -> str:
    """Replace every run-specific token of a formatted plan with a fixed
    placeholder, so two captures of the same plan are byte-identical."""
    for root in _path_roots():
        plan = re.sub(r"(file:)?" + re.escape(root) + r"/[^\s,\]\)]*",
                      "<tmp>", plan)
    plan = re.sub(r"(file:)?/[^\s,\]\)]*spark-warehouse[^\s,\]\)]*",
                  "<warehouse>", plan)
    for pat, rep in _ID_RULES:
        plan = pat.sub(rep, plan)
    return _renumber_stages(plan)


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("ozone-spark-plan-capture")
    # named queries may come from the FULL registry (r12: plans are
    # also captured for touched off-board queries like dup_graph_centrality)
    full = {q.name: q.fn for q in registry._REGISTRY_ORDER}
    if names == ["--all"]:
        todo = full
    elif names:
        todo = {n: full[n] for n in names}
    else:
        todo = registry.bench_queries()
    for name, fn in todo.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as ex:  # drain failures etc. — record, move on
            plan = f"<capture failed: {ex!r}>"
        dt = time.perf_counter() - t0
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} sf_dir={SF_DIR}\n")
            fh.write(normalize(plan).rstrip() + "\n")
        print(f"# {name}: {path} ({dt:.2f}s)", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
