#!/usr/bin/env python
"""Stage breakdown of dedup_clusters at a replicated-perturbed scale
decade (r11): time each phase of duplicate_clusters' pipeline
separately — the corpus-sized index build (membership / groups /
sizes / buckets), the contracted pair generation, the connected-
components resolution (with its internal tiers timed: symmetrize+
distinct, per-partition partial fold, final fold), and the member
expansion — so the next optimization lever is chosen from measured
stage costs instead of attribution inherited from a corrupted cache
regime (the r10 "112s edge funnel" number was taken under the
plan-keyed twin-eviction bug BENCH_NOTES documents).

Usage:
  SPARK_GRAFT_SCALE_REPLICAS=100 SPARK_GRAFT_SCALE_PERTURB=1 \
      python tools/cc_breakdown.py [--dir EXISTING_CORPUS_DIR] [--out F]
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from tools import scale_stress  # noqa: E402
from ozone_spark.session import get_spark  # noqa: E402
from ozone_spark import tables as T  # noqa: E402
from ozone_spark.functions import dedup as D  # noqa: E402


def main() -> int:
    out_path = None
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    spark = get_spark("ozone-spark-ccbrk",
                      cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or
                      (os.cpu_count() or 8))
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def clock(name, fn):
        t0 = time.perf_counter()
        v = fn()
        timings[name] = round(time.perf_counter() - t0, 1)
        if isinstance(v, int):
            counts[name] = v
        print(f"# {name}: {timings[name]}s"
              f"{' (' + str(v) + ' rows)' if isinstance(v, int) else ''}",
              file=sys.stderr)
        return v

    if "--dir" in sys.argv:
        work = sys.argv[sys.argv.index("--dir") + 1]
        if not os.path.exists(os.path.join(work, "documents.parquet")):
            clock("build", lambda: scale_stress.build_scaled_dir(spark, work))
    else:
        work = tempfile.mkdtemp(prefix="ozs_ccbrk_")
        clock("build", lambda: scale_stress.build_scaled_dir(spark, work))
    docs = T.load_table(spark, work, "documents")

    # Mirror duplicate_clusters' internals stage by stage, using the
    # SAME slot names so a subsequent full duplicate_clusters() call
    # rides the warmed slots (isolating its non-indexed stages).
    fp = F.md5(D._norm_text(F.col("text")))
    words = F.split(D._norm_text(F.col("text")), " ")
    base = D._spread(docs).select("doc_id", fp.alias("g"), words.alias("ws"))
    membership = D._slot_cache(base.select("doc_id", "g"), "clusters_base")
    groups = D._slot_cache(
        membership.groupBy("g").agg(F.min("doc_id").alias("rep"),
                                    F.count("*").alias("sz")),
        "clusters_groups")
    clock("membership+groups", lambda: groups.count())
    n = 3
    shingles = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.size("ws") - n),
        lambda i: F.concat_ws(" ", F.slice("ws", i + 1, n))))
    # r11 structure: ONE persisted hashed shingle stream feeds both
    # aggregations (the r11 fix this tool's first run motivated)
    sh_raw = D._slot_cache(
        base.where(F.size("ws") >= n)
        .select("g", F.explode(shingles).alias("shingle"))
        .select("g", F.xxhash64("shingle").alias("shingle")),
        "clusters_shraw")
    clock("shingle stream (scan+explode)", lambda: sh_raw.count())
    sizes = D._slot_cache(
        sh_raw.groupBy("g").agg(
            F.countDistinct("shingle").alias("n_sh")),
        "clusters_sizes")
    clock("sizes(from stream)", lambda: sizes.count())
    buckets = D._slot_cache(
        sh_raw.groupBy("shingle").agg(F.collect_set("g").alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= 200))
        .select(F.array_sort("ds").alias("ds")),
        "clusters_buckets")
    clock("buckets(from stream)", lambda: buckets.count())
    common = (
        buckets.select(F.explode(D._pair_expr()).alias("p"))
        .groupBy(F.col("p.a").alias("g_a"), F.col("p.b").alias("g_b"))
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common"))
    meta = D._slot_cache(
        groups.join(sizes, "g").select("g", "rep", "n_sh"),
        "clusters_meta")
    gpairs = (
        common
        .join(meta.select(F.col("g").alias("g_a"),
                          F.col("rep").alias("doc_a"),
                          F.col("n_sh").alias("n_a")), "g_a")
        .join(meta.select(F.col("g").alias("g_b"),
                          F.col("rep").alias("doc_b"),
                          F.col("n_sh").alias("n_b")), "g_b")
        .where(jac >= 0.1)
        .select("doc_a", "doc_b")
    ).persist()
    clock("pair explode+jaccard+rekey", lambda: gpairs.count())

    # CC internals, timed tier by tier on the materialized pair list
    e = gpairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
             .distinct().persist())
    clock("cc_symmetrize+distinct", lambda: edges.count())
    frontier = D._cc_partial_fold(edges).persist()
    clock("cc_partial_fold", lambda: frontier.count())
    labels = D._cc_single_pass(frontier.coalesce(1)).localCheckpoint()
    clock("cc_final_fold", lambda: labels.count())
    edges.unpersist()
    frontier.unpersist()

    # full operator on warmed slots: total minus the warmed index
    # stages isolates CC + expansion as the operator actually runs them
    clock("duplicate_clusters(warm slots)",
          lambda: D.duplicate_clusters(docs).count())
    gpairs.unpersist()

    doc = {"replicas": scale_stress.REPLICAS,
           "perturb": scale_stress.PERTURB,
           "timings_sec": timings, "counts": counts, "corpus_dir": work}
    print(json.dumps(doc))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(doc, fh, indent=2)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
