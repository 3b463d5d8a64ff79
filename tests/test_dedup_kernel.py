"""The capped-bucket pair kernel of functions/dedup.py against a
plain-Python reference, and the logged fallbacks of its slot cache."""

from __future__ import annotations

import itertools
import logging
from collections import Counter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ozone_spark import session
from ozone_spark.functions import dedup

CAP = 4

# bucket key -> doc ids; each case sits on one side of a cap boundary
BUCKETS = {
    1: [5, 1, 3, 9],        # exactly CAP ids: kept (the cap is inclusive)
    2: [1, 2, 3, 4, 5],     # CAP + 1 ids: dropped
    3: [7],                 # one id: no pair, dropped
    4: [2, 2, 6],           # a repeated id, as a hash60 collision gives
    5: [1, 3],              # re-counts (1, 3) from bucket 1
}


def _reference(drop_self_pairs: bool) -> Counter:
    out: Counter = Counter()
    for ids in BUCKETS.values():
        if 2 <= len(ids) <= CAP:
            for a, b in itertools.combinations(sorted(ids), 2):
                if not (drop_self_pairs and a == b):
                    out[(a, b)] += 1
    return out


def _bucket_rows(spark) -> DataFrame:
    return spark.createDataFrame(
        [(h, d) for h, ids in BUCKETS.items() for d in ids],
        "h long, doc_id long")


def test_bucket_pairs_match_python_reference(spark):
    got = {(r.doc_a, r.doc_b): r.n for r in
           dedup._bucket_pairs(_bucket_rows(spark), ["h"], CAP)
           .agg(F.count("*").alias("n")).collect()}
    assert got == dict(_reference(drop_self_pairs=False))
    assert got[(1, 9)] == 1          # the bucket of exactly CAP ids is kept
    assert got[(1, 3)] == 2
    assert (2, 4) not in got         # only the CAP + 1 bucket holds 2 and 4
    assert not any(7 in p for p in got)
    # the kernel pairs by position, so the repeated id pairs with itself
    assert got[(2, 2)] == 1


def test_saturated_sample_guard_drops_kernel_self_pair(spark, monkeypatch):
    """saturated_pair_sample runs the kernel's buckets with its
    `p.a < p.b` guard: fed the hand-built table as its saturated input
    (every row survives the thinning: skey 0), it returns the reference
    pairs without the self-pair."""
    sh = _bucket_rows(spark).withColumn("skey", F.lit(0).cast("long"))
    sat = sh.select("h").distinct().withColumn("s", F.lit(1).cast("long"))
    monkeypatch.setattr(dedup, "_saturated_buckets",
                        lambda docs, n, max_bucket: (sh, sat))
    got = {(r.doc_a, r.doc_b): r.n_shared_saturated for r in
           # its bucket cap is 4 * sample
           dedup.saturated_pair_sample(None, sample=CAP // 4).collect()}
    assert got == dict(_reference(drop_self_pairs=True))
    assert (2, 2) not in got


def test_slot_cache_logs_failed_plan_compare_and_repersists(
        spark, monkeypatch, caplog):
    slot = "test_kernel_slot"
    first = dedup._slot_cache(spark.range(10).toDF("doc_id"), slot)
    second_src = spark.range(20).toDF("doc_id")

    def boom(self, other):
        raise RuntimeError("sameSemantics unavailable")

    caplog.set_level(logging.WARNING, logger=dedup.__name__)
    try:
        with monkeypatch.context() as m:
            # the concrete class: pyspark's classic DataFrame overrides
            # the method of the public base class
            m.setattr(type(second_src), "sameSemantics", boom)
            second = dedup._slot_cache(second_src, slot)
        assert any(slot in r.getMessage() and r.levelno == logging.WARNING
                   for r in caplog.records)
        # the fallback is unchanged: evict the old frame, persist the new
        assert second is second_src
        assert not first.storageLevel.useMemory
        assert second.storageLevel.useMemory
        assert session.state(spark)["slots"][slot].frame is second
        assert dedup.slot_stats(slot)[slot] == (0, 2)
    finally:
        dedup.release_slots(slot)
        session.state(spark)["slots"].pop(slot, None)
