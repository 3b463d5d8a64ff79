"""tools/capture_plans.py `normalize`: AQE query-stage numbers and
whole-stage codegen ids follow the order in which concurrent stages ran,
so they are relabeled by first appearance within each adaptive plan;
which operators share a stage or a codegen group still shows."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tools", "capture_plans.py")
_spec = importlib.util.spec_from_file_location("capture_plans", _PATH)
capture_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(capture_plans)

# the detail section of dedup_graph_summary's formatted plan (trimmed):
# the shingle-posting shuffle and the pair-count shuffle are two stages
# whose numbers, and the codegen ids of the stages they feed, follow
# which of the two AQE materialized first
_PLAN = """\
(23) TableCacheQueryStage
Output [2]: [doc_id#N, shingle#N]
Arguments: 0

(25) Exchange
Input [2]: [shingle#N, buf#N]
Arguments: hashpartitioning(shingle#N, 8), ENSURE_REQUIREMENTS, [plan_id=N]

(26) ShuffleQueryStage
Output [2]: [shingle#N, buf#N]
Arguments: {s1}

(27) AQEShuffleRead
Input [2]: [shingle#N, buf#N]
Arguments: coalesced

(29) Filter [codegen id : 3]
Input [1]: [ds#N]

(32) Project [codegen id : {c1}]
Output [2]: [p#N.a AS _groupingexpression#N, p#N.b AS _groupingexpression#N]

(33) HashAggregate [codegen id : {c2}]
Input [2]: [_groupingexpression#N, _groupingexpression#N]

(35) ShuffleQueryStage
Output [3]: [_groupingexpression#N, _groupingexpression#N, count#N]
Arguments: {s2}

(37) HashAggregate [codegen id : {c3}]
Input [3]: [_groupingexpression#N, _groupingexpression#N, count#N]
"""


def _norm(**ids) -> str:
    return capture_plans.normalize(_PLAN.format(**ids))


def test_swapped_stage_and_codegen_ids_normalize_alike():
    first = _norm(s1=3, s2=4, c1=4, c2=4, c3=5)
    swapped = _norm(s1=4, s2=3, c1=5, c2=5, c3=4)
    assert first == swapped
    assert "Arguments: 0\n" in first and "Arguments: 2\n" in first
    assert "Arguments: coalesced" in first
    assert "(29) Filter [codegen id : 1]" in first
    assert "(33) HashAggregate [codegen id : 2]" in first


def test_a_different_codegen_grouping_still_differs():
    fused = _norm(s1=3, s2=4, c1=4, c2=4, c3=5)
    split = _norm(s1=3, s2=4, c1=4, c2=5, c3=6)
    assert fused != split


def test_a_shared_stage_keeps_one_number():
    shared = _norm(s1=3, s2=3, c1=4, c2=4, c3=5)
    assert shared != _norm(s1=3, s2=4, c1=4, c2=4, c3=5)
    assert shared.count("Arguments: 1\n") == 2


_NESTED = """\
(5) Filter [codegen id : 1]
Input [1]: [path#N]

(6) ShuffleQueryStage
Output [1]: [path#N]
Arguments: 0

(7) Filter [codegen id : 2]
Input [1]: [path#N]

(8) ShuffleQueryStage
Output [1]: [path#N]
Arguments: 1

(9) AdaptiveSparkPlan
Output [1]: [path#N]
Arguments: isFinalPlan=true

(10) Filter [codegen id : {c1}]
Input [1]: [path#N]

(11) BroadcastQueryStage
Output [1]: [path#N]
Arguments: {s1}

(12) Filter [codegen id : {c2}]
Input [1]: [path#N]

(13) BroadcastQueryStage
Output [1]: [path#N]
Arguments: {s2}
"""


def test_each_adaptive_plan_is_relabeled_on_its_own():
    """A cached relation's adaptive plan counts from 0 and 1 again, so a
    swap inside the second plan reuses ids the first already showed."""
    def norm(**ids):
        return capture_plans.normalize(_NESTED.format(**ids))
    assert norm(c1=1, c2=2, s1=0, s2=1) == norm(c1=2, c2=1, s1=1, s2=0)
    assert norm(c1=1, c2=1, s1=0, s2=1) != norm(c1=1, c2=2, s1=0, s2=1)
