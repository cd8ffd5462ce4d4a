"""The automated plan-hygiene gate: every registered query's physical
plan is free of scale anti-patterns (cartesian products, undocumented
nested-loop joins, whole-table single-partition funnels, row-at-a-time
Python UDFs, a Python UDF evaluated twice in one chain, a cached frame
read by the plan). Plans are BUILT, never executed — the audit covers
the whole registry in one session."""

from __future__ import annotations

import pytest

from event_pipeline_spark.registry import all_queries
from tools.plan_audit import ALLOWED, audit_plan, duplicated_python_evals


def test_every_registered_plan_is_scale_clean(spark, sf_dir):
    failures = []
    for name, fn in sorted(all_queries().items()):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for pat, detail in audit_plan(name, plan):
            failures.append(f"{name}: {pat} ({detail})")
    assert not failures, "\n".join(failures)


def test_allowances_are_documented_and_still_needed(spark, sf_dir):
    """Every ALLOWED entry must still match its query's plan — a stale
    allowance (pattern gone after a rewrite) must be deleted, not
    carried as dead configuration."""
    qs = all_queries()
    stale = []
    for name, pats in ALLOWED.items():
        assert name in qs, f"allowance for unknown query {name}"
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        for pat in pats:
            if pat not in plan:
                stale.append(f"{name}: {pat}")
    assert not stale, f"stale allowances: {stale}"


#: The shape Catalyst plans for a deterministic pandas UDF under a
#: filter on its output: the filter is pushed below the projection and
#: the UDF is evaluated again above it.
DUPLICATED = """\
*(3) Project [doc_id#0L, pythonUDF0#9 AS text#6]
+- ArrowEvalPython [_extract(text#1)#5], [pythonUDF0#9], 200
   +- *(2) Project [doc_id#0L, text#1]
      +- *(2) Filter (length(pythonUDF0#8) > 0)
         +- ArrowEvalPython [_extract(text#1)#5], [pythonUDF0#8], 200
            +- *(1) ColumnarToRow
               +- FileScan parquet [doc_id#0L,text#1] Batched: true
"""

#: The same UDF on both sides of a self-join: two chains, one
#: evaluation each.
JOIN_SIDES = """\
BroadcastHashJoin [bv#45L], [bv#56L], Inner, BuildRight, false
:- Project [img_id#10L AS _id#19L, pythonUDF0#64L AS _sig#17L]
:  +- ArrowEvalPython [_h(payload#12, fmt#11)#15L], [pythonUDF0#64L], 200
:     +- FileScan parquet [img_id#10L,fmt#11,payload#12] Batched: true
+- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true]),false)
   +- Project [img_id#46L AS _id#53L, pythonUDF0#66L AS _sig#52L]
      +- ArrowEvalPython [_h(payload#48, fmt#47)#15L], [pythonUDF0#66L], 200
         +- FileScan parquet [img_id#46L,fmt#47,payload#48] Batched: true
"""


def test_duplicated_python_udf_is_flagged():
    assert duplicated_python_evals(DUPLICATED) == ["_extract(text)"]
    assert audit_plan("any", DUPLICATED) == [
        ("duplicated Python UDF", "_extract(text) evaluated twice in one chain")
    ]


def test_udf_once_per_join_side_is_clean():
    assert duplicated_python_evals(JOIN_SIDES) == []
    assert audit_plan("any", JOIN_SIDES) == []


def test_cached_frame_is_flagged(spark):
    df = spark.range(10).persist()
    try:
        plan = df.select("id")._jdf.queryExecution().executedPlan().toString()
    finally:
        df.unpersist()
    assert ("InMemoryTableScan", "cached frame read by the plan") in audit_plan(
        "any", plan
    )


#: Registered queries whose plans evaluated a Python UDF twice in one
#: chain before their UDFs were marked ``once_per_row``.
@pytest.mark.parametrize(
    "name",
    [
        "dedup_simhash_pairs",
        "mm_audio_neardup",
        "mm_image_clusters",
        "mm_image_neardup",
        "mm_image_neardup_phash",
        "sim_embedding_neardup",
        "sim_ivf_topk",
        "sim_lsh_topk",
    ],
)
def test_python_udf_runs_once_per_chain(spark, sf_dir, name):
    plan = all_queries()[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert duplicated_python_evals(plan) == [], plan
