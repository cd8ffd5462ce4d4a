"""The build-time job audit (tools/eager_audit.py): building a registered
query starts no Spark job unless the query is on the audit's allow-list
with a reason."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from test_recompute_safety import RUNNING_TOTAL_QUERIES  # noqa: E402
from tools.eager_audit import ALLOWED, audit, stale, unexplained  # noqa: E402

from event_pipeline_spark.registry import all_queries  # noqa: E402


def test_lm_queries_build_lazily(spark, sf_dir):
    """Every lm_* query builds with 0 jobs: the token totals, the KN
    type count and the bucket thresholds are in-plan scalars."""
    counts = audit(spark, sf_dir, ["lm_"])
    assert len(counts) >= 6, counts
    assert not any(counts.values()), counts
    assert not any(name.startswith("lm_") for name in ALLOWED)


def test_graph_queries_build_lazily(spark, sf_dir):
    """Every graph_* query builds with 0 jobs: graph_kcore's peeling
    sweeps run in the caller's action, not in localCheckpoints taken
    while the plan is built."""
    counts = audit(spark, sf_dir, ["graph_"])
    assert "graph_kcore" in counts, counts
    assert not any(counts.values()), counts
    assert not any(name.startswith("graph_") for name in ALLOWED)


def test_running_total_queries_build_lazily(spark, sf_dir):
    """Every query built on running_total builds with 0 jobs: the
    offsets are computed in the plan, not collected to the driver."""
    counts = audit(spark, sf_dir, RUNNING_TOTAL_QUERIES)
    assert {n: counts[n] for n in RUNNING_TOTAL_QUERIES} == dict.fromkeys(
        RUNNING_TOTAL_QUERIES, 0
    )
    assert not set(RUNNING_TOTAL_QUERIES) & set(ALLOWED)


def test_allowances_name_registered_queries_with_reasons():
    qs = all_queries()
    for name, reason in ALLOWED.items():
        assert name in qs, f"allowance for unknown query {name}"
        assert reason.strip(), f"allowance for {name} gives no reason"


def test_every_eager_build_is_allowed(spark, sf_dir):
    """The whole registry: a query that starts jobs at build time and is
    not on the allow-list fails here, and so does an allowance whose
    query now builds with 0 jobs (a stale entry is deleted, not
    carried)."""
    counts = audit(spark, sf_dir)
    bad = unexplained(counts)
    assert not bad, f"queries start jobs at build time, not in ALLOWED: {bad}"
    unneeded = stale(counts)
    assert not unneeded, f"allowances no longer needed: {unneeded}"
