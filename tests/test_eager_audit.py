"""The build-time job audit (tools/eager_audit.py): building a registered
query starts no Spark job unless the query is on the audit's allow-list
with a reason."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.eager_audit import ALLOWED, audit, unexplained  # noqa: E402

from event_pipeline_spark.registry import all_queries  # noqa: E402


def test_lm_queries_build_lazily(spark, sf_dir):
    """Every lm_* query builds with 0 jobs: the token totals, the KN
    type count and the bucket thresholds are in-plan scalars."""
    counts = audit(spark, sf_dir, ["lm_"])
    assert len(counts) >= 6, counts
    assert not any(counts.values()), counts
    assert not any(name.startswith("lm_") for name in ALLOWED)


def test_allowances_name_registered_queries_with_reasons():
    qs = all_queries()
    for name, reason in ALLOWED.items():
        assert name in qs, f"allowance for unknown query {name}"
        assert reason.strip(), f"allowance for {name} gives no reason"


def test_every_eager_build_is_allowed(spark, sf_dir):
    """The whole registry: a query that starts jobs at build time and is
    not on the allow-list fails here."""
    bad = unexplained(audit(spark, sf_dir))
    assert not bad, f"queries start jobs at build time, not in ALLOWED: {bad}"
