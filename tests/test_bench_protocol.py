"""bench.py's timing form: each timed sample rebuilds the query from the
registry and runs it on the session's AQE path, so it starts every Spark
job that a caller's first action starts, broadcast builds included."""

from __future__ import annotations

import os
import sys
from functools import partial

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

from event_pipeline_spark.registry import all_queries  # noqa: E402


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs started while ``fn`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)


@pytest.mark.parametrize("name", ["q9", "stats_bootstrap_ci"])
def test_each_sample_runs_the_jobs_of_a_fresh_build(spark, sf_dir, name):
    build = partial(all_queries()[name], spark, sf_dir)
    first = _jobs(spark, f"bench-first-{name}", build().toPandas)
    # a broadcast join runs as its own job: a sample that re-executes a
    # physical plan keeps the broadcast relation and runs fewer
    assert first > 1, first
    samples = [
        _jobs(spark, f"bench-sample-{name}-{i}", lambda: bench._sample(spark, build))
        for i in range(2)
    ]
    assert samples == [first, first]
