"""Recompute safety of the distributed prefix sum.

Every query built on ``prefix.running_total`` must give the same
answer when Spark plans and runs it again from scratch: a ``select``
over the result is a new plan, and after the cache is cleared and every
shuffle output is dropped, nothing of the first run survives. The
range exchange then samples its bounds again. With one sample per
partition, two samplings at sf0.001 give different bounds, so a plan
that mixes one sampling's partition ids with another's offsets fails
its DuckDB oracle here.
"""

from __future__ import annotations

import pytest

from event_pipeline_spark.registry import all_oracles, all_queries
from event_pipeline_spark.testing.differential import compare, duckdb_connect
from event_pipeline_spark.testing.faults import drop_all_shuffle_outputs

#: Registered queries whose plans contain ``running_total``.
RUNNING_TOTAL_QUERIES = [
    "running_total_by_day",
    "select_token_budget",
    "shard_assign",
    "curriculum_order",
    "pack_sequences_512",
    "pack_sequences_bpe",
    "select_token_budget_bpe",
    "curate_pipeline",
    "curate_funnel",
    "select_novel_budget",
]

_SAMPLE_SIZE = "spark.sql.execution.rangeExchange.sampleSizePerPartition"


@pytest.fixture(scope="module")
def one_sample_per_partition(spark):
    prior = spark.conf.get(_SAMPLE_SIZE, None)
    spark.conf.set(_SAMPLE_SIZE, "1")
    yield
    if prior is None:
        spark.conf.unset(_SAMPLE_SIZE)
    else:
        spark.conf.set(_SAMPLE_SIZE, prior)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connect(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", RUNNING_TOTAL_QUERIES)
def test_running_total_query_is_recompute_safe(
    name, spark, sf_dir, con, one_sample_per_partition
):
    oracle = all_oracles()[name]
    result = all_queries()[name](spark, sf_dir)
    first = compare(name, result, con, oracle)
    assert first.ok, str(first)

    spark.catalog.clearCache()
    drop_all_shuffle_outputs(spark)
    again = compare(name, result.select("*"), con, oracle)
    assert again.ok, str(again)
