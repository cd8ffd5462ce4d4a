"""Distributed prefix sum: parity with the single-window form, no
single-partition exchange in the plan, and budget-selection semantics.
(The registered queries check exact values against DuckDB windows.)"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from event_pipeline_spark.operators.prefix import (
    running_total,
    select_token_budget,
)


def test_running_total_matches_single_window(spark):
    df = spark.range(5000).select(
        (F.col("id") * 7919 % 1000).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 13 + 1).alias("v"),
    )
    order = [F.col("k").asc(), F.col("uid").asc()]
    fast = {
        r["uid"]: r["run"]
        for r in running_total(df, order, "v", out_col="run").collect()
    }
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    slow = {
        r["uid"]: r["run"]
        for r in df.withColumn("run", F.sum("v").over(w)).collect()
    }
    assert fast == slow


def test_no_single_partition_exchange_in_plan(spark):
    """The point of the operator: the plan range-partitions and windows
    per partition id — it never funnels the table into one task. One
    range exchange, read once: no second sampling of the bounds can
    disagree with the first."""
    df = spark.range(10000).select(
        F.col("id").alias("uid"), (F.col("id") % 7).alias("v")
    )
    out = running_total(df, [F.col("uid").asc()], "v")
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert plan.count("rangepartitioning") == 1
    assert "singlepartition" not in plan
    assert "inmemorytablescan" not in plan


def test_select_token_budget_keeps_best_first_until_full(spark):
    docs = spark.createDataFrame(
        [(1, 9.0, 40), (2, 8.0, 40), (3, 7.0, 40), (4, 6.0, 40), (5, 9.5, 30)],
        "doc_id long, score double, toks long",
    )
    kept = select_token_budget(
        docs, score_col="score", tokens_col="toks", budget=100,
        id_col="doc_id",
    ).collect()
    # best-first: 5 (30) + 1 (70) fit; 2 would hit 110 > 100
    assert {r["doc_id"] for r in kept} == {5, 1}
    assert max(r["running_tokens"] for r in kept) == 70


def test_running_total_is_independent_of_partition_count(spark):
    """8 or 200 range partitions (more partitions than rows per
    partition at 200): identical totals either way."""
    df = spark.range(2000).select(
        F.col("id").alias("uid"), (F.col("id") % 5 + 1).alias("v")
    )
    order = [F.col("uid").asc()]
    small = {
        r["uid"]: r["run"]
        for r in running_total(
            df, order, "v", out_col="run", num_partitions=8
        ).collect()
    }
    big = {
        r["uid"]: r["run"]
        for r in running_total(
            df, order, "v", out_col="run", num_partitions=200
        ).collect()
    }
    assert small == big


# -- property differential vs pandas cumsum ----------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    vals=st.lists(st.integers(-100, 100), min_size=1, max_size=60),
    keys=st.lists(st.integers(0, 5), min_size=1, max_size=60),
    parts=st.sampled_from([1, 3, 8]),
)
@settings(max_examples=20, deadline=None)
def test_running_total_property_vs_pandas(spark, vals, keys, parts):
    """Random values with heavily duplicated order keys (unique uid
    tiebreak): the distributed prefix sum equals pandas' cumsum over
    the same total order, at any partition count."""
    import pandas as pd

    n = min(len(vals), len(keys))
    pdf = pd.DataFrame(
        {"k": keys[:n], "uid": range(n), "v": vals[:n]}
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["uid"]: r["run"]
        for r in running_total(
            df,
            [F.col("k").asc(), F.col("uid").asc()],
            "v",
            out_col="run",
            num_partitions=parts,
        ).collect()
    }
    ordered = pdf.sort_values(["k", "uid"])
    want = dict(zip(ordered["uid"], ordered["v"].cumsum()))
    assert got == want
