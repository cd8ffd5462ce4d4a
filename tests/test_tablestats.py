"""Catalog statistics drive hint-free broadcast (operators/tablestats.py).

The contract the module documents, asserted on real plans: with CBO
on and a filtered dimension whose RAW size exceeds
autoBroadcastJoinThreshold, Catalyst plans a shuffled join while the
table has no statistics (the size-only planner passes the Filter's
child size through), and flips to BroadcastHashJoin — no hint
anywhere — once ANALYZE writes basic + column stats.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _join(spark, table: str):
    fact = spark.range(0, 20_000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(1000)).alias("k")
    )
    dim = spark.table(table).where(F.col("cat") == "cat_7")
    # consume the wide payload so column pruning can't shrink the
    # size-only estimate — the fallback case must stay over-threshold
    return fact.join(dim, "k").select(
        F.sum(F.length("payload")).alias("s")
    )


@pytest.fixture()
def stats_confs(spark):
    keep = {}
    want = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024),
    }
    for k, v in want.items():
        keep[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    yield
    for k, v in keep.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_stats_flip_filtered_dim_to_broadcast(spark, tmp_path, stats_confs):
    """No stats -> SortMergeJoin (documented fallback); ANALYZE with
    column stats -> Catalyst picks BroadcastHashJoin on its own."""
    from event_pipeline_spark.operators.tablestats import (
        analyze_table,
        table_stats,
    )

    table = "dim_stats_contract"
    # 8,000 rows x 60 distinct bytes (a hex SHA-256 prefix per row)
    # ~= 480KB of raw parquet > 64KB at any file count, while the
    # cat = 'cat_7' slice (1/1000 NDV) estimates ~1000x smaller. A
    # constant payload would not do: parquet dictionary-encodes it
    # away, leaving per-file overhead whose total scales with the
    # number of files written, i.e. with the core count.
    dim = spark.range(0, 8_000).select(
        F.pmod(F.col("id"), F.lit(1000)).alias("k"),
        F.concat(F.lit("cat_"), F.pmod(F.col("id"), F.lit(1000))).alias(
            "cat"
        ),
        F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 60).alias(
            "payload"
        ),
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    dim.write.option("path", f"{tmp_path}/dim").saveAsTable(table)
    try:
        on_disk = sum(
            p.stat().st_size for p in (tmp_path / "dim").rglob("*.parquet")
        )
        assert on_disk > 64 * 1024, (
            "fixture premise: the dimension's raw parquet size must exceed "
            f"autoBroadcastJoinThreshold (64KB), got {on_disk} B"
        )
        assert table_stats(spark, table) is None
        before = _plan(_join(spark, table))
        assert "SortMergeJoin" in before
        assert "BroadcastHashJoin" not in before

        stats = analyze_table(spark, table, columns=["cat", "k"])
        assert stats["row_count"] == 8_000
        assert stats["size_bytes"] > 64 * 1024  # raw size stays too big

        after = _plan(_join(spark, table))
        assert "BroadcastHashJoin" in after  # FilterEstimation shrank it
        # same answer either way
        assert (
            _join(spark, table).collect()[0]["s"]
            == 20 * 8 * 60  # 20 fact rows x 8 dim rows at k=7, 60 chars
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_save_analyzed_writes_stats_in_one_call(spark, tmp_path):
    from event_pipeline_spark.operators.tablestats import (
        save_analyzed,
        table_stats,
    )

    table = "dim_saved_analyzed"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        stats = save_analyzed(
            spark.range(0, 123).select(
                F.col("id"), F.lit("v").alias("v")
            ),
            table,
            path=f"{tmp_path}/saved",
            columns=["v"],
        )
        assert stats["row_count"] == 123
        assert stats["size_bytes"] > 0
        assert table_stats(spark, table) == stats
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
