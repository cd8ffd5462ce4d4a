"""Mergeable heavy-hitters: distributed Misra–Gries frequent items.

"What are the most frequent URLs / n-grams / licenses in 100 TB?" needs
a summary, not a full count: an exact ``GROUP BY item`` shuffles every
distinct item (billions of n-grams); Misra–Gries keeps at most
``capacity`` counters per partition with the classic deterministic
guarantee — an item's counter undercounts its true frequency by at most
``n_p/(capacity+1)`` — and partial summaries MERGE: summing per-item
lower bounds across partitions keeps the global undercount at
``n/(capacity+1)``. The network carries at most
``partitions × capacity`` narrow rows regardless of data volume, the
same partial-then-merge shape as the DataSketches operators in
``operators/sketches.py`` (which cover distinct/quantiles but not
frequent items — Spark has no heavy-hitter aggregate).

Guarantees (tested in tests/test_frequent.py):
- every item with true count > 2·n/(capacity+1) appears in the output;
- ``est_count`` never exceeds the true count and undercounts by at
  most ``err_bound = n // (capacity + 1)``.

Registered query:
- ``frequent_event_types`` [oracle] — on a small domain the sketch is
  EXACT (no counter ever evicts), so the driver gate compares exact
  counts against plain GROUP BY.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES = {}
ORACLES = {}


def frequent_items(
    df: DataFrame,
    col: str,
    k: int = 20,
    *,
    capacity: int | None = None,
) -> DataFrame:
    """Top-``k`` heavy hitters of ``col`` with error bound. Returns
    ``(item, est_count, err_bound)`` ordered by estimated count
    descending (ties broken by item for determinism).

    ``capacity`` defaults to ``8*k`` — the undercount bound is
    ``n/(capacity+1)``, so raise it for tighter estimates; the shuffle
    stays ``partitions × capacity`` rows either way. Nulls are ignored
    (standard aggregate semantics) — and must be: the merge protocol
    reserves the null item for per-partition row counts.
    """
    cap = capacity or 8 * k

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n = 0
        for pdf in batches:
            for v in pdf[col]:
                n += 1
                if v in counters:
                    counters[v] += 1
                elif len(counters) < cap:
                    counters[v] = 1
                else:
                    # decrement-all step of Misra–Gries; drop zeros
                    for key in list(counters):
                        counters[key] -= 1
                        if not counters[key]:
                            del counters[key]
        if n:
            # one null-item row carries the partition's row count, so
            # the error bound rides the SAME single pass (no df.count()
            # second scan of a 100 TB input)
            yield pd.DataFrame(
                {
                    "item": list(counters.keys()) + [None],
                    "cnt": list(counters.values()) + [n],
                }
            )

    item_type = df.schema[col].dataType.simpleString()
    parts = (
        df.select(F.col(col).alias(col))
        .where(F.col(col).isNotNull())  # null is the count sentinel
        .mapInPandas(partials, schema=f"item {item_type}, cnt long")
    )
    totals = parts.where(F.col("item").isNull()).agg(
        (F.sum("cnt") / (cap + 1)).cast("long").alias("err_bound")
    )
    return (
        parts.where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("cnt").alias("est_count"))
        .crossJoin(F.broadcast(totals))
        .orderBy(F.col("est_count").desc(), F.col("item").asc())
        .limit(k)
    )


def q_frequent_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the (small-domain) event_type column: with
    capacity above the domain size no counter ever evicts, so the
    sketch returns EXACT counts — driver-gradable against GROUP BY."""
    from event_pipeline_spark.session import read_table

    events = read_table(spark, sf_dir, "events")
    return frequent_items(events, "event_type", k=10).select(
        "item", "est_count"
    ).orderBy(F.col("est_count").desc(), "item")


QUERIES["frequent_event_types"] = q_frequent_event_types
ORACLES["frequent_event_types"] = """
    SELECT event_type AS item, COUNT(*) AS est_count
    FROM events GROUP BY event_type
    ORDER BY est_count DESC, item
    LIMIT 10
"""
