"""Distributed running totals and token-budget corpus selection.

``SUM(x) OVER (ORDER BY ...)`` with no PARTITION BY is the classic
Spark scale trap: an unpartitioned window collapses the whole table
into ONE task. The distributed form here is the two-phase prefix sum,
written as one plan with a single consumer of its one range exchange:

1. range-partition on the order keys (so partition i holds a
   contiguous key range, already globally ordered across partitions),
2. a window over the partition id gives each row its local cumulative
   sum and its partition's total; each partition's first row also
   fans that total out to every later partition id,
3. a window over the target partition id sums those totals into the
   row's offset.

Nothing is collected to the driver and nothing is cached, so the
result is an ordinary lazy plan: when Spark re-plans it (a new
``select``, lost shuffle outputs, a cleared cache) the range bounds may
be sampled again, and the offsets move with them, because they are
computed from the same exchange in the same execution.

Built on it: ``select_token_budget`` — "fill a token budget with the
best-scoring documents" — orders by (score desc, id) and keeps rows
while the running token count fits, the selection step between quality
scoring and training-data packing.

Registered queries (exact-value oracles):
- ``running_total_by_day`` [oracle] — distributed cumsum vs DuckDB's
  ``SUM() OVER (ORDER BY ...)``.
- ``select_token_budget`` [oracle] — budget-filling selection vs the
  windowed form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES = {}
ORACLES = {}

_PID = "__pid"
_LOCAL = "__local_run"
_TOTAL = "__part_total"
_RN = "__rn"
_TGT = "__target"
_OFF = "__off"


def running_total(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    *,
    out_col: str = "running",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running total of ``value_col`` in ``order_by``
    order, computed without ever forming a single-partition window.

    ``order_by`` must be a TOTAL order (include a unique tiebreaker) —
    otherwise "the running total at a row" is ill-defined on any
    engine. Output = input columns + ``out_col``. The plan has one
    range exchange and builds without starting a Spark job.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    w = Window.partitionBy(_PID).orderBy(*order_by)
    v = F.col(value_col)
    # NULL values contribute 0 to the totals (SQL SUM semantics — the
    # row is kept, its value drops out of the running total, same as
    # the window oracle)
    local = (
        df.repartitionByRange(n, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .select(
            "*",
            F.sum(v)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias(_LOCAL),
            F.coalesce(
                F.sum(v).over(
                    w.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
                F.lit(0),
            ).alias(_TOTAL),
            F.row_number().over(w).alias(_RN),
        )
    )
    # every row targets its own partition; a partition's first row
    # also targets each later partition, carrying its total there
    last = F.when(F.col(_RN) == 1, F.lit(n - 1)).otherwise(F.col(_PID))
    fanned = local.withColumn(_TGT, F.explode(F.sequence(F.col(_PID), last)))
    own = F.col(_TGT) == F.col(_PID)
    offset = F.sum(F.when(~own, F.col(_TOTAL))).over(Window.partitionBy(_TGT))
    return (
        fanned.withColumn(_OFF, offset)
        .where(own)
        .withColumn(
            out_col,
            (F.col(_LOCAL) + F.coalesce(F.col(_OFF), F.lit(0))).cast("bigint"),
        )
        .drop(_PID, _LOCAL, _TOTAL, _RN, _TGT, _OFF)
    )


def select_token_budget(
    df: DataFrame,
    *,
    score_col: str,
    tokens_col: str,
    budget: int,
    id_col: str,
) -> DataFrame:
    """Best-first selection under a global token budget: order by
    (score desc, id) and keep each document while the running token
    count INCLUDING it fits. Adds ``running_tokens``."""
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    with_run = running_total(
        df, order, tokens_col, out_col="running_tokens"
    )
    return with_run.where(F.col("running_tokens") <= budget)


# -- registered queries ------------------------------------------------------


def q_running_total_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative order value in (o_orderdate, o_orderkey) order over a
    one-year slice — the distributed prefix sum vs DuckDB's window."""
    from event_pipeline_spark.session import read_table

    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    out = running_total(
        orders.select("o_orderkey", "o_orderdate", cents.alias("cents")),
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        "cents",
        out_col="run_cents",
    )
    return out.select("o_orderkey", "run_cents").orderBy("o_orderkey")


QUERIES["running_total_by_day"] = q_running_total_by_day
ORACLES["running_total_by_day"] = """
    SELECT o_orderkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS run_cents
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    ORDER BY o_orderkey
"""


def q_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a 20k-token budget with the longest documents (length as
    the stand-in score; whitespace tokens) — exact row set + running
    counts against the windowed oracle."""
    from event_pipeline_spark.operators.text import token_count
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    out = select_token_budget(
        docs,
        score_col="n_tokens",
        tokens_col="n_tokens",
        budget=20_000,
        id_col="doc_id",
    )
    return out.select("doc_id", "n_tokens", "running_tokens").orderBy(
        "doc_id"
    )


QUERIES["select_token_budget"] = q_select_token_budget
ORACLES["select_token_budget"] = """
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)
                 AS n_tokens
      FROM documents),
    ranked AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id)
                  AS BIGINT) AS running_tokens
      FROM toks)
    SELECT doc_id, n_tokens, running_tokens
    FROM ranked WHERE running_tokens <= 20000
    ORDER BY doc_id
"""
