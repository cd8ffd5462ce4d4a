"""``headline_queries``: one op is one pass over the 11 headline queries.

Each query is built fresh from the registry and collected with
``toPandas()`` on the production AQE path. Set-up checks the cold op's
results against each query's DuckDB oracle; every later op must hash
equal to the cold op, query by query.
"""

from __future__ import annotations

import harness

HEADLINE = ("q1", "q7", "q9", "q12", "q17", "q18", "q20", "q21", "q23", "q26", "q27")


class _Collected:
    """A collected result in the shape ``differential.compare`` reads."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — DataFrame's method name
        return self._pdf


class HeadlineQueries:
    name = "headline_queries"
    tables = ("customer", "orders", "lineitem", "events", "documents")
    scale = 1.0
    items_per_op = len(HEADLINE)
    timed_ops = 3
    traced_ops = 2
    warm_ops = 2

    def setup(self, ctx) -> None:
        self.reference: dict[str, tuple] | None = None

    def prepare(self, ctx, i: int) -> None:
        pass

    def run(self, ctx, i: int) -> dict:
        from event_pipeline_spark.registry import all_queries

        span, spark = ctx.tracer.span, ctx.spark
        with span("registry.build_s"):
            queries = all_queries()
        out = {}
        for q in HEADLINE:
            with span(f"{q}.op_s"):
                with span("registry.build_s"):
                    df = queries[q](spark, ctx.sf_dir)
                if ctx.tracer.enabled:
                    with span("planner.plan_s"):
                        df._jdf.queryExecution().executedPlan()
                with span("engine.action_s"):
                    out[q] = df.toPandas()
        return out

    def verify(self, ctx, i: int, out: dict) -> bool:
        hashes = {q: harness.multiset_hash(pdf) for q, pdf in out.items()}
        if self.reference is None:
            if not self._oracle_check(ctx, out):
                return False
            self.reference = hashes
            return True
        return hashes == self.reference

    def _oracle_check(self, ctx, out: dict) -> bool:
        import sys

        from event_pipeline_spark.registry import all_oracles
        from event_pipeline_spark.testing.differential import compare, duckdb_connect

        con = duckdb_connect(ctx.sf_dir)
        try:
            oracles = all_oracles()
            ok = True
            for q, pdf in out.items():
                res = compare(q, _Collected(pdf), con, oracles[q])
                if not res.ok:
                    print(f"perfbench: {res}", file=sys.stderr)
                    ok = False
            return ok
        finally:
            con.close()

    def layer_values(self, ctx, op, spans: dict, events: dict, vals: dict) -> None:
        pass

    def finish(self, ctx) -> bool:
        return self.reference is not None

    def close(self, ctx) -> None:
        pass
