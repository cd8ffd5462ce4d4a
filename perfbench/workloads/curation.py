"""``dag_curation``: a four-event Pointy-Lang pipeline ending in a sink.

One op parses ``Extract |-> PplFilter |-> SemDedup |-> BudgetSelect``,
runs it with ``PipelineRunner`` and writes the result to parquet. The
events call the operators ``examples/web_corpus_curation.py`` composes.
Set-up checks the cold op's sink against ``curate()`` from that example;
every later op's sink must hash equal to the cold op's, and no
``running_tokens`` may exceed the budget.
"""

from __future__ import annotations

import os

import harness

PIPELINE = "Extract |-> PplFilter |-> SemDedup |-> BudgetSelect"

#: ``curate()`` defaults, with the budget scaled to the document sample
#: (the example fills 50,000 tokens from 5,000 documents).
PPL_CEILING = 2000.0
SEM_THRESHOLD = 0.999
TOKENS_PER_DOC_OF_BUDGET = 10

#: Size of the curated document set relative to the run's scale factor
#: (500 documents at sf0.1). An op is bound by the ~47 Spark jobs it
#: starts, not by the documents: 1,000 documents took as long per op.
DOC_SAMPLE = 0.1


def _define_events():
    """Register the four events (module import must not have side effects)."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.core.events import event
    from event_pipeline_spark.operators.extract import extract_html_text, wrap_in_boilerplate
    from event_pipeline_spark.operators.lm import lm_doc_perplexity
    from event_pipeline_spark.operators.prefix import select_token_budget
    from event_pipeline_spark.operators.similarity import semantic_dedup
    from event_pipeline_spark.operators.text import token_count
    from event_pipeline_spark.session import read_table

    @event(name="Extract")
    def extract(spark, sf_dir, tracer):
        with tracer.span("operators.extract.build_s"):
            docs = read_table(spark, sf_dir, "documents")
            crawl = docs.select(
                "doc_id", wrap_in_boilerplate(F.col("text"), F.col("doc_id")).alias("html")
            )
            return crawl.select(
                "doc_id", extract_html_text(F.col("html")).alias("text")
            ).where(F.length("text") > 0)

    @event(name="PplFilter")
    def ppl_filter(previous_result, tracer):
        with tracer.span("operators.lm.build_s"):
            train = previous_result.where(F.col("doc_id") % 2 == 0)
            return previous_result.join(
                lm_doc_perplexity(previous_result, train), "doc_id"
            ).where(F.col("ppl") <= PPL_CEILING)

    @event(name="SemDedup")
    def sem_dedup(spark, previous_result, sf_dir, tracer):
        with tracer.span("operators.similarity.build_s"):
            emb = read_table(spark, sf_dir, "embeddings")
            keepers = semantic_dedup(emb, threshold=SEM_THRESHOLD).where(F.col("keep"))
            return previous_result.join(
                keepers.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
            )

    @event(name="BudgetSelect")
    def budget_select(previous_result, token_budget, tracer):
        with tracer.span("operators.prefix.build_s"):
            candidates = previous_result.select(
                "doc_id",
                (-F.col("ppl")).alias("fluency"),
                token_count(F.col("text")).alias("n_tokens"),
            )
            return select_token_budget(
                candidates, score_col="fluency", tokens_col="n_tokens",
                budget=token_budget, id_col="doc_id",
            )


def _read_sink(path: str):
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas()
    return df[sorted(df.columns)]


class DagCuration:
    name = "dag_curation"
    tables = ("documents", "embeddings")
    scale = DOC_SAMPLE
    timed_ops = 3
    traced_ops = 2
    warm_ops = 0

    def setup(self, ctx) -> None:
        import datagen

        _define_events()
        self.items_per_op = datagen.rows("documents", ctx.sf * DOC_SAMPLE)
        self.budget = TOKENS_PER_DOC_OF_BUDGET * self.items_per_op
        self.sink = os.path.join(ctx.work_dir, "curated")
        self.reference: tuple | None = None

    def prepare(self, ctx, i: int) -> None:
        pass

    def run(self, ctx, i: int):
        from event_pipeline_spark.plans.dag import build_dag
        from event_pipeline_spark.plans.executor import PipelineRunner, RunState

        span = ctx.tracer.span
        with span("dsl.parse_s"):
            dag = build_dag(PIPELINE)
        params = {"sf_dir": ctx.sf_dir, "tracer": ctx.tracer, "token_budget": self.budget}
        with span("plans.run_s"):
            result = PipelineRunner(ctx.spark, params=params).run(dag)
        bad = result.first_error_record()
        if result.state is not RunState.COMPLETED or bad is not None:
            raise RuntimeError(f"pipeline run {result.state}: {bad and bad.errors}")
        ctx.record("plans.retries", sum(
            max(0, n - 1) for rec in result.records for n in rec.retry_counts.values()
        ))
        out = result.result
        if ctx.tracer.enabled:
            with span("planner.plan_s"):
                out._jdf.queryExecution().executedPlan()
        with span("engine.action_s"):
            out.write.mode("overwrite").parquet(self.sink)
        return result

    def verify(self, ctx, i: int, result) -> bool:
        out = _read_sink(self.sink)
        if len(out) == 0 or (out["running_tokens"] > self.budget).any():
            return False
        fingerprint = harness.multiset_hash(out)
        if self.reference is None:
            if fingerprint != self._direct(ctx):
                return False
            self.reference = fingerprint
            return True
        return fingerprint == self.reference

    def _direct(self, ctx) -> tuple:
        """The same operators composed directly, by the example's ``curate``."""
        import importlib

        curate = importlib.import_module("examples.web_corpus_curation").curate
        pdf = curate(
            ctx.spark, ctx.sf_dir, ppl_ceiling=PPL_CEILING,
            token_budget=self.budget, sem_threshold=SEM_THRESHOLD,
        ).toPandas()
        return harness.multiset_hash(pdf[sorted(pdf.columns)])

    def layer_values(self, ctx, op, spans: dict, events: dict, vals: dict) -> None:
        vals["plans.self_s"] = spans.get("plans.run_s#self", 0.0)
        off = ctx.tracer.wall_offset
        builds = [
            (sp.start + off, sp.end + off) for sp in ctx.tracer.spans
            if sp.op_id == op.index and sp.name.startswith("operators.")
        ]
        vals["operators.build_jobs"] = float(sum(
            1 for t in events.get("job_times", ()) if any(s <= t <= e for s, e in builds)
        ))

    def finish(self, ctx) -> bool:
        return self.reference is not None

    def close(self, ctx) -> None:
        pass
