"""Web-corpus curation: raw HTML pages → training-ready text.

The round-5 stages composed in the order a real web pipeline runs them
— each stage's operator is individually oracle-checked; this example
pins that they COMPOSE (schemas line up, one DataFrame comes out):

    Extract |-> Perplexity-filter |-> SemDeDup |-> Budget-select

- **Extract**: HTML → main text (jusText/readability density
  heuristics, Arrow-batched; `operators/extract.py`) — the synthetic
  "crawl" wraps documents.text in a deterministic boilerplate shell.
  Each stage that reads ``extracted`` parses every page once: the
  extractor is marked ``once_per_row``, so the ``length(text) > 0``
  filter stays above it instead of forcing a second parse below;
- **Perplexity-filter**: stupid-backoff trigram LM trained on half the
  corpus scores every extracted doc (`operators/lm.py`); keep docs
  under a perplexity ceiling (CCNet keeps the fluent head);
- **SemDeDup**: embedding-space duplicate groups collapse to their
  centroid-nearest representative (`operators/similarity.py`), joined
  back by doc id;
- **Budget-select**: the distributed prefix sum fills a global token
  budget best-first by (negated) perplexity (`operators/prefix.py`).

Building the plan is not free of Spark jobs. At sf0.01 ``curate()``
starts 3 jobs before any action, all in ``semantic_dedup``'s centroid
trainer (a count and a sample collect). The LM stage and the budget
selection start none: the LM's token total is an in-plan scalar, and
the prefix sum's offsets are computed in the plan. ROADMAP direction 2
tracks the trainer; ``tools/eager_audit.py`` counts build-time jobs
per query.

Run:  python examples/web_corpus_curation.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from event_pipeline_spark.operators.extract import (
    extract_html_text,
    wrap_in_boilerplate,
)
from event_pipeline_spark.operators.lm import lm_doc_perplexity
from event_pipeline_spark.operators.prefix import select_token_budget
from event_pipeline_spark.operators.similarity import semantic_dedup
from event_pipeline_spark.operators.text import token_count
from event_pipeline_spark.session import get_session, read_table


def curate(
    spark,
    sf_dir: str,
    *,
    ppl_ceiling: float = 2000.0,
    token_budget: int = 50_000,
    sem_threshold: float = 0.999,
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # synthetic crawl: every doc arrives as a full HTML page
    crawl = docs.select(
        "doc_id",
        wrap_in_boilerplate(F.col("text"), F.col("doc_id")).alias("html"),
    )

    # 1. extract main text (map-only Arrow stage)
    extracted = crawl.select(
        "doc_id", extract_html_text(F.col("html")).alias("text")
    ).where(F.length("text") > 0)

    # 2. LM perplexity: train on even doc_ids, score everything
    train = extracted.where(F.col("doc_id") % 2 == 0)
    scored = extracted.join(
        lm_doc_perplexity(extracted, train), "doc_id"
    ).where(F.col("ppl") <= ppl_ceiling)

    # 3. semantic dedup over the embeddings table (vec_id == doc_id in
    # the synthetic schema); keep only group representatives
    emb = read_table(spark, sf_dir, "embeddings")
    keepers = semantic_dedup(emb, threshold=sem_threshold).where(
        F.col("keep")
    )
    deduped = scored.join(
        keepers.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )

    # 4. fill the token budget with the most fluent docs first
    candidates = deduped.select(
        "doc_id",
        (-F.col("ppl")).alias("fluency"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    return select_token_budget(
        candidates,
        score_col="fluency",
        tokens_col="n_tokens",
        budget=token_budget,
        id_col="doc_id",
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("web_corpus_curation")
    out = curate(spark, sf_dir)
    rows = out.count()
    toks = out.agg(F.max("running_tokens")).first()[0]
    print(f"curated {rows} docs, {toks} tokens (budget-filled)")


if __name__ == "__main__":
    main()
