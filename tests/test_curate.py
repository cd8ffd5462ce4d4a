"""Composed curation pipeline: the stage-interaction contracts the
chained oracle pins (who dedup picks among, what decontam compares
against, what the budget ranks) plus budget tightness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_pipeline_spark.operators.curate import (
    CURATE_BUDGET,
    CURATE_MIN_STOPWORDS,
    QUERIES,
    curate_corpus,
)
from event_pipeline_spark.operators.decontam import (
    benchmark_fixture,
    ngram_decontaminate,
)
from event_pipeline_spark.operators.filtering import gopher_quality
from event_pipeline_spark.session import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # unpersisted at teardown: a cache of the session-shared table left
    # behind changes every later module's plans (AQE reuses no exchange
    # above a table-cache stage)
    df = read_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def selected(spark, sf_dir):
    return QUERIES["curate_pipeline"](spark, sf_dir).collect()


def test_selection_is_nonempty_and_within_budget(selected):
    assert selected
    assert max(r["running_tokens"] for r in selected) <= CURATE_BUDGET


def test_budget_is_tight(spark, sf_dir, docs, selected):
    """The selection is maximal best-first: the largest excluded
    survivor would not have fit after the selected total."""
    pre_budget = curate_corpus(
        docs,
        benchmark_fixture(spark, sf_dir),
        budget=10**12,
        min_stopword_hits=CURATE_MIN_STOPWORDS,
    ).collect()
    chosen = {r["doc_id"] for r in selected}
    excluded = [r for r in pre_budget if r["doc_id"] not in chosen]
    if excluded:
        total = max(r["running_tokens"] for r in selected)
        # best-first order = (n_tokens desc, doc_id): the first excluded
        # doc in that order is the one the budget refused
        first_out = sorted(
            excluded, key=lambda r: (-r["n_tokens"], r["doc_id"])
        )[0]
        assert total + first_out["n_tokens"] > CURATE_BUDGET


def test_no_contaminated_and_no_duplicate_survives(
    spark, sf_dir, docs, selected
):
    chosen = {r["doc_id"] for r in selected}
    contaminated = {
        r["doc_id"]
        for r in ngram_decontaminate(
            docs, benchmark_fixture(spark, sf_dir)
        ).collect()
    }
    assert not (chosen & contaminated)
    # selected docs' texts are pairwise distinct
    texts = (
        docs.filter(F.col("doc_id").isin(list(chosen)))
        .select(F.md5("text").alias("h"))
        .collect()
    )
    hs = [r["h"] for r in texts]
    assert len(hs) == len(set(hs))


def test_dedup_keeper_chosen_among_quality_survivors(
    spark, sf_dir, docs, selected
):
    """Every selected doc passes the (calibrated) quality gate, and is
    the MINIMUM id of its text group among quality survivors — i.e. the
    keeper election ran on the gated corpus, not the raw one."""
    chosen = {r["doc_id"] for r in selected}
    survivors = gopher_quality(
        docs, min_stopword_hits=CURATE_MIN_STOPWORDS
    ).filter("passes_quality")
    ok_ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    assert chosen <= ok_ids
    keepers = {
        r["keeper"]
        for r in survivors.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("keeper"))
        .collect()
    }
    assert chosen <= keepers


def test_curate_funnel_attributes_first_dropping_stage(spark):
    from event_pipeline_spark.operators.curate import curate_funnel

    good = "the data " * 15  # 30 words, has a stopword: passes quality
    rows = [
        (1, "a", good + "one"),
        (2, "a", good + "one"),        # exact dup of doc 1 -> duplicate
        (3, "a", "too short"),         # fails quality
        (4, "b", good + "two"),
        (5, "b", good + "benchmark leak " * 4),  # contaminated (8-gram)
    ]
    bench = spark.createDataFrame(
        [("benchmark leak " * 4,)], "text string"
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # budget admits doc 1 + doc 4 but not more
    out = {
        r["source"]: r
        for r in curate_funnel(docs, bench, budget=70).collect()
    }
    a, b = out["a"], out["b"]
    assert (a["n_docs"], a["n_fail_quality"], a["n_duplicate"]) == (3, 1, 1)
    assert a["n_selected"] == 1
    assert b["n_contaminated"] == 1 and b["n_selected"] == 1
    for r in (a, b):
        assert r["n_docs"] == (
            r["n_fail_quality"] + r["n_duplicate"] + r["n_contaminated"]
            + r["n_over_budget"] + r["n_selected"]
        )
