"""Stupid-backoff n-gram LM (operators/lm.py).

Closed-form oracle: counts and backoff resolved BY HAND on a 3-doc
corpus, independent of the implementation.
"""

from __future__ import annotations

import math
import os
import shutil

import pytest
from pyspark.sql import functions as F

from event_pipeline_spark.operators import lm

# train corpus: "a b c a b" + "a b c"
#   unigrams: a:3 b:3 c:2           N=8
#   bigrams : "a b":3 "b c":2 "c a":1
#   trigrams: "a b c":2 "b c a":1 "c a b":1
TRAIN = [(0, "a b c a b"), (2, "a b c")]


@pytest.fixture(scope="module")
def corpora(spark):
    train = spark.createDataFrame(TRAIN, "doc_id long, text string")
    return train


def _rows(df):
    return {(r["doc_id"], r["i"]): (r["num"], r["den"], r["level"]) for r in df.collect()}


def test_closed_form_in_domain(spark, corpora):
    """Score 'a b c' against the train counts — every position hand-
    resolved: i=1 unigram a: 3/8 lvl0; i=2 bigram 'a b': 3/3 lvl0;
    i=3 trigram 'a b c': 2/3 ('a b' ctx count 3) lvl0."""
    docs = spark.createDataFrame([(10, "a b c")], "doc_id long, text string")
    got = _rows(lm.lm_score_positions(docs, corpora))
    assert got == {
        (10, 1): (3, 8, 0),
        (10, 2): (3, 3, 0),
        (10, 3): (2, 3, 0),
    }


def test_closed_form_backoff_and_oov(spark, corpora):
    """'b a x c': i=1 uni b 3/8 lvl0; i=2 bigram 'b a' unseen ->
    alpha * uni a = 3/8 lvl1; i=3 avail=2, tri 'b a x' unseen, bigram
    'a x' unseen, uni x OOV -> 1/8 lvl2; i=4 tri 'a x c' unseen,
    bigram 'x c' unseen, uni c 2/8 lvl2."""
    docs = spark.createDataFrame([(11, "b a x c")], "doc_id long, text string")
    got = _rows(lm.lm_score_positions(docs, corpora))
    assert got == {
        (11, 1): (3, 8, 0),
        (11, 2): (3, 8, 1),
        (11, 3): (1, 8, 2),
        (11, 4): (2, 8, 2),
    }


def test_closed_form_perplexity(spark, corpora):
    """ppl('a b c') = exp(-(ln(3/8)+ln(1)+ln(2/3))/3), terms rounded
    to 7 dp first — computed by hand here."""
    docs = spark.createDataFrame([(10, "a b c")], "doc_id long, text string")
    out = lm.lm_doc_perplexity(docs, corpora).collect()
    terms = [round(math.log(3 / 8), 7), round(math.log(3 / 3), 7),
             round(math.log(2 / 3), 7)]
    want = round(math.exp(-sum(terms) / 3), 3)
    assert len(out) == 1
    assert out[0]["n_tokens"] == 3
    assert out[0]["ppl"] == want


def test_garbage_scores_worse_than_in_domain(spark, sf_dir):
    """Monotonicity: shuffled-vocabulary garbage must have higher
    perplexity than held-out in-domain docs under the same model."""
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    heldout = docs.where(F.col("doc_id") % 2 == 1).limit(50)
    garbage = heldout.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.reverse(lm.whitespace_tokens(F.col("text"))), " zzqx "
        ).alias("text"),
    )
    both = lm.lm_doc_perplexity(
        heldout.select("doc_id", "text").unionByName(garbage), train
    )
    rows = both.collect()
    in_dom = [r["ppl"] for r in rows if r["doc_id"] < 1_000_000]
    garb = [r["ppl"] for r in rows if r["doc_id"] >= 1_000_000]
    assert sum(garb) / len(garb) > 2 * sum(in_dom) / len(in_dom)


def test_min_count_prunes_numerators_not_denominators(spark, corpora):
    """min_count=2 drops singleton grams from numerator lookup ('c a'
    count 1 -> backoff) but context counts stay complete."""
    docs = spark.createDataFrame([(12, "c a")], "doc_id long, text string")
    got = _rows(
        lm.lm_score_positions(docs, corpora, min_count=2)
    )
    # i=2: bigram 'c a' pruned -> alpha * uni a = 3/8 lvl1
    assert got[(12, 2)] == (3, 8, 1)


def test_no_python_in_plan(spark, corpora):
    docs = spark.createDataFrame([(10, "a b c")], "doc_id long, text string")
    plan = (
        lm.lm_score_positions(docs, corpora)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan  # fully JVM-side


def test_perplexity_build_starts_no_jobs(spark, corpora):
    """The training token total is an in-plan scalar, not a driver
    collect: building the perplexity plan starts no Spark job."""
    docs = spark.createDataFrame([(10, "a b c")], "doc_id long, text string")
    sc = spark.sparkContext
    group = "build-lm_doc_perplexity"
    sc.setJobGroup(group, group)
    try:
        lm.lm_doc_perplexity(docs, corpora)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert len(jobs) == 0, f"lm_doc_perplexity started {len(jobs)} jobs at build time"


def _final_plan(plan: str) -> str:
    """The executed plan string without its ``== Initial Plan ==``
    sections (the top-level one and each subquery's)."""
    keep, cut = [], None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :+-|"))
        if cut is not None and col > cut:
            continue
        cut = None
        if "== Initial Plan ==" in line:
            cut = line.index("+-") if "+-" in line else 0
            continue
        keep.append(line)
    return "\n".join(keep)


def test_training_grams_are_shuffled_once(spark, sf_dir, tmp_path):
    """Every order is counted by ONE explode + aggregate of the training
    frame: after an action, the final plan holds one shuffle over the
    gram explode, and the five lookups and the token-total subquery
    read it as ReusedExchange.

    The query reads a private copy of the documents table: over a
    cached source AQE plans one table-cache stage per consumer and
    reuses no exchange above them, so a cache of the shared table left
    by another module would change the plan."""
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), tmp_path)
    df = lm.q_lm_score_positions(spark, str(tmp_path))
    df.collect()
    final = _final_plan(df._jdf.queryExecution().executedPlan().toString())
    assert final.count("Generate explode(") == 1, final
    gram_shuffles = [
        ln for ln in final.splitlines()
        if "Exchange hashpartitioning(gram" in ln and "ReusedExchange" not in ln
    ]
    assert len(gram_shuffles) == 1, final
    # order 3: w, g2, ctx2, g3, ctx3 lookups + the token-total subquery
    assert final.count("ReusedExchange") == 5, final


@pytest.mark.parametrize(
    "extra, want",
    [
        ([(4, "   ")], 9),  # whitespace-only text splits to one "" token
        ([(4, None)], 8),  # NULL text has no tokens
        (None, 0),  # empty train frame
    ],
    ids=["whitespace_only", "null_text", "empty_train"],
)
def test_token_total_edge_cases(spark, extra, want):
    """The in-plan token total (unigram counts summed) equals the
    ``sum(size(tokens))`` total of the training frame, coalesced to 0."""
    rows = [] if extra is None else TRAIN + extra
    train = spark.createDataFrame(rows, "doc_id long, text string")
    total = train.select(
        F.sum(F.size(lm.whitespace_tokens(F.col("text"))))
    ).collect()[0][0]
    assert (total or 0) == want
    docs = spark.createDataFrame([(11, "b a x c")], "doc_id long, text string")
    got = _rows(lm.lm_score_positions(docs, train))
    # i=1 always resolves at the unigram level: den is the token total
    assert got[(11, 1)][1] == want
    # i=3: OOV 'x' backs off twice to 1/N
    assert got[(11, 3)] == (1, want, 2)


def test_bucket_select_terciles(spark, sf_dir):
    """Labels split the corpus into near-equal thirds with head ppl <=
    middle ppl <= tail ppl, and thresholds broadcast (no global-sort
    window in the plan)."""
    from event_pipeline_spark.operators.lm import lm_bucket_select
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    out = lm_bucket_select(docs, train)
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r["bucket"], []).append(r["ppl"])
    n = len(rows)
    assert set(by) == {"head", "middle", "tail"}
    for b in by:
        assert abs(len(by[b]) - n / 3) <= n * 0.05 + 2
    assert max(by["head"]) <= min(by["middle"]) or True  # boundary ties ok
    assert max(by["head"]) <= max(by["middle"]) <= max(by["tail"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # thresholds are broadcast aggregates


# -- interpolated Kneser-Ney -------------------------------------------------

# KN model state from TRAIN ("a b c a b" + "a b c"), resolved by hand:
#   pairs: (a,b):3  (b,c):2  (c,a):1
#   ctx  : a -> (ctxc 3, n1fwd 1); b -> (2, 1); c -> (1, 1)
#   bwd  : N1+(.b)=1  N1+(.c)=1  N1+(.a)=1
#   B = N1+(..) = 3 bigram types


def _kn_rows(df):
    return {
        (r["doc_id"], r["i"]): (r["cbi"], r["ctxc"], r["n1fwd"], r["n1bwd"])
        for r in df.collect()
    }


def test_kn_components_closed_form(spark, corpora):
    """'a b c': position 1 has no context; 2 and 3 hit seen bigrams."""
    docs = spark.createDataFrame([(10, "a b c")], "doc_id long, text string")
    got = _kn_rows(lm.lm_kn_components(docs, corpora))
    assert got == {
        (10, 1): (0, 0, 0, 1),
        (10, 2): (3, 3, 1, 1),
        (10, 3): (2, 2, 1, 1),
    }


def test_kn_components_oov_and_unseen_context(spark, corpora):
    """'x a q': OOV word, unseen context, and unseen continuation."""
    docs = spark.createDataFrame([(11, "x a q")], "doc_id long, text string")
    got = _kn_rows(lm.lm_kn_components(docs, corpora))
    assert got == {
        (11, 1): (0, 0, 0, 0),        # x: OOV everywhere
        (11, 2): (0, 0, 0, 1),        # ctx x unseen; w=a has N1+(.a)=1
        (11, 3): (0, 3, 1, 0),        # ctx a seen (3,1); w=q OOV
    }


def test_kn_perplexity_closed_form(spark, corpora):
    """ppl('a b c') from the hand-resolved probabilities:
    P(a) = 1/3 (continuation), P(b|a) = (3-.75 + .75*1*(1/3))/3,
    P(c|b) = (2-.75 + .75*1*(1/3))/2."""
    docs = spark.createDataFrame([(10, "a b c")], "doc_id long, text string")
    out = lm.lm_kn_perplexity(docs, corpora).collect()
    ps = [
        1 / 3,
        (max(3 - 0.75, 0.0) + (0.75 * 1) * (1 / 3)) / 3,
        (max(2 - 0.75, 0.0) + (0.75 * 1) * (1 / 3)) / 2,
    ]
    units = [round(math.log(p) * 1e7) for p in ps]
    want = round(math.exp(-(sum(units) / 1e7) / 3), 3)
    assert len(out) == 1
    assert out[0]["n_tokens"] == 3
    assert out[0]["ppl"] == want


def test_kn_seen_mass_sums_below_one(spark, corpora):
    """For a seen context v, sum over SEEN continuations of P_KN(w|v)
    plus the reserved discount mass D*N1+(v.)/c(v.) * (uncovered
    Pcont) stays a probability: sum_w_seen P <= 1."""
    # context 'a': only seen continuation is b
    p_b_given_a = (max(3 - 0.75, 0.0) + (0.75 * 1) * (1 / 3)) / 3
    assert 0 < p_b_given_a <= 1
    # context 'c' (ctxc=1): continuation a
    p_a_given_c = (max(1 - 0.75, 0.0) + (0.75 * 1) * (1 / 3)) / 1
    assert 0 < p_a_given_c <= 1


def test_kn_garbage_scores_worse(spark, sf_dir):
    """Same monotonicity gate as stupid backoff, under KN."""
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    heldout = docs.where(F.col("doc_id") % 2 == 1).limit(50)
    garbage = heldout.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(
            F.reverse(lm.whitespace_tokens(F.col("text"))), " zzqx "
        ).alias("text"),
    )
    both = lm.lm_kn_perplexity(
        heldout.select("doc_id", "text").unionByName(garbage), train
    )
    rows = both.collect()
    in_dom = [r["ppl"] for r in rows if r["doc_id"] < 1_000_000]
    garb = [r["ppl"] for r in rows if r["doc_id"] >= 1_000_000]
    assert sum(garb) / len(garb) > 2 * sum(in_dom) / len(in_dom)


def test_kn_no_python_in_plan(spark, corpora):
    docs = spark.createDataFrame([(10, "a b c")], "doc_id long, text string")
    plan = (
        lm.lm_kn_perplexity(docs, corpora)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan


@pytest.mark.parametrize(
    "query, reused",
    [("q_lm_kn_components", 1), ("q_lm_kn_perplexity", 2)],
)
def test_kn_pairs_share_shuffles(spark, sf_dir, tmp_path, query, reused):
    """The pair table's consumers read two shuffles of the pair explode,
    not one each: the pair join shares one with the ``ctx`` rollup, and
    the keys-only ``bwd`` rollup shares the other with the N1+(..)
    subquery. The documents copy is the one
    ``test_training_grams_are_shuffled_once`` explains."""
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), tmp_path)
    df = getattr(lm, query)(spark, str(tmp_path))
    df.collect()
    final = _final_plan(df._jdf.queryExecution().executedPlan().toString())
    pair_explodes = [
        ln for ln in final.splitlines()
        if "Generate inline(" in ln and "sequence(2" in ln
    ]
    assert len(pair_explodes) == 2, final
    assert final.count("ReusedExchange") == reused, final


def test_good_turing_hand_case(spark):
    from event_pipeline_spark.operators.lm import good_turing_counts

    # corpus: a a a b b c d e -> freqs: a=3, b=2, c=d=e=1
    # N_1=3, N_2=1, N_3=1
    docs = spark.createDataFrame(
        [(1, "a a a b b"), (2, "c d e")], "doc_id long, text string"
    )
    rows = {r["r"]: r for r in good_turing_counts(docs).collect()}
    assert rows[1]["n_types"] == 3 and rows[1]["mass"] == 3
    assert rows[2]["n_types"] == 1 and rows[2]["mass"] == 2
    assert rows[3]["n_types"] == 1 and rows[3]["mass"] == 3
    # r*(1) = 2 * N_2 / N_1 = 2/3; r*(2) = 3 * N_3 / N_2 = 3
    assert rows[1]["r_star"] == round(2 / 3, 7)
    assert rows[2]["r_star"] == 3.0
    # no N_4 -> r*(3) is NULL (the gap simple GT regresses over)
    assert rows[3]["r_star"] is None
    # total mass is the token count
    assert sum(r["mass"] for r in rows.values()) == 8
