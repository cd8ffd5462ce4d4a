#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": "..."}

Materialization uses Arrow (``toPandas``) — same rows delivered,
columnar transfer — so the timing measures the engine, not pyspark's
row-at-a-time ``collect()`` deserializer (q18 at sf0.1: 0.22s compute
vs 1.5s legacy-collect of 100k rows). The SCALE section instead times
noop-sink executions (its fixtures emit output proportional to the
multiplier, so the sink must stay out of a growth ratio — see
``_time_once``).

``total_query_sec`` (the headline) times the *steady-state execution*:
each query's DataFrame is built and run once (cold pass, production
AQE plan), then a STATIC (AQE-off) clone of the same analyzed plan is
re-executed for the timed samples with its shuffle outputs dropped
first — every stage recomputes, verified by constant completed-task
counts across samples (round-9 change; the full why lives on
``_static_clone``: AQE stage-result caching made same-plan
re-execution silently reuse work, and per-sample AQE re-planning costs
~0.4s of planner, not engine). Nothing is hidden:
``cold_total_sec`` reports the full first-run total (build + compile +
execute) and ``fresh_plan_total_sec`` a fully re-built re-run
(plan-cache miss), both on the production AQE path. Headline totals
before round 9 are not directly comparable (the old regime could
under-report by reusing stages).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from event_pipeline_spark.registry import all_queries
from event_pipeline_spark.session import get_session
from event_pipeline_spark.testing.faults import drop_all_shuffle_outputs

#: Headline set: the flagship aggregation, joins, windows, dedup, text.
HEADLINE = [
    "q1",
    "q7",
    "q9",
    "q12",
    "q17",
    "q18",
    "q20",
    "q21",
    "q23",
    "q26",
    "q27",
]

#: LLM-surface operator set, timed separately (own JSON key) so the
#: headline total stays comparable across rounds while regressions in
#: the data-pipeline operators remain visible per-round.
OPERATORS = [
    "rank_bm25_topk",
    "dedup_ngram_jaccard",
    "cdc_snapshot_diff",
    "dedup_minhash_pairs",
    "text_quality",
    "fuzzy_name_pairs",
    "resample_ffill_hourly",
    "select_token_budget",
    "shuffle_epoch",
    # round-7 additions: the new heavyweight families stay measured
    "fp_winnow_pairs",
    "curate_funnel",
    "rank_tfidf_docsim",
    # round-8 additions: the kernel-flipped substring dedup, the
    # Viterbi tokenizer, linear-blocked FS linkage, and the iterative
    # PCA — the new shapes most worth watching at scale
    "dedup_substring_spans",
    "unigram_tokens",
    "fuzzy_fs_linkage",
    "sim_pca_project_exact",
    # round-9 additions: the iterative k-core peel, the chained ROUGE
    # pair grading, and the windowed co-occurrence join — the new
    # shapes most worth watching at scale
    "graph_kcore",
    "eval_rouge_pairs",
    "text_cooccurrence_pmi",
    # round-10 additions: the 100-replicate bootstrap fan-out and the
    # corpus-sized novelty gram join — the new shapes most worth
    # watching at scale
    "stats_bootstrap_ci",
    "decontam_novelty",
]


def _bench_plan_overrides():
    """name -> alternate plan builder for TIMED samples only.

    graph_kcore's registered form uses checkpoint_every=2, and
    localCheckpoint is EAGER: peeling rounds 1-4 execute and persist at
    plan-BUILD time, and ``drop_all_shuffle_outputs`` cannot
    invalidate checkpointed RDD blocks — timing that plan measures only
    round 5 + the final aggregate (the exact stage-reuse under-report
    the round-9 rework eliminated). The bench therefore times a
    checkpoint-free build; the differential/gate path keeps
    checkpoint_every=2 where it only bounds plan depth.

    broadcast_keep=True (r11, re-evidenced r12 for the delta form):
    the bench's STATIC clone plans from static size estimates, which
    keep the delta form's node-sized sweep sides SortMergeJoins; the
    production AQE path broadcasts every one at runtime — COMMITTED
    EVIDENCE: plans/r12/graph_kcore_ckpt0_executed_aqe.txt, the
    post-collect() final adaptive plan of this exact hint-free bench
    form at sf0.1 (0 SortMergeJoin / 15 BroadcastHashJoin / 2 scans).
    The hint makes the timed static plan match the plan production
    actually runs — r12 delta form measured 3.97s (unhinted static,
    SMJ) vs 2.11s (broadcast form) at sf0.1. The REGISTERED query
    keeps the scale-safe default (no hint): a surviving-node table at
    extreme scale may not fit executor memory, and there AQE correctly
    keeps the shuffled join. (Caveat recorded: the registered
    checkpoint_every=2 form's post-checkpoint sweeps DO run SMJ at
    runtime — the checkpoint boundary hides the dead side's size from
    AQE; see plans/r12/graph_kcore_executed_aqe.txt. The bench form is
    checkpoint-free, where the all-broadcast conversion is total.)"""
    from event_pipeline_spark.operators.graphrank import q_graph_kcore

    return {
        "graph_kcore": lambda spark, sf_dir: q_graph_kcore(
            spark, sf_dir, checkpoint_every=0, broadcast_keep=True
        ),
    }


def _static_clone(spark, plan):
    """A NEW Dataset over ``plan``'s analyzed plan, physical-planned
    with AQE DISABLED — the bench's measurable steady-state form.

    Why (round-9 finding): under Spark 4 AQE, re-executing the SAME
    DataFrame object reuses its materialized query-stage results, and
    dropping shuffle outputs does not reliably defeat the reuse
    (measured: a q18 re-execution launching 3 tasks; a triangle scale
    entry flip-flopping 1.8s/12.6s run to run). Re-planning a fresh
    AQE Dataset per sample is reuse-proof but pays ~0.4s of adaptive
    planning per execution — measuring the planner, not the engine.
    A STATIC (non-AQE) plan has neither problem: it holds no stage
    cache, so dropping shuffle outputs forces every stage to recompute
    (verified: constant completed-task counts across timed samples),
    and it re-executes with zero re-planning. The cost is that timed
    samples run without AQE's runtime coalescing — the same work in
    more, smaller tasks — which is the conservative direction for a
    throughput claim. Cold/fresh passes still run the production AQE
    path."""
    from pyspark.sql import DataFrame as _PyDF

    prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        j2 = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, plan._jdf.queryExecution().analyzed()
        )
        out = _PyDF(j2, plan.sparkSession)
        out.toPandas()  # physical-plan + codegen + warm WITH AQE off
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    return out


def _noop_write(plan) -> None:
    """Execute ``plan`` against the built-in noop sink: every stage
    computes, no row leaves the executors (guide §1.4 — time the
    computation, not the sink)."""
    plan.write.format("noop").mode("overwrite").save()


def _time_once(spark, plan) -> float:
    """Reuse-proof steady-state timing of ``plan`` for the SCALE
    section: noop-sink execution under AQE-off, shuffle outputs dropped
    before EACH sample, min of ``SPARK_GRAFT_BENCH_SCALE_SAMPLES``
    (default 2) samples.

    Two r11 measurement fixes live here (both guide §1.4 — the scale
    fixtures produce output PROPORTIONAL to the multiplier by design,
    so the sink cost must not be part of a growth ratio):

    - **noop sink, not toPandas**: the 10x interval fixture emits 6M
      rows; Arrow-collecting ~300 MB to the driver per sample put the
      measurement at the mercy of driver GC — the same subprocess-fresh
      entry recorded xN anywhere between 1.7s and 21.4s run to run
      (bimodal, with every sample in a bad run slow). With the noop
      sink the same entry's xN samples sit within +-0.2s.
    - **fresh execution per sample**: each sample is a new write
      QueryExecution over the analyzed plan (planned statically, AQE
      off), so per-sample work includes broadcast builds — the prior
      static-clone form cached BroadcastExchange relation futures
      across samples, silently excluding every broadcast build (scan +
      explode + hash-relation construction) from the steady-state
      number. Static planning costs ~0.1s/sample and is identical at
      x1 and xN; AQE stays off so no adaptive re-planning or stage
      caching is measured (the _static_clone rationale).

    Min-of-2 rejects residual OS noise without hiding work — every
    sample recomputes every stage (shuffle drop + the fresh
    QueryExecution)."""
    samples = max(
        1, int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_SAMPLES", "2"))
    )
    prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _noop_write(plan)  # warm: codegen compile + JIT, static plan
        best = float("inf")
        for _ in range(samples):
            drop_all_shuffle_outputs(spark)
            t0 = time.perf_counter()
            _noop_write(plan)
            best = min(best, time.perf_counter() - t0)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    return round(best, 4)


def _cust_at(spark, sf_dir: str, m: int):
    """m× customer replicas with replica-unique ids and block keys: the
    realistic growth mode — more blocks of the same size, not one block
    m× deeper (an all-pairs block of millions is out of contract at any
    scale; see operators/fuzzy.py docstring)."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.session import read_table

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    parts = [
        cust.select(
            (F.col("c_custkey") + F.lit(i * 10_000_000)).alias("id"),
            F.col("c_name").alias("name"),
            (F.col("c_nationkey") * m + i).alias("blk"),
        )
        for i in range(m)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _docs_at(spark, sf_dir: str, m: int):
    """m× documents with replica-unique tokens: shingle sets are
    disjoint across replicas, so dup structure repeats per replica
    instead of multiplying across them."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.split("text", " "),
                    lambda w: F.concat(F.lit(f"r{i}_"), w),
                ),
            ).alias("text"),
            F.concat(F.lit(f"r{i}_"), F.col("source")).alias("source"),
        )
        for i in range(m)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _scale_fuzzy(spark, sf_dir: str, mult: int) -> dict:
    from event_pipeline_spark.operators.fuzzy import fuzzy_pairs

    f1 = _time_once(spark, fuzzy_pairs(
        _cust_at(spark, sf_dir, 1), "id", "name",
        max_dist=2, block_cols=["blk"],
    ))
    fm = _time_once(spark, fuzzy_pairs(
        _cust_at(spark, sf_dir, mult), "id", "name",
        max_dist=2, block_cols=["blk"],
    ))
    return {"x1": f1, "xN": fm, "ratio": round(fm / max(f1, 1e-9), 2)}


def _scale_jaccard(spark, sf_dir: str, mult: int) -> dict:
    from event_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    j1 = _time_once(spark, ngram_jaccard_pairs(
        _docs_at(spark, sf_dir, 1), threshold=0.5, group_col="source"
    ))
    jm = _time_once(spark, ngram_jaccard_pairs(
        _docs_at(spark, sf_dir, mult), threshold=0.5, group_col="source"
    ))
    return {"x1": j1, "xN": jm, "ratio": round(jm / max(j1, 1e-9), 2)}


def _scale_fuzzy_salted(spark, sf_dir: str, mult: int) -> dict:
    # r5: the salted/sub-blocked fuzzy form must not grow WORSE than the
    # plain blocked form (VERDICT r4 task 3's acceptance bar).
    from event_pipeline_spark.operators.fuzzy import fuzzy_pairs

    s1 = _time_once(spark, fuzzy_pairs(
        _cust_at(spark, sf_dir, 1), "id", "name",
        max_dist=2, block_cols=["blk"], block_salt=4,
    ))
    sm = _time_once(spark, fuzzy_pairs(
        _cust_at(spark, sf_dir, mult), "id", "name",
        max_dist=2, block_cols=["blk"], block_salt=4,
    ))
    return {"x1": s1, "xN": sm, "ratio": round(sm / max(s1, 1e-9), 2)}


def _scale_fuzzy_hot_block(spark, sf_dir: str, mult: int) -> dict:
    # what salting is FOR: a HOT-BLOCK corpus (2 blocks carry all the
    # rows, so the plain shuffled join runs 2 giant kernel tasks while
    # 30 cores idle; salt 8 splits each block into 36 cell-pair tasks).
    # Same total kernel work — the speedup is parallelism reclaimed.
    # Two measurement traps found building this (kept as doc):
    # - limit() makes both sides SinglePartition, which SATISFIES the
    #   join's clustering requirement — no hash exchange, 1 task, salt
    #   invisible. Use a filter, not a limit.
    # - at toy scale AQE coalesces the KB-sized salted shuffle back to
    #   1 partition (it sees bytes, not the quadratic kernel behind
    #   them); disabled for this entry to emulate production shuffle
    #   sizes, where coalescing would never engage.
    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.fuzzy import fuzzy_pairs
    from event_pipeline_spark.session import read_table

    cust = read_table(spark, sf_dir, "customer")
    hot = cust.where(F.col("c_custkey") < 8000).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        (F.col("c_custkey") % 2).cast("int").alias("blk"),
    )
    # broadcast_build=False on both: at 100 TB the build side cannot
    # broadcast, and it is exactly the shuffled block-key join whose
    # parallelism collapses to |blocks| — the case salting exists for.
    _coalesce_prior = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true"
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        hp = _time_once(spark, fuzzy_pairs(
            hot, "id", "name", max_dist=1, block_cols=["blk"],
            broadcast_build=False,
        ))
        hs = _time_once(spark, fuzzy_pairs(
            hot, "id", "name", max_dist=1, block_cols=["blk"],
            block_salt=8, broadcast_build=False,
        ))
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", _coalesce_prior
        )
    return {
        "plain_sec": hp, "salted_sec": hs,
        "speedup": round(hp / max(hs, 1e-9), 2),
    }


def _scale_minhash(spark, sf_dir: str, mult: int) -> dict:
    from event_pipeline_spark.operators.dedup import minhash_near_duplicates

    n1 = _time_once(spark, minhash_near_duplicates(
        _docs_at(spark, sf_dir, 1)
    ))
    nm = _time_once(spark, minhash_near_duplicates(
        _docs_at(spark, sf_dir, mult)
    ))
    return {"x1": n1, "xN": nm, "ratio": round(nm / max(n1, 1e-9), 2)}


def _scale_minhash_hot_bucket(spark, sf_dir: str, mult: int) -> dict:
    # what the max_bucket cap is FOR: a boilerplate flood (B identical
    # docs) fills whole LSH buckets, and the band self-join's OUTPUT is
    # B(B-1)/2 candidate pairs per bucket — AQE skew-split redistributes
    # that work but cannot shrink it; only dropping the bucket does.
    # Candidates must collapse from ~quadratic-in-B to the organic count
    # and the join must get faster, not slower, on the dirty corpus.
    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.dedup import minhash_candidate_pairs
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    flood_b = 2000
    flood = spark.range(10_000_000, 10_000_000 + flood_b).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the same boilerplate footer text repeated everywhere "
            "on every page of this site"
        ).alias("text"),
    )
    dirty = docs.select("doc_id", "text").unionByName(flood)
    uncapped_plan = minhash_candidate_pairs(dirty)
    u_pairs = uncapped_plan.count()
    ut = _time_once(spark, uncapped_plan)
    capped_plan = minhash_candidate_pairs(dirty, max_bucket=100)
    c_pairs = capped_plan.count()
    ct = _time_once(spark, capped_plan)
    return {
        "flood_docs": flood_b,
        "uncapped_pairs": u_pairs, "capped_pairs": c_pairs,
        "uncapped_sec": ut, "capped_sec": ct,
        "speedup": round(ut / max(ct, 1e-9), 2),
    }


def _scale_bm25(spark, sf_dir: str, mult: int) -> dict:
    # BM25 growth mode: same vocabulary, m× documents — postings per
    # query term grow with the corpus (the realistic shape)
    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.ranking import bm25_topk
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")

    def docs_same_vocab_at(m: int):
        parts = [
            docs.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                "text",
            )
            for i in range(m)
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    terms = ["spark", "table", "shuffle", "join"]
    b1 = _time_once(spark, bm25_topk(docs_same_vocab_at(1), terms))
    bm = _time_once(spark, bm25_topk(docs_same_vocab_at(mult), terms))
    return {"x1": b1, "xN": bm, "ratio": round(bm / max(b1, 1e-9), 2)}


def _scale_interval_join(spark, sf_dir: str, mult: int) -> dict:
    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.temporal import interval_join
    from event_pipeline_spark.session import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def intervals_at(m: int, side: str):
        # replica-disjoint value ranges; within a replica, intervals
        # tile the line at stride 2 with length 3, so each left
        # interval overlaps a CONSTANT ~4 right intervals — output and
        # per-bin density stay linear in input (the realistic shape:
        # more time, not denser time). A dense fixture (all intervals
        # in one small range) is quadratic by construction and would
        # measure the fixture, not the operator.
        shift = 1.0 if side == "b" else 0.0
        parts = [
            orders.select(
                (F.col("o_orderkey") + F.lit(i * 10_000_000)).alias(f"{side}_id"),
                (F.col("o_orderkey") * 2.0 + F.lit(i * 1e8) + shift)
                .alias(f"{side}_lo"),
                (F.col("o_orderkey") * 2.0 + F.lit(i * 1e8) + shift + 3.0)
                .alias(f"{side}_hi"),
            )
            for i in range(m)
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    i1 = _time_once(spark, interval_join(
        intervals_at(1, "a"), intervals_at(1, "b"),
        l_lo="a_lo", l_hi="a_hi", r_lo="b_lo", r_hi="b_hi",
        bin_width=10.0,
    ))
    im = _time_once(spark, interval_join(
        intervals_at(mult, "a"), intervals_at(mult, "b"),
        l_lo="a_lo", l_hi="a_hi", r_lo="b_lo", r_hi="b_hi",
        bin_width=10.0,
    ))
    return {"x1": i1, "xN": im, "ratio": round(im / max(i1, 1e-9), 2)}


def _triangle_base_edges(spark, sf_dir: str):
    """The co-purchase base edge list, MATERIALIZED (persist + count)
    outside any timed region."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    x = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).alias("x")
    y = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2")
    ).alias("y")
    base_edges = (
        x.join(y, "o")
        .where(F.col("p") < F.col("p2"))
        .select(F.col("p").alias("a"), F.col("p2").alias("b"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    n = base_edges.count()  # materialize before any timing starts
    return base_edges, n


def _scale_triangles(spark, sf_dir: str, mult: int) -> dict:
    # r8/r9: triangle counting — growth mode is m× more communities of
    # the same size (replica-unique node keys over a base edge list
    # MATERIALIZED outside the timed region), so per-copy work is
    # constant and total work ~m. Triangle work is Θ(Σ deg²) — the
    # sf0.1 co-purchase graph packs 72M wedge-operations per copy, so
    # the multiplier is capped at 3 here (x10 is ~720M merge steps ≈
    # a minute of honest arithmetic, too heavy for a growth probe; the
    # r9 operator rewrite to adjacency-array intersection already cut
    # that scale point 266s -> 62s by never materializing wedges).
    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.graphrank import triangle_stats

    tri_mult = min(mult, 3)
    base_edges, _ = _triangle_base_edges(spark, sf_dir)

    def edges_at(m: int):
        parts = [
            base_edges.select(
                (F.col("a") + F.lit(i * 10_000_000)).alias("a"),
                (F.col("b") + F.lit(i * 10_000_000)).alias("b"),
            )
            for i in range(m)
        ]
        d = parts[0]
        for pt in parts[1:]:
            d = d.unionByName(pt)
        return d

    t1 = _time_once(spark, triangle_stats(edges_at(1)))
    tm = _time_once(spark, triangle_stats(edges_at(tri_mult)))
    base_edges.unpersist()
    return {
        "mult": tri_mult,
        "x1": t1, "xN": tm, "ratio": round(tm / max(t1, 1e-9), 2),
    }


def _scale_triangles_skewed_hub(spark, sf_dir: str, mult: int) -> dict:
    # r10: hub-skewed fixture — a LOW-ID hub (node 0) joined to every
    # other node, sized so the hub sits in ~30% of edges. Under the old
    # id-orientation the hub kept its FULL neighbor list and met it on
    # every hub edge (per-edge intersect work quadratic in hub degree);
    # degree-ordered orientation points every spoke INTO the hub, so
    # per-edge arrays stay bounded and growth stays ~linear (checked by
    # the same replica growth mode: each replica gets its own hub).
    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.graphrank import triangle_stats

    tri_mult = min(mult, 3)
    base_edges, n_base = _triangle_base_edges(spark, sf_dir)
    # hub share = h/(E+h) ≈ 30% -> h = (3/7)E; spokes are NEW nodes
    # (degree 1) so the stress is the hub's degree itself, not extra
    # triangle structure
    hub_deg = int(0.43 * n_base)

    def skewed_at(m: int):
        parts = []
        for i in range(m):
            shift = i * 10_000_000
            parts.append(
                base_edges.select(
                    (F.col("a") + F.lit(shift)).alias("a"),
                    (F.col("b") + F.lit(shift)).alias("b"),
                )
            )
            parts.append(
                spark.range(hub_deg).select(
                    F.lit(shift).alias("a"),
                    (F.col("id") + F.lit(shift + 5_000_000)).alias("b"),
                )
            )
        d = parts[0]
        for pt in parts[1:]:
            d = d.unionByName(pt)
        return d

    s1 = _time_once(spark, triangle_stats(skewed_at(1)))
    sm = _time_once(spark, triangle_stats(skewed_at(tri_mult)))
    base_edges.unpersist()
    return {
        "mult": tri_mult, "hub_degree": hub_deg,
        "hub_edge_share": round(hub_deg / (n_base + hub_deg), 3),
        "x1": s1, "xN": sm, "ratio": round(sm / max(s1, 1e-9), 2),
    }


#: Scale-section entries in recorded order. Each function takes
#: (spark, sf_dir, mult) and returns its JSON fragment.
SCALE_ENTRIES = {
    "fuzzy_name_pairs": _scale_fuzzy,
    "dedup_ngram_jaccard": _scale_jaccard,
    "fuzzy_name_pairs_salted": _scale_fuzzy_salted,
    "fuzzy_hot_block": _scale_fuzzy_hot_block,
    "dedup_minhash_pairs": _scale_minhash,
    "minhash_hot_bucket": _scale_minhash_hot_bucket,
    "rank_bm25_topk": _scale_bm25,
    "interval_join": _scale_interval_join,
    "graph_triangles": _scale_triangles,
    "graph_triangles_skewed_hub": _scale_triangles_skewed_hub,
}


def _run_scale_entry(spark, sf_dir: str, name: str) -> dict:
    mult = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_MULT", "10"))
    return SCALE_ENTRIES[name](spark, sf_dir, mult)


def _scale_section(spark, sf_dir: str) -> dict:
    """Time the pair/explode-heavy operators at 1× and N× input, EACH
    ENTRY IN A SUBPROCESS-FRESH SESSION.

    Round-11 measurement fix: the former single-session loop was
    contamination-prone — entries run after several prior 10× fixtures
    measured up to 4× slower than the same plan in a fresh session
    (residue: un-destroyed broadcast variables from earlier warms plus
    JVM old-gen/GC pressure; clearCache touches neither).
    The recorded interval_join ratio inflated from ~10 (its honest
    linear value, fresh) to 19-50 in-section. Per-entry subprocesses
    give every x1/xN pair an identical, residue-free JVM; each entry
    still times x1 before xN inside its own session, so the pair shares
    codegen/JIT warmth exactly as before. ``SPARK_GRAFT_BENCH_SCALE_INPROC=1``
    restores the legacy shared-session path (debug only).
    """
    mult = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_MULT", "10"))
    out = {"mult": mult}

    if os.environ.get("SPARK_GRAFT_BENCH_SCALE_INPROC") == "1":
        for name in SCALE_ENTRIES:
            out[name] = _run_scale_entry(spark, sf_dir, name)
        return out

    import subprocess

    script = os.path.abspath(__file__)
    for name in SCALE_ENTRIES:
        proc = subprocess.run(
            [sys.executable, script, "--scale-entry", name, sf_dir],
            capture_output=True,
            text=True,
        )
        entry = None
        for line in reversed(proc.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                try:
                    entry = json.loads(line)
                except json.JSONDecodeError:
                    continue
                break
        if entry is None:
            tail = (proc.stderr or proc.stdout or "").strip().splitlines()[-5:]
            entry = {"error": f"rc={proc.returncode}: " + " | ".join(tail)}
        out[name] = entry
    return out


def _scale_entry_main(name: str, sf_dir: str) -> None:
    """Subprocess entry point: run ONE scale entry in this fresh
    session and print its JSON fragment as the last stdout line."""
    spark = get_session("bench-scale")
    print(json.dumps(_run_scale_entry(spark, sf_dir, name)))


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--scale-entry":
        sf_dir = (
            sys.argv[3]
            if len(sys.argv) > 3
            else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        )
        _scale_entry_main(sys.argv[2], sf_dir)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("bench")
    queries = all_queries()

    names = [n for n in HEADLINE if n in queries]
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [n.strip() for n in extra.split(",") if n.strip() in queries]

    # cold pass: build each plan, first execution (codegen compile + run)
    cold: dict[str, float] = {}
    plans = {}
    for name in names:
        t0 = time.perf_counter()
        plans[name] = queries[name](spark, sf_dir)
        plans[name].toPandas()
        cold[name] = round(time.perf_counter() - t0, 4)

    # fresh-plan pass: rebuild the DataFrame (plan-cache miss, codegen warm)
    fresh: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).toPandas()
        fresh[name] = round(time.perf_counter() - t0, 4)

    # steady-state pass (headline): re-execute the prepared plans.
    # Shuffle outputs are dropped first so every stage recomputes —
    # re-execution skips only plan compile, never work.
    # N timed executions (default 3): every run still recomputes all
    # stages (shuffle outputs dropped first). The headline keeps the min
    # (rejects OS-level noise — same treatment the DuckDB baseline below
    # gets); the median is reported ALONGSIDE so a loaded machine is
    # self-evident: median far above min means the run was noisy, not
    # that the engine regressed.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    def _samples(plan) -> list[float]:
        timed = _static_clone(spark, plan)  # warmed; reuse-proof
        out = []
        for _ in range(runs):
            drop_all_shuffle_outputs(spark)
            t0 = time.perf_counter()
            timed.toPandas()
            out.append(time.perf_counter() - t0)
        return out

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in names:
        xs = _samples(plans[name])
        timings[name] = round(min(xs), 4)
        medians[name] = round(_median(xs), 4)

    # operator set: same steady-state protocol (warm once, then timed
    # re-execution with shuffle outputs dropped). Overridden entries
    # (eagerly-checkpointing plans) are rebuilt in a timeable form —
    # see _bench_plan_overrides.
    overrides = _bench_plan_overrides()
    op_timings: dict[str, float] = {}
    for name in (n for n in OPERATORS if n in queries):
        plan = overrides.get(name, queries[name])(spark, sf_dir)
        plan.toPandas()
        op_timings[name] = round(min(_samples(plan)), 4)
        # r11: scrub between entries — dead plan/clone references hold
        # JVM broadcast variables and shuffle bookkeeping alive until a
        # GC lets the ContextCleaner reap them; without this, late
        # entries time against accumulated old-gen pressure (the same
        # residue class the scale section now avoids via per-entry
        # subprocesses; measured there at up to 4x inflation).
        del plan
        spark._jvm.System.gc()

    # same-run DuckDB baseline: each headline query's own oracle SQL over
    # the same parquet, warm best-of-2 — so the ratio reported per round
    # is measured in-process, not pinned to a historical measurement.
    duck: dict[str, float] = {}
    try:
        from event_pipeline_spark.registry import all_oracles
        from event_pipeline_spark.testing.differential import duckdb_connect

        oracles = all_oracles()
        con = duckdb_connect(sf_dir)
        for name in names:
            sql = oracles.get(name)
            if not sql:
                continue
            con.execute(sql).fetchdf()  # warm (I/O cache + plan)
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(sql).fetchdf()
                best = min(best, time.perf_counter() - t0)
            duck[name] = round(best, 4)
        con.close()
    except Exception:
        duck = {}

    # scale check: the two slowest pair-generators at 1× and 10× rows.
    # Replication scales the BLOCK/GROUP count (replica-salted keys and
    # tokens keep per-block size constant and shingle sets disjoint
    # across replicas), which is the operators' declared scaling contract
    # — so time should grow near-linearly with rows, and a quadratic
    # blowup in either join would show up as ratio >> mult.
    scale = {}
    if os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1") != "0":
        scale = _scale_section(spark, sf_dir)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                "bench_runs": runs,
                "scale_check": scale,
                "fresh_plan_total_sec": round(sum(fresh.values()), 4),
                "cold_total_sec": round(sum(cold.values()), 4),
                "operators": op_timings,
                "operators_total_sec": round(sum(op_timings.values()), 4),
                "duckdb_queries": duck,
                "duckdb_total_sec": round(sum(duck.values()), 4),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
