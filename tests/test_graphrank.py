"""Integer-unit PageRank (operators/graphrank.py).

Model-based oracle: the exact integer recurrence replayed in pure
Python over the same edge list.
"""

from __future__ import annotations

import math


def _py_pagerank(edges, iterations=3):
    """Reference replay of the integer-unit recurrence."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    nodes = sorted({n for e in edges for n in e})
    r = {n: 1_000_000_000 for n in nodes}
    for _ in range(iterations):
        insum = defaultdict(int)
        for s, d in edges:
            insum[d] += r[s] // deg[s]
        r = {
            n: 150_000_000 + math.floor(0.85 * insum.get(n, 0))
            for n in nodes
        }
    return r


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src string, dst string")


def test_matches_python_replay(spark):
    from event_pipeline_spark.operators.graphrank import pagerank

    # two customers, two suppliers; C1 buys from both, C2 from S1 only
    rel = [("C1", "S1"), ("C1", "S2"), ("C2", "S1")]
    edges = rel + [(d, s) for s, d in rel]
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(_edges_df(spark, edges), iterations=3).collect()
    }
    assert got == _py_pagerank(edges)


def test_hub_outranks_leaf(spark):
    from event_pipeline_spark.operators.graphrank import pagerank

    # star: S1 connected to 5 customers, S2 to 1
    rel = [(f"C{i}", "S1") for i in range(5)] + [("C9", "S2")]
    edges = rel + [(d, s) for s, d in rel]
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank(_edges_df(spark, edges), iterations=3).collect()
    }
    assert got["S1"] > got["S2"]
    assert got == _py_pagerank(edges)


def test_purchase_edges_bidirectional(spark):
    from event_pipeline_spark.operators.graphrank import purchase_edges

    orders = spark.createDataFrame(
        [(1, 7)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(1, 100, 3), (1, 200, 3)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    got = {
        (r["src"], r["dst"])
        for r in purchase_edges(orders, lineitem).collect()
    }
    # one relationship (C7, S3), deduped across lineitems, both ways
    assert got == {("C7", "S3"), ("S3", "C7")}


def test_hits_hand_graph(spark):
    """c1->s1, c2->s1, c2->s2: two max-normalized iterations resolved
    by hand in integer 1e-6 units."""
    from event_pipeline_spark.operators.graphrank import hits

    edges = spark.createDataFrame(
        [("c1", "s1"), ("c2", "s1"), ("c2", "s2")],
        "src string, dst string",
    )
    out = {
        (r["role"], r["node"]): r["score_units"]
        for r in hits(edges, iterations=2).collect()
    }
    # iter1: araw s1=2e6 s2=1e6 -> a(s1)=1e6 a(s2)=500000
    #        hraw c1=1e6 c2=1.5e6 -> h(c1)=666666 h(c2)=1e6
    # iter2: araw s1=1666666 s2=1e6 -> a(s1)=1e6 a(s2)=600000
    #        hraw c1=1e6 c2=1.6e6 -> h(c1)=625000 h(c2)=1e6
    assert out[("authority", "s1")] == 1_000_000
    assert out[("authority", "s2")] == 600_000
    assert out[("hub", "c1")] == 625_000
    assert out[("hub", "c2")] == 1_000_000


def test_hits_symmetric_graph_all_ones(spark):
    """A complete bipartite graph: every hub and authority pegs at the
    max-normalized ceiling."""
    from event_pipeline_spark.operators.graphrank import hits

    edges = spark.createDataFrame(
        [(c, s) for c in ("c1", "c2") for s in ("s1", "s2")],
        "src string, dst string",
    )
    rows = hits(edges, iterations=2).collect()
    assert {r["score_units"] for r in rows} == {1_000_000}
    assert {r["score"] for r in rows} == {1.0}


def test_triangle_stats_hand_case(spark):
    """K4 plus a pendant: each K4 node sits in C(3,2)=3 triangles with
    clustering 1.0; the pendant has none; the node joining K4 to the
    pendant keeps clustering 3/(4*3/2)=0.5... resolved by hand below."""
    from event_pipeline_spark.operators.graphrank import triangle_stats

    # K4 on {1,2,3,4}; pendant edge 4-9
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges.append((4, 9))
    df = spark.createDataFrame(edges, "a long, b long")
    out = {r["node"]: r for r in triangle_stats(df).collect()}
    for n in (1, 2, 3):
        assert out[n]["degree"] == 3 and out[n]["triangles"] == 3
        assert out[n]["clustering"] == 1.0
    assert out[4]["degree"] == 4 and out[4]["triangles"] == 3
    assert out[4]["clustering"] == 0.5  # 2*3/(4*3)
    assert out[9]["triangles"] == 0 and out[9]["clustering"] is None
    # total triangle participation = 3 * #triangles (K4 has 4)
    assert sum(r["triangles"] for r in out.values()) == 3 * 4


def test_triangle_stats_skewed_hub(spark):
    """A LOW-ID hub star (node 0 joined to every other node) plus a
    few triangles: degree-ordered orientation keeps counts exact while
    the hub's out-neighbor list stays EMPTY (every spoke has lower
    degree, so every hub edge points INTO the hub) — the skew shape
    that id-orientation made quadratic."""
    from event_pipeline_spark.operators.graphrank import triangle_stats

    n = 200
    star = [(0, i) for i in range(1, n + 1)]
    # two triangles through the hub: (0,1,2) and (0,3,4)
    extra = [(1, 2), (3, 4)]
    df = spark.createDataFrame(star + extra, "a long, b long")
    out = {r["node"]: r for r in triangle_stats(df).collect()}
    assert out[0]["degree"] == n and out[0]["triangles"] == 2
    for v in (1, 2, 3, 4):
        assert out[v]["degree"] == 2 and out[v]["triangles"] == 1
        assert out[v]["clustering"] == 1.0
    assert out[5]["triangles"] == 0
    # the orientation invariant itself: no out-list exceeds O(sqrt(m))
    # — on this fixture the max is 2 (a spoke in a triangle points at
    # the hub and possibly its triangle partner); the hub's is empty
    from pyspark.sql import functions as F

    e = df.select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    ).dropDuplicates(["a", "b"])
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .count()
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(deg.select(F.col("node").alias("a"), F.col("count").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("count").alias("db")), "b")
        .select(F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"))
    )
    max_out = o.groupBy("u").count().agg(F.max("count")).collect()[0][0]
    assert max_out <= 2


def test_kcore_hand_case_and_fixpoint(spark):
    from event_pipeline_spark.operators.graphrank import kcore_members

    # K5 clique (nodes 1..5, degree 4) + a pendant chain 5-10-11-12.
    # k=3: the chain peels over MULTIPLE sweeps (12 first, then 11,
    # then 10 — each removal exposes the next), the clique survives.
    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    chain = [(5, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "a long, b long")

    core = {
        r["node"]: r["degree"]
        for r in kcore_members(edges, k=3, rounds=4).collect()
    }
    assert core == {1: 4, 2: 4, 3: 4, 4: 4, 5: 4}

    # one sweep is NOT enough for the cascade: after round 1 the chain
    # interior (10) still holds on via 11
    early = {
        r["node"]
        for r in kcore_members(edges, k=3, rounds=1).collect()
    }
    # degree(10)=2 < 3, so 10 peels in round 1 at k=3; the multi-round
    # cascade needs k=2 below
    assert 10 not in core and 10 not in early
    core2 = {
        r["node"]: r["degree"]
        for r in kcore_members(edges, k=2, rounds=1).collect()
    }
    # k=2 round 1: only node 12 (degree 1) peels; 11 survives with 10
    assert 11 in core2 and 12 not in core2
    core2b = {
        r["node"]
        for r in kcore_members(edges, k=2, rounds=3).collect()
    }
    # rounds 2..3 cascade: 11 then 10 peel; clique + 5 remain
    assert core2b == {1, 2, 3, 4, 5}

    # fixpoint identity: one extra sweep changes nothing
    more = {
        (r["node"], r["degree"])
        for r in kcore_members(edges, k=2, rounds=4).collect()
    }
    assert more == {
        (r["node"], r["degree"])
        for r in kcore_members(edges, k=2, rounds=3).collect()
    }


def test_kcore_members_delta_form_matches_adjacency_form(spark):
    """The r12 delta-tracked kcore_members must equal the adjacency
    form's groupBy-count for every (k, rounds) — the docstring's gated
    equivalence claim (each edge decrements its surviving endpoint
    exactly once, at the sweep its other endpoint first dies)."""
    import random

    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.graphrank import (
        kcore_adjacency,
        kcore_members,
    )

    rnd = random.Random(7)
    edges = [
        (a, b)
        for a in range(30)
        for b in range(a + 1, 30)
        if rnd.random() < 0.3
    ]
    df = spark.createDataFrame(edges, "a long, b long")
    for k in (2, 4):
        for rounds in (1, 3):
            new = sorted(
                map(tuple, kcore_members(df, k=k, rounds=rounds).collect())
            )
            old = sorted(
                map(
                    tuple,
                    kcore_adjacency(df, k=k, rounds=rounds)
                    .groupBy("node")
                    .agg(
                        F.count(F.lit(1)).cast("bigint").alias("degree")
                    )
                    .collect(),
                )
            )
            assert new == old, (k, rounds)


def test_kcore_zero_degree_survivor_excluded(spark):
    """A node whose every neighbor peels in one sweep reaches degree 0:
    the adjacency form drops it implicitly (no rows), the delta form
    must drop it via the c > 0 exclusion — star of 5 spokes, k=2,
    rounds=1: spokes die (degree 1), the hub survives the sweep test
    (degree 5) but ends with zero alive edges -> empty members."""
    from event_pipeline_spark.operators.graphrank import kcore_members

    star = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(star, "a long, b long")
    assert kcore_members(df, k=2, rounds=1).collect() == []


def test_kcore_gate_fixpoint(spark, sf_dir):
    """The registered query's 5 rounds reach the fixpoint on the gate
    corpus (the fixed-round contract's convergence claim)."""
    from event_pipeline_spark.operators.graphrank import (
        KCORE_K,
        KCORE_ROUNDS,
        kcore_adjacency,
        kcore_sweep,
    )
    from event_pipeline_spark.session import read_table
    from pyspark.sql import functions as F

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    y = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    edges = (
        li.join(y, "l_orderkey")
        .where(F.col("l_partkey") < F.col("p2"))
        .select(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    # checkpoint the round-R adjacency, then ONE extra sweep must be
    # the identity (cheap: no second deep plan)
    at_r = kcore_adjacency(
        edges, k=KCORE_K, rounds=KCORE_ROUNDS, checkpoint_every=2
    ).localCheckpoint()
    deg = lambda adj: sorted(  # noqa: E731
        map(
            tuple,
            adj.groupBy("node").agg(F.count(F.lit(1)).alias("d")).collect(),
        )
    )
    assert deg(kcore_sweep(at_r, KCORE_K)) == deg(at_r)


def test_triangle_stats_single_pass_roles_and_exchange_reuse(spark):
    """Round-11 plan shape: the role contributions come from ONE
    generator pass over per_edge (explode of concat'd structs — the
    former three-way unionAll re-evaluated the per-edge join subtree
    once per branch), and the multiply-consumed subtrees behind the
    explicit repartitions are served by ReusedExchange under static
    planning. Results are covered by the hand-case tests above; this
    pins the executed shape those costs depend on."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.graphrank import triangle_stats

    df = spark.createDataFrame(
        [(a, b) for a in range(0, 8) for b in range(a + 1, 8)],
        "a long, b long",
    )
    prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = triangle_stats(df)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    # one generator pass emits u/v/witness contributions together
    assert plan.count("Generate explode(concat(array(struct") == 1
    # the shared-subtree repartitions actually get reused (o at least;
    # the deduped edge exchange folds too when pruning agrees)
    assert plan.count("ReusedExchange") >= 2
