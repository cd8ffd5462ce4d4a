"""PageRank over the customer-supplier purchase graph (unrolled,
integer-unit exact).

The iterative-graph-algorithm family (Page et al. 1999; Pregel-style
iterate-join-aggregate on Spark, cf. GraphX's PageRank): nodes are
customers and suppliers, an undirected purchase relationship (customer
bought from supplier via orders |x| lineitem) contributes an edge in
BOTH directions, and rank flows for a FIXED number of power
iterations with damping 0.85.

Determinism contract (the same trick as ``sim_kmeans_exact``'s
unrolled loop): ranks live in integer units of 1e-9 —

    r_0(v)  = 1e9
    r_t+1(v) = 0.15e9 + floor(0.85 * sum_{u->v} (r_t(u) div deg(u)))

``div`` is integer division, so every edge contribution is an exact
integer, the in-sum is an order-free integer sum, and the one double
multiplication per node (0.85 * exact-int) is correctly rounded —
both engines produce identical BIGINT ranks at every iteration, which
is what lets DuckDB replay the whole loop as unrolled CTEs. (The
floor-div leaks at most deg-1 units of mass per node per step —
bounded, deterministic, and documented; a float implementation would
converge to the same ranking but could not be hash-verified.)
The presentation double ``rank`` is the UNROUNDED ``units / 1e9`` —
one correctly-rounded division of an exact integer, identical in both
engines; rounding it to 7 dp would land exactly on .5 decimal
boundaries (units are 1e-9 decimals) where HALF_UP and binary-nearest
disagree — caught by the sf0.01 differential on first registration.

Scale: each iteration is one equi-join (edges |x| ranks on src) plus
one map-side-combined aggregation on dst — the textbook Pregel
superstep as two shuffles. Iterations are fixed (k=3 registered), so
the lazy plan is a 3-deep join chain; production graphs would
checkpoint per iteration and run to convergence, which changes the
driver loop, not the per-step plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES = {}
ORACLES = {}

UNIT = 1_000_000_000  # rank 1.0 in integer units
_TELEPORT = 150_000_000  # 0.15 in units
_DAMP = 0.85


def purchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Undirected purchase graph as a directed edge list (both
    directions per relationship). Node ids are 'C<custkey>' /
    'S<suppkey>'."""
    rel = (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    return rel.unionByName(
        rel.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(edges: DataFrame, *, iterations: int = 3) -> DataFrame:
    """(node, rank_units, rank) after ``iterations`` integer-unit
    power steps."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = nodes.select("node", F.lit(UNIT).cast("bigint").alias("r"))
    for _ in range(iterations):
        contrib = ed.join(
            ranks, ed.src == ranks.node
        ).select(F.col("dst").alias("node"), F.expr("r div deg").alias("c"))
        insum = contrib.groupBy("node").agg(F.sum("c").alias("insum"))
        ranks = nodes.join(insum, "node", "left").select(
            "node",
            (
                F.lit(_TELEPORT)
                + F.floor(
                    F.lit(_DAMP) * F.coalesce(F.col("insum"), F.lit(0))
                )
            )
            .cast("bigint")
            .alias("r"),
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_units"),
        (F.col("r") / F.lit(float(UNIT))).alias("rank"),
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    edges = purchase_edges(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )
    return pagerank(edges, iterations=3).orderBy("node")


def _step(prev: str, out: str) -> str:
    return f"""
{out} AS MATERIALIZED (
  SELECT n.node,
         (150000000 + CAST(floor(CAST(0.85 AS DOUBLE)
                                 * coalesce(s.insum, 0)) AS BIGINT))::BIGINT
           AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.r // d.d)::BIGINT AS insum
    FROM edges e
    JOIN {prev} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node)"""


QUERIES["graph_pagerank"] = q_graph_pagerank
ORACLES["graph_pagerank"] = f"""
WITH e0 AS (
  SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (
  SELECT src, dst FROM e0
  UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, 1000000000::BIGINT AS r FROM nodes),
{_step("r0", "r1")},
{_step("r1", "r2")},
{_step("r2", "r3")}
SELECT node, r AS rank_units,
       r / CAST(1000000000 AS DOUBLE) AS rank
FROM r3 ORDER BY node
"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

_HUNIT = 1_000_000  # HITS score 1.0 in integer units


def hits(edges: DataFrame, *, iterations: int = 2) -> DataFrame:
    """(node, role, score_units, score): Kleinberg's HITS on a
    DIRECTED edge list — hubs point, authorities are pointed at. On
    the purchase graph the roles are the bipartite split PageRank
    blurs: customers are hubs (good customers buy from good
    suppliers), suppliers are authorities.

    Determinism contract (the `pagerank` recipe with max-normalization
    instead of teleport): scores live in integer 1e-6 units,

        auth_raw(s) = Σ_{c→s} hub(c)          (order-free BIGINT sum)
        auth(s)     = auth_raw * 1e6 div max(auth_raw)

    and symmetrically for hubs — integer division only, so both
    engines replay every iteration bit-for-bit. Max-normalization (the
    standard L∞ HITS variant) keeps the arithmetic integral where the
    L2 norm would need a data-dependent sqrt; overflow bound:
    raw ≤ 1e6·max-degree, raw·1e6 ≤ 1e18 < 2^63 up to 1e6-degree
    nodes.

    Scale: one superstep = one equi-join (edges ⨝ scores on the
    incident key) + one map-side-combined aggregation, mirroring
    `pagerank`; the per-iteration max is a one-row broadcast (the
    rank_bm25 one-row-stats shape).
    """
    hubs = (
        edges.select("src")
        .distinct()
        .select("src", F.lit(_HUNIT).cast("bigint").alias("h"))
    )
    auths = None
    for _ in range(iterations):
        araw = (
            edges.join(hubs, "src")
            .groupBy("dst")
            .agg(F.sum("h").cast("bigint").alias("araw"))
        )
        amax = araw.agg(F.max("araw").alias("amax"))
        auths = araw.crossJoin(F.broadcast(amax)).select(
            "dst",
            F.expr(f"araw * {_HUNIT} div amax").cast("bigint").alias("a"),
        )
        hraw = (
            edges.join(auths, "dst")
            .groupBy("src")
            .agg(F.sum("a").cast("bigint").alias("hraw"))
        )
        hmax = hraw.agg(F.max("hraw").alias("hmax"))
        hubs = hraw.crossJoin(F.broadcast(hmax)).select(
            "src",
            F.expr(f"hraw * {_HUNIT} div hmax").cast("bigint").alias("h"),
        )
    return (
        hubs.select(
            F.col("src").alias("node"),
            F.lit("hub").alias("role"),
            F.col("h").alias("score_units"),
        )
        .unionByName(
            auths.select(
                F.col("dst").alias("node"),
                F.lit("authority").alias("role"),
                F.col("a").alias("score_units"),
            )
        )
        .select(
            "node",
            "role",
            "score_units",
            (F.col("score_units") / F.lit(float(_HUNIT))).alias("score"),
        )
    )


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    directed = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    return hits(directed, iterations=2).orderBy("role", "node")


def _hits_step(hub_in: str, i: int) -> str:
    return f"""
a{i}r AS MATERIALIZED (
  SELECT dst, sum(h)::BIGINT AS araw
  FROM edges JOIN {hub_in} USING (src) GROUP BY dst),
a{i} AS MATERIALIZED (
  SELECT dst, (araw * {_HUNIT} // (SELECT max(araw) FROM a{i}r))::BIGINT
           AS a
  FROM a{i}r),
h{i}r AS MATERIALIZED (
  SELECT src, sum(a)::BIGINT AS hraw
  FROM edges JOIN a{i} USING (dst) GROUP BY src),
h{i} AS MATERIALIZED (
  SELECT src, (hraw * {_HUNIT} // (SELECT max(hraw) FROM h{i}r))::BIGINT
           AS h
  FROM h{i}r)"""


QUERIES["graph_hits"] = q_graph_hits
ORACLES["graph_hits"] = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
h0 AS (SELECT DISTINCT src, {_HUNIT}::BIGINT AS h FROM edges),
{_hits_step("h0", 1)},
{_hits_step("h1", 2)}
SELECT node, role, score_units,
       score_units / CAST({_HUNIT} AS DOUBLE) AS score
FROM (
  SELECT src AS node, 'hub' AS role, h AS score_units FROM h2
  UNION ALL
  SELECT dst AS node, 'authority' AS role, a AS score_units FROM a2)
ORDER BY role, node
"""


# ---------------------------------------------------------------------------
# triangle counting + clustering coefficient (co-purchase graph)
# ---------------------------------------------------------------------------


def triangle_stats(
    edges: DataFrame, *, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """(node, degree, triangles, clustering): exact per-node triangle
    participation and local clustering coefficient
    2·t/(d·(d−1)) over an undirected simple graph given as oriented
    (a < b) distinct edges. Triangles measure cohesion — in a
    co-purchase graph they separate genuine product communities from
    hub-and-spoke popularity, which PageRank (above) cannot.

    Spark-first shape (round 9, skew-hardened round 10): edge ⋈
    adjacency-array intersection under DEGREE-ORDERED orientation —
    each undirected edge is directed from its lower-(degree, id)
    endpoint, each node's out-neighbor list is collected once, each
    directed edge (u,v) joins both endpoints' lists, and
    `array_intersect` yields exactly the w's with u→w and v→w. A
    triangle {x,y,z} ranked x<y<z by (degree, id) has directed edges
    x→y, x→z, y→z, so it is found exactly once: at edge (x,y), as
    w = z. Roles per hit: u and v each count the intersection size,
    each exploded w counts 1 — every corner of every triangle
    increments once.

    Why degree order, not id order (round-10 change): under a<b
    orientation a LOW-ID HUB keeps its full neighbor list — per-edge
    intersect work is Σ deg_out(v)² and the collected arrays are
    unbounded on a skewed graph. Degree-ordered orientation is the
    standard fix (Chiba–Nishizeki / Latapy forward algorithm):
    out-degree ≤ O(√m), total intersect work O(m^1.5), arrays stay
    small on ANY skew — a 100k-edge hub star contributes out-degree 1
    per spoke, not one 100k-long array met on every edge. Same exact
    counts (oracle recomputes via wedge joins, unchanged); the bench
    carries a hub-skewed fixture proving the bound.

    The round-9 lesson stands: the arithmetic is still the wedge
    bound — irreducible for exact counting — but it runs INSIDE the
    per-edge JVM merge; nothing wedge-shaped ever shuffles (the prior
    two-equi-join form wrote Σdeg² wedge rows to shuffle: 26 GB /
    266 s at a 720M-wedge point vs 62 s for the array form).
    Clustering stays ONE exact BIGINT division per node.

    Exchange sharing (round 11, extended round 12): every
    multiply-consumed subtree ends in an explicit ``repartition`` so
    its consumers take ONE reused exchange instead of re-evaluating
    the subtree — the deduped edge table (degree passes +
    orientation) and the oriented edge list (window, adjacency build,
    both per-edge sides). Round 12 dropped the former ``deg`` PIN:
    the cached degree table's rebuild plan is compiled separately, so
    its edge-dedup exchange could never fold with the orientation's —
    the whole scan + dedup chain executed TWICE per honest execution
    (plan-verified: 8 file scans with the pin, 2 without). Unpinned,
    the orientation's two degree sides share one reused exchange and
    only the cheap count merge re-evaluates; no cache at any scale."""
    e = (
        edges.select(
            F.col(a_col).cast("long").alias("a"),
            F.col(b_col).cast("long").alias("b"),
        )
        .dropDuplicates(["a", "b"])
        .repartition("a", "b")
    )
    deg = (
        e.select(
            F.explode(F.array(F.col("a"), F.col("b"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(
            deg.select(F.col("node").alias("a"), F.col("degree").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("degree").alias("db")),
            "b",
        )
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        # no-op at runtime (u/v come from inner joins on non-null keys)
        # but load-bearing for exchange reuse: the downstream joins push
        # isnotnull(u)/isnotnull(v) below the repartition, and the two
        # consumers would otherwise carry DIFFERENT pushed filters —
        # distinct subtrees, no ReusedExchange, orientation computed
        # twice. Stating both filters here makes the subtrees identical.
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .repartition("u")
    )
    adj = (
        o.groupBy(F.col("u").alias("node"))
        .agg(F.collect_list("v").alias("out"))
        .repartition("node")
    )
    # r12 (closing the r11 residual — the adjacency collect_list ran
    # TWICE per execution): each directed edge's ``ou`` now comes from
    # a COLLECT_LIST WINDOW over the same ``u`` exchange the adjacency
    # aggregate consumes — the u-side adjacency join disappears
    # entirely (one SMJ fewer) and the aggregate is built exactly ONCE,
    # for the v-side (plan-verified: 4 -> 2 ObjectHashAggregate; the
    # former shape could not fold the pair because the ou-side embedded
    # o's exchange as Exchange where the ov-side saw ReusedExchange, so
    # the outer exchanges never hash-matched). Shuffled bytes are
    # unchanged: the old join1 output crossed the v-exchange carrying
    # (u, v, ou) — exactly this window output. List order differs from
    # the aggregate's (window emits partition-sort order) — irrelevant:
    # array_intersect hashes its inputs, content not order feeds every
    # consumer.
    per_edge = (
        o.withColumn(
            "ou", F.collect_list("v").over(Window.partitionBy("u"))
        )
        .join(
            adj.select(F.col("node").alias("v"), F.col("out").alias("ov")),
            "v",
        )
        .select(
            "u", "v", F.array_intersect("ou", "ov").alias("common")
        )
        .withColumn("t", F.size("common"))
        .where(F.col("t") > 0)
    )
    # ONE generator pass emits every role contribution — u and v each
    # count the intersection size, each w in it counts 1. The former
    # three-way unionAll of per_edge projections re-evaluated the whole
    # per_edge subtree (both adjacency joins included) once per branch:
    # the executed static plan carried 3x the join work and 22
    # broadcast builds per run on the hub fixture (r11 measurement).
    # array_intersect hashes its inputs, so the out-lists need no
    # sort_array either — content, not order, feeds every consumer.
    roles = per_edge.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("u").alias("node"), F.col("t").alias("n")
                    ),
                    F.struct(
                        F.col("v").alias("node"), F.col("t").alias("n")
                    ),
                ),
                F.transform(
                    "common",
                    lambda w: F.struct(
                        w.alias("node"), F.lit(1).alias("n")
                    ),
                ),
            )
        ).alias("r")
    ).select(F.col("r.node").alias("node"), F.col("r.n").alias("n"))
    t_per = roles.groupBy("node").agg(
        F.sum("n").cast("bigint").alias("triangles")
    )
    return deg.join(t_per, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias(
            "triangles"
        ),
        F.when(
            F.col("degree") > 1,
            (F.lit(2) * F.coalesce("triangles", F.lit(0))).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        ).alias("clustering"),
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles of the co-purchase graph (parts sharing an order).
    Per-order pair fan-out is bounded by order size (≤13 on this
    corpus); output is one row per part."""
    from event_pipeline_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    x = li.alias("x")
    y = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p2")
    ).alias("y")
    edges = (
        x.join(y, "l_orderkey")
        .where(F.col("l_partkey") < F.col("p2"))
        .select(
            F.col("l_partkey").alias("a"), F.col("p2").alias("b")
        )
        .dropDuplicates(["a", "b"])
    )
    return triangle_stats(edges).orderBy("node")


QUERIES["graph_triangles"] = q_graph_triangles
ORACLES["graph_triangles"] = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
t_per AS (
  SELECT node, count(*)::BIGINT AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) GROUP BY node),
deg AS (
  SELECT node, count(*)::BIGINT AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node)
SELECT d.node, d.degree,
       coalesce(t.triangles, 0)::BIGINT AS triangles,
       CASE WHEN d.degree > 1
            THEN (2 * coalesce(t.triangles, 0))::DOUBLE
                 / (d.degree * (d.degree - 1))::DOUBLE
       END AS clustering
FROM deg d LEFT JOIN t_per t USING (node) ORDER BY d.node
"""


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling)
# ---------------------------------------------------------------------------

KCORE_K = 75
KCORE_ROUNDS = 5


def kcore_members(
    edges: DataFrame,
    *,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """(node, degree): members of the k-core — the maximal subgraph
    where every node keeps degree ≥ k — after ``rounds`` synchronous
    peeling sweeps (each sweep removes ALL nodes below k, then
    recomputes degrees in the induced subgraph; Matula & Beck 1983).
    The density backbone that PageRank (influence) and triangles
    (local cohesion) don't give: k-core finds the globally dense
    community shell.

    Fixed-round contract: peeling converges in a data-dependent number
    of sweeps, so the operator runs EXACTLY ``rounds`` sweeps and the
    oracle unrolls the same sweeps — the two engines agree round by
    round whether or not the fixpoint is reached; the convergence
    itself is asserted in tests (a sweep at the fixpoint is the
    identity) and the round count is part of the contract, exactly the
    ``pagerank``/``hits`` unrolled-iteration discipline above.

    Scale shape (the partition-preserving DELTA form): the adjacency
    form (``kcore_adjacency``) re-materializes the induced ADJACENCY
    every sweep (two survivor joins over the edge table; under the
    sort-merge fallback the nbr-side join re-keys the full adjacency
    once per sweep — two edge-sized exchanges × rounds). Membership
    only needs per-node DEGREES, and a sweep changes a node's degree
    by exactly the number of its newly-dead neighbors — so the sweep
    state here is the NODE-sized degree table, updated by aggregated
    deltas:

    - the symmetrized edge table is hash-partitioned by ``node`` ONCE;
      every consumer (the initial degree count and each sweep's
      dead-incident probe) reads that one exchange (ReusedExchange);
    - sweep i: ``dead`` = alive nodes with degree < k (a filter on the
      degree table — no scan); the edges incident to dead nodes are
      found by an equi-join on ``node`` against the SAME partitioning
      (symmetry: (x,y) ∈ sym ⟺ (y,x) ∈ sym, so dead-NEIGHBOR edges
      keyed by the surviving endpoint are exactly dead-NODE rows
      flipped — no re-key of the edge table, ever); their counts per
      surviving endpoint aggregate map-side and shuffle as NODE-sized
      partial counts — the only per-sweep exchange;
    - the degree update (drop dead, subtract deltas) is co-partitioned
      on ``node`` throughout — no further exchanges.

    Per sweep the adjacency form shuffles 2×|alive| edge rows; this form
    shuffles ≤ |touched nodes| count rows. Each edge (x,y) decrements
    y exactly once — at the sweep its other endpoint first dies while
    y is alive (dead sets are disjoint across sweeps), so the running
    degree equals the induced-subgraph degree the adjacency form
    recomputes from scratch; nodes whose degree reaches 0 are excluded
    at the end exactly as they vanish from a groupBy over adjacency
    rows. Result-equality against ``kcore_adjacency`` is pytest-gated.

    The plan is lazy: building it starts no Spark job, and the caller's
    action runs every sweep, where AQE sees each node-sized side's
    runtime size and broadcasts it when it fits (a surviving-node table
    at extreme scale may not fit executor memory, and there AQE keeps
    the shuffled join)."""
    sym = edges.select(
        F.col(a_col).cast("long").alias("node"),
        F.col(b_col).cast("long").alias("nbr"),
    ).unionAll(
        edges.select(
            F.col(b_col).cast("long").alias("node"),
            F.col(a_col).cast("long").alias("nbr"),
        )
    ).repartition("node")

    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("c"))
    for _ in range(rounds):
        # dead/survivor split is a FILTER pair on the degree table, not
        # an anti-join — one fewer join per sweep and the degree table
        # is referenced twice per sweep instead of three times (the
        # unrolled logical tree grows 2^rounds, not 3^rounds; execution
        # collapses to one pass via the reused ``sym`` exchange either
        # way, but the optimizer walks the logical tree)
        dead = deg.where(F.col("c") < k).select("node")
        delta = (
            sym.join(dead, "node")
            .groupBy(F.col("nbr").alias("node"))
            .agg(F.count(F.lit(1)).alias("d"))
        )
        deg = (
            deg.where(F.col("c") >= k)
            .join(delta, "node", "left")
            .select(
                "node",
                (F.col("c") - F.coalesce("d", F.lit(0))).alias("c"),
            )
        )
    return deg.where(F.col("c") > 0).select(
        "node", F.col("c").cast("bigint").alias("degree")
    )


def kcore_sweep(alive: DataFrame, k: int) -> DataFrame:
    """ONE synchronous peeling sweep over a (node, nbr) adjacency:
    drop every node with degree < k, return the induced adjacency."""
    keep = (
        alive.groupBy("node")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= k)
        .select("node")
    )
    return alive.join(keep, "node").join(
        keep.withColumnRenamed("node", "nbr"), "nbr"
    )


def kcore_adjacency(
    edges: DataFrame,
    *,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    a_col: str = "a",
    b_col: str = "b",
    checkpoint_every: int = 0,
) -> DataFrame:
    """The (node, nbr) adjacency surviving ``rounds`` peeling sweeps —
    the reference form of ``kcore_members`` (tests compare the two and
    run one extra ``kcore_sweep`` over it to assert the fixpoint).
    ``checkpoint_every`` cuts the unrolled plan depth of long peels."""
    sym = edges.select(
        F.col(a_col).cast("long").alias("node"),
        F.col(b_col).cast("long").alias("nbr"),
    ).unionAll(
        edges.select(
            F.col(b_col).cast("long").alias("node"),
            F.col(a_col).cast("long").alias("nbr"),
        )
    )
    # ONE upfront hash exchange on ``node``: every sweep's degree
    # aggregate groups by node, and the keep-side joins preserve the
    # partitioning whenever they run as broadcast joins (the strategy
    # AQE picks at runtime for every sweep at gate scale) — so all ``rounds`` aggregations become
    # exchange-free complete aggregates over the established layout
    # instead of re-shuffling the (shrinking) adjacency once per sweep
    # (measured: 23 -> 15 hash exchanges in the static broadcast plan,
    # local seconds unchanged — the win is shuffled bytes at scale).
    # Under the sort-merge fallback the nbr-side join re-keys anyway
    # and the upfront exchange is one among many, not a regression.
    alive = sym.repartition("node")
    for i in range(rounds):
        alive = kcore_sweep(alive, k)
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            alive = alive.localCheckpoint()
    return alive


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """75-core of the co-purchase graph after 5 peeling sweeps (the
    fixpoint on this corpus — asserted in tests). Builds lazily: every
    sweep runs in the caller's action."""
    from event_pipeline_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    x = li.alias("x")
    y = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p2")
    ).alias("y")
    edges = (
        x.join(y, "l_orderkey")
        .where(F.col("l_partkey") < F.col("p2"))
        .select(F.col("l_partkey").alias("a"), F.col("p2").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return kcore_members(edges).orderBy("node")


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    sql = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
alive0 AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM e
  UNION ALL SELECT b AS node, a AS nbr FROM e)"""
    prev = "alive0"
    for i in range(rounds):
        sql += f""",
keep{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS c FROM {prev} GROUP BY node)
  WHERE c >= {k}),
alive{i + 1} AS MATERIALIZED (
  SELECT s.node, s.nbr FROM {prev} s
  JOIN keep{i} ka ON ka.node = s.node
  JOIN keep{i} kb ON kb.node = s.nbr)"""
        prev = f"alive{i + 1}"
    return (
        sql
        + f"""
SELECT node, count(*)::BIGINT AS degree
FROM {prev} GROUP BY node ORDER BY node"""
    )


QUERIES["graph_kcore"] = q_graph_kcore
ORACLES["graph_kcore"] = _kcore_oracle_sql(KCORE_K, KCORE_ROUNDS)
