"""Sketch operators: error bounds vs exact answers and merge
consistency — the contracts that make sketches safe to roll up at
100 TB (approximate values, exact guarantees)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_pipeline_spark.operators.sketches import (
    QUERIES,
    hll_merge,
    hll_partial,
    kll_merge_partials,
)
from event_pipeline_spark.session import read_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    # unpersisted at teardown, as in tests/test_dedup.py
    df = read_table(spark, sf_dir, "events").cache()
    yield df
    df.unpersist()


def test_hll_estimates_within_rsd(spark, sf_dir, events):
    got = {
        r["event_type"]: r["approx_distinct"]
        for r in QUERIES["sketch_hll_daily_users"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got.keys() == exact.keys()
    for et, est in got.items():
        # lg_k=12 → relative standard error ~1.6%; allow 4 sigma
        assert abs(est - exact[et]) <= max(3, 0.065 * exact[et]), et


def test_hll_union_of_partials_matches_whole(events):
    """Merge consistency: union(daily sketches) == one sketch over all
    rows — the property that makes incremental rollups sound (HLL
    register-max is associative and order-insensitive)."""
    daily = hll_partial(
        events.withColumn("day", F.to_date("ts")),
        "user_id",
        ["event_type", "day"],
    )
    merged = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_merge(daily, ["event_type"]).collect()
    }
    whole = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_merge(
            hll_partial(events, "user_id", ["event_type"]), ["event_type"]
        ).collect()
    }
    assert merged == whole


def test_theta_algebra_consistent_and_bounded(spark, sf_dir, events):
    row = QUERIES["sketch_theta_overlap"](spark, sf_dir).first()
    clicks = events.where(F.col("event_type") == "click").select("user_id")
    buys = events.where(F.col("event_type") == "purchase").select("user_id")
    n_a = clicks.distinct().count()
    n_b = buys.distinct().count()
    n_union = clicks.union(buys).distinct().count()
    n_int = clicks.intersect(buys).count()
    for name, est, exact in [
        ("n_a", row["n_a"], n_a),
        ("n_b", row["n_b"], n_b),
        ("n_union", row["n_union"], n_union),
        ("n_intersect", row["n_intersect"], n_int),
        ("n_a_only", row["n_a_only"], n_a - n_int),
    ]:
        assert abs(est - exact) <= max(3, 0.05 * max(exact, 1)), (
            name,
            est,
            exact,
        )
    # inclusion–exclusion holds approximately on the estimates themselves
    assert row["n_union"] <= row["n_a"] + row["n_b"] + 1e-6


def test_kll_quantiles_within_rank_bounds(spark, sf_dir, events):
    got = {
        r["event_type"]: r
        for r in QUERIES["sketch_kll_value_quantiles"](spark, sf_dir).collect()
    }
    # KLL k=200 → rank error ~1.65%; check the returned value's true rank
    # sits inside a generous rank window around the target
    exact = {
        r["event_type"]: r["q"]
        for r in events.groupBy("event_type")
        .agg(
            F.expr(
                "percentile(value, array(0.44, 0.56, 0.90, 0.99))"
            ).alias("q")
        )
        .collect()
    }
    for et, row in got.items():
        lo50, hi50, lo95, hi95 = exact[et]
        assert lo50 - 1e-9 <= row["p50"] <= hi50 + 1e-9, et
        assert lo95 - 1e-9 <= row["p95"] <= hi95 + 1e-9, et


def test_kll_merge_across_groups(events):
    """KLL partials built per-day merge into a valid whole-table sketch
    (kll_sketch_merge_double), with n preserved exactly."""
    daily = events.withColumn("day", F.to_date("ts")).groupBy("day").agg(
        F.kll_sketch_agg_double("value", F.lit(200)).alias("kll")
    )
    merged = kll_merge_partials(
        daily.withColumn("all", F.lit(1)), "kll", ["all"]
    ).select(F.kll_sketch_get_n_double("kll").alias("n")).first()["n"]
    assert merged == events.where(F.col("value").isNotNull()).count()


# -- KMV theta (md5-derived exact mode) ---------------------------------------


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    # unpersisted at teardown, as in tests/test_dedup.py
    df = read_table(spark, sf_dir, "orders").cache()
    yield df
    df.unpersist()


def _exact_overlap(orders):
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH")
    na = a.select("o_custkey").distinct().count()
    nb = b.select("o_custkey").distinct().count()
    nu = (
        a.select("o_custkey")
        .union(b.select("o_custkey"))
        .distinct()
        .count()
    )
    return na, nb, nu, na + nb - nu, nu - nb


def test_kmv_estimates_within_bound(spark, sf_dir, orders):
    """KMV with k=64: every estimate within 4/sqrt(k-1) ≈ 50% relative
    (generous 4-sigma bound; observed error is a few percent)."""
    from event_pipeline_spark.operators.sketches import kmv_theta_overlap

    row = kmv_theta_overlap(
        orders, "o_custkey", "o_orderpriority", "1-URGENT", "2-HIGH"
    ).collect()[0]
    na, nb, nu, ni, nao = _exact_overlap(orders)
    bound = 4.0 / (63**0.5)
    for est, exact in [
        (row["n_a"], na),
        (row["n_b"], nb),
        (row["n_union"], nu),
        (row["n_intersect"], ni),
        (row["n_a_only"], nao),
    ]:
        assert abs(est - exact) <= max(4.0, bound * exact), (est, exact)


def test_kmv_unsaturated_is_exact(spark, sf_dir, orders):
    """k larger than the universe → theta = 2^64 and every estimate
    collapses to the exact distinct count (the unsaturated branch)."""
    from event_pipeline_spark.operators.sketches import kmv_theta_overlap

    row = kmv_theta_overlap(
        orders,
        "o_custkey",
        "o_orderpriority",
        "1-URGENT",
        "2-HIGH",
        k=10**6,
    ).collect()[0]
    na, nb, nu, ni, nao = _exact_overlap(orders)
    assert (
        row["n_a"],
        row["n_b"],
        row["n_union"],
        row["n_intersect"],
        row["n_a_only"],
    ) == (float(na), float(nb), float(nu), float(ni), float(nao))


def test_kmv_algebra_internally_consistent(spark, sf_dir, orders):
    """union = intersect + a_only + b_only under the shared min-theta
    scope (all four counts divide by the same theta, so the identity is
    exact in the counts, hence in the estimates)."""
    from event_pipeline_spark.operators.sketches import kmv_theta_overlap

    row_ab = kmv_theta_overlap(
        orders, "o_custkey", "o_orderpriority", "1-URGENT", "2-HIGH"
    ).collect()[0]
    row_ba = kmv_theta_overlap(
        orders, "o_custkey", "o_orderpriority", "2-HIGH", "1-URGENT"
    ).collect()[0]
    assert row_ab["n_union"] == pytest.approx(
        row_ab["n_intersect"] + row_ab["n_a_only"] + row_ba["n_a_only"],
        abs=0.01,
    )
    # symmetry of the commutative outputs
    assert row_ab["n_union"] == row_ba["n_union"]
    assert row_ab["n_intersect"] == row_ba["n_intersect"]


# -- HLL (md5-derived exact mode) ---------------------------------------------


def test_hll_md5_estimate_within_rsd(spark, sf_dir):
    """m=256 -> relative standard error 1.04/sqrt(256) = 6.5%; allow
    4 sigma (observed ~5.5% at saturation)."""
    from event_pipeline_spark.operators.sketches import hll_md5_estimate

    li = read_table(spark, sf_dir, "lineitem")
    got = {
        r["l_returnflag"]: r["est"]
        for r in hll_md5_estimate(
            li, "l_partkey", ["l_returnflag"]
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for flag, est in got.items():
        assert abs(est - exact[flag]) <= max(4, 0.26 * exact[flag]), flag


def test_hll_md5_is_set_semantic(spark, sf_dir):
    """Registers are max-folds of per-value hashes, so duplicating every
    row must leave every output (nz, t_units, est) bit-identical — the
    property that makes register merges safe across partitions/days."""
    from event_pipeline_spark.operators.sketches import hll_md5_estimate

    li = read_table(spark, sf_dir, "lineitem")
    one = sorted(
        hll_md5_estimate(li, "l_partkey", ["l_returnflag"]).collect()
    )
    dup = sorted(
        hll_md5_estimate(
            li.union(li), "l_partkey", ["l_returnflag"]
        ).collect()
    )
    assert one == dup


def test_hll_md5_linear_branch_formula(spark, sf_dir):
    """Small universe (15 users) -> linear-counting branch; the estimate
    must equal the closed form m*ln(m/V) under the round-7/round-3
    quantization, recomputed here in plain Python."""
    import math

    from event_pipeline_spark.operators.sketches import (
        HLL_M,
        hll_md5_estimate,
    )

    ev = read_table(spark, sf_dir, "events")
    row = hll_md5_estimate(ev, "user_id", []).collect()[0]
    assert row["nz"] < HLL_M
    v = HLL_M - row["nz"]
    expect = round(HLL_M * round(math.log(HLL_M / v), 7), 3)
    assert row["est"] == expect


def test_cms_never_undercounts_and_merges(spark):
    """The CM guarantee: estimate >= true count for EVERY key; and the
    sketch is mergeable — building on two halves and summing counters
    equals building once."""
    from pyspark.sql import functions as F

    from event_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame(
        [(f"k{i % 37}",) for i in range(1000)], "v string"
    )
    sketch = cms_build(df, "v")
    keys = df.select("v").distinct()
    est = {
        r["k"]: r["estimate"]
        for r in cms_estimate(sketch, keys, "v").collect()
    }
    true = {
        r["v"]: r["c"]
        for r in df.groupBy("v").agg(F.count("*").alias("c")).collect()
    }
    assert all(est[k] >= c for k, c in true.items())

    a = df.where(F.length("v") == 2)   # k0..k9
    b = df.where(F.length("v") == 3)   # k10..k36
    merged = (
        cms_build(a, "v")
        .unionByName(cms_build(b, "v"))
        .groupBy("row", "bucket")
        .agg(F.sum("counter").cast("bigint").alias("counter"))
    )
    est_m = {
        r["k"]: r["estimate"]
        for r in cms_estimate(merged, keys, "v").collect()
    }
    assert est_m == est


def test_cms_unseen_key_reads_its_collisions_only(spark):
    from event_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([("x",)] * 5, "v string")
    keys = spark.createDataFrame([("never",)], "v string")
    est = cms_estimate(cms_build(df, "v"), keys, "v").collect()[0]
    assert 0 <= est["estimate"] <= 5


def test_ams_f2_exact_identity_and_merge(spark):
    from event_pipeline_spark.operators.sketches import ams_f2_sketch
    from pyspark.sql import functions as F

    # 6 rows of 'x', 3 of 'y': F2 = 36 + 9 = 45
    df = spark.createDataFrame(
        [("x",)] * 6 + [("y",)] * 3, "v string"
    )
    sk = {r["sketch"]: r for r in ams_f2_sketch(df, "v").collect()}
    assert len(sk) == 8
    for s, r in sk.items():
        # z = ±6 ± 3 depending on the two hash signs
        assert abs(r["z"]) in (3, 9)
        assert r["estimate"] == r["z"] * r["z"]
    # estimates are unbiased for F2=45: each is 9 or 81, both straddle
    assert {r["estimate"] for r in sk.values()} <= {9, 81}

    # linearity: sketching two halves separately and SUMMING z equals
    # sketching the union (the mergeability contract)
    h1 = spark.createDataFrame([("x",)] * 4, "v string")
    h2 = spark.createDataFrame([("x",)] * 2 + [("y",)] * 3, "v string")
    z1 = {r["sketch"]: r["z"] for r in ams_f2_sketch(h1, "v").collect()}
    z2 = {r["sketch"]: r["z"] for r in ams_f2_sketch(h2, "v").collect()}
    for s, r in sk.items():
        assert z1.get(s, 0) + z2.get(s, 0) == r["z"]
