"""Temporal joins Spark lacks as primitives: as-of join and range join.

The reference framework has no joins at all (SURVEY §2.10 Q19 note); these
are [ext] operators in the driver's mandate ("as-of join, range join" as
canonical custom operators). Both are compositions of existing DataFrame
ops — no UDFs, no driver-side loops — so Catalyst/Tungsten own the
physical plan at any scale.

- ``asof_join``: for each left row, the latest right row at-or-before its
  timestamp per key (trades→quotes point-in-time semantics). One
  shuffle+sort over the *union* of both sides — the classic merge-scan
  formulation — instead of a per-left-row subquery (quadratic) or a
  windowed self-join of candidates.
- ``range_join``: point-in-interval equi-binned join. A raw
  ``v BETWEEN lo AND hi`` predicate forces BroadcastNestedLoopJoin
  (every row × every interval); binning turns it into a hash join on the
  bin id with an exact post-filter, the standard trick Spark's optimizer
  doesn't apply automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SIDE_COL = "__side"
BIN_COL = "__bin"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts: str = "ts",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Backward as-of join: each left row picks up the right row with the
    greatest ``ts`` <= its own, per ``on`` key (ties at equal ts match).

    Returns all left columns plus the right side's non-key, non-ts
    columns (which must not collide with left column names), NULL where
    no right row precedes. ``tolerance_seconds`` voids matches older than
    the window, like pandas ``merge_asof(tolerance=...)``.

    Scale shape: union both sides, one shuffle+sort on (key, ts), then a
    running ``last(..., ignorenulls)`` carries right values forward —
    cost is one sort of |L|+|R| rows, no quadratic candidate set. Right
    rows sort *before* left rows at equal ts so same-instant matches
    land. Duplicate right rows on the same (key, ts) are resolved
    arbitrarily — pre-aggregate the right side if that matters.

    All right value columns travel as ONE struct keyed to their row:
    per-column ``last(ignorenulls)`` would backfill a NULL field of the
    matched row from an older right row — pandas ``merge_asof`` returns
    the matched row's NULL, and so does this.
    """
    value_cols = [c for c in right.columns if c not in on and c != ts]
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(f"right-side columns collide with left: {sorted(clash)}")

    rv = F.struct(
        *[F.col(c) for c in value_cols], F.col(ts).alias("__r_ts")
    )
    r_tagged = right.withColumn(SIDE_COL, F.lit(0)).withColumn("__rv", rv)
    rv_type = r_tagged.schema["__rv"].dataType
    l_tagged = left.withColumn(SIDE_COL, F.lit(1)).withColumn(
        "__rv", F.lit(None).cast(rv_type)
    )
    for c in left.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None))

    unioned = l_tagged.unionByName(r_tagged.select(l_tagged.columns))
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(ts).asc(), F.col(SIDE_COL).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *left.columns,
        F.col(SIDE_COL),
        F.last("__rv", ignorenulls=True).over(w).alias("__rv"),
    ).where(F.col(SIDE_COL) == 1)

    matched = F.col("__rv")
    if tolerance_seconds is not None:
        stale = (
            matched.isNull()
            | (
                F.col(ts).cast("double") - matched.getField("__r_ts").cast("double")
                > F.lit(float(tolerance_seconds))
            )
        )
        matched = F.when(stale, F.lit(None).cast(rv_type)).otherwise(matched)
    return carried.select(
        *left.columns,
        *[matched.getField(c).alias(c) for c in value_cols],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    value: str,
    lo: str,
    hi: str,
    bin_width: float,
    on: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    ``lo <= value <= hi`` (optionally also matching ``on`` equi-keys).

    Implementation: quantize ``value`` to a bin id; explode each interval
    over the bins it spans; hash-join on (bin, *on); exact BETWEEN
    post-filter. Pick ``bin_width`` near the typical interval length —
    replication factor of the intervals side is
    ``~(hi-lo)/bin_width + 1`` rows per interval, and a too-small width
    inflates that while a too-large one fattens the post-filter.

    ``how`` may be ``inner`` or ``left`` (unmatched points kept with NULL
    interval columns; implemented as inner + anti-union so the exploded
    side never fabricates left rows).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"range_join supports inner/left, not {how!r}")
    on = on or []
    w = float(bin_width)

    binned_points = points.withColumn(
        BIN_COL, F.floor(F.col(value) / F.lit(w)).cast("long")
    )
    exploded = intervals.withColumn(
        BIN_COL,
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / F.lit(w)).cast("long"),
                F.floor(F.col(hi) / F.lit(w)).cast("long"),
            )
        ),
    )
    joined = (
        binned_points.join(exploded, on + [BIN_COL], "inner")
        .where(F.col(value).between(F.col(lo), F.col(hi)))
        .drop(BIN_COL)
    )
    if how == "inner":
        return joined
    matched_keys = joined.select(*points.columns).distinct()
    unmatched = points.join(matched_keys, points.columns, "left_anti")
    return joined.unionByName(unmatched, allowMissingColumns=True)


# -- oracle-checked query surface (driver correctness gate) ----------------

QUERIES = {}
ORACLES = {}


def _asof_clicks_to_purchases(spark, sf_dir: str) -> DataFrame:
    """Each click picks up the user's latest purchase at-or-before it.
    Right side is pre-aggregated to one row per (user_id, ts) so the
    match is deterministic; DuckDB's native ASOF LEFT JOIN is the oracle.
    """
    from event_pipeline_spark.session import read_table

    events = read_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(clicks, purchases, ["user_id"], ts="ts")
    return out.select(
        "event_id", "user_id", F.round("pval", 6).alias("pval")
    ).orderBy("event_id")


QUERIES["asof_join"] = _asof_clicks_to_purchases
ORACLES["asof_join"] = """
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, MAX(value) AS pval
           FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, ROUND(r.pval, 6) AS pval
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id"""


def _range_join_value_bands(spark, sf_dir: str) -> DataFrame:
    """Events matched to overlapping value bands derived from nation keys
    (interval per nation: [4k, 4k+6]) — exactness of the binned rewrite
    against a plain inequality-join oracle."""
    from event_pipeline_spark.session import read_table

    events = read_table(spark, sf_dir, "events").select("event_id", "value")
    bands = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 4.0).alias("lo"),
        (F.col("n_nationkey") * 4.0 + 6.0).alias("hi"),
    )
    out = range_join(events, bands, "value", "lo", "hi", bin_width=8.0)
    return out.select("event_id", "band_id").orderBy("event_id", "band_id")


QUERIES["range_join"] = _range_join_value_bands
ORACLES["range_join"] = """
SELECT e.event_id, n.n_nationkey AS band_id
FROM events e JOIN nation n
  ON e.value >= n.n_nationkey * 4.0 AND e.value <= n.n_nationkey * 4.0 + 6.0
ORDER BY e.event_id, band_id"""


# ---------------------------------------------------------------------------
# Resampling: regular time spine + gap fill (round 3)
# ---------------------------------------------------------------------------


def resample_ffill(
    df: DataFrame,
    *,
    keys: list[str],
    ts: str,
    value_exprs: dict[str, F.Column],
    step: str = "1 hour",
) -> DataFrame:
    """Regularize an event stream onto a fixed-step per-key time spine,
    forward-filling value columns across empty buckets.

    The time-series primitive behind dashboards and training-feature
    snapshots ("state of X at every hour"): ① per-key bucket aggregate
    (one shuffle, map-side partial), ② per-key spine via
    ``sequence(min, max, step)`` + explode — generated, not joined from
    a calendar table, so the spine costs |keys| rows of state, ③ one
    window sort per key carries the last observed value forward.
    Buckets with no rows report count 0 and the carried value.

    ``value_exprs`` maps output name → aggregate over the bucket (use
    exact integer forms for cross-engine determinism). Closest reference
    construct: interval-scheduled re-aggregation
    (/root/reference/nexus/mixins/schedule.py:79-131) — here the
    "schedule" is materialized as data.

    The bucket is derived from ``step`` itself (epoch-aligned tumbling
    window start), so '15 minutes' and '1 day' spines bucket the data
    at the same granularity the spine is generated at — the spine rows
    and the aggregate buckets always line up.
    """
    bucket = F.window(F.col(ts), step)["start"].alias("__h")
    hourly = df.groupBy(*keys, bucket).agg(
        F.count("*").alias("__n"),
        *[expr.alias(name) for name, expr in value_exprs.items()],
    )
    spine = (
        hourly.groupBy(*keys)
        .agg(F.min("__h").alias("__lo"), F.max("__h").alias("__hi"))
        .select(
            *keys,
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"INTERVAL {step}"))
            ).alias("__h"),
        )
    )
    joined = spine.join(hourly, on=[*keys, "__h"], how="left")
    w = (
        Window.partitionBy(*keys)
        .orderBy("__h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = [
        F.last(name, ignorenulls=True).over(w).alias(name)
        for name in value_exprs
    ]
    return joined.select(
        *keys,
        F.col("__h").alias("h"),
        F.coalesce("__n", F.lit(0)).alias("n"),
        *filled,
    )


def q_resample_ffill_hourly(spark, sf_dir: str) -> DataFrame:
    """Hourly per-user activity spine with forward-filled spend (users
    0–4 keep the differential small; sums in integer cents)."""
    from event_pipeline_spark.session import read_table

    events = read_table(spark, sf_dir, "events").where(F.col("user_id") < 5)
    cents = F.sum(
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    )
    out = resample_ffill(
        events,
        keys=["user_id"],
        ts="ts",
        value_exprs={"cents": cents},
    )
    return out.select(
        "user_id",
        "h",
        "n",
        (F.col("cents") / 100.0).alias("filled"),
    ).orderBy("user_id", "h")


QUERIES["resample_ffill_hourly"] = q_resample_ffill_hourly
ORACLES["resample_ffill_hourly"] = """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             COUNT(*) AS n,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      FROM events WHERE user_id < 5 GROUP BY user_id, date_trunc('hour', ts)),
    spine AS (
      SELECT user_id,
             unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
      FROM hourly GROUP BY user_id)
    SELECT s.user_id, s.h, COALESCE(n, 0) AS n,
           last_value(cents IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.h) / 100.0 AS filled
    FROM spine s LEFT JOIN hourly USING (user_id, h)
    ORDER BY s.user_id, s.h
"""


def q_resample_ffill_15min(spark, sf_dir: str) -> DataFrame:
    """Quarter-hour spine for users 0-2 — locks the step-derived
    bucketing (epoch-aligned tumbling window == DuckDB time_bucket) so
    a regression back to hardcoded hourly buckets hash-mismatches."""
    from event_pipeline_spark.session import read_table

    events = read_table(spark, sf_dir, "events").where(F.col("user_id") < 3)
    cents = F.sum(
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    )
    out = resample_ffill(
        events,
        keys=["user_id"],
        ts="ts",
        value_exprs={"cents": cents},
        step="15 minutes",
    )
    return out.select(
        "user_id",
        "h",
        "n",
        (F.col("cents") / 100.0).alias("filled"),
    ).orderBy("user_id", "h")


QUERIES["resample_ffill_15min"] = q_resample_ffill_15min
ORACLES["resample_ffill_15min"] = """
    WITH bucketed AS (
      SELECT user_id, time_bucket(INTERVAL 15 MINUTE, ts) AS h,
             COUNT(*) AS n,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      FROM events WHERE user_id < 3
      GROUP BY user_id, time_bucket(INTERVAL 15 MINUTE, ts)),
    spine AS (
      SELECT user_id,
             unnest(generate_series(min(h), max(h), INTERVAL 15 MINUTE)) AS h
      FROM bucketed GROUP BY user_id)
    SELECT s.user_id, s.h, COALESCE(n, 0) AS n,
           last_value(cents IGNORE NULLS)
               OVER (PARTITION BY s.user_id ORDER BY s.h) / 100.0 AS filled
    FROM spine s LEFT JOIN bucketed USING (user_id, h)
    ORDER BY s.user_id, s.h
"""


# ---------------------------------------------------------------------------
# Interval overlap join (round 4)
# ---------------------------------------------------------------------------


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bin_width: float,
    on: list[str] | None = None,
    broadcast_build: bool | None = None,
) -> DataFrame:
    """Interval×interval overlap join: every (left, right) pair with
    ``l_lo <= r_hi AND r_lo <= l_hi`` (closed intervals), optionally
    also matching ``on`` equi-keys.

    The naive predicate forces a nested-loop join; here BOTH sides
    explode over the fixed-width bins their interval spans, hash-join
    on (bin, *on), apply the exact overlap post-filter, and de-dupe
    pairs that met in several shared bins. Shuffle volume is
    interval-length/bin_width rows per interval — pick ``bin_width``
    near the typical interval length, exactly as in ``range_join``.
    Column names must be disjoint across the two inputs, and exact
    duplicate input ROWS collapse (the pair de-dupe keys on all output
    columns) — carry a unique id per side if duplicates matter.

    ``broadcast_build`` is three-state (the ``fuzzy.fuzzy_pairs``
    discipline):

    - ``None`` (default): no hint — Catalyst plans from statistics and
      AQE re-checks the real binned sizes at runtime (the production
      path).
    - ``True``: force-broadcast the binned RIGHT side — only when the
      caller KNOWS it fits executor memory after the explode.
    - ``False``: force a sort-merge bin join (spill-safe). This is the
      escape for AQE-off or stale-statistics contexts, where Catalyst's
      STATIC size estimate of the exploded ``Generate(Union(...))``
      side can stay under the broadcast threshold and plan a
      BroadcastHashJoin over a multi-million-row built side (observed
      at bench-scale mult 4: BHJ BuildRight over an 840k-row binned
      side).
    """
    on = on or []
    clash = set(left.columns) & set(right.columns) - set(on)
    if clash:
        raise ValueError(f"column names collide across sides: {sorted(clash)}")
    w = float(bin_width)

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            BIN_COL,
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / F.lit(w)).cast("long"),
                    F.floor(F.col(hi) / F.lit(w)).cast("long"),
                )
            ),
        )

    binned_l = binned(left, l_lo, l_hi)
    binned_r = binned(right, r_lo, r_hi)
    if broadcast_build is True:
        binned_r = F.broadcast(binned_r)
    elif broadcast_build is False:
        binned_r = binned_r.hint("merge")
    joined = (
        binned_l
        .join(binned_r, on + [BIN_COL], "inner")
        .where(
            (F.col(l_lo) <= F.col(r_hi)) & (F.col(r_lo) <= F.col(l_hi))
        )
        .drop(BIN_COL)
    )
    return joined.dropDuplicates(left.columns + [c for c in right.columns if c not in on])


def q_interval_join_sessions(spark, sf_dir: str) -> DataFrame:
    """Overlapping per-user value intervals derived from orders and
    events keys — exactness of the binned rewrite against the plain
    inequality join."""
    from event_pipeline_spark.session import read_table

    nation = read_table(spark, sf_dir, "nation")
    a = nation.select(
        F.col("n_nationkey").alias("a_id"),
        (F.col("n_nationkey") * 3.0).alias("a_lo"),
        (F.col("n_nationkey") * 3.0 + 10.0).alias("a_hi"),
    )
    b = nation.select(
        F.col("n_nationkey").alias("b_id"),
        (F.col("n_nationkey") * 4.0 + 2.0).alias("b_lo"),
        (F.col("n_nationkey") * 4.0 + 9.0).alias("b_hi"),
    )
    out = interval_join(
        a, b, l_lo="a_lo", l_hi="a_hi", r_lo="b_lo", r_hi="b_hi",
        bin_width=8.0,
    )
    return out.select("a_id", "b_id").orderBy("a_id", "b_id")


QUERIES["interval_join"] = q_interval_join_sessions
ORACLES["interval_join"] = """
    SELECT a.n_nationkey AS a_id, b.n_nationkey AS b_id
    FROM nation a JOIN nation b
      ON a.n_nationkey * 3.0 <= b.n_nationkey * 4.0 + 9.0
     AND b.n_nationkey * 4.0 + 2.0 <= a.n_nationkey * 3.0 + 10.0
    ORDER BY a_id, b_id
"""


# ---------------------------------------------------------------------------
# sequential conversion funnel
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ["view", "click", "signup", "purchase"]


def events_funnel(
    events: DataFrame,
    steps: list[str] = None,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    horizon_hours: int | None = None,
) -> DataFrame:
    """One-row funnel report: for each step k, how many users reached
    stage k via a STRICTLY time-ordered sequence step1 < step2 < … (the
    product-analytics funnel — a purchase before the signup does not
    count), plus conversion rates from stage 1.

    ``horizon_hours`` bounds the whole journey: later steps only count
    within that window of the user's STAGE-1 timestamp (the standard
    funnel-window semantics — without it, any active user eventually
    converts and every rate saturates at 1.0).

    Scale shape: ONE shuffle on the user key; each user's events
    collapse to a sorted (ts, type) array and a single JVM fold walks
    it, advancing the stage only when the expected type arrives at a
    strictly later timestamp. No per-step self-joins (the naive plan is
    |steps| sequential join-aggregates over the full event table).
    Strict ts comparison makes the fold equal to the sequential
    ``min(ts) > prev`` formulation on ANY tie layout, which is what the
    oracle recomputes."""
    steps = FUNNEL_STEPS if steps is None else steps
    ev = events.where(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("_u"),
        F.struct(
            F.col(ts_col).alias("ts"), F.col(type_col).alias("t")
        ).alias("_e"),
    )
    per_user = ev.groupBy("_u").agg(
        F.sort_array(F.collect_list("_e")).alias("_evs")
    )
    init = F.struct(
        F.lit(0).alias("stage"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("timestamp").alias("start"),
    )

    def advance(acc, e):
        out = acc
        for k, st in enumerate(steps):
            c = (
                (acc["stage"] == k)
                & (e["t"] == st)
                & (acc["ts"].isNull() | (e["ts"] > acc["ts"]))
            )
            if horizon_hours is not None and k > 0:
                c = c & (
                    e["ts"]
                    <= acc["start"]
                    + F.expr(f"INTERVAL {int(horizon_hours)} HOURS")
                )
            step_state = F.struct(
                F.lit(k + 1).alias("stage"),
                e["ts"].alias("ts"),
                (acc["start"] if k > 0 else e["ts"]).alias("start"),
            )
            out = F.when(c, step_state).otherwise(out)
        return out

    depth = F.aggregate(F.col("_evs"), init, advance)["stage"]
    depths = per_user.select(depth.alias("_d"))
    aggs = [
        F.sum((F.col("_d") >= k + 1).cast("long")).alias(f"n_{st}")
        for k, st in enumerate(steps)
    ]
    row = depths.agg(*aggs)
    convs = [
        F.round(
            F.col(f"n_{st}") / F.col(f"n_{steps[0]}"), 6
        ).alias(f"conv_{st}")
        for st in steps[1:]
    ]
    return row.select("*", *convs)


FUNNEL_HORIZON_HOURS = 6


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return events_funnel(
        read_table(spark, sf_dir, "events"),
        horizon_hours=FUNNEL_HORIZON_HOURS,
    )


QUERIES["events_funnel"] = q_events_funnel
ORACLES["events_funnel"] = """
WITH t1 AS (
  SELECT user_id, min(ts) AS ts FROM events
  WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, min(e.ts) AS ts FROM events e
  JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.ts
    AND e.ts <= t1.ts + INTERVAL 6 HOURS GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, min(e.ts) AS ts FROM events e
  JOIN t2 ON t2.user_id = e.user_id
  JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'signup' AND e.ts > t2.ts
    AND e.ts <= t1.ts + INTERVAL 6 HOURS GROUP BY e.user_id),
t4 AS (
  SELECT e.user_id, min(e.ts) AS ts FROM events e
  JOIN t3 ON t3.user_id = e.user_id
  JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t3.ts
    AND e.ts <= t1.ts + INTERVAL 6 HOURS GROUP BY e.user_id)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_view,
       (SELECT CAST(count(*) AS BIGINT) FROM t2) AS n_click,
       (SELECT CAST(count(*) AS BIGINT) FROM t3) AS n_signup,
       (SELECT CAST(count(*) AS BIGINT) FROM t4) AS n_purchase,
       round((SELECT count(*) FROM t2)::DOUBLE
             / (SELECT count(*) FROM t1), 6) AS conv_click,
       round((SELECT count(*) FROM t3)::DOUBLE
             / (SELECT count(*) FROM t1), 6) AS conv_signup,
       round((SELECT count(*) FROM t4)::DOUBLE
             / (SELECT count(*) FROM t1), 6) AS conv_purchase
"""


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------


def events_retention(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    activity_type: str | None = None,
) -> DataFrame:
    """(cohort_day, day_offset, n_active, retention): the classic
    cohort-retention triangle at day granularity — users grouped by the
    day of their FIRST qualifying event (``activity_type`` restricts
    what counts as activity, e.g. 'purchase'); ``retention`` = share of
    the cohort active ``offset`` days after joining (offset 0 is 1.0 by
    construction).

    Scale shape: the cohort assignment is a per-user min (one user-key
    shuffle, map-side combinable); activity days come from the same
    distinct (user, day) pass — never per raw event; output is
    |days|²/2 rows."""
    ev = events
    if activity_type is not None:
        ev = ev.where(F.col(type_col) == activity_type)
    ev = ev.select(
        F.col(user_col).alias("_u"),
        F.to_date(F.col(ts_col)).alias("_d"),
    ).distinct()
    first = ev.groupBy("_u").agg(F.min("_d").alias("_cohort"))
    joined = ev.join(first, "_u").select(
        "_cohort", F.datediff(F.col("_d"), F.col("_cohort")).alias("_off")
    )
    sizes = first.groupBy("_cohort").agg(
        F.count(F.lit(1)).cast("long").alias("_size")
    )
    active = joined.groupBy("_cohort", "_off").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    return (
        active.join(sizes, "_cohort")
        .select(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.col("_off").cast("int").alias("day_offset"),
            "n_active",
            F.round(F.col("n_active") / F.col("_size"), 6).alias(
                "retention"
            ),
        )
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-retention: cohort = first purchase day, activity =
    purchasing again N days later (the discriminative form — raw
    any-event activity saturates at 1.0 on this corpus)."""
    from event_pipeline_spark.session import read_table

    return events_retention(
        read_table(spark, sf_dir, "events"), activity_type="purchase"
    ).orderBy("cohort_day", "day_offset")


QUERIES["events_retention"] = q_events_retention
ORACLES["events_retention"] = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS d FROM events
  WHERE event_type = 'purchase'),
f AS (
  SELECT user_id, min(d) AS cohort FROM uw GROUP BY user_id),
sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS size
  FROM f GROUP BY cohort),
active AS (
  SELECT f.cohort, uw.d - f.cohort AS offs,
         CAST(count(*) AS BIGINT) AS n_active
  FROM uw JOIN f USING (user_id)
  GROUP BY f.cohort, uw.d - f.cohort)
SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort_day,
       CAST(a.offs AS INT) AS day_offset, a.n_active,
       round(a.n_active::DOUBLE / s.size, 6) AS retention
FROM active a JOIN sizes s USING (cohort)
ORDER BY cohort_day, day_offset
"""


# ---------------------------------------------------------------------------
# event transition matrix
# ---------------------------------------------------------------------------


def events_transitions(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, n, p): the first-order Markov transition
    matrix of per-user event sequences — ``p`` = share of ``from_type``
    occurrences whose NEXT event (same user, (ts, tiebreak) order) is
    ``to_type``. The standard journey-analysis summary (which steps
    follow which) and the sanity check before any sequence-model
    training on the stream.

    Scale shape: one user-key window for ``lead`` (same single shuffle
    as sessionize); the matrix aggregate is |types|² rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        events.select(
            F.col(user_col),
            F.col(type_col).alias("from_type"),
            F.col(ts_col),
            F.col(tiebreak_col),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .where(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(per_from), 6).alias("p"),
    )


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return events_transitions(read_table(spark, sf_dir, "events")).orderBy(
        "from_type", "to_type"
    )


QUERIES["events_transitions"] = q_events_transitions
ORACLES["events_transitions"] = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events),
counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type)
SELECT from_type, to_type, n,
       round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS p
FROM counts ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# inter-arrival time statistics
# ---------------------------------------------------------------------------


def interarrival_stats(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """(key, n_gaps, mean_us, var_us, cv): per-key inter-arrival gap
    statistics — the arrival-process profile (is this stream Poisson?
    cv ≈ 1 — bursty? cv > 1) that capacity planning and anomaly
    baselines start from.

    Exactness: gaps are integer microseconds (``unix_micros``, one
    ``lag`` over the per-key ``(t)`` window — that order is enough:
    timestamp ties produce the same gap multiset regardless of
    tiebreak, so no secondary sort key is taken); (n, Σg, Σg²) run in
    DECIMAL(38,0) ≡ HUGEINT (gaps² overflow BIGINT at day-scale gaps
    — the `stats.py` contract). The variance NUMERATOR n·Σg² − (Σg)²
    and DENOMINATOR n·(n−1) are also computed exactly in decimal, so
    every emitted double is a SINGLE correctly-rounded IEEE op over
    exact integers (one division for mean and var; sqrt + division
    for cv) — bit-identical across engines with no reliance on
    matching double-fold or FMA-contraction behavior. One
    key-partitioned window + one map-side-combinable aggregate; no
    global sort.
    """
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gaps = (
        events.select(F.col(key_col).alias("k"), us.alias("t"))
        .withColumn("g", F.col("t") - F.lag("t").over(
            Window.partitionBy("k").orderBy("t")
        ))
        .where(F.col("g").isNotNull())
    )
    dec = "decimal(38,0)"
    agg = gaps.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(F.col("g").cast(dec)).alias("sg"),
        # cast BEFORE squaring: day-scale gaps in µs overflow BIGINT
        # when squared row-level
        F.sum(F.col("g").cast(dec) * F.col("g").cast(dec)).alias("sgg"),
    )
    nd = F.col("n_gaps").cast(dec)
    # exact-decimal numerator/denominator: Σg ≤ ~1e17 → (Σg)² ≤ 1e34
    # and n·Σg² ≤ ~1e34, both inside DECIMAL(38,0) ≡ HUGEINT
    var_num = (nd * F.col("sgg") - F.col("sg") * F.col("sg")).cast("double")
    var_den = (nd * (nd - F.lit(1).cast(dec))).cast("double")
    mean = F.col("sg").cast("double") / F.col("n_gaps").cast("double")
    var = var_num / var_den
    ok = (F.col("n_gaps") > 1) & (var > 0)
    return agg.select(
        F.col("k").alias(key_col),
        "n_gaps",
        mean.alias("mean_us"),
        F.when(ok, var).alias("var_us"),
        F.when(ok, F.sqrt(var) / mean).alias("cv"),
    )


def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return interarrival_stats(read_table(spark, sf_dir, "events")).orderBy(
        "event_type"
    )


QUERIES["events_interarrival"] = q_events_interarrival
ORACLES["events_interarrival"] = """
WITH gaps AS (
  SELECT k, t - lag(t) OVER (PARTITION BY k ORDER BY t) AS g
  FROM (SELECT event_type AS k, epoch_us(ts) AS t FROM events)),
agg AS (
  SELECT k, count(*)::BIGINT AS n_gaps, sum(g)::HUGEINT AS sg,
         sum(g::HUGEINT * g::HUGEINT)::HUGEINT AS sgg
  FROM gaps WHERE g IS NOT NULL GROUP BY k),
stat AS (
  -- exact integer numerator/denominator, then a SINGLE double
  -- division per statistic (correctly-rounded, engine-stable)
  SELECT k, n_gaps,
         sg::DOUBLE / n_gaps::DOUBLE AS mean_us,
         (n_gaps::HUGEINT * sgg - sg * sg)::DOUBLE
           / (n_gaps::HUGEINT * (n_gaps::HUGEINT - 1))::DOUBLE AS var
  FROM agg)
SELECT k AS event_type, n_gaps, mean_us,
       CASE WHEN n_gaps > 1 AND var > 0 THEN var END AS var_us,
       CASE WHEN n_gaps > 1 AND var > 0 THEN sqrt(var) / mean_us
       END AS cv
FROM stat ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# active-user stickiness (DAU / WAU / MAU)
# ---------------------------------------------------------------------------


def active_user_stickiness(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(day, dau, wau, mau, stickiness_w, stickiness_m): per calendar
    day, distinct active users that day / in the trailing 7 days / in
    the trailing 30 days, plus the DAU/WAU and DAU/MAU ratios — the
    product-health headline beside cohort retention.

    Exactness + scale: the corpus collapses to distinct (user, day)
    pairs in ONE aggregate; each pair then contributes one row per
    trailing window it can serve (≤31 — a bounded explode, the
    standard distinct-over-sliding-window rewrite that avoids a
    distinct per window frame, which Spark windows cannot express
    anyway); per-(window-day) distinct counts are exact BIGINTs and
    the ratios single divisions. Days with zero trailing-window
    anchors simply don't appear (the observed-day spine)."""
    day = F.to_date(F.col(ts_col).cast("timestamp"))
    pairs = events.select(
        F.col(user_col).alias("u"), day.alias("d")
    ).dropDuplicates(["u", "d"])
    served = pairs.select(
        "u",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("off"),
    ).select(
        "u", F.date_add(F.col("d"), F.col("off")).alias("anchor"), "off"
    )
    per_day = served.groupBy(F.col("anchor").alias("day")).agg(
        F.countDistinct(F.when(F.col("off") == 0, F.col("u")))
        .cast("bigint")
        .alias("dau"),
        F.countDistinct(F.when(F.col("off") < 7, F.col("u")))
        .cast("bigint")
        .alias("wau"),
        F.countDistinct("u").cast("bigint").alias("mau"),
    )
    observed = pairs.select(F.col("d").alias("day")).dropDuplicates()
    return per_day.join(observed, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        "mau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness_w"),
        (F.col("dau").cast("double") / F.col("mau")).alias("stickiness_m"),
    )


def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return active_user_stickiness(
        read_table(spark, sf_dir, "events")
    ).orderBy("day")


QUERIES["events_stickiness"] = q_events_stickiness
ORACLES["events_stickiness"] = """
WITH pairs AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
served AS (
  SELECT u, d + to_days(o.off::INT) AS anchor, o.off
  FROM pairs, (SELECT unnest(generate_series(0, 29)) AS off) o),
per_day AS (
  SELECT anchor AS day,
         count(DISTINCT CASE WHEN off = 0 THEN u END)::BIGINT AS dau,
         count(DISTINCT CASE WHEN off < 7 THEN u END)::BIGINT AS wau,
         count(DISTINCT u)::BIGINT AS mau
  FROM served GROUP BY anchor),
observed AS (SELECT DISTINCT d AS day FROM pairs)
SELECT strftime(p.day, '%Y-%m-%d') AS day, dau, wau, mau,
       dau::DOUBLE / wau::DOUBLE AS stickiness_w,
       dau::DOUBLE / mau::DOUBLE AS stickiness_m
FROM per_day p JOIN observed USING (day) ORDER BY day
"""


# ---------------------------------------------------------------------------
# funnel time-to-convert
# ---------------------------------------------------------------------------


def funnel_stage_times(
    events: DataFrame,
    steps: list[str] | None = None,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    horizon_hours: int | None = None,
) -> DataFrame:
    """(stage, step, n_users, p50_us, mean_us): how LONG conversion
    takes — for every user who reached stage k (k ≥ 2) under exactly
    the ``events_funnel`` semantics, the elapsed time from their
    stage-1 timestamp, summarized as the exact nearest-rank median and
    the exact mean. Counts alone (the funnel report) say who converts;
    latency says where they stall.

    Exactness + scale: the SAME single per-user fold as
    ``events_funnel``, with the accumulator additionally carrying the
    per-stage timestamp trail (≤ |steps| entries — constant); gaps are
    integer microseconds; the median is the ``percentiles_exact``
    conditional-min-at-rank over a stage-partitioned window
    (|steps|−1 partitions) and the mean one DECIMAL(38)/BIGINT
    division."""
    from pyspark.sql import Window

    steps = FUNNEL_STEPS if steps is None else steps
    ev = events.where(F.col(type_col).isin(steps)).select(
        F.col(user_col).alias("_u"),
        F.struct(
            F.col(ts_col).alias("ts"), F.col(type_col).alias("t")
        ).alias("_e"),
    )
    per_user = ev.groupBy("_u").agg(
        F.sort_array(F.collect_list("_e")).alias("_evs")
    )
    init = F.struct(
        F.lit(0).alias("stage"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("timestamp").alias("start"),
        F.array().cast("array<timestamp>").alias("trail"),
    )

    def advance(acc, e):
        out = acc
        for k, st in enumerate(steps):
            c = (
                (acc["stage"] == k)
                & (e["t"] == st)
                & (acc["ts"].isNull() | (e["ts"] > acc["ts"]))
            )
            if horizon_hours is not None and k > 0:
                c = c & (
                    e["ts"]
                    <= acc["start"]
                    + F.expr(f"INTERVAL {int(horizon_hours)} HOURS")
                )
            step_state = F.struct(
                F.lit(k + 1).alias("stage"),
                e["ts"].alias("ts"),
                (acc["start"] if k > 0 else e["ts"]).alias("start"),
                F.concat(acc["trail"], F.array(e["ts"])).alias("trail"),
            )
            out = F.when(c, step_state).otherwise(out)
        return out

    trail = F.aggregate(F.col("_evs"), init, advance)["trail"]
    per_stage = (
        per_user.select(trail.alias("_t"))
        .select(
            F.posexplode("_t").alias("_k", "_ts"),
            F.element_at("_t", 1).alias("_t1"),
        )
        .where(F.col("_k") >= 1)  # stages 2.. measure from stage 1
        .select(
            (F.col("_k") + 1).alias("stage"),
            (
                F.unix_micros(F.col("_ts").cast("timestamp"))
                - F.unix_micros(F.col("_t1").cast("timestamp"))
            ).alias("d"),
        )
    )
    w = Window.partitionBy("stage").orderBy("d")
    nw = Window.partitionBy("stage")
    ranked = per_stage.select(
        "stage",
        "d",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(nw).alias("n"),
    )
    dec = "decimal(38,0)"
    agg = ranked.groupBy("stage").agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.min(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(0.5) * F.col("n")).cast("bigint"),
                F.col("d"),
            )
        )
        .cast("bigint")
        .alias("p50_us"),
        F.sum(F.col("d").cast(dec)).alias("_sd"),
    )
    step_name = None
    for k, st in enumerate(steps[1:], start=2):
        b = F.when(F.col("stage") == k, F.lit(st))
        step_name = b if step_name is None else step_name.when(
            F.col("stage") == k, F.lit(st)
        )
    return agg.select(
        "stage",
        step_name.alias("step"),
        "n_users",
        "p50_us",
        (F.col("_sd").cast("double") / F.col("n_users").cast("double"))
        .alias("mean_us"),
    )


FUNNEL_TIMES_HORIZON_HOURS = 48  # wide enough that every stage has mass


def q_events_funnel_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return funnel_stage_times(
        read_table(spark, sf_dir, "events"),
        horizon_hours=FUNNEL_TIMES_HORIZON_HOURS,
    ).orderBy("stage")


QUERIES["events_funnel_times"] = q_events_funnel_times
ORACLES["events_funnel_times"] = """
WITH t1 AS (
  SELECT user_id, min(ts) AS ts FROM events
  WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, min(e.ts) AS ts FROM events e
  JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.ts
    AND e.ts <= t1.ts + INTERVAL 48 HOURS GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, min(e.ts) AS ts FROM events e
  JOIN t2 ON t2.user_id = e.user_id
  JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'signup' AND e.ts > t2.ts
    AND e.ts <= t1.ts + INTERVAL 48 HOURS GROUP BY e.user_id),
t4 AS (
  SELECT e.user_id, min(e.ts) AS ts FROM events e
  JOIN t3 ON t3.user_id = e.user_id
  JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t3.ts
    AND e.ts <= t1.ts + INTERVAL 48 HOURS GROUP BY e.user_id),
durs AS (
  SELECT 2 AS stage, 'click' AS step,
         epoch_us(t2.ts) - epoch_us(t1.ts) AS d
  FROM t2 JOIN t1 USING (user_id)
  UNION ALL
  SELECT 3, 'signup', epoch_us(t3.ts) - epoch_us(t1.ts)
  FROM t3 JOIN t1 USING (user_id)
  UNION ALL
  SELECT 4, 'purchase', epoch_us(t4.ts) - epoch_us(t1.ts)
  FROM t4 JOIN t1 USING (user_id)),
ranked AS (
  SELECT stage, step, d,
         row_number() OVER (PARTITION BY stage ORDER BY d) AS rn,
         count(*) OVER (PARTITION BY stage) AS n
  FROM durs)
SELECT stage, min(step) AS step, max(n)::BIGINT AS n_users,
       min(CASE WHEN rn = ceil(0.5 * n) THEN d END)::BIGINT AS p50_us,
       sum(d::HUGEINT)::DOUBLE / max(n)::DOUBLE AS mean_us
FROM ranked GROUP BY stage ORDER BY stage
"""


# ---------------------------------------------------------------------------
# OHLC bar resampling
# ---------------------------------------------------------------------------


def resample_ohlc(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """(key, bar, n, open_cents, high_cents, low_cents, close_cents):
    OHLC downsampling of an irregular value stream into fixed time
    bars — the financial-bars shape that is equally the standard
    metrics-downsample (first/last/min/max per window) for any
    monitoring store. ``resample_ffill`` (above) upsamples onto a
    regular grid; this is its DOWNsampling dual.

    Determinism: open/close are the FIRST/LAST rows of the bar under
    the total order (ts, tiebreak) — materialized by one window
    row_number per direction, never an argmin on ties; values are
    exact integer cents (the repo's money convention).

    Scale shape: one window per direction, PARTITIONED by (key, bar)
    — no global sort — then a map-side-combinable aggregate; output
    is |keys|·|bars| rows regardless of corpus."""
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint")
    base = events.select(
        F.col(key_col).alias("k"),
        F.date_trunc(bucket, F.col(ts_col).cast("timestamp")).alias(
            "bar"
        ),
        cents.alias("cents"),
        F.col(tiebreak_col).alias("tb"),
        F.col(ts_col).alias("t"),
    )
    w = Window.partitionBy("k", "bar")
    asc = w.orderBy("t", "tb")
    desc = w.orderBy(F.desc("t"), F.desc("tb"))
    ranked = base.select(
        "k",
        "bar",
        "cents",
        F.row_number().over(asc).alias("rn_a"),
        F.row_number().over(desc).alias("rn_d"),
    )
    return ranked.groupBy("k", "bar").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min(F.when(F.col("rn_a") == 1, F.col("cents")))
        .cast("bigint")
        .alias("open_cents"),
        F.max("cents").cast("bigint").alias("high_cents"),
        F.min("cents").cast("bigint").alias("low_cents"),
        F.min(F.when(F.col("rn_d") == 1, F.col("cents")))
        .cast("bigint")
        .alias("close_cents"),
    )


def q_resample_ohlc(spark, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    ev = read_table(spark, sf_dir, "events")
    out = resample_ohlc(ev)
    return out.select(
        F.col("k").alias("event_type"),
        F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar"),
        "n",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
    ).orderBy("event_type", "bar")


QUERIES["resample_ohlc"] = q_resample_ohlc
ORACLES["resample_ohlc"] = """
WITH base AS (
  SELECT event_type AS k, date_trunc('hour', ts) AS bar,
         floor(value * 100 + 0.5)::BIGINT AS cents,
         event_id AS tb, ts AS t
  FROM events),
ranked AS (
  SELECT k, bar, cents,
         row_number() OVER (PARTITION BY k, bar ORDER BY t, tb) AS rn_a,
         row_number() OVER (PARTITION BY k, bar
                            ORDER BY t DESC, tb DESC) AS rn_d
  FROM base)
SELECT k AS event_type, strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar,
       count(*)::BIGINT AS n,
       min(CASE WHEN rn_a = 1 THEN cents END)::BIGINT AS open_cents,
       max(cents)::BIGINT AS high_cents,
       min(cents)::BIGINT AS low_cents,
       min(CASE WHEN rn_d = 1 THEN cents END)::BIGINT AS close_cents
FROM ranked GROUP BY k, bar
ORDER BY event_type, bar
"""


# ---------------------------------------------------------------------------
# Markov event-transition matrix + k-step state distribution
# ---------------------------------------------------------------------------

MARKOV_UNIT = 1_000_000_000


def event_transitions(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(prev_type, next_type, n, p): the first-order Markov transition
    matrix of per-user event sequences — the product-analytics "what
    happens after X" readout (and the model behind next-event
    prediction baselines). Consecutive events pair under the
    (ts, event_id) TOTAL order per user (the resample_ohlc tiebreak
    discipline — never an unordered lag on tied timestamps); p is the
    row-normalized share, ONE exact division per cell rounded 7 dp.

    Scale shape: one lag window partitioned by user (the sessionize
    shuffle), then map-side-combinable pair counting; the normalizing
    window runs over the aggregated |types|² cell table partitioned by
    prev_type — bounded domain, never corpus-sized."""
    w = Window.partitionBy("u").orderBy("t", "eid")
    pairs = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(ts_col).alias("t"),
            F.col(id_col).alias("eid"),
            F.col(type_col).alias("next_type"),
        )
        .withColumn("prev_type", F.lag("next_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    row_w = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(row_w).cast("double"),
            7,
        ).alias("p"),
    )


def markov_kstep_distribution(
    events: DataFrame,
    *,
    k_steps: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(step, event_type, prob_units, prob): the state distribution
    after 0..k_steps Markov steps, starting from the empirical
    FIRST-event distribution — "where do users end up k events into a
    session". Fixed unrolled step count both engines replay (the
    pagerank/k-core discipline).

    Exactness: probabilities live in 1e-9 integer units; each step is
    units'(t) = Σ_s (units(s)·n(s,t)) DIV tot(s) — a truncating
    integer division per cell (Spark ``DIV`` == DuckDB ``//`` on
    non-negatives), then an exact BIGINT sum, so every iteration is
    engine-identical. Each step is one equi-join of the ≤|types|-row
    state vector against the |types|² cell table — broadcast-sized at
    any corpus scale (types are an enum, not a corpus)."""
    w = Window.partitionBy("u").orderBy("t", "eid")
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("eid"),
        F.col(type_col).alias("s"),
    )
    seq = base.withColumn("rk", F.row_number().over(w)).withColumn(
        "nxt", F.lead("s").over(w)
    )
    trans = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy(F.col("s"), F.col("nxt"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = trans.groupBy("s").agg(F.sum("c").cast("bigint").alias("tot"))
    tcell = trans.join(tot, "s")
    firsts = seq.where(F.col("rk") == 1)
    n_users = firsts.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("nu")
    )
    state = (
        firsts.groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .crossJoin(F.broadcast(n_users))
        .select(
            "s",
            F.expr(f"cast(cnt as decimal(38,0)) * {MARKOV_UNIT} div nu")
            .cast("bigint")
            .alias("units"),
        )
    )
    out = [
        state.select(
            F.lit(0).cast("int").alias("step"),
            F.col("s").alias("event_type"),
            F.col("units").alias("prob_units"),
        )
    ]
    for i in range(1, k_steps + 1):
        state = (
            state.join(tcell, "s")
            .select(
                F.col("nxt").alias("s"),
                # product in DECIMAL(38,0): units reach 1e9 and a cell
                # count above ~9.2e9 would overflow BIGINT under ANSI
                # mode (the corr_ols_by_group sum discipline; DuckDB's
                # HUGEINT covers the oracle side already)
                F.expr(
                    "cast(units as decimal(38,0)) * c div tot"
                ).cast("bigint").alias("u1"),
            )
            .groupBy("s")
            .agg(F.sum("u1").cast("bigint").alias("units"))
        )
        out.append(
            state.select(
                F.lit(i).cast("int").alias("step"),
                F.col("s").alias("event_type"),
                F.col("units").alias("prob_units"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.select(
        "step",
        "event_type",
        "prob_units",
        F.round(
            F.col("prob_units").cast("double") / F.lit(float(MARKOV_UNIT)),
            7,
        ).alias("prob"),
    )


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # named distinctly from the round-7 q_events_transitions above:
    # both used to share a module-scope name (the registry captured the
    # right objects, but the shadowing was a debugger trap)
    from event_pipeline_spark.session import read_table

    return event_transitions(read_table(spark, sf_dir, "events")).orderBy(
        "prev_type", "next_type"
    )


QUERIES["events_markov_transitions"] = q_events_markov_transitions
ORACLES["events_markov_transitions"] = """
WITH pairs AS (
  SELECT prev_type, next_type, count(*)::BIGINT AS n FROM (
    SELECT lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           event_type AS next_type
    FROM events)
  WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type)
SELECT prev_type, next_type, n,
       round(n::DOUBLE
             / sum(n) OVER (PARTITION BY prev_type)::DOUBLE, 7) AS p
FROM pairs ORDER BY prev_type, next_type
"""


def q_events_markov_ksteps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return markov_kstep_distribution(
        read_table(spark, sf_dir, "events"), k_steps=3
    ).orderBy("step", "event_type")


def _markov_oracle_sql(k_steps: int) -> str:
    sql = f"""
WITH seq AS MATERIALIZED (
  SELECT user_id AS u, event_type AS s,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS rk,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events),
trans AS MATERIALIZED (
  SELECT s, nxt, count(*)::BIGINT AS c FROM seq
  WHERE nxt IS NOT NULL GROUP BY s, nxt),
tot AS (SELECT s, sum(c)::BIGINT AS tot FROM trans GROUP BY s),
tcell AS (SELECT t.s, t.nxt, t.c, tt.tot
          FROM trans t JOIN tot tt ON tt.s = t.s),
st0 AS MATERIALIZED (
  SELECT s, (count(*)::BIGINT * {MARKOV_UNIT}
             // (SELECT count(*) FROM seq WHERE rk = 1))::BIGINT
           AS units
  FROM seq WHERE rk = 1 GROUP BY s)"""
    prev = "st0"
    for i in range(1, k_steps + 1):
        sql += f""",
st{i} AS MATERIALIZED (
  SELECT tcell.nxt AS s,
         sum((p.units * tcell.c) // tcell.tot)::BIGINT AS units
  FROM {prev} p JOIN tcell ON tcell.s = p.s
  GROUP BY tcell.nxt)"""
        prev = f"st{i}"
    selects = " UNION ALL ".join(
        f"SELECT {i}::INT AS step, s AS event_type, units AS prob_units "
        f"FROM st{i}"
        for i in range(k_steps + 1)
    )
    return f"""{sql}
SELECT step, event_type, prob_units,
       round(prob_units::DOUBLE / {MARKOV_UNIT}, 7) AS prob
FROM ({selects}) ORDER BY step, event_type"""


QUERIES["events_markov_ksteps"] = q_events_markov_ksteps
ORACLES["events_markov_ksteps"] = _markov_oracle_sql(3)


def event_paths(
    events: DataFrame,
    *,
    k: int = 3,
    top: int = 50,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(path, n_users): the ``top`` most common first-``k`` event-type
    journeys — the product-analytics "what do users actually DO first"
    readout beside ``event_transitions``'s one-step matrix (the matrix
    averages over positions; paths keep the sequence). Users with
    fewer than k events contribute their full shorter path.

    Scale shape: one rank window partitioned by user (the sessionize
    shuffle), a per-user fold to ONE bounded string (k ≤ a handful),
    then a map-side-combinable count over at most |types|^k cells and
    a TakeOrdered top-``top`` — no global window, no share division."""
    w = Window.partitionBy("u").orderBy("t", "eid")
    firsts = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(ts_col).alias("t"),
            F.col(id_col).alias("eid"),
            F.col(type_col).alias("s"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )
    paths = firsts.groupBy("u").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rk", "s"))),
                lambda x: x["s"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(top)
    )


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_pipeline_spark.session import read_table

    return event_paths(read_table(spark, sf_dir, "events"), k=3, top=50)


QUERIES["events_top_paths"] = q_events_top_paths
ORACLES["events_top_paths"] = """
WITH ranked AS (
  SELECT user_id AS u, event_type AS s,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS rk
  FROM events),
paths AS (
  SELECT u, string_agg(s, '>' ORDER BY rk) AS path
  FROM ranked WHERE rk <= 3 GROUP BY u)
SELECT path, count(*)::BIGINT AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path LIMIT 50
"""
