"""Declared temporal-join queries (operators/temporal.py).

The as-of oracle uses DuckDB's NATIVE ``ASOF LEFT JOIN`` — our
union+window composition must reproduce the dedicated engine operator
exactly. The range-join oracle is the plain non-equi predicate that the
binned implementation must match while staying an equi shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.operators.temporal import (
    asof_join,
    binned_range_join,
)
from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_events

HOUR_US = 3_600_000_000


@query(
    "asof_click_purchase",
    oracle="""WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
  WHERE event_type = 'click'),
purch AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
  WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, c.ts_us,
       p.event_id AS right_event_id,
       p.value AS right_value
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND p.ts_us <= c.ts_us""",
)
def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the user's latest purchase at-or-before it —
    the union+window as-of vs DuckDB's native ASOF JOIN."""
    e = load_events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "event_id", "value"
    )
    return asof_join(clicks, purch, "user_id", "ts_us", ["event_id", "value"])


@query(
    "range_join_signup_errors",
    oracle=f"""WITH signups AS (
  SELECT event_id AS signup_id, user_id, epoch_us(ts) AS s_start,
         epoch_us(ts) + {HOUR_US} AS s_end
  FROM events WHERE event_type = 'signup'),
errors AS (
  SELECT event_id AS error_id, epoch_us(ts) AS e_ts FROM events
  WHERE event_type = 'error')
SELECT s.signup_id, s.user_id, e.error_id
FROM errors e JOIN signups s
  ON e.e_ts >= s.s_start AND e.e_ts < s.s_end""",
)
def range_join_signup_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors landing within one hour after any signup — binned equi-join
    + residual filter vs the oracle's plain range predicate."""
    e = load_events(spark, sf_dir)
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts_us").alias("s_start"),
        (F.col("ts_us") + F.lit(HOUR_US)).alias("s_end"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts_us").alias("e_ts")
    )
    joined = binned_range_join(
        errors, signups, "e_ts", "s_start", "s_end", bin_width=HOUR_US
    )
    return joined.select("signup_id", "user_id", "error_id")


DAY_US = 86_400_000_000
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch micros


@query(
    "rel_asof_join",
    oracle=f"""WITH users AS (SELECT DISTINCT user_id FROM events),
dim AS (
  SELECT user_id, {BASE_US} AS vf_us, 'bronze' AS tier FROM users
  UNION ALL
  SELECT user_id, {BASE_US} + (7 + user_id % 10) * {DAY_US}, 'silver'
  FROM users
  UNION ALL
  SELECT user_id, {BASE_US} + (17 + user_id % 11) * {DAY_US}, 'gold'
  FROM users),
probe AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
SELECT p.event_id, p.user_id, p.ts_us,
       d.tier AS right_tier, d.vf_us AS right_vf_us
FROM probe p ASOF LEFT JOIN dim d
  ON p.user_id = d.user_id AND d.vf_us <= p.ts_us""",
)
def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF join against a VERSIONED DIMENSION: each
    event picks up the newest dimension version at-or-before its
    timestamp — the lookup that pairs with rel_scd2_history's versioned
    rows (there the history is BUILT; here it is PROBED by event time).
    The dimension is three deterministic tier versions per user (bronze
    at epoch day 0, silver at day 7+uid%10, gold at day 17+uid%11 — all
    exact integer micros arithmetic both engines reproduce bit-for-bit),
    so every event matches and later events see later tiers.

    Scale shape (operators/temporal.py:asof_join): tagged union + one
    per-key last-non-null window — ONE shuffle on user_id, sort by time
    within the partition. NO cartesian, NO broadcast-nested-loop, NO
    per-event subquery; the plan-shape pytest
    (tests/test_round10_ops.py) pins join-node count at zero. The oracle
    is DuckDB's NATIVE ``ASOF LEFT JOIN`` — the dedicated engine
    operator our composition must reproduce exactly."""
    e = load_events(spark, sf_dir)
    users = e.select("user_id").distinct()

    def ver(vf, tier: str) -> DataFrame:
        return users.select(
            "user_id",
            vf.cast("long").alias("ts_us"),
            F.lit(tier).alias("tier"),
        )

    dim = (
        ver(F.lit(BASE_US), "bronze")
        .unionByName(
            ver(
                F.lit(BASE_US)
                + (F.lit(7) + F.col("user_id") % 10) * F.lit(DAY_US),
                "silver",
            )
        )
        .unionByName(
            ver(
                F.lit(BASE_US)
                + (F.lit(17) + F.col("user_id") % 11) * F.lit(DAY_US),
                "gold",
            )
        )
        .withColumn("vf_us", F.col("ts_us"))
    )
    probe = e.select("event_id", "user_id", "ts_us")
    return asof_join(probe, dim, "user_id", "ts_us", ["tier", "vf_us"])


@query(
    "rel_asof_join_fwd",
    oracle="""WITH signups AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
  WHERE event_type = 'signup'),
purch AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
  WHERE event_type = 'purchase')
SELECT s.event_id, s.user_id, s.ts_us,
       p.event_id AS right_event_id, p.value AS right_value,
       p.ts_us - s.ts_us AS us_to_convert
FROM signups s ASOF LEFT JOIN purch p
  ON s.user_id = p.user_id AND p.ts_us >= s.ts_us""",
)
def rel_asof_join_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of — each signup joined to the user's NEXT purchase
    at-or-after it, plus the time-to-conversion delta: the funnel-latency
    lookup backward as-of can't express (asof_click_purchase looks back;
    this looks ahead). Same scale shape, mirrored
    (operators/temporal.py:asof_join_forward): one shuffle on user_id,
    first-non-null over the forward window frame, zero join operators.
    Oracle: DuckDB's native ASOF LEFT JOIN with the >= comparator."""
    from pagerank_giraph_vs_mapreduce_spark.operators.temporal import (
        asof_join_forward,
    )

    e = load_events(spark, sf_dir)
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts_us"
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", "event_id", "value"
    )
    j = asof_join_forward(signups, purch, "user_id", "ts_us", ["event_id", "value", "ts_us"])
    return j.select(
        "event_id",
        "user_id",
        "ts_us",
        "right_event_id",
        "right_value",
        (F.col("right_ts_us") - F.col("ts_us")).alias("us_to_convert"),
    )


@query(
    "rel_ohlc_candles",
    oracle=f"""WITH hourly AS (
  SELECT user_id, epoch_us(ts) // {HOUR_US} AS h,
         epoch_us(ts) AS ts_us, event_id, value
  FROM events),
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY user_id, h
                       ORDER BY ts_us, event_id) AS rf,
    row_number() OVER (PARTITION BY user_id, h
                       ORDER BY ts_us DESC, event_id DESC) AS rl
  FROM hourly)
SELECT user_id, h AS hour,
  max(CASE WHEN rf = 1 THEN value END) AS open,
  max(value) AS high,
  min(value) AS low,
  max(CASE WHEN rl = 1 THEN value END) AS close,
  count(*) AS n_events,
  CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS vol_sum
FROM ranked GROUP BY 1, 2""",
)
def rel_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per user — the financial/hypertable downsample
    every time-series store ships (TimescaleDB's candlestick_agg, kdb's
    xbar): open/close are the chronologically first/last values in the
    bucket (event_id as the total-order tie-break), high/low the
    extremes, plus trade count and an order-independent DECIMAL volume
    sum. Spark side is ONE map-side-combined aggregate — open/close via
    min_by/max_by over a (ts_us, event_id) struct, no window, no second
    shuffle; the oracle uses the row_number formulation (DuckDB's
    arg_min/arg_max take one ordering key, so the composite tie-break
    needs the window form). open/close/high/low are carried verbatim
    (single-row picks, bit-exact across engines)."""
    e = load_events(spark, sf_dir)
    key = F.struct(F.col("ts_us"), F.col("event_id"))
    return (
        e.select(
            "user_id",
            F.expr(
                f"(ts_us - pmod(ts_us, {HOUR_US})) DIV {HOUR_US}"
            ).alias("hour"),
            "ts_us",
            "event_id",
            "value",
        )
        .groupBy("user_id", "hour")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("vol_sum"),
        )
    )


GAPFILL_SQL = f"""WITH hourly AS (
  SELECT user_id, epoch_us(ts) // {HOUR_US} AS h,
         CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS hv
  FROM events GROUP BY 1, 2),
spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
grid AS (
  SELECT s.user_id, g.h
  FROM spans s, LATERAL unnest(generate_series(s.h0, s.h1)) AS g(h)),
j AS (
  SELECT grid.user_id, grid.h, hourly.hv
  FROM grid LEFT JOIN hourly USING (user_id, h))
SELECT user_id, h AS hour,
  round(last_value(hv IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9)
    AS value_filled,
  hv IS NULL AS is_gap
FROM j"""


def gapfill_hourly(hourly: DataFrame) -> DataFrame:
    """Dense-grid + forward-fill finisher over an hourly rollup
    ``(user_id, h, hv)`` — shared by the batch query below and its
    streaming twin (plans/streaming_queries.py:stream_resample_gapfill),
    which is exactly the TimescaleDB continuous-aggregate design: the
    rollup is maintained incrementally, the gapfill is query-time."""
    from pyspark.sql import Window

    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("hour"),
            F.round(
                F.last("hv", ignorenulls=True).over(w), 9
            ).alias("value_filled"),
            F.col("hv").isNull().alias("is_gap"),
        )
    )


LERP_SQL = f"""WITH hourly AS (
  SELECT user_id, epoch_us(ts) // {HOUR_US} AS h,
         CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS hv
  FROM events GROUP BY 1, 2),
spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
grid AS (
  SELECT s.user_id, g.h
  FROM spans s, LATERAL unnest(generate_series(s.h0, s.h1)) AS g(h)),
j AS (
  SELECT grid.user_id, grid.h, hourly.hv
  FROM grid LEFT JOIN hourly USING (user_id, h)),
anchored AS (
  SELECT user_id, h, hv,
    last_value(hv IGNORE NULLS) OVER wb AS pv,
    last_value(CASE WHEN hv IS NOT NULL THEN h END IGNORE NULLS)
      OVER wb AS ph,
    first_value(hv IGNORE NULLS) OVER wf AS nv,
    first_value(CASE WHEN hv IS NOT NULL THEN h END IGNORE NULLS)
      OVER wf AS nh
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, h AS hour,
  round(CASE WHEN hv IS NOT NULL THEN hv
             ELSE pv + (nv - pv) * (CAST(h - ph AS DOUBLE)
                                    / CAST(nh - ph AS DOUBLE)) END, 9)
    AS value_lerp,
  hv IS NULL AS is_gap
FROM anchored"""


@query("rel_resample_lerp", oracle=LERP_SQL)
def rel_resample_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION — the ``interpolate()`` companion
    to rel_resample_gapfill's locf (TimescaleDB ships both): each missing
    hour gets pv + (nv - pv) * (h - ph)/(nh - ph) between its nearest
    observed anchors. Same dense-grid machinery; the anchors come from
    two per-user windows over GRID rows (backward last-non-null,
    forward first-non-null — each a single pass over the sorted
    partition). Every gap sits strictly between observed hours (the
    span's endpoints are observed), so the anchors are always defined.
    Cross-engine exactness: anchor values are the DECIMAL-exact hourly
    sums; the interpolation is one fixed IEEE expression per row."""
    e = load_events(spark, sf_dir)
    hourly = (
        e.select(
            "user_id",
            F.expr(  # floor-div like DuckDB's //, exact for pre-epoch ts
                f"(ts_us - pmod(ts_us, {HOUR_US})) DIV {HOUR_US}"
            ).alias("h"),
            F.round(F.col("value"), 6).cast("decimal(28,6)").alias("v"),
        )
        .groupBy("user_id", "h")
        .agg(F.sum("v").cast("double").alias("hv"))
    )
    from pyspark.sql import Window

    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("hv").isNotNull(), F.col("h"))
    anchored = (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            "hv",
            F.last("hv", ignorenulls=True).over(wb).alias("pv"),
            F.last(obs_h, ignorenulls=True).over(wb).alias("ph"),
            F.first("hv", ignorenulls=True).over(wf).alias("nv"),
            F.first(obs_h, ignorenulls=True).over(wf).alias("nh"),
        )
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("h") - F.col("ph")).cast("double")
        / (F.col("nh") - F.col("ph")).cast("double")
    )
    return anchored.select(
        "user_id",
        F.col("h").alias("hour"),
        F.round(
            F.when(F.col("hv").isNotNull(), F.col("hv")).otherwise(lerp), 9
        ).alias("value_lerp"),
        F.col("hv").isNull().alias("is_gap"),
    )


@query("rel_resample_gapfill", oracle=GAPFILL_SQL)
def rel_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill — the hypertable-rollup staple
    (TimescaleDB's time_bucket_gapfill + locf): per user, hourly value
    sums on a DENSE grid spanning that user's [first, last] hour, with
    missing hours forward-filled from the last observed bucket and
    flagged ``is_gap``.

    Scale shape: the hourly rollup is one map-side-combined groupBy; the
    per-user span is a tiny aggregate; the dense grid is sequence() +
    explode — bounded by span/granularity, never by event count — and
    the forward fill is last(ignorenulls) over a per-user window on the
    GRID rows (each user's partition is its span in hours, parallel
    across users; no window ever touches raw events). A user's first
    grid hour always has data (the span starts at an observed hour), so
    the fill never emits leading NULLs.

    Cross-engine exactness: per-(user, hour) sums run as rounded
    DECIMAL(28,6) (order-independent), the decimal->double cast is
    correctly rounded, and the filled value is carried verbatim — the
    oracle's IGNORE NULLS window is the declarative twin of
    F.last(ignorenulls=True)."""
    e = load_events(spark, sf_dir)
    hourly = (
        e.select(
            "user_id",
            F.expr(  # floor-div like DuckDB's //, exact for pre-epoch ts
                f"(ts_us - pmod(ts_us, {HOUR_US})) DIV {HOUR_US}"
            ).alias("h"),
            F.round(F.col("value"), 6).cast("decimal(28,6)").alias("v"),
        )
        .groupBy("user_id", "h")
        .agg(F.sum("v").cast("double").alias("hv"))
    )
    return gapfill_hourly(hourly)


ASOF_TOL_DAYS = 5


@query(
    "rel_asof_join_tol",
    oracle=f"""WITH users AS (SELECT DISTINCT user_id FROM events),
dim AS (
  SELECT user_id, {BASE_US} AS vf_us, 'bronze' AS tier FROM users
  UNION ALL
  SELECT user_id, {BASE_US} + (7 + user_id % 10) * {DAY_US}, 'silver'
  FROM users
  UNION ALL
  SELECT user_id, {BASE_US} + (17 + user_id % 11) * {DAY_US}, 'gold'
  FROM users),
probe AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
SELECT p.event_id, p.user_id, p.ts_us,
       CASE WHEN p.ts_us - d.vf_us <= {ASOF_TOL_DAYS * DAY_US}
            THEN d.tier END AS right_tier,
       CASE WHEN p.ts_us - d.vf_us <= {ASOF_TOL_DAYS * DAY_US}
            THEN d.vf_us END AS right_vf_us,
       CASE WHEN p.ts_us - d.vf_us <= {ASOF_TOL_DAYS * DAY_US}
            THEN d.vf_us END AS right_match_t
FROM probe p ASOF LEFT JOIN dim d
  ON p.user_id = d.user_id AND d.vf_us <= p.ts_us""",
)
def rel_asof_join_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel_asof_join with a 5-day staleness bound (operators/temporal.py:
    asof_join_tolerance — pandas merge_asof ``tolerance``): an event more
    than 5 days past its user's newest dimension version gets NULLs, not
    a stale tier — the freshness contract a feature-serving pipeline
    enforces. Same one-shuffle union+window plan plus one codegen
    projection; the dim fixture (versions at day 0 / 7+u%10 / 17+u%11
    against events spanning 30 days) guarantees both accepted and
    rejected matches at every driver scale. Oracle: native ASOF LEFT
    JOIN with the bound applied as a post-CASE (DuckDB's ASOF has no
    tolerance clause — the composition IS the point)."""
    e = load_events(spark, sf_dir)
    users = e.select("user_id").distinct()

    def ver(vf, tier: str) -> DataFrame:
        return users.select(
            "user_id",
            vf.cast("long").alias("ts_us"),
            F.lit(tier).alias("tier"),
        )

    dim = (
        ver(F.lit(BASE_US), "bronze")
        .unionByName(
            ver(
                F.lit(BASE_US)
                + (F.lit(7) + F.col("user_id") % 10) * F.lit(DAY_US),
                "silver",
            )
        )
        .unionByName(
            ver(
                F.lit(BASE_US)
                + (F.lit(17) + F.col("user_id") % 11) * F.lit(DAY_US),
                "gold",
            )
        )
        .withColumn("vf_us", F.col("ts_us"))
    )
    probe = e.select("event_id", "user_id", "ts_us")
    from pagerank_giraph_vs_mapreduce_spark.operators.temporal import (
        asof_join_tolerance,
    )

    return asof_join_tolerance(
        probe, dim, "user_id", "ts_us", ["tier", "vf_us"],
        tolerance=ASOF_TOL_DAYS * DAY_US,
    )
