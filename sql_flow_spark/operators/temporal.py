"""Temporal analytics Spark lacks as built-ins: bounded range
(interval) joins without a nested-loop blowup, and hypertable-style
gap-filled rollups with last-observation-carried-forward.

Reference parity: the reference's DuckDB surface expresses these as a
plain inequality join and generate_series + IGNORE-NULLS windows
(/root/reference/sqlflow/sql.py runs arbitrary statements) — the
oracles below are exactly those formulations, proving the bucketized /
grid-join Spark plans implement the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_flow_spark.functions.mat import materialize_once
from sql_flow_spark.registry import dsum, o_dsum, o_fixed, query
from sql_flow_spark.tables import load_tables

# 30-minute attribution window, in microseconds.
RANGE_WINDOW_US = 30 * 60 * 1_000_000

# Gap-fill bucket width: 1 hour in microseconds.
GAPFILL_BUCKET_US = 3_600_000_000


def range_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_us: str,
    right_us: str,
    window_us: int,
) -> DataFrame:
    """All (left, right) pairs with equal ``keys`` and
    ``left_us <= right_us <= left_us + window_us``.

    A naive inequality join degenerates to a per-key nested loop
    (Spark plans it as BroadcastNestedLoopJoin or a sort-merge with
    full-range rescans). Instead both sides are binned to
    ``window_us``-wide buckets: a qualifying pair's right bucket is
    the left bucket or the one after, so the right side is exploded
    onto {b-1, b} and the join becomes a plain hash equi-join on
    (keys..., bucket) — each exploded row lands in exactly one
    candidate bucket, so no dedup pass is needed — followed by the
    exact range filter. Candidate fan-out is bounded by per-bucket
    occupancy, the bin-join technique behind range-join hints in
    Spark-based warehouses."""
    b_left = F.expr(f"`{left_us}` div {window_us}")
    b_right = F.expr(f"`{right_us}` div {window_us}")
    lt = left.withColumn("__b", b_left)
    rt = right.withColumn(
        "__b", F.explode(F.array(b_right - 1, b_right))
    )
    cond = (F.col(right_us) >= F.col(left_us)) & (
        F.col(right_us) <= F.col(left_us) + F.lit(window_us)
    )
    return lt.join(rt, [*keys, "__b"]).where(cond).drop("__b")


@query(
    "range_join_attribution",
    oracle=f"""
    SELECT
      c.user_id,
      c.event_id AS click_id,
      p.event_id AS purchase_id,
      epoch_us(p.ts) - epoch_us(c.ts) AS us_between
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND epoch_us(p.ts) <= epoch_us(c.ts) + {RANGE_WINDOW_US}
    """,
)
def range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (click, purchase) pair by the same user with the purchase
    inside the 30-minute window after the click — multi-touch
    attribution, the pair-enumerating dual of asof_attribution's
    last-touch. The oracle is the plain DuckDB inequality join; the
    Spark plan is the bucketized equi-join (see range_join), which is
    the difference between a hash shuffle and a per-user nested loop
    at 100 TB."""
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
    )
    pairs = range_join(
        clicks, purchases, ["user_id"], "c_us", "p_us", RANGE_WINDOW_US
    )
    return pairs.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.col("p_us") - F.col("c_us")).alias("us_between"),
    )


@query(
    "events_gapfill",
    oracle=f"""
    WITH agg AS (
      SELECT event_type,
             epoch_us(ts) // {GAPFILL_BUCKET_US} AS h,
             COUNT(*) AS n_events,
             {o_dsum('value')} AS value_sum
      FROM events
      GROUP BY event_type, epoch_us(ts) // {GAPFILL_BUCKET_US}
    ),
    grid AS (
      SELECT t.event_type, gs.h
      FROM (SELECT DISTINCT event_type FROM agg) t,
           (SELECT unnest(generate_series((SELECT MIN(h) FROM agg),
                                          (SELECT MAX(h) FROM agg))) AS h) gs
    )
    SELECT
      g.event_type,
      g.h * {GAPFILL_BUCKET_US} AS bucket_us,
      CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
      a.value_sum,
      last_value(a.value_sum IGNORE NULLS)
        OVER (PARTITION BY g.event_type ORDER BY g.h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS locf_value_sum
    FROM grid g LEFT JOIN agg a
      ON a.event_type = g.event_type AND a.h = g.h
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly per-type buckets
    over the full observed range with EXPLICIT empty buckets
    (n_events=0, value_sum NULL) and a last-observation-carried-forward
    column — the time_bucket_gapfill + locf() shape, so downstream
    charts/joins never see holes in the time axis.

    Scale shape: one fact-sized groupBy on (type, hour); the dense
    grid is types x hours (tiny — bounded by the time range, not the
    data) built from a broadcast one-row min/max and an exploded
    sequence; the left join and LOCF window run on grid cardinality.
    Bucket ids use integer division of epoch micros — exact in both
    engines."""
    t = load_tables(spark, sf_dir, ("events",))
    hour = F.expr(f"unix_micros(ts) div {GAPFILL_BUCKET_US}")
    agg = (
        t["events"]
        .groupBy(F.col("event_type"), hour.alias("h"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("value_sum"),
        )
    )
    rng = agg.agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
    grid = (
        agg.select("event_type")
        .distinct()
        .join(F.broadcast(rng))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("hmin"), F.col("hmax"))).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(agg, ["event_type", "h"], "left")
        .select(
            "event_type",
            (F.col("h") * GAPFILL_BUCKET_US).alias("bucket_us"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias(
                "n_events"
            ),
            "value_sum",
            F.last("value_sum", ignorenulls=True).over(w).alias(
                "locf_value_sum"
            ),
        )
    )


@query(
    "time_weighted_avg",
    oracle=f"""
    WITH seg AS (
      SELECT event_type,
             epoch_us(ts) AS us,
             (value + lag(value) OVER w) / 2.0
               * CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS DOUBLE)
               AS seg
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(us) - MIN(us) AS duration_us,
           CASE WHEN MAX(us) > MIN(us) THEN
             ({o_dsum('seg')})
             / CAST(MAX(us) - MIN(us) AS DOUBLE)
           END AS twa_value
    FROM seg
    GROUP BY event_type
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per event type — trapezoidal
    integration over irregular samples divided by the observed span
    (the Timescale time_weight('Linear') shape). Equal timestamps are
    totally ordered by event_id in BOTH engines, so neighbor pairing —
    and therefore every trapezoid — is identical; segment areas are
    IEEE-double products fixed-point-summed, the one division happens
    at the boundary, and a single-sample group yields NULL rather than
    a 0/0.

    Scale shape: one window (shuffle on event_type, in-partition sort
    by time) + one groupBy reusing the same key — two exchanges total,
    state O(1) per row. Skew: a hot event_type serializes its
    partition's sort; at 100 TB pre-bucket by (type, day) and combine
    spans, same trick as events_sessionize."""
    t = load_tables(spark, sf_dir, ("events",))
    us = F.unix_micros("ts")
    w = Window.partitionBy("event_type").orderBy(us, F.col("event_id"))
    seg = (F.col("value") + F.lag("value").over(w)) / F.lit(2.0) * (
        us - F.lag(us).over(w)
    ).cast("double")
    segs = t["events"].select(
        "event_type",
        us.alias("us"),
        seg.alias("seg"),
    )
    dur = F.max("us") - F.min("us")
    return segs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        dur.alias("duration_us"),
        F.when(dur > 0, dsum("seg") / dur.cast("double")).alias("twa_value"),
    )


@query(
    "events_gapfill_interp",
    oracle=f"""
    WITH agg AS (
      SELECT event_type,
             epoch_us(ts) // {GAPFILL_BUCKET_US} AS h,
             {o_dsum('value')} AS value_sum
      FROM events
      GROUP BY event_type, epoch_us(ts) // {GAPFILL_BUCKET_US}
    ),
    grid AS (
      SELECT t.event_type, gs.h
      FROM (SELECT DISTINCT event_type FROM agg) t,
           (SELECT unnest(generate_series((SELECT MIN(h) FROM agg),
                                          (SELECT MAX(h) FROM agg))) AS h) gs
    ),
    j AS (
      SELECT g.event_type, g.h, a.value_sum,
        last_value(a.value_sum IGNORE NULLS) OVER wp AS pv,
        last_value(CASE WHEN a.value_sum IS NOT NULL THEN g.h END
                   IGNORE NULLS) OVER wp AS ph,
        first_value(a.value_sum IGNORE NULLS) OVER wn AS nv,
        first_value(CASE WHEN a.value_sum IS NOT NULL THEN g.h END
                    IGNORE NULLS) OVER wn AS nh
      FROM grid g LEFT JOIN agg a
        ON a.event_type = g.event_type AND a.h = g.h
      WINDOW
        wp AS (PARTITION BY g.event_type ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY g.event_type ORDER BY g.h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           h * {GAPFILL_BUCKET_US} AS bucket_us,
           value_sum,
           CASE
             WHEN value_sum IS NOT NULL THEN value_sum
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * (CAST(h - ph AS DOUBLE)
                                 / CAST(nh - ph AS DOUBLE))
           END AS interp_value_sum
    FROM j
    """,
)
def events_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup with LINEAR interpolation across the
    holes (the Timescale interpolate() companion to events_gapfill's
    locf): a gap bucket takes pv + (nv-pv)·(h-hp)/(hn-hp) between its
    nearest observed neighbors; leading/trailing gaps (no neighbor on
    one side) stay NULL. The fraction divides two exact integer bucket
    distances in DOUBLE and the observed sums are fixed-point exact,
    so both engines interpolate identically.

    Scale shape: same as events_gapfill — one fact groupBy, a
    calendar-bounded grid, and two grid-cardinality windows (one
    forward, one backward) per type."""
    t = load_tables(spark, sf_dir, ("events",))
    hour = F.expr(f"unix_micros(ts) div {GAPFILL_BUCKET_US}")
    agg = (
        t["events"]
        .groupBy(F.col("event_type"), hour.alias("h"))
        .agg(
            dsum("value").alias("value_sum"),
        )
    )
    rng = agg.agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
    grid = (
        agg.select("event_type")
        .distinct()
        .join(F.broadcast(rng))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("hmin"), F.col("hmax"))).alias("h"),
        )
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    vh = F.when(F.col("value_sum").isNotNull(), F.col("h"))
    j = (
        grid.join(agg, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            "value_sum",
            F.last("value_sum", ignorenulls=True).over(wp).alias("pv"),
            F.last(vh, ignorenulls=True).over(wp).alias("ph"),
            F.first("value_sum", ignorenulls=True).over(wn).alias("nv"),
            F.first(vh, ignorenulls=True).over(wn).alias("nh"),
        )
    )
    frac = (F.col("h") - F.col("ph")).cast("double") / (
        F.col("nh") - F.col("ph")
    ).cast("double")
    interp = (
        F.when(F.col("value_sum").isNotNull(), F.col("value_sum"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
    )
    return j.select(
        "event_type",
        (F.col("h") * GAPFILL_BUCKET_US).alias("bucket_us"),
        "value_sum",
        interp.alias("interp_value_sum"),
    )


MOVING_AVG_ROWS = 4  # current row + 3 preceding


@query(
    "events_moving_avg",
    oracle=f"""
    SELECT event_id, event_type, value,
      {o_dsum('value', over='w')}
        / CAST(COUNT(*) OVER w AS DOUBLE) AS moving_avg
    FROM events
    WINDOW w AS (
      PARTITION BY event_type ORDER BY epoch_us(ts), event_id
      ROWS BETWEEN {MOVING_AVG_ROWS - 1} PRECEDING AND CURRENT ROW)
    """,
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 4-row mean of `value` per event type — the smoothing
    window every monitoring dashboard runs. The frame is ROWS-based
    over a total order (event time then event_id), so both engines see
    identical frames; the windowed sum is fixed-point exact and the
    mean divides it by the exact frame row count.

    Scale shape: one window = one shuffle on event_type + in-partition
    time sort, O(frame) running state. Hot types: pre-bucket by
    (type, day) as with time_weighted_avg."""
    t = load_tables(spark, sf_dir, ("events",))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"), F.col("event_id"))
        .rowsBetween(-(MOVING_AVG_ROWS - 1), Window.currentRow)
    )
    total = dsum("value", over=w)
    return t["events"].select(
        "event_id",
        "event_type",
        "value",
        (total / F.count("*").over(w).cast("double")).alias("moving_avg"),
    )


_US_PER_DAY_SD = 86_400_000_000
_TREND_HALF = 3  # 7-day centered moving-average trend window


@query(
    "seasonal_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(ts) // {_US_PER_DAY_SD} AS BIGINT) AS day_idx,
             {o_dsum('value')} AS daily_total
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, day_idx,
             CAST((day_idx + 4) % 7 AS BIGINT) AS dow,
             daily_total,
             CASE WHEN COUNT(*) OVER w = {2 * _TREND_HALF + 1} THEN
               {o_dsum('daily_total', over='w')}
                 / {float(2 * _TREND_HALF + 1)}
             END AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                   ROWS BETWEEN {_TREND_HALF} PRECEDING
                        AND {_TREND_HALF} FOLLOWING)
    ),
    seas AS (
      SELECT event_type, dow,
             {o_dsum('daily_total - trend', 6)}
               / CAST(COUNT(daily_total - trend) AS DOUBLE) AS seasonal
      FROM tr WHERE trend IS NOT NULL GROUP BY event_type, dow
    )
    SELECT t.event_type, t.day_idx, t.dow, t.daily_total, t.trend,
           s.seasonal,
           t.daily_total - t.trend - s.seasonal AS resid
    FROM tr t JOIN seas s
      ON s.event_type = t.event_type AND s.dow = t.dow
    """,
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series per event type: daily_total = trend (7-day centered moving
    average, full-window-only) + weekly seasonal (mean detrended value
    per day-of-week) + residual — the decomposition behind "is Monday
    always low, or is THIS Monday anomalous", and the right input for
    anomaly tests (events_anomaly on resid, not raw, once seasonality
    exists).

    Exactness: daily totals are fixed-point sums; the trend window sum
    runs over 4dp-scaled INTEGERS (a windowed double sum would let
    DuckDB's segment-tree accumulation order differ from Spark's) and
    divides by exactly 7; day-of-week is pure epoch integer arithmetic
    ((day + 4) % 7, the events_weekday_hour precedent — no calendar
    functions); seasonal means are fixed-point over identical detrended
    doubles; the residual is IEEE subtraction on identical values.

    Scale shape: the raw scan collapses to the types x days aggregate
    first (one bounded-key shuffle, map-side partials); windows,
    seasonal means (types x 7 keys) and the final join all run on that
    tiny frame, with seasonal broadcast back."""
    t = load_tables(spark, sf_dir, ("events",))
    daily = (
        t["events"]
        .select(
            "event_type",
            (F.unix_micros("ts") / F.lit(_US_PER_DAY_SD))
            .cast("long")
            .alias("day_idx"),
            "value",
        )
        .groupBy("event_type", "day_idx")
        .agg(dsum("value").alias("daily_total"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-_TREND_HALF, _TREND_HALF)
    )
    full = 2 * _TREND_HALF + 1
    trend = F.when(
        F.count("*").over(w) == full,
        dsum("daily_total", over=w) / F.lit(float(full)),
    )
    tr = daily.select(
        "event_type",
        "day_idx",
        ((F.col("day_idx") + 4) % 7).cast("long").alias("dow"),
        "daily_total",
        trend.alias("trend"),
    )
    tr = materialize_once(tr)
    detr = F.col("daily_total") - F.col("trend")
    seas = (
        tr.where(F.col("trend").isNotNull())
        .groupBy("event_type", "dow")
        .agg((dsum(detr, 6) / F.count(detr).cast("double")).alias("seasonal"))
    )
    return tr.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "day_idx",
        "dow",
        "daily_total",
        "trend",
        "seasonal",
        (F.col("daily_total") - F.col("trend") - F.col("seasonal")).alias(
            "resid"
        ),
    )


_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3
_HOLT_OUT = 1_000_000.0  # 6dp output rounding


@query(
    "holt_linear_forecast",
    oracle=f"""
    WITH RECURSIVE months AS (
      SELECT (EXTRACT(year FROM o_orderdate) - 1970) * 12
               + EXTRACT(month FROM o_orderdate) - 1 AS m,
             {o_dsum('o_totalprice')} AS y
      FROM orders GROUP BY 1
    ),
    idx AS (SELECT m, y, ROW_NUMBER() OVER (ORDER BY m) AS i FROM months),
    rec AS (
      SELECT i, m, y, y AS l,
             COALESCE((SELECT y FROM idx WHERE i = 2), y) - y AS b
      FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.i, idx.m, idx.y,
             0.5 * idx.y + 0.5 * (rec.l + rec.b) AS l,
             0.3 * ((0.5 * idx.y + 0.5 * (rec.l + rec.b)) - rec.l)
               + 0.7 * rec.b AS b
      FROM rec JOIN idx ON idx.i = rec.i + 1
    )
    SELECT m AS month_idx, y,
           {o_fixed('l', 6)} AS level,
           {o_fixed('b', 6)} AS trend,
           {o_fixed('l + b', 6)} AS forecast_next
    FROM rec
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) over the
    monthly revenue series, α=0.5 β=0.3, standard init (l₁=y₁,
    b₁=y₂−y₁): per month the smoothed level, trend, and the one-step
    forecast l+b — the forecasting layer above ewma_daily (no trend
    term) and seasonal_decompose (descriptive, not predictive).

    The recurrence is inherently sequential, so it runs where the
    series lives: ONE applyInPandas task over the months-sized
    aggregate — bounded by the calendar (a century is 1200 rows), not
    by data volume; the fact table has already collapsed to months in
    a normal distributed agg. The oracle is a DuckDB RECURSIVE CTE
    unrolling the identical IEEE expression sequence (literal 0.7,
    not 1−0.3, on both sides — those differ in the last ulp); inputs
    are exact-DECIMAL monthly sums and outputs are 6dp-rounded, so
    every level/trend matches bit-for-bit.
    """
    import pandas as pd

    t = load_tables(spark, sf_dir, ("orders",))
    months = (
        t["orders"]
        .groupBy(
            ((F.year("o_orderdate") - 1970) * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("m")
        )
        .agg(
            dsum("o_totalprice").alias("y")
        )
    )

    def _holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("m").reset_index(drop=True)
        ys = [float(v) for v in pdf["y"]]
        l = ys[0]
        b = (ys[1] - ys[0]) if len(ys) > 1 else 0.0
        levels, trends = [l], [b]
        for y in ys[1:]:
            l_new = 0.5 * y + 0.5 * (l + b)
            b = 0.3 * (l_new - l) + 0.7 * b
            l = l_new
            levels.append(l)
            trends.append(b)

        def r6(x: float) -> float:
            import math

            return math.floor(x * 1000000.0 + 0.5) / 1000000.0

        return pd.DataFrame(
            {
                "month_idx": pdf["m"],
                "y": pdf["y"],
                "level": [r6(v) for v in levels],
                "trend": [r6(v) for v in trends],
                "forecast_next": [
                    r6(lv + tr) for lv, tr in zip(levels, trends)
                ],
            }
        )

    return months.groupBy(F.lit(1).alias("g")).applyInPandas(
        _holt,
        schema=(
            "month_idx long, y double, level double, trend double,"
            " forecast_next double"
        ),
    )


@query(
    "daily_peaks",
    oracle="""
    WITH daily AS (
      SELECT CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                  AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    scored AS (
      SELECT day, n_events,
        COALESCE(MAX(n_events) OVER (ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0) AS mx_before,
        COALESCE(MAX(n_events) OVER (ORDER BY day
          ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING), 0) AS mx_after,
        SUM(n_events) OVER (ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nsum,
        COUNT(*) OVER (ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nn
      FROM daily
    )
    SELECT day AS day_idx, n_events,
           CAST(mx_before AS BIGINT) AS max_before,
           CAST(mx_after AS BIGINT) AS max_after
    FROM scored
    WHERE n_events > mx_before AND n_events > mx_after
      AND n_events * nn * 20 > nsum * 21
    """,
)
def daily_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the daily event-count series: days that are
    STRICT local maxima over the ±3 active-day neighborhood AND at
    least 1.05× the neighborhood mean (a prominence gate, so a flat
    series never reports its every wiggle) — the launch-day /
    incident-day detector that complements events_anomaly (global
    z-score) with locality.

    Exactness: entirely integer arithmetic — counts, window maxima,
    and the prominence test cnt·nn·20 > nsum·21 (the 1.05× ratio as a
    cross-multiplied integer inequality, so no float ever enters).

    Scale shape: one shuffle to the daily series (map-side partials),
    then unpartitioned ROWS windows over the calendar-bounded series
    — same bounded-window argument as kaplan_meier_retention (a
    century is ~36.5k rows)."""
    t = load_tables(spark, sf_dir, ("events",))
    daily = (
        t["events"]
        .groupBy(
            F.floor(
                F.unix_micros("ts").cast("double") / F.lit(86400000000.0)
            )
            .cast("long")
            .alias("day")
        )
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    wb = Window.orderBy("day").rowsBetween(-3, -1)
    wa = Window.orderBy("day").rowsBetween(1, 3)
    wn = Window.orderBy("day").rowsBetween(-3, 3)
    scored = daily.select(
        "day",
        "n_events",
        F.coalesce(F.max("n_events").over(wb), F.lit(0)).alias("mx_before"),
        F.coalesce(F.max("n_events").over(wa), F.lit(0)).alias("mx_after"),
        F.sum("n_events").over(wn).alias("nsum"),
        F.count("*").over(wn).alias("nn"),
    )
    return (
        scored.where(
            (F.col("n_events") > F.col("mx_before"))
            & (F.col("n_events") > F.col("mx_after"))
            & (F.col("n_events") * F.col("nn") * 20 > F.col("nsum") * 21)
        )
        .select(
            F.col("day").alias("day_idx"),
            "n_events",
            F.col("mx_before").cast("long").alias("max_before"),
            F.col("mx_after").cast("long").alias("max_after"),
        )
    )
