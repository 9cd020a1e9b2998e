"""User-behavior analytics over the events stream (SURVEY.md §2 rows
21y-21z): ordered funnels and cohort retention — the event-analytics
shapes (sessionize/pivot/running totals live in operators/extra.py and
analytics.py) a reference user would run on a clickstream topic.

Both are expressed as staged aggregations that co-partition on
user_id, so at 100 TB the whole analysis is one shuffle of the events
table onto user_id reused across stages plus broadcast-sized
reductions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_flow_spark.registry import dsum, fixed, o_dsum, o_fixed, query, scaled_int
from sql_flow_spark.tables import load_tables


@query(
    "user_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT
      v.user_id,
      (c.user_id IS NOT NULL) AS clicked_after_view,
      (p.user_id IS NOT NULL) AS purchased_after_click
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel view -> click -> purchase: a user
    reaches a stage only with an event AFTER their first event of the
    previous stage. Three min-aggregations, each co-partitioned on
    user_id (one logical shuffle key reused); the per-stage tables are
    user-cardinality, tiny next to events. Timestamps are compared,
    never emitted — no cross-engine formatting risk."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v.select(F.col("user_id").alias("vu"), "t1"),
              (F.col("user_id") == F.col("vu")) & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c.select(F.col("user_id").alias("cu"), "t2"),
              (F.col("user_id") == F.col("cu")) & (F.col("ts") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c.select(F.col("user_id").alias("cu2"), "t2"),
               F.col("user_id") == F.col("cu2"), "left")
        .join(p.select(F.col("user_id").alias("pu"), "t3"),
              F.col("user_id") == F.col("pu"), "left")
        .select(
            "user_id",
            F.col("t2").isNotNull().alias("clicked_after_view"),
            F.col("t3").isNotNull().alias("purchased_after_click"),
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT
      strftime(cohort_day, '%Y-%m-%d') AS cohort,
      CAST(date_diff('day', cohort_day, CAST(e.ts AS DATE)) AS BIGINT)
        AS day_offset,
      CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY cohort_day, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    distinct on each later day offset. `firsts` is user-cardinality —
    hundreds of millions of rows at 100 TB, so it must NOT be
    broadcast: the shuffle join on user_id reuses the
    hashpartitioning(user_id) exchange the groupBy already built, so
    enrichment costs no extra shuffle. The distinct-count agg then
    shuffles on the small (cohort, offset) key space with map-side
    partial distinct."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("cohort_day"))
    return (
        ev.join(firsts, "user_id")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff(F.to_date("ts"), F.col("cohort_day")).cast("long").alias(
                "day_offset"
            ),
            "user_id",
        )
        .groupBy("cohort", "day_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("active_users"))
    )


@query(
    "events_enrich_salted",
    oracle="""
    WITH dim AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen_s
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, d.n_events, d.first_seen_s
    FROM events e JOIN dim d ON e.user_id = d.user_id
    """,
)
def events_enrich_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim enrichment routed through plans.salted_join — the
    hot-key scatter join for the pathological skew AQE can't fix (one
    key larger than an executor). Going through the value-hash gate
    proves salting is semantics-preserving: the oracle is the PLAIN
    join. The dim side is exploded x salt (8 copies of a
    user-cardinality table), the fact side's hot keys scatter across
    the 8 sub-keys."""
    from sql_flow_spark.plans.skew import salted_join
    from sql_flow_spark.registry import ts_str

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select("event_id", "user_id")
    dim = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            ts_str(F.min("ts")).alias("first_seen_s"),
        )
    )
    return salted_join(ev, dim, "user_id").select(
        "event_id", "user_id", "n_events", "first_seen_s"
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS nxt
      FROM events
    ),
    counts AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY cur)
                                    AS DOUBLE) AS p
    FROM counts
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the sequence-modeling prep table (what did users do
    NEXT). lead() over the total (time, event_id) order pairs each
    event with its successor; transition probability divides exact
    integer counts (the per-row window total sums BIGINTs — exact in
    any order, unlike doubles).

    Scale shape: one window (shuffle on user_id + in-partition time
    sort) then a groupBy onto the types x types key space (tiny); the
    probability window runs on that matrix."""
    t = load_tables(spark, sf_dir, ("events",))
    wseq = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seq = t["events"].select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wseq).alias("nxt"),
    )
    counts = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("long").alias("n"))
    )
    wrow = Window.partitionBy("cur")
    return counts.select(
        "cur",
        "nxt",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(wrow).cast("double")
        ).alias("p"),
    )


def _quantile_duckdb(sorted_vals, q):
    """quantile_cont's exact arithmetic: pos = q*(n-1), then
    (1-d)*lo + d*hi — NOT numpy.percentile, whose different expression
    arrangement differs in the last ulp (measured), and not
    lo + d*(hi-lo) either (also measured differing)."""
    import math

    n = len(sorted_vals)
    pos = q * (n - 1)
    k = int(math.floor(pos))
    d = pos - k
    if k + 1 >= n:
        return float(sorted_vals[-1])
    lo, hi = float(sorted_vals[k]), float(sorted_vals[k + 1])
    return (1 - d) * lo + d * hi


@query(
    "user_gap_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS gap
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_gap_us,
           quantile_cont(gap, 0.5) AS median_gap_us,
           quantile_cont(gap, 0.9) AS p90_gap_us
    FROM g WHERE gap IS NOT NULL
    GROUP BY user_id
    """,
)
def user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via the grouped-map custom
    operator shape (applyInArrow): each user's events arrive as one
    Arrow record batch, the gap distribution is computed with
    per-group imperative code (lexsort, diff, quantiles), and only
    small typed rows come back. Oracle-exact even through Python: the
    integer gap sums stay < 2^53 (lossless in doubles) and the
    quantile interpolation reimplements quantile_cont's exact
    arithmetic (see _quantile_duckdb).

    r13 optimization round: moved from applyInPandas to applyInArrow —
    per group, pandas paid a DataFrame construction + sort_values
    (~3 ms of pure container overhead per user); the Arrow table +
    numpy lexsort path computes the identical values at ~6x less
    per-group cost (7.4 s -> 0.9 s at sf0.1, result-equal on every
    user — measured in OPTIMIZATION_r13.md). This stays the measured
    grouped-map A/B twin of user_gap_stats_jvm.

    Scale shape: one shuffle on user_id; per-group memory is that
    user's event count (bound hot users upstream or pre-aggregate by
    (user, day) if a key can exceed executor memory). This is the
    pattern for any per-entity sequence feature at 100 TB."""
    import numpy as np
    import pyarrow as pa

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )

    _empty = {
        "user_id": pa.array([], pa.int64()),
        "n_gaps": pa.array([], pa.int64()),
        "mean_gap_us": pa.array([], pa.float64()),
        "median_gap_us": pa.array([], pa.float64()),
        "p90_gap_us": pa.array([], pa.float64()),
    }

    def stats(tbl):
        us = tbl.column("us").to_numpy(zero_copy_only=False)
        eid = tbl.column("event_id").to_numpy(zero_copy_only=False)
        # sort by (us, event_id) — lexsort keys are listed minor first
        u = us[np.lexsort((eid, us))]
        gaps = np.diff(u)
        if len(gaps) == 0:
            return pa.table(_empty)
        s = np.sort(gaps)
        return pa.table(
            {
                "user_id": pa.array(
                    [int(tbl.column("user_id")[0].as_py())], pa.int64()
                ),
                "n_gaps": pa.array([len(gaps)], pa.int64()),
                "mean_gap_us": pa.array(
                    [float(int(gaps.sum())) / len(gaps)], pa.float64()
                ),
                "median_gap_us": pa.array(
                    [_quantile_duckdb(s, 0.5)], pa.float64()
                ),
                "p90_gap_us": pa.array(
                    [_quantile_duckdb(s, 0.9)], pa.float64()
                ),
            }
        )

    return ev.groupBy("user_id").applyInArrow(
        stats,
        "user_id long, n_gaps long, mean_gap_us double, "
        "median_gap_us double, p90_gap_us double",
    )


@query(
    "user_gap_stats_jvm",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS gap
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_gap_us,
           quantile_cont(gap, 0.5) AS median_gap_us,
           quantile_cont(gap, 0.9) AS p90_gap_us
    FROM g WHERE gap IS NOT NULL
    GROUP BY user_id
    """,
)
def user_gap_stats_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM twin of user_gap_stats: identical result (same oracle, both
    hash-gated), zero Python in the plan — lag-diff window, then one
    agg with sort_array(collect_list) and the quantile interpolation
    written as Catalyst expressions using quantile_cont's exact
    (1-d)*lo + d*hi arithmetic (see _quantile_duckdb).

    This is the production choice: the whole plan stays in codegen and
    the A/B against the grouped-map twin measures the Arrow+Python tax
    directly (numbers pinned in SCALING.md). Keep the applyInPandas
    twin when per-group logic outgrows SQL expressions (model scoring,
    stateful passes); use this shape when it doesn't. Scale bound is
    identical: per-key memory is that user's gap list."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.select(
        "user_id", (F.col("us") - F.lag("us").over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())

    def _qcont(s, n, q: float):
        # pos/d in doubles, exactly as _quantile_duckdb computes them
        pos = F.lit(q) * (n - 1).cast("double")
        k = F.floor(pos).cast("int")
        d = pos - F.floor(pos)
        lo = F.element_at(s, k + 1).cast("double")
        hi = F.element_at(s, k + 2).cast("double")
        return F.when(k + 1 >= n, F.element_at(s, -1).cast("double")).otherwise(
            (F.lit(1.0) - d) * lo + d * hi
        )

    agg = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap").alias("gap_sum"),
        F.sort_array(F.collect_list("gap")).alias("s"),
    )
    n = F.col("n_gaps")
    return agg.select(
        "user_id",
        "n_gaps",
        (F.col("gap_sum").cast("double") / n.cast("double")).alias("mean_gap_us"),
        _qcont(F.col("s"), n, 0.5).alias("median_gap_us"),
        _qcont(F.col("s"), n, 0.9).alias("p90_gap_us"),
    )


@query(
    "user_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    islands AS (
      SELECT user_id,
             day - ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day) AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_len
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
           CAST(SUM(streak_len) AS BIGINT) AS active_days
    FROM streaks GROUP BY user_id
    """,
)
def user_activity_streaks(spark, sf_dir: str):
    """Gaps-and-islands: maximal runs of consecutive active days per
    user (day − row_number is constant within a run), rolled up to
    streak count, longest streak, and total active days — the
    retention-mechanics companion to cohort_retention. Exact integers
    throughout.

    Scale shape: DISTINCT (user, day) collapses the fact with map-side
    partials; the island window and both rollups all share the user_id
    partitioning (one exchange chain); group sizes are bounded by the
    calendar."""
    t = load_tables(spark, sf_dir, ("events",))
    days = (
        t["events"]
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island", F.col("day") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").cast("long").alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_streaks"),
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.sum("streak_len").cast("long").alias("active_days"),
    )


@query(
    "user_behavior_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT user_id,
             CAST(SUM(n) AS BIGINT) AS tn,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM c GROUP BY user_id
    ),
    terms AS (
      SELECT c.user_id, t.tn, t.k,
             (CAST(c.n AS DOUBLE) / CAST(t.tn AS DOUBLE))
               * ({o_fixed('ln(CAST(c.n AS DOUBLE) / CAST(t.tn AS DOUBLE))', 6)})
               AS term
      FROM c JOIN tot t ON t.user_id = c.user_id
    )
    SELECT user_id,
           CAST(MAX(tn) AS BIGINT) AS n_events,
           CAST(MAX(k) AS BIGINT) AS n_types,
           {o_fixed('-' + o_dsum('term', 9), 6)} AS entropy
    FROM terms
    GROUP BY user_id
    """,
)
def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral
    diversity score that separates single-action bots (entropy 0) from
    broad explorers (entropy -> ln k): the per-user counterpart of
    event_transition_matrix's population-level structure, and the
    ranking signal behind engagement/bot triage.

    Exactness: type counts are exact integers; each p*ln p term masks
    ln to 6dp (ln is the one non-correctly-rounded primitive), the
    term sum goes through 9dp fixed-point integers so per-user
    accumulation order can't matter, and the final entropy is masked
    once more at the boundary.

    Scale shape: one partial-agg shuffle to (user, type) counts, a
    user-keyed reduce for totals that REUSES the same hash
    partitioning (no second exchange of the big side), then the term
    join is user-keyed on already-user-partitioned tiny aggregates.
    Output is user-dim-sized. No windows, no driver traffic."""
    t = load_tables(spark, sf_dir, ("events",))
    c = (
        t["events"]
        .groupBy("user_id", "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = c.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("tn"),
        F.count("*").cast("long").alias("k"),
    )
    p = F.col("n").cast("double") / F.col("tn").cast("double")
    term = p * fixed(F.log(p), 6)
    terms = c.join(tot, "user_id").select(
        "user_id",
        "tn",
        "k",
        term.alias("term"),
    )
    ent = -dsum("term", 9)
    return terms.groupBy("user_id").agg(
        F.max("tn").cast("long").alias("n_events"),
        F.max("k").cast("long").alias("n_types"),
        fixed(ent, 6).alias("entropy"),
    )


@query(
    "funnel_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
        AND epoch_us(e.ts) > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
        AND epoch_us(e.ts) > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    lat AS (
      SELECT 'view_to_click' AS stage, c.t2 - v.t1 AS us
      FROM c JOIN v ON v.user_id = c.user_id
      UNION ALL
      SELECT 'click_to_purchase', p.t3 - c.t2
      FROM p JOIN c ON c.user_id = p.user_id
      UNION ALL
      SELECT 'view_to_purchase', p.t3 - v.t1
      FROM p JOIN v ON v.user_id = p.user_id
    )
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(us) AS BIGINT) AS total_us,
           quantile_cont(us, 0.5) / 1000000.0 AS median_s,
           quantile_cont(us, 0.9) / 1000000.0 AS p90_s,
           CAST(SUM(us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
             AS mean_s
    FROM lat GROUP BY stage
    """,
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel leg (view->click,
    click->purchase, view->purchase), using user_funnel's
    strictly-ordered stage times — user_funnel reports HOW MANY users
    survive each leg; this reports HOW LONG the surviving users took
    (median/p90/mean), the latency half of the funnel health panel.

    Exactness: stage times are exact integer epoch-micros (MIN over
    integers); latencies are integer differences; quantile_cont and
    Spark's percentile share linear interpolation and agree exactly on
    integer inputs (pinned by winsorized_stats/value_quartiles
    already); mean divides an exact BIGINT sum once.

    Scale shape: the three stage builds are user-keyed partial aggs
    that reuse one hash partitioning (same shape as user_funnel); the
    latency rows are users-sized; the final agg has 3 groups. The
    percentile sort is per-stage over dim-sized data."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    lat = (
        c.join(v, "user_id")
        .select(
            F.lit("view_to_click").alias("stage"),
            (F.col("t2") - F.col("t1")).alias("lat_us"),
        )
        .unionAll(
            p.join(c, "user_id").select(
                F.lit("click_to_purchase").alias("stage"),
                (F.col("t3") - F.col("t2")).alias("lat_us"),
            )
        )
        .unionAll(
            p.join(v, "user_id").select(
                F.lit("view_to_purchase").alias("stage"),
                (F.col("t3") - F.col("t1")).alias("lat_us"),
            )
        )
    )
    return lat.groupBy("stage").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("lat_us").cast("long").alias("total_us"),
        (F.percentile("lat_us", 0.5) / F.lit(1e6)).alias("median_s"),
        (F.percentile("lat_us", 0.9) / F.lit(1e6)).alias("p90_s"),
        (
            F.sum("lat_us").cast("double")
            / F.count("*").cast("double")
            / F.lit(1e6)
        ).alias("mean_s"),
    )


_DAY_US = 86_400_000_000


@query(
    "concurrent_sessions_peak",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, tus,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    iv AS (
      SELECT user_id, sid, MIN(tus) AS s, MAX(tus) AS e
      FROM sess GROUP BY 1, 2
    ),
    clip AS (
      SELECT day,
             GREATEST(s, day * {_DAY_US}) AS cs,
             LEAST(e, (day + 1) * {_DAY_US} - 1) AS ce
      FROM (
        SELECT s, e, unnest(generate_series(s // {_DAY_US}, e // {_DAY_US}))
                 AS day
        FROM iv
      )
    ),
    pts AS (
      SELECT day, cs AS t, 1 AS delta FROM clip
      UNION ALL
      SELECT day, ce AS t, -1 AS delta FROM clip
    ),
    run AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC)
               AS running
      FROM pts
    ),
    act AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active_sessions
      FROM clip GROUP BY day
    ),
    pk AS (
      SELECT day, CAST(MAX(running) AS BIGINT) AS peak_concurrent
      FROM run GROUP BY day
    )
    SELECT a.day AS day_idx, a.n_active_sessions, p.peak_concurrent
    FROM act a JOIN pk p ON p.day = a.day
    """,
)
def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per calendar day — the sweep-line
    member of the behavior family (capacity planning / license-peak /
    load-profile question the sessionize + histogram keys can't
    answer): sessions (30-min-gap islands, the events_sessionize
    convention) are clipped to the days they overlap, then each day
    sweeps its +1/-1 boundary points in time order and the running sum's
    maximum is that day's concurrency peak. Touching sessions count as
    concurrent (starts sort before ends at the same microsecond;
    intervals are inclusive).

    Exactness: every quantity is integer microsecond arithmetic and
    integer running sums; both engines use the default RANGE frame
    (unbounded-preceding..current-row over peer groups), so ties of
    identical (t, delta) accumulate as one peer group — order inside a
    tie cannot change any running value.

    Scale shape: one events shuffle onto user_id (sessionize), session
    intervals are user-session-sized, the day explode is bounded by
    session length in days (sessions are minutes-long), and the sweep
    windows partition by DAY — parallel across the calendar. A single
    day's sessions land in one task, fine to ~10^7 sessions/day/task;
    past that, sub-partition the sweep by hour with a carry-in count
    of sessions spanning the hour boundary (same clipping trick this
    operator already applies at day boundaries)."""
    t = load_tables(spark, sf_dir, ("events",))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts"))
    gap = tus - F.unix_micros(F.lag(F.col("ts")).over(wu))
    marked = t["events"].select(
        "user_id",
        "event_id",
        tus.alias("tus"),
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.select(
        "user_id", "tus", F.sum("is_new").over(wcum).alias("sid")
    )
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("tus").alias("s"), F.max("tus").alias("e")
    )
    clip = iv.select(
        F.explode(
            F.sequence(
                F.expr(f"s div {_DAY_US}"), F.expr(f"e div {_DAY_US}")
            )
        ).alias("day"),
        "s",
        "e",
    ).select(
        "day",
        F.greatest(F.col("s"), F.col("day") * _DAY_US).alias("cs"),
        F.least(F.col("e"), (F.col("day") + 1) * _DAY_US - 1).alias("ce"),
    )
    pts = clip.select(
        "day", F.col("cs").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        clip.select("day", F.col("ce").alias("t"), F.lit(-1).alias("delta"))
    )
    # default RANGE frame on purpose: ties accumulate as a peer group,
    # making the running sum order-independent within a tie
    wday = Window.partitionBy("day").orderBy(
        F.col("t").asc(), F.col("delta").desc()
    )
    run = pts.select("day", F.sum("delta").over(wday).alias("running"))
    act = clip.groupBy("day").agg(
        F.count("*").cast("long").alias("n_active_sessions")
    )
    pk = run.groupBy("day").agg(
        F.max("running").cast("long").alias("peak_concurrent")
    )
    return act.join(pk, "day").select(
        F.col("day").alias("day_idx"), "n_active_sessions", "peak_concurrent"
    )


_FUNNEL_WINDOW_US = 6 * 3600 * 1_000_000  # 6h conversion window


@query(
    "window_funnel",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
        AND epoch_us(e.ts) > v.t1
        AND epoch_us(e.ts) <= v.t1 + {_FUNNEL_WINDOW_US}
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e
      JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.t2
      JOIN v ON e.user_id = v.user_id
        AND epoch_us(e.ts) <= v.t1 + {_FUNNEL_WINDOW_US}
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_level1,
      CAST(COUNT(c.user_id) AS BIGINT) AS n_level2,
      CAST(COUNT(p.user_id) AS BIGINT) AS n_level3,
      CAST(COUNT(c.user_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        AS conv_1_2,
      CASE WHEN COUNT(c.user_id) > 0 THEN
        CAST(COUNT(p.user_id) AS DOUBLE) / CAST(COUNT(c.user_id) AS DOUBLE)
      ELSE 0.0 END AS conv_2_3
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded strictly-ordered funnel (the ClickHouse
    windowFunnel shape): view -> click -> purchase where every later
    stage must land within 6 HOURS of the user's first view — the
    conversion-window variant of user_funnel (which admits a purchase
    weeks later; funnel_latency measures how long, this one enforces a
    deadline). Output is the funnel summary: users at each level and
    the stage conversion rates.

    Exactness: stage times are integer epoch-microseconds, the window
    bound is an integer literal, counts are exact; the two rates are
    one IEEE division each on identical integers.

    Scale shape: identical to user_funnel — three min-aggregations
    co-partitioned on user_id (one logical shuffle key reused), stage
    tables user-sized, final single-row summary via map-side partial
    counts. The window predicate prunes the stage joins harder than
    user_funnel's open-ended one."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(
            v.select(F.col("user_id").alias("vu"), "t1"),
            (F.col("user_id") == F.col("vu"))
            & (F.col("tus") > F.col("t1"))
            & (F.col("tus") <= F.col("t1") + _FUNNEL_WINDOW_US),
        )
        .groupBy("user_id")
        .agg(F.min("tus").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(
            c.select(F.col("user_id").alias("cu"), "t2"),
            (F.col("user_id") == F.col("cu")) & (F.col("tus") > F.col("t2")),
        )
        .join(
            v.select(F.col("user_id").alias("vu2"), "t1"),
            (F.col("user_id") == F.col("vu2"))
            & (F.col("tus") <= F.col("t1") + _FUNNEL_WINDOW_US),
        )
        .groupBy("user_id")
        .agg(F.min("tus").alias("t3"))
    )
    joined = v.join(
        c.select(F.col("user_id").alias("cu2"), "t2"),
        F.col("user_id") == F.col("cu2"),
        "left",
    ).join(
        p.select(F.col("user_id").alias("pu"), "t3"),
        F.col("user_id") == F.col("pu"),
        "left",
    )
    n1 = F.count("*").cast("long")
    n2 = F.count("cu2").cast("long")
    n3 = F.count("pu").cast("long")
    return joined.agg(
        n1.alias("n_level1"),
        n2.alias("n_level2"),
        n3.alias("n_level3"),
        (n2.cast("double") / n1.cast("double")).alias("conv_1_2"),
        F.when(n2 > 0, n3.cast("double") / n2.cast("double"))
        .otherwise(0.0)
        .alias("conv_2_3"),
    )


# 6dp fixed point for entropy terms. The p*log2(p) term carries a RAW
# log2() and the margin audit measured the old 12dp mask's tightest
# boundary at 77 ulps of the argument — one sloppy cross-build log2
# from a driver hash FAIL (the r8 kaplan_meier class). 6dp puts the
# same data at ~1e8 ulps; the entropy column loses nothing an
# uncertainty readout cares about (error ~1e-5 bits).
_NEP_SCALE = 6


@query(
    "next_event_prediction",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS nxt
      FROM events
    ),
    counts AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY cur, nxt
    ),
    tot AS (SELECT cur, SUM(n) AS tot FROM counts GROUP BY cur),
    terms AS (
      SELECT c.cur, c.nxt, c.n, t.tot,
             CAST(floor((CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE))
               * log2(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE))
               * {10.0 ** _NEP_SCALE} + 0.5) AS DECIMAL(30,0)) AS hterm
      FROM counts c JOIN tot t ON c.cur = t.cur
    ),
    ent AS (
      SELECT cur, CAST(tot AS BIGINT) AS n_obs,
             -(CAST(SUM(hterm) AS DOUBLE) / {10.0 ** _NEP_SCALE}) AS entropy_bits
      FROM terms GROUP BY cur, tot
    ),
    best AS (
      SELECT cur, nxt, n, tot FROM (
        SELECT c.*, t.tot, ROW_NUMBER() OVER (
          PARTITION BY c.cur ORDER BY c.n DESC, c.nxt) AS rn
        FROM counts c JOIN tot t ON c.cur = t.cur
      ) WHERE rn = 1
    )
    SELECT b.cur, b.nxt AS predicted_next,
           CAST(b.n AS DOUBLE) / CAST(b.tot AS DOUBLE) AS p_next,
           e.n_obs, e.entropy_bits
    FROM best b JOIN ent e ON b.cur = e.cur
    """,
)
def next_event_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction table from the first-order Markov model:
    for each conditioning event type, the argmax next event with its
    probability AND the conditional entropy H(next | cur) in bits —
    prediction plus uncertainty in one row (a high-entropy state means
    the argmax is a coin flip; sequence-model evaluation needs both).
    Complements event_transition_matrix (the full distribution) and
    user_behavior_entropy (per-user entropy).

    Exactness: transition counts are exact BIGINTs over the same total
    (time, event_id) order as event_transition_matrix; each p·log2(p)
    entropy term is fixed-pointed to 12dp (log2 ulp drift absorbed)
    and DECIMAL-summed, so the per-state sum is fold-order-free.

    Scale shape: one user-partitioned window (the sequence pairing),
    one shuffle onto the types×types key space (tiny from map-side
    combine); everything after runs on the Markov matrix itself."""
    t = load_tables(spark, sf_dir, ("events",))
    wseq = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seq = t["events"].select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wseq).alias("nxt"),
    )
    counts = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = counts.groupBy("cur").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    hterm = scaled_int(p * F.log2(p), _NEP_SCALE)
    terms = counts.join(F.broadcast(tot), "cur").select(
        "cur", "nxt", "n", "tot", hterm.alias("hterm")
    )
    ent = terms.groupBy("cur", "tot").agg(
        (-(F.sum("hterm").cast("double") / F.lit(10.0**_NEP_SCALE))).alias(
            "entropy_bits"
        )
    ).select("cur", F.col("tot").cast("long").alias("n_obs"), "entropy_bits")
    wbest = Window.partitionBy("cur").orderBy(F.col("n").desc(), "nxt")
    best = (
        terms.withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("predicted_next"), p.alias("p_next"))
    )
    return best.join(ent, "cur").select(
        "cur", "predicted_next", "p_next", "n_obs", "entropy_bits"
    )


_SESSION_GAP_US = 1_800_000_000  # 30 min, same as events_sessionize
_PATH_TOP = 10


@query(
    "session_path_topk",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, tus, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM seq
    ),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY tus, event_id) AS path
      FROM sess GROUP BY user_id, sid
    ),
    counts AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM paths GROUP BY path
    )
    SELECT path, n_sessions, rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY n_sessions DESC, path) AS INTEGER) AS rank
      FROM counts
    )
    WHERE rank <= {_PATH_TOP}
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session paths: the ordered event-type sequence of each
    30-minute-gap session, ranked by how many sessions follow it —
    the "what do users actually do" navigation-pattern query (the
    sequence-level view that event_transition_matrix's one-step
    probabilities can't give).

    Exactness: sessions use the same gap/total-order convention as
    events_sessionize; the path string is built over the total
    (time, event_id) order in both engines (array_sort over structs
    here, ORDER BY inside string_agg there); counts are exact and
    the top-10 carries a path tiebreak.

    Scale shape: one shuffle onto user_id (session window) whose
    partitioning the per-session groupBy reuses, then a path-keyed
    count with map-side combine; top-10 is a distributed sort-limit
    with row_number only over the survivors."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        "event_id",
    )
    wseq = Window.partitionBy("user_id").orderBy("tus", "event_id")
    is_new = F.when(
        F.lag("tus").over(wseq).isNull()
        | ((F.col("tus") - F.lag("tus").over(wseq)) > _SESSION_GAP_US),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "sid",
        F.sum(is_new).over(
            wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tus", "event_id", "event_type"))
                ),
                lambda x: x.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    head = counts.orderBy(F.col("n_sessions").desc(), "path").limit(_PATH_TOP)
    w = Window.orderBy(F.col("n_sessions").desc(), "path")
    return head.withColumn("rank", F.row_number().over(w).cast("int"))


@query(
    "dau_mau_stickiness",
    oracle="""
    WITH du AS (
      SELECT strftime(ts, '%Y-%m') AS month,
             CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                  AS BIGINT) AS day,
             user_id
      FROM events GROUP BY 1, 2, 3
    ),
    daily AS (
      SELECT month, day, CAST(COUNT(*) AS BIGINT) AS dau
      FROM du GROUP BY month, day
    ),
    monthly AS (
      SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM du GROUP BY month
    ),
    d2 AS (
      SELECT month, CAST(COUNT(*) AS BIGINT) AS n_active_days,
             CAST(SUM(dau) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_dau
      FROM daily GROUP BY month
    )
    SELECT m.month, d2.n_active_days, d2.avg_dau, m.mau,
           d2.avg_dau / CAST(m.mau AS DOUBLE) AS stickiness
    FROM monthly m JOIN d2 ON m.month = d2.month
    """,
)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month: average daily active
    users over monthly active users — the canonical product-health
    ratio (1.0 = every monthly user shows up every day). Also returns
    the raw n_active_days/avg_dau/mau panel.

    Exactness: the (month, day, user) activity set is deduplicated
    with exact keys (integer day floor-division, strftime month);
    avg_dau divides exact BIGINT sums; stickiness divides that result
    by an exact BIGINT — identical expression trees both sides.

    Scale shape: one shuffle to the distinct (month, day, user)
    activity set (map-side partial dedup), then two small aggs —
    daily counts reuse the activity set's partitioning prefix, the
    monthly distinct-user count is months×users-sized — joined on a
    months-sized key."""
    t = load_tables(spark, sf_dir, ("events",))
    du = (
        t["events"]
        .select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.floor(
                F.unix_micros("ts").cast("double") / F.lit(86400000000.0)
            )
            .cast("long")
            .alias("day"),
            "user_id",
        )
        .distinct()
    )
    daily = du.groupBy("month", "day").agg(
        F.count("*").cast("long").alias("dau")
    )
    monthly = du.groupBy("month").agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    d2 = daily.groupBy("month").agg(
        F.count("*").cast("long").alias("n_active_days"),
        (F.sum("dau").cast("double") / F.count("*").cast("double")).alias(
            "avg_dau"
        ),
    )
    return monthly.join(d2, "month").select(
        "month",
        "n_active_days",
        "avg_dau",
        "mau",
        (F.col("avg_dau") / F.col("mau").cast("double")).alias("stickiness"),
    )


@query(
    "growth_accounting",
    oracle="""
    WITH mu AS (
      SELECT DISTINCT o_custkey,
             (EXTRACT(year FROM o_orderdate) - 1970) * 12
               + EXTRACT(month FROM o_orderdate) - 1 AS m
      FROM orders
    ),
    firsts AS (SELECT o_custkey, MIN(m) AS fm FROM mu GROUP BY o_custkey),
    cur AS (
      SELECT mu.o_custkey, mu.m, f.fm,
             (p.o_custkey IS NOT NULL) AS was_active
      FROM mu
      JOIN firsts f ON mu.o_custkey = f.o_custkey
      LEFT JOIN mu p ON p.o_custkey = mu.o_custkey AND p.m = mu.m - 1
    ),
    stats AS (
      SELECT m,
             CAST(SUM(CASE WHEN m = fm THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(SUM(CASE WHEN was_active THEN 1 ELSE 0 END) AS BIGINT)
               AS n_retained,
             CAST(SUM(CASE WHEN m > fm AND NOT was_active THEN 1 ELSE 0 END)
               AS BIGINT) AS n_resurrected
      FROM cur GROUP BY m
    ),
    churn AS (
      SELECT a.m + 1 AS m, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM mu a LEFT JOIN mu b
        ON b.o_custkey = a.o_custkey AND b.m = a.m + 1
      WHERE b.o_custkey IS NULL
      GROUP BY a.m + 1
    )
    SELECT s.m AS month_idx, s.n_new, s.n_retained, s.n_resurrected,
           COALESCE(c.n_churned, 0) AS n_churned,
           CASE WHEN COALESCE(c.n_churned, 0) > 0 THEN
             CAST(s.n_new + s.n_resurrected AS DOUBLE)
               / CAST(c.n_churned AS DOUBLE)
           ELSE NULL END AS quick_ratio
    FROM stats s LEFT JOIN churn c ON c.m = s.m
    """,
)
def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting: every customer active (ordering) in a month classified as NEW
    (first-ever month), RETAINED (also active the month before) or
    RESURRECTED (returning after a gap), plus CHURNED (active last
    month, gone this month) and the quick ratio (new + resurrected)
    / churned — the canonical active-base decomposition growth teams run
    before anything else (gross "MAU grew 5%" hides churn exactly the
    way this table exposes).

    Exactness: activity is an exact DISTINCT (user, month-index) set
    (integer month arithmetic — no calendar strings in the logic);
    all four states are exact integer counts from equality joins;
    the quick ratio is one guarded IEEE division.

    Scale shape: the activity set is one dedup shuffle onto
    (o_custkey, m); firsts, the m-1 self-join and the m+1 churn
    anti-join all re-shuffle user-keyed tables co-partitioned on
    o_custkey (months/user is bounded, so each is months×users rows);
    the final stats collapse onto a months-sized key."""
    t = load_tables(spark, sf_dir, ("orders",))
    mu = (
        t["orders"]
        .select(
            "o_custkey",
            ((F.year("o_orderdate") - 1970) * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("m"),
        )
        .distinct()
    )
    firsts = mu.groupBy("o_custkey").agg(F.min("m").alias("fm"))
    prev = mu.select(F.col("o_custkey").alias("pu"), (F.col("m") + 1).alias("pm"))
    cur = (
        mu.join(firsts, "o_custkey")
        .join(
            prev,
            (F.col("o_custkey") == F.col("pu")) & (F.col("m") == F.col("pm")),
            "left",
        )
        .select(
            "m",
            "fm",
            F.col("pu").isNotNull().alias("was_active"),
        )
    )
    stats = cur.groupBy("m").agg(
        F.sum(F.when(F.col("m") == F.col("fm"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("was_active"), 1).otherwise(0))
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when((F.col("m") > F.col("fm")) & ~F.col("was_active"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    nxt = mu.select(F.col("o_custkey").alias("nu"), (F.col("m") - 1).alias("nm"))
    churn = (
        mu.join(
            nxt,
            (F.col("o_custkey") == F.col("nu")) & (F.col("m") == F.col("nm")),
            "left_anti",
        )
        .groupBy((F.col("m") + 1).alias("cm"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    joined = stats.join(churn, stats["m"] == churn["cm"], "left")
    n_churned = F.coalesce(F.col("n_churned"), F.lit(0))
    return joined.select(
        F.col("m").alias("month_idx"),
        "n_new",
        "n_retained",
        "n_resurrected",
        n_churned.cast("long").alias("n_churned"),
        F.when(
            n_churned > 0,
            (F.col("n_new") + F.col("n_resurrected")).cast("double")
            / n_churned.cast("double"),
        ).alias("quick_ratio"),
    )


@query(
    "transition_latency",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER w AS nxt,
             lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / 1000000.0 AS avg_gap_s,
           CAST(MAX(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s
    FROM seq WHERE nxt IS NOT NULL
    GROUP BY cur, nxt
    """,
)
def transition_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timing for the Markov transition matrix: per (cur -> next)
    transition the count, mean and max inter-event gap — WHERE users
    go (event_transition_matrix / next_event_prediction) plus HOW LONG
    they linger before going (the dwell-time layer a UX or
    bot-detection analysis needs: a 50 ms view->purchase is not a
    human).

    Exactness: gaps are exact integer epoch-µs differences over the
    same total (time, event_id) order as the transition family; the
    mean divides exact BIGINT sums, converted to seconds by one IEEE
    division.

    Scale shape: identical to event_transition_matrix — one
    user-partitioned window, one shuffle onto the types×types key
    space with map-side partials."""
    t = load_tables(spark, sf_dir, ("events",))
    wseq = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    tus = F.unix_micros("ts")
    seq = t["events"].select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wseq).alias("nxt"),
        (F.lead(tus).over(wseq) - tus).alias("gap_us"),
    )
    return (
        seq.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(
            F.count("*").cast("long").alias("n"),
            (
                F.sum("gap_us").cast("double")
                / F.count("*").cast("double")
                / F.lit(1000000.0)
            ).alias("avg_gap_s"),
            (F.max("gap_us").cast("double") / F.lit(1000000.0)).alias(
                "max_gap_s"
            ),
        )
    )
