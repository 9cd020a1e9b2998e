"""Distribution-drift and robust-outlier monitoring.

The model-ops layer over streaming metrics: two-sample KS (exact),
PSI over reference-period decile bins, and median/MAD robust
z-scoring — the checks a production pipeline runs before trusting a
day's data or a retrained model's inputs. Reference scope note: the
reference engine ships no statistics operators (its core is DuckDB
plumbing, sqlflow/handlers.py); this family extends the brief's
quality-signal toolkit from per-document scores to per-DISTRIBUTION
monitoring.

All three are oracle-gated bit-for-bit: counts are exact integers,
percentile fences share the lower+(upper-lower)*frac interpolation
both engines implement (value_quartiles precedent), ln goes through
the 6dp floor mask (unigram_logprob precedent), and every sum of
doubles is fixed-point-scaled so partitioning cannot change it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_flow_spark.registry import dsum, fixed, o_dsum, o_fixed, query
from sql_flow_spark.tables import load_tables

# Fixed split boundary for the self-contained drift pair: first half
# vs second half of the events month (2024-01-16 00:00:00 UTC).
_SPLIT_US = 1705363200000000


@query(
    "ks_drift",
    oracle=f"""
    WITH lab AS (
      SELECT event_type, value,
             CASE WHEN epoch_us(ts) < {_SPLIT_US} THEN 1 ELSE 2 END AS g
      FROM events
    ),
    n AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM lab GROUP BY event_type
    ),
    v AS (
      SELECT event_type, value,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS c2
      FROM lab GROUP BY event_type, value
    ),
    cdf AS (
      SELECT event_type, value,
             SUM(c1) OVER (PARTITION BY event_type ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum1,
             SUM(c2) OVER (PARTITION BY event_type ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum2
      FROM v
    )
    SELECT cdf.event_type, n.n1, n.n2,
           MAX(ABS(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS ks_stat
    FROM cdf JOIN n ON n.event_type = cdf.event_type
    GROUP BY cdf.event_type, n.n1, n.n2
    """,
)
def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per event type:
    sup |F1 - F2| between the first and second half of the period —
    the distribution-free drift test (no binning choices to defend).

    Exactness: both empirical CDFs are ratios of exact cumulative
    integer counts evaluated at the same observed values; because the
    cumulative window runs over DISTINCT values (pre-aggregated per
    value), there are no peer-row ties and ROWS == RANGE in both
    engines.

    Scale shape: one shuffle onto (type, value) with map-side
    partials, a window ordered within the type partition (state is
    two running ints), and a type-sized max. sup|F1-F2| is attained
    at an observed point, so evaluating at distinct values is exact —
    cost is O(distinct values), not O(rows)."""
    t = load_tables(spark, sf_dir, ("events",))
    lab = t["events"].select(
        "event_type",
        "value",
        F.when(F.unix_micros("ts") < _SPLIT_US, 1).otherwise(2).alias("g"),
    )
    n = lab.groupBy("event_type").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    v = lab.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("c2"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = v.select(
        "event_type",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    d = cdf.join(F.broadcast(n), "event_type").select(
        "event_type",
        "n1",
        "n2",
        F.abs(
            F.col("cum1").cast("double") / F.col("n1").cast("double")
            - F.col("cum2").cast("double") / F.col("n2").cast("double")
        ).alias("d"),
    )
    return d.groupBy("event_type", "n1", "n2").agg(
        F.max("d").alias("ks_stat")
    )


@query(
    "robust_zscore",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m ON m.event_type = e.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_type, MIN(m.med) AS med, MIN(d.mad) AS mad,
           CAST(COUNT(CASE WHEN d.mad > 0
                 AND abs(0.6745 * (e.value - m.med) / d.mad) > 3.5
                 THEN 1 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e
    JOIN med m ON m.event_type = e.event_type
    JOIN mad d ON d.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier counting (Iglewicz–Hoaglin modified
    z-score, |0.6745·(x−med)/MAD| > 3.5) — the robust twin of
    events_anomaly's mean/σ test: one whale event shifts a mean and
    inflates σ enough to hide itself; the median and MAD barely move,
    so this flags what the 2σ test masks.

    Exactness: both medians use the shared percentile interpolation;
    the z expression is IEEE-identical arithmetic on identical
    doubles; counts are exact integers. MAD = 0 (constant-valued
    groups) yields zero outliers rather than a divide-by-zero.

    Scale shape: two percentile passes on the bounded type key space
    (the second over |x − med| with the medians broadcast), then one
    conditional count with the tiny stats broadcast back. Unbounded
    key spaces swap in approx_percentile, as value_quartiles
    documents."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias(
                "mad"
            )
        )
    )
    z_bad = (F.col("mad") > 0) & (
        F.abs(
            F.lit(0.6745)
            * (F.col("value") - F.col("med"))
            / F.col("mad")
        )
        > 3.5
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count(F.when(z_bad, F.lit(1))).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


_PSI_FRACS = tuple(i / 10 for i in range(1, 10))  # decile fences


def _psi_oracle() -> str:
    fence_cols = ", ".join(
        f"quantile_cont(value, {f}) AS f{i}"
        for i, f in enumerate(_PSI_FRACS, 1)
    )
    bin_expr = " + ".join(
        f"CASE WHEN e.value >= r.f{i} THEN 1 ELSE 0 END"
        for i in range(1, len(_PSI_FRACS) + 1)
    )
    p1, p2 = (
        f"((CAST(c{g} AS DOUBLE) + 0.5) / (CAST(t{g} AS DOUBLE) + 5.0))"
        for g in (1, 2)
    )
    return f"""
    WITH ref AS (
      SELECT event_type, {fence_cols}
      FROM events WHERE epoch_us(ts) < {_SPLIT_US}
      GROUP BY event_type
    ),
    binned AS (
      SELECT e.event_type,
             CASE WHEN epoch_us(e.ts) < {_SPLIT_US} THEN 1 ELSE 2 END AS g,
             ({bin_expr}) AS bin
      FROM events e JOIN ref r ON r.event_type = e.event_type
    ),
    counts AS (
      SELECT event_type, bin,
             SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS c2
      FROM binned GROUP BY event_type, bin
    ),
    tot AS (
      SELECT event_type, CAST(SUM(c1) AS BIGINT) AS t1,
             CAST(SUM(c2) AS BIGINT) AS t2
      FROM counts GROUP BY event_type
    ),
    terms AS (
      SELECT c.event_type,
             ({p2} - {p1}) * ({o_fixed(f'ln({p2} / {p1})', 6)}) AS term
      FROM counts c JOIN tot t ON t.event_type = c.event_type
    )
    SELECT event_type,
           {o_dsum('term', 9)} AS psi
    FROM terms GROUP BY event_type
    """


@query("psi_drift", oracle=_psi_oracle())
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type: second-half value
    distribution vs first-half decile bins — the binned drift score
    credit-risk/model-ops teams alert on (rule of thumb: > 0.1 watch,
    > 0.25 act). Complements ks_drift: PSI weights WHERE the mass
    moved; KS only reports the largest gap.

    Exactness: fences are first-half exact deciles (shared
    interpolation); bin assignment is a sum of >= comparisons against
    identical fence doubles; proportions use +0.5/+5 Laplace
    smoothing so empty bins stay finite; the per-bin ln is 6dp-masked
    and the 10-term sum is fixed-point so bin arrival order cannot
    change it.

    Scale shape: fences on the bounded type key space broadcast back
    onto one scan; counts land on the types×10 key space with
    map-side partials; everything downstream is tiny."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    first_half = F.unix_micros("ts") < _SPLIT_US
    ref = (
        ev.where(first_half)
        .groupBy("event_type")
        .agg(
            *[
                F.percentile("value", f).alias(f"f{i}")
                for i, f in enumerate(_PSI_FRACS, 1)
            ]
        )
    )
    bin_col = sum(
        F.when(F.col("value") >= F.col(f"f{i}"), 1).otherwise(0)
        for i in range(1, len(_PSI_FRACS) + 1)
    )
    binned = ev.join(F.broadcast(ref), "event_type").select(
        "event_type",
        F.when(first_half, 1).otherwise(2).alias("g"),
        bin_col.alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0)).alias("c2"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c1").cast("long").alias("t1"),
        F.sum("c2").cast("long").alias("t2"),
    )
    p1 = (F.col("c1").cast("double") + 0.5) / (F.col("t1").cast("double") + 5.0)
    p2 = (F.col("c2").cast("double") + 0.5) / (F.col("t2").cast("double") + 5.0)
    term = (p2 - p1) * fixed(F.log(p2 / p1), 6)
    return (
        counts.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(dsum(term, 9).alias("psi"))
    )
