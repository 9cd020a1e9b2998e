"""Extended relational coverage: semi/anti joins, rollup, set ops,
argmin-per-group, correlated aggregates, HAVING, string/JSON functions
— the rest of the SQL surface a reference user reaches through DuckDB.

Same determinism contract as core/analytics (registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_flow_spark.functions.mat import materialize_once
from sql_flow_spark.registry import (
    O_TS_STR,
    dsum,
    fixed,
    o_dsum,
    o_fixed,
    o_ols_fit,
    o_scaled_int,
    ols_fit,
    query,
    scaled_int,
    ts_str,
)
from sql_flow_spark.tables import load_tables

_REVENUE = "l_extendedprice * (1 - l_discount)"


def _revenue_col() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))


@query(
    "q6_selective_agg",
    oracle=f"""
    SELECT {o_dsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_selective_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: highly selective scan-and-aggregate — the pushdown
    showcase. All four predicates reach the parquet reader; no shuffle
    at all (single global aggregate)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q4_semi_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: EXISTS -> left-semi join (no row multiplication, the
    probe side streams). Shuffles only on orderkey."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "anti_join_inactive",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_inactive
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def anti_join_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders: NOT EXISTS -> left-anti join."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    return (
        t["customer"]
        .join(
            t["orders"].select("o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive"))
    )


@query(
    "rollup_regional_sales",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           {o_dsum('c_acctbal')} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_regional_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total) in one
    pass — Spark expands grouping sets without rescanning."""
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
    )


@query(
    "set_ops_custkeys",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def set_ops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set semantics (dedup built in)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    rich = t["customer"].where(F.col("c_acctbal") > 5000).select("c_custkey")
    big = t["orders"].where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    building = t["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return rich.intersect(big).exceptAll(building).distinct()


@query(
    "argmin_cheapest_part",
    oracle="""
    SELECT p_type, p_partkey AS cheapest_partkey, p_retailprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY p_type ORDER BY p_retailprice, p_partkey) AS rn
      FROM part
    )
    WHERE rn = 1
    """,
)
def argmin_cheapest_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin-per-group (TPC-H Q2's min-cost-supplier pattern) via
    window row_number — single shuffle, no join-back."""
    t = load_tables(spark, sf_dir, ("part",))
    w = Window.partitionBy("p_type").orderBy("p_retailprice", "p_partkey")
    return (
        t["part"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_type", F.col("p_partkey").alias("cheapest_partkey"), "p_retailprice")
    )


@query(
    "q17_below_avg_quantity",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey AS pk,
             {o_dsum('l_quantity')} / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_small_orders,
           {o_dsum('l_extendedprice')} AS total_price
    FROM lineitem JOIN part_avg ON l_partkey = pk
    WHERE l_quantity < 0.5 * avg_qty
    """,
)
def q17_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate (TPC-H Q17 shape): per-key average joined
    back to the detail rows. Both sides shuffle once on partkey; the
    average is fixed-point-exact so the 0.5*avg comparison is
    engine-identical."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (dsum("l_quantity") / F.count("l_quantity").cast("double")).alias("avg_qty")
    )
    return (
        li.join(part_avg, F.col("l_partkey") == F.col("pk"))
        .where(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            F.count("*").alias("n_small_orders"),
            dsum("l_extendedprice").alias("total_price"),
        )
    )


@query(
    "having_filter",
    oracle=f"""
    SELECT l_suppkey, COUNT(*) AS n_items, {o_dsum(_REVENUE)} AS revenue
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING (post-aggregation predicate)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_items"),
            dsum(_revenue_col()).alias("revenue"),
        )
        .where(F.col("n_items") > 100)
    )


@query(
    "string_ops",
    oracle="""
    SELECT
      p_partkey,
      upper(p_brand) AS brand_upper,
      substr(p_type, 1, 8) AS type_prefix,
      length(p_name) AS name_len,
      replace(p_name, ' ', '_') AS name_snake,
      CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass,
      lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
)
def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface (upper/substr/length/replace/like/lpad)
    — all codegen expressions."""
    t = load_tables(spark, sf_dir, ("part",))
    return t["part"].select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 8).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.when(F.col("p_type").like("%BRASS%"), 1).otherwise(0).alias("is_brass"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@query(
    "distinct_users_per_type",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count (expands to a two-phase aggregate). The
    approximate scale path is approx_distinct_users."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@query("approx_distinct_users")  # HLL sketch values are engine-specific
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB path for
    cardinality — mergeable sketches, no exact-distinct shuffle
    explosion. Deterministic for fixed input, engine-specific values ->
    rows-only check."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
    )


@query(
    "cube_order_stats",
    oracle=f"""
    SELECT
      o_orderstatus,
      o_orderpriority,
      COUNT(*) AS n_orders,
      {o_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations in one pass)."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "user_first_last_event",
    oracle=f"""
    SELECT
      user_id,
      first(event_type ORDER BY ts, event_id) AS first_event,
      first(event_type ORDER BY ts DESC, event_id DESC) AS last_event,
      {O_TS_STR.format(expr='min(ts)')} AS first_ts,
      {O_TS_STR.format(expr='max(ts)')} AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def user_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event per user with a total order — min_by/max_by
    style ordered aggregation (one shuffle, no window needed)."""
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    # total order via (ts, event_id): pack into a sortable struct
    key = F.struct(F.col("ts"), F.col("event_id"))
    return e.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_event"),
        F.max_by("event_type", key).alias("last_event"),
        ts_str(F.min("ts")).alias("first_ts"),
        ts_str(F.max("ts")).alias("last_ts"),
    )


@query(
    "above_global_avg_customers",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_rich
    FROM customer
    WHERE c_acctbal > (
      SELECT {o_dsum('c_acctbal')} / CAST(COUNT(c_acctbal) AS DOUBLE) FROM customer
    )
    GROUP BY c_mktsegment
    """,
)
def above_global_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery comparison against a global aggregate: the
    average is computed once (tiny, broadcast as a literal-like join),
    not per row. Fixed-point avg so the > comparison is
    engine-identical."""
    t = load_tables(spark, sf_dir, ("customer",))
    c = t["customer"]
    avg_df = c.agg(
        (dsum("c_acctbal") / F.count("c_acctbal").cast("double")).alias("global_avg")
    )
    return (
        c.join(F.broadcast(avg_df))
        .where(F.col("c_acctbal") > F.col("global_avg"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_rich"))
    )


@query(
    "events_histogram",
    oracle=f"""
    SELECT
      CAST(floor(value / 50.0) AS BIGINT) AS bucket,
      COUNT(*) AS n,
      {o_dsum('value')} AS bucket_value
    FROM events
    GROUP BY CAST(floor(value / 50.0) AS BIGINT)
    """,
)
def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor-bucketing (pure IEEE ops, so the
    bucket assignment is engine-identical)."""
    t = load_tables(spark, sf_dir, ("events",))
    bucket = F.floor(F.col("value") / F.lit(50.0)).cast("long")
    return (
        t["events"]
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"), dsum("value").alias("bucket_value"))
    )


@query(
    "user_event_types",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), '|') AS event_types,
           CAST(len(list(DISTINCT event_type)) AS INTEGER) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_set) with a deterministic sort.
    The sorted set is emitted as a '|'-joined STRING (not array<string>)
    so downstream comparators that canonicalize rows via hashing/sorting
    can treat the column as a plain scalar."""
    t = load_tables(spark, sf_dir, ("events",))
    types = F.array_sort(F.collect_set("event_type"))
    return (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.array_join(types, "|").alias("event_types"),
            F.size(types).alias("n_types"),
        )
    )


@query(
    "orders_by_date_parts",
    oracle="""
    SELECT
      CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
      CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
      CAST(EXTRACT(dow FROM o_orderdate) AS INTEGER) AS dow,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def orders_by_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction: year/month/day-of-week grouping. DOW is
    normalized to DuckDB's 0=Sunday convention (Spark's dayofweek is
    1=Sunday)."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            (F.dayofweek("o_orderdate") - 1).alias("dow"),
        )
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "events_running_totals",
    oracle=f"""
    SELECT
      user_id,
      event_id,
      CAST(ROW_NUMBER() OVER w AS INTEGER) AS seq,
      {o_dsum('value', over='w')} AS running_value,
      epoch_us(ts) - epoch_us(lag(ts) OVER w) AS micros_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: running fixed-point-exact sum + lag deltas per
    user ordered by event time. One shuffle on user_id serves all
    three window functions."""
    t = load_tables(spark, sf_dir, ("events",))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = dsum("value", over=w)
    micros_prev = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    return t["events"].select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("int").alias("seq"),
        running.alias("running_value"),
        micros_prev.alias("micros_since_prev"),
    )


@query(
    "part_price_rank",
    oracle="""
    SELECT
      p_partkey,
      p_type,
      CAST(RANK() OVER w AS INTEGER) AS price_rank,
      CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
      PERCENT_RANK() OVER w AS pct_rank
    FROM part
    WINDOW w AS (PARTITION BY p_type ORDER BY p_retailprice, p_partkey)
    """,
)
def part_price_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function surface: rank, ntile, percent_rank (the latter
    is (rank-1)/(n-1) in both engines — integer-derived doubles)."""
    t = load_tables(spark, sf_dir, ("part",))
    w = Window.partitionBy("p_type").orderBy("p_retailprice", "p_partkey")
    return t["part"].select(
        "p_partkey",
        "p_type",
        F.rank().over(w).cast("int").alias("price_rank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


@query("value_percentiles")  # interpolation formulas differ per engine
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type (single-pass sort-based
    aggregate). Engines interpolate quantiles with different
    expression forms -> rows-only check; the scale path would be
    approx_percentile (t-digest-like sketch)."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.95).alias("p95"),
            F.approx_percentile("value", 0.95, 1000).alias("p95_approx"),
        )
    )


@query(
    "value_quartiles",
    oracle="""
    SELECT
      event_type,
      quantile_cont(value, 0.25) AS p25,
      quantile_cont(value, 0.5) AS p50,
      quantile_cont(value, 0.75) AS p75,
      quantile_cont(value, 0.9) AS p90,
      quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
    FROM events
    GROUP BY event_type
    """,
)
def value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles + IQR per event type, oracle-verified: Spark's
    `percentile` and DuckDB's `quantile_cont` both interpolate as
    lower + (upper - lower) * frac in IEEE doubles, so the outputs are
    bit-identical (verified at sf0.001 and sf0.01 across four
    fractions — value_percentiles stays rows-only only because it also
    emits the engine-specific approx sketch).

    Scale note: exact percentile aggregates buffer per-group value
    multisets, so memory is bounded by per-key cardinality — fine for
    bounded key spaces like event_type; for unbounded keys at 100 TB
    use the approx_percentile sketch path (value_percentiles)."""
    t = load_tables(spark, sf_dir, ("events",))
    q = lambda f: F.percentile("value", f)  # noqa: E731
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            q(0.25).alias("p25"),
            q(0.5).alias("p50"),
            q(0.75).alias("p75"),
            q(0.9).alias("p90"),
            (q(0.75) - q(0.25)).alias("iqr"),
        )
    )


@query(
    "json_props_stats",
    oracle=f"""
    SELECT
      event_type,
      {o_dsum("CAST(json_extract_string(props, '$.k') AS INTEGER)")} AS sum_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction feeding aggregates (the reference's
    semi-structured bread-and-butter: every kafka payload is JSON)."""
    t = load_tables(spark, sf_dir, ("events",))
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            dsum(k.cast("double")).alias("sum_k"),
            F.max(k).cast("int").alias("max_k"),
        )
    )


@query(
    "events_anomaly",
    oracle="""
    WITH s AS (
      SELECT event_id, event_type, value,
             CAST(floor(value * 10000.0 + 0.5) AS HUGEINT) AS xs
      FROM events
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(xs) AS sx, SUM(xs * xs) AS sq
      FROM s GROUP BY event_type
    )
    SELECT event_id, s.event_type, value,
      floor(CAST(n * xs - sx AS DOUBLE)
            / sqrt(CAST(n * sq - sx * sx AS DOUBLE))
            * 1000000.0 + 0.5) / 1000000.0 AS zscore
    FROM s JOIN st ON s.event_type = st.event_type
    WHERE (n * xs - sx) * (n * xs - sx) > 4 * (n * sq - sx * sx)
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type outlier detection: events whose value sits more
    than two standard deviations from their type's mean, with the
    z-score. The moment arithmetic is EXACT: values are floor-scaled
    to integers, so n, Σx and Σx² are integers (int128 in DuckDB,
    DECIMAL(38,0) in Spark) and the 2σ test — (n·x−Σx)² > 4(n·Σx²−
    (Σx)²), the z>2 inequality multiplied through by n² — is an exact
    integer comparison that cannot flip a borderline event between
    engines. The reported z-score divides the same exact integers in
    DOUBLE (sqrt is correctly rounded per IEEE 754) and is 6dp
    fixed-point rounded like every cross-engine real-valued score.

    Scale shape: one groupBy(event_type) with map-side partials
    produces a HANDFUL of stat rows (one per type) that broadcast back
    onto the event scan — no second pass over sorted data, no window
    over the whole table. Headroom: n·Σx² stays under DECIMAL(38)'s
    1e38 up to ~1e12 rows/type at this value range; beyond that lower
    the fixed-point scale (1e2) — ANSI mode fails loudly on overflow
    rather than corrupting, so the limit is explicit."""
    t = load_tables(spark, sf_dir, ("events",))
    xs = scaled_int("value")
    s = t["events"].select("event_id", "event_type", "value", xs.alias("xs"))
    st = s.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("xs").alias("sx"),
        F.sum(F.col("xs") * F.col("xs")).alias("sq"),
    )
    dev = F.col("n") * F.col("xs") - F.col("sx")
    var_n2 = F.col("n") * F.col("sq") - F.col("sx") * F.col("sx")
    zscore = fixed(dev.cast("double") / F.sqrt(var_n2.cast("double")), 6)
    return (
        s.join(F.broadcast(st), "event_type")
        .where(dev * dev > F.lit(4) * var_n2)
        .select("event_id", "event_type", "value", zscore.alias("zscore"))
    )


@query(
    "customer_rfm",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
               AS last_order_day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {o_dsum('o_totalprice')} AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           last_order_day, n_orders, monetary,
           CAST(r AS INTEGER) AS r,
           CAST(f AS INTEGER) AS f,
           CAST(m AS INTEGER) AS m,
           CAST(r * 100 + f * 10 + m AS INTEGER) AS rfm
    FROM (
      SELECT *,
        ntile(4) OVER (ORDER BY last_order_day DESC, o_custkey) AS r,
        ntile(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f,
        ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
      FROM per
    )
    """,
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (last order day),
    frequency (order count) and monetary (exact revenue sum), each
    quartiled with ntile over a TOTAL order (metric desc, custkey) so
    bucket assignment is identical in both engines; quartile 1 is the
    best on every axis and rfm = r·100 + f·10 + m is the usual segment
    code.

    Scale shape: one fact groupBy onto customer cardinality; the three
    ntiles are global sorts over the aggregated (small) customer set —
    at 100 TB swap for percentile-threshold bucketing (two passes, no
    global sort), same outputs at quartile granularity."""
    t = load_tables(spark, sf_dir, ("orders",))
    per = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            F.max(F.expr("unix_micros(o_orderdate) div 86400000000"))
            .cast("long")
            .alias("last_order_day"),
            F.count("*").cast("long").alias("n_orders"),
            dsum("o_totalprice").alias("monetary"),
        )
    )
    from pyspark.sql.window import Window as W

    r = F.ntile(4).over(
        W.orderBy(F.col("last_order_day").desc(), F.col("o_custkey"))
    )
    f = F.ntile(4).over(
        W.orderBy(F.col("n_orders").desc(), F.col("o_custkey"))
    )
    m = F.ntile(4).over(
        W.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    )
    return per.select(
        "o_custkey",
        "last_order_day",
        "n_orders",
        "monetary",
        r.cast("int").alias("r"),
        f.cast("int").alias("f"),
        m.cast("int").alias("m"),
        (r * 100 + f * 10 + m).cast("int").alias("rfm"),
    )


@query(
    "revenue_yoy",
    oracle=f"""
    WITH yearly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
             {o_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY EXTRACT(year FROM o_orderdate)
    )
    SELECT o_year, revenue,
           lag(revenue) OVER (ORDER BY o_year) AS prev_revenue,
           CASE WHEN lag(revenue) OVER (ORDER BY o_year) > 0 THEN
             (revenue - lag(revenue) OVER (ORDER BY o_year))
               / lag(revenue) OVER (ORDER BY o_year)
           END AS yoy_growth
    FROM yearly
    """,
)
def revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: lag over the aggregated yearly
    series. The yearly sums are fixed-point exact, so the growth ratio
    divides two engine-identical doubles; the first year's growth is
    NULL (no prior), as is any year after a zero-revenue year.

    Scale shape: one fact groupBy onto a handful of year rows; the lag
    window runs on that tiny series (single partition by design — the
    series is the small output, not the data)."""
    t = load_tables(spark, sf_dir, ("orders",))
    yearly = (
        t["orders"]
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "o_year",
        "revenue",
        prev.alias("prev_revenue"),
        F.when(prev > 0, (F.col("revenue") - prev) / prev).alias(
            "yoy_growth"
        ),
    )


@query(
    "revenue_share_by_priority",
    oracle=f"""
    WITH per AS (
      SELECT o_orderpriority,
             {o_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, revenue,
           revenue / ({o_dsum('revenue', over='()')}) AS revenue_share
    FROM per
    """,
)
def revenue_share_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each priority's share of total revenue via an
    unpartitioned window over the aggregated rows. A bare
    SUM(revenue) OVER () would re-sum DOUBLEs in engine-dependent
    order (measured: last-ulp share differences); instead the window
    total re-scales each exact 4dp revenue back to its integer and
    sums decimals — order-insensitive, so the share division is
    engine-identical.

    Scale shape: one fact groupBy onto the 5-key priority space; the
    share window runs on 5 rows."""
    t = load_tables(spark, sf_dir, ("orders",))
    per = (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy()
    total = dsum("revenue", over=w)
    return per.select(
        "o_orderpriority",
        "revenue",
        (F.col("revenue") / total).alias("revenue_share"),
    )


@query(
    "orders_monthly_seasonality",
    oracle=f"""
    WITH per AS (
      SELECT CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS o_month,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {o_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY EXTRACT(month FROM o_orderdate)
    )
    SELECT o_month, n_orders, revenue,
           CAST(n_orders AS DOUBLE)
             / CAST(SUM(n_orders) OVER () AS DOUBLE) AS order_share
    FROM per
    """,
)
def orders_monthly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality profile: order counts, exact revenue,
    and each month's share of total orders (integer counts divided —
    order-safe window sum, no double re-summing hazard).

    Scale shape: one fact groupBy onto 12 keys; the share window runs
    on 12 rows."""
    t = load_tables(spark, sf_dir, ("orders",))
    per = (
        t["orders"]
        .groupBy(F.month("o_orderdate").cast("int").alias("o_month"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )
    w = Window.partitionBy()
    return per.select(
        "o_month",
        "n_orders",
        "revenue",
        (
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(w).cast("double")
        ).alias("order_share"),
    )


@query(
    "events_equidepth_histogram",
    oracle="""
    WITH th AS (
      SELECT quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.5) AS q2,
             quantile_cont(value, 0.75) AS q3
      FROM events
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM (
      SELECT value,
        CASE WHEN value <= q1 THEN 0
             WHEN value <= q2 THEN 1
             WHEN value <= q3 THEN 2
             ELSE 3 END AS bucket
      FROM events, th
    )
    GROUP BY bucket
    """,
)
def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile-boundary) histogram: exact quartile
    thresholds — proven bit-identical across engines (value_quartiles)
    — broadcast back onto the scan, each value binned by the same
    IEEE comparisons, per-bucket counts and exact min/max. The
    equi-depth recipe behind optimizer statistics and feature binning.

    Scale shape: the threshold row is a one-row aggregate broadcast;
    binning is a narrow map; the final agg lands on 4 keys with
    map-side partials. Exact global percentile does buffer the value
    multiset once — swap approx_percentile in for unbounded domains."""
    t = load_tables(spark, sf_dir, ("events",))
    e = t["events"]
    th = e.agg(
        F.percentile("value", 0.25).alias("q1"),
        F.percentile("value", 0.5).alias("q2"),
        F.percentile("value", 0.75).alias("q3"),
    )
    bucket = (
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        e.join(F.broadcast(th))
        .select("value", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@query(
    "orders_open_backlog",
    oracle="""
    WITH spans AS (
      SELECT o_orderkey,
             epoch_us(o_orderdate) // 86400000000 AS open_day,
             MAX(epoch_us(l_shipdate) // 86400000000) AS close_day
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderkey, epoch_us(o_orderdate) // 86400000000
    ),
    deltas AS (
      SELECT open_day AS day, 1 AS delta FROM spans
      UNION ALL
      SELECT close_day + 1 AS day, -1 FROM spans
    ),
    daily AS (
      SELECT day, CAST(SUM(delta) AS BIGINT) AS net
      FROM deltas GROUP BY day
    )
    SELECT day,
           net,
           CAST(SUM(net) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS open_orders
    FROM daily
    """,
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting: how many orders are OPEN (ordered
    but not fully shipped) on each day — the sweep-line +1/-1 trick
    that turns interval overlap into a running integer sum, the shape
    behind concurrency/backlog/occupancy analytics. Exact integers end
    to end.

    Scale shape: one orders<->lineitem shuffle on orderkey to find
    each order's last shipment; the deltas collapse to day granularity
    with map-side partials (days ≪ orders); the running sum is a
    window over the small daily series. Never materializes an
    order × day matrix — that is the trap this shape exists to
    avoid."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    day = lambda c: F.expr(f"unix_micros({c}) div 86400000000")  # noqa: E731
    spans = (
        t["orders"]
        .join(
            t["lineitem"],
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", day("o_orderdate").alias("open_day"))
        .agg(F.max(day("l_shipdate")).alias("close_day"))
    )
    deltas = spans.select(
        F.col("open_day").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            (F.col("close_day") + 1).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = deltas.groupBy("day").agg(
        F.sum("delta").cast("long").alias("net")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "net",
        F.sum("net").over(w).cast("long").alias("open_orders"),
    )


@query(
    "part_copurchase_topk",
    oracle="""
    SELECT a.l_partkey AS part_a,
           b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def part_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often
    bought in the same order — the classic association-mining prep.
    The pair explosion happens WITHIN an order (self-join on orderkey,
    a < b), so output is bounded by sum(lines_per_order choose 2) —
    linear in orders for bounded basket sizes, never all-parts².
    Deterministic top-k via the (count desc, a, b) total order.

    Scale shape: the pairs are graph.basket_pairs (one reused orderkey
    exchange for both sides), pair counts partial-agg on the (a, b) key
    space, top-20 is TakeOrderedAndProject. A pathologic giant basket
    is the skew risk — cap basket size upstream as LSH caps band
    buckets."""
    from sql_flow_spark.operators.graph import basket_pairs

    return (
        basket_pairs(spark, sf_dir)
        .groupBy(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "copurchase_lift",
    oracle="""
    WITH pk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM pk),
    item AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
             FROM pk GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM pk a JOIN pk b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, n_ab,
           CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
           CAST(n_ab AS DOUBLE) / CAST(ia.n AS DOUBLE) AS confidence,
           CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
             / (CAST(ia.n AS DOUBLE) * CAST(ib.n AS DOUBLE)) AS lift
    FROM pairs
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN tot
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association metrics over the co-purchase pairs: support,
    confidence P(b|a), and lift — the top-20 part pairs bought
    together more than chance predicts. All three divide exact
    integer counts in DOUBLE with identical expression trees, so
    ordering by lift is engine-identical (plus the total tiebreak).

    Scale shape: item counts over graph.order_parts, pairs from
    graph.basket_pairs (linear, basket-bounded); the item-count dim is
    part-cardinality and joins back by broadcast; the total is a
    one-row cross join."""
    from sql_flow_spark.operators.graph import basket_pairs, order_parts

    pk = order_parts(load_tables(spark, sf_dir, ("lineitem",))["lineitem"])
    tot = pk.agg(
        F.count_distinct("l_orderkey").cast("long").alias("n_orders")
    )
    item = pk.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n")
    )
    pairs = (
        basket_pairs(spark, sf_dir)
        .groupBy(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .agg(F.count("*").cast("long").alias("n_ab"))
    )
    ia = item.select(
        F.col("l_partkey").alias("ka"), F.col("n").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("kb"), F.col("n").alias("n_b")
    )
    d = F.col("n_ab").cast("double")
    return (
        pairs.join(F.broadcast(ia), F.col("part_a") == F.col("ka"))
        .join(F.broadcast(ib), F.col("part_b") == F.col("kb"))
        .join(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            (d / F.col("n_orders").cast("double")).alias("support"),
            (d / F.col("n_a").cast("double")).alias("confidence"),
            (
                d * F.col("n_orders").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "events_weekday_hour",
    oracle=f"""
    SELECT
      CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS INTEGER) AS dow,
      CAST((epoch_us(ts) % 86400000000) // 3600000000 AS INTEGER)
        AS hour,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      {o_dsum('value')} AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def events_weekday_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap (0 = Monday via the
    epoch-day + 4 mod 7 trick — pure integer arithmetic on epoch
    micros, so both engines bucket identically with no calendar/locale
    functions involved).

    Scale shape: one scan, map-side partials onto a 168-cell key
    space."""
    t = load_tables(spark, sf_dir, ("events",))
    # integer div, not double division + cast: a double quotient can
    # misround at bucket boundaries for large epoch values
    dow = (F.expr("unix_micros(ts) div 86400000000") + 4) % 7
    hour = F.expr("(unix_micros(ts) % 86400000000) div 3600000000")
    return (
        t["events"]
        .groupBy(
            dow.cast("int").alias("dow"), hour.cast("int").alias("hour")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            dsum("value").alias("value_sum"),
        )
    )


@query(
    "winsorized_stats",
    oracle=f"""
    WITH th AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           th.lo AS p05, th.hi AS p95,
           {o_dsum('LEAST(GREATEST(e.value, th.lo), th.hi)')}
             / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean,
           CAST(SUM(CASE WHEN e.value >= th.lo AND e.value <= th.hi
                    THEN {o_scaled_int('e.value')} ELSE 0 END) AS DOUBLE)
             / 10000.0
             / CAST(COUNT(CASE WHEN e.value >= th.lo AND e.value <= th.hi
                          THEN 1 END) AS DOUBLE) AS trimmed_mean,
           CAST(COUNT(CASE WHEN e.value < th.lo THEN 1 END) AS BIGINT)
             AS n_clipped_low,
           CAST(COUNT(CASE WHEN e.value > th.hi THEN 1 END) AS BIGINT)
             AS n_clipped_high
    FROM events e JOIN th ON e.event_type = th.event_type
    GROUP BY e.event_type, th.lo, th.hi
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type statistics: 5/95 winsorized mean (outliers
    clamped to the percentile fence) and trimmed mean (outliers
    dropped) plus clip counts — the metric-pipeline answer to heavy
    tails that wreck plain averages (one whale event shifting the
    mean). Exact percentile fences share Spark `percentile` /
    DuckDB `quantile_cont`'s lower+(upper-lower)*frac interpolation
    (the value_quartiles argument), clamped values are LEAST/GREATEST
    in IEEE doubles, and both means divide fixed-point-exact sums —
    engine-identical end to end.

    Scale shape: two passes over one scan — the fence agg buffers
    per-type value multisets (bounded key space; swap in
    approx_percentile for unbounded keys), then fences BROADCAST back
    (rows = event types) onto the second pass whose conditional sums
    partial-aggregate map-side."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    th = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("lo"),
        F.percentile("value", 0.95).alias("hi"),
    )
    e = ev.join(F.broadcast(th), "event_type")
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    in_fence = (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    return e.groupBy("event_type", "lo", "hi").agg(
        F.first("lo").alias("p05"),
        F.first("hi").alias("p95"),
        (dsum(clamped) / F.count(F.lit(1)).cast("double")).alias(
            "winsorized_mean"
        ),
        (
            F.sum(
                F.when(in_fence, scaled_int("value")).otherwise(
                    F.lit(0).cast("decimal(30,0)")
                )
            ).cast("double")
            / F.lit(10000.0)
            / F.count(F.when(in_fence, F.lit(1))).cast("double")
        ).alias("trimmed_mean"),
        F.count(F.when(F.col("value") < F.col("lo"), F.lit(1)))
        .cast("long")
        .alias("n_clipped_low"),
        F.count(F.when(F.col("value") > F.col("hi"), F.lit(1)))
        .cast("long")
        .alias("n_clipped_high"),
    ).drop("lo", "hi")


@query("sketch_rollup_distinct")  # rows-only: HLL estimates are
# implementation-specific (Apache DataSketches), no DuckDB analog;
# accuracy pinned in tests/test_approx_quality.py
def sketch_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counting: per-day HLL sketches
    (Apache DataSketches via hll_sketch_agg) UNIONED up to monthly
    distinct-user estimates — the sketch-rollup pattern that makes
    COUNT(DISTINCT) feasible at 100 TB: sketch once at ingest
    granularity (a day's raw events never rescanned), then answer any
    coarser range (month, quarter, rolling 28d) by merging
    kilobyte-sized sketches. An exact monthly COUNT(DISTINCT) must
    re-shuffle every raw event per query; the merge here moves
    days × 1.5 KB.

    Rows-only by design: the estimate depends on the DataSketches
    implementation (no DuckDB analog); the estimate-vs-exact relative
    error is pinned < 3% in tests/test_approx_quality.py, and
    approx_distinct_users pins the same discipline for the HLL++
    single-shot path.

    Scale shape: one shuffle onto (month, day) for the daily
    sketches (map-side partial sketch merge — sketches combine in the
    partial agg, raw user_ids never cross the wire twice), then a
    months-sized merge. lgConfigK=14 (default 12 would also do):
    ~0.8% RSE at 16 KB per sketch."""
    t = load_tables(spark, sf_dir, ("events",))
    daily = (
        t["events"]
        .select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .groupBy("month", "day")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    )
    return (
        daily.groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        )
    )


@query("theta_audience_overlap")  # rows-only: Theta estimates are
# implementation-specific (Apache DataSketches), no DuckDB analog;
# accuracy pinned in tests/test_approx_quality.py
def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types from Theta sketches
    (Apache DataSketches theta_sketch_agg + theta_intersection /
    theta_union / theta_difference): for every type pair, estimated
    |A|, |B|, |A AND B|, |A OR B|, |A NOT B| and the Jaccard overlap —
    the sketch SET-ALGEBRA pattern that HLL cannot do (HLL only
    unions). At 100 TB this answers "how many purchase users also saw
    an error" by combining kilobyte sketches, where the exact answer
    is a full re-shuffle of raw events per pair.

    Rows-only by design (same contract as sketch_rollup_distinct);
    estimate-vs-exact error is pinned < 5% for every pair measure in
    tests/test_approx_quality.py.

    Scale shape: ONE shuffle onto the bounded event_type key space
    builds the per-type sketches (raw user_ids cross the wire once,
    sketches combine in the map-side partial agg); the pair algebra
    runs on k x 4 KB binaries — a broadcast-sized self-join."""
    t = load_tables(spark, sf_dir, ("events",))
    sk = (
        t["events"]
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("ska"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("skb"))
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    inter = F.theta_sketch_estimate(
        F.theta_intersection(F.col("ska"), F.col("skb"))
    )
    union = F.theta_sketch_estimate(F.theta_union(F.col("ska"), F.col("skb")))
    return pairs.select(
        "type_a",
        "type_b",
        F.theta_sketch_estimate("ska").alias("est_a"),
        F.theta_sketch_estimate("skb").alias("est_b"),
        inter.alias("est_overlap"),
        union.alias("est_union"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("ska"), F.col("skb"))
        ).alias("est_a_only"),
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    ).orderBy("type_a", "type_b")


@query(
    "key_skew_report",
    oracle="""
    WITH kc AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rk
      FROM kc
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             quantile_cont(cnt, 0.5) AS median_cnt,
             quantile_cont(cnt, 0.99) AS p99_cnt,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM kc
    )
    SELECT t.n_rows, t.n_keys,
           CAST(t.n_rows AS DOUBLE) / CAST(t.n_keys AS DOUBLE) AS avg_cnt,
           t.median_cnt, t.p99_cnt, t.max_cnt,
           CAST(t.max_cnt AS DOUBLE) / (CAST(t.n_rows AS DOUBLE)
             / CAST(t.n_keys AS DOUBLE)) AS max_over_avg,
           (SELECT CAST(SUM(cnt) AS DOUBLE) FROM ranked WHERE rk <= 10)
             / CAST(t.n_rows AS DOUBLE) AS top10_share
    FROM tot t
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis for events.user_id — the
    measure-before-you-shuffle report behind every salting decision
    (plans/skew.py applies the fix; this operator quantifies the
    need): rows, distinct keys, average/median/p99/max per-key
    multiplicity, max/avg ratio (the straggler factor a plain hash
    shuffle would suffer), and the share of rows owned by the top-10
    keys (what a broadcast-the-hot-keys split would peel off).

    Exactness: counts exact; percentiles use the shared
    interpolation on exact integer counts; ratios are IEEE division.
    The top-10 share has a total (cnt, key) tiebreak order.

    Scale shape: one shuffle onto the key space with map-side
    partials, then single-row aggregates over key counts; the top-10
    is TakeOrderedAndProject-sized. The key-count table is the
    operator's own output domain — there is no cheaper way to know
    skew exactly; the approx twin (sketch quantiles over counts) is
    the documented swap when even key counts are too many."""
    t = load_tables(spark, sf_dir, ("events",))
    kc = (
        t["events"]
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    kc = materialize_once(kc)
    tot = kc.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.percentile("cnt", 0.5).alias("median_cnt"),
        F.percentile("cnt", 0.99).alias("p99_cnt"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    top10 = (
        kc.orderBy(F.col("cnt").desc(), "user_id")
        .limit(10)
        .agg(F.sum("cnt").cast("double").alias("top10_rows"))
    )
    avg = F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
    return tot.crossJoin(F.broadcast(top10)).select(
        "n_rows",
        "n_keys",
        avg.alias("avg_cnt"),
        "median_cnt",
        "p99_cnt",
        "max_cnt",
        (F.col("max_cnt").cast("double") / avg).alias("max_over_avg"),
        (F.col("top10_rows") / F.col("n_rows").cast("double")).alias(
            "top10_share"
        ),
    )


def ordered_scan(
    df: DataFrame, order: list, value: str | None = None, name: str = "rk"
) -> DataFrame:
    """``df`` plus column ``name``: a scan along the total order
    ``order`` — the 1-based global rank (LONG) when ``value`` is None,
    else the running sum of the DECIMAL(38,0) column ``value`` through
    the current row — without the one-task sort of a bare
    ``Window.orderBy``.

    Range-partition on ``order`` at the session's shuffle-partition
    count and tag ``spark_partition_id``: range partitions are
    contiguous in the sort order, so pid order is global order (an
    empty partition only adds no rows). ``materialize_once`` pins that
    one assignment for both consumers. Per-pid row counts (or DECIMAL
    sums) become offsets through an exclusive running sum over pid —
    the only unpartitioned window, over n_partitions rows — and the
    row_number (or running sum) within each pid is a parallel
    ``partitionBy("pid")`` window; offset + local is exact in both
    modes."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    tagged = materialize_once(
        df.repartitionByRange(n_part, *order).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    if value is None:
        typ, part, local = "long", F.count("*"), F.row_number()
    else:
        typ, part, local = "decimal(38,0)", F.sum(value), F.sum(value)
    offs = (
        tagged.groupBy("pid")
        .agg(part.cast(typ).alias("part"))
        .select(
            "pid",
            F.coalesce(
                F.sum("part").over(
                    Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast(typ),
            ).alias("off"),
        )
    )
    wp = (
        Window.partitionBy("pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("local", local.over(wp).cast(typ))
        .join(F.broadcast(offs), "pid")
        .select(*df.columns, (F.col("off") + F.col("local")).alias(name))
    )


def _customer_revenue(t: dict) -> DataFrame:
    """(o_custkey, xs): per-customer revenue as a 4dp fixed-point
    DECIMAL(38,0) sum over the orders-lineitem join."""
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum(scaled_int(_revenue_col())).cast("decimal(38,0)").alias("xs"))
    )


def _part_revenue(lineitem: DataFrame) -> DataFrame:
    """(l_partkey, xs): the per-part twin of ``_customer_revenue``."""
    return lineitem.groupBy("l_partkey").agg(
        F.sum(scaled_int(_revenue_col())).cast("decimal(38,0)").alias("xs")
    )


# The oracle twins of the two revenue aggregates, as CTE bodies.
_O_CUSTOMER_REVENUE = f"""SELECT o.o_custkey, SUM({o_scaled_int(_REVENUE)}) AS xs
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey"""
_O_PART_REVENUE = f"""SELECT l_partkey, SUM({o_scaled_int(_REVENUE)}) AS xs
      FROM lineitem GROUP BY l_partkey"""


@query(
    "gini_revenue",
    oracle=f"""
    WITH rev AS MATERIALIZED ({_O_CUSTOMER_REVENUE}),
    ranked AS (
      SELECT xs,
             CAST(ROW_NUMBER() OVER (ORDER BY xs, o_custkey) AS BIGINT) AS rk
      FROM rev
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xs) AS DECIMAL(38,0)) AS s0,
             CAST(SUM(rk * xs) AS DECIMAL(38,0)) AS s1
      FROM ranked
    )
    SELECT n AS n_customers,
           CAST(s0 AS DOUBLE) / 10000.0 AS total_revenue,
           {o_fixed('2.0 * CAST(s1 AS DOUBLE)'
                    ' / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE))'
                    ' - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)', 6)}
             AS gini
    FROM s
    """,
)
def gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the
    revenue-concentration gauge next to key_skew_report's join-skew
    view: 0 = every customer spends alike, ->1 = a whale oligopoly.
    Uses the exact rank formulation G = 2*Sum(i*x_(i))/(n*Sum(x)) -
    (n+1)/n over ascending-sorted revenues.

    Exactness: per-customer revenue goes through the 4dp fixed-point
    decimal sum (order-insensitive); ranks are total-ordered
    (revenue, custkey); Sum(rank*x) accumulates in DECIMAL(38,0) so it
    stays exact far past int64 at large SF; the coefficient is IEEE
    arithmetic on identical scalars, 6dp-masked at the boundary.

    Scale shape: fact-fact join shuffles on orderkey (AQE-salted if
    skewed) -> customer-keyed agg (customer-dim-sized output) -> the
    global rank is ``ordered_scan`` (distributed; no window over
    n_customers rows in one task). Moments are a single-row agg. The
    raw-fact stages never sort."""
    ranked = ordered_scan(
        _customer_revenue(load_tables(spark, sf_dir, ("orders", "lineitem"))),
        ["xs", "o_custkey"],
        name="rk",
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xs").cast("decimal(38,0)").alias("s0"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("xs"))
        .cast("decimal(38,0)")
        .alias("s1"),
    )
    nd = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("s1").cast("double") / (nd * F.col("s0").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    return s.select(
        F.col("n").alias("n_customers"),
        (F.col("s0").cast("double") / F.lit(10000.0)).alias("total_revenue"),
        fixed(gini, 6).alias("gini"),
    )


@query(
    "price_elasticity",
    oracle=f"""
    WITH pts AS (
      SELECT p.p_brand,
             {o_fixed('ln(l.l_extendedprice / l.l_quantity)', 6)} AS x,
             {o_fixed('ln(l.l_quantity)', 6)} AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0
    )
    SELECT p_brand, n, slope AS elasticity, r2
    FROM ({o_ols_fit('pts', by=('p_brand',))})
    """,
)
def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: grouped OLS of
    ln(quantity) on ln(unit price) over every order line — the
    log-log regression whose slope is the constant-elasticity
    estimate, the grouped-regression shape (zipf_fit is the global
    one). Joins the monitoring/stats family as the cross-measure
    response curve none of the single-column keys capture.

    Exactness: the unit price l_extendedprice/l_quantity is one IEEE
    division on identical doubles; both logs are 6dp floor-masked;
    the per-brand fit is ``registry.ols_fit``.

    Scale shape: broadcast the part dim onto the lineitem scan (no
    fact shuffle for the join), then ONE partial-agg shuffle on
    p_brand (bounded key count) for the fit's moments. Output is
    brand-sized."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    pts = (
        t["lineitem"]
        .where(F.col("l_quantity") > 0)
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
    )
    pts = pts.select(
        "p_brand",
        fixed(F.log(F.col("l_extendedprice") / F.col("l_quantity")), 6).alias("x"),
        fixed(F.log(F.col("l_quantity")), 6).alias("y"),
    )
    return ols_fit(pts, by=("p_brand",)).select(
        "p_brand", "n", F.col("slope").alias("elasticity"), "r2"
    )


_HHI_SCALE = 12  # fixed-point digits for share^2 terms


@query(
    "hhi_concentration",
    oracle=f"""
    WITH cust_rev AS (
      SELECT c.c_nationkey, o.o_custkey,
             SUM({o_scaled_int('o.o_totalprice')}) AS rev_dec
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    nat AS (
      SELECT c_nationkey, SUM(rev_dec) AS tot_dec,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM cust_rev GROUP BY c_nationkey
    ),
    shares AS (
      SELECT r.c_nationkey, t.n_customers,
             CAST(r.rev_dec AS DOUBLE) / CAST(t.tot_dec AS DOUBLE) AS share
      FROM cust_rev r JOIN nat t ON r.c_nationkey = t.c_nationkey
    )
    SELECT n.n_name AS nation, s.n_customers,
           {o_dsum('s.share * s.share', _HHI_SCALE)} * 10000.0 AS hhi,
           MAX(s.share) AS top_share
    FROM shares s JOIN nation n ON s.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, s.n_customers
    """,
)
def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman revenue-concentration index per nation:
    hhi = Σ_customers share² × 10000 (the antitrust scale: 10000 =
    monopoly, < 1500 ≈ unconcentrated) plus the single largest
    customer share — the "is this market one whale or many minnows"
    panel that complements gini_revenue (inequality of the same
    distribution) and key_skew_report (the partitioning view).

    Exactness: per-customer revenue is a DECIMAL fixed-point sum;
    shares divide two exact decimals cast to DOUBLE (bit-identical);
    each share² term is re-fixed-pointed to 12dp and DECIMAL-summed so
    the per-nation fold order cannot matter.

    Scale shape: aggregate-then-join twice — orders collapse onto
    o_custkey (one fact shuffle), join the customer dim co-keyed on
    custkey for the nation key, then collapse onto the 25-key nation
    space (map-side partial sums make the tiny-key shuffle move only
    partials, so nation-level skew never concentrates raw rows);
    nation names broadcast at the end."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    cust_rev = (
        t["orders"]
        .join(
            t["customer"],
            t["orders"]["o_custkey"] == t["customer"]["c_custkey"],
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(scaled_int("o_totalprice")).alias("rev_dec")
        )
    )
    nat = cust_rev.groupBy("c_nationkey").agg(
        F.sum("rev_dec").alias("tot_dec"),
        F.count("*").cast("long").alias("n_customers"),
    )
    shares = cust_rev.join(F.broadcast(nat), "c_nationkey").select(
        "c_nationkey",
        "n_customers",
        (
            F.col("rev_dec").cast("double") / F.col("tot_dec").cast("double")
        ).alias("share"),
    )
    return (
        shares.join(
            F.broadcast(t["nation"]),
            shares["c_nationkey"] == t["nation"]["n_nationkey"],
        )
        .groupBy(F.col("n_name").alias("nation"), "n_customers")
        .agg(
            (
                dsum(F.col("share") * F.col("share"), _HHI_SCALE) * F.lit(10000.0)
            ).alias("hhi"),
            F.max("share").alias("top_share"),
        )
    )


@query(
    "abc_classification",
    oracle=f"""
    WITH rev AS ({_O_PART_REVENUE}),
    tot AS (SELECT SUM(xs) AS tot FROM rev),
    cum AS (
      SELECT l_partkey, xs,
             SUM(xs) OVER (ORDER BY xs DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM rev
    ),
    cls AS (
      SELECT xs,
             CASE WHEN CAST(cum AS DOUBLE) / CAST(t.tot AS DOUBLE) <= 0.80
                    THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST(t.tot AS DOUBLE) <= 0.95
                    THEN 'B'
                  ELSE 'C' END AS abc_class,
             t.tot
      FROM cum CROSS JOIN tot t
    )
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(xs) AS DOUBLE) / 10000.0 AS revenue,
           CAST(SUM(xs) AS DOUBLE) / CAST(tot AS DOUBLE) AS revenue_share
    FROM cls GROUP BY abc_class, tot
    """,
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts sorted by revenue
    descending, class A = items inside the first 80% of cumulative
    revenue, B = to 95%, C = the long tail; output is the per-class
    summary (count, revenue, share) — the classic "20% of SKUs are
    80% of revenue" working-capital cut.

    Exactness: revenues are DECIMAL fixed-point sums; the cumulative
    sum is DECIMAL (exact, so class boundaries depend only on the
    (revenue DESC, partkey) total order, identical in both engines);
    boundary shares divide exact decimals as DOUBLE.

    Scale shape: the global cumulative sum is ``ordered_scan`` in
    DECIMAL-sum mode (distributed; no window over every part in one
    task). The class summary is a 3-key groupBy of map-side
    partials."""
    rev = _part_revenue(load_tables(spark, sf_dir, ("lineitem",))["lineitem"])
    tot = rev.agg(F.sum("xs").cast("decimal(38,0)").alias("tot"))
    cum = (
        ordered_scan(
            rev, [F.col("xs").desc(), F.col("l_partkey")], value="xs", name="cum"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "xs",
            "tot",
            (F.col("cum").cast("double") / F.col("tot").cast("double")).alias(
                "cshare"
            ),
        )
    )
    cls = F.when(F.col("cshare") <= 0.80, "A").when(
        F.col("cshare") <= 0.95, "B"
    ).otherwise("C")
    return (
        cum.groupBy(cls.alias("abc_class"), "tot")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            (F.sum("xs").cast("double") / F.lit(10000.0)).alias("revenue"),
            (
                F.sum("xs").cast("double") / F.col("tot").cast("double")
            ).alias("revenue_share"),
        )
        .select("abc_class", "n_parts", "revenue", "revenue_share")
    )


@query(
    "lorenz_curve_deciles",
    oracle=f"""
    WITH rev AS ({_O_CUSTOMER_REVENUE}),
    tot AS (
      SELECT SUM(xs) AS tot, CAST(COUNT(*) AS BIGINT) AS n FROM rev
    ),
    ranked AS (
      SELECT xs, ROW_NUMBER() OVER (ORDER BY xs, o_custkey) AS rk
      FROM rev
    ),
    dec AS (
      SELECT xs,
             CAST(floor(CAST((rk - 1) * 10 AS DOUBLE)
                  / CAST(t.n AS DOUBLE)) AS INTEGER) + 1 AS decile,
             t.tot
      FROM ranked CROSS JOIN tot t
    ),
    per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(xs) AS DOUBLE) / 10000.0 AS revenue,
             CAST(SUM(xs) AS DOUBLE) / CAST(tot AS DOUBLE) AS revenue_share
      FROM dec GROUP BY decile, tot
    )
    SELECT decile, n_customers, revenue, revenue_share,
           SUM(revenue_share) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_share
    FROM per
    """,
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution: customers sorted by revenue
    ascending, split into 10 equal-population deciles, each with its
    revenue share and the cumulative share — the PLOTTABLE companion
    to gini_revenue's single coefficient (gini is twice the area
    between this curve and the diagonal) and hhi_concentration's
    market view.

    Exactness: per-customer revenue is the same DECIMAL fixed-point
    sum as gini_revenue; decile assignment uses only the exact global
    rank (the (xs, custkey) total order) and integer/IEEE arithmetic
    identical in both engines; shares divide exact decimals. The
    cum_share window sums 10 doubles in decile order — sequential and
    identical both sides.

    Scale shape: the global rank is ``ordered_scan`` over
    gini_revenue's per-customer revenue frame; the only unpartitioned
    window left runs over the 10 decile rows."""
    rev = _customer_revenue(load_tables(spark, sf_dir, ("orders", "lineitem")))
    tot = rev.agg(
        F.sum("xs").cast("decimal(38,0)").alias("tot"),
        F.count("*").cast("long").alias("n"),
    )
    decile = (
        F.floor(
            ((F.col("rk") - F.lit(1)) * F.lit(10)).cast("double")
            / F.col("n").cast("double")
        ).cast("int")
        + F.lit(1)
    )
    dec = (
        ordered_scan(rev, ["xs", "o_custkey"], name="rk")
        .crossJoin(F.broadcast(tot))
        .select("xs", "tot", decile.alias("decile"))
    )
    per = dec.groupBy("decile", "tot").agg(
        F.count("*").cast("long").alias("n_customers"),
        (F.sum("xs").cast("double") / F.lit(10000.0)).alias("revenue"),
        (F.sum("xs").cast("double") / F.col("tot").cast("double")).alias(
            "revenue_share"
        ),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "decile",
        "n_customers",
        "revenue",
        "revenue_share",
        F.sum("revenue_share").over(wc).alias("cum_share"),
    )


_TRIPLE_TOP = 20


@query(
    "frequent_triples",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT p1, p2, p3, support, rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        ORDER BY support DESC, p1, p2, p3) AS INTEGER) AS rank
      FROM (
        SELECT b1.l_partkey AS p1, b2.l_partkey AS p2,
               b3.l_partkey AS p3, CAST(COUNT(*) AS BIGINT) AS support
        FROM b b1
        JOIN b b2 ON b1.l_orderkey = b2.l_orderkey
                 AND b1.l_partkey < b2.l_partkey
        JOIN b b3 ON b2.l_orderkey = b3.l_orderkey
                 AND b2.l_partkey < b3.l_partkey
        GROUP BY p1, p2, p3
      )
    )
    WHERE rank <= {_TRIPLE_TOP}
    """,
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 frequent 3-itemsets by basket support — the next rung of
    market-basket mining above part_copurchase_topk/copurchase_lift
    (pairs): which part TRIPLES co-occur in orders.

    The oracle states the definition as the classic triple self-join;
    the Spark plan instead collapses each order to its sorted distinct
    part array (the self-joins' co-partitioned shuffles collapse into
    ONE orderkey shuffle) and generates i<j<k combinations with nested
    array transforms — a narrow map emitting C(basket,3) rows per
    order, bounded because baskets are bounded (~7 parts), then one
    triple-keyed count with map-side combine. Identical exact counts,
    structurally different algorithm — the strongest kind of oracle.

    Scale shape: graph.order_parts, then the per-order collect in the
    same orderkey partitioning (the C(basket,3) explode is CPU-dense,
    hence the pin) + one shuffle onto the triple key space; top-20 is a distributed
    sort-limit with rank over the survivors. At 100 TB the triple
    space is the pressure point — map-side partial aggregation and
    the bounded-basket guarantee keep it a counting problem, and a
    support-threshold HAVING slots in before the sort for true
    Apriori-style pruning."""
    from sql_flow_spark.operators.graph import order_parts

    b = order_parts(load_tables(spark, sf_dir, ("lineitem",))["lineitem"])
    arr = b.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("a")
    ).where(F.size("a") >= 3)
    n = F.size("a")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.flatten(
                F.transform(
                    F.sequence(i + 1, n - 2),
                    lambda j: F.transform(
                        F.sequence(j + 1, n - 1),
                        lambda k: F.struct(
                            F.element_at("a", i + 1).alias("p1"),
                            F.element_at("a", j + 1).alias("p2"),
                            F.element_at("a", k + 1).alias("p3"),
                        ),
                    ),
                )
            ),
        )
    )
    triples = (
        arr.select(F.explode(combos).alias("t"))
        .select("t.p1", "t.p2", "t.p3")
        .groupBy("p1", "p2", "p3")
        .agg(F.count("*").cast("long").alias("support"))
    )
    head = triples.orderBy(
        F.col("support").desc(), "p1", "p2", "p3"
    ).limit(_TRIPLE_TOP)
    w = Window.orderBy(F.col("support").desc(), "p1", "p2", "p3")
    return head.withColumn("rank", F.row_number().over(w).cast("int"))


@query(
    "weighted_median_price",
    oracle=f"""
    WITH w AS ({_O_PART_REVENUE}),
    pts AS (
      SELECT p.p_partkey, p.p_retailprice AS price, w.xs
      FROM w JOIN part p ON p.p_partkey = w.l_partkey
    ),
    tot AS (SELECT SUM(xs) AS tot, CAST(COUNT(*) AS BIGINT) AS n FROM pts),
    cum AS (
      SELECT price, xs,
             SUM(xs) OVER (ORDER BY price, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      FROM pts
    )
    SELECT t.n AS n_parts,
           CAST(t.tot AS DOUBLE) / 10000.0 AS total_weight,
           MIN(c.price) AS weighted_median_price
    FROM cum c CROSS JOIN tot t
    WHERE c.cw * 2 >= t.tot
    GROUP BY t.n, t.tot
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median part price: the price point splitting
    total revenue in half — "half our revenue comes from parts priced
    at or below X", which the unweighted median (value_quartiles'
    family) gets wrong whenever expensive parts dominate revenue. The
    weighted-quantile shape: sort by value, accumulate weights, take
    the first crossing.

    Exactness: weights are DECIMAL fixed-point revenue sums, the
    cumulative weight is DECIMAL (exact under the (price, partkey)
    total order), and the crossing test cw·2 ≥ tot is an exact
    integer inequality — no float enters until the output cast.

    Scale shape: the cumulative weight is ``ordered_scan`` in
    DECIMAL-sum mode; the crossing filter + single-row MIN aggregate
    replace any global sort."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    w = _part_revenue(t["lineitem"])
    pts = w.join(
        t["part"].select("p_partkey", "p_retailprice"),
        w["l_partkey"] == F.col("p_partkey"),
    ).select("p_partkey", F.col("p_retailprice").alias("price"), "xs")
    tot = pts.agg(
        F.sum("xs").cast("decimal(38,0)").alias("tot"),
        F.count("*").cast("long").alias("n"),
    )
    cum = (
        ordered_scan(pts, ["price", "p_partkey"], value="xs", name="cw")
        .crossJoin(F.broadcast(tot))
        .select("price", "n", "tot", "cw")
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tot"))
        .groupBy(F.col("n").alias("n_parts"), "tot")
        .agg(F.min("price").alias("weighted_median_price"))
        .select(
            "n_parts",
            (F.col("tot").cast("double") / F.lit(10000.0)).alias(
                "total_weight"
            ),
            "weighted_median_price",
        )
    )
