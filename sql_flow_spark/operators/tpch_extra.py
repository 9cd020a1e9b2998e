"""Deeper TPC-H-style coverage (SURVEY.md §2 rows 21p-21x): the query
shapes the reference's DuckDB surface answers that the first two
rounds had not yet exercised — bidirectional nation volume, market
share ratios, returned-item rankings, order-count distributions,
promo shares, top-supplier argmax, large-order HAVING joins,
OR-of-ANDs predicate pushdown, and idle-customer anti-joins.

Q2/Q9/Q11/Q16/Q20 classically need the partsupp table (absent from
the synthetic star schema) and Q12/Q21 need commit/receipt dates, so
their SHAPES are covered by adapted variants on the columns that
exist: q12_late_shipments, q21_waiting_supplier, and (r6, lineitem as
the part<->supplier bridge) q9_product_profit, q11_important_stock,
q16_parts_suppliers, q20_dominant_supplier, q2_min_cost_supplier
below (Q2's bare argmin shape is also argmin_cheapest_part in
extra.py). Everything else from the classic
set that this schema can express is here or in analytics.py/extra.py.

Determinism contract as everywhere (registry.py): money sums go
through fixed-point DECIMAL, ratios divide two exact sums in DOUBLE,
top-k orderings carry total tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark.registry import (
    davg,
    dsum,
    o_davg,
    o_dsum,
    o_scaled_int,
    query,
    scaled_int,
)
from sql_flow_spark.tables import load_tables

_REVENUE = "l_extendedprice * (1 - l_discount)"


def _revenue_col() -> F.Column:
    return F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {o_dsum('volume')} AS revenue
    FROM (
      SELECT
        n1.n_name AS supp_nation,
        n2.n_name AS cust_nation,
        EXTRACT(year FROM l_shipdate) AS l_year,
        {_REVENUE} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: trade volume between two nations in both directions,
    by ship year. supplier/nation broadcast; the only large shuffle is
    orders<->lineitem on orderkey, then one agg exchange on the tiny
    (nation, nation, year) key space."""
    t = load_tables(
        spark, sf_dir, ("supplier", "lineitem", "orders", "customer", "nation")
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        t["lineitem"]
        .select("l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            _revenue_col().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume")).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT
      o_year,
      ({o_dsum('nation_volume')}) / ({o_dsum('volume')}) AS mkt_share
    FROM (
      SELECT
        EXTRACT(year FROM o_orderdate) AS o_year,
        {_REVENUE} AS volume,
        CASE WHEN n2.n_name = 'NATION_3' THEN {_REVENUE} ELSE 0.0 END
          AS nation_volume
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of PROMO-part revenue sold into a
    region, by order year. The share is a ratio of two fixed-point
    sums divided in DOUBLE — partitioning-invariant and
    engine-identical. All dims broadcast; fact shuffle only on
    orderkey."""
    t = load_tables(
        spark,
        sf_dir,
        ("part", "lineitem", "orders", "customer", "nation", "region", "supplier"),
    )
    cust_nation = (
        t["customer"].select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                t["nation"]
                .join(
                    F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
                .select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp_nation = (
        t["supplier"].select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                t["nation"].select(
                    F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("supp_nation")
                )
            ),
            F.col("s_nationkey") == F.col("nk2"),
        )
        .select("s_suppkey", "supp_nation")
    )
    vol = _revenue_col()
    joined = (
        t["lineitem"]
        .select("l_partkey", "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(
                t["part"].where(F.col("p_type") == "PROMO").select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust_nation, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            F.when(F.col("supp_nation") == "NATION_3", vol)
            .otherwise(F.lit(0.0))
            .alias("nation_volume"),
        )
        .groupBy("o_year")
        .agg(
            (dsum(F.col("nation_volume")) / dsum(F.col("volume"))).alias("mkt_share")
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, {o_dsum(_REVENUE)} AS revenue, c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers ranked by revenue they returned in a
    quarter-ish window. Predicates push to both scans; nation
    broadcasts; TakeOrderedAndProject keeps the top-k without a global
    sort."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t["lineitem"].where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        t["customer"].select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_revenue_col()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed how many orders, zero
    included (left join, count of non-null keys). Two shuffles: custkey
    agg, then the tiny c_count distribution agg."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    per_cust = (
        t["customer"].select("c_custkey")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT
      100.0 * ({o_dsum(f"CASE WHEN p_type = 'PROMO' THEN {_REVENUE} ELSE 0.0 END")})
        / ({o_dsum(_REVENUE)}) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo parts' share of shipped revenue in a window.
    part broadcasts into lineitem; a single global agg of two exact
    sums, zero wide shuffle."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    vol = _revenue_col()
    return (
        li.join(
            F.broadcast(t["part"].select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            vol.alias("volume"),
            F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)).alias("promo"),
        )
        .agg(
            (F.lit(100.0) * dsum(F.col("promo")) / dsum(F.col("volume")))
            .alias("promo_revenue")
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {o_dsum(_REVENUE)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the max quarterly revenue. The
    argmax-vs-global-aggregate is a 1-row max() broadcast-joined back
    onto the cached revenue table — NOT a global rank() window, which
    would pull every supplier's revenue into a single partition (fine
    locally, a straggler with millions of suppliers)."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    rev = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_revenue_col()).alias("total_revenue"))
    )
    # read twice (max aggregate + equality filter): materialize once
    # without registering a CacheManager entry nobody unpersists
    from sql_flow_spark.functions.mat import materialize_once

    rev = materialize_once(rev)
    max_rev = rev.agg(F.max("total_revenue").alias("_max"))
    top = rev.join(F.broadcast(max_rev)).where(
        F.col("total_revenue") == F.col("_max")
    ).select("supplier_no", "total_revenue")
    return (
        F.broadcast(top)
        .join(
            t["supplier"].select("s_suppkey", "s_name"),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q18_QTY_THRESHOLD = 250


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, {o_dsum('l_quantity')} AS total_qty,
           {o_dsum(_REVENUE)} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_custkey, c_name, o_orderkey
    HAVING {o_dsum('l_quantity')} > {Q18_QTY_THRESHOLD}
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold,
    with their customer. The classic form filters with an IN-subquery
    over the same aggregation; one orderkey-partitioned agg computes
    both the filter and the output — lineitem is shuffled once."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    per_order = (
        t["lineitem"]
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
        .groupBy("l_orderkey")
        .agg(
            dsum(F.col("l_quantity")).alias("total_qty"),
            dsum(_revenue_col()).alias("revenue"),
        )
        .where(F.col("total_qty") > Q18_QTY_THRESHOLD)
    )
    return (
        per_order.join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["customer"].select("c_custkey", "c_name"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", F.col("o_orderkey"), "total_qty", "revenue")
    )


@query(
    "q19_flexible_predicates",
    oracle=f"""
    SELECT {o_dsum(_REVENUE)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE
      (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
      OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 30)
      OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19_flexible_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs over join columns from both sides. The
    part-side conjuncts (brand, size) filter before the broadcast; the
    mixed-source OR evaluates post-join. Result is one global exact
    sum."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    part = t["part"].select("p_partkey", "p_brand", "p_size").where(
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 35))
    )
    joined = t["lineitem"].select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 40))
    )
    return joined.where(cond).agg(dsum(_revenue_col()).alias("revenue"))


@query(
    "q22_idle_customers",
    oracle=f"""
    SELECT n_name,
           COUNT(*) AS numcust,
           {o_dsum('c_acctbal')} AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (
        SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY n_name
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: nation stands in for the phone country
    code this schema lacks, and "never ordered" becomes "no order
    since 1999" — the synthetic generator gives every customer at
    least one order, so the unmodified predicate is vacuous): wealthy
    customers gone idle. Scalar subquery broadcasts the global
    average; the NOT EXISTS is a left-anti join on custkey with the
    date predicate pushed to the orders scan; nation broadcasts into
    the final agg.

    Determinism: the AVG threshold is compared, never emitted — both
    engines compute IEEE-double avg over the same values, and no
    customer's acctbal sits within one ulp of the average in this
    synthetic data (acctbals have 2 decimals; asserted by the oracle
    replica matching). The emitted sum is fixed-point as usual."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "nation"))
    cust = t["customer"].select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg")
    )
    wealthy = (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    recent = t["orders"].where(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    idle = wealthy.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        idle.join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@query(
    "q12_late_shipments",
    oracle="""
    SELECT
      o_orderpriority,
      CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
               THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
      CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 60 DAY
               THEN 1 ELSE 0 END) AS BIGINT) AS ontime_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape, adapted: the classic query buckets lineitems
    into late/on-time per shipmode; this schema has no
    shipmode/commitdate, so the bucket is "shipped more than 60 days
    after ordering" and the group is o_orderpriority — the same
    join-then-conditional-two-way-count structure.

    Scale shape: the one big shuffle is orders<->lineitem on orderkey
    (both facts co-partition); the conditional counts are map-side
    partials into a 5-key agg. Timestamp arithmetic (+ INTERVAL) is
    exact in both engines."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (
        t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(
            t["lineitem"].select("l_orderkey", "l_shipdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("late_count"),
            F.sum(F.when(late, 0).otherwise(1)).cast("long").alias("ontime_count"),
        )
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    WITH sm AS (
      SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS sm
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    waiting AS (
      SELECT s1.l_orderkey, s1.l_suppkey
      FROM sm s1
      WHERE EXISTS (
          SELECT 1 FROM sm s2
          WHERE s2.l_orderkey = s1.l_orderkey
            AND s2.l_suppkey <> s1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM sm s3
          WHERE s3.l_orderkey = s1.l_orderkey
            AND s3.l_suppkey <> s1.l_suppkey
            AND s3.sm >= s1.sm)
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM waiting JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape, adapted: suppliers who were the *unique last*
    shipper on multi-supplier orders (the classic query's
    receipt-after-commit EXISTS / NOT-EXISTS pair, expressed on the
    columns this schema has).

    Spark-first rewrite: instead of correlated subqueries, per-order
    window aggregates over per-(order, supplier) ship maxima —
    "another supplier exists" is n_supp >= 2 and "every other supplier
    shipped strictly earlier" is (sm == max1 AND only one supplier at
    max1). Two shuffles on the same orderkey-rooted keys; supplier
    names broadcast; the top-10 carries a (numwait DESC, s_name) total
    order so ties at the cut are deterministic."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    sm = (
        t["lineitem"]
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("sm"))
    )
    w = Window.partitionBy("l_orderkey")
    per = (
        sm.withColumn("n_supp", F.count("*").over(w))
        .withColumn("max1", F.max("sm").over(w))
        .withColumn(
            "cnt_max",
            F.sum(F.when(F.col("sm") == F.col("max1"), 1).otherwise(0)).over(w),
        )
    )
    waiting = per.where(
        (F.col("n_supp") >= 2)
        & (F.col("sm") == F.col("max1"))
        & (F.col("cnt_max") == 1)
    )
    return (
        waiting.join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------- r6:
# the remaining classic shapes this schema can express, adapted around
# the missing partsupp table (lineitem is the part<->supplier bridge,
# p_retailprice stands in for ps_supplycost, and the below-average-
# balance suppliers stand in for Q16's complaint subquery). Threshold
# comparisons are pure scaled-integer arithmetic on both engines, so a
# borderline row can never flip sides between Spark and DuckDB.


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {o_dsum('amount')} AS profit
    FROM (
      SELECT
        n_name AS nation,
        EXTRACT(year FROM o_orderdate) AS o_year,
        l_extendedprice * (1 - l_discount)
          - 0.1 * p_retailprice * l_quantity AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      WHERE p_name LIKE '%widget%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year), adapted:
    no partsupp, so unit cost is proxied by 0.1*p_retailprice — the
    join graph (5-way: fact x 3 broadcast dims + one fact-fact
    shuffle), the LIKE part filter, and the (nation, year) rollup are
    the Q9 semantics being exercised. part (200 rows) / supplier /
    nation broadcast; orders<->lineitem on orderkey is the one big
    shuffle, then the agg lands on a tiny key space."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "part", "supplier", "nation", "orders")
    )
    amount = _revenue_col() - F.lit(0.1) * F.col("p_retailprice") * F.col(
        "l_quantity"
    )
    joined = (
        t["lineitem"]
        .select(
            "l_partkey", "l_suppkey", "l_orderkey",
            "l_extendedprice", "l_discount", "l_quantity",
        )
        .join(
            F.broadcast(
                t["part"]
                .where(F.col("p_name").like("%widget%"))
                .select("p_partkey", "p_retailprice")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount")).alias("profit"))
    )


_Q11_NATIONS = ("NATION_1", "NATION_2", "NATION_3")
_Q11_MULTIPLE = 2  # part passes when value > 2x the mean part value


@query(
    "q11_important_stock",
    oracle=f"""
    WITH v AS (
      SELECT l_partkey,
        SUM({o_scaled_int('l_extendedprice * l_quantity')}) AS vs
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name IN {str(tuple(_Q11_NATIONS))}
      GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(vs) AS total, COUNT(*) AS n_parts FROM v)
    SELECT l_partkey, CAST(vs AS DOUBLE) / 10000.0 AS value
    FROM v CROSS JOIN tot
    WHERE vs * n_parts > {_Q11_MULTIPLE} * total
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification), adapted: the
    per-part "inventory value" is the shipped extendedprice*quantity
    mass from a 3-nation supplier group (no partsupp), and a part is
    kept when its value exceeds twice the MEAN part value — a cut
    that, unlike Q11's fixed 1/10000-of-total (which is calibrated to
    partsupp's cardinality and selects nothing or everything as SF
    changes), keeps a stable selectivity at every scale factor. The
    Q11 semantics exercised: group-by-part aggregate HAVING-compared
    against a scalar aggregate of the SAME derived table. The
    threshold test multiplies through by the part count (vs*n > 2*
    total on exact decimals), so both engines agree on every
    borderline part. The group stats are one broadcast row; the
    per-part aggregate shuffles once on l_partkey."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].where(F.col("n_name").isin(*_Q11_NATIONS))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    v = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                scaled_int(F.col("l_extendedprice") * F.col("l_quantity"))
            ).alias("vs")
        )
    )
    tot = v.agg(F.sum("vs").alias("total"), F.count("*").alias("n_parts"))
    return (
        v.join(F.broadcast(tot))
        .where(
            F.col("vs") * F.col("n_parts") > F.lit(_Q11_MULTIPLE) * F.col("total")
        )
        .select(
            "l_partkey",
            (F.col("vs").cast("double") / F.lit(10000.0)).alias("value"),
        )
    )


_Q16_SIZES = (1, 4, 9, 14, 19, 23, 36, 45)


@query(
    "q16_parts_suppliers",
    oracle=f"""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO'
      AND p_size IN {str(_Q16_SIZES)}
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier
        WHERE {o_scaled_int('s_acctbal')} * (SELECT COUNT(*) FROM supplier)
            < (SELECT SUM({o_scaled_int('s_acctbal')}) FROM supplier)
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship), adapted: lineitem
    is the part<->supplier bridge (no partsupp), and the excluded
    suppliers are those with below-average account balance (standing
    in for the complaints NOT-IN subquery — same anti-join shape).
    The below-average test multiplies through by COUNT(*) so it is
    exact integer arithmetic (bal*n < total), never a double-average
    comparison that borderline suppliers could disagree on across
    engines. Distinct-supplier counting shuffles once on the
    (brand, type, size) key space after the broadcast part join and
    broadcast anti-join."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier"))
    s = t["supplier"].select(
        "s_suppkey", scaled_int(F.col("s_acctbal")).alias("bal")
    )
    stats = s.agg(
        F.sum("bal").alias("total"), F.count("*").alias("n")
    )
    below_avg = (
        s.join(F.broadcast(stats))
        .where(F.col("bal") * F.col("n") < F.col("total"))
        .select("s_suppkey")
    )
    parts = (
        t["part"]
        .where(
            (F.col("p_type") != "PROMO") & F.col("p_size").isin(*_Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(below_avg),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q20_YEAR = 1997


@query(
    "q20_dominant_supplier",
    oracle=f"""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
        SUM({o_scaled_int('l_quantity')}) AS sq
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%widget%'
        AND EXTRACT(year FROM l_shipdate) = {_Q20_YEAR}
      GROUP BY l_partkey, l_suppkey
    ),
    ptot AS (SELECT l_partkey, SUM(sq) AS pq FROM shipped GROUP BY l_partkey)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM shipped JOIN ptot USING (l_partkey)
      WHERE sq * 2 > pq
    )
    """,
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion), adapted: a supplier
    qualifies when, for some 'widget' part, it shipped more than half
    of that part's total 1997 quantity — the same
    nested-aggregate-feeding-a-semi-join chain as Q20's
    availqty-vs-half-shipped test (no partsupp). The dominance test is
    2*sq > pq on exact scaled integers. ptot reuses shipped's
    l_partkey partitioning (no extra exchange); the final IN is a
    broadcast left-semi against the supplier dim."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier"))
    shipped = (
        t["lineitem"]
        .where(F.year("l_shipdate") == _Q20_YEAR)
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(
            F.broadcast(
                t["part"]
                .where(F.col("p_name").like("%widget%"))
                .select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(scaled_int("l_quantity")).alias("sq")
        )
    )
    ptot = shipped.groupBy("l_partkey").agg(F.sum("sq").alias("pq"))
    dominant = (
        shipped.join(ptot, "l_partkey")
        .where(F.col("sq") * 2 > F.col("pq"))
        .select("l_suppkey")
        .distinct()
    )
    return t["supplier"].join(
        F.broadcast(dominant),
        F.col("s_suppkey") == F.col("l_suppkey"),
        "left_semi",
    ).select("s_suppkey", "s_name")


_Q2_REGION = "EUROPE"
_Q2_TYPE = "STANDARD"


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    cand AS (
      SELECT p_partkey, p_type, p_size,
             s_suppkey, s_name, s_acctbal, n_name
      FROM ps
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = '{_Q2_REGION}'
        AND p_type = '{_Q2_TYPE}'
        AND p_size BETWEEN 10 AND 20
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, s_suppkey
    FROM (
      SELECT *, MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
      FROM cand
    )
    WHERE s_acctbal = min_bal
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier), adapted: no partsupp
    table, so the part<->supplier bridge is the DISTINCT (l_partkey,
    l_suppkey) pairs observed in lineitem, and ps_supplycost is proxied
    by s_acctbal — the Q2 semantics being exercised are the correlated
    per-part MIN, the four-dim join chain down to region, and the
    ordered top-100 with a total tiebreak (reference parity:
    /root/reference/sqlflow/sql.py runs arbitrary DuckDB SQL; this is
    the canonical correlated-subquery shape from that surface).

    Scale shape: the DISTINCT on (partkey, suppkey) is the one
    fact-sized shuffle and collapses map-side; part/supplier/nation/
    region are broadcast dims; the per-part MIN is a window over the
    already-hash-partitioned partkey (AQE coalesces), and the global
    top-100 is TakeOrderedAndProject — no full sort at 100 TB."""
    t = load_tables(
        spark,
        sf_dir,
        ("lineitem", "part", "supplier", "nation", "region"),
    )
    parts = (
        t["part"]
        .where(
            (F.col("p_type") == _Q2_TYPE) & F.col("p_size").between(10, 20)
        )
        .select("p_partkey", "p_type")
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == _Q2_REGION)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # Semi-filter the fact to the ~1% of pairs that survive the part
    # and region predicates BEFORE the DISTINCT, so the one fact-sized
    # shuffle carries two longs of filtered rows, not every observed
    # pair; the attribute joins then rehydrate from the same broadcast
    # dims after the collapse.
    ps = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(parts.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            F.broadcast(supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .distinct()
    )
    cand = (
        ps.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "s_suppkey")
        .orderBy(
            F.col("s_acctbal").desc(),
            "n_name",
            "s_name",
            "p_partkey",
            "s_suppkey",
        )
        .limit(100)
    )


@query(
    "supplier_scorecard",
    oracle=f"""
    WITH m AS (
      SELECT l_suppkey,
             {o_dsum('l_extendedprice * (1.0 - l_discount)')} AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS return_rate,
             {o_davg('l_discount')} AS avg_discount,
             CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation, m.revenue, m.n_lines,
           m.return_rate, m.avg_discount, m.n_parts,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY n.n_name ORDER BY m.revenue DESC, s.s_suppkey
           ) AS INTEGER) AS rev_rank_in_nation
    FROM m
    JOIN supplier s ON m.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier KPI panel — the vendor-management dashboard query:
    revenue, line volume, return rate, mean discount, distinct-part
    breadth, and the supplier's revenue rank within its nation, one
    row per active supplier. The multi-metric sibling of
    q15_top_supplier (which picks only the single max-revenue
    supplier).

    Exactness: revenue/discount go through the DECIMAL fixed-point
    sum (order-insensitive), return rate divides exact integer
    counts; the within-nation rank has a total (revenue DESC,
    suppkey) order so ties cannot flip between engines.

    Scale shape: aggregate-then-join — the fact table collapses onto
    l_suppkey FIRST (one shuffle with map-side partial aggregation,
    count_distinct expanding to (suppkey, partkey) internally), and
    only the supplier-sized aggregate joins the supplier dim
    (co-keyed) and the 25-row nation dim (broadcast). The rank window
    partitions by nation over supplier-sized input."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    m = t["lineitem"].groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .alias("revenue"),
        F.count("*").cast("long").alias("n_lines"),
        (
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).cast("double")
            / F.count("*").cast("double")
        ).alias("return_rate"),
        davg("l_discount").alias("avg_discount"),
        F.count_distinct("l_partkey").cast("long").alias("n_parts"),
    )
    joined = m.join(
        t["supplier"], m["l_suppkey"] == t["supplier"]["s_suppkey"]
    ).join(
        F.broadcast(t["nation"]),
        t["supplier"]["s_nationkey"] == t["nation"]["n_nationkey"],
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("s_suppkey")
    )
    return joined.select(
        "s_suppkey",
        "s_name",
        F.col("n_name").alias("nation"),
        "revenue",
        "n_lines",
        "return_rate",
        "avg_discount",
        "n_parts",
        F.row_number().over(w).cast("int").alias("rev_rank_in_nation"),
    )


_DAY_US_F = 86_400_000_000.0


@query(
    "fulfillment_latency",
    oracle=f"""
    WITH lag AS (
      SELECT o.o_orderpriority,
             MIN(CAST(floor(CAST(epoch_us(l.l_shipdate) AS DOUBLE)
                 / {_DAY_US_F}) AS BIGINT))
             - CAST(floor(CAST(epoch_us(o.o_orderdate) AS DOUBLE)
                 / {_DAY_US_F}) AS BIGINT) AS lag_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(lag_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_lag_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_lag_days,
           CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS pct_within_30d
    FROM lag GROUP BY o_orderpriority
    """,
)
def fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment latency panel per order priority: days
    from order date to the FIRST line shipped, with the 30-day SLA
    attainment share — the operational "are urgent orders actually
    shipped faster" question (q12_late_shipments checks line-level
    lateness; this measures order-level first response).

    Exactness: order/ship days are integer IEEE floor-divisions of
    epoch-µs; lags are exact BIGINTs; the two ratios divide exact
    integer sums.

    Scale shape: the orders-lineitem join is the canonical
    co-partitioned fact-fact join on orderkey (both sides shuffle
    once onto the same key; the groupBy on o_orderkey reuses that
    partitioning so the per-order MIN adds no exchange), then a
    5-key priority groupBy of map-side partials."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    day = lambda c: F.floor(
        F.unix_micros(c).cast("double") / F.lit(_DAY_US_F)
    ).cast("long")
    lag = (
        t["orders"]
        .select("o_orderkey", "o_orderpriority", day("o_orderdate").alias("od"))
        .join(
            t["lineitem"].select(
                "l_orderkey", day("l_shipdate").alias("sd")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderpriority", "od")
        .agg((F.min("sd") - F.first("od")).alias("lag_days"))
    )
    return lag.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        (
            F.sum("lag_days").cast("double") / F.count("*").cast("double")
        ).alias("avg_lag_days"),
        F.max("lag_days").cast("long").alias("max_lag_days"),
        (
            F.sum(
                F.when(F.col("lag_days") <= 30, 1).otherwise(0)
            ).cast("double")
            / F.count("*").cast("double")
        ).alias("pct_within_30d"),
    )
