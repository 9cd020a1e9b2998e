"""Data profiling + data-quality checks.

The operational layer every production pipeline puts in front of its
analytics: a one-pass column profile (the ANALYZE TABLE / dbt-docs
shape) and a declarative rule scan emitting violation counts (the
dbt-test / Great-Expectations shape). Reference scope note: the
reference engine (sqlflow/handlers.py — one SQL statement per batch)
leaves profiling to the user's SQL; these package the patterns as
operators with exact oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark.registry import dsum, fixed, o_dsum, query
from sql_flow_spark.tables import load_tables

_PROFILE_COLS = (
    # (column, is_timestamp) — min/max of ints and strings cast to
    # VARCHAR identically in both engines; timestamps go through an
    # explicit format so neither engine's default repr matters.
    ("o_orderkey", False),
    ("o_custkey", False),
    ("o_orderstatus", False),
    ("o_orderpriority", False),
    ("o_orderdate", True),
)


def _profile_oracle() -> str:
    parts = []
    for col, is_ts in _PROFILE_COLS:
        mn = (
            f"strftime(MIN({col}), '%Y-%m-%d %H:%M:%S')"
            if is_ts
            else f"CAST(MIN({col}) AS VARCHAR)"
        )
        mx = (
            f"strftime(MAX({col}), '%Y-%m-%d %H:%M:%S')"
            if is_ts
            else f"CAST(MAX({col}) AS VARCHAR)"
        )
        parts.append(
            f"SELECT '{col}' AS column_name,"
            f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,"
            f" CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,"
            f" {mn} AS min_val, {mx} AS max_val FROM orders"
        )
    return " UNION ALL ".join(parts)


@query("column_profile", oracle=_profile_oracle())
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the orders table — row count, null
    count, exact distinct count, min/max — one row per column: the
    ingest-validation / catalog-stats pass (ANALYZE TABLE as a
    queryable result).

    Scale shape: ONE scan — all per-column aggregates run in a single
    HashAggregate; the exact multi-column COUNT(DISTINCT) costs one
    Expand (rows × columns) feeding a partial-then-final agg, the
    standard Spark plan for exact NDV (swap in approx_count_distinct
    to drop the Expand when 2% error is acceptable — this operator is
    the exact, oracle-able variant). The wide 1-row result is then
    exploded driver-free into the per-column long format. min/max of
    timestamps are emitted through an explicit format string so both
    engines print identical values."""
    t = load_tables(spark, sf_dir, ("orders",))
    orders = t["orders"]
    # r13: the single-row-group orders scan gives this query's Expand
    # (rows × distinct-columns, the exact-NDV plan) only 1-2 tasks, so
    # the CPU-dense partial aggregate ran near-serially (stage profile:
    # 2.1 s on 2 tasks). Same scale-adaptive guard as
    # tables._SPREAD_SCAN_TABLES: spread only when the scan is below
    # the session parallelism — at 100 TB the table arrives as many
    # row groups and no exchange is added.
    par = spark.sparkContext.defaultParallelism
    if orders.rdd.getNumPartitions() < par:
        orders = orders.repartition(par)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, is_ts in _PROFILE_COLS:
        aggs.append(F.count(col).alias(f"nn_{col}"))
        aggs.append(F.countDistinct(col).alias(f"nd_{col}"))
        if is_ts:
            aggs.append(
                F.date_format(F.min(col), "yyyy-MM-dd HH:mm:ss").alias(
                    f"mn_{col}"
                )
            )
            aggs.append(
                F.date_format(F.max(col), "yyyy-MM-dd HH:mm:ss").alias(
                    f"mx_{col}"
                )
            )
        else:
            aggs.append(F.min(col).cast("string").alias(f"mn_{col}"))
            aggs.append(F.max(col).cast("string").alias(f"mx_{col}"))
    wide = orders.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(col).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{col}")).alias("n_null"),
                F.col(f"nd_{col}").alias("n_distinct"),
                F.col(f"mn_{col}").alias("min_val"),
                F.col(f"mx_{col}").alias("max_val"),
            )
            for col, _ in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


_DQ_ORACLE = """
SELECT 'orders_orphan_customer' AS check_name,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM orders o
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
  ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem_orphan_order',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l
LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem_nonpositive_quantity',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_over_8pct',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_ship_before_order',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
            AS BIGINT)
FROM lineitem l
LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


@query("dq_checks", oracle=_DQ_ORACLE)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule scan — referential integrity
    (orders→customer, lineitem→orders), domain checks (non-positive
    quantity, discount cap), and the cross-table consistency rule
    ship-date-before-order-date — one row per rule with checked and
    violation counts (the dbt-test / Great-Expectations contract as
    an engine operator; a violation row-emitter is the same plans with
    the filter kept instead of counted).

    Scale shape: referential checks are LEFT joins against the
    DISTINCT key projection of the dimension side — Spark broadcasts
    it when small, shuffles on the key when not, and the count+
    conditional-sum rides the join output without materializing
    violations; domain rules are single column-pruned scans with
    map-side partial aggs. Nothing collects; the result is five
    one-row aggregates unioned."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem", "customer"))
    orders, lineitem, customer = t["orders"], t["lineitem"], t["customer"]

    def _counts(name: str, df: DataFrame, bad) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias(
                "n_violations"
            ),
        )

    orphan_orders = _counts(
        "orders_orphan_customer",
        orders.join(
            customer.select("c_custkey").distinct(),
            orders.o_custkey == F.col("c_custkey"),
            "left",
        ),
        F.col("c_custkey").isNull(),
    )
    orphan_lines = _counts(
        "lineitem_orphan_order",
        lineitem.join(
            orders.select("o_orderkey").distinct(),
            lineitem.l_orderkey == F.col("o_orderkey"),
            "left",
        ),
        F.col("o_orderkey").isNull(),
    )
    nonpos_qty = _counts(
        "lineitem_nonpositive_quantity", lineitem, F.col("l_quantity") <= 0
    )
    discount_cap = _counts(
        "lineitem_discount_over_8pct", lineitem, F.col("l_discount") > 0.08
    )
    ship_order = _counts(
        "lineitem_ship_before_order",
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            lineitem.l_orderkey == F.col("o_orderkey"),
            "left",
        ),
        F.col("l_shipdate") < F.col("o_orderdate"),
    )
    return (
        orphan_orders.unionAll(orphan_lines)
        .unionAll(nonpos_qty)
        .unionAll(discount_cap)
        .unionAll(ship_order)
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_oracle() -> str:
    from itertools import combinations

    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in _CORR_COLS:
        sums.append(f"{o_dsum(c)} AS sx_{c}")
        sums.append(f"{o_dsum(f'{c} * {c}')} AS sxx_{c}")
    for a, b in combinations(_CORR_COLS, 2):
        sums.append(f"{o_dsum(f'{a} * {b}')} AS sxy_{a}_{b}")
    pair_rows = []
    for a, b in combinations(_CORR_COLS, 2):
        num = f"(CAST(n AS DOUBLE) * sxy_{a}_{b} - sx_{a} * sx_{b})"
        den = (
            f"sqrt((CAST(n AS DOUBLE) * sxx_{a} - sx_{a} * sx_{a})"
            f" * (CAST(n AS DOUBLE) * sxx_{b} - sx_{b} * sx_{b}))"
        )
        pair_rows.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n,"
            f" floor(({num} / {den}) * 1000000000000.0 + 0.5)"
            " / 1000000000000.0 AS corr FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL ".join(pair_rows)
    )


@query("correlation_matrix", oracle=_corr_oracle())
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over lineitem's numeric measures —
    column_profile's bivariate companion (the feature-redundancy /
    leakage screen run before training on tabular features).

    All six coefficients come from ONE scan and ONE HashAggregate
    computing the 15 moment sums (n, Σx, Σx², Σxy — no Expand, no
    per-pair passes); the single-row result unpivots to pair rows
    engine-side.

    Exactness: every moment sum is fixed-point at 4dp — exact
    integers because the generator's measures carry ≤2 decimal
    digits, so all products have ≤4. One subtlety the sf0.1 gate
    caught: the scaled Σ(price²) integer exceeds 2^53, so its
    decimal→double image can differ by 1 ulp between engines (the
    integer itself is identical; the ROUNDING to double is not
    specified identically) — amplified through the cancellation in
    nΣx²−(Σx)², that moves r in its last two digits. r is therefore
    12dp floor-masked (mask spacing 1e-12 vs observed drift ~5e-16:
    no boundary risk), the ln/pow masking discipline applied to a
    ratio.

    Scale shape: map-side partial aggregation does almost all the
    work; one single-row exchange; the unpivot is constant-sized."""
    from itertools import combinations

    t = load_tables(spark, sf_dir, ("lineitem",))
    aggs = [F.count("*").cast("long").alias("n")]
    for c in _CORR_COLS:
        aggs.append(dsum(c).alias(f"sx_{c}"))
        aggs.append(dsum(F.col(c) * F.col(c)).alias(f"sxx_{c}"))
    for a, b in combinations(_CORR_COLS, 2):
        aggs.append(dsum(F.col(a) * F.col(b)).alias(f"sxy_{a}_{b}"))
    s = t["lineitem"].agg(*aggs)
    nd = F.col("n").cast("double")
    pair_structs = []
    for a, b in combinations(_CORR_COLS, 2):
        num = nd * F.col(f"sxy_{a}_{b}") - F.col(f"sx_{a}") * F.col(f"sx_{b}")
        den = F.sqrt(
            (nd * F.col(f"sxx_{a}") - F.col(f"sx_{a}") * F.col(f"sx_{a}"))
            * (nd * F.col(f"sxx_{b}") - F.col(f"sx_{b}") * F.col(f"sx_{b}"))
        )
        pair_structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col("n").alias("n"),
                fixed(num / den, 12).alias("corr"),
            )
        )
    return s.select(F.explode(F.array(*pair_structs)).alias("p")).select(
        "p.col_a", "p.col_b", "p.n", "p.corr"
    )


# Benford first-digit expectations log10(1 + 1/d), d = 1..9, as fixed
# 12dp literals so both engines compare against identical constants
# (computing log10 at runtime would need its own cross-engine mask).
_BENFORD_P = {
    1: 0.301029995664,
    2: 0.176091259056,
    3: 0.124938736608,
    4: 0.096910013008,
    5: 0.079181246048,
    6: 0.066946789631,
    7: 0.057991946978,
    8: 0.051152522447,
    9: 0.045757490561,
}


def _o_benford_case() -> str:
    return (
        "CASE digit "
        + " ".join(
            f"WHEN {d} THEN CAST({p!r} AS DOUBLE)"
            for d, p in _BENFORD_P.items()
        )
        + " END"
    )


@query(
    "benford_deviation",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM c)
    SELECT c.digit, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.tn AS DOUBLE) AS obs_share,
           {_o_benford_case()} AS benford_share,
           floor((CAST(c.n AS DOUBLE) / CAST(t.tn AS DOUBLE)
                  - {_o_benford_case()})
                 * 1000000.0 + 0.5) / 1000000.0 AS deviation
    FROM c CROSS JOIN tot t
    """,
)
def benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the classic
    fabricated-data / upstream-transformation tripwire for a financial
    measure column (organic multiplicative amounts follow
    log10(1+1/d); flat or spiked digit profiles mean synthetic data,
    capped prices, or a broken feed). Completes the data-quality
    family: dq_checks validates rows, column_profile summarizes
    columns, this one tests a *distributional law*.

    Exactness: the first digit comes from the decimal string of the
    exact integer part (floor -> BIGINT -> VARCHAR renders identically
    in both engines — no float formatting, no log10 at runtime); the
    nine expected shares are shared 12dp literals; counts are exact,
    shares one IEEE division, deviation masked 6dp.

    Scale shape: narrow map to a single digit column, one 9-key
    partial-agg shuffle, broadcast single-row total. Nothing else."""
    t = load_tables(spark, sf_dir, ("orders",))
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    c = (
        t["orders"]
        .where(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = c.agg(F.sum("n").cast("long").alias("tn"))
    bexpr = None
    for d, p in _BENFORD_P.items():
        bexpr = (
            F.when(F.col("digit") == d, F.lit(p))
            if bexpr is None
            else bexpr.when(F.col("digit") == d, F.lit(p))
        )
    obs = F.col("n").cast("double") / F.col("tn").cast("double")
    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        obs.alias("obs_share"),
        bexpr.alias("benford_share"),
        fixed(obs - bexpr, 6).alias("deviation"),
    )
