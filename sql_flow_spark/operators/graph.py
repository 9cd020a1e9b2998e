"""Graph analytics over relational facts — iterative PageRank.

Reference scope note: the reference engine (turbolytics/sql-flow —
DuckDB micro-batch plumbing, sqlflow/handlers.py) has no graph
operators; this extends the analytical surface with the third
iterative-algorithm shape (after embedding_top_pc's power iteration
and kmeans_embeddings' Lloyd loop): edge-join message passing, the
PageRank/label-propagation/BP family, expressed in pure DataFrame ops
and still oracle-gated bit-for-bit via an unrolled DuckDB CTE chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_flow_spark.functions.mat import materialize_once
from sql_flow_spark.registry import dsum, fixed, o_dsum, query
from sql_flow_spark.tables import load_tables

_PR_ITERS = 4
_PR_D = 0.85  # damping
_PR_SCALE = 12  # fixed-point digits for inflow sums (values ~1e-7..1)


def _pr_oracle() -> str:
    """The same 4 weighted-PageRank iterations unrolled into
    materialized DuckDB CTEs with identical fixed-point arithmetic —
    both engines walk the identical trajectory."""
    ctes = [
        "pk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey"
        " FROM lineitem)",
        # symmetric weighted edges: w = number of orders containing both
        "edges AS MATERIALIZED (SELECT a.l_partkey AS src,"
        " b.l_partkey AS dst, CAST(COUNT(*) AS BIGINT) AS w"
        " FROM pk a JOIN pk b ON a.l_orderkey = b.l_orderkey"
        " AND a.l_partkey <> b.l_partkey GROUP BY src, dst)",
        "outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS outw"
        " FROM edges GROUP BY src)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "p0 AS (SELECT node, 1.0 / n AS pr FROM nodes, nn)",
    ]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(
            f"f{k} AS MATERIALIZED (SELECT e.dst AS node,"
            f" {o_dsum('p.pr * CAST(e.w AS DOUBLE) / CAST(o.outw AS DOUBLE)', _PR_SCALE)}"
            f" AS inflow"
            f" FROM edges e JOIN outw o ON e.src = o.src"
            f" JOIN p{k - 1} p ON p.node = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"p{k} AS MATERIALIZED (SELECT n.node,"
            f" {1.0 - _PR_D} / nn.n + {_PR_D} * COALESCE(f.inflow, 0.0) AS pr"
            f" FROM nodes n LEFT JOIN f{k} f ON f.node = n.node, nn)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node AS partkey, pr AS pagerank FROM p{_PR_ITERS}"
    )


@query("pagerank_copurchase", oracle=_pr_oracle())
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the part co-purchase graph (edge weight =
    number of orders containing both parts, contributions split
    proportionally to edge weight): 'which parts sit at the center of
    the purchase graph' — the importance ranking behind
    recommendation candidates and catalog curation.

    Oracle-gated on the EXACT trajectory: uniform 1/N start, inflow
    sums fixed-point-exact (order-insensitive under any partitioning),
    per-node update (1-d)/N + d*inflow in IEEE doubles — the DuckDB
    oracle unrolls the same 4 iterations and matches every rank
    bit-for-bit. Parts never co-purchased have no edges and are
    excluded (their rank is the floor (1-d)/N by definition).

    Scale shape: the weighted edge list (the ``order_parts`` self-join,
    bounded by Σ basket·(basket−1) — linear in orders for bounded
    baskets) is built once, joined with its out-weight, checkpointed, and
    pre-partitioned on src; every iteration joins the node-sized pr
    table on that same src partitioning (no edge exchange), then
    shuffles only node-sized inflow onto dst. pr is
    localCheckpoint-ed per iteration so the plan stays one iteration
    deep. No collect; driver traffic is zero. Skew = celebrity
    nodes: AQE skew-split handles the inflow groupBy's hot dst keys."""
    from sql_flow_spark.functions.mat import (
        materialize_observed,
        materialize_once,
    )

    pk = order_parts(load_tables(spark, sf_dir, ("lineitem",))["lineitem"])
    a = pk.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = pk.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("dst"))
    # r13: repartition("src") WITHOUT a count let AQE coalesce the
    # checkpoint to a handful of partitions, and the iteration join's
    # required distribution (shuffle.partitions-sized) then RE-SHUFFLED
    # the whole edge table every iteration — the event log showed the
    # full checkpoint (239 MB deserialized at sf0.1) read AND 34 MB
    # shuffle-written per iteration, 5x (see
    # plans/r13/pagerank_copurchase_stages_{before,after}.txt). The
    # partition count is pinned to the session shuffle partitioning
    # for the at-scale shuffle-join path, and the iteration join
    # strategy is chosen explicitly below (a sorted-checkpoint SMJ
    # variant was measured and rejected: LogicalRDD drops the
    # ordering, so the join re-sorted and SPILLED the edge table
    # every iteration).
    n_shuffle = int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # r14 (guide §2.4): the edge build paid FOUR edge-set exchanges —
    # groupBy(src,dst), the outw groupBy(src), the edges-outw join,
    # and the final repartition(src) (stage profile: ~3 s of the key's
    # 8 s). Keyed the src exchange FIRST, everything downstream reuses
    # it: the (src,dst) aggregate's ClusteredDistribution is satisfied
    # by hash(src) (complete-mode agg, no shuffle — pairs are ~all
    # distinct here, so the lost map-side combine is ~free), and outw
    # becomes a src-partitioned window sum (sort-only) instead of a
    # groupBy + join. Values identical: same exact integer counts and
    # sums, same output columns.
    pairs = a.join(
        b, (F.col("ok") == F.col("ok2")) & (F.col("src") != F.col("dst"))
    )
    edges = (
        pairs.repartition(n_shuffle, "src")
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )
    w_src = Window.partitionBy("src")
    ew = materialize_once(
        edges.select(
            "src", "dst", "w",
            F.sum("w").over(w_src).cast("long").alias("outw"),
        )
    )
    nodes = ew.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    # Join strategy for the per-iteration edge×rank join, picked
    # DELIBERATELY (guide §3.1): the checkpointed tables carry no
    # stats, so the planner would default to sort-merge — which
    # re-sorts (and at sf0.1 spills) the full edge table EVERY
    # iteration. The rank table is node-sized; up to ~5M nodes it
    # broadcasts (edges never move at all — the right plan on any
    # cluster whose node table fits an executor), beyond that the
    # shuffle join on the pre-partitioned edge layout takes over.
    # The node count rides the checkpoint job itself (r14, guide §5 —
    # no separate count() action).
    nodes_n, _m = materialize_observed(
        nodes.join(F.broadcast(nn)), n_nodes=F.count(F.lit(1))
    )
    n_nodes = int(_m["n_nodes"] or 0)
    _maybe_b = F.broadcast if n_nodes <= 5_000_000 else (lambda df: df)
    pr = nodes_n.select("node", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(_PR_ITERS):
        inflow = (
            ew.join(_maybe_b(pr), ew.src == pr.node)
            .groupBy("dst")
            .agg(
                dsum(
                    F.col("pr")
                    * F.col("w").cast("double")
                    / F.col("outw").cast("double"),
                    _PR_SCALE,
                ).alias("inflow")
            )
        )
        pr = (
            nodes_n.join(inflow, nodes_n.node == inflow.dst, "left")
            .select(
                "node",
                (
                    F.lit(1.0 - _PR_D) / F.col("n")
                    + F.lit(_PR_D) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.select(F.col("node").alias("partkey"), F.col("pr").alias("pagerank"))


_TRI_UND_EXACT = """
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM pk a JOIN pk b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""

# Sparsified co-purchase graph: keep an edge only when the two parts
# were bought together in >= MIN_W orders — the production lever the
# exact variant's docstring names (one-off co-occurrences are noise
# for community detection and dominate E at scale).
_TRI_MIN_W = 2
_TRI_UND_SPARSE = f"""
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM pk a JOIN pk b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_TRI_MIN_W}
"""


def _tri_oracle(und_cte: str) -> str:
    return f"""
    WITH pk AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    und AS MATERIALIZED ({und_cte}),
    deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    ),
    o AS MATERIALIZED (
      SELECT CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.a ELSE u.b END AS src,
             CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND u.a < u.b)
                  THEN u.b ELSE u.a END AS dst
      FROM und u
      JOIN deg da ON da.node = u.a
      JOIN deg db ON db.node = u.b
    ),
    tri AS MATERIALIZED (
      SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      FROM o e1
      JOIN o e2 ON e2.src = e1.src AND e2.dst <> e1.dst
      JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    corner AS (
      SELECT u AS node FROM tri
      UNION ALL SELECT v AS node FROM tri
      UNION ALL SELECT w AS node FROM tri
    ),
    tc AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM corner GROUP BY node
    )
    SELECT d.node AS partkey, d.deg AS degree,
           COALESCE(tc.triangles, 0) AS triangles,
           CASE WHEN d.deg >= 2 THEN
             2.0 * CAST(COALESCE(tc.triangles, 0) AS DOUBLE)
               / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE))
           ELSE 0.0 END AS clustering_coeff
    FROM deg d LEFT JOIN tc ON tc.node = d.node
    """


def _triangle_pipeline(und: DataFrame) -> DataFrame:
    """Degree-ordered triangle counting over an undirected edge list
    ``und(a, b)`` with a < b: orient each edge from its lower
    (degree, id) endpoint, wedge self-join on src, close with an
    equi-join — each triangle emits exactly once. Shared by the exact
    and sparsified variants (the graphs differ, the algorithm does
    not)."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    da = deg.select(F.col("node").alias("na"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("nb"), F.col("deg").alias("degb"))
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    o = (
        und.join(da, F.col("na") == F.col("a"))
        .join(db, F.col("nb") == F.col("b"))
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    # Shared via ReusedExchange, not persist/checkpoint: an explicit
    # repartition("src") ends the oriented-edge subplan in an Exchange
    # that all three self-join consumers reuse (orientation computed
    # ONCE), without registering a CacheManager entry nobody unpersists
    # and without localCheckpoint's deserialized-RDD scan. Same-day
    # full-query A/B at sf0.1: persist 32.5s vs this 32.9s (parity) vs
    # localCheckpoint ~49s — the leak-free point on that curve. The
    # wedge join dominates either way; materialization strategy only
    # decides who pays for the orientation subplan.
    o = o.repartition("src")
    e1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = o.select(F.col("src").alias("u2"), F.col("dst").alias("w"))
    e3 = o.select(F.col("src").alias("v3"), F.col("dst").alias("w3"))
    tri = (
        e1.join(e2, (F.col("u2") == F.col("u")) & (F.col("w") != F.col("v")))
        .join(e3, (F.col("v3") == F.col("v")) & (F.col("w3") == F.col("w")))
        .select("u", "v", "w")
    )
    tc = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    dd = F.col("deg").cast("double")
    return (
        deg.join(tc, "node", "left")
        .select(
            F.col("node").alias("partkey"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                F.lit(2.0)
                * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                / (dd * (dd - F.lit(1.0))),
            )
            .otherwise(0.0)
            .alias("clustering_coeff"),
        )
    )


def order_parts(lineitem: DataFrame) -> DataFrame:
    """The order baskets: DISTINCT (l_orderkey, l_partkey), pinned to
    the session's shuffle partitioning on l_orderkey. Every basket
    self-join (and the per-order collect of frequent_triples) is
    CPU-dense on small bytes — the per-order pair explosion — and AQE's
    byte-based coalescing handed it ~5 tasks at sf0.1 (stage profile:
    4.3 CPU-s on 5 tasks, ~1 s wall). The pin keeps it at core count,
    and both sides of a self-join read ONE reused exchange, so no
    shuffle is added."""
    n_shuffle = int(lineitem.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .repartition(n_shuffle, "l_orderkey")
    )


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b): one row per order and pair of its distinct parts a < b —
    the ``order_parts`` self-join on l_orderkey."""
    pk = order_parts(load_tables(spark, sf_dir, ("lineitem",))["lineitem"])
    a = pk.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a"))
    b = pk.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("b"))
    return a.join(
        b, (F.col("ok") == F.col("ok2")) & (F.col("a") < F.col("b"))
    ).select("a", "b")


@query("triangle_count", oracle=_tri_oracle(_TRI_UND_EXACT))
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    part co-purchase graph — the community-density signal next to
    pagerank_copurchase's importance ranking (high-LCC parts sit in
    tight bundles; low-LCC high-degree parts are hubs bridging
    unrelated baskets).

    Algorithm: degree-ordered edge orientation (each undirected edge
    points from its lower (degree, id) endpoint to the higher), then
    wedge join + closing-edge equi-join. In the total order every
    triangle has exactly one node with two out-edges and the closing
    edge carries exactly one orientation, so each triangle emits ONCE
    from the equi-join — no OR-join, no dedup pass. This is the
    standard bounded-work distributed triangle algorithm: out-degrees
    are capped at ~sqrt(E) by orientation, so wedge fan-out is
    sum outdeg^2 = O(E^1.5) worst-case instead of sum deg^2, which a
    celebrity hub would otherwise make quadratic.

    Exactness: everything through the corner count is DISTINCT sets /
    exact integer counts; the coefficient 2T/(d(d-1)) is one IEEE
    division on identical integers.

    Scale shape: DISTINCT ``basket_pairs`` (linear for bounded baskets)
    -> degree (two-key agg) -> oriented edges (two broadcastable deg
    joins at dim scale, shuffle joins at web scale) -> wedge self-join
    partitioned on src -> closing equi-join on (src, dst). All
    equi-joins, all spillable; no driver traffic.

    Cost regime: O(E^1.5) wedge work is structurally supra-linear
    (first-decade probe 6.8x), so the FULL graph is the exactness
    anchor, benched at sf0.01 in the A/B slot; the sf0.1 headline
    entry is triangle_count_sparse (weight >= 2 sparsification, same
    pipeline), the lever this docstring has always named for the
    100 TB regime."""
    return _triangle_pipeline(basket_pairs(spark, sf_dir).distinct())


@query("triangle_count_sparse", oracle=_tri_oracle(_TRI_UND_SPARSE))
def triangle_count_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """triangle_count over the SPARSIFIED co-purchase graph: an edge
    survives only when its two parts were co-purchased in >= 2
    distinct orders (the weighted graph's w >= 2, exactly the
    min-support filter copurchase_lift applies before computing lift).
    This is the production headline variant: one-off co-occurrences
    are noise for community structure but dominate |E| at scale — at
    sf0.1 the filter drops ~97% of edges, and the wedge join's
    O(E^1.5) makes that a >30x work reduction, turning the exact
    variant's structurally supra-linear cost back to
    tractable-at-100-TB while keeping every repeatedly-confirmed
    bundle.

    Exactness: identical to triangle_count (the oracle runs the same
    HAVING COUNT(*) >= 2 graph); degrees/triangles are exact integers
    over the sparsified edge set, one IEEE division at the boundary.

    Scale shape: identical pipeline; the GROUP BY (a, b) HAVING
    replaces the DISTINCT (same single shuffle — the support count is
    free map-side partial work on the exchange DISTINCT already
    paid for)."""
    und = (
        basket_pairs(spark, sf_dir)
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= _TRI_MIN_W)
        .select("a", "b")
    )
    return _triangle_pipeline(und)


@query(
    "degree_assortativity",
    oracle="""
    WITH pk AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM pk a JOIN pk b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS MATERIALIZED (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    ),
    dirv AS (
      SELECT da.deg AS dj, db.deg AS dk
      FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b
      UNION ALL
      SELECT db.deg AS dj, da.deg AS dk
      FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             CAST(SUM(dj) AS BIGINT) AS sj,
             CAST(SUM(dk) AS BIGINT) AS sk,
             CAST(SUM(dj * dk) AS BIGINT) AS sjk,
             CAST(SUM(dj * dj) AS BIGINT) AS sjj
      FROM dirv
    )
    SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           floor(((CAST(m2 AS DOUBLE) * CAST(sjk AS DOUBLE)
                   - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE))
                  / (CAST(m2 AS DOUBLE) * CAST(sjj AS DOUBLE)
                     - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS assortativity
    FROM s
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-assortativity coefficient of the part co-purchase graph:
    the Pearson correlation of endpoint degrees over every directed
    edge (each undirected edge contributes both orientations, the
    standard symmetrization). Positive = hubs buy with hubs
    (assortative, social-network-like); negative = hubs bridge
    long-tail parts (disassortative, catalog-like) — one number that
    tells a retrieval/recommendation layer which graph regime it is in,
    completing the graph family (pagerank_copurchase = importance,
    triangle_count = local density, this = global mixing).

    Exactness: degrees are exact integer counts; the five moments are
    exact BIGINT sums over the directed edge list (symmetric, so
    sj == sk and sjj doubles as both marginal second moments); the
    coefficient is IEEE arithmetic on identical scalars, floor-masked
    to 6dp at the boundary.

    Scale shape: DISTINCT ``basket_pairs`` (bounded-basket linear) ->
    two broadcastable degree joins -> single-row moment agg. No data-sized
    stage after the first DISTINCT; the moment agg is map-side partial
    everywhere."""
    und = basket_pairs(spark, sf_dir).distinct()
    # und's DISTINCT already ends in an Exchange+HashAggregate; its
    # three consumers (deg's two union legs + the edge join) reuse that
    # exchange (ReusedExchange), so no persist/checkpoint is needed —
    # same leak-free sharing as triangle_count's oriented edges.
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    da = deg.select(F.col("node").alias("na"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("nb"), F.col("deg").alias("degb"))
    joined = und.join(da, F.col("na") == F.col("a")).join(
        db, F.col("nb") == F.col("b")
    )
    # r13: the directed edge list is the undirected one twice with the
    # endpoint degrees swapped, so every directed moment is an exact
    # integer function of ONE pass over the undirected join: m2 = 2·|E|,
    # sj = sk = Σ(dega+degb), sjk = 2·Σ(dega·degb), sjj = Σ(dega²+degb²).
    # Same BIGINT sums as the old unionAll of both orientations (which
    # executed the deg join subtree twice), half the aggregated rows,
    # one fewer join pass. The oracle still aggregates the directed
    # list; the values are identical by symmetry.
    s = joined.agg(
        (F.count("*") * F.lit(2)).cast("long").alias("m2"),
        (F.sum("dega") + F.sum("degb")).cast("long").alias("sj"),
        (F.sum("dega") + F.sum("degb")).cast("long").alias("sk"),
        (F.sum(F.col("dega") * F.col("degb")) * F.lit(2))
        .cast("long")
        .alias("sjk"),
        (
            F.sum(F.col("dega") * F.col("dega"))
            + F.sum(F.col("degb") * F.col("degb"))
        )
        .cast("long")
        .alias("sjj"),
    )
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    num = F.col("m2").cast("double") * F.col("sjk").cast("double") - F.col(
        "sj"
    ).cast("double") * F.col("sk").cast("double")
    den = F.col("m2").cast("double") * F.col("sjj").cast("double") - F.col(
        "sj"
    ).cast("double") * F.col("sj").cast("double")
    return s.crossJoin(F.broadcast(n_nodes)).select(
        (F.col("m2") / F.lit(2)).cast("long").alias("n_edges"),
        F.col("n_nodes"),
        fixed(num / den, 6).alias("assortativity"),
    )
