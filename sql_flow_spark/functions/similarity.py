"""Similarity search over embedding columns (array<float>).

Two paths, as SURVEY.md §2 rows 27-28:

- ``ann_cosine_topk`` — brute-force exact top-k: broadcast the (small)
  query set, one scan over the embeddings, per-query top-k. The
  baseline and the oracle-checked one.
- ``ann_lsh_topk`` — random-hyperplane LSH: bucket candidates by sign
  bits, only score within the query's bucket, exact rerank. The scale
  path: at 100 TB the scored pair count drops by ~2^n_planes.

Cross-engine determinism: cosine is computed from DECIMAL-exact sums
of double products (see ``cosine_cols``), then a single IEEE
sqrt/divide — bit-identical between Spark and DuckDB, so ordering and
thresholds agree exactly.

One cosine-search rule, shared by every search, dedup and retrieval
builder (here, ``dedup.py``, ``retrieval.py`` and
``streaming/ann_index.py``): ``norm`` is a vector's norm, ``pair_cosine``
scores a candidate pair from the two stored norms (0 when either is 0),
``top_per_query`` keeps each query's top k by (score DESC, nid) with an
INT rank, and ``recall_panel`` grades an approximate neighbor list
against the exact one. Only candidate generation (LSH buckets, IVF
cells, ADC shortlists) differs between methods;
``tests/test_properties.py::test_cosine_rule_lives_in_similarity``
keeps hand-written copies out.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_flow_spark.localdf import _TwinOverflow, bounded_or_distributed, local_df
from sql_flow_spark.registry import dsum, fixed, o_dsum, query, scaled_int
from sql_flow_spark.tables import load_tables

# Engine-identical exact dot products. Per-element products are pure
# IEEE double math (identical in Spark and DuckDB); each term is then
# fixed-pointed via scaled_int (floor(t*1e12 + 0.5), pure IEEE) and summed
# as integers (exact, order-insensitive). Casting the *computed* double
# to decimal directly would NOT be safe: Spark converts via shortest
# string repr, DuckDB via the true binary value, and they disagree on
# repr-boundary ties.
_DOT_SCALE = 12  # fixed-point digits


def dot_dec(a: Column, b: Column) -> Column:
    """Exact dot product exposed as DOUBLE (engine-identical)."""
    terms = F.zip_with(
        a, b, lambda x, y: scaled_int(x.cast("double") * y.cast("double"), _DOT_SCALE)
    )
    acc = F.aggregate(
        terms,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, v: acc + v,
    )
    return acc.cast("double") / F.lit(10.0**_DOT_SCALE)


def sq_norm_dec(a: Column) -> Column:
    return dot_dec(a, a)


def norm(col: Column | str) -> Column:
    """The family's vector norm: sqrt of the exact squared norm."""
    return F.sqrt(sq_norm_dec(F.col(col) if isinstance(col, str) else col))


# Schema width of the embeddings table (TESTDATA.md contract; also
# _PI_DIMS below). The fast dot kernel unrolls to this width and
# falls back to the generic fold for any other array length.
_DOT_UNROLL_DIMS = 64
# Σ|term| bound under which a chain of integer-valued doubles sums
# exactly (every partial stays < 2^53 ≈ 9.0e15): unit-ish embedding
# components give |term| <= ~1e12, 64 of them <= ~6.4e13 — three
# orders of magnitude inside the bound.
_DOT_EXACT_BOUND = "4.5E15D"


def _dot_term_sql(a: str, b: str, i: int) -> str:
    return (
        f"cast(floor(cast({a}[{i}] as double) * cast({b}[{i}] as double)"
        f" * {10.0 ** _DOT_SCALE:.1f}D + 0.5D) as double)"
    )


def dot_dec_fast(a: str, b: str, na: str, nb: str) -> Column:
    """dot_dec over SQL column names, with a codegen fast path.

    Bit-identical to ``dot_dec`` by construction (r13 optimization
    round): when both arrays are exactly ``_DOT_UNROLL_DIMS`` wide AND
    the exactness guard holds, the terms (the identical
    floor(x*y*SCALE + 0.5) doubles — floor of a double is
    integer-valued and exact below 2^53) are summed as DOUBLES: every
    partial sum of integer-valued doubles bounded by Σ|t| < 2^53 is
    exact, so the result equals the decimal fold term for term. Any
    other shape (wrong width, nulls pushing the guard to NULL,
    magnitudes beyond the documented unit-ish domain) falls back to
    the original zip_with/aggregate DECIMAL(38,0) fold in the same
    expression. Measured ~2.4x on the 2M-pair kernel benchmark
    (OPTIMIZATION_r13.md) — the interpreted higher-order fold is the
    single hottest per-row cost of the embedding family.

    The guard takes the vectors' norm columns ``na``/``nb`` (every
    pair scorer already has them for safe_cos): the Σ|t| bound comes
    from Cauchy-Schwarz instead of a second 64-term abs pass:
    Σ|t_i| ≤ SCALE·Σ|a_i·b_i| + n ≤
    SCALE·‖a‖·‖b‖ + n, and the fixed-point norms under-estimate the
    true norms by < 6e-6, absorbed by the +1e-5 margin. The guard is
    strictly TIGHTER, and any row it reroutes lands on the exact
    DECIMAL fallback — identical value either way (verified: 0
    mismatches over 2M pairs). Effect: the expression halves (64
    terms instead of 128), ~1.5x warm and ~3x cold (codegen size) on
    the kernel bench. A null element nulls the norm, which nulls the
    guard and routes the row to the fallback.

    Called only through ``pair_cosine`` (the hot pair stages);
    ``dot_dec`` stays the general Column-level API."""
    n = _DOT_UNROLL_DIMS
    sd = " + ".join(_dot_term_sql(a, b, i) for i in range(n))
    guard = (
        f"(({na} + 1.0E-5D) * ({nb} + 1.0E-5D) * {10.0 ** _DOT_SCALE:.1f}D"
        f" + {n}.0D) < {_DOT_EXACT_BOUND}"
    )
    fb = (
        f"cast(aggregate(zip_with({a}, {b}, (x, y) ->"
        f" cast(floor(cast(x as double) * cast(y as double)"
        f" * {10.0 ** _DOT_SCALE:.1f}D + 0.5D) as decimal(30,0))),"
        f" cast(0 as decimal(38,0)), (acc, v) -> acc + v) as double)"
    )
    return F.expr(
        f"(case when size({a}) = {n} and size({b}) = {n}"
        f" and {guard} then ({sd})"
        f" else {fb} end / {10.0 ** _DOT_SCALE:.1f}D)"
    )


def cosine_cols(a: Column, b: Column) -> Column:
    return safe_cos(dot_dec(a, b), norm(a), norm(b))


# Zero-norm convention for the whole cosine family (Spark side +
# o_safe_cos oracle twin): cosine is 0.0 when EITHER norm is 0 — a
# zero vector (a failed embedding job's classic output; tiny-magnitude
# vectors also collapse to norm 0 under the fixed-point dot) carries
# no directional evidence, so it matches nothing, dedups with nothing,
# and ranks below every real neighbor. Without the lazy guard, ANSI
# Spark aborts the whole job on the 0/0 division — found by the
# adversarial embedding sweep (tests/test_adversarial_corpus.py).
def safe_cos(dot: Column, na: Column, nb: Column) -> Column:
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
        dot / (na * nb)
    )


def pair_cosine(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of a scored pair over column names: vectors ``a``/``b``
    with their stored norms ``na``/``nb`` (``norm``), the fast exact
    dot, 0 when either norm is 0."""
    return safe_cos(dot_dec_fast(a, b, na, nb), F.col(na), F.col(nb))


def o_safe_cos(dot_expr: str, na: str, nb: str) -> str:
    return (
        f"CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0"
        f" ELSE {dot_expr} / ({na} * {nb}) END"
    )


# DuckDB oracle equivalent: same fixed-point terms over a scalar
# generate_series index list, summed with list_sum (decimal -> exact).
def o_dot_dec(a: str, b: str) -> str:
    return (
        f"(CAST(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"* {10.0 ** _DOT_SCALE:.1f} + 0.5) AS DECIMAL(30,0)))) AS DOUBLE)"
        f" / {10.0 ** _DOT_SCALE:.1f})"
    )


# Cosine over candidate pairs, with per-vector norms computed ONCE in
# the `norms` CTE (callers must provide `norms(vec_id, nrm)` alongside
# `pairs`) instead of per pair — at scale this turns O(pairs * dim)
# norm work into O(vectors * dim).
O_NORMS_CTE = f"""
  SELECT vec_id, sqrt({o_dot_dec('embedding', 'embedding')}) AS nrm
  FROM embeddings
"""

O_COSINE_PAIRS = f"""
  SELECT
    qid,
    nid,
    {o_safe_cos(o_dot_dec('ea', 'eb'), 'qn.nrm', 'cn.nrm')} AS cosine
  FROM pairs
  JOIN norms qn ON qn.vec_id = qid
  JOIN norms cn ON cn.vec_id = nid
"""

N_QUERIES = 8
TOP_K = 5

# Embedding near-dup cosine threshold, shared by the whole family
# (embedding_near_dup_pairs / dedup_embedding / dedup_embedding_lsh in
# dedup.py and semdedup_prune below): the synthetic embeddings top out
# near cosine 0.47, so 0.40 yields a real-but-sparse pair set. ONE
# definition — retuning it moves every consumer together.
EMB_DUP_TAU = 0.40


def _with_norm(e: DataFrame) -> DataFrame:
    """Attach the per-vector norm once (narrow map, computed at the
    scan) so pair scoring only pays for the dot product."""
    return e.withColumn("nrm", norm("embedding"))


def _sides(
    e: DataFrame,
    carry: tuple[str, ...] = (),
    q_extra: tuple[Column, ...] = (),
    c_extra: tuple[Column, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Split a normed corpus (vec_id, embedding, nrm, ...) into the
    query side (qid, q<carry>, ea, qnrm, *q_extra) — vec_id <
    N_QUERIES — and the corpus side (nid, n<carry>, eb, cnrm,
    *c_extra), the rest."""

    def side(cond, key, p, emb, nrm, extra):
        return e.where(cond).select(
            F.col("vec_id").alias(key),
            *(F.col(c).alias(p + c) for c in carry),
            F.col("embedding").alias(emb),
            F.col("nrm").alias(nrm),
            *extra,
        )

    return (
        side(F.col("vec_id") < N_QUERIES, "qid", "q", "ea", "qnrm", q_extra),
        side(F.col("vec_id") >= N_QUERIES, "nid", "n", "eb", "cnrm", c_extra),
    )


def top_per_query(df: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The top ``k`` rows per ``qid`` by (``score`` DESC, nid), with the
    INT ``rank`` column: every neighbor list of the family."""
    w = Window.partitionBy("qid").orderBy(F.col(score).desc(), F.col("nid"))
    return df.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )


def recall_panel(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Grade ``approx`` (qid, nid) neighbor lists against the ``exact``
    top-``k`` (qid, nid): one row (n_queries, macro_recall, min_recall,
    perfect_queries). A query the approximate method returns nothing
    for still counts, with recall 0: the qid base frame comes from
    ``exact``. Every query has exactly k exact neighbors, so the macro
    average of hits_q/k is sum(hits)/(|Q|*k) — one division of exact
    BIGINTs instead of an order-sensitive double sum."""
    hits = (
        approx.select("qid", "nid")
        .join(F.broadcast(exact), ["qid", "nid"])
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    per_q = (
        exact.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select(F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"))
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        (
            F.sum("hits").cast("double")
            / (F.count("*") * F.lit(k)).cast("double")
        ).alias("macro_recall"),
        (F.min("hits").cast("double") / F.lit(float(k))).alias("min_recall"),
        F.sum((F.col("hits") == k).cast("long")).cast("long").alias("perfect_queries"),
    )


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH norms AS ({O_NORMS_CTE}),
    pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS nid,
             q.embedding AS ea, c.embedding AS eb
      FROM embeddings q, embeddings c
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ),
    scored AS ({O_COSINE_PAIRS})
    SELECT qid, nid, cosine, rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY cosine DESC, nid) AS INTEGER) AS rank
      FROM scored
    )
    WHERE rank <= {TOP_K}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: queries (vec_id < 8) are broadcast, so
    scoring is map-side over a single embeddings scan; the only shuffle
    is the per-query top-k (k*|Q| rows). Exact baseline for ANN."""
    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    q, c = _sides(_with_norm(t["embeddings"]))
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "nid", pair_cosine("ea", "eb", "qnrm", "cnrm").alias("cosine")
    )
    return top_per_query(scored, TOP_K).select("qid", "nid", "cosine", "rank")


# Multi-table sign LSH: L tables of k hyperplanes each. One table of
# k bits has collision prob (1 - theta/pi)^k for angle theta — too
# sharp a cliff alone; OR-ing L tables lifts recall to
# 1 - (1 - p^k)^L while candidates stay ~L * n^2 / 2^k per bucket mass.
LSH_TABLES = 8
LSH_BITS = 4
_LSH_SEED = 42


def _hyperplanes(dim: int) -> np.ndarray:
    return np.random.RandomState(_LSH_SEED).standard_normal(
        (LSH_TABLES * LSH_BITS, dim)
    )


def embedding_dim(emb: DataFrame, emb_col: str = "embedding") -> int:
    """Vector dimensionality from column metadata (``{"dim": N}``) when
    present, falling back to a one-row probe. The probe is a
    LocalLimit(1) job — cheap but an extra driver-side action per
    builder call; attach metadata upstream to keep plans fully lazy."""
    md = emb.schema[emb_col].metadata or {}
    if "dim" in md:
        return int(md["dim"])
    return len(emb.select(emb_col).first()[0])


def lsh_buckets(emb: Column, planes: np.ndarray) -> Column:
    """Array of per-table bucket ids (table index folded in, so bucket
    values never collide across tables).

    One Arrow-batched matmul computes all table x bit sign projections
    at once (batch x dim @ dim x planes) — the expression-tree
    formulation (one array fold per plane) costs ~plane-count more and
    blows up codegen. Bucketing needs no cross-engine exactness, so
    numpy doubles are fine."""
    from pyspark.sql.types import ArrayType, IntegerType

    planes_t = planes.T.copy()  # dim x (tables*bits)
    bit_weights = np.tile(1 << np.arange(LSH_BITS), LSH_TABLES)
    table_offsets = np.repeat(np.arange(LSH_TABLES) << LSH_BITS, LSH_BITS)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _buckets(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy())  # n x dim
        signs = (mat @ planes_t) > 0  # n x (tables*bits)
        contrib = signs * bit_weights  # bucket bits per plane
        per_table = contrib.reshape(len(mat), LSH_TABLES, LSH_BITS).sum(axis=2)
        per_table = per_table + (np.arange(LSH_TABLES) << LSH_BITS)
        return pd.Series(list(per_table.astype(np.int32)))

    return _buckets(emb)


@query("ann_lsh_topk")  # approximate -> rows-only check
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN: candidates are pairs sharing ANY of the 4
    per-table buckets, deduped, then exact-cosine reranked per query.
    At 100 TB: (table,bucket) is the shuffle key after the bucket
    explode, queries broadcast, per-bucket work independent; recall is
    tuned with LSH_TABLES x LSH_BITS (tested in
    tests/test_approx_quality.py)."""
    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    e = t["embeddings"]
    planes = _hyperplanes(embedding_dim(e))
    with_bucket = _with_norm(e).select(
        "vec_id", "embedding", "nrm",
        lsh_buckets(F.col("embedding"), planes).alias("buckets"),
    )
    q, c = _sides(
        with_bucket,
        q_extra=(F.explode("buckets").alias("qbucket"),),
        c_extra=(F.explode("buckets").alias("bucket"),),
    )
    cand = (
        c.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .select("qid", "nid", "ea", "eb", "qnrm", "cnrm")
        .dropDuplicates(["qid", "nid"])
    )
    scored = cand.select(
        "qid", "nid", pair_cosine("ea", "eb", "qnrm", "cnrm").alias("cosine")
    )
    return top_per_query(scored, TOP_K).select("qid", "nid", "cosine", "rank")


# ----------------------------------------------------------------- IVF

# IVF (inverted-file) coarse quantization: k-means centroids trained on
# a bounded deterministic sample (exactly how production coarse
# quantizers are trained — faiss trains on a corpus sample, not the
# full set), corpus vectors assigned to their nearest centroid once,
# queries probe the IVF_NPROBE nearest cells. Scored pairs drop from
# |Q|*n to ~|Q|*n*nprobe/k while recall stays high on clustered data.
IVF_K = 16
IVF_NPROBE = 4
_IVF_TRAIN_SAMPLE = 1024
_IVF_TRAIN_ITERS = 5


def ivf_centroids(
    e: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = IVF_K,
    sample: int = _IVF_TRAIN_SAMPLE,
    iters: int = _IVF_TRAIN_ITERS,
) -> np.ndarray:
    """Train k cosine-space centroids with Lloyd iterations on a
    deterministic sample: the ``sample`` rows with the smallest
    xxhash64(id) — a uniform pseudo-random draw (hashing destroys any
    id↔content correlation a lowest-ids sample would inherit) that is
    reproducible across runs and partitionings. Bounded driver
    transfer of sample*dim doubles, ~0.5 MB; at 100 TB this stays a
    sample, never the corpus. The plan is TakeOrderedAndProject
    (per-partition top-k heap, merged at the driver) — no Exchange, no
    global Sort; pinned by test_plans.test_ivf_trainer_plan_has_no_
    exchange. Returns L2-normalized centroids, so nearest-centroid by
    dot product equals nearest by cosine."""
    rows = (
        e.select(id_col, emb_col)
        .orderBy(F.xxhash64(F.col(id_col)), id_col)
        .limit(sample)
        .collect()
    )
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    cent = mat[:k].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for j in range(k):
            members = mat[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
        cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def _ivf_assign_np(
    mat: np.ndarray, centroids: np.ndarray, nprobe: int
) -> np.ndarray:
    """The numpy core of ``ivf_assign`` — ONE implementation shared by
    the executor UDF and driver-side callers (ann_index._train_pq's
    bounded fast path), so both produce identical assignments
    including argsort tie behavior."""
    cent_t = centroids.T.copy()
    norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    sims = (mat / norms) @ cent_t
    return np.argsort(-sims, axis=1)[:, :nprobe]


def ivf_assign(emb: Column, centroids: np.ndarray, nprobe: int = 1) -> Column:
    """Array of the ``nprobe`` nearest centroid ids for each vector
    (one Arrow-batched matmul per batch; centroids ride the closure —
    k*dim doubles, broadcast-sized)."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _assign(embs: pd.Series) -> pd.Series:
        mat = np.stack(embs.to_numpy()).astype(np.float64)
        top = _ivf_assign_np(mat, centroids, nprobe)
        return pd.Series(list(top.astype(np.int32)))

    return _assign(emb)


@query("ann_ivf_topk")  # approximate -> rows-only check
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus vectors live in ONE centroid cell each; queries
    probe their IVF_NPROBE nearest cells; exact cosine rerank inside
    the probed cells.

    At 100 TB: cell id is the join/shuffle key (corpus partitioned by
    cell once, reusable across query batches), queries broadcast, and
    per-cell work is independent — the classic IVF layout, expressed
    as a DataFrame join instead of an index file. Recall/latency tunes
    with IVF_K (cells) and IVF_NPROBE (cells probed per query), pinned
    by tests/test_approx_quality.py."""
    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    e = t["embeddings"]
    cent = ivf_centroids(e)
    emb = F.col("embedding")
    q, c = _sides(
        _with_norm(e),
        q_extra=(F.explode(ivf_assign(emb, cent, IVF_NPROBE)).alias("qcell"),),
        c_extra=(ivf_assign(emb, cent, 1)[0].alias("cell"),),
    )
    cand = (
        c.join(F.broadcast(q), F.col("cell") == F.col("qcell"))
        .select("qid", "nid", "ea", "eb", "qnrm", "cnrm")
        .dropDuplicates(["qid", "nid"])
    )
    scored = cand.select(
        "qid", "nid", pair_cosine("ea", "eb", "qnrm", "cnrm").alias("cosine")
    )
    return top_per_query(scored, TOP_K).select("qid", "nid", "cosine", "rank")


@query("ann_ivf_incremental")  # approximate + disk index -> rows-only
def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index's third verb: APPEND (streaming/ann_index.py).
    Builds the disk-resident cell-partitioned index from half the
    corpus, appends the other half WITHOUT retraining (assign-only —
    one Arrow matmul against the frozen centroids, a narrow map + one
    partitioned write, no shuffle), then answers the standard query
    set against the grown index. The append path also emits the
    cell-occupancy PSI drift verdict that schedules retraining
    (tests/test_approx_quality.py pins both recall vs brute force and
    the drift trigger firing on a shifted batch).

    At 100 TB: ingest cost per micro-batch is O(batch) with zero
    shuffle; queries read only nprobe/k of the index via Hive
    partition pruning on cell."""
    import hashlib
    import tempfile

    from sql_flow_spark.streaming.ann_index import IncrementalIVF

    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    e = t["embeddings"]
    corpus = e.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") % 2 == 0)
    )
    arrivals = e.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") % 2 == 1)
    )
    queries_df = e.where(F.col("vec_id") < N_QUERIES)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    index_dir = os.path.join(tempfile.gettempdir(), f"sfs-ann-ivf-{tag}")
    # nprobe 6 (vs the one-shot path's 4): centroids are trained on
    # half the corpus, so cell boundaries are coarser — probing two
    # extra cells buys the recall back at +50% probe cost.
    idx = IncrementalIVF.build(
        spark, index_dir, corpus, k=IVF_K, nprobe=IVF_NPROBE + 2
    )
    idx.append_batch(arrivals, 0)
    return idx.search(queries_df, TOP_K)


@query("ann_ivfpq_incremental")  # approximate + disk index -> rows-only
def ann_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF-PQ serving path: ann_ivfpq_topk's residual-PQ
    ADC quantizer wired into the incremental disk index
    (streaming/ann_index.py). build(pq_k=16) trains the coarse
    quantizer AND per-subspace residual codebooks on half the corpus,
    every written row carries its 8 codeword ids, the other half is
    appended WITHOUT retraining (assign + encode — one Arrow matmul
    pass, no shuffle), and queries are served by ``search_pq``: ADC
    scoring over the partition-pruned, COLUMN-PRUNED candidate scan
    (codes read, raw embeddings untouched), exact-cosine rerank on the
    top-50 shortlist only.

    This closes the 100 TB ANN story: per-batch ingest is O(batch)
    map-only; the serving scan reads 4 bytes of codes per candidate
    instead of 512 bytes of float64 (the faiss IVFADC memory-bandwidth
    economics on an object-store layout); retraining stays a
    monitored, deliberate event (occupancy PSI). Recall vs brute force
    and determinism are pinned in tests/test_approx_quality.py; the
    restart/replay/compaction contracts in tests/test_ann_index.py."""
    import hashlib
    import tempfile

    from sql_flow_spark.streaming.ann_index import IncrementalIVF

    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    e = t["embeddings"]
    corpus = e.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") % 2 == 0)
    )
    arrivals = e.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") % 2 == 1)
    )
    queries_df = e.where(F.col("vec_id") < N_QUERIES)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    index_dir = os.path.join(tempfile.gettempdir(), f"sfs-ann-ivfpq-{tag}")
    idx = IncrementalIVF.build(
        spark, index_dir, corpus, k=IVF_K, nprobe=IVF_NPROBE + 2,
        pq_k=IVFPQ_PQ_K, pq_sub_dim=PQ_SUB_DIM,
    )
    idx.append_batch(arrivals, 0)
    return idx.search_pq(queries_df, TOP_K, shortlist=IVFPQ_SHORTLIST)


@query("ann_recall_report")  # grades seeded approx methods -> rows-only
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality-eval panel: per approximate method (multi-table
    sign LSH, IVF nprobe-cell probing, IVF-PQ with residual ADC) its
    recall@5 against the exact brute-force top-k — macro-averaged over
    the query set, the worst
    single query, and how many queries were retrieved perfectly. This
    is the panel an ANN owner materializes BEFORE trading the exact
    scan for an index (and re-materializes after every re-train):
    tests/test_approx_quality.py asserts recall floors per method once;
    this key makes the same measurement a first-class, schedulable
    query over whatever corpus is mounted.

    Scoring is a set comparison on (qid, nid): a method earns credit
    only for returning the exactly-right neighbor ids, not for close
    cosines (score-mass "recall" flatters methods that fill the list
    with near-misses). Queries a method returns NOTHING for still
    count — the qid base frame comes from the exact panel, so an
    empty-candidate query contributes recall 0 instead of vanishing
    from the average (the classic eval bug).

    Exactness: hits are exact integer counts; every reported ratio
    divides exact BIGINTs by the constant K. Both methods are
    deterministic here (seeded hyperplanes; xxhash64-sampled IVF
    trainer), so the panel reproduces bit-for-bit across runs.

    Scale shape: each method's candidate generation keeps its own
    documented layout (bucket/cell shuffle keys, broadcast queries);
    this panel adds only joins against the |Q|*K-row exact table —
    localCheckpointed once and broadcast to both legs — and a
    |Q|-row aggregate per method. Cost = one exact scan + one scan
    per graded method, which is the honest price of a recall audit."""
    exact = (
        ann_cosine_topk(spark, sf_dir)
        .select("qid", "nid")
        .localCheckpoint(eager=True)
    )

    def leg(name: str, approx: DataFrame) -> DataFrame:
        return recall_panel(exact, approx, TOP_K).select(
            F.lit(name).alias("method"), "*"
        )

    lsh = leg("lsh", ann_lsh_topk(spark, sf_dir))
    ivf = leg("ivf", ann_ivf_topk(spark, sf_dir))
    ivfpq = leg("ivfpq", ann_ivfpq_topk(spark, sf_dir))
    return lsh.unionByName(ivf).unionByName(ivfpq)


# ---------------------------------------------------- label centroids

@query(
    "embedding_centroids",
    oracle=f"""
    SELECT
      label,
      CAST(i - 1 AS INTEGER) AS dim,
      {o_dsum('CAST(v AS DOUBLE)')} / CAST(COUNT(*) AS DOUBLE) AS centroid
    FROM (
      SELECT label,
             unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    )
    GROUP BY label, i
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector, one row per (label, dimension) — the
    cluster-profile / class-prototype computation behind IVF training,
    drift monitoring, and centroid-distance outlier scoring.

    Scale shape: posexplode is a narrow per-row flatMap (x64 rows, no
    Python); the single shuffle lands on (label, dim) — a key space of
    labels x dims, far smaller than the data — with map-side partial
    sums. The mean divides a fixed-point-exact sum by an exact count,
    so both engines emit the identical double per cell. Returning the
    long format (label, dim, value) instead of re-assembling arrays
    keeps the result joinable/aggregatable without another shuffle;
    collect to vectors only at the consumer."""
    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    exploded = t["embeddings"].select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return (
        exploded.groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg(
            (dsum(F.col("v").cast("double")) / F.count("*").cast("double")).alias(
                "centroid"
            )
        )
    )


# ------------------------------------------- power iteration (top PC)

# Iteration count: enough for the dominant eigenvector of this
# corpus's Gram matrix (quality pinned vs numpy in
# tests/test_approx_quality.py); both engines run the IDENTICAL
# unrolled arithmetic so the oracle matches bit-for-bit regardless.
_PI_ITERS = 6
_PI_SCALE = 8  # fixed-point digits for every sum
_PI_DIMS = 64  # embeddings schema contract (TESTDATA.md)

# Exploded-fact rows per task for the iterative trainers (Lloyd /
# power iteration / PQ): each task carries ~30-80 ms of fixed
# scheduling + codegen-dispatch cost, so tasks need enough fixed-point
# aggregate rows to amortize it. r13 pinned these facts to
# defaultParallelism outright, which the driver's arbiter measured as
# a REGRESSION at sf0.1 (kmeans 0.75x, pq_audit 0.70x — 32 tasks of
# 4k rows are overhead-dominated, and 8 cores beat 32). Sizing by
# rows/task is the scale-correct form: tiny facts get few tasks,
# production facts saturate every core.
_FACT_ROWS_PER_TASK = 32768


def _fact_parts(emb: DataFrame, emb_col: str = "embedding") -> int:
    """Partition count for an exploded (vec_id, dim, val) fact:
    ceil(nrows * dim / _FACT_ROWS_PER_TASK) clamped to [1, cores].
    nrows/dim come from the parquet footer metadata load_tables
    attaches to the vector column (zero Spark jobs); without metadata
    fall back to core count (the r13 behavior)."""
    sc = emb.sparkSession.sparkContext
    cores = sc.defaultParallelism
    try:
        md = emb.schema[emb_col].metadata
        n = int(md.get("nrows", 0)) * int(md.get("dim", 0))
    except Exception:
        n = 0
    if n <= 0:
        return cores
    return max(1, min(cores, -(-n // _FACT_ROWS_PER_TASK)))


def _pi_oracle() -> str:
    # MATERIALIZED: e is referenced 2x per iteration and each s/w/v
    # feeds the next — without the hint DuckDB inlines the whole
    # 6-deep chain into every reference (measured 54s -> sub-second).
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,"
        " CAST(v AS DOUBLE) AS val FROM (SELECT vec_id,"
        " unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i"
        " FROM embeddings))",
        f"v0 AS (SELECT CAST(i AS INTEGER) AS dim, 0.125 AS v FROM"
        f" (SELECT unnest(generate_series(0, {_PI_DIMS - 1})) AS i))",
    ]
    for k in range(1, _PI_ITERS + 1):
        ctes.append(
            f"s{k} AS MATERIALIZED (SELECT vec_id, {o_dsum('val * v', _PI_SCALE)} AS s"
            f" FROM e JOIN v{k - 1} USING (dim) GROUP BY vec_id)"
        )
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT dim, {o_dsum('val * s', _PI_SCALE)} AS w"
            f" FROM e JOIN s{k} USING (vec_id) GROUP BY dim)"
        )
        ctes.append(
            f"n{k} AS (SELECT sqrt({o_dsum('w * w', _PI_SCALE)}) AS nrm FROM w{k})"
        )
        ctes.append(
            f"v{k} AS MATERIALIZED (SELECT dim, w / nrm AS v FROM w{k}, n{k})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT dim, v AS loading FROM v{_PI_ITERS}"
    )


@query("embedding_top_pc", oracle=_pi_oracle())
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six steps of distributed power iteration toward the dominant
    principal direction of the embedding matrix (top eigenvector of
    the un-centered Gram matrix X'X) — the iterative-algorithm shape
    (PageRank, ALS, k-means all share it) expressed in pure DataFrame
    ops, and STILL oracle-backed: the DuckDB oracle is the same six
    iterations unrolled into materialized CTEs with identical
    fixed-point arithmetic, so both engines walk the same trajectory
    bit-for-bit (pinned step-for-step against numpy in
    tests/test_approx_quality.py). Convergence to the eigenvector
    itself is spectral-gap dependent — this synthetic corpus is
    near-isotropic (λ1/λ2 ≈ 1.07), so what the gate certifies is the
    exact trajectory; on real embedding corpora with a dominant
    direction the same six steps land the converged vector.

    Scale shape: under the driver bound (localdf.bounded_or_distributed)
    the identical fixed-point trajectory runs in numpy (same
    floor(term*1e8+0.5) integer sums per step, int64-exact under the
    _ck guards; the oracle gate arbitrates equality), returning the
    64-row loading vector as an Arrow local frame. Past the bound (or
    on null/ragged/wild data) the distributed path runs: the exploded
    (vec_id, dim, val) table is checkpointed ONCE, pre-partitioned on
    vec_id, and reused by all iterations; per iteration the score
    groupBy and the join-back REUSE that partitioning (no fact
    exchange), leaving one small exchange onto the 64-dim key space; v
    is a 64-row broadcast."""
    emb = load_tables(spark, sf_dir, ("embeddings",), spread=False)[
        "embeddings"
    ]

    def twin(pdf):
        got = _probed_embeddings(pdf)
        if got is None or got[1].shape[1] != _PI_DIMS:
            return None
        vals = got[1]
        scale = 10.0**_PI_SCALE
        v_np = np.full(_PI_DIMS, 0.125)
        for _ in range(_PI_ITERS):
            s = (
                _ck(
                    np.floor((vals * v_np[None, :]) * scale + 0.5),
                    _PI_DIMS,
                ).astype(np.int64).sum(axis=1)
                / scale
            )
            w = (
                _ck(
                    np.floor((vals * s[:, None]) * scale + 0.5),
                    len(vals),
                ).astype(np.int64).sum(axis=0)
                / scale
            )
            nw = _ck(np.floor((w * w) * scale + 0.5), 1)
            # 64-term norm sum in python ints (arbitrary precision;
            # float(exact int) is the same correctly-rounded double
            # the decimal->double cast produces)
            nrm = np.sqrt(float(sum(int(x) for x in nw)) / scale)
            v_np = w / nrm
        return local_df(
            spark,
            [(d, float(v_np[d])) for d in range(_PI_DIMS)],
            "dim int, loading double",
        )

    return bounded_or_distributed(
        emb.select("vec_id", "embedding"), twin, lambda: _pi_distributed(emb)
    )


def _pi_distributed(emb: DataFrame) -> DataFrame:
    """embedding_top_pc's distributed power iteration."""
    spark = emb.sparkSession
    e = _pq_fact(emb, sub_dim=None)
    v = spark.range(_PI_DIMS).select(
        F.col("id").cast("int").alias("dim"), F.lit(0.125).alias("v")
    )
    # The norm is a window over the 64-row w (single in-memory
    # partition — cheaper than a broadcast-join job per iteration),
    # and each iteration's 64-row v is localCheckpoint-ed so the plan
    # stays one iteration deep instead of compounding 6 levels of
    # nested broadcast subtrees (planning time, not data, dominated
    # the naive chain).
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    for _ in range(_PI_ITERS):
        score = (
            e.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(dsum(F.col("val") * F.col("v"), _PI_SCALE).alias("s"))
        )
        w = (
            e.join(score, "vec_id")
            .groupBy("dim")
            .agg(dsum(F.col("val") * F.col("s"), _PI_SCALE).alias("w"))
        )
        nrm = F.sqrt(dsum(F.col("w") * F.col("w"), _PI_SCALE, over=wall))
        v = w.select(
            "dim", (F.col("w") / nrm).alias("v")
        ).localCheckpoint(eager=True)
    return v.select("dim", F.col("v").alias("loading"))


# --------------------------------------------------- kNN classification

KNN_K = 10


@query(
    "knn_classify",
    oracle=f"""
    WITH norms AS ({O_NORMS_CTE}),
    pairs AS (
      SELECT q.vec_id AS qid, q.label AS qlabel,
             c.vec_id AS nid, c.label AS nlabel,
             q.embedding AS ea, c.embedding AS eb
      FROM embeddings q, embeddings c
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ),
    scored AS (
      SELECT qid, qlabel, nid, nlabel,
             {o_safe_cos(o_dot_dec('ea', 'eb'), 'qn.nrm', 'cn.nrm')} AS cosine
      FROM pairs
      JOIN norms qn ON qn.vec_id = qid
      JOIN norms cn ON cn.vec_id = nid
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        FROM scored
      ) WHERE rnk <= {KNN_K}
    ),
    votes AS (
      SELECT qid, qlabel, nlabel, COUNT(*) AS n_votes
      FROM topk GROUP BY qid, qlabel, nlabel
    )
    SELECT qid,
           CAST(qlabel AS INTEGER) AS true_label,
           CAST(nlabel AS INTEGER) AS predicted_label,
           n_votes,
           qlabel = nlabel AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY n_votes DESC, nlabel) AS vr
      FROM votes
    )
    WHERE vr = 1
    """,
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification by majority vote of the 10 nearest corpus
    neighbors (exact cosine), with total tiebreaks at both stages
    (cosine desc, nid; then votes desc, label asc) so the prediction
    is deterministic on any partitioning.

    Scale shape: identical to ann_cosine_topk — queries broadcast, one
    corpus scan, per-query top-k — plus a vote groupBy on (qid, label),
    cardinality |Q|×labels. The label column rides the same scan, so
    classification costs nothing beyond the search."""
    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    q, c = _sides(_with_norm(t["embeddings"]), carry=("label",))
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "qlabel", "nid", "nlabel",
        pair_cosine("ea", "eb", "qnrm", "cnrm").alias("cosine"),
    )
    votes = (
        top_per_query(scored, KNN_K)
        .groupBy("qid", "qlabel", "nlabel")
        .agg(F.count("*").alias("n_votes"))
    )
    # the vote pick ranks labels, not neighbors: not a top_per_query
    wv = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("nlabel")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select(
            "qid",
            F.col("qlabel").cast("int").alias("true_label"),
            F.col("nlabel").cast("int").alias("predicted_label"),
            "n_votes",
            (F.col("qlabel") == F.col("nlabel")).alias("correct"),
        )
    )


# -------------------------------------------- embedding isotropy QA

# 6 fixed-point digits for the S_d^2 terms (S_d can reach n in
# magnitude; the lattice integer is a BIGINT floor, far inside the
# DECIMAL accumulator) — the per-label 64-term sum must be
# partitioning-invariant like every other cross-engine sum.
_ISO_SQ_SCALE = 6


@query(
    "embedding_isotropy_report",
    oracle=f"""
    WITH norms AS ({O_NORMS_CTE}),
    lab AS (
      SELECT e.vec_id, e.label, e.embedding, n.nrm
      FROM embeddings e JOIN norms n ON n.vec_id = e.vec_id
    ),
    u AS (
      SELECT label, CAST(i - 1 AS INTEGER) AS dim,
             CAST(v AS DOUBLE) / nrm AS uv
      FROM (SELECT label, nrm, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS i
            FROM lab WHERE nrm > 0)
    ),
    s AS (
      SELECT label, dim, {o_dsum('uv', _PI_SCALE)} AS sd
      FROM u GROUP BY label, dim
    ),
    q AS (
      SELECT label,
             {o_dsum('sd * sd', _ISO_SQ_SCALE)} AS qsum
      FROM s GROUP BY label
    ),
    nstats AS (
      SELECT label,
             CAST(SUM(CASE WHEN nrm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs,
             CAST(SUM(CASE WHEN nrm > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_zero_norm,
             {o_dsum('CASE WHEN nrm > 0 THEN nrm ELSE 0 END', _PI_SCALE)} AS nrm_sum,
             MIN(CASE WHEN nrm > 0 THEN nrm END) AS min_norm,
             MAX(nrm) AS max_norm
      FROM lab GROUP BY label
    )
    SELECT n.label AS label, n_vecs, n_zero_norm,
           CASE WHEN n_vecs >= 2 THEN
             (qsum - CAST(n_vecs AS DOUBLE))
               / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))
           END AS mean_cosine,
           CASE WHEN n_vecs >= 1
                THEN nrm_sum / CAST(n_vecs AS DOUBLE) END AS mean_norm,
           min_norm, max_norm
    FROM nstats n LEFT JOIN q ON q.label = n.label
    """,
)
def embedding_isotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy/collapse QA per label (Ethayarajh
    2019's anisotropy measure as a panel): the mean pairwise cosine of
    the label's UNIT vectors via the sum-vector identity
    mean_{{i≠j}} cos = (||Σu||² − n) / (n(n−1)) — near 0 = isotropic
    (healthy spread), approaching 1 = the space has collapsed onto a
    cone (the failure mode that silently breaks cosine dedup
    thresholds, semdedup pruning, and contrastive training batches).
    Plus the norm health columns (mean/min/max norm, zero-norm count —
    the failed-embedding-job signal) a pipeline alerts on before
    trusting any downstream cosine operator.

    Exactness: norms are the family's exact fixed-point sq-norm
    doubles; unit components divide identical doubles; per-(label,dim)
    sums and the per-label Σ||u||-squared-terms are fixed-point
    DECIMAL (partitioning-invariant); the final expression is IEEE
    arithmetic on identical doubles. Zero-norm vectors are EXCLUDED
    from the cosine/mean-norm legs and counted honestly; single-vector
    labels emit NULL mean_cosine (no pairs exist).

    Scale shape: ONE corpus pass — explode to (label, dim) partials
    (map-side combine onto a labels×64 key space), a labels-sized
    rollup, and a norm agg riding the same scan. No pairs anywhere:
    the identity turns the O(n²) definition into O(n·d), which is why
    this panel can run on every ingest batch at 100 TB.

    Reference parity: none — the reference (sqlflow/sql.py) has no
    embedding operators; this extends the brief's training-data
    toolkit."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    lab = _with_norm(t["embeddings"])
    nz = lab.where(F.col("nrm") > 0)
    u = nz.select(
        "label",
        "nrm",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "label", "dim", (F.col("v").cast("double") / F.col("nrm")).alias("uv")
    )
    s = u.groupBy("label", "dim").agg(dsum("uv", _PI_SCALE).alias("sd"))
    q = s.groupBy("label").agg(
        dsum(F.col("sd") * F.col("sd"), _ISO_SQ_SCALE).alias("qsum")
    )
    nstats = lab.groupBy("label").agg(
        F.sum(F.when(F.col("nrm") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_vecs"),
        F.sum(F.when(F.col("nrm") > 0, 0).otherwise(1))
        .cast("long")
        .alias("n_zero_norm"),
        dsum(
            F.when(F.col("nrm") > 0, F.col("nrm")).otherwise(F.lit(0.0)), _PI_SCALE
        ).alias("nrm_sum"),
        F.min(F.when(F.col("nrm") > 0, F.col("nrm"))).alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )
    nd = F.col("n_vecs").cast("double")
    return nstats.join(q, "label", "left").select(
        "label",
        "n_vecs",
        "n_zero_norm",
        F.when(
            F.col("n_vecs") >= 2,
            (F.col("qsum") - nd) / (nd * (nd - F.lit(1.0))),
        ).alias("mean_cosine"),
        F.when(F.col("n_vecs") >= 1, F.col("nrm_sum") / nd).alias(
            "mean_norm"
        ),
        "min_norm",
        "max_norm",
    )


# ---------------------------------------------- hard-negative mining

HNM_K = TOP_K  # hard negatives returned per anchor


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH norms AS ({O_NORMS_CTE}),
    pairs AS (
      SELECT q.vec_id AS qid, q.label AS qlabel,
             c.vec_id AS nid, c.label AS nlabel,
             q.embedding AS ea, c.embedding AS eb
      FROM embeddings q, embeddings c
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ),
    scored AS (
      SELECT qid, qlabel, nid, nlabel,
             {o_safe_cos(o_dot_dec('ea', 'eb'), 'qn.nrm', 'cn.nrm')} AS cosine
      FROM pairs
      JOIN norms qn ON qn.vec_id = qid
      JOIN norms cn ON cn.vec_id = nid
    ),
    neg AS (
      SELECT * FROM (
        SELECT qid, qlabel, nid, nlabel, cosine, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        FROM scored WHERE nlabel <> qlabel
      ) WHERE rnk <= {HNM_K}
    ),
    pos AS (
      SELECT qid, MAX(cosine) AS pos_cosine
      FROM scored WHERE nlabel = qlabel GROUP BY qid
    )
    SELECT qid,
           CAST(qlabel AS INTEGER) AS anchor_label,
           nid,
           CAST(nlabel AS INTEGER) AS neg_label,
           cosine,
           CAST(rnk AS INTEGER) AS rank,
           pos_cosine,
           pos_cosine - cosine AS margin
    FROM neg LEFT JOIN pos USING (qid)
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the data-prep
    step behind triplet/InfoNCE batches — Schroff et al. 2015's
    semi-hard protocol expressed relationally): per anchor (the
    standard {N_QUERIES}-query set), the {HNM_K} HIGHEST-cosine corpus
    vectors whose label DIFFERS from the anchor's — the negatives a
    random sampler almost never finds and the loss learns most from —
    each row carrying the anchor's best same-label cosine and the
    margin (pos − neg). margin <= 0 rows are the violations a
    curriculum scheduler feeds first; margin in (0, alpha) is the
    classic semi-hard band.

    Exactness: cosines are the family's exact fixed-point dot /
    safe_cos doubles, identical in both engines; MAX and the
    subtraction operate on those identical doubles; ranks carry total
    tiebreaks (cosine desc, nid). Anchors with no same-label corpus
    vector emit NULL pos_cosine/margin (honest absence, not 0).

    Scale shape: ann_cosine_topk's budget — anchors broadcast, ONE
    corpus scan scores all pairs, per-anchor top-k windows over
    |Q|-keyed partitions, plus a |Q|-row positive-max agg that reuses
    the same scored frame. The label filter rides the scan; at 100 TB
    the mining cost IS the scan, exactly once. Swap the exact scan for
    the IVF/PQ candidate path when anchors number millions — the
    scoring and margin algebra are unchanged.

    Reference parity: none — the reference (sqlflow/sql.py) has no
    embedding operators; this extends the brief's training-data
    toolkit."""
    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    q, c = _sides(_with_norm(t["embeddings"]), carry=("label",))
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", "qlabel", "nid", "nlabel",
        pair_cosine("ea", "eb", "qnrm", "cnrm").alias("cosine"),
    )
    neg = top_per_query(scored.where(F.col("nlabel") != F.col("qlabel")), HNM_K)
    pos = (
        scored.where(F.col("nlabel") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.max("cosine").alias("pos_cosine"))
    )
    return neg.join(pos, "qid", "left").select(
        "qid",
        F.col("qlabel").cast("int").alias("anchor_label"),
        "nid",
        F.col("nlabel").cast("int").alias("neg_label"),
        "cosine",
        "rank",
        "pos_cosine",
        (F.col("pos_cosine") - F.col("cosine")).alias("margin"),
    )


# ------------------------------------------- centroid-distance outliers

@query(
    "embedding_outliers",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS dim,
             CAST(v AS DOUBLE) AS v
      FROM (SELECT vec_id, label, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    cent AS (
      SELECT label, dim,
             {o_dsum('v')} / CAST(COUNT(*) AS DOUBLE) AS c
      FROM e GROUP BY label, dim
    ),
    d AS (
      SELECT vec_id, e.label,
             sqrt({o_dsum('(v - c) * (v - c)', 8)}) AS dist
      FROM e JOIN cent ON cent.label = e.label AND cent.dim = e.dim
      GROUP BY vec_id, e.label
    ),
    s AS (
      SELECT vec_id, label, dist,
             CAST(floor(dist * 1000000.0 + 0.5) AS HUGEINT) AS ds
      FROM d
    ),
    st AS (
      SELECT label, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(ds) AS sx, SUM(ds * ds) AS sq
      FROM s GROUP BY label
    )
    SELECT vec_id, s.label,
           floor(dist * 1000000.0 + 0.5) / 1000000.0 AS dist,
           CASE WHEN n * sq - sx * sx > 0 THEN
             floor(CAST(n * ds - sx AS DOUBLE)
                   / sqrt(CAST(n * sq - sx * sx AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0
           END AS zscore,
           (n * sq - sx * sx > 0 AND n * ds - sx > 0
            AND (n * ds - sx) * (n * ds - sx) > 4 * (n * sq - sx * sx))
             AS is_outlier
    FROM s JOIN st ON st.label = s.label
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier scoring: each vector's euclidean
    distance to its label centroid (the embedding_centroids
    computation composed downstream), z-scored within the label with
    the SAME exact-integer-moment discipline as events_anomaly — the
    2σ flag is an integer inequality on int128/DECIMAL(38) moments, so
    a borderline vector cannot flip between engines; dist and zscore
    are 6dp fixed-point like every cross-engine real-valued score.
    Drift/mislabel triage: is_outlier marks vectors far from their own
    class prototype (one-sided — far only, near is fine).

    Scale shape: explode ×dims (narrow) → centroid groupBy on
    (label, dim) → join-back on the same key → per-vector distance agg
    → one tiny per-label stats row broadcast onto the distances. Every
    shuffle key space is labels×dims, vectors, or labels — never
    pairs."""
    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    e = t["embeddings"].select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id", "label", F.col("dim").cast("int").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    cent = e.groupBy("label", "dim").agg(
        (dsum("v") / F.count("*").cast("double")).alias("c")
    )
    diff = F.col("v") - F.col("c")
    d = (
        e.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(dsum(diff * diff, 8)).alias("dist")
        )
    )
    s = d.select(
        "vec_id",
        "label",
        "dist",
        scaled_int("dist", 6).alias("ds"),
    )
    st = s.groupBy("label").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("ds").alias("sx"),
        F.sum(F.col("ds") * F.col("ds")).alias("sq"),
    )
    dev = F.col("n") * F.col("ds") - F.col("sx")
    var_n2 = F.col("n") * F.col("sq") - F.col("sx") * F.col("sx")
    zscore = F.when(
        var_n2 > 0, fixed(dev.cast("double") / F.sqrt(var_n2.cast("double")), 6)
    )
    is_outlier = (var_n2 > 0) & (dev > 0) & (dev * dev > 4 * var_n2)
    return s.join(F.broadcast(st), "label").select(
        "vec_id",
        "label",
        fixed("dist", 6).alias("dist"),
        zscore.alias("zscore"),
        is_outlier.alias("is_outlier"),
    )


# ------------------------------------------------ distributed k-means

# Lloyd's algorithm over the embedding corpus — with embedding_top_pc
# this completes the iterative-ML-shape pair (assignment/update instead
# of matvec/normalize). Reference scope note: the reference engine has
# no ML operators at all (its core is DuckDB plumbing, sqlflow/
# handlers.py); this is part of the LLM-training-data toolkit the
# brief adds on top (cluster-balanced corpus mixing, semantic
# bucketing before near-dup review).
_KM_K = 4
_KM_ITERS = 4


def _km_ctes(n_clusters: int, iters: int) -> list[str]:
    """Lloyd iterations unrolled into materialized DuckDB CTEs with
    the engine-identical fixed-point arithmetic — both engines walk
    the identical trajectory (same first-k seeds, same exact distance
    sums, same (dist, cluster) argmin tiebreak). Final assignments
    live in CTE ``a{iters}``, final centroids in ``c{iters}``; shared
    by the kmeans_embeddings and semdedup_prune oracles."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,"
        " CAST(v AS DOUBLE) AS val FROM (SELECT vec_id,"
        " unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i"
        " FROM embeddings))",
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, dim,"
        f" val AS c FROM e WHERE vec_id < {n_clusters})",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"d{k} AS MATERIALIZED (SELECT vec_id, cluster,"
            f" {o_dsum('(val - c) * (val - c)', _PI_SCALE)} AS dist"
            f" FROM e JOIN c{k - 1} USING (dim)"
            f" GROUP BY vec_id, cluster)"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT vec_id, cluster FROM"
            f" (SELECT vec_id, cluster, ROW_NUMBER() OVER"
            f" (PARTITION BY vec_id ORDER BY dist, cluster) AS rn"
            f" FROM d{k}) WHERE rn = 1)"
        )
        ctes.append(
            f"c{k} AS MATERIALIZED (SELECT cluster, dim,"
            f" {o_dsum('val', _PI_SCALE)} / CAST(COUNT(*) AS DOUBLE) AS c"
            f" FROM e JOIN a{k} USING (vec_id)"
            f" GROUP BY cluster, dim)"
        )
    return ctes


def _km_oracle() -> str:
    return (
        "WITH " + ",\n".join(_km_ctes(_KM_K, _KM_ITERS))
        + f"""
        SELECT c.cluster, c.dim, c.c AS centroid, s.n_members
        FROM c{_KM_ITERS} c
        JOIN (SELECT cluster, COUNT(*) AS n_members
              FROM a{_KM_ITERS} GROUP BY cluster) s USING (cluster)
        """
    )


def _lloyd(
    spark: SparkSession, sf_dir: str, n_clusters: int, iters: int
) -> tuple[DataFrame, DataFrame]:
    """The Spark twin of _km_ctes: returns (assignments, centroids)
    after ``iters`` Lloyd iterations seeded from the first
    ``n_clusters`` vectors. Trajectory is bit-identical to the oracle
    chain (exact fixed-point distance sums, (dist, cluster) argmin,
    exact-sum/exact-count centroid means) — see kmeans_embeddings for
    the full exactness and scale-shape argument.

    The flat Lloyd is the PQ trainer with ONE subspace (sub ≡ 0) and
    seeds [0, n_clusters), so it runs through _pq_codebook: the numpy
    twin under the driver bound, the distributed ladder past it. The
    oracle gate (kmeans_embeddings, semdedup_prune) arbitrates
    equality on both paths."""
    emb = load_tables(spark, sf_dir, ("embeddings",), spread=False)[
        "embeddings"
    ]
    assign, cent = _pq_codebook(emb, n_clusters, sub_dim=None, iters=iters)
    return assign.drop("sub"), cent


@query("kmeans_embeddings", oracle=_km_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (4 Lloyd iterations, k=4) over the
    embedding corpus, oracle-gated on the EXACT trajectory: seeds are
    the first k vectors (deterministic at every scale factor — vec_id
    is contiguous from 0, TESTDATA.md), per-(vector, cluster) squared
    distances are fixed-point-exact sums (order-insensitive under any
    partitioning), the argmin is totally ordered by (dist, cluster),
    and centroid means divide an exact sum by an exact count — so the
    DuckDB oracle (the same iterations unrolled into CTEs) matches
    every assignment and every centroid coordinate bit-for-bit.

    Scale shape: under the driver bound the trajectory runs in numpy
    on one bounded probe collect (_lloyd). Past it the exploded
    (vec_id, dim, val) fact is checkpointed ONCE, pre-partitioned on
    vec_id, and reused by all iterations. Per iteration: centroids
    (k x dims rows) BROADCAST onto the fact — the distance groupBy
    lands on (vec_id, cluster), the assignment window and the
    join-back both reuse the vec_id partitioning, and the centroid
    update shuffles only onto the tiny (cluster, dim) key space with
    map-side partials. Each iteration's k x dims centroid table is
    localCheckpoint-ed, keeping the plan one iteration deep. Past the
    bound, driver traffic is at most the probe."""
    assign, cent = _lloyd(spark, sf_dir, _KM_K, _KM_ITERS)
    sizes = assign.groupBy("cluster").agg(F.count("*").alias("n_members"))
    return cent.join(F.broadcast(sizes), "cluster").select(
        "cluster", "dim", F.col("c").alias("centroid"), "n_members"
    )


# -------------------------------------------- product quantization audit

# Fixed-point digits for quantization error terms — shared by the PQ
# and scalar (embedding_quantization) audits.
_SQ_ERRSCALE = 12

PQ_SUB_DIM = 8  # dims per subspace -> 8 subspaces over the 64-dim schema
PQ_K = 4  # codewords per subspace (2 bits/code -> 2 bytes/vector)
PQ_ITERS = 2


def _pq_ctes() -> list[str]:
    """Per-subspace Lloyd iterations unrolled into DuckDB CTEs — the
    _km_ctes recipe with the subspace id (dim // PQ_SUB_DIM) carried
    through the distance/argmin keys, so each subspace trains its own
    independent codebook on the identical fixed-point trajectory.
    Final assignments in ``a{PQ_ITERS}`` (one row per (vec, sub)),
    final codebooks in ``c{PQ_ITERS}`` (keyed on (cluster, dim); dim
    encodes the subspace)."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,"
        f" CAST((i - 1) // {PQ_SUB_DIM} AS INTEGER) AS sub,"
        " CAST(v AS DOUBLE) AS val FROM (SELECT vec_id,"
        " unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i"
        " FROM embeddings))",
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster, dim,"
        f" val AS c FROM e WHERE vec_id < {PQ_K})",
    ]
    for k in range(1, PQ_ITERS + 1):
        ctes.append(
            f"d{k} AS MATERIALIZED (SELECT vec_id, sub, cluster,"
            f" {o_dsum('(val - c) * (val - c)', _PI_SCALE)} AS dist"
            f" FROM e JOIN c{k - 1} USING (dim)"
            f" GROUP BY vec_id, sub, cluster)"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT vec_id, sub, cluster FROM"
            f" (SELECT vec_id, sub, cluster, ROW_NUMBER() OVER"
            f" (PARTITION BY vec_id, sub ORDER BY dist, cluster) AS rn"
            f" FROM d{k}) WHERE rn = 1)"
        )
        ctes.append(
            f"c{k} AS MATERIALIZED (SELECT cluster, dim,"
            f" {o_dsum('val', _PI_SCALE)} / CAST(COUNT(*) AS DOUBLE) AS c"
            f" FROM e JOIN a{k} USING (vec_id, sub)"
            f" GROUP BY cluster, dim)"
        )
    return ctes


def _cell_df(spark: SparkSession, centroids: np.ndarray) -> DataFrame:
    """(cell, dim, cval) coarse-centroid table — k*dim rows, broadcast
    by its consumers (Arrow local frame: no 32-task Python-RDD scan,
    see localdf.py)."""
    return local_df(
        spark,
        [
            (int(c), int(d), float(v))
            for c, row in enumerate(centroids)
            for d, v in enumerate(row)
        ],
        "cell int, dim int, cval double",
    )


def _pq_fact(
    emb: DataFrame,
    sub_dim: int | None = PQ_SUB_DIM,
    centroids: np.ndarray | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exploded (vec_id, dim, sub, val) training fact over ``emb``'s
    (vec_id, embedding), checkpointed once — every iteration of a
    trainer reuses the same materialized table instead of re-exploding
    the corpus. ``sub_dim=None`` is one subspace (sub ≡ 0, the flat
    Lloyd and the power iteration). With ``centroids`` (IVF cells,
    (k, dim)) ``val`` is the residual x − c_cell to the vector's
    nearest cell (ivf_assign — the UDF the serving path encodes
    with), the IVF-PQ training input. ``materialize=False`` skips the
    checkpoint AND the repartition for single-consumer plans (a
    reconstruction pass that reads the fact once, fused with the
    scan)."""
    from sql_flow_spark.functions.mat import materialize_once

    if centroids is None:
        out = emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "val")
        )
    else:
        cent_df = _cell_df(emb.sparkSession, centroids)
        out = (
            emb.select(
                "vec_id", "embedding",
                ivf_assign(F.col("embedding"), centroids, 1)[0].alias("cell"),
            )
            .select(
                "vec_id", "cell",
                F.posexplode("embedding").alias("dim", "rawval"),
            )
            .join(F.broadcast(cent_df), ["cell", "dim"])
            .select(
                "vec_id", "dim",
                (F.col("rawval").cast("double") - F.col("cval")).alias("val"),
            )
        )
    out = out.select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        (
            F.lit(0) if sub_dim is None
            else F.floor(F.col("dim") / F.lit(sub_dim)).cast("int")
        ).alias("sub"),
        F.col("val").cast("double").alias("val"),
    )
    if not materialize:
        return out
    # explicit partition count sized by rows/task (_FACT_ROWS_PER_TASK
    # — scale-adaptive, not a local constant): left to AQE the
    # tiny-byte fact coalesces to ONE partition and every iteration's
    # CPU-bound fixed-point aggregate runs on a single core (r13: the
    # k-means distance agg measured 0.88 s on 1 task); the r13 flat
    # core-count pin over-split it the other way (kmeans 0.75x)
    return materialize_once(out.repartition(_fact_parts(emb), "vec_id"))


# Magnitude bound for the driver twins' int64 fixed-point sums: with
# |val| <= this, every large-cardinality sum of floor(term*SCALE+0.5)
# terms stays far inside int64 (analysis per call site in the twins'
# docstrings); wilder data falls back to the DECIMAL-exact distributed
# path. Unit-ish embeddings (the schema contract) are orders of
# magnitude inside it.
_DRIVER_VAL_BOUND = 100.0


def _probed_embeddings(pdf: pd.DataFrame):
    """Validate a probed (id, vector) frame (bounded_or_distributed's
    probe) for the driver-side trainer twins. Returns (ids int64[n],
    vals float64[n, dim]) or None when the frame is empty,
    null-bearing, ragged, duplicate-id, or out of magnitude bounds —
    every case the distributed trajectory's SQL semantics handle and
    the numpy twin deliberately does not."""
    if len(pdf) == 0:
        return None
    idc, embc = pdf.columns[0], pdf.columns[1]
    if pdf[idc].isna().any():
        return None
    cells = pdf[embc].to_numpy()
    if any(v is None for v in cells):
        return None
    dim = len(cells[0])
    if any(len(v) != dim for v in cells) or dim == 0:
        return None
    ids = pdf[idc].to_numpy(dtype=np.int64)
    if len(np.unique(ids)) != len(ids):
        return None
    # Arrow renders NULL list elements as NaN — indistinguishable from
    # data NaN, and both route to the distributed path via the finite
    # check below, exactly as the abs/norm guards null them out.
    vals = np.stack([np.asarray(v, dtype=np.float64) for v in cells])
    if not np.all(np.isfinite(vals)) or np.max(np.abs(vals)) > _DRIVER_VAL_BOUND:
        return None
    return ids, vals


def _ck(terms: np.ndarray, count: int) -> np.ndarray:
    """Guard one twin reduction: every |term| < 2^53 and the worst
    running sum < 2^62. Returns the terms for chaining."""
    if terms.size:
        m = float(np.max(np.abs(terms)))
        if not (m < 2.0**53 and m * max(count, 1) < 2.0**62):
            raise _TwinOverflow()
    return terms


def _pq_train_driver(
    ids: np.ndarray,
    vals: np.ndarray,
    k: int,
    sd: int,
    iters: int,
    seed_ids: list[int],
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side numpy twin of ``_pq_train`` — the IDENTICAL
    fixed-point Lloyd trajectory (same floor(term*1e8+0.5) integer
    sums, same (dist, cluster) argmin with lowest-cluster ties, same
    exact-sum/exact-count centroid means), verified bit-for-bit
    against the distributed trainer at sf0.01/sf0.1. Every sum here is
    a sum of integer-valued doubles far below 2^53, so numpy's int64 /
    float64 arithmetic reproduces the DECIMAL fold exactly.

    ``ids``: (n,) unique vec ids; ``vals``: (n, dim) the training
    values (cell residuals for IVF-PQ, raw values for the flat
    trainers). ``seed_ids`` pins cluster j to the row with
    id == seed_ids[j] (a missing id, or j >= len(seed_ids), leaves
    cluster j DEAD from the start — exactly the distributed trainer's
    empty seed join).
    Returns (assign, book): assign (n, n_sub) codeword ids aligned
    with ``ids``' row order, book (n_sub, k, sd) with NaN rows for
    codewords that lost every member (consistent per (sub, cluster)
    block, exactly like the distributed trainer's vanished centroid
    rows)."""
    n, dim = vals.shape
    n_sub = dim // sd
    scale = 10.0**_PI_SCALE
    pos = {int(v): i for i, v in enumerate(ids)}
    c = np.full((k, dim), np.nan)  # (k, dim); NaN = dead
    for j, sid in enumerate(seed_ids):
        if int(sid) in pos:
            c[j] = vals[pos[int(sid)]]
    assign = np.zeros((n, n_sub), dtype=np.int64)
    for _ in range(iters):
        for s in range(n_sub):
            seg = vals[:, s * sd:(s + 1) * sd]
            csub = c[:, s * sd:(s + 1) * sd]
            alive = ~np.isnan(csub[:, 0])
            if not alive.any():
                raise _TwinOverflow()  # all-dead sub: defer to Spark
            diff = seg[:, None, :] - csub[None, alive, :]  # (n, alive, sd)
            terms = np.floor(diff * diff * scale + 0.5)
            # int64 sums: exact under _ck's bound (float64 partial sums
            # would lose exactness past 2^53), then one float division
            # — the same exact-int -> double -> divide the DECIMAL fold
            # performs
            dist_alive = (
                _ck(terms, sd).astype(np.int64).sum(axis=2) / scale
            )
            dist = np.full((len(vals), k), np.inf)
            dist[:, alive] = dist_alive
            assign[:, s] = np.argmin(dist, axis=1)  # first min = low cluster
        new_c = np.full_like(c, np.nan)
        for s in range(n_sub):
            for j in range(k):
                m = assign[:, s] == j
                cnt = int(m.sum())
                if cnt == 0:
                    continue
                seg = vals[m, s * sd:(s + 1) * sd]
                ssum = (
                    _ck(np.floor(seg * scale + 0.5), cnt)
                    .astype(np.int64)
                    .sum(axis=0)
                )
                new_c[j, s * sd:(s + 1) * sd] = (ssum / scale) / cnt
        c = new_c
    book = np.stack([c[:, s * sd:(s + 1) * sd] for s in range(n_sub)])
    return assign, book


def _pq_train(e: DataFrame, seed_ids: list[int], iters: int):
    """Distributed per-subspace Lloyd training over an exploded
    (vec_id, dim, sub, val) fact: ``iters`` iterations of exact
    fixed-point distance sums, (dist, cluster) argmin and
    exact-sum/exact-count centroid updates — kmeans_embeddings'
    pinned trajectory run independently per subspace. Cluster j is
    seeded from the vector with id == seed_ids[j]. Returns (assign,
    cent): one (vec_id, sub, cluster) row per (vector, subspace) and
    the (cluster, dim, c) codebook.

    Scale shape: per iteration the k*64-entry codebook broadcasts onto
    the fact, distance partials land on (vec_id, sub, cluster), the
    argmin window reuses that partitioning and the update shuffles
    map-side partials onto the k*64-key codebook space; codebooks
    localCheckpoint per iteration so plans stay one iteration deep."""
    m = local_df(
        e.sparkSession,
        [(int(v), i) for i, v in enumerate(seed_ids)],
        "vec_id long, cluster int",
    )
    cent = e.join(F.broadcast(m), "vec_id").select(
        "cluster", "dim", F.col("val").alias("c")
    )
    assign = None
    wv = Window.partitionBy("vec_id", "sub").orderBy("dist", "cluster")
    for _ in range(iters):
        diff = F.col("val") - F.col("c")
        dist = (
            e.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "sub", "cluster")
            .agg(dsum(diff * diff, _PI_SCALE).alias("dist"))
        )
        assign = (
            dist.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "sub", "cluster")
        )
        cent = (
            e.join(assign, ["vec_id", "sub"])
            .groupBy("cluster", "dim")
            .agg(
                (dsum("val", _PI_SCALE) / F.count("*").cast("double"))
                .alias("c")
            )
            .localCheckpoint(eager=True)
        )
    return assign, cent


def _pq_twin(pdf, k, seed_lo, sub_dim, iters, centroids):
    """The driver half of _pq_codebook over a probed (vec_id,
    embedding) frame: validation, seeds, IVF residuals (through the
    same _ivf_assign_np the executor UDF runs, and the same float64
    subtraction the residual join performs), then _pq_train_driver.
    Returns (ids, assign, book) or None when the input is not
    twin-trainable (a seed id absent, dim not a multiple of the
    subspace width, or anything _probed_embeddings rejects)."""
    got = _probed_embeddings(pdf)
    if got is None:
        return None
    ids, vals = got
    sd = sub_dim or vals.shape[1]
    if seed_lo is None:
        seeds = sorted(ids.tolist())[:k]
    else:
        seeds = list(range(seed_lo, seed_lo + k))
    if vals.shape[1] % sd or not set(seeds) <= set(ids.tolist()):
        return None
    if centroids is not None:
        vals = vals - centroids[_ivf_assign_np(vals, centroids, 1)[:, 0]]
    return (ids, *_pq_train_driver(ids, vals, k, sd, iters, seeds))


def _pq_dist(emb, k, seed_lo, sub_dim, iters, centroids):
    """The distributed half of _pq_codebook: the exploded training fact
    checkpointed once, then _pq_train. Returns (assign, cent)."""
    e = _pq_fact(emb, sub_dim, centroids)
    if seed_lo is None:
        ids = e.select("vec_id").distinct().orderBy("vec_id").limit(k)
        seeds = [r[0] for r in ids.collect()]
    else:
        seeds = list(range(seed_lo, seed_lo + k))
    return _pq_train(e, seeds, iters)


def _pq_codebook(
    emb: DataFrame,
    k: int,
    seed_lo: int | None = 0,
    sub_dim: int | None = PQ_SUB_DIM,
    iters: int = PQ_ITERS,
    centroids: np.ndarray | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace Lloyd codebooks on ``emb``'s (vec_id,
    embedding) — the one entry of the Lloyd-family trainers (flat
    k-means with ``sub_dim=None``, the PQ audit, IVF-PQ with
    ``centroids``). Cluster j is seeded from vec_id seed_lo + j
    (``seed_lo=None``: the k smallest ids). Under the driver bound
    (localdf.bounded_or_distributed) the numpy twin runs on the one
    bounded probe; past it, or on input the twin declines, the
    distributed ladder runs. Both paths walk the identical fixed-point
    trajectory and return the distributed schema: (assign, cent) —
    one (vec_id, sub, cluster) row per (vector, subspace), and the
    (cluster, dim, c) codebook without the rows of codewords that
    lost every member. The twin's assign carries a broadcast hint: it
    is driver-built and bounded by the cap, but near the cap it
    outgrows the planner's auto-broadcast threshold."""

    def twin(pdf):
        got = _pq_twin(pdf, k, seed_lo, sub_dim, iters, centroids)
        if got is None:
            return None
        ids, a_np, book = got
        n_sub, _, sd = book.shape
        assign = local_df(
            emb.sparkSession,
            [
                (int(i), s, int(a_np[r, s]))
                for r, i in enumerate(ids.tolist())
                for s in range(n_sub)
            ],
            "vec_id long, sub int, cluster int",
        )
        cent = local_df(
            emb.sparkSession,
            [
                (j, s * sd + d, float(book[s, j, d]))
                for s in range(n_sub)
                for j in range(k)
                for d in range(sd)
                if book[s, j, d] == book[s, j, d]
            ],
            "cluster int, dim int, c double",
        )
        return F.broadcast(assign), cent

    return bounded_or_distributed(
        emb.select("vec_id", "embedding"),
        twin,
        lambda: _pq_dist(emb, k, seed_lo, sub_dim, iters, centroids),
    )


def _pq_oracle() -> str:
    return (
        "WITH " + ",\n".join(_pq_ctes())
        + f""",
        rec AS MATERIALIZED (
          SELECT e.vec_id, e.val - c.c AS err
          FROM e
          JOIN a{PQ_ITERS} a ON a.vec_id = e.vec_id AND a.sub = e.sub
          JOIN c{PQ_ITERS} c ON c.cluster = a.cluster AND c.dim = e.dim
        )
        SELECT emb.label,
          CAST(COUNT(DISTINCT r.vec_id) AS BIGINT) AS n_vecs,
          {o_dsum('err * err', _SQ_ERRSCALE)} / CAST(COUNT(*) AS DOUBLE) AS mse,
          MAX(ABS(err)) AS max_abs_err
        FROM rec r JOIN embeddings emb ON emb.vec_id = r.vec_id
        GROUP BY emb.label
        """
    )


@query("pq_quantization_audit", oracle=_pq_oracle())
def pq_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit (Jégou et al. 2011, the IVF-PQ
    memory layer): each vector splits into 8 contiguous 8-dim
    subspaces, each subspace trains its own k=4 codebook (2 Lloyd
    iterations, first-k seeds — kmeans_embeddings' pinned trajectory
    per subspace), and the panel reports per-label reconstruction MSE
    + worst element error when every subvector is replaced by its
    codeword. The decide-before-you-compress companion to
    embedding_quantization's scalar path: PQ at this shape stores 8
    2-bit codes (2 bytes) per vector vs 256 bytes of float32 — the
    128x compression an ANN serving tier actually deploys.

    Exactness: the training trajectory is bit-identical to the
    unrolled oracle CTEs (exact fixed-point distance/centroid sums,
    (dist, cluster) argmin, exact-sum/exact-count means — the
    kmeans_embeddings argument per subspace). Reconstruction errors
    subtract IEEE-identical doubles; squared errors are 12dp
    fixed-pointed and DECIMAL-summed (the embedding_quantization
    recipe), and max |err| compares identical doubles.

    Scale shape: TRAINING is _pq_codebook — the numpy twin under the
    driver bound, the distributed ladder past it (the exploded fact
    checkpointed ONCE and reused by every iteration; per iteration
    the (8 sub x 4 k x 8 dims) codebook BROADCASTS onto the fact, the
    distance agg lands on (vec_id, sub, cluster), the argmin window
    and the join-back reuse the vec_id partitioning, and the codebook
    update shuffles map-side partials onto the 256-key (cluster, dim)
    space). RECONSTRUCTION is one scan-fused exploded pass over the
    corpus with the codebook broadcast, the label rollup the only
    label-sized output."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    assign, cent = _pq_codebook(emb, PQ_K)
    e = _pq_fact(emb, materialize=False)  # one consumer: scan-fused
    err = F.col("val") - F.col("c")
    rec = (
        e.join(assign, ["vec_id", "sub"])
        .join(F.broadcast(cent), ["cluster", "dim"])
        .select(
            "vec_id",
            scaled_int(err * err, _SQ_ERRSCALE).alias("sq_dec"),
            F.abs(err).alias("abs_err"),
        )
    )
    return (
        rec.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(
            F.countDistinct("vec_id").cast("long").alias("n_vecs"),
            (
                F.sum("sq_dec").cast("double")
                / F.lit(10.0**_SQ_ERRSCALE)
                / F.count("*").cast("double")
            ).alias("mse"),
            F.max("abs_err").alias("max_abs_err"),
        )
    )


# ADC shortlist before exact rerank. A CONSTANT, so the ADC filter
# ratio grows with the corpus (50 of ~500 candidates at sf0.001, 50 of
# ~5k at sf0.01, 50 of ~5M at production cell sizes) — the shortlist is
# the serving-latency knob, the corpus pays only the 4 B/vector scan.
# Sized by the committed numpy A/B (see docstring): short15 left real
# recall on the table (0.325 vs the 0.625 IVF ceiling at sf0.001);
# short50 reaches 0.55 at 8x16 codebooks, and doubling codebook cost
# (16 subs x 64 codewords x 3 iters) buys only the last 0.075.
IVFPQ_SHORTLIST = 10 * TOP_K
IVFPQ_PQ_K = 16  # codewords per subspace (4 bits/code, 4 B/vector)


@query("ann_ivfpq_topk")  # approximate -> rows-only check
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the full faiss-style serving pipeline (Jégou et
    al. 2011) as DataFrame ops: (1) the IVF coarse quantizer restricts
    each query to its IVF_NPROBE nearest cells; (2) inside the probed
    cells, candidates are ranked by ASYMMETRIC DISTANCE COMPUTATION on
    RESIDUALS — dot(q, x̂) with x̂ = c_cell + r̂, where r̂ is the PQ
    reconstruction of x − c_cell, computed as one (qid, cell) lookup
    plus 8 lookups into a per-query (sub, codeword) table, never
    touching the raw corpus vector; (3) the ADC top-IVFPQ_SHORTLIST
    shortlist is exact-cosine reranked (safe_cos — the family's shared
    scoring math) down to TOP_K. Residual encoding is what makes PQ
    codes precise enough to rank: residuals are small, so a k=16
    codebook spends its codewords on the within-cell structure instead
    of re-describing cell centroids (the flat-PQ variant measured
    recall 0.075 here; residual k=16 clears the sibling IVF floor).
    Same output contract as every ANN sibling: (qid, nid, cosine,
    rank), graded against exact recall in tests/test_approx_quality.py.

    PQ codebooks train on the CORPUS residual fact only
    (seed_lo=N_QUERIES: queries never train their own quantizer — the
    eval-hygiene rule) via _pq_train's pinned deterministic trajectory;
    the LUT, the cell term, and the ADC sum carry _PI_SCALE
    fixed-point DECIMALs end-to-end (one double division at the very
    end), so the whole pipeline reproduces bit-for-bit.

    Why this matters at 100 TB: the rerank scan touches only
    |Q|*shortlist raw vectors, and ADC scoring reads 4 BYTES per
    candidate (8 4-bit codes) instead of 256 bytes of float32 — the
    memory-bandwidth win that makes billion-vector search serveable.
    Expressed relationally: codes are a (vec_id, sub, cluster) table
    partitioned like the corpus; the per-query tables (|Q|*8*16-row
    LUT, |Q|*16-row cell term) broadcast; ADC is one keyed join + a
    (qid, nid) sum; every shuffle key (cell, nid, qid) is the natural
    one. ADC ranks by dot(q, x̂)/|x| (true corpus norms ride the
    candidate rows; |q| is per-query constant, rank-neutral)."""
    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    emb = t["embeddings"]
    e = _with_norm(emb)
    cent_ivf = ivf_centroids(e)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.explode(
            ivf_assign(F.col("embedding"), cent_ivf, IVF_NPROBE)
        ).alias("qcell"),
    )
    cells = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("nid"), F.col("nrm").alias("cnrm"),
        ivf_assign(F.col("embedding"), cent_ivf, 1)[0].alias("cell"),
    )
    # candidate id pairs only — no raw vectors carried past this point
    # (a corpus vector lives in ONE cell and a query's probed cells are
    # distinct, so the join emits each (qid, nid) at most once)
    cand = cells.join(
        F.broadcast(q), F.col("cell") == F.col("qcell")
    ).select("qid", "nid", "cell", "cnrm")

    cent_df = _cell_df(spark, cent_ivf)
    # PQ codebooks train on the corpus cell residuals (_pq_codebook)
    codes, cb = _pq_codebook(
        emb.where(F.col("vec_id") >= N_QUERIES), IVFPQ_PQ_K,
        seed_lo=N_QUERIES, centroids=cent_ivf,
    )
    qfact = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.posexplode("embedding").alias("dim", "qval"),
    )
    # residual LUT: dot(q_sub, codeword) per (qid, sub, cluster) —
    # fixed-point DECIMAL so the 8-way ADC sum stays exact
    lut = (
        qfact.join(F.broadcast(cb), "dim")
        .withColumn(
            "sub", F.floor(F.col("dim") / F.lit(PQ_SUB_DIM)).cast("int")
        )
        .groupBy("qid", "sub", "cluster")
        .agg(
            F.sum(
                scaled_int(F.col("qval").cast("double") * F.col("c"), _PI_SCALE)
            ).alias("lut_fp")
        )
    )
    # cell term: dot(q, c_cell) per (qid, cell)
    cell_term = (
        qfact.join(F.broadcast(cent_df), "dim")
        .groupBy("qid", "cell")
        .agg(
            F.sum(
                scaled_int(F.col("qval").cast("double") * F.col("cval"), _PI_SCALE)
            ).alias("cell_fp")
        )
    )
    adc = (
        cand.join(codes.withColumnRenamed("vec_id", "nid"), "nid")
        .join(F.broadcast(lut), ["qid", "sub", "cluster"])
        .groupBy("qid", "nid", "cell", "cnrm")
        .agg(F.sum("lut_fp").alias("res_fp"))
        .join(F.broadcast(cell_term), ["qid", "cell"])
        .select(
            "qid",
            "nid",
            F.when(F.col("cnrm") == 0, F.lit(0.0))
            .otherwise(
                (F.col("res_fp") + F.col("cell_fp")).cast("double")
                / F.lit(10.0**_PI_SCALE)
                / F.col("cnrm")
            )
            .alias("adc_score"),
        )
    )
    shortlist = top_per_query(adc, IVFPQ_SHORTLIST, score="adc_score").select(
        "qid", "nid"
    )
    qv, cv = _sides(e)
    scored = (
        shortlist.join(cv, "nid")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid", "nid", pair_cosine("ea", "eb", "qnrm", "cnrm").alias("cosine")
        )
    )
    return top_per_query(scored, TOP_K).select("qid", "nid", "cosine", "rank")


FPS_K = 5


def _o_fps() -> str:
    """Unroll the K-1 farthest-point iterations into DuckDB CTEs.

    Each stage carries the running min-distance column forward
    (d_k(c) = least(d_{k-1}(c), 1 - cos(c, p_k))), so stage k costs
    one |corpus|-sized pass against the single newest pick — the same
    work shape as the Spark side, which keeps the two engines
    bit-identical AND keeps the oracle honest about the algorithm."""
    cos = "(" + o_safe_cos(
        o_dot_dec('c.embedding', 'p.embedding'), 'c.nrm', 'p.nrm'
    ) + ")"
    parts = [
        f"""
    e AS MATERIALIZED (
      SELECT vec_id, embedding,
             sqrt({o_dot_dec('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    p1 AS (SELECT vec_id, embedding, nrm FROM e ORDER BY vec_id LIMIT 1),
    d1 AS MATERIALIZED (
      SELECT c.vec_id, 1.0 - {cos} AS md
      FROM e c CROSS JOIN p1 p
    )"""
    ]
    sel = ["SELECT vec_id FROM p1"]
    for k in range(2, FPS_K + 1):
        prev = k - 1
        not_in = " UNION ALL ".join(sel)
        parts.append(f"""
    pick{k} AS MATERIALIZED (
      SELECT d.vec_id, d.md FROM d{prev} d
      WHERE d.vec_id NOT IN ({not_in})
      ORDER BY d.md DESC, d.vec_id LIMIT 1
    ),
    p{k} AS (
      SELECT e.vec_id, e.embedding, e.nrm FROM e
      WHERE e.vec_id = (SELECT vec_id FROM pick{k})
    ),
    d{k} AS MATERIALIZED (
      SELECT c.vec_id, LEAST(d.md, 1.0 - {cos}) AS md
      FROM e c JOIN d{prev} d ON d.vec_id = c.vec_id CROSS JOIN p{k} p
    )""")
        sel.append(f"SELECT vec_id FROM pick{k}")
    finals = ["SELECT 1 AS pick_order, vec_id, 0.0 AS mindist FROM p1"]
    finals += [
        f"SELECT {k} AS pick_order, vec_id, md AS mindist FROM pick{k}"
        for k in range(2, FPS_K + 1)
    ]
    return (
        "WITH " + ",".join(parts) + "\n    " + " UNION ALL ".join(finals)
    )


@query("farthest_point_sample", oracle=_o_fps())
def farthest_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy farthest-point (k-center) selection of FPS_K maximally
    diverse embedding vectors — the deterministic diverse-coreset
    sampler (MMR with the relevance term off): seed with the smallest
    vec_id, then repeatedly take the candidate whose cosine distance
    to its NEAREST already-picked vector is largest. The
    diversity-aware counterpart of importance_sample /
    stratified_sample for training-data selection: those weight by
    quality or stratum, this one maximizes geometric coverage so a
    small eval/seed set spans the embedding space instead of piling
    into the densest cluster.

    Exactness: cosine rides dot_dec (fixed-point exact dot products,
    registry.py recipe) and sqrt norms — IEEE-identical scalars in
    both engines; LEAST / ORDER BY on identical doubles are then
    deterministic, ties broken by vec_id. The oracle unrolls the same
    running-min recurrence into CTE stages (o_fps), so both engines
    execute literally the same algorithm.

    Scale shape: norms once (narrow map), then K-1 rounds of
    [broadcast 1 pick -> corpus-linear least() update -> 1-row
    TakeOrderedAndProject argmax]. Driver traffic is K-1 single rows
    (the bounded-trainer-loop pattern of bpe_learn_merges); the
    running-dists frame is localCheckpointed per round so lineage
    stays flat. O(K * corpus * dim) total — for K beyond ~tens at
    100 TB, pre-bucket with ann_lsh/ann_ivf and run FPS per bucket."""
    from sql_flow_spark.functions.mat import materialize_once

    t = load_tables(spark, sf_dir, ("embeddings",), spread=False)
    e = t["embeddings"].select(
        "vec_id",
        "embedding",
        norm("embedding").alias("nrm"),
    )
    e = materialize_once(e)

    seed = e.orderBy("vec_id").limit(1)
    picks = seed.select("vec_id", "embedding", "nrm").collect()
    out = [(1, picks[0]["vec_id"], 0.0)]

    p = seed.select(
        F.col("embedding").alias("p_emb"), F.col("nrm").alias("p_nrm")
    )
    dists = (
        e.crossJoin(F.broadcast(p))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            (
                F.lit(1.0)
                - safe_cos(
                    dot_dec(F.col("embedding"), F.col("p_emb")),
                    F.col("nrm"),
                    F.col("p_nrm"),
                )
            ).alias("md"),
        )
    )
    selected = {picks[0]["vec_id"]}
    for k in range(2, FPS_K + 1):
        dists = materialize_once(dists)
        best = (
            dists.where(~F.col("vec_id").isin(*selected))
            .orderBy(F.col("md").desc(), "vec_id")
            .limit(1)
            .collect()[0]
        )
        out.append((k, best["vec_id"], best["md"]))
        selected.add(best["vec_id"])
        pk = (
            dists.where(F.col("vec_id") == best["vec_id"])
            .select(
                F.col("embedding").alias("p_emb"), F.col("nrm").alias("p_nrm")
            )
        )
        dists = (
            dists.crossJoin(F.broadcast(pk))
            .select(
                "vec_id",
                "embedding",
                "nrm",
                F.least(
                    F.col("md"),
                    F.lit(1.0)
                    - safe_cos(
                        dot_dec(F.col("embedding"), F.col("p_emb")),
                        F.col("nrm"),
                        F.col("p_nrm"),
                    ),
                ).alias("md"),
            )
        )
    return spark.createDataFrame(
        out, "pick_order INT, vec_id BIGINT, mindist DOUBLE"
    )


# ------------------------------------------------ scalar quantization

_SQ_LEVELS = 255.0  # int8-style 256-level scalar quantization


@query(
    "embedding_quantization",
    oracle=f"""
    WITH per_vec AS (
      SELECT label,
             len(embedding) AS dim,
             list_min(embedding) AS mn,
             list_max(embedding) AS mx,
             embedding
      FROM embeddings
    ),
    errs AS (
      SELECT label, dim,
             CASE WHEN mx = mn THEN 0.0 ELSE
               list_max(list_transform(embedding, x ->
                 abs(CAST(x AS DOUBLE) - (CAST(mn AS DOUBLE)
                   + floor((CAST(x AS DOUBLE) - CAST(mn AS DOUBLE))
                       / ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                          / {_SQ_LEVELS}) + 0.5)
                     * ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                        / {_SQ_LEVELS})))))
             END AS max_err,
             CASE WHEN mx = mn THEN CAST(0 AS DECIMAL(38,0)) ELSE
               list_sum(list_transform(embedding, x ->
                 CAST(floor(
                   (CAST(x AS DOUBLE) - (CAST(mn AS DOUBLE)
                     + floor((CAST(x AS DOUBLE) - CAST(mn AS DOUBLE))
                         / ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                            / {_SQ_LEVELS}) + 0.5)
                       * ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                          / {_SQ_LEVELS})))
                   * (CAST(x AS DOUBLE) - (CAST(mn AS DOUBLE)
                     + floor((CAST(x AS DOUBLE) - CAST(mn AS DOUBLE))
                         / ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                            / {_SQ_LEVELS}) + 0.5)
                       * ((CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))
                          / {_SQ_LEVELS})))
                   * {10.0 ** _SQ_ERRSCALE} + 0.5) AS DECIMAL(30,0))))
             END AS sq_dec
      FROM per_vec
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(sq_dec) AS DOUBLE) / {10.0 ** _SQ_ERRSCALE}
             / CAST(SUM(dim) AS DOUBLE) AS mse,
           MAX(max_err) AS max_abs_err
    FROM errs GROUP BY label
    """,
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style scalar quantization audit: quantize every embedding
    to 256 levels on its own [min, max] range (the storage layout
    vector stores actually ship — 4x smaller than float32), then
    report the reconstruction error per label: mean squared error per
    dimension and the worst absolute element error. The
    decide-before-you-compress panel for an embedding pipeline.

    Quantization uses floor(u + 0.5), not round() — round() is
    half-even in one engine and half-away in the other, so the house
    fixed-point idiom is the only cross-engine-safe rounding. Squared
    errors are fixed-pointed to 12dp and DECIMAL-summed (exact in any
    fold order); the flat-vector edge (max = min, zero scale) is
    short-circuited to zero error identically in both engines.

    Scale shape: a narrow map over the embeddings scan (two array
    folds per row, no explode), then a labels-sized groupBy of
    map-side partials — no join, no window, one tiny shuffle."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"].select(
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.array_min("embedding").alias("mn"),
        F.array_max("embedding").alias("mx"),
        "embedding",
    )
    mn = F.col("mn").cast("double")
    step = (F.col("mx").cast("double") - mn) / F.lit(_SQ_LEVELS)

    def _err(x):
        xd = x.cast("double")
        dq = mn + F.floor((xd - mn) / step + F.lit(0.5)) * step
        return xd - dq

    max_err = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        F.array_max(F.transform("embedding", lambda x: F.abs(_err(x))))
    )
    sq_dec = F.when(
        F.col("mx") == F.col("mn"), F.lit(0).cast("decimal(38,0)")
    ).otherwise(
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: scaled_int(_err(x) * _err(x), _SQ_ERRSCALE),
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, v: acc + v,
        )
    )
    errs = e.select(
        "label", "dim", max_err.alias("max_err"), sq_dec.alias("sq_dec")
    )
    return errs.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        (
            F.sum("sq_dec").cast("double")
            / F.lit(10.0**_SQ_ERRSCALE)
            / F.sum("dim").cast("double")
        ).alias("mse"),
        F.max("max_err").alias("max_abs_err"),
    )


# ------------------------------------- within-label diversity (Gram identity)

_DIV_SCALE = 4  # per-component fixed-point digits; keeps Gram sums < 2^53


@query(
    "embedding_diversity_by_label",
    oracle=f"""
    WITH comp AS (
      SELECT label, t.i AS pos,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * {10.0 ** _DIV_SCALE:.1f} + 0.5)
                  AS DECIMAL(18,0)) AS c
      FROM embeddings,
           LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    g1 AS (
      SELECT label, pos,
             CAST(SUM(c) AS DECIMAL(19,0)) AS s,
             SUM(c*c) AS ssq
      FROM comp GROUP BY label, pos
    ),
    g2 AS (
      SELECT label, SUM(s*s) AS gram, SUM(ssq) AS diag
      FROM g1 GROUP BY label
    ),
    cnt AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label)
    SELECT cnt.label AS label,
           CAST(cnt.n_vecs AS BIGINT) AS n_vecs,
           CAST(g2.gram - g2.diag AS DOUBLE)
             / CAST(cnt.n_vecs * (cnt.n_vecs - 1) AS DOUBLE)
             / {10.0 ** (2 * _DIV_SCALE):.1f} AS mean_pair_dot,
           CAST(g2.diag AS DOUBLE) / CAST(cnt.n_vecs AS DOUBLE)
             / {10.0 ** (2 * _DIV_SCALE):.1f} AS mean_sq_norm
    FROM g2 JOIN cnt ON g2.label = cnt.label
    WHERE cnt.n_vecs > 1
    """,
)
def embedding_diversity_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class embedding diversity WITHOUT pairwise work: the mean
    pairwise dot product inside each label via the Gram identity
    sum_(i<j) v_i.v_j = (||sum v||^2 - sum ||v||^2) / 2 — the panel
    that says which classes are semantically collapsed (high mean dot
    -> redundant members, a SemDeDup-style prune target) and which are
    diffuse, at O(n*dim) instead of O(n^2*dim). mean_sq_norm is the
    companion scale check (unit-norm corpora read 1.0).

    Exactness: components are fixed-pointed per the dot_dec recipe
    (floor(v*S+0.5), pure IEEE) and every sum/square stays in exact
    DECIMAL; the two output doubles are exact-int casts (all < 2^53,
    so decimal->double is exact in both engines) divided in IEEE
    order. No libm anywhere.

    Scale shape: posexplode to (label, pos) partials — map-side
    combine collapses the per-(label,pos) component sums before ONE
    shuffle on (label, pos) [dims x labels rows], then a labels-sized
    rollup; the count side is a labels-sized broadcast join. Never
    materializes a pair. 100 TB-safe at any label cardinality.

    Reference parity: no equivalent — the reference's embedding story
    stops at per-batch UDFs (/root/reference/sqlflow/udfs.py); this is
    the corpus-level audit a training pipeline adds on top."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    e = t["embeddings"]
    comp = e.select(
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        "pos",
        scaled_int(F.col("v").cast("double"), _DIV_SCALE).alias("c"),
    )
    # Overflow bound: |c| <= ~10^4 (unit-ish components at _DIV_SCALE
    # fixed point), so |s| <= n*10^4 fits decimal(19,0) to n = 10^15
    # vectors per label, and gram = sum_pos s^2 <= dim*(n*10^4)^2 fits
    # Spark's decimal(38,0) sum to n ~ 10^15/sqrt(dim) (~1.2e14 at
    # dim=64) — far past any per-label corpus this runs on. Past that,
    # widen the fixed point or pre-aggregate per label shard.
    g1 = comp.groupBy("label", "pos").agg(
        F.sum("c").cast("decimal(19,0)").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
    )
    g2 = g1.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("gram"),
        F.sum("ssq").alias("diag"),
    )
    cnt = e.groupBy("label").agg(F.count("*").alias("n_vecs"))
    s2 = F.lit(10.0 ** (2 * _DIV_SCALE))
    joined = g2.join(F.broadcast(cnt), "label").where(F.col("n_vecs") > 1)
    return joined.select(
        "label",
        F.col("n_vecs").cast("long").alias("n_vecs"),
        (
            (F.col("gram") - F.col("diag")).cast("double")
            / (F.col("n_vecs") * (F.col("n_vecs") - F.lit(1))).cast("double")
            / s2
        ).alias("mean_pair_dot"),
        (
            F.col("diag").cast("double") / F.col("n_vecs").cast("double") / s2
        ).alias("mean_sq_norm"),
    )


# ------------------------------------------------- SemDeDup prune

# Cluster-then-prune semantic dedup (the SemDeDup recipe: k-means the
# embedding space so candidate pairs only form within a cluster, then
# prune near-identical members). Pinned small for cross-engine
# determinism: 16 first-vector seeds, 2 Lloyd iterations, cosine
# threshold IS the embedding near-dup family's (one definition).
SEMDEDUP_K = 16
SEMDEDUP_ITERS = 2
SEMDEDUP_TAU = EMB_DUP_TAU


def _o_semdedup() -> str:
    cos = o_safe_cos(
        o_dot_dec('x.embedding', 'y.embedding'), 'x.nrm', 'y.nrm'
    )
    return (
        "WITH " + ",\n".join(_km_ctes(SEMDEDUP_K, SEMDEDUP_ITERS))
        + f""",
    m AS MATERIALIZED (
      SELECT a.vec_id, a.cluster, emb.embedding,
             sqrt({o_dot_dec('emb.embedding', 'emb.embedding')}) AS nrm
      FROM a{SEMDEDUP_ITERS} a JOIN embeddings emb USING (vec_id)
    ),
    pruned AS (
      SELECT DISTINCT y.vec_id
      FROM m x JOIN m y
        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE {cos} >= {SEMDEDUP_TAU}
    )
    SELECT m.vec_id, m.cluster, p.vec_id IS NULL AS keep
    FROM m LEFT JOIN pruned p ON p.vec_id = m.vec_id
    """
    )


@query("semdedup_prune", oracle=_o_semdedup())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means the embedding corpus
    (16 clusters, 2 Lloyd iterations, the pinned _lloyd/_km_ctes
    trajectory), then within each cluster prune every vector that has
    a SMALLER-id cluster-mate with cosine >= 0.40 (keep-first, the
    dedup family's MIN-id convention). Near-identical embeddings land
    in the same cluster, so the quadratic pair search never leaves a
    cluster — the cluster assignment is the blocking key, which is
    the whole point of the recipe: label blocks (dedup_embedding)
    need labels, LSH blocks (dedup_embedding_lsh) need tuned planes,
    k-means blocks adapt to the actual density of the space.

    Exactness: the Lloyd trajectory is the kmeans_embeddings
    bit-for-bit contract; the prune gate compares the identical IEEE
    cosine (exact fixed-point dot / exact norms) against the same
    literal in both engines, and keep/prune is set membership — no
    float leaves the gate except through that one pinned comparison.

    Scale shape: _lloyd's per-iteration cost is the kmeans shape
    (broadcast centroids, map-side partials). The pair stage
    self-joins on the cluster key — one shuffle, quadratic only
    WITHIN a cluster. Here k is pinned at 16 for the oracle; at real
    scale k grows with the corpus so the expected cluster size (and
    the per-key join fan-out) stays bounded — SemDeDup's 100 TB
    deployment knob is k, not a new algorithm. The keep verdict is a
    DISTINCT on pruned ids plus one left join back on vec_id.

    Reference parity: no equivalent — the reference has no embedding
    operators (/root/reference/sqlflow/udfs.py stops at per-batch
    scalar UDFs); this extends the near-dup family the brief adds."""
    from sql_flow_spark.functions.mat import materialize_once

    assign, _cent = _lloyd(spark, sf_dir, SEMDEDUP_K, SEMDEDUP_ITERS)
    t = load_tables(spark, sf_dir, ("embeddings",))
    # three consumers (both pair sides + the verdict join-back) — left
    # unmaterialized, each would re-run the assignment join over the
    # exploded fact; the steady cost at sf0.1 is _lloyd itself (~4.5s
    # per fresh call: 2 iterations of eager checkpoints), not the pairs
    # partitioned by the pair-join key at core count BEFORE the
    # checkpoint (r13): the self-join below then reuses the
    # partitioning with zero exchange, and the CPU-bound cosine stage
    # (measured 1.9 s on ONE task when AQE coalesced the tiny bytes)
    # spreads across the cluster's cores
    m = materialize_once(
        t["embeddings"]
        .select("vec_id", "embedding")
        .join(assign, "vec_id")
        .withColumn("nrm", norm("embedding"))
        .repartition(
            spark.sparkContext.defaultParallelism, "cluster"
        )
    )
    x = m.select(
        F.col("cluster"),
        F.col("vec_id").alias("xid"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("xnrm"),
    )
    y = m.select(
        F.col("cluster"),
        F.col("vec_id").alias("yid"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("ynrm"),
    )
    cos = pair_cosine("ea", "eb", "xnrm", "ynrm")
    pruned = (
        x.join(y, "cluster")
        .where(F.col("xid") < F.col("yid"))
        .where(cos >= F.lit(SEMDEDUP_TAU))
        .select(F.col("yid").alias("vec_id"))
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    return m.join(pruned, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.col("_pruned").isNull().alias("keep"),
    )
