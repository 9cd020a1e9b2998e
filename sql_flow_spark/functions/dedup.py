"""Deduplication operators for training-data pipelines (SURVEY.md §2
rows 22-26): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine.

Scale design: every near-dup variant generates candidates via a
bucket/band join (linear in data + bucket skew), NEVER an O(n^2)
crossJoin; verification runs only on candidates. Hashing stays JVM-side
(xxhash64); the one Python step (SimHash bit-majority) is an
Arrow-batched pandas UDF over pre-hashed arrays.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from sql_flow_spark.functions.similarity import (
    EMB_DUP_TAU,
    O_COSINE_PAIRS,
    O_NORMS_CTE,
    norm,
    pair_cosine,
)
from sql_flow_spark.functions.mat import materialize_once
from sql_flow_spark.functions.textops import (
    O_NORMALIZE,
    fingerprint,
    normalize_text,
    ws_token_count,
    ws_tokens,
)
from sql_flow_spark.registry import query
from sql_flow_spark.tables import load_tables

# ---------------------------------------------------------------- exact

@query(
    "dedup_exact",
    oracle=f"""
    SELECT
      fingerprint,
      CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
      COUNT(*) AS n_copies
    FROM (
      SELECT doc_id, md5({O_NORMALIZE.format(expr='text')}) AS fingerprint
      FROM documents
    )
    GROUP BY fingerprint
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-content fingerprint,
    keep the lowest doc_id. One shuffle on the 128-bit key; at 100 TB
    the map-side partial agg collapses duplicates before the shuffle."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .select("doc_id", fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ------------------------------------------------------------- shingles

def token_ngrams(toks: Column, n: int = 3, distinct: bool = True) -> Column:
    """Distinct word n-gram shingles from a *materialized* token-array
    column, built with array built-ins (transform over an index
    sequence) — a narrow map, no explode needed to build.

    IMPORTANT: pass a bound column (e.g. via withColumn), not the
    ws_tokens(...) expression — lambdas inline their argument, so an
    expression would make Catalyst re-split the text for every
    element_at lookup (observed 8s -> 0.5s on 5k docs).

    Short-doc guard: for docs with fewer than n tokens,
    sequence(0, size-n) would count DOWN (e.g. sequence(0,-2) =
    [0,-1,-2]) and element_at(., 0) is a runtime error under ANSI —
    emit an empty shingle set instead, matching the oracle's
    generate_series(1, len-2) which is empty for short docs."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(grams) if distinct else grams


def with_shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """documents -> (doc_id, source, shingles) with tokens materialized
    once."""
    return (
        df.withColumn("toks", ws_tokens("text"))
        .withColumn("shingles", token_ngrams(F.col("toks"), n))
    )


# n-gram shingles in DuckDB (1-indexed lists), same construction.
O_NGRAMS = (
    "list_distinct(list_transform(generate_series(1, len({t}) - 2), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
)
O_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"

NGRAM_JACCARD_TAU = 0.12


@query(
    "ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source,
             {O_NGRAMS.format(t=O_TOKENS)} AS shingles
      FROM documents
    )
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / CAST(len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        >= {NGRAM_JACCARD_TAU}
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over source-blocked pairs — the
    oracle-checkable twin of exact_jaccard_pairs. The production
    composition feeds LSH candidates instead (see exact_jaccard_pairs
    docstring)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return exact_jaccard_pairs(t["documents"])


def _jaccard_col() -> Column:
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # Two empty shingle sets (short/boilerplate docs) make union 0;
    # under ANSI mode a bare division crashes the whole query. NULL
    # matches DuckDB's x/0 and is dropped by the >= tau filter — such
    # pairs are the fingerprint component's job, not jaccard's.
    return F.when(union > 0, inter.cast("double") / union.cast("double"))


def exact_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    tau: float = NGRAM_JACCARD_TAU,
    block_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (doc_a, doc_b, jaccard >= tau).

    This is the VERIFIER; what makes it scale is where candidate pairs
    come from:

    - ``candidates`` given (production): any (doc_a, doc_b) DataFrame,
      normally ``minhash_candidate_pairs`` — LSH blocking keeps
      candidate generation linear in docs, and verification is
      O(candidates). This is the 100 TB composition.
    - ``candidates=None`` (oracle twin): pairs are generated within
      ``block_col`` blocks. Exact and DuckDB-checkable, but a popular
      block makes within-block pairing near-quadratic — keep it to
      verification-scale data.

    Jaccard uses set-intersection sizes over 8-byte xxhash64 shingle
    hashes instead of shingle strings: same set sizes modulo 64-bit
    collisions (P ~ 1e-10 at this scale), ~10x cheaper comparison, and
    the integer-count double ratio is engine-identical.

    A size-ratio prefilter prunes pairs before the O(|A|+|B|)
    intersection: jaccard(A,B) >= tau implies min(|A|,|B|) >=
    tau * max(|A|,|B|), so pairs outside that band can be dropped on
    two cached ints with ZERO false negatives — exact semantics, the
    oracle needs no change. On length-skewed real corpora this removes
    most of the quadratic block's intersect work (the synthetic
    testdata's uniform doc lengths barely exercise it, ~10-20%).
    """
    keep = [block_col] if candidates is None else []
    sh = with_shingles(docs, n).select(
        "doc_id",
        *keep,
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles"),
    )
    # Both pairing modes read the shingle table twice (a/b sides);
    # materialize so the shingle build + its codegen stage run once
    # (checkpoint, not cache: no CacheManager entry to leak — see
    # functions/mat.py).
    sh = materialize_once(sh.withColumn("nsh", F.size("shingles")))
    size_band = (
        F.col("n_a").cast("double") >= F.lit(tau) * F.col("n_b").cast("double")
    ) & (F.col("n_b").cast("double") >= F.lit(tau) * F.col("n_a").cast("double"))
    if candidates is not None:
        sh_a = sh.select(
            F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"),
            F.col("nsh").alias("n_a"),
        )
        sh_b = sh.select(
            F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"),
            F.col("nsh").alias("n_b"),
        )
        cand = (
            candidates.select("doc_a", "doc_b")
            .distinct()
            .join(sh_a, "doc_a")
            .join(sh_b, "doc_b")
            .where(size_band)
        )
    else:
        a = sh.select(
            F.col("doc_id").alias("doc_a"), F.col(block_col).alias("blk_a"),
            F.col("shingles").alias("sh_a"), F.col("nsh").alias("n_a"),
        )
        b = sh.select(
            F.col("doc_id").alias("doc_b"), F.col(block_col).alias("blk_b"),
            F.col("shingles").alias("sh_b"), F.col("nsh").alias("n_b"),
        )
        cand = a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & size_band,
        )
    return (
        cand.select("doc_a", "doc_b", _jaccard_col().alias("jaccard"))
        .where(F.col("jaccard") >= tau)
    )


# ------------------------------------------------------- MinHash + LSH

MINHASH_PERMS = 32
LSH_BANDS = 8
ROWS_PER_BAND = MINHASH_PERMS // LSH_BANDS
MINHASH_TAU = 0.12

# A band bucket holding B docs yields B*(B-1)/2 candidate pairs; one
# boilerplate-heavy bucket (empty docs, license headers) turns the
# linear band join quadratic. Cap what each bucket may contribute:
# beyond the cap a bucket is near-certainly one giant duplicate
# cluster, and the retained members still witness it.
BAND_BUCKET_CAP = 256


def cap_bucket_size(
    bands: DataFrame, keys: list[str], cap: int, id_col: str = "doc_id"
) -> DataFrame:
    """Keep at most ``cap`` rows per bucket (deterministic: lowest ids
    win) before a band-bucket self-join.

    Scale rationale: candidate pairs grow quadratically in bucket size,
    so a single hot bucket dominates the join at 100 TB. The window
    shuffles on the same (band, bkey) key the candidate join needs, so
    AQE/exchange-reuse keeps it to the one partitioning the join pays
    anyway. Truncation (vs dropping the bucket) preserves a witness
    pair for every retained member of the duplicate cluster."""
    w = Window.partitionBy(*keys).orderBy(id_col)
    return (
        bands.withColumn("_bucket_rank", F.row_number().over(w))
        .where(F.col("_bucket_rank") <= cap)
        .drop("_bucket_rank")
    )


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate (doc_a, doc_b) pairs from a (doc_id, shingles)
    DataFrame: 32 xxhash64 min-hashes -> 8 bands of 4 -> capped
    band-bucket self-join.

    Scale shape: candidate generation is a join on (band, band_hash) —
    work is linear in docs plus the (rare) bucket collisions, never
    all-pairs. Signatures are pure array expressions (hash each shingle
    string ONCE, each "permutation" an array_min over a re-hash of the
    8-byte base hashes) — entirely narrow, zero shuffle; band keys are
    a narrow map + explode. This is the candidate feeder for both
    dedup_minhash_lsh and exact_jaccard_pairs(candidates=...).
    """
    hashed = docs.select(
        "doc_id",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("base"),
    )
    mh = hashed.select(
        "doc_id",
        *[
            F.array_min(
                F.transform("base", lambda h: F.xxhash64(F.lit(p), h))
            ).alias(f"h{p}")
            for p in range(MINHASH_PERMS)
        ],
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.lit(b),
                *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
            ).alias("bkey"),
        )
        for b in range(LSH_BANDS)
    ]
    bands = mh.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey"))
    bands = cap_bucket_size(bands, ["band", "bkey"], BAND_BUCKET_CAP)
    # The candidate join is a self-join: unmaterialized, the whole
    # signature subtree executes twice (and a bare cache() would leak
    # a CacheManager entry per invocation).
    bands = materialize_once(bands)

    return (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )


@query("dedup_minhash_lsh")  # hash-function specific -> rows-only check
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: LSH candidates
    (minhash_candidate_pairs) verified with exact Jaccard — the
    linear-at-scale composition exact_jaccard_pairs documents."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = materialize_once(
        with_shingles(t["documents"]).select("doc_id", "shingles")
    )

    cand = minhash_candidate_pairs(docs)
    sh_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", _jaccard_col().alias("jaccard"))
        .where(F.col("jaccard") >= MINHASH_TAU)
    )


# ------------------------------------------------------------- SimHash

SIMHASH_BITS = 63  # avoid signed-long overflow at bit 63
SIMHASH_BAND_BITS = 16
SIMHASH_MAX_HAMMING = 3


@F.pandas_udf(LongType())
def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
    """Bit-majority SimHash over pre-computed per-token xxhash64 values.
    Arrow-batched and fully vectorized: the whole batch's hash arrays
    are flattened once, then each bit plane is a single reduceat over
    the flat array — the only Python step in the SimHash pipeline
    (hashing itself stays JVM-side)."""
    import numpy as np

    n = len(hashes)
    lengths = np.array(
        [0 if hs is None else len(hs) for hs in hashes], dtype=np.int64
    )
    if lengths.sum() == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    flat = np.concatenate(
        [np.asarray(hs, dtype=np.int64) for hs in hashes if hs is not None and len(hs)]
    ).astype(np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    # reduceat misreads zero-length segments; clamp and mask after.
    safe_starts = np.minimum(starts, len(flat) - 1)
    sig = np.zeros(n, dtype=np.uint64)
    for bit in range(SIMHASH_BITS):
        bits = (flat >> np.uint64(bit)) & np.uint64(1)
        ones = np.add.reduceat(bits, safe_starts)
        sig |= ((2 * ones > lengths.astype(np.uint64)) .astype(np.uint64)) << np.uint64(bit)
    sig[lengths == 0] = 0
    return pd.Series(sig.astype(np.int64))


@query("dedup_simhash")  # hash-function specific -> rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: per-token xxhash64 (JVM) -> 63-bit
    bit-majority signature (pandas UDF) -> 16-bit band join (a pair
    within hamming<=3 shares >=1 of 4 bands by pigeonhole) -> exact
    hamming verify via bit_count(xor). Candidate generation is again a
    band join, linear at scale."""
    t = load_tables(spark, sf_dir, ("documents",))
    # Token hashing is a narrow array transform (JVM); no
    # explode/groupBy shuffle — the Arrow UDF receives each doc's hash
    # array directly.
    hashed = t["documents"].select(
        "doc_id",
        F.transform(
            ws_tokens("text"), lambda tok: F.xxhash64(tok)
        ).alias("hs"),
    )
    sigs = hashed.select("doc_id", _simhash_from_hashes("hs").alias("sig"))
    return hamming_band_pairs(sigs)


def hamming_band_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    n_bands: int = 4,
    band_bits: int = SIMHASH_BAND_BITS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Candidate-join machinery for any 64-bit-signature near-dup
    scheme (SimHash text sigs, perceptual image hashes, ...): band the
    signature into ``n_bands`` ``band_bits``-wide keys — a pair within
    hamming <= n_bands-1 shares at least one band by pigeonhole — then
    equi-join on (band, key) and verify exact hamming via
    bit_count(xor). Emits (doc_a, doc_b, hamming) with doc_a < doc_b.

    Scale shape: candidate generation is a bucketed equi-join (linear
    in data + bucket skew, capped by cap_bucket_size), never an O(n^2)
    crossJoin; the hamming verify runs only on candidates."""
    bands = sigs.select(
        F.col(id_col).alias("doc_id"),
        F.col(sig_col).alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(
                            F.col(sig_col), b * band_bits
                        ).bitwiseAND(F.lit((1 << band_bits) - 1)).alias("bkey"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "sig", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey"))
    bands = cap_bucket_size(bands, ["band", "bkey"], BAND_BUCKET_CAP)
    bands = materialize_once(bands)  # self-joined below; no cache leak

    pairs = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("x.sig").bitwiseXOR(F.col("y.sig"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# ------------------------------------------------- embedding near-dups

# EMB_DUP_TAU is hosted in similarity.py (shared with semdedup_prune).
_EMB_SAMPLE_MOD = 2  # keep the oracle's pair count tractable


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    tau: float = EMB_DUP_TAU,
    block_col: str | None = None,
) -> DataFrame:
    """Near-duplicate (id_a, id_b, cosine) pairs over an embedding
    column. THE default entry point for embedding dedup.

    Blocking: by default random-hyperplane LSH buckets — candidate
    pairs drop ~2^LSH_BITS per table and complexity stays linear in
    rows + bucket collisions at 100 TB. Pass ``block_col`` to block on
    an explicit key instead (exact within the block); that variant is
    quadratic in block size (measured ~9x at a 10x probe, SCALING.md)
    and exists as the oracle-checkable verifier, not the scale path.

    Norms are attached per vector BEFORE pairing (O(vectors*dim), not
    O(pairs*dim)); cosine is fixed-point-exact (see similarity.dot_dec)
    so thresholds agree across engines.
    """
    if block_col is not None:
        s = emb.withColumn("nrm", norm(emb_col))
        a = s.select(
            F.col(id_col).alias("vec_a"), F.col(block_col).alias("blk_a"),
            F.col(emb_col).alias("ea"), F.col("nrm").alias("nrm_a"),
        )
        b = s.select(
            F.col(id_col).alias("vec_b"), F.col(block_col).alias("blk_b"),
            F.col(emb_col).alias("eb"), F.col("nrm").alias("nrm_b"),
        )
        cand = a.join(
            b, (F.col("blk_a") == F.col("blk_b")) & (F.col("vec_a") < F.col("vec_b"))
        )
    else:
        from sql_flow_spark.functions.mat import materialize_once
        from sql_flow_spark.functions.similarity import (
            LSH_BITS,
            _hyperplanes,
            embedding_dim,
            lsh_buckets,
        )

        dim = embedding_dim(emb, emb_col)
        # r13 (guide §2.3/§8): the band join used to CARRY both raw
        # vectors through the bucket exchange and then dropDuplicates
        # the pairs — shuffling ~0.5 KB of payload per candidate twice.
        # Now the join moves (id, bucket, 8-int bucket array) only; a
        # pair is emitted exactly once, by its FIRST matching table
        # (bucket ids fold the table index in their high bits, so the
        # dedup is a filter, not an exchange); vectors are attached to
        # the surviving candidates afterwards by id (planner picks
        # broadcast when the vector table is small; keyed join at
        # scale — the candidate-verify shape).
        buckets_df = materialize_once(
            emb.select(
                F.col(id_col).alias(id_col),
                lsh_buckets(F.col(emb_col), _hyperplanes(dim)).alias(
                    "buckets"
                ),
            )
        )
        a = buckets_df.select(
            F.col(id_col).alias("vec_a"), F.col("buckets").alias("ba"),
            F.explode("buckets").alias("bucket"),
        )
        b = buckets_df.select(
            F.col(id_col).alias("vec_b"), F.col("buckets").alias("bb"),
            F.explode("buckets").alias("bucket_b"),
        )
        cand_ids = (
            a.join(
                b,
                (F.col("bucket") == F.col("bucket_b"))
                & (F.col("vec_a") < F.col("vec_b")),
            )
            .where(
                F.shiftright(F.col("bucket"), LSH_BITS)
                == F.expr(
                    "array_position(zip_with(ba, bb, (x, y) -> x = y),"
                    " true) - 1"
                )
            )
            .select("vec_a", "vec_b")
        )
        vecs = emb.select(
            F.col(id_col).alias(id_col),
            F.col(emb_col).alias(emb_col),
            norm(emb_col).alias("nrm"),
        )
        cand = cand_ids.join(
            vecs.select(
                F.col(id_col).alias("vec_a"), F.col(emb_col).alias("ea"),
                F.col("nrm").alias("nrm_a"),
            ),
            "vec_a",
        ).join(
            vecs.select(
                F.col(id_col).alias("vec_b"), F.col(emb_col).alias("eb"),
                F.col("nrm").alias("nrm_b"),
            ),
            "vec_b",
        )
    # pair_cosine rides the codegen fast dot — the candidate-pair
    # cosine is the family's hottest per-row cost (see
    # similarity.dot_dec_fast)
    return cand.select(
        "vec_a",
        "vec_b",
        pair_cosine("ea", "eb", "nrm_a", "nrm_b").alias("cosine"),
    ).where(F.col("cosine") >= tau)


@query("dedup_embedding_lsh")  # approximate blocking -> rows-only check
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for embedding near-dup detection (and the
    default of embedding_near_dup_pairs): block by random-hyperplane
    LSH bucket (candidates drop ~2^planes) instead of a low-cardinality
    label, then exact cosine on candidates. The blocking key is what
    changes the complexity class (see SCALING.md 10x probe)."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    return embedding_near_dup_pairs(t["embeddings"])


@query(
    "dedup_embedding",
    oracle=f"""
    WITH norms AS ({O_NORMS_CTE}),
    sample AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE vec_id % {_EMB_SAMPLE_MOD} = 0
    ),
    pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             a.embedding AS ea, b.embedding AS eb
      FROM sample a JOIN sample b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    scored AS ({O_COSINE_PAIRS})
    SELECT qid AS vec_a, nid AS vec_b, cosine
    FROM scored
    WHERE cosine >= {EMB_DUP_TAU}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFIER, not the default: embedding-cosine near-dup pairs
    blocked by an explicit label column — exact within the block and
    DuckDB-checkable, but quadratic in block size (~9x at the 10x
    probe, SCALING.md). Use embedding_near_dup_pairs() (LSH blocking,
    the dedup_embedding_lsh path) for anything beyond oracle-scale."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    s = t["embeddings"].where(F.col("vec_id") % _EMB_SAMPLE_MOD == 0)
    return embedding_near_dup_pairs(s, block_col="label")


# ------------------------------------------------ chunk-level exact dedup

# 16-word window: the public suffix-array dedup line (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better") removes
# exact substrings >= ~50 tokens; at this corpus's ~60-word docs a
# 16-word chunk is the equivalent granularity. Chunking (vs true suffix
# arrays) trades boundary-offset recall for a plan that is two hash
# shuffles — the standard production compromise (MegatronLM/RedPajama
# chunk-hash dedup).
CHUNK_WORDS = 16


@query(
    "chunk_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {O_TOKENS} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(t, i * {CHUNK_WORDS} + 1,
                          i * {CHUNK_WORDS} + {CHUNK_WORDS}), ' ')) AS ck
      FROM (
        SELECT doc_id, t,
               unnest(range(CAST(ceil(CAST(len(t) AS DOUBLE)
                                      / {CHUNK_WORDS}.0) AS BIGINT))) AS i
        FROM toks
      )
    ),
    counts AS (SELECT ck, COUNT(*) AS c FROM chunks GROUP BY ck)
    SELECT
      doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS dup_chunk_ratio
    FROM chunks JOIN counts USING (ck)
    GROUP BY doc_id
    """,
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-chunk dedup: split each document into
    consecutive CHUNK_WORDS-word chunks, md5 each chunk, and report per
    document how much of its chunk mass also occurs elsewhere in the
    corpus (count > 1 globally, self-repeats included — a doc that
    repeats its own paragraph is just as redundant to a trainer).

    Scale shape: chunking is a narrow explode (~n_words/16 rows per
    doc); the global chunk count is one hash shuffle on the 128-bit
    chunk key with map-side partials; the join back reuses that same
    hashpartitioning(ck) exchange, then the per-doc agg shuffles on
    doc_id. No similarity math, no candidate pairs — linear end to end,
    the reason chunk-hash dedup is what actually runs at 100 TB."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]

    toks = ws_tokens("text")
    n_chunks = F.greatest(
        F.ceil(F.size(toks).cast("double") / float(CHUNK_WORDS)).cast("int"),
        F.lit(1),
    )
    chunk_hashes = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.md5(
            F.array_join(F.slice(toks, i * CHUNK_WORDS + 1, CHUNK_WORDS), " ")
        ),
    )
    chunks = d.select(
        "doc_id", F.explode(chunk_hashes).alias("ck")
    )
    counts = chunks.groupBy("ck").agg(F.count("*").alias("c"))
    is_dup = F.when(F.col("c") > 1, F.lit(1)).otherwise(F.lit(0))
    return (
        chunks.join(counts, "ck")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(is_dup).cast("long").alias("n_dup_chunks"),
            (
                F.sum(is_dup).cast("double")
                / F.count("*").cast("double")
            ).alias("dup_chunk_ratio"),
        )
    )


# ------------------------------------------- paragraph-level exact dedup

# Paragraph boundary: one or more blank lines. Lee et al. 2022's
# finding is that duplication is SUBSTRING-level and clusters on
# natural document units (boilerplate headers/footers, license blocks,
# navigation chrome) — chunk_dedup's fixed 16-word grid straddles
# those boundaries, so a repeated paragraph whose start is offset
# inside the grid hashes differently per host document. Splitting on
# the author's own paragraph marks aligns the fingerprint to the unit
# that actually repeats.
PARA_SPLIT = r"\n{2,}"


@query(
    "paragraph_dedup",
    oracle=f"""
    WITH paras AS (
      SELECT doc_id, p FROM (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\\n{{2,}}')) AS p
        FROM documents
      ) WHERE trim(p) <> ''
    ),
    fp AS (
      SELECT doc_id,
             md5({O_NORMALIZE.format(expr='p')}) AS pf,
             CAST(len(regexp_split_to_array(trim(p), '\\s+')) AS BIGINT)
               AS ptoks
      FROM paras
    ),
    counts AS (SELECT pf, CAST(COUNT(*) AS BIGINT) AS c FROM fp GROUP BY pf)
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_paras,
      CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
      CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS dup_para_ratio,
      CAST(SUM(ptoks) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN c > 1 THEN ptoks ELSE 0 END) AS DOUBLE)
        / CAST(SUM(ptoks) AS DOUBLE) AS dup_token_mass
    FROM fp JOIN counts USING (pf)
    GROUP BY doc_id
    """,
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity exact dedup — the boundary-aligned
    sibling of chunk_dedup: split each document on blank lines, hash
    each paragraph's NORMALIZED text (lower/strip-punct/collapse-ws —
    the dedup_exact fingerprint applied per paragraph, so boilerplate
    survives formatting jitter), and report per document how much of
    its paragraph count AND token mass also occurs elsewhere in the
    corpus (count > 1 globally, self-repeats included). dup_token_mass
    is the number a curation owner prices removal by: a doc that is
    90% repeated license text costs 90% of its tokens, however many
    paragraphs that is. On the single-paragraph synthetic corpus every
    doc honestly degenerates to one paragraph (= dedup_exact
    semantics); the multi-paragraph split path is pinned by a planted
    fixture in tests/test_functions.py.

    Exactness: fingerprints and counts are exact; the two ratios
    divide exact integers.

    Scale shape: identical budget to chunk_dedup — a narrow split +
    explode, ONE hash shuffle on the 128-bit paragraph key with
    map-side partials, the join back reusing that exchange, and a
    doc_id agg. No pairs, no similarity math: linear end to end.

    Reference parity: none — the reference (sqlflow/sql.py) has no
    dedup operators; this extends the brief's training-data ladder."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    paras = (
        d.select(
            "doc_id", F.explode(F.split("text", PARA_SPLIT)).alias("p")
        )
        .where(F.trim("p") != "")
        .select(
            "doc_id",
            F.md5(normalize_text(F.col("p"))).alias("pf"),
            ws_token_count("p").cast("long").alias("ptoks"),
        )
    )
    counts = paras.groupBy("pf").agg(F.count("*").cast("long").alias("c"))
    dup = F.when(F.col("c") > 1, F.lit(1)).otherwise(F.lit(0))
    dup_toks = F.when(F.col("c") > 1, F.col("ptoks")).otherwise(F.lit(0))
    return (
        paras.join(counts, "pf")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum(dup).cast("long").alias("n_dup_paras"),
            (
                F.sum(dup).cast("double") / F.count("*").cast("double")
            ).alias("dup_para_ratio"),
            F.sum("ptoks").cast("long").alias("n_tokens"),
            (
                F.sum(dup_toks).cast("double")
                / F.sum("ptoks").cast("double")
            ).alias("dup_token_mass"),
        )
    )


# ------------------------------------- content-defined chunk dedup (CDC)

# A token is a chunk boundary when its md5 starts with '0' — a
# content-defined predicate with P = 1/16, i.e. mean chunk ~16 tokens
# (chunk_dedup's granularity). Content-defined boundaries are the
# production fix for BOTH fixed-grid failure modes: unlike
# chunk_dedup's grid they are OFFSET-INVARIANT (the same run of words
# produces the same boundaries wherever it sits in a document), and
# unlike paragraph_dedup they need no authored structure (this
# synthetic corpus has none). The same rolling/content-defined
# boundary trick underlies rsync, backup dedup stores, and
# winnowing-style substring dedup. md5 because BOTH engines compute
# the identical digest (xxhash64 exists only Spark-side).
CDC_BOUNDARY_HEX = "0"
# chunks shorter than this cannot be flagged duplicated: a 1-2 token
# chunk is a stopword bigram that repeats everywhere — counting it as
# duplicate mass would be noise, the standard CDC min-size rule
CDC_MIN_TOKENS = 5


@query(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok, i,
             CASE WHEN substr(md5(tok), 1, 1) = '{CDC_BOUNDARY_HEX}'
                  THEN 1 ELSE 0 END AS b
      FROM (
        SELECT doc_id, unnest({O_TOKENS}) AS tok,
               generate_subscripts({O_TOKENS}, 1) AS i
        FROM documents
      )
    ),
    grouped AS (
      SELECT doc_id, tok, i,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, grp,
             md5(string_agg(tok, ' ' ORDER BY i)) AS ck,
             CAST(COUNT(*) AS BIGINT) AS ctoks
      FROM grouped GROUP BY doc_id, grp
    ),
    counts AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS c FROM chunks GROUP BY ck)
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(CASE WHEN c > 1 AND ctoks >= {CDC_MIN_TOKENS}
               THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
      CAST(SUM(CASE WHEN c > 1 AND ctoks >= {CDC_MIN_TOKENS}
               THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS dup_chunk_ratio,
      CAST(SUM(ctoks) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN c > 1 AND ctoks >= {CDC_MIN_TOKENS}
               THEN ctoks ELSE 0 END) AS DOUBLE)
        / CAST(SUM(ctoks) AS DOUBLE) AS dup_token_mass
    FROM chunks JOIN counts USING (ck)
    GROUP BY doc_id
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunk exact dedup — the OFFSET-INVARIANT member
    of the substring-dedup ladder (chunk_dedup = fixed grid,
    paragraph_dedup = authored boundaries, this = content-defined
    boundaries): a new chunk starts at every token whose md5 begins
    with '{CDC_BOUNDARY_HEX}' (P=1/16, mean chunk ~16 tokens), so a
    repeated run of words chunks IDENTICALLY in every host document
    regardless of where it sits — the property the planted fixture
    pins against chunk_dedup's grid, which misses the same run at
    unaligned offsets. Per document: chunk count, duplicated-chunk
    count/ratio and token mass (a chunk is duplicated when its exact
    content occurs elsewhere in the corpus, self-repeats included,
    and it spans >= {CDC_MIN_TOKENS} tokens — the CDC min-size rule
    that keeps ubiquitous stopword fragments out of the dup mass).

    Exactness: boundaries and chunk fingerprints are md5 on identical
    strings in both engines; counts are exact BIGINTs; the two ratios
    divide exact integers.

    Scale shape: chunk assembly is a PER-ROW array fold (F.aggregate
    over the token array — whole-stage codegen, zero shuffle, no
    window: the first cut of this operator exploded tokens through a
    per-doc running-sum window + regroup and measured 2.5x slower
    at sf0.1, 8.6s vs 3.4s),
    then chunk_dedup's exact budget — a narrow explode, ONE hash
    shuffle on the 128-bit chunk key with map-side partials, and the
    doc_id rollup. Linear end to end, no pairs.

    Reference parity: none — the reference (sqlflow/sql.py) has no
    dedup operators; this extends the brief's training-data ladder."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]

    def is_b(tok):
        return F.substring(F.md5(tok), 1, 1) == CDC_BOUNDARY_HEX

    # fold state: chunks closed so far + the open chunk; a boundary
    # token closes the open chunk (if any) and starts a new one. The
    # no-open-chunk sentinel is NULL, not '' — an empty-text document
    # tokenizes to one '' token, which is a REAL (1-token) chunk in
    # both engines (the adversarial sweep caught the '' sentinel
    # silently dropping those docs).
    empty = F.array().cast("array<string>")
    fold = F.aggregate(
        ws_tokens("text"),
        F.struct(empty.alias("done"), F.lit(None).cast("string").alias("cur")),
        lambda acc, tok: F.struct(
            F.when(
                acc["cur"].isNotNull() & is_b(tok),
                F.array_append(acc["done"], acc["cur"]),
            ).otherwise(acc["done"]).alias("done"),
            F.when(acc["cur"].isNull(), tok)
            .when(is_b(tok), tok)
            .otherwise(F.concat(acc["cur"], F.lit(" "), tok))
            .alias("cur"),
        ),
        lambda acc: F.when(
            acc["cur"].isNotNull(), F.array_append(acc["done"], acc["cur"])
        ).otherwise(acc["done"]),
    )
    # token count = space count + 1 (chunks are single-space joined by
    # construction) — no re-split, no array materialization
    chunks = d.select(
        "doc_id", F.explode(fold).alias("chunk")
    ).select(
        "doc_id",
        F.md5("chunk").alias("ck"),
        (
            F.length("chunk")
            - F.length(F.replace(F.col("chunk"), F.lit(" "), F.lit("")))
            + 1
        ).cast("long").alias("ctoks"),
    )
    counts = chunks.groupBy("ck").agg(F.count("*").cast("long").alias("c"))
    dup = F.when(
        (F.col("c") > 1) & (F.col("ctoks") >= CDC_MIN_TOKENS), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        chunks.join(counts, "ck")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup_chunks"),
            (
                F.sum(dup).cast("double") / F.count("*").cast("double")
            ).alias("dup_chunk_ratio"),
            F.sum("ctoks").cast("long").alias("n_tokens"),
            (
                F.sum(dup * F.col("ctoks")).cast("double")
                / F.sum("ctoks").cast("double")
            ).alias("dup_token_mass"),
        )
    )


@query(
    "dedup_family_sizes",
    oracle=f"""
    WITH fams AS (
      SELECT md5({O_NORMALIZE.format(expr='text')}) AS f,
             CAST(COUNT(*) AS BIGINT) AS family_size
      FROM documents GROUP BY f
    )
    SELECT family_size,
           CAST(COUNT(*) AS BIGINT) AS n_families,
           CAST(family_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((family_size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM fams GROUP BY family_size
    """,
)
def dedup_family_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size distribution: for each family size, how
    many families, how many documents they hold, and how many are
    removable (size − 1 per family) — the one-page answer to "how much
    will exact dedup shrink this corpus", reported BEFORE committing
    to the rewrite. Exact integers throughout.

    Scale shape: the fingerprint groupBy is dedup_exact's shuffle; the
    second agg lands on the tiny family-size key space with map-side
    partials."""
    t = load_tables(spark, sf_dir, ("documents",))
    fams = (
        t["documents"]
        .select(fingerprint("text").alias("f"))
        .groupBy("f")
        .agg(F.count("*").cast("long").alias("family_size"))
    )
    return fams.groupBy("family_size").agg(
        F.count("*").cast("long").alias("n_families"),
        (F.col("family_size") * F.count("*")).cast("long").alias("n_docs"),
        ((F.col("family_size") - 1) * F.count("*"))
        .cast("long")
        .alias("n_removable"),
    )


# ------------------------------------------- edit-distance near-dup

ED_TAU = 12  # max edit distance
ED_PREFIX = 80  # chars compared (prefix edit distance)
ED_BAND = 16  # length-band width; > ED_TAU makes blocking lossless


@query(
    "dedup_editdistance",
    oracle=f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, {ED_PREFIX}),
                            substr(b.text, 1, {ED_PREFIX})) AS INTEGER)
             AS dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= {ED_TAU}
    WHERE levenshtein(substr(a.text, 1, {ED_PREFIX}),
                      substr(b.text, 1, {ED_PREFIX})) <= {ED_TAU}
    """,
)
def dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: same-language documents whose
    {ED_PREFIX}-char prefixes are within levenshtein {ED_TAU} — the
    character-level notion of near-duplicate (typo'd re-posts, small
    template edits) that token-level Jaccard/MinHash miss.

    The blocking is LOSSLESS, so the quadratic-looking oracle and the
    banded Spark plan compute the identical pair set: levenshtein(a,b)
    >= |len(a)-len(b)|, so dist <= {ED_TAU} forces a length gap <=
    {ED_TAU}; with band width {ED_BAND} > {ED_TAU}, every qualifying
    pair lands in the same or adjacent (lang, floor(n_chars/{ED_BAND}))
    band. The right leg explodes onto (band, band+1) and a pair is
    kept once: same-band by doc_id order, cross-band when the left doc
    holds the higher band. Candidates then pass the cheap length
    prefilter BEFORE the O(len^2) levenshtein.

    Note the oracle holds because this corpus is ASCII: DuckDB's
    levenshtein counts bytes where Spark counts characters, so on
    multi-byte text the two diverge by design (Spark's
    character-based count is the one this operator specifies).

    Scale shape: one exchange per leg onto (lang, band) buckets;
    bucket population is corpus_size / (langs x bands), so scored
    pairs grow linearly with corpus size for a stable length
    distribution — never all-pairs. The levenshtein runs JVM-side
    (codegen, zero Python). Skewed bands (one dominant doc length)
    are the salting case, same as any hot-key join."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(
        "doc_id",
        "lang",
        "n_chars",
        F.substring("text", 1, ED_PREFIX).alias("prefix"),
        F.floor(F.col("n_chars") / ED_BAND).alias("band"),
    )
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("n_chars").alias("len_a"),
        F.col("prefix").alias("p_a"),
        F.col("band").alias("band_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_chars").alias("len_b"),
        F.col("prefix").alias("p_b"),
        F.col("band").alias("band_b"),
    ).withColumn(
        "bin", F.explode(F.array(F.col("band_b"), F.col("band_b") + 1))
    )
    keep_once = (
        (F.col("band_b") == F.col("band_a")) & (F.col("id_a") < F.col("id_b"))
    ) | (F.col("band_b") == F.col("band_a") - 1)
    pairs = a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("band_a") == F.col("bin"))
        & keep_once
        & (F.abs(F.col("len_a") - F.col("len_b")) <= ED_TAU),
    )
    # threshold-bounded levenshtein: banded DP (O(tau * len), not
    # O(len^2)) that bails out early and returns -1 past the bound —
    # identical results for kept pairs, measured 24.2s -> ~3x cheaper
    # at sf0.1 (most candidates are far apart, so the bail-out
    # dominates). The oracle keeps the unbounded form + filter: same
    # pair set, same distances.
    dist = F.levenshtein("p_a", "p_b", ED_TAU)
    return pairs.select(
        F.least("id_a", "id_b").alias("doc_a"),
        F.greatest("id_a", "id_b").alias("doc_b"),
        dist.cast("int").alias("dist"),
    ).where((F.col("dist") >= 0) & (F.col("dist") <= ED_TAU))


# ----------------------------------------------- containment pairs

CONTAIN_TAU = 0.5


@query(
    "containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source,
             {O_NGRAMS.format(t=O_TOKENS)} AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / CAST(len(a.shingles) AS DOUBLE) AS containment
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.doc_id <> b.doc_id
    WHERE len(a.shingles) > 0
      AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / CAST(len(a.shingles) AS DOUBLE) >= {CONTAIN_TAU}
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment |A∩B| / |A| — the ASYMMETRIC similarity
    Jaccard can't express: a short quote or excerpt embedded in a
    long document has low Jaccard (the union is dominated by the
    container) but high containment, so this is the operator that
    catches snippet/quotation/subset duplication (Broder's original
    distinction). One row per direction: doc_contained's shingles are
    ≥ {CONTAIN_TAU} covered by doc_container's.

    Exactness: intersection sizes computed over xxhash64'd shingles
    equal the oracle's string-shingle sizes modulo 64-bit collisions
    (P ≈ 1e-10 at this scale, same argument as ngram_jaccard); the
    integer-count double ratio is engine-identical.

    Scale shape: source-blocked pair generation is the oracle-
    verifiable twin (same contract as ngram_jaccard) — the production
    composition feeds minhash_candidate_pairs instead, and the
    containment scoring is O(candidates). The sound prefilter here is
    one-sided: containment(A→B) ≥ τ forces |B| ≥ τ·|A| (the container
    can't be much smaller), applied on two cached ints before the
    O(|A|+|B|) intersect."""
    t = load_tables(spark, sf_dir, ("documents",))
    sh = with_shingles(t["documents"], 3).select(
        "doc_id",
        "source",
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles"),
    )
    sh = materialize_once(sh.withColumn("nsh", F.size("shingles")))
    a = sh.select(
        F.col("doc_id").alias("doc_contained"),
        F.col("source").alias("src_a"),
        F.col("shingles").alias("sh_a"),
        F.col("nsh").alias("n_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_container"),
        F.col("source").alias("src_b"),
        F.col("shingles").alias("sh_b"),
        F.col("nsh").alias("n_b"),
    )
    cand = a.join(
        b,
        (F.col("src_a") == F.col("src_b"))
        & (F.col("doc_contained") != F.col("doc_container"))
        & (F.col("n_a") > 0)
        & (
            F.col("n_b").cast("double")
            >= F.lit(CONTAIN_TAU) * F.col("n_a").cast("double")
        ),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    containment = inter.cast("double") / F.col("n_a").cast("double")
    return cand.select(
        "doc_contained", "doc_container", containment.alias("containment")
    ).where(F.col("containment") >= CONTAIN_TAU)


# ----------------------------------------------- incremental dedup

@query(
    "incremental_dedup",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5({O_NORMALIZE.format(expr='text')}) AS f
      FROM documents
    ),
    corpus AS (SELECT DISTINCT f FROM fp WHERE doc_id % 2 = 0),
    incoming AS (SELECT doc_id, f FROM fp WHERE doc_id % 2 = 1),
    firsts AS (SELECT f, MIN(doc_id) AS first_id FROM incoming GROUP BY f)
    SELECT i.doc_id,
           CASE WHEN c.f IS NOT NULL THEN 'dup_of_corpus'
                WHEN i.doc_id > fs.first_id THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM incoming i
    LEFT JOIN corpus c ON i.f = c.f
    JOIN firsts fs ON fs.f = i.f
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the PRODUCTION shape of exact
    dedup: new documents are checked against the fingerprint index of
    the already-ingested corpus (never against the corpus text), and
    against each other within the batch (first-id wins). Here the
    even/odd doc_id split stands in for corpus/incoming so the
    operator is self-contained and oracle-checkable; in deployment
    the corpus leg is the bucketed fingerprint table the exact-dedup
    family maintains.

    Verdict precedence: a fingerprint already in the corpus is
    'dup_of_corpus' even if it also repeats within the batch — the
    corpus index is authoritative.

    Scale shape: this is why incremental beats re-running dedup_exact
    over corpus+batch at 100 TB — the corpus contributes only its
    DISTINCT fingerprint column (16 bytes/doc, bucketable on f so the
    anti-join is exchange-free against a bucketed index), and the
    batch-internal window shuffles only the batch. Cost per ingest is
    O(batch + corpus-index probe), not O(corpus)."""
    t = load_tables(spark, sf_dir, ("documents",))
    fp = t["documents"].select("doc_id", fingerprint("text").alias("f"))
    corpus = fp.where(F.col("doc_id") % 2 == 0).select("f").distinct()
    incoming = fp.where(F.col("doc_id") % 2 == 1)
    firsts = incoming.groupBy("f").agg(F.min("doc_id").alias("first_id"))
    return (
        incoming.join(
            corpus.withColumn("in_corpus", F.lit(True)), "f", "left"
        )
        .join(firsts, "f")
        .select(
            "doc_id",
            F.when(F.col("in_corpus"), F.lit("dup_of_corpus"))
            .when(F.col("doc_id") > F.col("first_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


@query(
    "dup_rate_by_source",
    oracle=f"""
    WITH fp AS (
      SELECT source, md5({{norm}}) AS f FROM documents
    ),
    fam AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY f)
    SELECT fp.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN fam.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(CASE WHEN fam.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM fp JOIN fam ON fp.f = fam.f
    GROUP BY fp.source
    """.format(norm=O_NORMALIZE.format(expr="text")),
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate contamination per source: the share of each source's
    documents whose exact fingerprint appears more than once ANYWHERE
    in the corpus — the "which feed is poisoning the corpus" triage
    panel that turns dedup_exact's family list into a per-provenance
    health metric (cross-source duplication counts against BOTH
    sources, which is the point: either copy dropping fixes it).

    Exactness: same md5 fingerprint as the whole dedup family; exact
    counts; one ratio of exact BIGINTs.

    Scale shape: one shuffle onto the fingerprint (family sizes with
    map-side partial counts), the fingerprint-keyed join back rides
    the same partitioning, then a sources-sized groupBy of
    partials."""
    t = load_tables(spark, sf_dir, ("documents",))
    fp = t["documents"].select("source", fingerprint("text").alias("f"))
    fam = fp.groupBy("f").agg(F.count("*").cast("long").alias("n"))
    dup = F.when(F.col("n") > 1, 1).otherwise(0)
    return (
        fp.join(fam, "f")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(dup).cast("long").alias("n_dup_docs"),
            (
                F.sum(dup).cast("double") / F.count("*").cast("double")
            ).alias("dup_rate"),
        )
    )


@query(
    "shingle_novelty_curve",
    oracle=f"""
    WITH mx AS (SELECT MAX(doc_id) AS mid FROM documents),
    sh AS (
      SELECT DISTINCT
        least(CAST(floor(CAST(doc_id * 10 AS DOUBLE)
              / CAST(mx.mid + 1 AS DOUBLE)) AS BIGINT), 9) AS tranche,
        unnest({O_NGRAMS.format(t=O_TOKENS)}) AS shingle
      FROM documents CROSS JOIN mx
    ),
    firsts AS (
      SELECT shingle, MIN(tranche) AS first_tranche FROM sh GROUP BY shingle
    )
    SELECT sh.tranche,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_tranche = sh.tranche THEN 1 ELSE 0
                    END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN f.first_tranche = sh.tranche THEN 1 ELSE 0
                    END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS novelty_rate
    FROM sh JOIN firsts f ON sh.shingle = f.shingle
    GROUP BY sh.tranche
    """,
)
def shingle_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve: corpus split into 10 doc-id tranches,
    each reporting how many of its distinct 3-gram shingles are seen
    there FIRST — the "does tranche 8 still add new content or just
    repeat tranches 1-7" curve that prices additional data before you
    pay to process it (the dataset-scaling twin of ngram_novelty's
    split-contamination view; a flat high curve says keep ingesting,
    a collapsing one says dedup harder instead).

    Exactness: tranche assignment is one IEEE floor-division on exact
    integers (identical both engines); everything else is exact
    DISTINCT counting.

    Scale shape: shingles are built with the shared array transform
    (no explode before distinct-ing per doc is needed — the
    (tranche, shingle) dedup shuffle is the one big exchange), firsts
    is a second shingle-keyed agg riding the same partitioning, and
    the join back is same-key; output is 10 rows."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    mx = docs.agg(F.max("doc_id").alias("mid"))
    toks = docs.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.floor(
                (F.col("doc_id") * 10).cast("double")
                / (F.col("mid") + 1).cast("double")
            ).cast("long"),
            F.lit(9).cast("long"),
        ).alias("tranche"),
        ws_tokens("text").alias("t"),
    )
    sh = toks.select(
        "tranche", F.explode(token_ngrams(F.col("t"))).alias("shingle")
    ).distinct()
    firsts = sh.groupBy("shingle").agg(F.min("tranche").alias("first_tranche"))
    is_new = F.when(F.col("first_tranche") == F.col("tranche"), 1).otherwise(0)
    return (
        sh.join(firsts, "shingle")
        .groupBy("tranche")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(is_new).cast("long").alias("n_new"),
            (
                F.sum(is_new).cast("double") / F.count("*").cast("double")
            ).alias("novelty_rate"),
        )
    )


# ------------------------------------------------- near-dup method eval

@query("dedup_eval_report")  # grades hash-specific methods -> rows-only
def dedup_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup method eval panel — ann_recall_report's sibling for
    the text-dedup family: per candidate-generation method (MinHash
    band LSH, SimHash hamming<=3 bands) its pair-level precision and
    recall against EXACT n-gram Jaccard >= NGRAM_JACCARD_TAU ground
    truth (the blocked verifier's own tau).
    This is the panel a dedup owner reads before retuning
    MINHASH_PERMS/LSH_BANDS or swapping methods: recall prices missed
    duplicates, precision prices the exact-verify work wasted on false
    candidates.

    Evaluation universe: WITHIN-SOURCE pairs — the slice where exact
    truth is computable at any scale (the ngram_jaccard blocked
    verifier; global all-pairs truth cannot exist at 100 TB, so the
    honest eval evaluates where truth exists — the standard sampled-
    universe protocol). Method pair sets are restricted to the same
    universe before scoring, so precision/recall compare like with
    like; the universe restriction is reported via n_truth.

    SimHash is graded CROSS-METRIC (its criterion is hamming, not
    Jaccard): its row measures how well bit-majority signatures track
    shingle-set overlap on this corpus — the number that decides
    whether the cheaper signature family is good enough to replace
    MinHash for a given corpus.

    Exactness: every cell is an exact BIGINT count; the two ratios
    divide exact integers (0-pair/0-truth guards emit 0.0). Both
    methods and the truth are xxhash64-deterministic, so the panel
    reproduces bit-for-bit.

    Scale shape: truth is the blocked exact verifier (near-quadratic
    per source block BY DESIGN — this key therefore lives in bench's
    small_sf_ab section beside ngram_jaccard, its named exclusion
    reason); both method legs keep their linear band-bucket layouts;
    scoring adds two doc_id-keyed source joins and a (doc_a, doc_b)
    equi-join per method; output is 2 rows."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    # truth tau = the ngram_jaccard verifier's threshold, NOT
    # MINHASH_TAU: the two constants are equal today but independently
    # tunable, and retuning the LSH verify threshold must not silently
    # move this panel's ground truth (ADVICE r12)
    truth = materialize_once(
        exact_jaccard_pairs(d, None, NGRAM_JACCARD_TAU).select(
            "doc_a", "doc_b"
        )
    )
    src_a = d.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    src_b = d.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    docs_sh = materialize_once(
        with_shingles(d).select("doc_id", "shingles")
    )
    mh_pairs = minhash_candidate_pairs(docs_sh)
    sim_sigs = d.select(
        "doc_id",
        F.transform(ws_tokens("text"), lambda tok: F.xxhash64(tok)).alias(
            "hs"
        ),
    ).select("doc_id", _simhash_from_hashes("hs").alias("sig"))
    sim_pairs = hamming_band_pairs(sim_sigs).select("doc_a", "doc_b")

    n_truth = truth.agg(F.count("*").cast("long").alias("n_truth"))

    def leg(name: str, pairs: DataFrame) -> DataFrame:
        u = (
            pairs.join(src_a, "doc_a")
            .join(src_b, "doc_b")
            .where(F.col("src_a") == F.col("src_b"))
            .select("doc_a", "doc_b")
        )
        counts = u.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
            F.count("*").cast("long").alias("n_hits")
        ).crossJoin(u.agg(F.count("*").cast("long").alias("n_pairs")))
        return n_truth.crossJoin(counts).select(
            F.lit(name).alias("method"),
            "n_truth",
            "n_pairs",
            "n_hits",
            F.when(F.col("n_pairs") == 0, F.lit(0.0))
            .otherwise(
                F.col("n_hits").cast("double")
                / F.col("n_pairs").cast("double")
            )
            .alias("precision"),
            F.when(F.col("n_truth") == 0, F.lit(0.0))
            .otherwise(
                F.col("n_hits").cast("double")
                / F.col("n_truth").cast("double")
            )
            .alias("recall"),
        )

    return leg("minhash_lsh", mh_pairs).unionByName(
        leg("simhash_hamming", sim_pairs)
    )
