"""Corpus-curation operators for training-data pipelines (SURVEY.md §2
rows 46-51, 55): PII scrubbing, intra-document repetition scoring,
benchmark-contamination checks, duplicate-cluster resolution, the
composite keep/drop gate, and the per-(lang, source) corpus report.

These extend the dedup/text-analysis family with the steps a real
pretraining pipeline runs between "raw documents" and "training set":
redact, score, decontaminate, and collapse duplicate families to one
keeper. Everything except the (inherently iterative) connected
components is pure Catalyst with a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark.functions.dedup import (
    NGRAM_JACCARD_TAU,
    O_NGRAMS,
    O_TOKENS,
    token_ngrams,
    ws_tokens,
)
# materialize_once flattens lineage between CC iterations and
# materializes multi-consumer subtrees without leaking cache entries
# (lives in functions/mat.py so dedup.py shares it cycle-free)
from sql_flow_spark.functions.mat import materialize_observed, materialize_once
from sql_flow_spark.functions.textops import (
    O_NORMALIZE,
    _o_hits,
    fingerprint,
    ws_token_count,
)
from sql_flow_spark.registry import o_dsum, query
from sql_flow_spark.tables import load_tables

# ------------------------------------------------------------ PII scrub

# Same regex text for Spark (java.util.regex) and DuckDB (RE2): only
# character classes, bounded quantifiers and \b — semantics agree.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d -]{7,}\d",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
# The synthetic corpus carries no digits, so the registry query also
# redacts a term that DOES occur — proving the scrub path end-to-end
# on real rows, not just on zero counts.
REDACT_TERM = r"\bcustomer\b"


def scrub_text(col: Column | str, extra_term: str | None = REDACT_TERM) -> Column:
    """Chain of regexp_replace redactions; order fixed so engines
    agree. At scale this is a narrow map — zero shuffle, whole-stage
    codegen."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_PATTERNS["email"], "<EMAIL>")
    c = F.regexp_replace(c, PII_PATTERNS["ipv4"], "<IP>")
    c = F.regexp_replace(c, PII_PATTERNS["phone"], "<PHONE>")
    if extra_term:
        c = F.regexp_replace(c, extra_term, "<REDACTED>")
    return c


def _o_scrub(expr: str) -> str:
    out = expr
    for pat, tok in (
        (PII_PATTERNS["email"], "<EMAIL>"),
        (PII_PATTERNS["ipv4"], "<IP>"),
        (PII_PATTERNS["phone"], "<PHONE>"),
        (REDACT_TERM, "<REDACTED>"),
    ):
        out = f"regexp_replace({out}, '{pat}', '{tok}', 'g')"
    return out


@query(
    "pii_scrub",
    oracle=f"""
    SELECT
      doc_id,
      CAST(len(regexp_extract_all(text, '{PII_PATTERNS['email']}')) AS BIGINT)
        AS n_emails,
      CAST(len(regexp_extract_all(text, '{PII_PATTERNS['ipv4']}')) AS BIGINT)
        AS n_ips,
      CAST(len(regexp_extract_all(text, '{PII_PATTERNS['phone']}')) AS BIGINT)
        AS n_phones,
      CAST(len(regexp_extract_all(text, '{REDACT_TERM}')) AS BIGINT)
        AS n_terms,
      md5({_o_scrub('text')}) AS scrubbed_fp
    FROM documents
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails/IPv4s/phones (plus a
    term that actually occurs in the synthetic corpus, so the replace
    path is exercised on every doc). Emits per-doc match counts and
    the md5 of the scrubbed text — the downstream pipeline would write
    the scrubbed column itself; hashing keeps the oracle compare
    compact. Pure Catalyst narrow map; nothing shuffles."""
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_PATTERNS["email"])).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_PATTERNS["ipv4"])).cast("long").alias("n_ips"),
        F.regexp_count("text", F.lit(PII_PATTERNS["phone"])).cast("long").alias("n_phones"),
        F.regexp_count("text", F.lit(REDACT_TERM)).cast("long").alias("n_terms"),
        F.md5(scrub_text("text")).alias("scrubbed_fp"),
    )


# --------------------------------------------------- repetition scoring

@query(
    "repetition_ratio",
    oracle=f"""
    SELECT
      doc_id,
      CASE WHEN len(g2) = 0 THEN 0.0
           ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                / CAST(len(g2) AS DOUBLE) END AS rep_2gram,
      CASE WHEN len(g3) = 0 THEN 0.0
           ELSE CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                / CAST(len(g3) AS DOUBLE) END AS rep_3gram
    FROM (
      SELECT doc_id,
        list_transform(generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1]) AS g2,
        list_transform(generate_series(1, len(t) - 2),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
      FROM (SELECT doc_id, {O_TOKENS} AS t FROM documents)
    )
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of duplicate word 2-grams / 3-grams. Ratios divide two
    integer counts in DOUBLE — engine-identical. Narrow map built on
    the same materialized-token-array pattern as the shingle pipeline
    (lambda-CSE trap avoided: tokens bound via withColumn)."""
    t = load_tables(spark, sf_dir, ("documents",))

    def rep(col: Column) -> Column:
        n = F.size(col)
        dup = n - F.size(F.array_distinct(col))
        return F.when(n == 0, F.lit(0.0)).otherwise(
            dup.cast("double") / n.cast("double")
        )

    toks = t["documents"].withColumn("toks", ws_tokens("text"))
    return (
        toks.withColumn("g2", token_ngrams(F.col("toks"), 2, distinct=False))
        .withColumn("g3", token_ngrams(F.col("toks"), 3, distinct=False))
        .select(
            "doc_id",
            rep(F.col("g2")).alias("rep_2gram"),
            rep(F.col("g3")).alias("rep_3gram"),
        )
    )


# ------------------------------------------------- contamination check

BENCHMARK_SOURCE = "src0"  # stands in for an eval-benchmark doc set


@query(
    "contamination_check",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, {O_NGRAMS.format(t=O_TOKENS)} AS shingles
      FROM documents
    ),
    bench AS (
      SELECT DISTINCT unnest(shingles) AS s FROM sh
      WHERE source = '{BENCHMARK_SOURCE}'
    ),
    train AS (
      SELECT doc_id, shingles FROM sh WHERE source <> '{BENCHMARK_SOURCE}'
    ),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_hit
      FROM (SELECT doc_id, unnest(shingles) AS s FROM train)
      WHERE s IN (SELECT s FROM bench)
      GROUP BY doc_id
    )
    SELECT
      t.doc_id,
      CAST(len(t.shingles) AS BIGINT) AS n_shingles,
      COALESCE(h.n_hit, 0) AS n_contaminated,
      CASE WHEN len(t.shingles) = 0 THEN 0.0
           ELSE CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                / CAST(len(t.shingles) AS DOUBLE) END AS contamination_rate
    FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training doc, how many of
    its distinct 3-gram shingles appear anywhere in the benchmark set
    (here: the '{src0}' source stands in for an eval suite).

    Scale shape: the benchmark shingle vocabulary is DISTINCT-ed and
    broadcast (eval suites are tiny next to a pretraining corpus);
    training docs explode to (doc_id, shingle), hit-count via the
    broadcast hash join, then one groupBy on doc_id. Work is linear in
    corpus shingles; nothing ever pairs docs with docs."""
    t = load_tables(spark, sf_dir, ("documents",))
    sh = (
        t["documents"]
        .withColumn("toks", ws_tokens("text"))
        .select("doc_id", "source", token_ngrams(F.col("toks")).alias("shingles"))
    )
    # The shingle subtree feeds three consumers (benchmark vocab, the
    # explode, the final join-back); unmaterialized it is recomputed —
    # and its large generated-code stage recompiled — per consumer
    # (measured 18.5s -> 4.4s at sf0.1). Checkpoint, not cache(): a
    # cached relation stays registered in the session's CacheManager
    # until someone unpersists it, and a lazily-returned DataFrame has
    # no hook to do that — a long-lived session would accumulate one
    # cached shingle relation per invocation. Checkpoint blocks are
    # reclaimed by the ContextCleaner when the plan is GC'd.
    sh = materialize_once(sh)
    bench = (
        sh.where(F.col("source") == BENCHMARK_SOURCE)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    train = sh.where(F.col("source") != BENCHMARK_SOURCE).select("doc_id", "shingles")
    hits = (
        train.select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    n_sh = F.size("shingles").cast("long")
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_contaminated"),
            F.when(F.size("shingles") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.size("shingles").cast("double")
            )
            .alias("contamination_rate"),
        )
    )


# --------------------------------------------- duplicate-cluster resolve



def connected_components(
    edges: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    (doc_a, doc_b) undirected edges -> (doc_id, cluster_id) where
    cluster_id is the smallest doc_id reachable.

    Each iteration is one join + groupBy (label <- min of own and
    neighbors' labels) with the frontier checkpointed (reliable when a
    checkpoint dir is set, see mat.materialize_once) to keep lineage flat;
    convergence is checked with a changed-count action. Iterations
    needed = graph diameter — duplicate families are near-cliques
    (diameter ~1-2), so this converges in 2-3 rounds. This is the
    honestly-iterative operator: a driver loop over distributed steps,
    the same structure GraphX/Graphframes uses.

    Raises RuntimeError if max_iters is reached before convergence:
    returning silently would hand back WRONG labels for any component
    whose diameter exceeds max_iters (e.g. a long chain of pairwise
    dups), and the caller can't tell.
    """
    spark = edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    both = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # r13: checkpointed pre-partitioned on src at the session shuffle
    # partitioning (the same fix pagerank_copurchase got — without the
    # explicit count AQE coalesces the checkpoint and the iteration
    # join re-shuffles the full edge table every round). r14: the src
    # exchange comes FIRST and the dedup reuses it (hash(src)
    # satisfies the (src,dst) ClusteredDistribution) — one edge-set
    # shuffle instead of distinct + repartition (guide §2.4).
    both = materialize_once(
        both.repartition(n_shuffle, "src").dropDuplicates(["src", "dst"])
    )
    # Join strategy picked deliberately (guide §3.1, mirroring
    # pagerank_copurchase): the label table is node-sized, so up to
    # ~5M nodes both per-iteration joins broadcast it (the edge
    # checkpoint is never exchanged or sorted); beyond that the
    # shuffle join runs on the pre-partitioned edge layout. The node
    # count rides the checkpoint job (r14, guide §5 — no count() job).
    labels, _m = materialize_observed(
        both.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        n_nodes=F.count(F.lit(1)),
    )
    n_nodes = int(_m["n_nodes"] or 0)
    _maybe_b = F.broadcast if n_nodes <= 5_000_000 else (lambda df: df)
    changed = -1
    for _ in range(max_iters):
        neighbor_min = (
            both.join(_maybe_b(labels), both.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        # `chg` is computed inside the same pass (least(..) < label iff
        # a neighbor improved the label), and the convergence count
        # rides the checkpoint job as an observed metric (r14, guide
        # §5) — zero extra actions per iteration.
        new_labels, _mc = materialize_observed(
            labels.join(_maybe_b(neighbor_min), "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (
                    F.coalesce(F.col("nlabel"), F.col("label"))
                    < F.col("label")
                ).alias("chg"),
            ),
            changed=F.sum(F.col("chg").cast("long")),
        )
        changed = int(_mc["changed"] or 0)
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"iterations ({changed} labels still changing); raise "
            "max_iters above the graph diameter"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def duplicate_edges(docs: DataFrame, method: str = "lsh") -> DataFrame:
    """Undirected duplicate-pair edges (doc_a, doc_b): exact-fingerprint
    star edges UNION verified near-dup (jaccard >= tau) pairs.

    The exact-fingerprint component emits STAR edges — each doc links
    to its group's min(doc_id) keeper — not the all-pairs self-join: a
    B-doc identical-text family (empty docs, license boilerplate)
    yields B-1 edges instead of B*(B-1)/2, so this component is linear
    in docs with no cap needed, and the connected components are
    identical (a star spans the same member set as the clique).

    method="lsh" — the production/100 TB path: minhash_candidate_pairs
    (linear LSH blocking, capped buckets) feeds
    exact_jaccard_pairs(candidates=...), so pair generation never goes
    all-pairs. It pairs across ALL docs, so it also finds cross-block
    near-dups the blocked twin cannot; conversely, borderline pairs at
    jaccard ~= tau have a band-limited candidate probability
    (1-(1-j^4)^8, ~0.2% at j=0.12), so the two methods agree exactly
    only on exact-fingerprint families and strong near-dups. That
    contract — not naive output equality — is what the
    test_duplicate_edges_lsh_composition_synthetic and
    test_duplicate_edges_lsh_coarsens_registered_clusters tests
    (tests/test_functions.py) pin.

    method="blocked" — the oracle twin: within-source-block exact
    jaccard, DuckDB-checkable, near-quadratic in block size; keep to
    verification-scale data. This is the edge source the registered
    dedup_clusters uses so DuckDB can verify the clustering.
    """
    from sql_flow_spark.functions.dedup import (
        exact_jaccard_pairs,
        minhash_candidate_pairs,
        with_shingles,
    )

    fp = docs.select("doc_id", fingerprint("text").alias("f"))
    keepers = fp.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    fpp = (
        fp.join(keepers, "f")
        .where(F.col("doc_id") != F.col("keep_id"))
        .select(F.col("keep_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    if method == "lsh":
        cand = minhash_candidate_pairs(with_shingles(docs, 3))
        jacp = exact_jaccard_pairs(docs, candidates=cand).select("doc_a", "doc_b")
    elif method == "blocked":
        jacp = exact_jaccard_pairs(docs).select("doc_a", "doc_b")
    else:
        raise ValueError(f"unknown duplicate_edges method: {method!r}")
    return fpp.union(jacp).distinct()


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE fp AS (
      SELECT doc_id, md5({O_NORMALIZE.format(expr='text')}) AS f FROM documents
    ),
    sh AS (
      SELECT doc_id, source, {O_NGRAMS.format(t=O_TOKENS)} AS shingles
      FROM documents
    ),
    jacp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / CAST(len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          >= {NGRAM_JACCARD_TAU}
    ),
    fpp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a, doc_b FROM jacp UNION SELECT doc_a, doc_b FROM fpp
      UNION SELECT doc_b, doc_a FROM jacp UNION SELECT doc_b, doc_a FROM fpp
    ),
    reach(src, dst) AS (
      SELECT doc_a, doc_a FROM edges
      UNION
      SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.dst = e.doc_a
    )
    SELECT
      src AS doc_id,
      MIN(dst) AS cluster_id,
      (src = MIN(dst)) AS is_keeper
    FROM reach GROUP BY src
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family resolution: exact-fingerprint pairs UNION
    near-dup (source-blocked exact jaccard) pairs form an undirected
    graph; connected components assign every involved doc its family's
    lowest doc_id as cluster_id, keeper = the lowest member. The final
    training set would keep `is_keeper` docs only.

    The edge source here is duplicate_edges(method="blocked") — the
    oracle-checkable twin, so DuckDB can verify the clustering
    (recursive-CTE transitive closure); the production pipeline is the
    SAME code path with method="lsh" (minhash-candidate-verified
    pairs), so the two cannot drift."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    comp = connected_components(duplicate_edges(docs, method="blocked"))
    return comp.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


@query("dedup_clusters_lsh")
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION duplicate-family resolver — the same
    connected_components over duplicate_edges, but with the linear
    method="lsh" edge source: minhash band-bucket candidate pairs
    (capped buckets, never all-pairs) verified by exact jaccard, plus
    the exact-fingerprint star edges. This is the path a 100 TB corpus
    runs; the registered `dedup_clusters` twin keeps the quadratic
    within-source-blocked edge source only because DuckDB can verify
    that one (rows-only here: minhash permutations are
    engine-specific, so there is no SQL oracle — semantics are pinned
    by the composition tests in tests/test_functions.py and the
    cluster-coarsening contract documented on duplicate_edges)."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    comp = connected_components(duplicate_edges(docs, method="lsh"))
    return comp.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


# ----------------------------------------------------- sequence packing

PACK_BUDGET = 512  # token budget per packed training sequence


@query(
    "doc_packing",
    oracle=f"""
    SELECT
      doc_id,
      lang,
      n_tokens,
      CAST(floor(CAST(running - n_tokens AS DOUBLE) / {PACK_BUDGET}.0)
           AS BIGINT) AS pack_id,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY lang,
          CAST(floor(CAST(running - n_tokens AS DOUBLE) / {PACK_BUDGET}.0)
               AS BIGINT)
        ORDER BY doc_id) AS BIGINT) AS pack_pos
    FROM (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS running
      FROM (
        SELECT doc_id, lang,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens
        FROM documents
      )
    )
    """,
)
def doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed token-budget
    training sequences, per language stream, in doc_id order — pack_id
    = which packed sequence the doc starts in (offset-based packing:
    floor(tokens-before / budget)), pack_pos = its position inside.

    Scale shape: ONE window per language partition (running sum +
    row_number share the same (lang, doc_id) sort), so packing a 100 TB
    corpus is a per-partition scan — the langs are independent streams.
    A doc longer than the budget still gets a slot (real packers split
    it downstream; doc_chunking is the splitting operator here)."""
    t = load_tables(spark, sf_dir, ("documents",))
    from pyspark.sql import Window

    toks = t["documents"].select(
        "doc_id", "lang", ws_token_count("text").cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_run = toks.withColumn("running", F.sum("n_tokens").over(w))
    pack_id = F.floor(
        (F.col("running") - F.col("n_tokens")).cast("double") / F.lit(float(PACK_BUDGET))
    ).cast("long")
    packed = with_run.withColumn("pack_id", pack_id)
    pos_w = Window.partitionBy("lang", "pack_id").orderBy("doc_id")
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        "pack_id",
        F.row_number().over(pos_w).cast("long").alias("pack_pos"),
    )


# -------------------------------------------- composite keep/drop gate

QUALITY_MIN = 0.61
REP_MAX = 0.10

# Stopword term derived from the SAME _stop_re('en') the Spark side
# uses (via _o_hits) — an inline literal here once drifted from
# STOPWORDS['en'] and made quality scores diverge between engines.
_O_QUALITY = f"""
  SELECT doc_id,
    CASE WHEN length(text) = 0 THEN 0.0 ELSE
    0.5 * (CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE))
    + 0.3 * (CAST({_o_hits('en')} AS DOUBLE)
        / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE))
    + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                        AS DOUBLE) / CAST(length(text) AS DOUBLE))
    END AS q
  FROM documents
"""


def quality_score(text_col: str = "text") -> Column:
    """The engine's standard heuristic document-quality score —
    0.5*alpha_ratio + 0.3*stopwords_per_word + 0.2*(1 - punct_ratio) —
    the ONE Spark counterpart of the ``_O_QUALITY`` oracle twin above.
    curation_pipeline, corpus_report, dedup_keep_best,
    token_budget_select and the streaming CurationGate all call this
    helper, so the gates can never drift from each other (an inline
    copy once drifted its stopword list and split the engines).
    Narrow map: regexp counts + length, whole-stage codegen.

    Empty documents score 0.0 via a lazy CASE on both engines — found
    by the adversarial cross-engine fuzz (test_properties.py): without
    the guard, ANSI Spark hard-fails the whole job on the 0-length
    text's 0/0 division (the word-count denominator can never be zero
    — split(trim('')) is [''], size 1 — only n_chars can)."""
    from sql_flow_spark.functions.textops import _stop_re

    n_chars = F.length(text_col)
    n_alpha = F.size(F.regexp_extract_all(text_col, F.lit(r"[A-Za-z]"), 0))
    n_punct = F.size(
        F.regexp_extract_all(text_col, F.lit(r"[^A-Za-z0-9\s]"), 0)
    )
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(_stop_re("en")), 0
        )
    )
    return F.when(n_chars == 0, F.lit(0.0)).otherwise(
        F.lit(0.5) * (n_alpha.cast("double") / n_chars.cast("double"))
        + F.lit(0.3)
        * (n_stop.cast("double") / ws_token_count(text_col).cast("double"))
        + F.lit(0.2)
        * (F.lit(1.0) - n_punct.cast("double") / n_chars.cast("double"))
    )


def with_repetition_2gram(
    df: DataFrame, text_col: str = "text", out_col: str = "rep_2gram"
) -> DataFrame:
    """Append the 2-gram repetition ratio (repeated 2-grams / total
    2-grams) as ``out_col``. A DataFrame transform, NOT a Column
    helper, on purpose: the token array and the 2-gram array must be
    bound as real columns BEFORE the ratio touches them — inlining
    ws_tokens into the token_ngrams lambda re-splits the text per
    array element (no CSE through lambda scopes; measured 18.4s ->
    1.1s at sf0.1). Intermediate columns are dropped."""
    g2 = F.col("_rep2_g2")
    n2 = F.size(g2)
    ratio = F.when(n2 == 0, F.lit(0.0)).otherwise(
        (n2 - F.size(F.array_distinct(g2))).cast("double") / n2.cast("double")
    )
    return (
        df.withColumn("_rep2_toks", ws_tokens(text_col))
        .withColumn(
            "_rep2_g2", token_ngrams(F.col("_rep2_toks"), 2, distinct=False)
        )
        .withColumn(out_col, ratio)
        .drop("_rep2_toks", "_rep2_g2")
    )


@query(
    "curation_pipeline",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5({O_NORMALIZE.format(expr='text')}) AS f FROM documents
    ),
    keepers AS (
      SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY f
    ),
    quality AS ({_O_QUALITY}),
    rep AS (
      SELECT doc_id,
        CASE WHEN len(g2) = 0 THEN 0.0
             ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                  / CAST(len(g2) AS DOUBLE) END AS rep_2gram
      FROM (
        SELECT doc_id,
          list_transform(generate_series(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1]) AS g2
        FROM (SELECT doc_id, {O_TOKENS} AS t FROM documents)
      )
    )
    SELECT
      d.doc_id,
      CASE
        WHEN k.keep_id <> d.doc_id THEN 'duplicate'
        WHEN q.q < {QUALITY_MIN} THEN 'low_quality'
        WHEN r.rep_2gram > {REP_MAX} THEN 'repetitive'
        ELSE 'keep'
      END AS verdict
    FROM documents d
    JOIN fp ON fp.doc_id = d.doc_id
    JOIN keepers k ON k.f = fp.f
    JOIN quality q ON q.doc_id = d.doc_id
    JOIN rep r ON r.doc_id = d.doc_id
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end keep/drop gate a pretraining pipeline applies per
    document, with the FIRST failing rule as the verdict (precedence:
    duplicate > low_quality > repetitive > keep): exact-dup keeper
    check, heuristic quality floor, repetition ceiling.

    Composition shape: the dup check is the one shuffle (fingerprint
    groupBy, map-side combine); quality and repetition are narrow maps
    over the same scan; the rule CASE evaluates identically in both
    engines because every signal is an integer-count ratio or an md5.
    At 100 TB the near-dup family (minhash_candidate_pairs ->
    dedup_clusters) slots in as an extra rule on the same structure."""
    t = load_tables(spark, sf_dir, ("documents",))
    return curation_verdicts(t["documents"])


def curation_verdicts(d: DataFrame) -> DataFrame:
    """(doc_id, verdict) under the composite gate — the ONE Spark
    counterpart of the curation_pipeline oracle's verdict CASE, shared
    by curation_pipeline and filter_funnel so the stage rules can't
    drift between the gate and its funnel report (the quality_score
    inline-copy lesson, see that helper's docstring)."""
    fp = d.select("doc_id", fingerprint("text").alias("f"))
    keepers = fp.groupBy("f").agg(F.min("doc_id").alias("keep_id"))

    signals = with_repetition_2gram(d, "text").select(
        "doc_id",
        fingerprint("text").alias("f"),
        quality_score("text").alias("q"),
        "rep_2gram",
    )
    verdict = (
        F.when(F.col("keep_id") != F.col("doc_id"), "duplicate")
        .when(F.col("q") < QUALITY_MIN, "low_quality")
        .when(F.col("rep_2gram") > REP_MAX, "repetitive")
        .otherwise("keep")
    )
    # keepers is corpus-cardinality (one row per DISTINCT fingerprint)
    # — never broadcast it. The shuffle join on `f` reuses the
    # hashpartitioning(f) exchange the keeper groupBy already built, so
    # the dup check stays "the one shuffle" at 100 TB.
    return (
        signals.join(keepers, "f")
        .select("doc_id", verdict.alias("verdict"))
    )


@query(
    "filter_funnel",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5({O_NORMALIZE.format(expr='text')}) AS f FROM documents
    ),
    keepers AS (
      SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY f
    ),
    quality AS ({_O_QUALITY}),
    rep AS (
      SELECT doc_id,
        CASE WHEN len(g2) = 0 THEN 0.0
             ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                  / CAST(len(g2) AS DOUBLE) END AS rep_2gram
      FROM (
        SELECT doc_id,
          list_transform(generate_series(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1]) AS g2
        FROM (SELECT doc_id, {O_TOKENS} AS t FROM documents)
      )
    ),
    per AS (
      SELECT
        CASE
          WHEN k.keep_id <> d.doc_id THEN 1
          WHEN q.q < {QUALITY_MIN} THEN 2
          WHEN r.rep_2gram > {REP_MAX} THEN 3
          ELSE 4
        END AS drop_idx,
        CAST(len({O_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents d
      JOIN fp ON fp.doc_id = d.doc_id
      JOIN keepers k ON k.f = fp.f
      JOIN quality q ON q.doc_id = d.doc_id
      JOIN rep r ON r.doc_id = d.doc_id
    ),
    agg AS (
      SELECT drop_idx, COUNT(*) AS cnt,
             CAST(SUM(n_tokens) AS BIGINT) AS tok
      FROM per GROUP BY drop_idx
    ),
    stages(stage, stage_name) AS (
      VALUES (1, 'exact_dedup'), (2, 'quality_floor'),
             (3, 'repetition_ceiling')
    )
    SELECT CAST(stage AS BIGINT) AS stage, stage_name,
      CAST(SUM(CASE WHEN drop_idx >= stage THEN cnt ELSE 0 END) AS BIGINT)
        AS docs_in,
      CAST(SUM(CASE WHEN drop_idx = stage THEN cnt ELSE 0 END) AS BIGINT)
        AS docs_dropped,
      CAST(SUM(CASE WHEN drop_idx > stage THEN cnt ELSE 0 END) AS BIGINT)
        AS docs_out,
      CAST(SUM(CASE WHEN drop_idx > stage THEN tok ELSE 0 END) AS BIGINT)
        AS tokens_out,
      CAST(SUM(CASE WHEN drop_idx > stage THEN cnt ELSE 0 END) AS DOUBLE)
        / CAST(SUM(cnt) AS DOUBLE) AS cum_survival
    FROM stages CROSS JOIN agg
    GROUP BY stage, stage_name
    """,
)
def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation gate as a FUNNEL report: per stage (exact-dedup
    keeper -> quality floor -> repetition ceiling, curation_pipeline's
    exact precedence order) the docs entering, dropped there,
    surviving, the surviving token mass, and cumulative survival from
    raw — the how-much-does-each-rule-cost panel a pipeline owner
    reads before tightening any threshold (quality_filter_survival is
    the per-language view of ONE rule; this is the whole cascade).

    Because the gate's verdict already encodes the FIRST failing rule
    and the rule order equals the funnel order, the funnel is pure
    arithmetic over verdict counts — no per-stage re-filtering, and it
    can never disagree with curation_pipeline (shared
    curation_verdicts helper; the oracle reuses the same
    O_NORMALIZE/_O_QUALITY/O_TOKENS fragments).

    Exactness: every funnel cell is an exact BIGINT count/token sum;
    the one double (cum_survival) divides exact integers.

    Scale shape: curation_verdicts' one fingerprint shuffle + narrow
    signal maps, a doc_id join to the token counts, then a 4-row
    drop_idx aggregate with map-side partials; the 3-row stage frame
    cross-joins the broadcast 4-row aggregate — output is 3 rows
    regardless of corpus size."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    v = curation_verdicts(d)
    toks = d.select(
        "doc_id", ws_token_count("text").cast("long").alias("n_tokens")
    )
    drop_idx = (
        F.when(F.col("verdict") == "duplicate", 1)
        .when(F.col("verdict") == "low_quality", 2)
        .when(F.col("verdict") == "repetitive", 3)
        .otherwise(4)
    )
    per = v.join(toks, "doc_id").select(
        drop_idx.alias("drop_idx"), "n_tokens"
    )
    agg = per.groupBy("drop_idx").agg(
        F.count("*").alias("cnt"), F.sum("n_tokens").alias("tok")
    )
    from sql_flow_spark.localdf import local_df

    stages = local_df(
        spark,
        [
            (1, "exact_dedup"),
            (2, "quality_floor"),
            (3, "repetition_ceiling"),
        ],
        "stage long, stage_name string",
    )
    di = F.col("drop_idx")
    st = F.col("stage")
    return (
        stages.join(F.broadcast(agg))
        .groupBy("stage", "stage_name")
        .agg(
            F.sum(F.when(di >= st, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("docs_in"),
            F.sum(F.when(di == st, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("docs_dropped"),
            F.sum(F.when(di > st, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("docs_out"),
            F.sum(F.when(di > st, F.col("tok")).otherwise(0))
            .cast("long")
            .alias("tokens_out"),
            (
                F.sum(F.when(di > st, F.col("cnt")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("cnt").cast("double")
            ).alias("cum_survival"),
        )
    )


# --------------------------------------------------- corpus reporting

@query(
    "corpus_report",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang, source,
             md5({O_NORMALIZE.format(expr='text')}) AS f,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    keepers AS (SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY f),
    quality AS ({_O_QUALITY})
    SELECT
      fp.lang,
      fp.source,
      COUNT(*) AS n_docs,
      CAST(SUM(fp.n_tokens) AS BIGINT) AS total_tokens,
      {o_dsum('q.q')} / CAST(COUNT(*) AS DOUBLE) AS avg_quality,
      CAST(SUM(CASE WHEN k.keep_id <> fp.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM fp
    JOIN keepers k ON k.f = fp.f
    JOIN quality q ON q.doc_id = fp.doc_id
    GROUP BY fp.lang, fp.source
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(lang, source) corpus dashboard a pipeline materializes
    after each ingest: document counts, token mass, mean quality score
    and exact-duplicate rate — the numbers that decide re-crawl,
    re-weight (mix_weights) and re-filter actions.

    Scale shape: one scan computes fingerprint + token count + quality
    signals (narrow); the exact-dup check reuses curation_pipeline's
    fingerprint groupBy (the one corpus-sized shuffle, never
    broadcast); the final agg lands on the tiny (lang, source) key
    space with map-side partials. The mean quality divides two exact
    fixed-point sums, so both engines emit identical doubles."""
    from sql_flow_spark.registry import dsum

    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]

    sig = d.select(
        "doc_id",
        "lang",
        "source",
        fingerprint("text").alias("f"),
        ws_token_count("text").cast("long").alias("n_tokens"),
        quality_score("text").alias("q"),
    )
    keepers = sig.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    is_dup = (F.col("keep_id") != F.col("doc_id")).cast("int")
    return (
        sig.join(keepers, "f")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (dsum("q") / F.count("*").cast("double")).alias("avg_quality"),
            (F.sum(is_dup).cast("double") / F.count("*").cast("double")).alias(
                "dup_rate"
            ),
        )
    )


# ---------------------------------------------- split-leak contamination

LEAK_PREFIX_TOKENS = 8  # leak key: first k tokens, lowercased


def prefix_fingerprint(
    text_col: str = "text", n_tokens: int = LEAK_PREFIX_TOKENS
) -> Column:
    """md5 of the first ``n_tokens`` lowercased whitespace tokens — the
    near-verbatim-overlap key shared by cross_split_contamination and
    source_overlap_matrix (its DuckDB twin is inlined in each oracle).
    Narrow map on the scan, no shuffle."""
    return F.md5(
        F.array_join(
            F.slice(ws_tokens(F.lower(F.col(text_col))), 1, n_tokens), " "
        )
    )


@query(
    "cross_split_contamination",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(
               regexp_split_to_array(trim(lower(text)), '\\s+')
                 [1:{LEAK_PREFIX_TOKENS}], ' ')) AS f,
             CASE WHEN doc_id % 100 < 90 THEN 'train'
                  WHEN doc_id % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT f,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT split) AS n_splits,
           array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
    FROM fp
    GROUP BY f
    HAVING COUNT(DISTINCT split) > 1
    """,
)
def cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leak QA: document families whose members straddle the
    train/val/test boundary of train_val_split's deterministic
    assignment. Any row here means an eval answer's opening is sitting
    in the training set — the leak contamination_check can't see
    because it compares against an EXTERNAL benchmark, not the
    corpus's own splits. The family key is the first
    LEAK_PREFIX_TOKENS lowercased tokens (prefix fingerprint): a
    strict superset of exact-text leakage (identical text implies an
    identical prefix) that also catches shared-opening near-dups —
    the prefix/suffix-overlap test decontamination tooling actually
    runs. Run after splitting: leak key x split assignment -> leaked
    families with member counts and which splits they touch.

    Scale shape: one narrow scan computes (prefix-fingerprint, split);
    one shuffle on the fingerprint (the same exchange dedup_exact
    builds); the output is only the leaked families (rare), so the
    result stays tiny. 100 TB-safe."""
    t = load_tables(spark, sf_dir, ("documents",))
    split = (
        F.when(F.col("doc_id") % 100 < 90, "train")
        .when(F.col("doc_id") % 100 < 95, "val")
        .otherwise("test")
    )
    return (
        t["documents"]
        .select(prefix_fingerprint("text").alias("f"), split.alias("split"))
        .groupBy("f")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("split").alias("n_splits"),
            F.array_join(F.sort_array(F.collect_set("split")), ",").alias(
                "splits"
            ),
        )
        .where(F.col("n_splits") > 1)
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5({O_NORMALIZE.format(expr='text')}) AS f
      FROM documents
    ),
    quality AS ({_O_QUALITY})
    SELECT f AS fingerprint,
           CAST(doc_id AS BIGINT) AS keep_doc_id,
           q AS keep_quality,
           n_copies
    FROM (
      SELECT fp.f, fp.doc_id, q.q,
             CAST(COUNT(*) OVER (PARTITION BY fp.f) AS BIGINT) AS n_copies,
             ROW_NUMBER() OVER (
               PARTITION BY fp.f ORDER BY q.q DESC, fp.doc_id) AS rn
      FROM fp JOIN quality q ON q.doc_id = fp.doc_id
    )
    WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the HIGHEST-QUALITY copy per family instead
    of the lowest id — what production curation actually ships (a
    near-duplicate crawl often contains one clean copy and several
    truncated/mangled ones; min-id keeps an arbitrary one). Quality is
    the engine's standard heuristic score; the argmax has a total
    tiebreak (quality desc, doc_id asc) and the score's IEEE
    derivation is identical in both engines, so the winner can never
    differ.

    Scale shape: one scan computes fingerprint + quality (narrow), one
    shuffle on the fingerprint; the per-family argmax and copy count
    share the same window partitioning. Same cost as dedup_exact plus
    the scoring map."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    scored = d.select(
        "doc_id",
        fingerprint("text").alias("f"),
        quality_score("text").alias("q"),
    )
    wf = Window.partitionBy("f")
    wr = Window.partitionBy("f").orderBy(F.col("q").desc(), F.col("doc_id"))
    return (
        scored.withColumn("n_copies", F.count("*").over(wf).cast("long"))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            F.col("f").alias("fingerprint"),
            F.col("doc_id").cast("long").alias("keep_doc_id"),
            F.col("q").alias("keep_quality"),
            "n_copies",
        )
    )


@query(
    "ngram_novelty",
    oracle=f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 100 < 90 THEN 'train'
                  WHEN doc_id % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split,
             {O_NGRAMS.format(t=O_TOKENS)} AS shingles
      FROM documents
    ),
    train_grams AS MATERIALIZED (
      SELECT DISTINCT unnest(shingles) AS gram FROM sh
      WHERE split = 'train'
    ),
    test_grams AS (
      SELECT doc_id, lang, unnest(shingles) AS gram FROM sh
      WHERE split = 'test'
    ),
    scored AS (
      SELECT t.doc_id, t.lang,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN g.gram IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM test_grams t LEFT JOIN train_grams g ON g.gram = t.gram
      GROUP BY t.doc_id, t.lang
    )
    SELECT doc_id, lang, n_grams, n_novel,
           CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
    FROM scored
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-test-document trigram novelty vs the training split: the
    fraction of a held-out doc's distinct word trigrams that appear
    NOWHERE in train. The memorization-risk mirror of
    cross_split_contamination — that key finds *shared openings*
    (prefix leaks); this one quantifies *how much of the whole eval
    doc* the model could have seen verbatim. novelty ~ 1 = clean
    held-out text; novelty near 0 = the "new" doc is stitched from
    training phrases and will overstate eval scores.

    Exactness: distinct-shingle sets are identical constructions in
    both engines (token_ngrams == the DuckDB list_transform oracle,
    pinned by ngram_jaccard/chunk_dedup already); counts are exact
    integers; novelty is one IEEE division.

    Scale shape: the tokenized corpus is repartitioned on doc_id
    BEFORE shingling — both consumers (train-gram index, test probe)
    then hang off the same Exchange, so Catalyst reuses it
    (ReusedExchange): the corpus is scanned and shingled ONCE instead
    of once per branch, and the explode parallelizes by shuffle
    partition instead of by input split (a single small parquet file
    would otherwise serialize the whole explode into one task; with
    the explode_outer guard below, 19.4s -> 1.3s at sf0.1 total).
    Then: DISTINCT train-gram index
    (one shuffle on gram, the corpus-linear stage) -> test grams
    joined on the same gram key -> per-doc agg. Test split is 5% of
    the corpus, so the probe side is small; the index is a DISTINCT
    hash set, the cheapest thing a shuffle can build. No driver
    traffic."""
    t = load_tables(spark, sf_dir, ("documents",))
    sh = (
        t["documents"]
        .select(
            "doc_id",
            "lang",
            F.when(F.col("doc_id") % 100 < 90, "train")
            .when(F.col("doc_id") % 100 < 95, "val")
            .otherwise("test")
            .alias("split"),
            ws_tokens("text").alias("toks"),
        )
        # Explicit partition count: AQE's byte-based coalescing would
        # fold this tiny-bytes/heavy-CPU exchange back to one task
        # (shingling cost is per token, not per byte); a user-specified
        # numPartitions is exempt from coalescing.
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .withColumn("shingles", token_ngrams(F.col("toks")))
    )
    # explode_outer, NOT explode: InferFiltersFromGenerate would turn a
    # plain explode into a size(shingles)>0 filter pushed BELOW the
    # repartition, re-inlining the whole shingle expression into the
    # (single-input-split) scan stage — measured 7.1s -> 1.3s at sf0.1.
    # The outer variant infers no filter; empty-array docs emit one
    # NULL gram row dropped right after (same semantics as explode).
    train_grams = (
        sh.where(F.col("split") == "train")
        .select(F.explode_outer("shingles").alias("gram"))
        .where(F.col("gram").isNotNull())
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    test_grams = (
        sh.where(F.col("split") == "test")
        .select("doc_id", "lang", F.explode_outer("shingles").alias("gram"))
        .where(F.col("gram").isNotNull())
    )
    scored = (
        test_grams.join(train_grams, "gram", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("seen").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_grams",
        "n_novel",
        (
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
        ).alias("novelty"),
    )


@query(
    "pii_density_by_source",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pii) AS BIGINT) AS n_pii_hits,
           CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_pii,
           CAST(SUM(n_pii) AS DOUBLE) * 1000.0
             / CAST(SUM(n_toks) AS DOUBLE) AS pii_per_1k_tokens
    FROM (
      SELECT source,
             len(regexp_extract_all(text, '{PII_PATTERNS['email']}'))
             + len(regexp_extract_all(text, '{PII_PATTERNS['ipv4']}'))
             + len(regexp_extract_all(text, '{PII_PATTERNS['phone']}'))
               AS n_pii,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks
      FROM documents
    )
    GROUP BY source
    """,
)
def pii_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII triage panel per source: total email/IP/phone hits, docs
    affected, and hits per 1k whitespace tokens — the
    which-feed-needs-scrubbing-first view that pii_scrub's per-doc
    counts roll up to (run this BEFORE deciding where to spend the
    scrubbing pass; a source at 10 hits/1k tokens is a different
    problem from one stray address).

    Exactness: identical regexes to pii_scrub on both engines; exact
    integer counts; one scaled ratio of exact BIGINTs.

    Scale shape: narrow map over the corpus scan (three regex counts
    + token count per doc), one sources-sized groupBy of map-side
    partials."""
    t = load_tables(spark, sf_dir, ("documents",))
    n_pii = (
        F.size(F.regexp_extract_all("text", F.lit(PII_PATTERNS["email"]), 0))
        + F.size(F.regexp_extract_all("text", F.lit(PII_PATTERNS["ipv4"]), 0))
        + F.size(F.regexp_extract_all("text", F.lit(PII_PATTERNS["phone"]), 0))
    )
    n_toks = ws_token_count("text")
    d = t["documents"].select(
        "source", n_pii.alias("n_pii"), n_toks.alias("n_toks")
    )
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_pii").cast("long").alias("n_pii_hits"),
        F.sum(F.when(F.col("n_pii") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_with_pii"),
        (
            F.sum("n_pii").cast("double")
            * F.lit(1000.0)
            / F.sum("n_toks").cast("double")
        ).alias("pii_per_1k_tokens"),
    )


# --------------------------------------------- cross-source dup triage

@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH fp AS (
      SELECT md5(array_to_string(
               regexp_split_to_array(trim(lower(text)), '\\s+')
                 [1:{LEAK_PREFIX_TOKENS}], ' ')) AS f,
             source,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents
      GROUP BY 1, 2
    )
    SELECT a.source AS src_a,
           b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS shared_families,
           CAST(SUM(a.n_docs * b.n_docs) AS BIGINT) AS dup_doc_pairs
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which feeds duplicate each other: for every pair of sources,
    how many prefix-fingerprint families (same LEAK_PREFIX_TOKENS
    opening as cross_split_contamination) have members in BOTH — the
    triage panel that decides which crawler overlaps which mirror
    before any per-doc dedup runs. shared_families counts straddling
    families; dup_doc_pairs weights them by membership (a 50x50 mirror
    family is a different problem from a 2-doc one).

    Scale shape: one narrow scan -> (fingerprint, source) groupBy (the
    dedup_exact exchange with source appended; map-side combine); the
    self-join is keyed on the fingerprint, where each family carries at
    most #sources rows, so join fan-out per key is bounded by sources
    squared — never corpus-squared; the final groupBy lands on at most
    sources-choose-2 rows. 100 TB-safe.

    Reference parity: the triage view over the same duplicate keyspace
    sqlflow's dedup examples process per-batch
    (/root/reference/sqlflow/sql.py handlers over inferred batch
    tables); the reference has no cross-feed rollup — this is the
    batch-analytics complement."""
    t = load_tables(spark, sf_dir, ("documents",))
    fp = (
        t["documents"]
        .select(prefix_fingerprint("text").alias("f"), "source")
        .groupBy("f", "source")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    a = fp.alias("a")
    b = fp.alias("b")
    pairs = a.join(
        b,
        (F.col("a.f") == F.col("b.f")) & (F.col("a.source") < F.col("b.source")),
    )
    return (
        pairs.groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.count("*").cast("long").alias("shared_families"),
            F.sum(F.col("a.n_docs") * F.col("b.n_docs"))
            .cast("long")
            .alias("dup_doc_pairs"),
        )
    )


# ------------------------------------------- token-budget selection

# Whitespace tokens admitted per language. Deliberately SF-independent
# (the oracle must stay deterministic at every driver scale) and small
# enough that the greedy cut is non-trivial even at sf0.001; a
# production run sets this per target training mix — it is the one
# free parameter of the selection, not a property of the data.
TOKEN_BUDGET = 2000


@query(
    "token_budget_select",
    oracle=f"""
    WITH quality AS ({_O_QUALITY}),
    base AS (
      SELECT d.doc_id, d.lang,
             CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
               AS n_tokens,
             q.q
      FROM documents d JOIN quality q ON q.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT lang, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY q DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS running
      FROM base
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN running <= {TOKEN_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN running <= {TOKEN_BUDGET} THEN n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_selected
    FROM ranked
    GROUP BY lang
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-first corpus selection under a fixed token budget: per
    language, admit documents in (quality DESC, doc_id) order while the
    running token total stays within TOKEN_BUDGET — the greedy-prefix
    rule a data-constrained run uses to spend its token budget on the
    best documents first (greedy prefix, not knapsack: once the budget
    trips, later smaller docs are NOT back-filled — selection stays a
    rank cut, reproducible from the score alone).

    Exactness: the quality score is curation_pipeline's exact
    integer-ratio double (pure IEEE +,*,/ — driver-proven contract);
    every output column is an exact BIGINT.

    Scale shape: quality + token count are narrow maps on the scan;
    ONE window per language partition (running sum over the
    (q, doc_id) sort) and the output agg collapses to languages-sized
    rows map-side. Same shape as doc_packing. 100 TB-safe."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]

    base = d.select(
        "doc_id",
        "lang",
        ws_token_count("text").cast("long").alias("n_tokens"),
        quality_score("text").alias("q"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("q"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = base.withColumn("running", F.sum("n_tokens").over(w))
    sel = F.col("running") <= F.lit(TOKEN_BUDGET)
    return ranked.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.sum(F.when(sel, 1).otherwise(0)).cast("long").alias("n_selected"),
        F.sum(F.when(sel, F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_selected"),
    )


# ------------------------------------------- packing efficiency audit

@query(
    "packing_efficiency",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    run AS (
      SELECT lang, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS running
      FROM toks
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(floor(CAST(MAX(running) - 1 AS DOUBLE) / {PACK_BUDGET}.0)
                AS BIGINT) + 1 AS n_packs,
           CAST((CAST(floor(CAST(MAX(running) - 1 AS DOUBLE) / {PACK_BUDGET}.0)
                 AS BIGINT) + 1) * {PACK_BUDGET} - SUM(n_tokens)
             AS BIGINT) AS tail_waste_tokens,
           CAST(SUM(CASE WHEN
                 floor(CAST(running - n_tokens AS DOUBLE) / {PACK_BUDGET}.0)
                 <> floor(CAST(running - 1 AS DOUBLE) / {PACK_BUDGET}.0)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
    FROM run
    GROUP BY lang
    """,
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit panel for doc_packing's offset-based packing: per
    language stream — packed sequence count, tail waste (the only
    padding offset-packing produces: the unfilled end of the LAST
    sequence), and how many documents straddle a sequence boundary
    (the docs a downstream splitter must cut). The
    before-you-commit check for a PACK_BUDGET choice: straddler rate
    rises as budget shrinks, tail waste is bounded by one budget.

    Exactness: all integer token math; the one floor() runs on an
    int-valued double well under 2^53 (identical IEEE result in both
    engines — the same trick doc_packing's oracle uses).

    Scale shape: identical to doc_packing — ONE window per language
    partition, then a languages-sized agg whose partials collapse
    map-side; no second shuffle beyond the window sort. 100 TB-safe."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select(
        "doc_id", "lang", ws_token_count("text").cast("long").alias("n_tokens")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = toks.withColumn("running", F.sum("n_tokens").over(w))
    budget = float(PACK_BUDGET)
    straddle = F.floor(
        (F.col("running") - F.col("n_tokens")).cast("double") / F.lit(budget)
    ) != F.floor((F.col("running") - F.lit(1)).cast("double") / F.lit(budget))
    n_packs = (
        F.floor((F.max("running") - F.lit(1)).cast("double") / F.lit(budget))
        .cast("long")
        + F.lit(1)
    )
    return run.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        n_packs.alias("n_packs"),
        (n_packs * F.lit(PACK_BUDGET) - F.sum("n_tokens"))
        .cast("long")
        .alias("tail_waste_tokens"),
        F.sum(F.when(straddle, 1).otherwise(0))
        .cast("long")
        .alias("n_straddlers"),
    )


# ---------------------------------------- duplicate n-gram fraction

# Flag threshold: a doc is flagged when >30% of its distinct shingles
# also occur in other documents — expressed below as the all-integer
# inequality n_shared * 10 > n_shingles * 3 so no float crosses the
# gate (the emitted dup_frac double is identical IEEE in both engines:
# one division of two exact BIGINTs).
DUP_NGRAM_FLAG_NUM = 3
DUP_NGRAM_FLAG_DEN = 10


@query(
    "dup_ngram_fraction",
    oracle=f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, source, {O_NGRAMS.format(t=O_TOKENS)} AS shingles
      FROM documents
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, source, unnest(shingles) AS gram FROM sh
    ),
    idx AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM grams GROUP BY gram
    ),
    scored AS (
      SELECT g.doc_id, g.source,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN i.n_docs > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM grams g JOIN idx i ON i.gram = g.gram
      GROUP BY g.doc_id, g.source
    )
    SELECT doc_id, source, n_shingles, n_shared,
           CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE)
             AS dup_frac,
           n_shared * {DUP_NGRAM_FLAG_DEN}
             > n_shingles * {DUP_NGRAM_FLAG_NUM} AS flagged
    FROM scored
    """,
)
def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-n-gram fraction: the share of a doc's
    distinct word trigrams that occur in at least one OTHER document —
    the cross-document half of the Gopher-style repetition filters
    (repetition_ratio measures INTRA-doc loops; this measures how much
    of a doc is stitched from phrases the rest of the corpus already
    carries). Docs past 30% shared shingles are flagged for the
    near-dup review queue: exact-dup keys miss them (fingerprints
    differ) and MinHash at τ=0.7-0.8 can miss them too (overlap spread
    across many partners never concentrates in one pair) — this panel
    is how those leaks surface.

    Exactness: distinct-shingle construction is the pinned
    token_ngrams == O_NGRAMS pair (ngram_jaccard lineage); a shingle
    counts as shared iff its document count exceeds 1, and because
    shingles are distinct PER DOC, COUNT(*) per gram IS the document
    count. The flag is the all-integer inequality above; dup_frac is
    one IEEE division of exact BIGINTs.

    Scale shape: tokens bound before shingling and repartitioned on
    doc_id ahead of the explode (the ngram_novelty exchange/codegen
    discipline, explode_outer included). The exploded gram table is
    materialized ONCE (partition-local, no CacheManager entry) because
    it has two consumers with different column prunes — the index
    groupBy and the probe join — and Catalyst would otherwise run the
    CPU-heavy tokenize+shingle map twice (measured 2.6s -> 1.4s warm
    at sf0.1). Then one shuffle on gram builds the document-count
    index, the probe joins back on the same gram key, and the per-doc
    rollup lands on doc_id. Join fan-out per gram is its document
    count — bounded by corpus duplication itself, and a gram hot
    enough to skew a partition is exactly what AQE skew-join splits.
    No driver traffic. 100 TB-safe.

    Reference parity: no equivalent — the reference's dedup story is
    per-batch SQL over one micro-batch (/root/reference/sqlflow/
    sql.py); corpus-wide phrase-duplication triage is part of the
    training-data toolkit this repo adds."""
    t = load_tables(spark, sf_dir, ("documents",))
    sh = (
        t["documents"]
        .select("doc_id", "source", ws_tokens("text").alias("toks"))
        # user-specified partition count: exempt from AQE coalescing
        # (tiny-bytes/heavy-CPU stage — see ngram_novelty)
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .withColumn("shingles", token_ngrams(F.col("toks")))
    )
    grams = materialize_once(
        sh.select("doc_id", "source", F.explode_outer("shingles").alias("gram"))
        .where(F.col("gram").isNotNull())
    )
    idx = grams.groupBy("gram").agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        grams.join(idx, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
    )
    return scored.select(
        "doc_id",
        "source",
        "n_shingles",
        "n_shared",
        (
            F.col("n_shared").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("dup_frac"),
        (
            F.col("n_shared") * F.lit(DUP_NGRAM_FLAG_DEN)
            > F.col("n_shingles") * F.lit(DUP_NGRAM_FLAG_NUM)
        ).alias("flagged"),
    )
