"""Training-data preparation operators: chunking, vocabulary stats,
split assignment, per-group selection — the steps between raw documents
and a training corpus.

All expression-only (codegen); chunking materializes the token array
once (see dedup.token_ngrams note on the lambda-CSE trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql_flow_spark.functions.dedup import O_NGRAMS, O_TOKENS, ws_tokens
from sql_flow_spark.registry import (
    fixed,
    o_dsum,
    o_fixed,
    o_ols_fit,
    ols_fit,
    query,
    scaled_int,
)
from sql_flow_spark.tables import load_tables

CHUNK_TOKENS = 20
CHUNK_STRIDE = 15  # 5-token overlap


@query(
    "doc_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    )
    SELECT
      doc_id,
      CAST(s / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
      array_to_string(t[s + 1 : s + {CHUNK_TOKENS}], ' ') AS chunk_text,
      CAST(least({CHUNK_TOKENS}, len(t) - s) AS INTEGER) AS chunk_tokens
    FROM toks, unnest(generate_series(0, len(t) - 1, {CHUNK_STRIDE})) AS u(s)
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token chunks (20 tokens, stride 15) —
    the context-window packing step of a training pipeline. Narrow
    map + explode; chunk count scales with corpus size, not doc
    count, and no shuffle is involved."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"].withColumn("t", ws_tokens("text"))
    starts = F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))
    exploded = docs.select("doc_id", "t", F.explode(starts).alias("s"))
    return exploded.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.array_join(F.expr(f"slice(t, s + 1, {CHUNK_TOKENS})"), " ").alias("chunk_text"),
        F.least(F.lit(CHUNK_TOKENS), F.size("t") - F.col("s")).cast("int").alias("chunk_tokens"),
    )


@query(
    "top_terms",
    oracle="""
    SELECT term, COUNT(*) AS occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    )
    GROUP BY term
    ORDER BY occurrences DESC, term
    LIMIT 20
    """,
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: global term counts + document
    frequency, top-20. Explode -> single shuffle on term with map-side
    combine (the word-count plan, but with distinct-doc counting)."""
    t = load_tables(spark, sf_dir, ("documents",))
    terms = t["documents"].select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(
            F.count("*").alias("occurrences"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("occurrences").desc(), "term")
        .limit(20)
    )


@query(
    "train_val_split",
    oracle="""
    SELECT
      CASE WHEN doc_id % 100 < 90 THEN 'train'
           WHEN doc_id % 100 < 95 THEN 'val'
           ELSE 'test' END AS split,
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 split assignment by key modulo — stable
    across runs and engines (at scale: hash the key first so ids with
    structure don't bias a split; modulo on doc_id keeps the oracle
    trivial here)."""
    t = load_tables(spark, sf_dir, ("documents",))
    split = (
        F.when(F.col("doc_id") % 100 < 90, "train")
        .when(F.col("doc_id") % 100 < 95, "val")
        .otherwise("test")
    )
    return (
        t["documents"]
        .groupBy(split.alias("split"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "tfidf_top_term",
    oracle="""
    WITH terms AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM terms GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      -- fixed-point to 6dp: ln() is not correctly-rounded and differs
      -- by ulps between engines; rounding makes scores and the argmax
      -- ordering engine-identical
      SELECT tf.doc_id, tf.term,
             floor(CAST(tf.tf AS DOUBLE)
               * ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))
               * 1000000.0 + 0.5) / 1000000.0
               AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term AS top_term, tfidf
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    WHERE rn = 1
    """,
)
def tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: most characteristic term per document. Term frequency
    and document frequency are two aggregations over one exploded
    pass; idf joins back on term (broadcastable — vocabulary ≪
    corpus); ln() is IEEE-identical across engines so scores and the
    per-doc argmax agree exactly."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    # corpus size as a broadcast 1-row aggregate, not a driver-side
    # .count(): the builder stays lazy (no job per invocation) and the
    # plan carries the dependency explicitly
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    terms = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = terms.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    # fixed-point to 6dp: ln() differs by ulps between engines (not
    # correctly rounded); see the oracle's matching floor expression
    raw = (
        F.col("tf").cast("double")
        * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df").cast("double") + F.lit(1.0)))
    )
    tfidf = fixed(raw, 6)
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", tfidf.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "tfidf")
    )


@query(
    "best_docs_per_lang",
    oracle="""
    SELECT lang, doc_id, n_chars, rnk
    FROM (
      SELECT lang, doc_id, n_chars,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rnk
      FROM documents
    )
    WHERE rnk <= 5
    """,
)
def best_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N selection per language (quality-gated corpus curation
    pattern; here ranked by length as the proxy score)."""
    t = load_tables(spark, sf_dir, ("documents",))
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        t["documents"]
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 5)
        .select("lang", "doc_id", "n_chars", "rnk")
    )


# C4/RefinedWeb-style boilerplate: an n-gram shingle occurring in at
# least this many distinct docs of one source is boilerplate (license
# headers, navigation chrome, templated intros).
BOILERPLATE_MIN_DOCS = 3


@query(
    "boilerplate_flag",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, {O_NGRAMS.format(t=O_TOKENS)} AS shingles
      FROM documents
    ),
    ex AS (
      SELECT doc_id, source, unnest(shingles) AS s FROM sh
    ),
    bp AS (
      SELECT source, s FROM ex
      GROUP BY source, s
      HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
    ),
    hits AS (
      SELECT e.doc_id, COUNT(*) AS n_bp
      FROM ex e JOIN bp ON e.source = bp.source AND e.s = bp.s
      GROUP BY e.doc_id
    )
    SELECT
      sh.doc_id,
      CAST(len(sh.shingles) AS BIGINT) AS n_shingles,
      COALESCE(h.n_bp, 0) AS n_boilerplate,
      CASE WHEN len(sh.shingles) = 0 THEN 0.0
           ELSE CAST(COALESCE(h.n_bp, 0) AS DOUBLE)
                / CAST(len(sh.shingles) AS DOUBLE) END AS boilerplate_ratio
    FROM sh LEFT JOIN hits h ON sh.doc_id = h.doc_id
    """,
)
def boilerplate_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection (C4/RefinedWeb cleaning step): flag the
    fraction of each doc's 3-gram shingles that occur in >=
    BOILERPLATE_MIN_DOCS distinct docs of the same source — repeated
    headers/footers/templates, the stuff stripped before training.

    Scale shape (contamination_check's linear skeleton): explode to
    (source, shingle, doc), one distinct-doc count per (source,
    shingle) with map-side partials, join the boilerplate vocabulary
    back on the SAME (source, shingle) key (shuffle join — the vocab
    is corpus-cardinality, never broadcast), one per-doc count, one
    join back to docs. Work is linear in corpus shingles; docs never
    pair with docs."""
    from sql_flow_spark.functions.dedup import token_ngrams
    from sql_flow_spark.functions.mat import materialize_once

    t = load_tables(spark, sf_dir, ("documents",))
    sh = (
        t["documents"]
        .withColumn("toks", ws_tokens("text"))
        .select("doc_id", "source", token_ngrams(F.col("toks")).alias("shingles"))
    )
    # three consumers (explode for counts, explode for hits, final
    # join-back): materialize once, no lingering cache entry
    sh = materialize_once(sh)
    ex = sh.select("doc_id", "source", F.explode("shingles").alias("s"))
    bp = (
        ex.groupBy("source", "s")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= BOILERPLATE_MIN_DOCS)
        .select("source", "s")
    )
    hits = (
        ex.join(bp, ["source", "s"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bp"))
    )
    n_sh = F.size("shingles")
    return (
        sh.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_bp"), F.lit(0)).alias("n_boilerplate"),
            F.when(n_sh == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("n_bp"), F.lit(0)).cast("double")
                / n_sh.cast("double")
            )
            .alias("boilerplate_ratio"),
        )
    )


STRATA_FRACTION = 0.1


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
        ROW_NUMBER() OVER (
          PARTITION BY lang
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    WHERE rn <= CAST(ceil({STRATA_FRACTION} * n) AS BIGINT)
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly ceil(10%) of every
    language stratum, chosen by md5-of-id order — reproducible across
    engines and runs (unlike df.sample, which is partitioning
    dependent), and unbiased because the hash destroys doc_id
    structure.

    Scale shape: one window per lang partition (rank and stratum size
    share the sort); the same shape doc_packing uses. A skewed-lang
    corpus would range-partition within lang; at 100 TB you'd swap the
    full sort for a two-pass quantile cut on the same hash."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ("documents",))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wn = Window.partitionBy("lang")
    return (
        t["documents"]
        .select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        .where(
            F.col("rn")
            <= F.ceil(F.lit(STRATA_FRACTION) * F.col("n")).cast("long")
        )
        .select("doc_id", "lang")
    )


@query(
    "mix_weights",
    oracle="""
    WITH per AS (
      SELECT source,
        COUNT(*) AS n_docs,
        CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT))
          AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT SUM(n_tokens) AS total, COUNT(*) AS n_sources FROM per
    )
    SELECT source, n_docs, n_tokens,
      (CAST(total AS DOUBLE) / CAST(n_sources AS DOUBLE))
        / CAST(n_tokens AS DOUBLE) AS weight
    FROM per CROSS JOIN tot
    """,
)
def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights: per-source token counts and the sampling
    weight that would equalize token mass across sources (weight > 1
    means upsample). The integer token sums are exact in both engines;
    the single double division at the boundary is IEEE-identical.

    Scale shape: one groupBy(source) with map-side partials over a
    narrow token-count map; the totals row is a broadcast of ONE row
    back across the per-source aggregates."""
    from sql_flow_spark.functions.textops import ws_token_count

    t = load_tables(spark, sf_dir, ("documents",))
    per = (
        t["documents"]
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ws_token_count("text").cast("long")).alias("n_tokens"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total"), F.count("*").alias("n_sources")
    )
    weight = (
        F.col("total").cast("double") / F.col("n_sources").cast("double")
    ) / F.col("n_tokens").cast("double")
    return per.join(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens", weight.alias("weight")
    )


TEMP_ALPHA = 0.7  # the multilingual-sampling exponent (Conneau et al.)
_TEMP_SCALE = 9  # fixed-point digits of the mask on pow (ewma pattern)


@query(
    "temperature_mix_weights",
    oracle=f"""
    WITH per AS (
      SELECT source,
        COUNT(*) AS n_docs,
        CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT))
          AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS total FROM per),
    terms AS (
      SELECT source, n_docs, n_tokens,
        CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS nat_share,
        CAST(floor(pow(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE),
                       {TEMP_ALPHA}) * {10.0 ** _TEMP_SCALE:.1f} + 0.5)
             AS BIGINT) AS t_fp
      FROM per CROSS JOIN tot
    ),
    tsum AS (SELECT SUM(t_fp) AS t_tot FROM terms)
    SELECT source, n_docs, n_tokens, nat_share,
      CAST(t_fp AS DOUBLE) / CAST(t_tot AS DOUBLE) AS temp_share,
      (CAST(t_fp AS DOUBLE) / CAST(t_tot AS DOUBLE)) / nat_share AS upsample
    FROM terms CROSS JOIN tsum
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling (q_i ∝ p_i^α, α=0.7): the
    standard pretraining mix that upsamples small sources without
    letting them dominate (Conneau & Lample 2019's multilingual
    sampling; the same exponent family Llama/PaLM data mixes use).
    `mix_weights` is the α→0 extreme (full equalization); this is the
    tunable middle. Output: natural token share, temperature share,
    and the implied upsample factor per source.

    Determinism: p_i = n_i/N divides exact BIGINTs (IEEE-identical),
    but pow() is libm — so each p_i^α is floor-masked to a 9dp
    fixed-point integer (the ewma_daily pow discipline) before the
    exact integer normalizer sum; both output ratios then divide
    exact/identical values. Margin-audited like every masked key.

    Scale shape: one groupBy(source) with map-side partials over a
    narrow token-count map; both normalizers are one-row broadcasts
    back across the sources-sized aggregate — nothing here grows with
    the corpus except the first scan."""
    from sql_flow_spark.functions.textops import ws_token_count

    t = load_tables(spark, sf_dir, ("documents",))
    per = (
        t["documents"]
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ws_token_count("text").cast("long")).alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("total"))
    nat_share = F.col("n_tokens").cast("double") / F.col("total").cast(
        "double"
    )
    terms = per.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        nat_share.alias("nat_share"),
        scaled_int(F.pow(nat_share, F.lit(TEMP_ALPHA)), _TEMP_SCALE).alias("t_fp"),
    )
    tsum = terms.agg(F.sum("t_fp").alias("t_tot"))
    temp_share = F.col("t_fp").cast("double") / F.col("t_tot").cast("double")
    return terms.join(F.broadcast(tsum)).select(
        "source",
        "n_docs",
        "n_tokens",
        "nat_share",
        temp_share.alias("temp_share"),
        (temp_share / F.col("nat_share")).alias("upsample"),
    )


# ------------------------------------------- unigram LM quality score

@query(
    "unigram_logprob",
    oracle="""
    WITH terms AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
    ),
    vocab AS (SELECT term, COUNT(*) AS c FROM terms GROUP BY term),
    tot AS (SELECT COUNT(*) AS n FROM terms),
    scored AS (
      -- fixed-point ln to 6dp (same masking as tfidf_top_term): the
      -- per-token log-prob becomes an exact integer, so the per-doc
      -- SUM is order-insensitive and engine-identical
      SELECT tf.doc_id,
             SUM(tf.tf * CAST(floor(
               ln(CAST(vocab.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
               * 1000000.0 + 0.5) AS DECIMAL(30,0))) AS lp_scaled,
             CAST(SUM(tf.tf) AS BIGINT) AS n_tokens
      FROM tf JOIN vocab ON tf.term = vocab.term CROSS JOIN tot
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(lp_scaled AS DOUBLE) / 1000000.0
             / CAST(n_tokens AS DOUBLE) AS avg_logprob
    FROM scored
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality score without a model: the mean
    per-token natural-log probability of each document under the
    corpus's own unigram distribution. Boilerplate and stopword soup
    score high (typical), gibberish and rare-token noise score low —
    the cheap stand-in for the LM-perplexity filter every pretraining
    pipeline runs, expressed entirely in Catalyst.

    Determinism: ln() is not correctly rounded, so the per-token
    log-prob is floor-scaled to an exact integer before the per-doc
    sum (the tfidf_top_term pattern); the two divisions at the
    boundary are IEEE-identical.

    Scale shape: one explode pass feeds both the per-doc tf and the
    vocab counts (two aggs on the term-keyed exchange); the score join
    shuffles tf and vocab on term — vocabulary is corpus-derived, so
    it is NEVER broadcast (the boilerplate_flag rule); the total-token
    count rides along as one broadcast row. Per-doc reduce lands on
    doc_id. Three shuffles, all key-partitioned, no quadratic term."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    terms = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    vocab = terms.groupBy("term").agg(F.count("*").alias("c"))
    tot = terms.agg(F.count("*").alias("n"))
    lp_int = scaled_int(
        F.log(F.col("c").cast("double") / F.col("n").cast("double")), 6
    )
    scored = (
        tf.join(vocab, "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * lp_int).alias("lp_scaled"),
            F.sum("tf").cast("long").alias("n_tokens"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        (
            F.col("lp_scaled").cast("double")
            / F.lit(1000000.0)
            / F.col("n_tokens").cast("double")
        ).alias("avg_logprob"),
    )


@query(
    "bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
      FROM documents
    ),
    bg AS (
      SELECT doc_id, arr[i] AS a, arr[i + 1] AS b
      FROM (SELECT doc_id, arr,
                   unnest(generate_series(1, len(arr) - 1)) AS i
            FROM toks)
    ),
    bc AS (SELECT a, b, COUNT(*) AS c2 FROM bg GROUP BY a, b),
    bs AS (SELECT a, COUNT(*) AS c1 FROM bg GROUP BY a),
    scored AS (
      SELECT bg.doc_id,
             {o_dsum('ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))', 6)} AS lp,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams
      FROM bg JOIN bc USING (a, b) JOIN bs USING (a)
      GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, lp / CAST(n_bigrams AS DOUBLE) AS avg_logprob
    FROM scored
    """,
)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score — the second-order upgrade of
    unigram_logprob: mean per-position ln P(w_i | w_{i-1}) under the
    corpus's own MLE bigram model (count(a,b) / bigram-start
    count(a)). Shuffled or machine-garbled text keeps its unigram
    mass but loses its bigram mass, so this separates fluent from
    scrambled documents where the unigram score cannot — the standard
    cheap step between unigram stats and a real LM perplexity filter.

    Determinism: the conditional probability is a ratio of exact
    integer counts (IEEE-identical double), ln is floor-masked to 6dp
    before the per-doc sum (the unigram_logprob pattern). Documents
    with fewer than two tokens have no bigrams and drop out.

    Scale shape: bigram pairs are built per-row with array
    expressions (transform over an index sequence — narrow, no
    shuffle, no Python); corpus counts and the score join shuffle on
    the (a, b) / (a) key spaces — vocabulary-derived, NEVER broadcast;
    the per-doc reduce lands on doc_id. Same three-exchange shape as
    unigram_logprob, no quadratic term."""
    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    bg = (
        toks.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS a, toks[i] AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    bc = bg.groupBy("a", "b").agg(F.count("*").alias("c2"))
    bs = bg.groupBy("a").agg(F.count("*").alias("c1"))
    lp_int = scaled_int(
        F.log(F.col("c2").cast("double") / F.col("c1").cast("double")), 6
    )
    scored = (
        bg.join(bc, ["a", "b"])
        .join(bs, ["a"])
        .groupBy("doc_id")
        .agg(
            F.sum(lp_int).alias("lp"),
            F.count("*").cast("long").alias("n_bigrams"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        (
            F.col("lp").cast("double")
            / F.lit(1000000.0)
            / F.col("n_bigrams").cast("double")
        ).alias("avg_logprob"),
    )


SAMPLE_TOPN = 200


@query(
    "importance_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars, sample_key FROM (
      SELECT doc_id, lang, n_chars,
             floor(
               ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
               / CAST(n_chars AS DOUBLE) * 1000000000.0 + 0.5
             ) / 1000000000.0 AS sample_key
      FROM documents WHERE n_chars > 0
    )
    ORDER BY sample_key DESC, doc_id
    LIMIT {SAMPLE_TOPN}
    """,
)
def importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    exponential races): each doc draws a deterministic uniform u from
    md5(doc_id) and competes with key ln(u)/w, w = n_chars — the
    top-k by key IS an exact weighted-without-replacement sample, so
    long documents (more token mass) are proportionally more likely
    to be drawn. The reproducible engine-side version of
    df.sample(weights): re-running, re-partitioning, or re-running on
    another engine draws the IDENTICAL sample — the property training
    reproducibility actually needs (df.sample is seed+partitioning
    dependent; the same discipline as stratified_sample).

    Determinism: u = (first 8 md5 hex digits + 0.5) / 2^32 is exact in
    both engines; ln is floor-masked to 9dp (the unigram_logprob
    pattern) and ties break on doc_id.

    Scale shape: one narrow scan computes the key; the global top-k is
    TakeOrderedAndProject (per-partition heaps + k-row merge), never a
    full sort."""
    t = load_tables(spark, sf_dir, ("documents",))
    x = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double")
    u = (x + F.lit(0.5)) / F.lit(4294967296.0)
    key = fixed(F.log(u) / F.col("n_chars").cast("double"), 9)
    return (
        t["documents"]
        .where(F.col("n_chars") > 0)
        .select("doc_id", "lang", "n_chars", key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(SAMPLE_TOPN)
    )


PMI_VOCAB_TOPK = 50
PMI_MIN_PAIR_DOCS = 5


@query(
    "cooccurrence_pmi",
    oracle=f"""
    WITH terms AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
      )
    ),
    vocab AS (
      SELECT term, df FROM (
        SELECT term, COUNT(*) AS df FROM terms GROUP BY term
        ORDER BY df DESC, term LIMIT {PMI_VOCAB_TOPK}
      )
    ),
    vt AS (SELECT t.doc_id, t.term, v.df FROM terms t JOIN vocab v USING (term)),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM terms),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             MIN(a.df) AS df_a, MIN(b.df) AS df_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM vt a JOIN vt b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
    )
    SELECT term_a, term_b, n_ab,
           CAST(floor(ln(
             CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
             / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))
           ) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS pmi
    FROM pairs, nd
    WHERE n_ab >= {PMI_MIN_PAIR_DOCS}
    """,
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level term
    co-occurrence, restricted to the top-{PMI_VOCAB_TOPK} vocabulary:
    PMI = ln(P(a,b) / (P(a)·P(b))) with document-frequency
    probabilities — the collocation/phrase-detection statistic
    (word2vec-style preprocessing) and the topic-coherence building
    block. High PMI = terms that travel together far beyond chance.

    Determinism: probabilities are ratios of exact integer counts;
    the single ln at the boundary is floor-masked to 6dp; the vocab
    cut has a total (df desc, term) order.

    Scale shape: the vocabulary restriction is what bounds the pair
    space — the top-k vocab (a FIXED k-row table, legitimately
    broadcast, unlike corpus-derived vocabularies) filters the
    exploded terms BEFORE the per-doc self-join, so pairs per doc are
    ≤ C(k,2) regardless of doc length, and the co-occurrence groupBy
    lands on a ≤ C(k,2) key space. One term-keyed exchange for df
    counts, one doc_id-keyed for the pair join. Linear in corpus."""
    t = load_tables(spark, sf_dir, ("documents",))
    terms = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(ws_tokens(F.lower(F.col("text")))).alias("term"),
        )
        .distinct()
    )
    vocab = (
        terms.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(PMI_VOCAB_TOPK)
    )
    vt = terms.join(F.broadcast(vocab), "term")
    nd = terms.agg(F.countDistinct("doc_id").alias("n"))
    a = vt.select(
        F.col("doc_id").alias("d"), F.col("term").alias("term_a"),
        F.col("df").alias("df_a"),
    )
    b = vt.select(
        F.col("doc_id").alias("d2"), F.col("term").alias("term_b"),
        F.col("df").alias("df_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("d") == F.col("d2")) & (F.col("term_a") < F.col("term_b")),
        )
        .groupBy("term_a", "term_b")
        .agg(
            F.min("df_a").alias("df_a"),
            F.min("df_b").alias("df_b"),
            F.count("*").cast("long").alias("n_ab"),
        )
        .where(F.col("n_ab") >= PMI_MIN_PAIR_DOCS)
    )
    pmi = fixed(
        F.log(
            F.col("n_ab").cast("double")
            * F.col("n").cast("double")
            / (F.col("df_a").cast("double") * F.col("df_b").cast("double"))
        ),
        6,
    )
    return pairs.join(F.broadcast(nd)).select(
        "term_a", "term_b", "n_ab", pmi.alias("pmi")
    )


GROUP_SAMPLE_N = 5


@query(
    "weighted_sample_per_group",
    oracle=f"""
    SELECT lang, rk, doc_id, n_chars, sample_key FROM (
      SELECT lang, doc_id, n_chars, sample_key,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                        ORDER BY sample_key DESC, doc_id) AS BIGINT) AS rk
      FROM (
        SELECT doc_id, lang, n_chars,
               floor(
                 ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
                 / CAST(n_chars AS DOUBLE) * 1000000000.0 + 0.5
               ) / 1000000000.0 AS sample_key
        FROM documents WHERE n_chars > 0
      )
    )
    WHERE rk <= {GROUP_SAMPLE_N}
    """,
)
def weighted_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sampling without replacement — the
    stratified member of the sampling family: importance_sample's
    Efraimidis-Spirakis race (key = ln(u)/w, u deterministic from
    md5(doc_id), w = n_chars) run independently inside each language,
    top-{GROUP_SAMPLE_N} per group. The engine-side equivalent of "draw
    k docs per language, long docs proportionally more likely", with
    the same reproducibility guarantee: identical draw under any
    partitioning, any engine, any run.

    Exactness: u is exact in both engines, ln is 9dp floor-masked,
    ties break on doc_id (the importance_sample discipline).

    Scale shape: one narrow scan computes keys; the per-group top-k is
    a window rank over the lang partitioning — a single shuffle on
    lang with rank short-circuit. When groups are few and huge, the
    per-partition-heap form (groupBy lang + an aggregate top-k over
    mapped partials) removes even the window sort; documented, not
    needed at the dims here."""
    t = load_tables(spark, sf_dir, ("documents",))
    x = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double")
    u = (x + F.lit(0.5)) / F.lit(4294967296.0)
    key = fixed(F.log(u) / F.col("n_chars").cast("double"), 9)
    from pyspark.sql import Window

    ranked = (
        t["documents"]
        .where(F.col("n_chars") > 0)
        .select("doc_id", "lang", "n_chars", key.alias("sample_key"))
        .withColumn(
            "rk",
            F.row_number()
            .over(
                Window.partitionBy("lang").orderBy(
                    F.col("sample_key").desc(), "doc_id"
                )
            )
            .cast("long"),
        )
    )
    return ranked.where(F.col("rk") <= GROUP_SAMPLE_N).select(
        "lang", "rk", "doc_id", "n_chars", "sample_key"
    )


ZIPF_TOP_N = 500


@query(
    "zipf_fit",
    oracle=f"""
    WITH freq AS MATERIALIZED (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS occurrences
      FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
      )
      GROUP BY term
      ORDER BY occurrences DESC, term
      LIMIT {ZIPF_TOP_N}
    ),
    ranked AS (
      SELECT {o_fixed('ln(CAST(ROW_NUMBER() OVER'
                      ' (ORDER BY occurrences DESC, term) AS DOUBLE))', 6)} AS x,
             {o_fixed('ln(CAST(occurrences AS DOUBLE))', 6)} AS y
      FROM freq
    )
    SELECT n AS n_terms, slope AS zipf_slope, intercept, r2
    FROM ({o_ols_fit('ranked')})
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of ln(frequency)
    on ln(rank) for the top-500 terms. A healthy natural-language
    corpus fits slope ~ -1 with high r²; synthetic/templated or
    deduplicated-to-death corpora bend away — a one-row corpus health
    gauge next to corpus_report.

    Exactness recipe (house rules, registry.py): ln is floor-masked to
    6dp on each point (ln is not correctly rounded and may differ by
    ulps between engines); the fit is ``registry.ols_fit``.

    Scale shape: word-count (explode -> partial-agg shuffle on term) ->
    top-500 via TakeOrderedAndProject (no global sort) -> 500-row
    window + single-row agg. The only data-sized stage is the scan."""
    t = load_tables(spark, sf_dir, ("documents",))
    freq = (
        t["documents"]
        .select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), "term")
        .limit(ZIPF_TOP_N)
    )

    w = Window.orderBy(F.col("occurrences").desc(), "term")
    ranked = freq.select(
        fixed(F.log(F.row_number().over(w).cast("double")), 6).alias("x"),
        fixed(F.log(F.col("occurrences").cast("double")), 6).alias("y"),
    )

    return ols_fit(ranked).select(
        F.col("n").alias("n_terms"),
        F.col("slope").alias("zipf_slope"),
        "intercept",
        "r2",
    )


# Misra–Gries heavy hitters: K counters per partition guarantee every
# term with global count > n/(K+1) survives candidate generation.
MG_K = 63


@query(
    "heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    toks_ne AS (SELECT w FROM toks WHERE w <> ''),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks_ne)
    SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(*) AS DOUBLE) / CAST(MIN(t.n) AS DOUBLE) AS share
    FROM toks_ne, tot t
    GROUP BY w
    HAVING COUNT(*) * {MG_K + 1} > MIN(t.n)
    """,
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters WITHOUT a full-vocabulary shuffle: the
    distributed Misra–Gries pattern. Each partition summarizes its
    token stream with K=63 counters (classic MG: increment on hit,
    decrement-all on overflow — undercount ≤ n_p/(K+1)); the tiny
    per-partition summaries (≤ K x partitions rows) merge into a
    candidate set that PROVABLY contains every term with global count
    > n/(K+1); one broadcast-semi-join recount then yields exact
    counts, filtered by the exact integer threshold cnt*(K+1) > n. The
    final answer is deterministic and partitioning-independent — only
    the intermediate candidate set varies — so the DuckDB oracle is
    the naive GROUP BY + HAVING, hash-gated.

    This is THE bounded-memory top-terms pattern at 100 TB: the naive
    plan shuffles the full vocabulary (billions of keys for web-scale
    n-grams); this plan shuffles K x partitions candidate rows plus a
    9-ish-key recount. The same skeleton serves user/IP/entity heavy
    hitters on any stream.

    Exactness: final counts are exact integers from the recount pass;
    the threshold compare is integer; share is one IEEE division.
    (MG approximation affects only candidate RECALL, which the
    n/(K+1) guarantee makes lossless for the reported set.)"""
    import pandas as pd

    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).where(F.col("w") != "")

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["w"]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < MG_K:
                    counters[w] = 1
                else:
                    dead = [k for k in counters if counters[k] == 1]
                    for k in counters:
                        counters[k] -= 1
                    for k in dead:
                        del counters[k]
        if counters:
            yield pd.DataFrame(
                {"w": list(counters), "c": list(counters.values())}
            )

    # candidates: <= K rows per partition, merged on the tiny key set
    cand = (
        toks.mapInPandas(mg_partition, "w string, c long")
        .groupBy("w")
        .agg(F.sum("c").alias("mg_lower"))
        .select("w")
    )
    tot = toks.agg(F.count("*").cast("long").alias("n"))
    # exact recount restricted to candidates (broadcast semi-join keeps
    # the scan shuffle-free; the groupBy key space is <= K x partitions)
    exact = (
        toks.join(F.broadcast(cand), "w")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * F.lit(MG_K + 1) > F.col("n"))
        .select(
            F.col("w").alias("term"),
            "cnt",
            (F.col("cnt").cast("double") / F.col("n").cast("double")).alias(
                "share"
            ),
        )
    )


# --------------------------------------------------- Heaps' law fit

_HEAPS_TRANCHES = 10


@query(
    "heaps_law_fit",
    oracle=f"""
    WITH mx AS (SELECT MAX(doc_id) AS mid FROM documents),
    base AS MATERIALIZED (
      SELECT least(CAST(floor(CAST(doc_id * {_HEAPS_TRANCHES} AS DOUBLE)
               / CAST(mx.mid + 1 AS DOUBLE)) AS BIGINT),
               {_HEAPS_TRANCHES - 1}) AS tranche,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents CROSS JOIN mx
    ),
    tokc AS (
      SELECT tranche, CAST(SUM(len(toks)) AS BIGINT) AS n_toks
      FROM base GROUP BY tranche
    ),
    firsts AS (
      SELECT term, MIN(tranche) AS ft
      FROM (SELECT DISTINCT tranche, unnest(toks) AS term FROM base)
      GROUP BY term
    ),
    newv AS (
      SELECT ft AS tranche, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY ft
    ),
    cum AS (
      SELECT t.tranche,
             CAST(SUM(t.n_toks) OVER (ORDER BY t.tranche
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_n,
             CAST(SUM(COALESCE(v.n_new, 0)) OVER (ORDER BY t.tranche
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_v
      FROM tokc t LEFT JOIN newv v ON v.tranche = t.tranche
    ),
    pts AS (
      SELECT {o_fixed('ln(CAST(cum_n AS DOUBLE))', 6)} AS x,
             {o_fixed('ln(CAST(cum_v AS DOUBLE))', 6)} AS y
      FROM cum
    )
    SELECT n AS n_points, slope AS heaps_beta, intercept AS ln_k, r2
    FROM ({o_ols_fit('pts')})
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit over the corpus in doc-id order: OLS of
    ln(cumulative vocabulary) on ln(cumulative tokens) across 10
    tranches — V(N) ~ K·N^beta. Natural text fits beta ~ 0.4-0.6;
    beta collapsing toward 0 means the vocabulary has saturated (more
    data adds tokens but no new content — the lexical twin of
    shingle_novelty_curve's pricing signal), beta near 1 means
    templated/ID-heavy text whose "vocabulary" never converges.
    Output is one row (n_points, heaps_beta, ln_k, r2); K itself is
    deliberately left as ln_k — exp() is libm and would need another
    mask for zero information gain. On THIS synthetic corpus the
    generator's closed word list saturates inside tranche 0, so the
    fit reports exactly the degenerate case it exists to detect
    (beta = 0, r2 = 0, ln_k = ln|vocabulary|) at every SF — the
    interesting slopes appear on real crawled text.

    Exactness: tranche assignment is shingle_novelty_curve's exact
    integer floor-division; cumulative token/vocab counts are exact
    BIGINTs over 10 rows; ln is floor-masked to 6dp per point and the
    fit is ``registry.ols_fit``, as in zipf_fit.

    Scale shape: cumulative token mass is a narrow array-size sum (no
    explode) onto 10 tranche keys; the vocabulary side is ONE
    (tranche, term) distinct exchange, a term-keyed MIN riding the
    same partitioning, and a 10-row rollup. The cumulative windows
    and the fit run on 10 rows. The only corpus-sized stage is the
    scan + the one term exchange — the same budget zipf_fit pays.

    Reference parity: no equivalent — corpus statistics are part of
    the training-data toolkit (reference scope stops at per-batch SQL,
    /root/reference/sqlflow/sql.py)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    mx = docs.agg(F.max("doc_id").alias("mid"))
    base = docs.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.floor(
                (F.col("doc_id") * _HEAPS_TRANCHES).cast("double")
                / (F.col("mid") + 1).cast("double")
            ).cast("long"),
            F.lit(_HEAPS_TRANCHES - 1).cast("long"),
        ).alias("tranche"),
        ws_tokens(F.lower(F.col("text"))).alias("toks"),
    )
    tokc = base.groupBy("tranche").agg(
        F.sum(F.size("toks")).cast("long").alias("n_toks")
    )
    terms = (
        base.select("tranche", F.explode_outer("toks").alias("term"))
        .where(F.col("term").isNotNull())
        .distinct()
    )
    newv = (
        terms.groupBy("term")
        .agg(F.min("tranche").alias("ft"))
        .groupBy("ft")
        .agg(F.count("*").cast("long").alias("n_new"))
    )
    wc = Window.orderBy("tranche").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        tokc.join(newv, tokc.tranche == newv.ft, "left")
        .select("tranche", "n_toks", F.coalesce("n_new", F.lit(0)).alias("nn"))
        .select(
            F.sum("n_toks").over(wc).cast("long").alias("cum_n"),
            F.sum("nn").over(wc).cast("long").alias("cum_v"),
        )
    )

    pts = cum.select(
        fixed(F.log(F.col("cum_n").cast("double")), 6).alias("x"),
        fixed(F.log(F.col("cum_v").cast("double")), 6).alias("y"),
    )

    return ols_fit(pts).select(
        F.col("n").alias("n_points"),
        F.col("slope").alias("heaps_beta"),
        F.col("intercept").alias("ln_k"),
        "r2",
    )
