"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting.

All pure Catalyst expressions (regexp/string built-ins) — no Python in
the row path, so they run inside whole-stage codegen and scale linearly
with a single parquet scan and zero shuffles (per-doc outputs).

Cross-engine note: every ratio is computed as CAST(int AS DOUBLE) /
CAST(int AS DOUBLE) with the same expression tree in the DuckDB oracle,
so values hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark.registry import fixed, query, scaled_int
from sql_flow_spark.tables import load_tables

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "des"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "it": ("il", "la", "di", "che", "e", "un", "per", "con"),
}


def _stop_re(lang: str) -> str:
    return r"\b(?:" + "|".join(STOPWORDS[lang]) + r")\b"


def ws_tokens(text: Column | str) -> Column:
    """The one whitespace tokenizer: split the trimmed text on \\s+."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def ws_token_count(text: Column | str) -> Column:
    return F.size(ws_tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_RE), 0))


def normalize_text(text: Column | str) -> Column:
    """lower -> strip non-alnum -> collapse whitespace -> trim."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


O_NORMALIZE = (
    "trim(regexp_replace(regexp_replace(lower({expr}), "
    "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


def fingerprint(text: Column | str) -> Column:
    """Content fingerprint: md5 over the normalized text. Stable under
    case/punctuation/whitespace noise — the exact-dedup key."""
    return F.md5(normalize_text(text))


@query(
    "token_count",
    oracle=f"""
    SELECT
      doc_id,
      CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens,
      CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INTEGER) AS n_bpe_tokens,
      CAST(length(text) AS BIGINT) AS n_chars_seen
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        ws_token_count("text").alias("n_ws_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_seen"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT
      doc_id,
      md5({O_NORMALIZE.format(expr='text')}) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint per document (dedup key)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select("doc_id", fingerprint("text").alias("fingerprint"))


def _o_hits(lang: str) -> str:
    return f"len(regexp_extract_all(lower(text), '{_stop_re(lang)}'))"


@query(
    "lang_id",
    oracle=f"""
    SELECT doc_id, lang, predicted_lang FROM (
      SELECT
        doc_id,
        lang,
        CASE
          WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_it THEN 'en'
          WHEN h_es >= h_fr AND h_es >= h_de AND h_es >= h_it THEN 'es'
          WHEN h_fr >= h_de AND h_fr >= h_it THEN 'fr'
          WHEN h_de >= h_it THEN 'de'
          ELSE 'it'
        END AS predicted_lang
      FROM (
        SELECT doc_id, lang,
          {_o_hits('en')} AS h_en,
          {_o_hits('es')} AS h_es,
          {_o_hits('fr')} AS h_fr,
          {_o_hits('de')} AS h_de,
          {_o_hits('it')} AS h_it
        FROM documents
      )
    )
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-hit language ID heuristic with a deterministic
    argmax tiebreak (en > es > fr > de > it)."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    low = F.lower(F.col("text"))
    hits = {
        lang: F.size(F.regexp_extract_all(low, F.lit(_stop_re(lang)), 0))
        for lang in STOPWORDS
    }
    pred = (
        F.when(
            (hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"])
            & (hits["en"] >= hits["de"]) & (hits["en"] >= hits["it"]),
            "en",
        )
        .when((hits["es"] >= hits["fr"]) & (hits["es"] >= hits["de"]) & (hits["es"] >= hits["it"]), "es")
        .when((hits["fr"] >= hits["de"]) & (hits["fr"] >= hits["it"]), "fr")
        .when(hits["de"] >= hits["it"], "de")
        .otherwise("it")
    )
    return d.select("doc_id", "lang", pred.alias("predicted_lang"))


@query(
    "text_quality",
    oracle=f"""
    SELECT
      doc_id,
      CAST(length(text) AS BIGINT) AS n_chars_seen,
      n_tokens,
      CASE WHEN length(text) = 0 THEN 0.0 ELSE
        CAST(n_alpha AS DOUBLE) / CAST(length(text) AS DOUBLE)
      END AS alpha_ratio,
      CASE WHEN length(text) = 0 THEN 0.0 ELSE
        CAST(n_punct AS DOUBLE) / CAST(length(text) AS DOUBLE)
      END AS punct_ratio,
      CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
      CASE WHEN length(text) = 0 THEN 0.0 ELSE
      0.5 * (CAST(n_alpha AS DOUBLE) / CAST(length(text) AS DOUBLE))
        + 0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(length(text) AS DOUBLE))
      END AS quality_score
    FROM (
      SELECT
        doc_id,
        text,
        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
        len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
        len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
        {_o_hits('en')} AS n_stop
      FROM documents
    )
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: alpha ratio, punctuation ratio,
    stopword density -> weighted score in [0,1]. Empty documents take
    0.0 char ratios and score 0.0 via lazy CASEs on both engines —
    ANSI Spark would otherwise abort the job on the 0/0 division
    (found by the adversarial-corpus sweep; only length(text) can be
    zero — the token denominator is always >= 1)."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    n_chars = F.length("text")
    n_tokens = ws_token_count("text")
    n_alpha = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]"), 0))
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0))
    n_stop = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_stop_re("en")), 0))
    empty = n_chars == 0
    alpha_ratio = F.when(empty, F.lit(0.0)).otherwise(
        n_alpha.cast("double") / n_chars.cast("double")
    )
    punct_ratio = F.when(empty, F.lit(0.0)).otherwise(
        n_punct.cast("double") / n_chars.cast("double")
    )
    stop_ratio = n_stop.cast("double") / n_tokens.cast("double")
    score = F.when(empty, F.lit(0.0)).otherwise(
        F.lit(0.5) * (n_alpha.cast("double") / n_chars.cast("double"))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.2)
        * (F.lit(1.0) - n_punct.cast("double") / n_chars.cast("double"))
    )
    return d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_seen"),
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


# Gopher-style rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", table A1 — public paper; bounds tuned to the
# synthetic corpus's ~60-word docs so both outcomes occur).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.80
GOPHER_MIN_STOPWORDS = 2


@query(
    "gopher_quality",
    oracle=f"""
    SELECT
      doc_id,
      n_words,
      CAST(char_mass AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
      CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) AS symbol_ratio,
      CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
        AS alpha_word_ratio,
      n_stop,
      (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS ok_words,
      (CAST(char_mass AS DOUBLE) / CAST(n_words AS DOUBLE)
         BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN})
        AS ok_mean_len,
      (CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE)
         <= {GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbols,
      (CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
         >= {GOPHER_MIN_ALPHA_WORD_RATIO}) AS ok_alpha,
      (n_stop >= {GOPHER_MIN_STOPWORDS}) AS ok_stop,
      (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
       AND CAST(char_mass AS DOUBLE) / CAST(n_words AS DOUBLE)
         BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
       AND CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE)
         <= {GOPHER_MAX_SYMBOL_RATIO}
       AND CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE)
         >= {GOPHER_MIN_ALPHA_WORD_RATIO}
       AND n_stop >= {GOPHER_MIN_STOPWORDS}) AS keep
    FROM (
      SELECT
        doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
          AS n_words,
        CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
          AS char_mass,
        CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT)
          AS n_symbols,
        CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
          AS n_alpha_words,
        CAST({_o_hits('en')} AS BIGINT) AS n_stop
      FROM documents
    )
    """,
)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021): word
    count bounds, mean word length bounds, symbol-to-word ratio,
    fraction of words containing an alphabetic character, and a
    stopword floor — each rule surfaced as its own boolean plus the
    conjunction `keep`, so a pipeline can audit WHICH rule dropped a
    document, not just that it dropped.

    Scale shape: pure Catalyst expressions (split / regexp /
    higher-order filter) in one projection — whole-stage codegen, one
    parquet scan, zero shuffles, embarrassingly parallel at 100 TB.
    Every ratio divides two exact integers in DOUBLE so both engines
    compare the identical IEEE value against the thresholds."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]

    toks = ws_tokens("text")
    n_words = F.size(toks).cast("long")
    char_mass = F.length(F.regexp_replace("text", r"\s", "")).cast("long")
    n_symbols = F.size(
        F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0)
    ).cast("long")
    n_alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    n_stop = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_stop_re("en")), 0)
    ).cast("long")

    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        char_mass.alias("char_mass"),
        n_symbols.alias("n_symbols"),
        n_alpha_words.alias("n_alpha_words"),
        n_stop.alias("n_stop"),
    )
    mean_len = F.col("char_mass").cast("double") / F.col("n_words").cast("double")
    sym_ratio = F.col("n_symbols").cast("double") / F.col("n_words").cast("double")
    alpha_ratio = (
        F.col("n_alpha_words").cast("double") / F.col("n_words").cast("double")
    )
    ok_words = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_mean_len = mean_len.between(
        GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
    )
    ok_symbols = sym_ratio <= GOPHER_MAX_SYMBOL_RATIO
    ok_alpha = alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO
    ok_stop = F.col("n_stop") >= GOPHER_MIN_STOPWORDS
    return base.select(
        "doc_id",
        "n_words",
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        "n_stop",
        ok_words.alias("ok_words"),
        ok_mean_len.alias("ok_mean_len"),
        ok_symbols.alias("ok_symbols"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_words & ok_mean_len & ok_symbols & ok_alpha & ok_stop).alias(
            "keep"
        ),
    )


@query(
    "lexical_diversity",
    oracle="""
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(n_hapax AS BIGINT) AS n_hapax,
           CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS type_token_ratio,
           CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             AS hapax_ratio
    FROM (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_types,
             len(list_filter(list_distinct(toks),
                 t -> len(list_filter(toks, x -> x = t)) = 1)) AS n_hapax
      FROM (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
      )
    )
    """,
)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity signals: type-token ratio and hapax-legomena
    fraction per document — the vocabulary-richness quality axis
    (templated/spun text scores low TTR; OCR noise scores high hapax).
    Pure integer counts divided in DOUBLE; whole computation is
    higher-order array expressions over one split — zero shuffles.

    The hapax filter is O(types · tokens) per doc — fine for
    documents, switch to an explode + groupBy count for book-length
    texts."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select("doc_id", ws_tokens("text").alias("toks"))
    types = F.array_distinct("toks")
    n_tokens = F.size("toks").cast("long")
    n_types = F.size(types).cast("long")
    n_hapax = F.size(
        F.filter(
            types,
            lambda ty: F.size(
                F.filter(F.col("toks"), lambda x: x == ty)
            )
            == 1,
        )
    ).cast("long")
    base = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        n_hapax.alias("n_hapax"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        (
            F.col("n_types").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("type_token_ratio"),
        (
            F.col("n_hapax").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("hapax_ratio"),
    )


@query(
    "char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, substr(text, i, 1) AS ch
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, len(text))) AS i
            FROM documents WHERE len(text) > 0)
    ),
    cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
    n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY doc_id)
    SELECT cnt.doc_id, n.n AS n_chars_counted,
           -CAST(SUM(c * CAST(floor(
              ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
              AS DECIMAL(30,0))) AS DOUBLE) / 1000000.0
            / CAST(n AS DOUBLE) AS entropy
    FROM cnt JOIN n USING (doc_id)
    GROUP BY cnt.doc_id, n.n
    """,
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy over characters (nats) — the
    compression-proxy quality signal: binary junk and base64 blobs
    score high, repeated-character spam scores near zero, natural
    text sits in a narrow band, so both tails are filter candidates
    (the cheap stand-in for the gzip-ratio filter in CCNet-style
    pipelines).

    Determinism: H = -(1/n)·Σ c·ln(c/n) — the per-character ln is
    floor-masked to 6dp (unigram_logprob pattern), making the sum an
    exact integer; the two boundary divisions are IEEE-identical.
    Both engines index characters (not bytes): Spark substring and
    DuckDB substr/len share character semantics.

    Scale shape: the char explode is a narrow per-row flatMap (×
    n_chars, no Python); one shuffle onto (doc_id, char) with
    map-side partials, then a doc_id-keyed reduce that reuses the
    exchange prefix. Linear in corpus bytes."""
    t = load_tables(spark, sf_dir, ("documents",))
    chars = (
        t["documents"]
        .where(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text)),"
                    " i -> substring(text, i, 1))"
                )
            ).alias("ch"),
        )
    )
    cnt = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    n = cnt.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    ln_int = scaled_int(
        F.log(F.col("c").cast("double") / F.col("n").cast("double")), 6
    )
    return (
        cnt.join(n, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            (
                -F.sum(F.col("c") * ln_int).cast("double")
                / F.lit(1000000.0)
                / F.col("n").cast("double")
            ).alias("entropy")
        )
        .select("doc_id", F.col("n").alias("n_chars_counted"), "entropy")
    )


@query(
    "readability_score",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_words,
             GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                      1) AS n_sentences,
             GREATEST(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                           AS BIGINT), 1) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           floor((206.835
                  - 1.015 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE)))
                 * 1000000.0 + 0.5) / 1000000.0 AS flesch
    FROM m
    """,
)
def readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, with the syllable count
    approximated as vowel-group runs ([aeiouy]+) — the standard cheap
    proxy when no pronunciation dictionary is shipped (the real
    formula's structure is intact, so corpus-relative ranking and
    quality-gate thresholds behave like true Flesch). Joins the quality
    family (text_quality, gopher_quality, lexical_diversity) as the
    sentence-complexity axis none of them measure.

    Exactness: all three counts are exact integers from identical
    regexes (DuckDB regexp_extract_all == Spark regexp_extract_all
    semantics for these character-class patterns); the score is IEEE
    arithmetic on identical scalars, floor-masked to 6dp at the
    boundary because literal*quotient chains are engine-identical but
    the mask documents the contract.

    Scale shape: narrow map over the scan, no shuffle at all — the
    whole operator is one WholeStageCodegen span."""
    t = load_tables(spark, sf_dir, ("documents",))
    n_words = ws_token_count("text").cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)).cast(
            "long"
        ),
        F.lit(1).cast("long"),
    )
    n_syll = F.greatest(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    m = t["documents"].select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        fixed(flesch, 6).alias("flesch"),
    )


@query(
    "tokenizer_fertility",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_RE}'))) AS BIGINT)
             AS n_bpe_tokens,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
             AS BIGINT) AS n_ws_words,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_RE}'))) AS DOUBLE)
             / CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                    AS DOUBLE) AS fertility
    FROM documents
    GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens emitted per
    whitespace word — THE cross-lingual tokenizer-efficiency metric
    (a fertility of 2 means that language pays twice the sequence
    length per word; drives both training cost and context-window
    fairness audits). Uses the same BPE_RE pre-tokenizer as
    token_count, aggregated per lang instead of per doc.

    Exactness: both token counts are exact integers from identical
    regexes; fertility is one IEEE division of exact BIGINT sums.

    Scale shape: narrow map over the corpus scan (two regex counts
    per doc), then a languages-sized groupBy of map-side partials —
    no join, no window, one tiny shuffle."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"].select(
        "lang",
        ws_token_count("text").alias("nw"),
        bpe_token_count("text").alias("nb"),
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nb").cast("long").alias("n_bpe_tokens"),
        F.sum("nw").cast("long").alias("n_ws_words"),
        (
            F.sum("nb").cast("double") / F.sum("nw").cast("double")
        ).alias("fertility"),
    )


@query(
    "lang_confusion",
    oracle=None,  # bound below once lang_id's oracle string exists
)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the lang_id classifier against the
    labeled lang column: per (true, predicted) cell the document
    count and the within-true-language share (row-normalized recall
    view) — the standard classifier-evaluation table, run at corpus
    scale (note the honest failure surface: 'zh' has no stopword
    model, so its row shows exactly where the heuristic sprays).

    Exactness: composes lang_id's already-oracled scoring (exact
    integer stopword hits, deterministic argmax cascade), then exact
    counts and a BIGINT-window share division.

    Scale shape: lang_id's narrow map, one shuffle onto the
    languages² cell space with map-side partials, and a window over
    that tiny matrix."""
    from pyspark.sql import Window

    preds = lang_id(spark, sf_dir)
    conf = preds.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return conf.select(
        "lang",
        "predicted_lang",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("recall_share"),
    )


from sql_flow_spark.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["lang_confusion"] = f"""
    WITH preds AS ({_ORACLES["lang_id"]})
    SELECT lang, predicted_lang, n_docs,
           CAST(n_docs AS DOUBLE)
             / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE)
             AS recall_share
    FROM (
      SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM preds GROUP BY lang, predicted_lang
    )
"""


_PURITY_MIN_HITS = 4  # below this the doc is 'undetermined', not mixed


@query(
    "doc_language_purity",
    oracle=f"""
    WITH hits AS (
      SELECT lang,
        {_o_hits('en')} AS h_en, {_o_hits('es')} AS h_es,
        {_o_hits('fr')} AS h_fr, {_o_hits('de')} AS h_de,
        {_o_hits('it')} AS h_it
      FROM documents
    ),
    scored AS (
      SELECT lang,
             h_en + h_es + h_fr + h_de + h_it AS tot,
             greatest(h_en, h_es, h_fr, h_de, h_it) AS top
      FROM hits
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN tot < {_PURITY_MIN_HITS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_undetermined,
           CAST(SUM(CASE WHEN tot >= {_PURITY_MIN_HITS}
                          AND top * 5 < tot * 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mixed,
           CASE WHEN SUM(CASE WHEN tot >= {_PURITY_MIN_HITS} THEN 1
                         ELSE 0 END) = 0 THEN NULL ELSE
           CAST(SUM(CASE WHEN tot >= {_PURITY_MIN_HITS} THEN
             CAST(floor(CAST(top AS DOUBLE) / CAST(tot AS DOUBLE)
                  * 1000000.0 + 0.5) AS DECIMAL(30,0))
             ELSE CAST(0 AS DECIMAL(30,0)) END) AS DOUBLE) / 1000000.0
             / CAST(SUM(CASE WHEN tot >= {_PURITY_MIN_HITS} THEN 1 ELSE 0
                       END) AS DOUBLE)
           END AS avg_purity
    FROM scored GROUP BY lang
    """,
)
def doc_language_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching / mixed-language detection panel per labeled
    language: each doc's stopword hits across ALL language models, a
    purity score top-hits/total-hits, and per-lang counts of mixed
    (purity < 0.6 with enough evidence) and undetermined (< 4 total
    hits) docs — the curation gate that catches documents a single
    argmax language id silently mislabels (lang_id picks a winner
    even at 50/50).

    Exactness: hit counts are exact integers from the shared stopword
    regexes; the mixed test is the cross-multiplied integer
    inequality top·5 < tot·3; per-doc purity is fixed-pointed to 6dp
    and DECIMAL-summed before the average.

    Scale shape: one narrow map over the corpus scan (5 regex counts
    per doc), one languages-sized groupBy of map-side partials.

    avg_purity is NULL (both engines, lazy CASE) for a language whose
    docs are ALL undetermined — ANSI Spark would otherwise abort on
    the 0-denominator average (adversarial-corpus sweep finding; the
    generator corpus always has determinable docs per lang)."""
    t = load_tables(spark, sf_dir, ("documents",))
    low = F.lower(F.col("text"))
    hits = [
        F.size(F.regexp_extract_all(low, F.lit(_stop_re(lang)), 0))
        for lang in STOPWORDS
    ]
    tot = hits[0] + hits[1] + hits[2] + hits[3] + hits[4]
    top = F.greatest(*hits)
    scored = t["documents"].select(
        "lang", tot.alias("tot"), top.alias("top")
    )
    enough = F.col("tot") >= _PURITY_MIN_HITS
    purity_fp = F.when(
        enough,
        scaled_int(F.col("top").cast("double") / F.col("tot").cast("double"), 6),
    ).otherwise(F.lit(0).cast("decimal(30,0)"))
    return scored.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(~enough, 1).otherwise(0)).cast("long").alias(
            "n_undetermined"
        ),
        F.sum(
            F.when(enough & (F.col("top") * 5 < F.col("tot") * 3), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_mixed"),
        F.when(
            F.sum(F.when(enough, 1).otherwise(0)) == 0, F.lit(None)
        )
        .otherwise(
            F.sum(purity_fp).cast("double")
            / F.lit(1000000.0)
            / F.sum(F.when(enough, 1).otherwise(0)).cast("double")
        )
        .alias("avg_purity"),
    )


# Context-window sizes audited by context_fit_report: the short-context
# tier, the classic 2k pretraining window, and a long-context tier.
FIT_WINDOWS = (512, 2048, 8192)


@query(
    "context_fit_report",
    oracle=f"""
    WITH base AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)
               AS n_tok
      FROM documents
    ),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
             CAST(SUM(CASE WHEN n_tok <= {FIT_WINDOWS[0]} THEN 1 ELSE 0 END)
                  AS BIGINT) AS fit_512,
             CAST(SUM(CASE WHEN n_tok <= {FIT_WINDOWS[1]} THEN 1 ELSE 0 END)
                  AS BIGINT) AS fit_2048,
             CAST(SUM(CASE WHEN n_tok <= {FIT_WINDOWS[2]} THEN 1 ELSE 0 END)
                  AS BIGINT) AS fit_8192
      FROM base GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
             AS mean_tokens,
           max_tokens, fit_512, fit_2048, fit_8192,
           CAST(fit_2048 AS DOUBLE) / CAST(n_docs AS DOUBLE)
             AS fit_2048_share
    FROM agg
    """,
)
def context_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window fit audit per source: how much of each corpus
    slice fits a 512 / 2048 / 8192-token window under the BPE-ish
    pre-tokenizer (same BPE_RE as token_count / tokenizer_fertility),
    plus total/mean/max token mass — the sizing panel a pretraining
    run consults before choosing sequence length and packing strategy
    (short-doc-heavy sources pack densely at 2k; long-tail sources
    need 8k or chunking via doc_chunking).

    Scale shape: one parquet scan, tokenization in whole-stage codegen
    (regexp_extract_all + size — no Python), then a sources-sized
    groupBy whose partial aggregates collapse map-side; every output
    is an exact BIGINT or an int/int DOUBLE ratio, so both engines
    hash-match bit-for-bit at any scale."""
    t = load_tables(spark, sf_dir, ("documents",))
    n_tok = bpe_token_count("text").cast("long")
    base = t["documents"].select("source", n_tok.alias("n_tok"))
    agg = base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
        *[
            F.sum(F.when(F.col("n_tok") <= w, 1).otherwise(0))
            .cast("long")
            .alias(f"fit_{w}")
            for w in FIT_WINDOWS
        ],
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        (
            F.col("total_tokens").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("mean_tokens"),
        "max_tokens",
        "fit_512",
        "fit_2048",
        "fit_8192",
        (
            F.col("fit_2048").cast("double") / F.col("n_docs").cast("double")
        ).alias("fit_2048_share"),
    )


@query(
    "quality_filter_survival",
    oracle=f"""
    WITH base AS (
      SELECT lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_t,
             (CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
              AND CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                / CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS DOUBLE)
                BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                    AND {GOPHER_MAX_MEAN_WORD_LEN}
              AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                       AS DOUBLE)
                / CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS DOUBLE)
                <= {GOPHER_MAX_SYMBOL_RATIO}
              AND CAST(len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
                / CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS DOUBLE)
                >= {GOPHER_MIN_ALPHA_WORD_RATIO}
              AND CAST({_o_hits('en')} AS BIGINT)
                >= {GOPHER_MIN_STOPWORDS}) AS keep
      FROM documents
    ),
    agg AS (
      SELECT lang, keep,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_t) AS BIGINT) AS n_tokens
      FROM base GROUP BY lang, keep
    ),
    tot AS (
      SELECT lang,
             CAST(SUM(n_docs) AS BIGINT) AS lang_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
      FROM agg GROUP BY lang
    )
    SELECT a.lang, a.keep, a.n_docs, a.n_tokens,
           CAST(a.n_docs AS DOUBLE) / CAST(t.lang_docs AS DOUBLE)
             AS doc_share,
           CAST(a.n_tokens AS DOUBLE) / CAST(t.lang_tokens AS DOUBLE)
             AS token_share
    FROM agg a JOIN tot t USING (lang)
    """,
)
def quality_filter_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does the Gopher filter COST per language: documents and
    whitespace-token mass grouped by (lang, keep) with within-language
    doc/token survival shares — the before-you-commit audit for any
    rule-based prune (a filter that keeps 95% of English but 40% of
    German is a language-mix decision, not a quality decision, and
    this is the panel that surfaces it). Uses gopher_quality's exact
    conjunction (same thresholds, same expression tree) so the two
    keys agree row-for-row on which documents survive.

    Scale shape: one parquet scan with the filter conjunction in
    whole-stage codegen, a (lang,keep)-sized groupBy (map-side
    partials; ≤ 2x languages rows), then the share join runs on the
    languages-sized aggregate — broadcast, no fact-table shuffle
    beyond the one bounded-key agg. Counts are exact BIGINTs; shares
    divide two exact BIGINTs in DOUBLE — bit-identical cross-engine."""
    t = load_tables(spark, sf_dir, ("documents",))
    d = t["documents"]
    toks = ws_tokens("text")
    n_words = F.size(toks).cast("long")
    mean_len = (
        F.length(F.regexp_replace("text", r"\s", "")).cast("double")
        / n_words.cast("double")
    )
    sym_ratio = (
        F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0))
        .cast("double")
        / n_words.cast("double")
    )
    alpha_ratio = (
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n_words.cast("double")
    )
    n_stop = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_stop_re("en")), 0)
    ).cast("long")
    keep = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_len.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )
    agg = (
        d.select("lang", keep.alias("keep"), n_words.alias("n_t"))
        .groupBy("lang", "keep")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_t").cast("long").alias("n_tokens"),
        )
    )
    tot = agg.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("lang_docs"),
        F.sum("n_tokens").cast("long").alias("lang_tokens"),
    )
    return agg.join(F.broadcast(tot), "lang").select(
        "lang",
        "keep",
        "n_docs",
        "n_tokens",
        (
            F.col("n_docs").cast("double") / F.col("lang_docs").cast("double")
        ).alias("doc_share"),
        (
            F.col("n_tokens").cast("double")
            / F.col("lang_tokens").cast("double")
        ).alias("token_share"),
    )
