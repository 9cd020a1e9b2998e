"""Distributed BPE merge learning — the tokenizer-training side of a
training-data pipeline (the engine already *counts* BPE-ish tokens;
this learns the merge table itself, the iterative pair-count →
argmax → merge loop of Sennrich et al. 2016).

Spark-first shape: the corpus collapses once to the word-frequency
vocabulary (the classic formulation — pair statistics are weighted by
word counts, so all later iterations run on vocab cardinality, not
corpus cardinality). Each iteration is pure JVM: adjacent-pair explode
with map-side partial sums, a deterministic 1-row argmax broadcast
back, and the merge applied with a higher-order aggregate fold (greedy
leftmost non-overlapping, the standard scan). No Python in the row
path, no driver-side data past the driver bound — the only driver
loop is the bounded merge count, same posture as every iterative
trainer here.

Registered rows-only (an unrolled SQL oracle would need a list-fold
DuckDB lacks); instead tests/test_functions.py pins the ENTIRE merge
sequence exactly against a pure-Python reference BPE on the real
corpus — a stronger check than a hash match on one engine pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark.functions.textops import ws_tokens
from sql_flow_spark.localdf import bounded_or_distributed, local_df
from sql_flow_spark.registry import query
from sql_flow_spark.tables import load_tables

N_MERGES = 8


def _merge_pair(syms: Column, a: Column, b: Column) -> Column:
    """Greedy leftmost non-overlapping replacement of adjacent (a, b)
    with a||b, as a left fold: a just-merged token is never the left
    half of another merge in the same pass."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda out, x: F.when(
            (F.size(out) > 0)
            & (F.element_at(out, -1) == a)
            & (x == b)
            & ~F.element_at(out, -1).isNull(),
            F.concat(
                F.slice(out, 1, F.size(out) - 1),
                F.array(F.concat(a, b)),
            ),
        ).otherwise(F.concat(out, F.array(x))),
    )


def learn_merges(
    docs: DataFrame, n_merges: int = N_MERGES, text_col: str = "text"
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from ``docs``; returns (rank,
    left, right, merged, pair_count) in merge order.

    Ties on pair count break lexicographically on (left, right) — a
    total order, so the merge table is deterministic on any cluster.

    BPE training runs on the word-frequency VOCABULARY, which is
    sublinear in the corpus and bounded in practice — the
    bounded-trainer shape of the Lloyd family. The vocab aggregate
    runs ONCE, into a local checkpoint both paths read. Under the
    driver bound (localdf.bounded_or_distributed) the vocab collects
    (syms already split by the SAME Spark expression, so no tokenizer
    can fork) and the pair-count -> argmax -> merge loop runs in pure
    python: integer counts, (count desc, left, right) ties — python
    string order equals Spark's UTF8 binary order for valid UTF-8 —
    and the identical greedy leftmost non-overlapping scan
    (tests/test_functions.py pins the whole sequence against the
    pure-python reference). Past the bound the distributed iteration
    ladder runs on the checkpointed vocab."""
    spark = docs.sparkSession
    vocab = (
        docs.select(
            F.explode(ws_tokens(text_col)).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.regexp_extract_all("word", F.lit("."), 0).alias("syms"),
            "cnt",
        )
        .localCheckpoint(eager=True)
    )

    def twin(pdf):
        words = [(list(s), int(c)) for s, c in zip(pdf["syms"], pdf["cnt"])]
        merges = []
        for rank in range(1, n_merges + 1):
            pc: dict[tuple[str, str], int] = {}
            for syms, cnt in words:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    pc[p] = pc.get(p, 0) + cnt
            if not pc:
                break
            (left, right), count = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, left, right, left + right, count))
            nxt_words = []
            for syms, cnt in words:
                nxt: list[str] = []
                for x in syms:
                    if nxt and nxt[-1] == left and x == right:
                        nxt[-1] = left + right
                    else:
                        nxt.append(x)
                nxt_words.append((nxt, cnt))
            words = nxt_words
        return _merge_table(spark, merges)

    return bounded_or_distributed(
        vocab, twin, lambda: _learn_distributed(vocab, n_merges)
    )


def _merge_table(spark: SparkSession, merges: list) -> DataFrame:
    return local_df(
        spark,
        merges,
        "rank int, left string, right string, merged string, pair_count long",
    )


def _learn_distributed(vocab: DataFrame, n_merges: int) -> DataFrame:
    """learn_merges' distributed iteration ladder over the checkpointed
    vocab: per merge one pair-count aggregate, a 1-row argmax collect
    and the merge fold, re-checkpointed."""
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.select(
                F.explode(
                    # guard: a fully-merged single-symbol word has no
                    # adjacent pairs (sequence(1, 0) would descend)
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("left"),
                                F.element_at("syms", i + 1).alias("right"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<left:string,right:string>>"
                        )
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        # r13: collect the 1-row argmax directly (the TakeOrdered job
        # IS the iteration's work) instead of localCheckpoint-ing it
        # and re-attaching via a broadcast join — one job and one plan
        # node fewer per merge, identical trajectory (the fold now
        # takes the winning pair as literals).
        best_rows = (
            pairs.orderBy(
                F.col("pair_count").desc(), F.col("left"), F.col("right")
            )
            .limit(1)
            .collect()
        )
        if not best_rows:
            break
        left, right = best_rows[0]["left"], best_rows[0]["right"]
        merges.append(
            (rank, left, right, left + right, best_rows[0]["pair_count"])
        )
        vocab = vocab.select(
            _merge_pair(
                F.col("syms"), F.lit(left), F.lit(right)
            ).alias("syms"),
            "cnt",
        ).localCheckpoint(eager=True)
    return _merge_table(vocab.sparkSession, merges)


@query("bpe_learn_merges")  # iterative list-fold -> no SQL oracle
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 BPE merges learned from the documents corpus (see
    learn_merges). The 1-row-per-iteration collect is the bounded
    trainer loop, not a data collect; everything corpus-sized stays
    distributed."""
    t = load_tables(spark, sf_dir, ("documents",))
    return learn_merges(t["documents"], N_MERGES)


def apply_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    engine: str = "arrow",
) -> DataFrame:
    """Tokenize with a learned merge table; returns the input plus
    ``syms`` (the symbol array) and ``n_bpe_tokens``.

    engine="arrow" (default): Arrow-batched pandas UDF running the
    greedy scan in plain python over each batch — ~10x faster than the
    expression path because nested higher-order functions are
    INTERPRETED by Catalyst (no whole-stage codegen), and an M-merge
    vocabulary over W words costs M·W lambda frames per row (measured
    ~2 ms/doc at M=8 — fine at test scale, disqualifying at 100 TB).

    engine="expr": the chained Catalyst fold (one _merge_pair per
    merge) — kept as the JVM-exact twin; the randomized sweep in
    test_properties pins the fold itself, and
    test_bpe_apply_engines_agree pins arrow == expr on the real
    corpus."""
    if engine == "expr":
        per_word = F.transform(
            ws_tokens(text_col),
            lambda w: F.regexp_extract_all(w, F.lit("."), 0),
        )

        def _apply_all(syms: Column) -> Column:
            out = syms
            for a, b in merges:
                out = _merge_pair(out, F.lit(a), F.lit(b))
            return out

        tokens = F.flatten(F.transform(per_word, _apply_all))
        return docs.withColumn("syms", tokens).withColumn(
            "n_bpe_tokens", F.size("syms").cast("long")
        )

    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType

    merge_list = list(merges)

    # no type hints: pandas is imported locally, so string annotations
    # would fail pyspark's hint resolution under future-annotations
    @F.pandas_udf(ArrayType(StringType()))
    def _tokenize(texts):
        out = []
        for text in texts:
            toks: list[str] = []
            for w in (text or "").split():
                syms = list(w)
                for a, b in merge_list:
                    nxt: list[str] = []
                    for x in syms:
                        if nxt and nxt[-1] == a and x == b:
                            nxt[-1] = a + b
                        else:
                            nxt.append(x)
                    syms = nxt
                toks.extend(syms)
            out.append(toks)
        return pd.Series(out)

    return docs.withColumn("syms", _tokenize(F.col(text_col))).withColumn(
        "n_bpe_tokens", F.size("syms").cast("long")
    )


@query("bpe_apply")  # same iterative-fold territory as bpe_learn_merges
def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the corpus's own learned BPE
    vocabulary: learn_merges provides the (bounded, 8-row) merge
    table, apply_merges folds it over every word JVM-side. The learn
    step's collects are trainer-bounded; the apply pass is a pure
    narrow map over the corpus — embarrassingly parallel at 100 TB.
    Token counts are pinned exactly against the pure-Python reference
    tokenizer in tests/test_functions.py."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    learned = learn_merges(docs, N_MERGES).orderBy("rank").collect()
    merges = [(r["left"], r["right"]) for r in learned]
    return apply_merges(docs, merges).select(
        "doc_id", "n_bpe_tokens"
    )
