"""Unit tests for the function library (text, dedup primitives, url,
similarity, multimodal plumbing)."""

import pyspark.sql.functions as F
import pytest

from sql_flow_spark.functions.dedup import token_ngrams, ws_tokens, with_shingles
from sql_flow_spark.functions.multimodal import (
    decode_image,
    extract_features,
    fake_decode_features,
)
from sql_flow_spark.functions.similarity import dot_dec
from sql_flow_spark.functions.textops import (
    bpe_token_count,
    fingerprint,
    normalize_text,
    ws_token_count,
)
from sql_flow_spark.functions.url import parse_domain


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first().v


def test_parse_domain_expression(spark):
    cases = {
        "https://www.example.co.uk/path?q=1": "example.co.uk",
        "http://blog.somesite.com/x": "somesite.com",
        "https://a.b.c.org/": "c.org",
        "not a url": "",
    }
    for url, expected in cases.items():
        assert _one(spark, parse_domain(F.lit(url))) == expected


def test_parse_domain_python_udf_matches_expression(spark):
    from sql_flow_spark.udf import parse_domain as py_parse_domain

    for url in ["https://www.example.co.uk/p", "http://x.y.com/", "ftp://a.b.co.jp/z"]:
        assert py_parse_domain(url) == _one(spark, parse_domain(F.lit(url)))


def test_normalize_and_fingerprint_stability(spark):
    a = _one(spark, fingerprint(F.lit("Hello,   World!")))
    b = _one(spark, fingerprint(F.lit("hello world")))
    assert a == b  # case/punct/whitespace-insensitive
    assert _one(spark, normalize_text(F.lit("  A  b!! c  "))) == "a b c"


def test_token_counts(spark):
    assert _one(spark, ws_token_count(F.lit("a b  c"))) == 3
    # BPE-ish: letters run + digits run + punctuation
    assert _one(spark, bpe_token_count(F.lit("ab12,cd"))) == 4


def test_token_ngrams(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.withColumn("toks", ws_tokens("text")).select(
        token_ngrams(F.col("toks")).alias("g")
    ).first().g
    assert out == ["a b c", "b c d"]


def test_token_ngrams_short_docs(spark):
    # Fewer than n tokens must yield an EMPTY shingle set, not a
    # descending-sequence crash or a bogus partial shingle.
    df = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "one two"), (3, "one two three")],
        "doc_id long, text string",
    )
    rows = (
        df.withColumn("toks", ws_tokens("text"))
        .select("doc_id", token_ngrams(F.col("toks")).alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    assert [r.g for r in rows] == [[], [], [], ["one two three"]]


def test_dot_dec_exactness(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>")
    got = df.select(dot_dec(F.col("a"), F.col("b")).alias("d")).first().d
    assert got == pytest.approx(32.0, abs=1e-9)


def test_multimodal_stub_and_plumbing(spark):
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00")
    assert fake_decode_features(b"x" * 600) == (600, 2, ord("x"))
    df = spark.createDataFrame([(1, b"abc" * 200)], "doc_id long, payload binary")
    row = extract_features(df).first()
    assert (row.doc_id, row.byte_len, row.n_frames, row.first_byte) == (1, 600, 2, 97)


def test_shingles_on_documents(spark, sf_dir):
    from sql_flow_spark.tables import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].limit(5)
    sh = with_shingles(docs).select("doc_id", "shingles").collect()
    for r in sh:
        assert len(r.shingles) >= 1
        assert all(len(s.split(" ")) == 3 for s in r.shingles)


def test_cap_bucket_size_truncates_hot_buckets(spark):
    from sql_flow_spark.functions.dedup import cap_bucket_size

    rows = [(i, 0, 100) for i in range(10)] + [(20, 0, 200), (21, 0, 200)]
    bands = spark.createDataFrame(rows, "doc_id long, band int, bkey long")
    capped = cap_bucket_size(bands, ["band", "bkey"], cap=3)
    sizes = {
        r.bkey: r.n
        for r in capped.groupBy("bkey").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {100: 3, 200: 2}
    # deterministic: lowest doc_ids survive
    kept = sorted(r.doc_id for r in capped.where(F.col("bkey") == 100).collect())
    assert kept == [0, 1, 2]


def test_minhash_band_join_respects_bucket_cap(spark, sf_dir, monkeypatch):
    """With the cap forced to 1 every band bucket is a singleton, so the
    self-join must yield zero candidate pairs — pins that
    dedup_minhash_lsh actually routes through cap_bucket_size."""
    import sql_flow_spark.functions.dedup as dd

    baseline = dd.dedup_minhash_lsh(spark, sf_dir).count()
    assert baseline > 0
    monkeypatch.setattr(dd, "BAND_BUCKET_CAP", 1)
    assert dd.dedup_minhash_lsh(spark, sf_dir).count() == 0


def test_embedding_near_dup_pairs_default_is_lsh(spark, sf_dir):
    """The public API defaults to LSH blocking; explicit block_col is
    the exact verifier path and must agree on overlapping pairs."""
    from sql_flow_spark.functions.dedup import embedding_near_dup_pairs
    from sql_flow_spark.tables import load_tables

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    lsh = embedding_near_dup_pairs(emb)
    exact = embedding_near_dup_pairs(emb, block_col="label")
    lsh_pairs = {(r.vec_a, r.vec_b): r.cosine for r in lsh.collect()}
    exact_pairs = {(r.vec_a, r.vec_b): r.cosine for r in exact.collect()}
    assert lsh_pairs, "LSH path found no near-dups on testdata"
    # same verify math: any pair both paths surface has an identical score
    for k in set(lsh_pairs) & set(exact_pairs):
        assert lsh_pairs[k] == exact_pairs[k]


def test_embedding_dim_prefers_metadata(spark):
    from sql_flow_spark.functions.similarity import embedding_dim

    df = spark.createDataFrame([([1.0, 2.0],)], "embedding array<double>")
    assert embedding_dim(df) == 2  # probe fallback
    with_md = df.withColumn(
        "embedding", F.col("embedding").alias("embedding", metadata={"dim": 2})
    )
    assert embedding_dim(with_md) == 2


def test_exact_jaccard_composes_with_lsh_candidates(spark):
    """Production composition (r2 advice item 5): minhash LSH generates
    candidates, exact n-gram Jaccard verifies them. On testdata the
    composition (a) recovers every source-blocked pair, (b) additionally
    surfaces cross-source duplicates the source block cannot see, and
    (c) emits only pairs whose EXACT jaccard clears tau (verification is
    sound by construction)."""
    from sql_flow_spark.functions.dedup import (
        NGRAM_JACCARD_TAU,
        exact_jaccard_pairs,
        minhash_candidate_pairs,
    )
    from sql_flow_spark.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))["documents"]

    blocked = {
        (r.doc_a, r.doc_b): r.jaccard for r in exact_jaccard_pairs(docs).collect()
    }

    sh = with_shingles(docs).select("doc_id", "shingles")
    sh.cache()
    cands = minhash_candidate_pairs(sh)
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in exact_jaccard_pairs(docs, candidates=cands).collect()
    }

    # every source-blocked pair is recovered, with the identical score
    for pair, jac in blocked.items():
        assert lsh.get(pair) == jac
    # the LSH path sees cross-source dups the block key hides
    assert len(lsh) > len(blocked)
    # soundness: exact verification, nothing below tau
    assert all(j >= NGRAM_JACCARD_TAU for j in lsh.values())
    # completeness within the block key: restricting the LSH result to
    # same-source pairs gives exactly the source-blocked result
    source_of = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    same_source_lsh = {
        p: j for p, j in lsh.items() if source_of[p[0]] == source_of[p[1]]
    }
    assert same_source_lsh == blocked


def test_pii_scrub_redacts_real_pii(spark):
    """The synthetic corpus has no digits, so the registry query's PII
    counts are zero there; this fixture proves the patterns on real
    shapes (reference has no PII op — this is the training-data
    extension surface)."""
    from sql_flow_spark.functions.curation import scrub_text

    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+spam@example.co.uk please"),
            (2, "server at 10.0.255.7 answered"),
            (3, "call +1 415 555 0199 or 020-7946-0958 now"),
            (4, "nothing sensitive here"),
        ],
        "id long, text string",
    )
    out = {r.id: r.s for r in df.select("id", scrub_text("text", None).alias("s")).collect()}
    assert out[1] == "mail me at <EMAIL> please"
    assert out[2] == "server at <IP> answered"
    assert out[3] == "call <PHONE> or <PHONE> now"
    assert out[4] == "nothing sensitive here"


def test_connected_components_small_graph(spark):
    """Min-label propagation on a known graph: two chains and an
    isolated pair; labels converge to each component's min id."""
    from sql_flow_spark.functions.curation import connected_components

    edges = spark.createDataFrame(
        # component {1,2,3,4} as a chain, component {10,11}, {20,21,22}
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_duplicate_edges_star_not_clique(spark):
    """ADVICE r4: the exact-fingerprint component of duplicate_edges
    must emit star edges (doc -> group-min keeper), linear per group —
    a B-doc identical-text family yields B-1 edges, never B*(B-1)/2.
    The docs here are identical but too short for 3-gram shingles, so
    the jaccard component is empty and the fingerprint component is
    observed in isolation."""
    from sql_flow_spark.functions.curation import duplicate_edges

    df = spark.createDataFrame(
        [(i, "s0", "tiny doc") for i in (7, 3, 9, 5)],  # one 4-doc exact family
        "doc_id long, source string, text string",
    )
    edges = sorted(
        (r.doc_a, r.doc_b)
        for r in duplicate_edges(df, method="blocked").collect()
    )
    assert edges == [(3, 5), (3, 7), (3, 9)]


def test_duplicate_edges_lsh_composition_synthetic(spark):
    """End-to-end production path (VERDICT r4 item 1):
    connected_components(duplicate_edges(method='lsh')) on a corpus with
    known duplicate families. Deterministic: xxhash64 minhashes are
    seeded constants, so the LSH candidate set for a fixed corpus never
    changes between runs."""
    from sql_flow_spark.functions.curation import (
        connected_components,
        duplicate_edges,
    )

    words_a = [f"alpha{i}" for i in range(40)]
    words_b = [f"beta{i}" for i in range(40)]
    rows = [
        # family {1, 2}: exact duplicates (different sources)
        (1, "s0", " ".join(words_a)),
        (2, "s1", " ".join(words_a)),
        # family {1, 2, 3}: doc 3 is a strong near-dup of doc 1
        # (one word changed -> 3-gram jaccard ~ 35/41 ~ 0.85)
        (3, "s2", " ".join(words_a[:-1] + ["CHANGED"])),
        # family {10, 11}: near-dups of each other, unrelated to A
        (10, "s0", " ".join(words_b)),
        (11, "s3", " ".join(words_b[:-1] + ["OTHER"])),
        # singletons: no edges at all
        (20, "s0", " ".join(f"gamma{i}" for i in range(40))),
        (21, "s1", "short text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    comp = connected_components(duplicate_edges(docs, method="lsh"))
    got = {r.doc_id: r.cluster_id for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_edges_lsh_coarsens_registered_clusters(spark, sf_dir):
    """On testdata the LSH path must agree with the registered
    (oracle-verified) dedup_clusters wherever the blocked twin can see:
    LSH candidates cover every source-blocked pair here (pinned by
    test_exact_jaccard_composes_with_lsh_candidates), so every
    registered same-cluster pair must be same-cluster under the LSH
    clustering too. The LSH clustering is allowed to be COARSER — it
    legitimately finds cross-source near-dups the source-blocked oracle
    twin cannot express."""
    from sql_flow_spark.functions.curation import (
        connected_components,
        dedup_clusters,
        duplicate_edges,
    )
    from sql_flow_spark.tables import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    lsh = {
        r.doc_id: r.cluster_id
        for r in connected_components(duplicate_edges(docs, method="lsh")).collect()
    }
    registered = [
        (r.doc_id, r.cluster_id) for r in dedup_clusters(spark, sf_dir).collect()
    ]
    assert registered, "registered clustering is empty on testdata"
    for doc_id, cluster_id in registered:
        assert doc_id in lsh and cluster_id in lsh
        assert lsh[doc_id] == lsh[cluster_id], (
            f"registered pair ({doc_id}, {cluster_id}) split by LSH clustering"
        )
    # and it genuinely finds more: cross-source dups exist in testdata
    assert len(lsh) > len(registered)


def test_contamination_check_leaves_no_cached_relation(spark, sf_dir):
    """VERDICT r4 item 5: the shingle materialization must not leak a
    CacheManager entry per invocation in a long-lived session."""
    from sql_flow_spark.operators import QUERIES

    spark.catalog.clearCache()
    df = QUERIES["contamination_check"](spark, sf_dir)
    assert df.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_family_leaves_no_cached_relations(spark, sf_dir):
    """r5 sweep of the cache-leak class (r4 verdict item 5): every
    multi-consumer subtree in the dedup/minhash/simhash/q15 paths is
    checkpoint-materialized, so a long-lived session accumulates no
    CacheManager entries from repeated invocations."""
    from sql_flow_spark.operators import QUERIES

    spark.catalog.clearCache()
    for name in ("dedup_minhash_lsh", "dedup_simhash", "ngram_jaccard",
                 "dedup_clusters", "q15_top_supplier"):
        QUERIES[name](spark, sf_dir).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ------------------------------------------------------- BPE learning

def _reference_bpe(word_counts, n_merges):
    """Pure-python Sennrich-style BPE: pair counts weighted by word
    frequency, lexicographic tiebreak, greedy leftmost non-overlapping
    merge scan."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((rank, a, b, a + b, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_merge_sequence_matches_reference(spark, sf_dir):
    from collections import Counter

    from sql_flow_spark.functions.bpe import N_MERGES, learn_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = Counter()
    for r in docs.select("text").collect():
        words.update(w for w in r["text"].split() if w)

    expected = _reference_bpe(words, N_MERGES)
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in learn_merges(docs, N_MERGES).orderBy("rank").collect()
    ]
    assert got == expected


def test_bpe_over_cap_vocab_aggregates_once(
    spark, sf_dir, forced_distributed, job_ids
):
    """Past the driver cap (forced to 0) learn_merges must build the
    corpus vocabulary ONCE: the probe and the distributed ladder both
    read its checkpoint instead of re-running the tokenize/explode/
    groupBy. The documents are spread over 13 partitions so the
    aggregate's input stage is the only 13-task stage; the test counts
    the jobs that ran it."""
    from sql_flow_spark.functions.bpe import learn_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(13)
    with job_ids() as ids, forced_distributed():
        learn_merges(docs, 2)
    st = spark.sparkContext.statusTracker()
    aggregate_jobs = [
        j
        for j in ids
        if any(
            (si := st.getStageInfo(s)) is not None
            and si.numTasks == 13
            and si.numCompletedTasks == 13
            for s in st.getJobInfo(j).stageIds
        )
    ]
    assert len(aggregate_jobs) == 1, aggregate_jobs


def test_bpe_deterministic_tiebreak(spark):
    from sql_flow_spark.functions.bpe import learn_merges

    docs = spark.createDataFrame(
        [("ab",), ("cd",)], "text string"
    )  # both pairs count 1 -> lexicographic winner (a, b)
    rows = learn_merges(docs, 1).collect()
    assert (rows[0]["left"], rows[0]["right"]) == ("a", "b")


def test_bpe_apply_matches_reference_tokenizer(spark, sf_dir):
    from collections import Counter

    from sql_flow_spark.functions.bpe import N_MERGES, apply_merges, learn_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = Counter()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for t in texts.values():
        words.update(w for w in t.split() if w)
    ref_merges = [(a, b) for _r, a, b, _m, _c in _reference_bpe(words, N_MERGES)]

    def ref_tokenize(text):
        n = 0
        for w in text.split():
            syms = list(w)
            for a, b in ref_merges:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms = out
            n += len(syms)
        return n

    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in apply_merges(
            docs, [(a, b) for a, b in ref_merges]
        ).select("doc_id", "n_bpe_tokens").collect()
    }
    for did, text in texts.items():
        assert got[did] == ref_tokenize(text), did


def test_bpe_apply_engines_agree(spark, sf_dir):
    """The Arrow tokenizer (production) and the Catalyst fold chain
    (JVM-exact twin) must produce identical symbol arrays on the real
    corpus."""
    from sql_flow_spark.functions.bpe import N_MERGES, apply_merges, learn_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [
        (r["left"], r["right"])
        for r in learn_merges(docs, N_MERGES).orderBy("rank").collect()
    ]
    fast = {
        r["doc_id"]: list(r["syms"])
        for r in apply_merges(docs, merges, engine="arrow")
        .select("doc_id", "syms")
        .collect()
    }
    exact = {
        r["doc_id"]: list(r["syms"])
        for r in apply_merges(docs, merges, engine="expr")
        .select("doc_id", "syms")
        .collect()
    }
    assert fast == exact


def test_paragraph_dedup_catches_offset_boilerplate(spark, tmp_path):
    """The multi-paragraph split path (the synthetic corpus is
    single-paragraph, so the registered oracle only proves the
    degenerate case): a boilerplate paragraph shared by three docs at
    DIFFERENT word offsets — the exact situation chunk_dedup's fixed
    16-word grid mis-hashes — must be flagged in all three hosts with
    the right token mass, normalization must absorb case/punctuation
    jitter, and unique docs must report zero duplication."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_flow_spark.operators import QUERIES

    boiler = "this dataset is licensed under the example license v2"
    docs = [
        # offsets 0 / 7 / 13 words before the boilerplate paragraph
        (0, boiler + "\n\nalpha beta gamma delta"),
        (1, "one two three four five six seven\n\n"
            + "This DATASET is licensed, under the example LICENSE v2!\n\n"
            + "tail words here"),
        (2, "a b c d e f g h i j k l m\n\n" + boiler),
        (3, "entirely unique content with no repeats\n\nanother unique one"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r
        for r in QUERIES["paragraph_dedup"](spark, str(tmp_path)).collect()
    }
    assert got[0].n_paras == 2 and got[0].n_dup_paras == 1
    assert got[1].n_paras == 3 and got[1].n_dup_paras == 1
    assert got[2].n_paras == 2 and got[2].n_dup_paras == 1
    assert got[3].n_paras == 2 and got[3].n_dup_paras == 0
    assert got[3].dup_token_mass == 0.0
    # 9-token boilerplate out of 9+4 tokens in doc 0
    assert got[0].n_tokens == 13
    assert got[0].dup_token_mass == 9 / 13
    # chunk_dedup's grid straddles these offsets: the same corpus
    # through the 16-word chunker finds NO duplicate chunk mass
    chunks = {
        r.doc_id: r.n_dup_chunks
        for r in QUERIES["chunk_dedup"](spark, str(tmp_path)).collect()
    }
    assert all(v == 0 for v in chunks.values()), chunks


def test_cdc_chunk_dedup_is_offset_invariant(spark, tmp_path):
    """The content-defined chunker's defining property: a repeated run
    of words produces the SAME interior chunk in every host document
    regardless of offset, because boundaries depend on token content
    ('gamma' and 'nu' are md5-boundary tokens; verified in-test), not
    position. The fixed 16-word grid chunker on the same corpus finds
    nothing: the run sits at different, non-grid-aligned offsets and
    every grid chunk mixes in host-unique filler."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_flow_spark.functions.dedup import CDC_BOUNDARY_HEX
    from sql_flow_spark.operators import QUERIES

    run = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "nu xi omicron pi rho")
    # pin the fixture's own premise: gamma/nu are boundaries, so the
    # interior chunk "gamma..kappa" (8 tokens >= CDC_MIN_TOKENS) is
    # fully inside the run; everything else leaks into host filler
    bounds = [w for w in run.split()
              if hashlib.md5(w.encode()).hexdigest()[0] == CDC_BOUNDARY_HEX]
    assert bounds == ["gamma", "nu"]

    docs = [
        (0, " ".join(f"hosta{i}" for i in range(7)) + " " + run + " "
            + " ".join(f"taila{i}" for i in range(3))),
        (1, " ".join(f"hostb{i}" for i in range(12)) + " " + run + " "
            + " ".join(f"tailb{i}" for i in range(5))),
        (2, " ".join(f"uniq{i}" for i in range(30))),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    cdc = {r.doc_id: r for r in
           QUERIES["cdc_chunk_dedup"](spark, str(tmp_path)).collect()}
    assert cdc[0].n_dup_chunks >= 1 and cdc[1].n_dup_chunks >= 1
    assert cdc[0].dup_token_mass >= 8 / cdc[0].n_tokens
    assert cdc[2].n_dup_chunks == 0 and cdc[2].dup_token_mass == 0.0

    grid = {r.doc_id: r.n_dup_chunks for r in
            QUERIES["chunk_dedup"](spark, str(tmp_path)).collect()}
    assert all(v == 0 for v in grid.values()), grid


def test_hard_negative_mining_margin_semantics(spark, tmp_path):
    """Planted geometry: anchor 0's nearest corpus vector is a
    WRONG-label one (the hard negative, closer than its best
    same-label positive), so the rank-1 negative must be that vector
    with margin < 0 (a violation row); the farther wrong-label vector
    ranks second with a larger margin; pos_cosine is the anchor's best
    same-label cosine; an anchor class absent from the corpus yields
    NULL pos_cosine/margin, not zeros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_flow_spark.operators import QUERIES

    def vec(x, y):
        return [x, y] + [0.0] * 6

    rows = [(0, 0, vec(1.0, 0.0)), (1, 9, vec(0.0, 1.0))]
    rows += [(i, 5, vec(-1.0, float(i))) for i in range(2, 8)]  # fillers
    rows += [
        (8, 0, vec(0.9, 0.4359)),   # anchor 0's best positive (cos≈0.90)
        (9, 1, vec(0.999, 0.0447)), # hard negative, cos≈0.999 > positive
        (10, 1, vec(0.5, 0.866)),   # easier negative, cos≈0.5
        (11, 9, vec(0.0, 1.0)),     # anchor 1's positive
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "label": pa.array([r[1] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[2] for r in rows], pa.list_(pa.float64())
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    got = QUERIES["hard_negative_mining"](spark, str(tmp_path)).collect()
    a0 = sorted((r for r in got if r.qid == 0), key=lambda r: r.rank)
    assert a0[0].nid == 9 and a0[0].margin < 0, a0[0]
    assert a0[1].nid != 9 and a0[1].margin > a0[0].margin
    assert all(r.neg_label != 0 for r in a0)
    assert abs(a0[0].pos_cosine - 0.9) < 0.01  # cos(anchor0, vec 8)
    # anchor 2 (label 5, no same-label corpus vector): honest NULLs
    a2 = [r for r in got if r.qid == 2]
    assert a2 and all(
        r.pos_cosine is None and r.margin is None for r in a2
    )


def test_embedding_isotropy_detects_collapse(spark, tmp_path):
    """Planted geometry: a COLLAPSED label (identical vectors) must
    read mean_cosine ~= 1, an isotropic label (orthogonal vectors)
    ~= 0, a single-vector label NULL (no pairs), and zero-norm vectors
    are counted but excluded from every cosine/norm leg. Plus the
    identity check on real data: the one-pass sum-vector formula must
    equal brute-force all-pairs mean cosine."""
    import itertools

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_flow_spark.operators import QUERIES

    def vec(d):
        out = [0.0] * 8
        out[d] = 1.0
        return out

    rows = [(i, 0, vec(0)) for i in range(4)]          # collapsed
    rows += [(10 + d, 1, vec(d)) for d in range(4)]    # orthogonal
    rows += [(20, 2, vec(3))]                          # singleton
    rows += [(30, 3, [0.0] * 8), (31, 3, vec(1)), (32, 3, vec(1))]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "label": pa.array([r[1] for r in rows], pa.int64()),
            "embedding": pa.array([r[2] for r in rows], pa.list_(pa.float64())),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    got = {r.label: r for r in
           QUERIES["embedding_isotropy_report"](spark, str(tmp_path)).collect()}
    assert abs(got[0].mean_cosine - 1.0) < 1e-6          # collapse reads 1
    assert abs(got[1].mean_cosine) < 1e-6                # isotropy reads 0
    assert got[2].mean_cosine is None and got[2].n_vecs == 1
    assert got[3].n_zero_norm == 1 and got[3].n_vecs == 2
    assert abs(got[3].mean_cosine - 1.0) < 1e-6          # zero-norm excluded
    assert got[3].min_norm > 0

    # identity vs brute force on the real table
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {}
    for r in emb.collect():
        vecs.setdefault(r.label, []).append(np.array(r.embedding))
    report = {r.label: r.mean_cosine for r in
              QUERIES["embedding_isotropy_report"](
                  spark, "/root/testdata/sf0.001").collect()}
    lbl = sorted(vecs)[0]
    us = [v / np.linalg.norm(v) for v in vecs[lbl]]
    brute = float(np.mean([u @ w for u, w in itertools.combinations(us, 2)]))
    assert abs(report[lbl] - brute) < 1e-6, (report[lbl], brute)


def test_materialize_observed_counts_ride_the_checkpoint(spark, tmp_path):
    """materialize_observed (r14): aggregate metrics must ride the
    eager materialization job in BOTH checkpoint modes (localCheckpoint
    and reliable checkpoint-dir), and the lazy_plans fallback must
    still produce values."""
    from pyspark.sql import functions as F

    from sql_flow_spark.functions.mat import (
        lazy_plans,
        materialize_observed,
    )

    df = spark.range(10).withColumn("chg", F.col("id") < 3)

    out, m = materialize_observed(
        df, n=F.count(F.lit(1)), changed=F.sum(F.col("chg").cast("long"))
    )
    assert m["n"] == 10 and m["changed"] == 3
    assert out.count() == 10  # checkpointed frame intact

    # reliable-checkpoint mode
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        out2, m2 = materialize_observed(df, n=F.count(F.lit(1)))
        assert m2["n"] == 10
        assert out2.count() == 10
    finally:
        sc.setCheckpointDir(prev) if prev else sc._jsc.sc().setCheckpointDir(None)

    with lazy_plans():
        out3, m3 = materialize_observed(df, n=F.count(F.lit(1)))
        assert m3["n"] == 10
        assert out3 is not None

    # sum over zero rows follows SQL semantics (None) — callers coalesce
    _, m4 = materialize_observed(
        df.where("id < 0"), s=F.sum(F.col("id"))
    )
    assert m4["s"] is None
