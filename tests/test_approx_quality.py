"""Semantic quality checks for the approximate/rows-only operators —
the driver only row-counts these, so we pin their actual guarantees
here: candidate recall, threshold soundness, subset relations vs the
exact baselines."""

import contextlib

import pytest
from pyspark.sql import functions as F

from sql_flow_spark.operators import QUERIES


def test_minhash_pairs_satisfy_exact_jaccard(spark, sf_dir):
    """Every pair emitted by the LSH pipeline must pass its own exact
    jaccard verification threshold (soundness)."""
    from sql_flow_spark.functions.dedup import MINHASH_TAU

    rows = QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    assert all(r.jaccard >= MINHASH_TAU for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_simhash_pairs_within_hamming(spark, sf_dir):
    from sql_flow_spark.functions.dedup import SIMHASH_MAX_HAMMING

    rows = QUERIES["dedup_simhash"](spark, sf_dir).collect()
    assert all(r.hamming <= SIMHASH_MAX_HAMMING for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_ann_lsh_results_subset_of_exact_scores(spark, sf_dir):
    """LSH top-k cosines must appear in the exact brute-force scoring
    (same scoring math), and per-query recall@5 should be non-trivial
    on clustered embeddings."""
    exact = QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    approx = QUERIES["ann_lsh_topk"](spark, sf_dir).collect()
    exact_set = {(r.qid, r.nid): r.cosine for r in exact}
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r.qid, set()).add(r.nid)
    hits = 0
    total = 0
    for r in approx:
        # identical scoring math -> if the pair is in the exact top-k,
        # the cosine must match bit-for-bit
        if (r.qid, r.nid) in exact_set:
            assert r.cosine == exact_set[(r.qid, r.nid)]
            hits += 1
        total += 1
    assert total > 0
    # recall over emitted pairs: a same-bucket neighbor that makes the
    # exact top-5 should be common on clustered data
    assert hits / total > 0.3, f"LSH recall suspiciously low: {hits}/{total}"


def test_embedding_lsh_subset_of_exact_blocked(spark, sf_dir):
    """LSH-blocked near-dups use a stricter candidate set than the
    sampled label-blocked exact variant, but any overlapping pair must
    carry the identical cosine."""
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in QUERIES["dedup_embedding"](spark, sf_dir).collect()
    }
    for r in QUERIES["dedup_embedding_lsh"](spark, sf_dir).collect():
        if (r.vec_a, r.vec_b) in exact:
            assert r.cosine == exact[(r.vec_a, r.vec_b)]


def test_embedding_lsh_recalls_exact_pairs(spark, sf_dir):
    """Recall floor for the LSH-blocked near-dup path (r13 staleness
    sweep: this key previously had soundness-only pins): every pair
    the exact label-blocked variant emits at EMB_DUP_TAU must also be
    recalled by the sign-LSH candidate generation — near-dup
    embeddings agree on most hyperplane signs, so an 8-table x 4-bit
    layout band-matches them (recall 1.0 measured at sf0.001)."""
    exact = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["dedup_embedding"](spark, sf_dir).collect()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in QUERIES["dedup_embedding_lsh"](spark, sf_dir).collect()
    }
    assert exact, "fixture must plant at least one near-dup pair"
    assert exact <= got, f"LSH missed exact pairs: {sorted(exact - got)[:5]}"


def test_dedup_clusters_lsh_coarsens_blocked_clusters(spark, sf_dir):
    """The duplicate_edges coarsening contract, pinned (r13 staleness
    sweep: the production LSH resolver previously had no semantic
    test): the LSH edge set verifies candidates at the SAME tau as the
    blocked twin but searches GLOBALLY (cross-source) — with MinHash
    candidate recall total on this corpus (pinned by the eval panel),
    LSH edges are a superset of blocked edges, so LSH families may
    only MERGE blocked families, never split them: all members of any
    blocked cluster share one LSH cluster. Plus the keeper invariants
    both resolvers guarantee."""
    blocked = QUERIES["dedup_clusters"](spark, sf_dir).collect()
    lsh_rows = QUERIES["dedup_clusters_lsh"](spark, sf_dir).collect()
    lsh = {r.doc_id: r.cluster_id for r in lsh_rows}
    from collections import defaultdict

    fams = defaultdict(list)
    for r in blocked:
        fams[r.cluster_id].append(r.doc_id)
    multi = [m for m in fams.values() if len(m) > 1]
    assert multi, "fixture must contain at least one duplicate family"
    for members in multi:
        cids = {lsh.get(d) for d in members}
        assert len(cids) == 1 and None not in cids, (
            f"blocked family {sorted(members)} split across LSH "
            f"clusters {cids}"
        )
    # keeper invariants on the production resolver
    for r in lsh_rows:
        assert r.is_keeper == (r.doc_id == r.cluster_id)
        assert r.cluster_id <= r.doc_id
    by_cluster = defaultdict(list)
    for r in lsh_rows:
        by_cluster[r.cluster_id].append(r.doc_id)
    for cid, mem in by_cluster.items():
        assert cid == min(mem)


def test_approx_distinct_close_to_exact(spark, sf_dir):
    exact = {
        r.event_type: r.n_users
        for r in QUERIES["distinct_users_per_type"](spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r.approx_users
        for r in QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) / max(n, 1) < 0.1  # rsd=0.02, wide margin


def test_percentiles_ordered(spark, sf_dir):
    for r in QUERIES["value_percentiles"](spark, sf_dir).collect():
        assert r.p50 <= r.p95
        # t-digest approx should land near the exact value
        assert abs(r.p95_approx - r.p95) / max(abs(r.p95), 1) < 0.1


def test_ann_ivf_results_subset_of_exact_scores(spark, sf_dir):
    """IVF top-k: identical scoring math means any pair shared with
    the exact top-k must carry the bit-identical cosine; on clustered
    embeddings probing 4/16 cells should keep recall high."""
    exact = {
        (r.qid, r.nid): r.cosine
        for r in QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    approx = QUERIES["ann_ivf_topk"](spark, sf_dir).collect()
    assert len(approx) > 0
    hits = 0
    for r in approx:
        if (r.qid, r.nid) in exact:
            assert r.cosine == exact[(r.qid, r.nid)]
            hits += 1
    assert hits / len(approx) > 0.6, f"IVF recall too low: {hits}/{len(approx)}"
    # determinism: training is sample+seed-free deterministic (lowest
    # ids, fixed iteration count), so two runs agree exactly
    again = QUERIES["ann_ivf_topk"](spark, sf_dir).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ann_ivfpq_results_subset_of_exact_scores(spark, sf_dir):
    """IVF-PQ: the exact rerank stage uses the family's shared scoring
    math, so any pair shared with the exact top-k must carry the
    bit-identical cosine; ADC shortlisting on residual-PQ codes plus
    rerank should keep recall within reach of the plain-IVF ceiling
    (candidates are a subset of ann_ivf_topk's)."""
    exact = {
        (r.qid, r.nid): r.cosine
        for r in QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    approx = QUERIES["ann_ivfpq_topk"](spark, sf_dir).collect()
    assert len(approx) > 0
    hits = 0
    for r in approx:
        if (r.qid, r.nid) in exact:
            assert r.cosine == exact[(r.qid, r.nid)]
            hits += 1
    assert hits / len(approx) > 0.45, f"IVF-PQ recall too low: {hits}/{len(approx)}"
    # determinism: seeded IVF trainer + pinned PQ trajectory +
    # fixed-point ADC sums -> two runs agree exactly
    again = QUERIES["ann_ivfpq_topk"](spark, sf_dir).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ann_ivf_incremental_tracks_full_ivf(spark, sf_dir):
    """The incrementally-grown disk index (half corpus built, half
    appended assign-only) must search the SAME corpus the one-shot IVF
    sees: every returned pair shares the exact scoring math with brute
    force, and recall vs the exact top-k stays non-trivial — appending
    without retrain may only change CELL BOUNDARIES (trained on half
    the data), not scoring."""
    exact = {
        (r.qid, r.nid): r.cosine
        for r in QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    approx = QUERIES["ann_ivf_incremental"](spark, sf_dir).collect()
    assert len(approx) > 0
    hits = 0
    for r in approx:
        if (r.qid, r.nid) in exact:
            assert r.cosine == exact[(r.qid, r.nid)]
            hits += 1
    assert hits / len(approx) > 0.5, (
        f"incremental IVF recall too low: {hits}/{len(approx)}"
    )
    # deterministic rebuild: same trainer contract as ann_ivf_topk
    again = QUERIES["ann_ivf_incremental"](spark, sf_dir).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ann_ivfpq_incremental_tracks_exact(spark, sf_dir):
    """The disk-resident IVF-PQ serving path (build half with
    pq_k=16, append half encode-only, serve via search_pq's ADC +
    rerank): shared pairs carry the family's bit-identical cosine;
    recall clears a floor between nothing and the one-shot paths'
    (half-corpus quantizers price both the cell boundaries AND the
    codebooks — measured 0.45 at sf0.001 vs ann_ivfpq_topk's 0.55 and
    ann_ivf_incremental's 0.5); the whole pipeline (seeded IVF
    trainer, pinned PQ trajectory, idempotent index writes, ADC)
    reproduces exactly across runs."""
    exact = {
        (r.qid, r.nid): r.cosine
        for r in QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    approx = QUERIES["ann_ivfpq_incremental"](spark, sf_dir).collect()
    assert len(approx) > 0
    hits = 0
    for r in approx:
        if (r.qid, r.nid) in exact:
            assert r.cosine == exact[(r.qid, r.nid)]
            hits += 1
    assert hits / len(exact) > 0.35, (
        f"disk IVF-PQ recall too low: {hits}/{len(exact)}"
    )
    again = QUERIES["ann_ivfpq_incremental"](spark, sf_dir).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ann_recall_report_matches_adhoc_recall(spark, sf_dir):
    """The first-class recall panel must agree EXACTLY with recall
    recomputed ad hoc from the method outputs (same set comparison on
    (qid, nid), zero-candidate queries counted as recall 0), and every
    method must clear its floor (LSH 0.3, IVF 0.6, IVF-PQ 0.45 — the
    macro denominator is |Q|*K, stricter than the subset tests'
    per-emitted-row one)."""
    exact = {
        (r.qid, r.nid)
        for r in QUERIES["ann_cosine_topk"](spark, sf_dir).collect()
    }
    qids = {q for q, _ in exact}
    k = len(exact) // len(qids)
    panel = {
        r.method: r for r in QUERIES["ann_recall_report"](spark, sf_dir).collect()
    }
    assert set(panel) == {"lsh", "ivf", "ivfpq"}
    for method, key in (
        ("lsh", "ann_lsh_topk"),
        ("ivf", "ann_ivf_topk"),
        ("ivfpq", "ann_ivfpq_topk"),
    ):
        approx = QUERIES[key](spark, sf_dir).collect()
        hits = {q: 0 for q in qids}
        for r in approx:
            if (r.qid, r.nid) in exact:
                hits[r.qid] += 1
        row = panel[method]
        assert row.n_queries == len(qids)
        assert row.macro_recall == sum(hits.values()) / (len(qids) * k)
        assert row.min_recall == min(hits.values()) / k
        assert row.perfect_queries == sum(1 for h in hits.values() if h == k)
    assert panel["lsh"].macro_recall > 0.3
    assert panel["ivf"].macro_recall > 0.6
    assert panel["ivfpq"].macro_recall > 0.45


def test_dedup_eval_report_consistent_with_truth(spark, sf_dir):
    """The dedup method-eval panel: its n_truth must equal the
    oracle-backed ngram_jaccard pair count (same blocked exact
    verifier, same tau), every cell must satisfy the set algebra
    (hits <= pairs, hits <= truth, ratios = exact divisions), and
    MinHash candidate recall must be total on this corpus (the
    synthetic duplicate families are near-exact copies, which share
    every band)."""
    truth_n = len(QUERIES["ngram_jaccard"](spark, sf_dir).collect())
    rows = {
        r.method: r
        for r in QUERIES["dedup_eval_report"](spark, sf_dir).collect()
    }
    assert set(rows) == {"minhash_lsh", "simhash_hamming"}
    for r in rows.values():
        assert r.n_truth == truth_n
        assert r.n_hits <= min(r.n_pairs, r.n_truth)
        if r.n_pairs:
            assert r.precision == r.n_hits / r.n_pairs
        if r.n_truth:
            assert r.recall == r.n_hits / r.n_truth
    assert rows["minhash_lsh"].recall == 1.0


def test_heaps_law_fit_positive_slope_on_open_vocab(spark, tmp_path):
    """The synthetic corpus's closed word list saturates inside
    tranche 0, so the registered key honestly reports the degenerate
    beta=0 case at every SF — leaving the beta>0 slope path untested
    (r12 verdict item 6). This fixture synthesizes an OPEN vocabulary:
    each doc carries mostly common words plus ~20/sqrt(i) unique ones,
    so cumulative vocabulary grows ~ sqrt(N) and a correct OLS on the
    ln-ln points must recover 0 < beta < 1 with a strong fit."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    common = [f"common{c}" for c in range(50)]
    rows = []
    for i in range(200):
        k = max(1, int(20 / math.sqrt(i + 1)))
        toks = [common[(i * 7 + j) % 50] for j in range(100 - k)]
        toks += [f"w{i}_{j}" for j in range(k)]
        rows.append((i, " ".join(toks)))
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    row = QUERIES["heaps_law_fit"](spark, str(tmp_path)).collect()[0]
    assert row.n_points == 10
    assert 0.0 < row.heaps_beta < 1.0, row
    assert row.r2 > 0.8, row


def test_boilerplate_flag_fires_on_dup_families(spark, sf_dir):
    """Non-degeneracy: the synthetic corpus's duplicate families repeat
    shingles across >=3 docs of a source, so the detector must flag a
    non-zero boilerplate fraction somewhere — and never more shingles
    than a doc has."""
    rows = QUERIES["boilerplate_flag"](spark, sf_dir).collect()
    assert any(r.n_boilerplate > 0 for r in rows)
    for r in rows:
        assert 0 <= r.n_boilerplate <= r.n_shingles
        assert 0.0 <= r.boilerplate_ratio <= 1.0


def test_stratified_sample_exact_fractions(spark, sf_dir):
    """Each language stratum contributes exactly ceil(0.1 * n) docs,
    and re-running yields the identical sample (deterministic, unlike
    df.sample)."""
    import math

    from sql_flow_spark.tables import load_tables

    strata = {
        r.lang: r.n
        for r in load_tables(spark, sf_dir, ("documents",))["documents"]
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    got = QUERIES["stratified_sample"](spark, sf_dir).collect()
    per_lang: dict = {}
    for r in got:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
    assert per_lang == {k: math.ceil(0.1 * v) for k, v in strata.items()}
    again = QUERIES["stratified_sample"](spark, sf_dir).collect()
    assert sorted((r.doc_id, r.lang) for r in got) == sorted(
        (r.doc_id, r.lang) for r in again
    )


def test_phash_udf_matches_python_reference(spark):
    """The vectorized Arrow phash must equal the pure-Python dHash
    reference bit-for-bit, including empty, short (< one byte per
    cell) and >64-bit-pattern payloads."""
    from sql_flow_spark.functions.multimodal import _phash_batch, phash64

    payloads = [
        b"",
        b"a",
        b"short payload",
        bytes(range(256)) * 3,
        ("the quick brown fox " * 40).encode(),
        bytes([255] * 100 + [0] * 100),
    ]
    got = list(_phash_batch(payloads))
    want = [phash64(p) for p in payloads]
    assert got == want


def test_phash_pairs_recall_and_soundness(spark, sf_dir):
    """An exact copy must be found (hamming 0 via pigeonhole), a
    lightly-corrupted copy should band-match, and every emitted pair
    must verify at hamming <= max (soundness) with recomputed sigs."""
    from sql_flow_spark.functions.dedup import SIMHASH_MAX_HAMMING, hamming_band_pairs
    from sql_flow_spark.functions.multimodal import _get_phash_udf, phash64

    base = ("a perfectly ordinary training document " * 30).encode()
    near = bytearray(base)
    near[100:104] = b"XYZW"  # localized corruption: most blocks keep their mean
    df = spark.createDataFrame(
        [(1, bytes(base)), (2, bytes(base)), (3, bytes(near)),
         (4, bytes(range(256)) * 5)],
        "doc_id long, payload binary",
    )
    sigs = df.select("doc_id", _get_phash_udf()("payload").alias("sig"))
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in hamming_band_pairs(sigs).collect()}
    assert pairs[(1, 2)] == 0  # exact copy always recalled
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated
    h13 = bin((phash64(bytes(base)) ^ phash64(bytes(near))) & (1 << 64) - 1).count("1")
    if h13 <= SIMHASH_MAX_HAMMING:
        assert (1, 3) in pairs
    assert all(h <= SIMHASH_MAX_HAMMING for h in pairs.values())


def test_dedup_phash_runs_on_documents(spark, sf_dir):
    rows = QUERIES["dedup_phash"](spark, sf_dir).collect()
    assert all(r.doc_a < r.doc_b for r in rows)
    assert all(r.hamming <= 3 for r in rows)


@pytest.mark.parametrize("path", ["twin", "distributed"])
def test_power_iteration_tracks_numpy_trajectory(
    path, spark, sf_dir, forced_distributed
):
    """embedding_top_pc's six fixed-point steps must land within
    float rounding of numpy's float64 power iteration from the same
    start — on both the driver twin and (cap 0) the distributed loop,
    i.e. each computes the real algorithm, not an approximation of
    it."""
    import numpy as np

    from sql_flow_spark.functions.similarity import _PI_ITERS

    forced = path == "distributed"
    with forced_distributed() if forced else contextlib.nullcontext():
        rows = (
            QUERIES["embedding_top_pc"](spark, sf_dir)
            .orderBy("dim")
            .collect()
        )
    got = np.array([r["loading"] for r in rows])

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    X = np.array([list(r["embedding"]) for r in emb], dtype=np.float64)
    v = np.full(X.shape[1], 0.125)
    for _ in range(_PI_ITERS):
        w = X.T @ (X @ v)
        v = w / np.linalg.norm(w)
    cos = abs(float(got @ v) / (np.linalg.norm(got) * np.linalg.norm(v)))
    assert cos > 0.9999, cos
    assert abs(float(np.linalg.norm(got)) - 1.0) < 1e-9


@pytest.mark.parametrize("path", ["twin", "distributed"])
def test_kmeans_tracks_numpy_lloyd(path, spark, sf_dir, forced_distributed):
    """kmeans_embeddings' four fixed-point Lloyd iterations must land
    within float rounding of numpy's float64 Lloyd from the same
    seeds with the same (dist, cluster) argmin tiebreak — on both the
    driver twin and (cap 0) the distributed loop, i.e. each computes
    the real algorithm."""
    import numpy as np

    from sql_flow_spark.functions.similarity import _KM_ITERS, _KM_K

    forced = path == "distributed"
    with forced_distributed() if forced else contextlib.nullcontext():
        rows = QUERIES["kmeans_embeddings"](spark, sf_dir).collect()
    got = np.zeros((_KM_K, max(r.dim for r in rows) + 1))
    sizes = {}
    for r in rows:
        got[r.cluster, r.dim] = r.centroid
        sizes[r.cluster] = r.n_members

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    X = np.array([list(r["embedding"]) for r in emb], dtype=np.float64)
    C = X[:_KM_K].copy()
    for _ in range(_KM_ITERS):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)  # ties -> lowest cluster, same as operator
        C = np.array([X[a == k].mean(axis=0) for k in range(_KM_K)])
    np.testing.assert_allclose(got, C, rtol=1e-6, atol=1e-7)
    assert sum(sizes.values()) == X.shape[0]
    np_sizes = {k: int((a == k).sum()) for k in range(_KM_K)}
    assert sizes == np_sizes


def test_pagerank_tracks_numpy(spark, sf_dir):
    """pagerank_copurchase's four fixed-point iterations must land
    within float rounding of a numpy float64 weighted PageRank built
    from the same co-purchase edges."""
    import collections

    import numpy as np

    from sql_flow_spark.operators.graph import _PR_D, _PR_ITERS

    rows = QUERIES["pagerank_copurchase"](spark, sf_dir).collect()
    got = {r.partkey: r.pagerank for r in rows}

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = collections.defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    w = collections.Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i, x in enumerate(ps):
            for y in ps[i + 1:]:
                w[(x, y)] += 1
                w[(y, x)] += 1
    nodes = sorted({s for s, _ in w})
    idx = {p: i for i, p in enumerate(nodes)}
    n = len(nodes)
    outw = collections.Counter()
    for (s, _), c in w.items():
        outw[s] += c
    pr = np.full(n, 1.0 / n)
    for _ in range(_PR_ITERS):
        inflow = np.zeros(n)
        for (s, d), c in w.items():
            inflow[idx[d]] += pr[idx[s]] * c / outw[s]
        pr = (1.0 - _PR_D) / n + _PR_D * inflow
    assert set(got) == set(nodes)
    np.testing.assert_allclose(
        np.array([got[p] for p in nodes]), pr, rtol=1e-6, atol=1e-9
    )


def test_sketch_rollup_tracks_exact_distinct(spark, sf_dir):
    """Monthly distinct-user estimates from merged daily HLL sketches
    must land within 3% of the exact COUNT(DISTINCT) — proving the
    sketches survive the union (re-aggregation) step intact."""
    from pyspark.sql import functions as F

    from sql_flow_spark.tables import load_tables

    got = {
        r.month: r.est_users
        for r in QUERIES["sketch_rollup_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r.month: r.n
        for r in load_tables(spark, sf_dir, ("events",))["events"]
        .groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact) and got
    for m, est in got.items():
        assert abs(est - exact[m]) / exact[m] < 0.03, (m, est, exact[m])


def test_theta_overlap_tracks_exact_set_algebra(spark, sf_dir):
    """Theta-sketch pair estimates (|A|, |B|, intersection, union,
    difference) must land within 5% of the exact set sizes — proving
    the sketch set algebra, not just the single-set estimate."""
    from sql_flow_spark.tables import load_tables

    got = {
        (r.type_a, r.type_b): r
        for r in QUERIES["theta_audience_overlap"](spark, sf_dir).collect()
    }
    assert got
    users = {
        r.event_type: set(r.us)
        for r in load_tables(spark, sf_dir, ("events",))["events"]
        .groupBy("event_type")
        .agg(F.collect_set("user_id").alias("us"))
        .collect()
    }

    def close(est, exact):
        return exact == 0 or abs(est - exact) / exact < 0.05

    for (ta, tb), r in got.items():
        a, b = users[ta], users[tb]
        assert close(r.est_a, len(a)) and close(r.est_b, len(b))
        assert close(r.est_overlap, len(a & b))
        assert close(r.est_union, len(a | b))
        assert close(r.est_a_only, len(a - b))
        assert close(r.jaccard, len(a & b) / len(a | b))
