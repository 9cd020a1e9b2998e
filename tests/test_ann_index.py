"""Incremental ANN index maintenance (streaming/ann_index.py): append
without retrain, partition-pruned search, occupancy-PSI drift trigger,
restart + replay safety."""

import math
import os
import random

from pyspark.sql import functions as F

from sql_flow_spark.sources import FileSource
from sql_flow_spark.streaming import foreach_batch_query
from sql_flow_spark.streaming.ann_index import (
    RETRAIN_PSI,
    AnnIndexLeg,
    IncrementalIVF,
    occupancy_psi,
)

DIM = 8


def _vecs(n, center, seed, spread=0.05):
    rnd = random.Random(seed)
    out = []
    for i in range(n):
        out.append([center[d] + rnd.gauss(0, spread) for d in range(DIM)])
    return out


def _corpus_df(spark, n_per_cluster=40, seed=1):
    """Three well-separated clusters on distinct axes."""
    centers = [
        [1.0] + [0.0] * (DIM - 1),
        [0.0, 1.0] + [0.0] * (DIM - 2),
        [0.0, 0.0, 1.0] + [0.0] * (DIM - 3),
    ]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for v in _vecs(n_per_cluster, c, seed * 100 + ci):
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_build_append_search_and_load(spark, tmp_path):
    index_dir = str(tmp_path / "ivf")
    corpus = _corpus_df(spark)
    idx = IncrementalIVF.build(spark, index_dir, corpus, k=4, nprobe=2)

    # append an in-distribution batch: no retrain flag
    batch = spark.createDataFrame(
        [(1000 + i, v) for i, v in enumerate(_vecs(30, [1.0] + [0.0] * 7, 7))]
        + [(2000 + i, v) for i, v in enumerate(_vecs(30, [0.0, 1.0] + [0.0] * 6, 8))]
        + [(3000 + i, v) for i, v in enumerate(_vecs(30, [0.0, 0.0, 1.0] + [0.0] * 5, 9))],
        "vec_id long, embedding array<double>",
    )
    verdict = idx.append_batch(batch, 0)
    assert verdict["n"] == 90
    assert not verdict["needs_retrain"], f"in-dist batch tripped: {verdict}"

    # search finds appended neighbors: query at cluster-0's center must
    # rank same-cluster vectors (including appended 1000-series) on top
    q = spark.createDataFrame(
        [(9_000_000, [1.0] + [0.0] * (DIM - 1))],
        "vec_id long, embedding array<double>",
    )
    hits = idx.search(q, topk=10).collect()
    assert len(hits) == 10
    assert all(r.nid < 200 or 1000 <= r.nid < 1100 for r in hits), (
        "top hits must come from cluster 0 (seed or appended)"
    )
    assert any(1000 <= r.nid < 1100 for r in hits), "appended vectors searchable"

    # reload from disk: same centroids, same search results
    idx2 = IncrementalIVF.load(spark, index_dir)
    hits2 = idx2.search(q, topk=10).collect()
    assert [(r.qid, r.nid, r.rank) for r in hits2] == [
        (r.qid, r.nid, r.rank) for r in hits
    ]


def test_drift_trigger_fires_on_shifted_batch(spark, tmp_path):
    index_dir = str(tmp_path / "ivf")
    idx = IncrementalIVF.build(spark, index_dir, _corpus_df(spark), k=4, nprobe=2)
    # a batch from an unseen direction: occupancy collapses onto
    # whichever cell is least-wrong -> PSI blows past the act level
    shifted = spark.createDataFrame(
        [(5000 + i, v) for i, v in enumerate(
            _vecs(90, [0.0] * (DIM - 1) + [-1.0], 42)
        )],
        "vec_id long, embedding array<double>",
    )
    verdict = idx.append_batch(shifted, 1)
    assert verdict["psi"] > RETRAIN_PSI
    assert verdict["needs_retrain"]


def test_recall_audit_matches_adhoc_and_covers_appends(spark, tmp_path):
    """recall_audit grades search() against a brute-force scan of the
    indexed corpus: (a) its numbers must equal recall recomputed ad
    hoc from search() + an exact scan; (b) on well-separated clusters
    with in-cluster queries it must be perfect; (c) it runs clean over
    an index grown by an out-of-distribution append, auditing the
    appended vectors too (here the shifted mass lands in one cell, so
    recall may survive — the audit MEASURES, the PSI trigger flags)."""
    index_dir = str(tmp_path / "ivf")
    corpus = _corpus_df(spark)
    idx = IncrementalIVF.build(spark, index_dir, corpus, k=4, nprobe=2)
    q = spark.createDataFrame(
        [
            (9_000_000, [1.0] + [0.0] * (DIM - 1)),
            (9_000_001, [0.0, 1.0] + [0.0] * (DIM - 2)),
        ],
        "vec_id long, embedding array<double>",
    )
    row = idx.recall_audit(q, topk=5).collect()[0]
    assert row.n_queries == 2
    # ad-hoc recompute: exact top-5 per query from a full scan
    import numpy as np

    vecs = {r.vec_id: np.array(r.embedding) for r in corpus.collect()}
    got = {
        (r.qid, r.nid) for r in idx.search(q, topk=5).collect()
    }
    hits_total = 0
    per_q_hits = []
    for qid, qv in ((9_000_000, [1.0] + [0.0] * 7), (9_000_001, [0.0, 1.0] + [0.0] * 6)):
        qv = np.array(qv)
        sims = sorted(
            vecs,
            key=lambda vid: (
                -float(vecs[vid] @ qv / (np.linalg.norm(vecs[vid]) * np.linalg.norm(qv))),
                vid,
            ),
        )[:5]
        h = sum(1 for vid in sims if (qid, vid) in got)
        per_q_hits.append(h)
        hits_total += h
    assert row.macro_recall == hits_total / 10
    assert row.min_recall == min(per_q_hits) / 5
    # in-cluster queries on separated clusters: the probed cells hold
    # the true neighbors, so the audit reads perfect
    assert row.macro_recall == 1.0 and row.perfect_queries == 2

    # append vectors from an untrained direction, query from it: the
    # frozen quantizer folds them into some least-wrong cell and the
    # audit must measure the damage (strictly below perfect)
    shifted = spark.createDataFrame(
        [(5000 + i, v) for i, v in enumerate(
            _vecs(90, [0.0] * (DIM - 1) + [-1.0], 42)
        )],
        "vec_id long, embedding array<double>",
    )
    idx.append_batch(shifted, 1)
    q_shift = spark.createDataFrame(
        [(9_000_002, [0.0] * (DIM - 1) + [-1.0])],
        "vec_id long, embedding array<double>",
    )
    row2 = idx.recall_audit(q_shift, topk=5).collect()[0]
    # the shifted mass all lands in one cell, so search may still find
    # it — but the audit must at least run clean and stay bounded
    assert 0.0 <= row2.macro_recall <= 1.0
    both = idx.recall_audit(q.unionByName(q_shift), topk=5).collect()[0]
    assert both.n_queries == 3


def test_recall_audit_with_duplicate_ids_and_zero_norms(spark, tmp_path):
    """Two ADVICE-r12 regressions in one index state: (a) a vec_id
    re-inserted in a later batch is duplicated across b= partitions —
    the audit's exact leg must dedup (qid, nid) like search() does, or
    duplicates occupy multiple exact top-k slots AND each duplicate
    row joins the single search hit, double-counting; on separated
    clusters the audit must still read perfect. (b) a zero-norm
    indexed vector (failed-embedding convention) must not abort the
    audit under ANSI mode — safe_cos parks it at cosine 0."""
    index_dir = str(tmp_path / "ivf")
    idx = IncrementalIVF.build(spark, index_dir, _corpus_df(spark), k=4, nprobe=2)
    # re-insert 20 cluster-0 vectors under a NEW batch id with the
    # SAME vec_ids -> duplicated rows across b=-1 and b=0
    dup = spark.createDataFrame(
        [(i, v) for i, v in enumerate(_vecs(20, [1.0] + [0.0] * 7, 100))],
        "vec_id long, embedding array<double>",
    )
    idx.append_batch(dup, 0)
    # plus one zero vector (norm 0) in another batch
    idx.append_batch(
        spark.createDataFrame(
            [(7777, [0.0] * DIM)], "vec_id long, embedding array<double>"
        ),
        1,
    )
    assert idx.index_df().count() == 120 + 20 + 1
    q = spark.createDataFrame(
        [
            (9_000_000, [1.0] + [0.0] * (DIM - 1)),
            (9_000_001, [0.0, 1.0] + [0.0] * (DIM - 2)),
        ],
        "vec_id long, embedding array<double>",
    )
    row = idx.recall_audit(q, topk=5).collect()[0]
    assert row.n_queries == 2
    assert row.macro_recall == 1.0 and row.min_recall == 1.0
    assert row.perfect_queries == 2
    # a zero-norm QUERY must also run clean (cos 0 against everything
    # -> it simply recalls whatever deterministic tie-break both legs
    # agree on; the job must not abort)
    qz = spark.createDataFrame(
        [(9_000_009, [0.0] * DIM)], "vec_id long, embedding array<double>"
    )
    rz = idx.recall_audit(qz, topk=5).collect()[0]
    assert rz.n_queries == 1 and 0.0 <= rz.macro_recall <= 1.0


def test_append_replay_is_idempotent(spark, tmp_path):
    index_dir = str(tmp_path / "ivf")
    idx = IncrementalIVF.build(spark, index_dir, _corpus_df(spark), k=4, nprobe=2)
    batch = spark.createDataFrame(
        [(1000 + i, v) for i, v in enumerate(_vecs(20, [1.0] + [0.0] * 7, 7))],
        "vec_id long, embedding array<double>",
    )
    v1 = idx.append_batch(batch, 3)
    n_after_first = idx.index_df().count()
    v2 = idx.append_batch(batch, 3)  # replay of the same micro-batch
    assert v1["occupancy"] == v2["occupancy"]
    assert idx.index_df().count() == n_after_first, "replay must not grow the index"


def test_streaming_append_e2e(spark, tmp_path):
    """File-stream of arriving vectors maintained into the index, one
    drift verdict per micro-batch."""
    index_dir = str(tmp_path / "ivf")
    idx = IncrementalIVF.build(spark, index_dir, _corpus_df(spark), k=4, nprobe=2)

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # each micro-batch mirrors the corpus mix (a single-cluster batch
    # would legitimately trip the drift monitor — that IS drift)
    centers = [
        [1.0] + [0.0] * (DIM - 1),
        [0.0, 1.0] + [0.0] * (DIM - 2),
        [0.0, 0.0, 1.0] + [0.0] * (DIM - 3),
    ]

    def _mixed(base_id, seed):
        rows = []
        for ci, c in enumerate(centers):
            rows += [
                (base_id + ci * 100 + i, v)
                for i, v in enumerate(_vecs(9, c, seed + ci))
            ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    f1 = _mixed(1000, 11)
    f2 = _mixed(2000, 21)
    f1.coalesce(1).write.parquet(in_dir + "/f1")
    f2.coalesce(1).write.parquet(in_dir + "/f2")

    verdicts = {}
    src = FileSource(
        in_dir + "/f*",
        format="parquet",
        schema="vec_id long, embedding array<double>",
        max_files_per_trigger=1,
    )
    stream = src.read_stream(spark)
    q = foreach_batch_query(
        stream,
        lambda df, b: verdicts.__setitem__(b, idx.append_batch(df, b)),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    assert sum(v["n"] for v in verdicts.values()) == 54
    assert not any(v["needs_retrain"] for v in verdicts.values())
    total = idx.index_df().count()
    assert total == 120 + 54  # seed corpus + both streamed batches


def test_pq_build_search_reload_replay_compact(spark, tmp_path):
    """The residual-PQ serving path on the disk index, full lifecycle:
    build(pq_k) stores a codes column and the codebook in _meta;
    search_pq's ADC+rerank is perfect on separated clusters when the
    shortlist covers the probed cells; reload reproduces results
    bit-for-bit; append encodes codes for new vectors (replay
    idempotent); compact preserves the codes column; the PQ-graded
    recall_audit reads perfect on this fixture."""
    index_dir = str(tmp_path / "ivf")
    corpus = _corpus_df(spark)
    idx = IncrementalIVF.build(
        spark, index_dir, corpus, k=4, nprobe=2, pq_k=4, pq_sub_dim=4
    )
    assert idx.pq and idx.pq_codebook.shape == (2, 4, 4)
    assert "codes" in idx.index_df().columns

    q = spark.createDataFrame(
        [
            (9_000_000, [1.0] + [0.0] * (DIM - 1)),
            (9_000_001, [0.0, 1.0] + [0.0] * (DIM - 2)),
        ],
        "vec_id long, embedding array<double>",
    )
    hits = idx.search_pq(q, topk=5).collect()
    assert len(hits) == 10
    # default shortlist (50) covers the whole probed cell here, so the
    # exact rerank makes the PQ path agree with plain IVF search
    ivf_hits = idx.search(q, topk=5).collect()
    assert sorted((r.qid, r.nid, r.rank) for r in hits) == sorted(
        (r.qid, r.nid, r.rank) for r in ivf_hits
    )
    row = idx.recall_audit(q, topk=5, pq=True).collect()[0]
    assert row.macro_recall == 1.0 and row.perfect_queries == 2

    # pure-ADC ranking (shortlist == topk): within a tight cluster all
    # vectors share codes (ties), but ADC MUST discriminate across
    # cells — every survivor comes from the query's own cluster
    adc_only = idx.search_pq(q, topk=5, shortlist=5).collect()
    assert len(adc_only) == 10
    for r in adc_only:
        lo = 0 if r.qid == 9_000_000 else 40
        assert lo <= r.nid < lo + 40, f"ADC leaked cross-cluster: {r}"

    # reload: codebook round-trips through _meta.json, results identical
    idx2 = IncrementalIVF.load(spark, index_dir)
    assert idx2.pq and idx2.pq_codebook.shape == (2, 4, 4)
    hits2 = idx2.search_pq(q, topk=5).collect()
    assert sorted(map(tuple, hits2)) == sorted(map(tuple, hits))

    # append: new vectors get encoded, replay stays idempotent
    batch = spark.createDataFrame(
        [(1000 + i, v) for i, v in enumerate(_vecs(20, [1.0] + [0.0] * 7, 7))],
        "vec_id long, embedding array<double>",
    )
    idx.append_batch(batch, 0)
    n1 = idx.index_df().count()
    idx.append_batch(batch, 0)
    assert idx.index_df().count() == n1 == 140
    grown = idx.search_pq(q, topk=10).collect()
    assert any(1000 <= r.nid < 1100 for r in grown), "appended searchable"

    # zero-norm indexed vector: safe path, no abort; also makes batch 0
    # foldable (compact never touches the NEWEST live batch)
    idx.append_batch(
        spark.createDataFrame(
            [(7777, [0.0] * DIM)], "vec_id long, embedding array<double>"
        ),
        1,
    )

    # compact folds seed + batch 0 but keeps codes; PQ search still perfect
    assert idx.compact(force=True) > 0
    assert "codes" in idx.index_df().columns
    row3 = idx.recall_audit(q, topk=5, pq=True).collect()[0]
    assert row3.macro_recall == 1.0

    # zero-norm query: safe path, no abort
    qz = spark.createDataFrame(
        [(9_000_009, [0.0] * DIM)], "vec_id long, embedding array<double>"
    )
    assert len(idx.search_pq(qz, topk=5).collect()) == 5


def test_pq_codebook_equal_on_both_trainer_paths(
    spark, tmp_path, forced_distributed
):
    """build(pq_k) trains the residual-PQ codebook with the numpy twin;
    with the driver cap at 0 the distributed trainer must produce the
    identical codebook, dead codewords (NaN) included."""
    import numpy as np

    corpus = _corpus_df(spark)
    kw = dict(k=4, nprobe=2, pq_k=4, pq_sub_dim=4)
    twin = IncrementalIVF.build(spark, str(tmp_path / "twin"), corpus, **kw)
    with forced_distributed():
        dist = IncrementalIVF.build(
            spark, str(tmp_path / "dist"), corpus, **kw
        )
    assert twin.pq_codebook.shape == (2, 4, 4)
    assert np.array_equal(twin.pq_codebook, dist.pq_codebook, equal_nan=True)


def test_index_df_reads_rebuilt_column_set(spark, tmp_path):
    """A live instance's memoized read schema must not outlive a
    rebuild of its directory: rebuilt with PQ, index_df() reads the
    new codes column; rebuilt without, the column is gone instead of
    read back as NULLs."""
    index_dir = str(tmp_path / "ivf")
    corpus = _corpus_df(spark)
    live = IncrementalIVF.build(spark, index_dir, corpus, k=4, nprobe=2)
    assert "codes" not in live.index_df().columns

    IncrementalIVF.build(
        spark, index_dir, corpus, k=4, nprobe=2, pq_k=4, pq_sub_dim=4
    )
    df = live.index_df()
    assert "codes" in df.columns
    assert df.where(F.col("codes").isNull()).count() == 0

    IncrementalIVF.build(spark, index_dir, corpus, k=4, nprobe=2)
    assert "codes" not in live.index_df().columns


def test_search_pq_requires_pq_index(spark, tmp_path):
    import pytest

    idx = IncrementalIVF.build(
        spark, str(tmp_path / "ivf"), _corpus_df(spark), k=4, nprobe=2
    )
    assert not idx.pq
    q = spark.createDataFrame(
        [(9_000_000, [1.0] + [0.0] * (DIM - 1))],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="no PQ codes"):
        idx.search_pq(q, topk=5)


def test_occupancy_psi_zero_when_identical():
    ref = {0: 50, 1: 30, 2: 20, 3: 0}
    assert occupancy_psi(ref, ref, 4) == 0.0
    assert occupancy_psi({0: 100}, ref, 4) > RETRAIN_PSI
    assert math.isfinite(occupancy_psi({3: 10}, {0: 10}, 4))


def _write_pq(path, rows, mtime):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float64())
            ),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def test_pipeline_ann_index_leg_e2e(spark, tmp_path):
    """Config-surface wiring (pipeline.ann_index): the first
    micro-batch trains + seeds the index, later batches append
    assign-only, and the scheduled recall audit writes its batch-keyed
    parquet row every audit_every-th batch — all driven by the same
    foreachBatch read the handler leg uses."""
    from sql_flow_spark import config as cfg
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink
    from sql_flow_spark.sources import FileSource
    from sql_flow_spark.streaming.ann_index import IncrementalIVF

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # batch 0: the three-cluster corpus (trains + seeds); batches 1-2:
    # in-distribution arrivals on clusters 0 and 1
    corpus = [
        (vid, v)
        for ci, c in enumerate(
            (
                [1.0] + [0.0] * (DIM - 1),
                [0.0, 1.0] + [0.0] * (DIM - 2),
                [0.0, 0.0, 1.0] + [0.0] * (DIM - 3),
            )
        )
        for vid, v in zip(
            range(ci * 100, ci * 100 + 40), _vecs(40, c, 11 + ci)
        )
    ]
    _write_pq(str(in_dir / "b0.parquet"), corpus, 1_700_000_000)
    _write_pq(
        str(in_dir / "b1.parquet"),
        [(1000 + i, v) for i, v in enumerate(_vecs(25, [1.0] + [0.0] * 7, 31))],
        1_700_000_100,
    )
    _write_pq(
        str(in_dir / "b2.parquet"),
        [(2000 + i, v) for i, v in enumerate(_vecs(25, [0.0, 1.0] + [0.0] * 6, 32))],
        1_700_000_200,
    )
    qdir = tmp_path / "queries"
    qdir.mkdir()
    _write_pq(
        str(qdir / "q.parquet"),
        [
            (9_000_000, [1.0] + [0.0] * (DIM - 1)),
            (9_000_001, [0.0, 1.0] + [0.0] * (DIM - 2)),
        ],
        1_700_000_000,
    )

    pipe = Pipeline(
        spark=spark,
        source=FileSource(
            str(in_dir), format="parquet", max_files_per_trigger=1
        ),
        handler=InferredBatch("SELECT vec_id FROM batch"),
        sink=MemorySink(),
        monitors=[AnnIndexLeg(spark, cfg.AnnIndexConf(
            index_dir=str(tmp_path / "ivf"),
            k=4,
            nprobe=2,
            audit_queries_path=str(qdir),
            audit_every=1,
            audit_topk=5,
            audit_dir=str(tmp_path / "audits"),
        ))],
    )
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    # index: seeded from batch 0, grown by batches 1-2
    idx = IncrementalIVF.load(spark, str(tmp_path / "ivf"))
    hits = idx.search(
        spark.createDataFrame(
            [(9_000_000, [1.0] + [0.0] * (DIM - 1))],
            "vec_id long, embedding array<double>",
        ),
        topk=10,
    ).collect()
    assert any(1000 <= r.nid < 1100 for r in hits), "appended searchable"

    # audit rows: one per batch (audit_every=1), recall perfect on the
    # separated clusters
    audits = spark.read.parquet(str(tmp_path / "audits")).collect()
    got = {r.batch_id: r for r in audits}
    assert set(got) == {0, 1, 2}
    for r in audits:
        assert r.n_queries == 2
        assert 0.0 <= r.macro_recall <= 1.0
    assert got[2].macro_recall == 1.0, (
        "in-cluster queries on separated clusters must audit perfect"
    )


def test_pipeline_ann_index_pq_leg_e2e(spark, tmp_path):
    """pipeline.ann_index with pq_k: batch 0 trains coarse + PQ
    codebooks, later batches append with codes, and the scheduled
    audit grades the ADC serving path (search_pq) — perfect on
    separated clusters with the default covering shortlist."""
    from sql_flow_spark import config as cfg
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink
    from sql_flow_spark.sources import FileSource
    from sql_flow_spark.streaming.ann_index import IncrementalIVF

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = [
        (vid, v)
        for ci, c in enumerate(
            (
                [1.0] + [0.0] * (DIM - 1),
                [0.0, 1.0] + [0.0] * (DIM - 2),
                [0.0, 0.0, 1.0] + [0.0] * (DIM - 3),
            )
        )
        for vid, v in zip(
            range(ci * 100, ci * 100 + 40), _vecs(40, c, 61 + ci)
        )
    ]
    _write_pq(str(in_dir / "b0.parquet"), corpus, 1_700_000_000)
    _write_pq(
        str(in_dir / "b1.parquet"),
        [(1000 + i, v) for i, v in enumerate(_vecs(25, [1.0] + [0.0] * 7, 71))],
        1_700_000_100,
    )
    qdir = tmp_path / "queries"
    qdir.mkdir()
    _write_pq(
        str(qdir / "q.parquet"),
        [
            (9_000_000, [1.0] + [0.0] * (DIM - 1)),
            (9_000_001, [0.0, 1.0] + [0.0] * (DIM - 2)),
        ],
        1_700_000_000,
    )
    pipe = Pipeline(
        spark=spark,
        source=FileSource(
            str(in_dir), format="parquet", max_files_per_trigger=1
        ),
        handler=InferredBatch("SELECT vec_id FROM batch"),
        sink=MemorySink(),
        monitors=[AnnIndexLeg(spark, cfg.AnnIndexConf(
            index_dir=str(tmp_path / "ivf"),
            k=4,
            nprobe=2,
            pq_k=4,
            pq_sub_dim=4,
            audit_queries_path=str(qdir),
            audit_every=1,
            audit_topk=5,
            audit_dir=str(tmp_path / "audits"),
        ))],
    )
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    idx = IncrementalIVF.load(spark, str(tmp_path / "ivf"))
    assert idx.pq and idx.pq_codebook.shape == (2, 4, 4)
    assert "codes" in idx.index_df().columns
    audits = spark.read.parquet(str(tmp_path / "audits")).collect()
    got = {r.batch_id: r for r in audits}
    assert set(got) == {0, 1}
    assert got[0].macro_recall == 1.0, (
        "PQ-graded audit must be perfect while the 10*topk shortlist "
        "covers the probed cell (40 candidates at batch 0)"
    )
    # batch 1 grows the cluster-0 cell past the shortlist (65 > 50);
    # identical within-cluster codes tie under ADC, so recall may dip —
    # the audit MEASURES that, and must stay high on this geometry
    assert got[1].macro_recall >= 0.8


def test_pipeline_ann_load_path_honors_live_config(spark, tmp_path):
    """ADVICE r12: the load path used to take every knob from
    _meta.json and silently ignore the live config. Now (a) a column-
    name mismatch fails fast with the real cause, (b) the config's
    nprobe (a search-time knob) overrides the saved one, (c) a k
    mismatch is ignored with a warning (k is fixed at build time)."""
    import pytest

    from sql_flow_spark import config as cfg
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink
    from sql_flow_spark.sources import MemorySource

    index_dir = str(tmp_path / "ivf")
    IncrementalIVF.build(spark, index_dir, _corpus_df(spark), k=4, nprobe=2)
    batch = spark.createDataFrame(
        [(1000 + i, v) for i, v in enumerate(_vecs(10, [1.0] + [0.0] * 7, 7))],
        "vec_id long, embedding array<double>",
    )

    def _pipe(**ann_kw):
        leg = AnnIndexLeg(spark, cfg.AnnIndexConf(index_dir=index_dir, **ann_kw))
        return leg, Pipeline(
            spark=spark,
            source=MemorySource(),  # invoke(batch) bypasses the read
            handler=InferredBatch("SELECT * FROM batch"),
            sink=MemorySink(),
            monitors=[leg],
        )

    # (a) config+batch agree on doc_id but the SAVED index was built
    # on vec_id -> fail fast naming both column sets (previously this
    # surfaced only as an opaque append-time resolution error)
    with pytest.raises(ValueError, match="doc_id"):
        _pipe(id_column="doc_id")[1].invoke(
            batch.withColumnRenamed("vec_id", "doc_id")
        )

    # (b)+(c): nprobe applied from config, k mismatch tolerated
    leg, pipe = _pipe(k=8, nprobe=3)
    pipe.invoke(batch)
    assert leg.index is not None
    assert leg.index.nprobe == 3
    assert leg.index.k == 4  # build-time k wins


def test_ann_index_example_config_parses():
    from sql_flow_spark import config as cfg

    path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "streaming.ann.index.yml"
    )
    conf = cfg.new_from_path(path)
    ai = conf.pipeline.ann_index
    assert ai is not None
    assert ai.index_dir and ai.audit_queries_path and ai.audit_dir
    assert ai.audit_every == 5 and ai.k == 16 and ai.nprobe == 4
    assert cfg.validate_dict(cfg.render_config(path)) == []


def test_rebuild_after_drift_restores_profile(spark, tmp_path):
    """The retrain verb closes the monitoring loop: a batch from an
    untrained direction trips the PSI flag on the OLD index; rebuild()
    trains fresh quantizers on everything that arrived (blue/green
    into a new dir), after which (a) the new index holds every vector
    exactly once (a planted re-insert collapses), (b) the same shifted
    mix no longer trips the retrain flag (the occupancy profile now
    includes the shifted cluster), (c) shifted queries search clean,
    and (d) a PQ index stays a PQ index with the same codebook shape."""
    idx = IncrementalIVF.build(
        spark, str(tmp_path / "v1"), _corpus_df(spark),
        k=4, nprobe=2, pq_k=4, pq_sub_dim=4,
    )
    shifted = spark.createDataFrame(
        [(5000 + i, v) for i, v in enumerate(
            _vecs(120, [0.0] * (DIM - 1) + [-1.0], 42)
        )] + [(0, [1.0] + [0.0] * (DIM - 1))],  # re-insert of seed id 0
        "vec_id long, embedding array<double>",
    )
    assert idx.append_batch(shifted, 0)["needs_retrain"]

    idx2 = idx.rebuild(str(tmp_path / "v2"))
    assert idx2.pq and idx2.pq_codebook.shape == (2, 4, 4)
    assert idx2.nprobe == idx.nprobe and idx2.k == idx.k
    # every distinct vector exactly once: 120 seed + 120 shifted
    # (the re-inserted id 0 collapsed)
    assert idx2.index_df().count() == 240
    assert idx2.index_df().select("vec_id").distinct().count() == 240

    # a batch mirroring v2's own occupancy profile (1/6 per original
    # cluster, 1/2 shifted — what the rebuilt index was trained on) is
    # in-profile; the same direction mix tripped v1
    mix = spark.createDataFrame(
        [(9000 + i, v) for i, v in enumerate(
            _vecs(15, [1.0] + [0.0] * 7, 81)
            + _vecs(15, [0.0, 1.0] + [0.0] * 6, 83)
            + _vecs(15, [0.0, 0.0, 1.0] + [0.0] * 5, 84)
            + _vecs(45, [0.0] * (DIM - 1) + [-1.0], 82)
        )],
        "vec_id long, embedding array<double>",
    )
    assert not idx2.append_batch(mix, 0)["needs_retrain"]

    # shifted-direction queries now audit clean on the serving path
    # (shortlist sized to cover the 165-member shifted cell: its
    # near-identical vectors share PQ codes, so a sub-cell shortlist
    # honestly reports ADC tie-break loss instead of probing failure)
    q = spark.createDataFrame(
        [(9_000_000, [0.0] * (DIM - 1) + [-1.0])],
        "vec_id long, embedding array<double>",
    )
    row = idx2.recall_audit(q, topk=5, pq=True, shortlist=200).collect()[0]
    assert row.n_queries == 1 and row.macro_recall == 1.0
    # and the default-shortlist number is the tie-break-bounded one
    row_d = idx2.recall_audit(q, topk=5, pq=True).collect()[0]
    assert 0.0 <= row_d.macro_recall <= 1.0


def test_pipeline_rebuild_on_drift_rotates_generation(spark, tmp_path):
    """The closed monitoring loop (pipeline.ann_index.rebuild_on_drift):
    index_dir becomes a generation root; the drifted micro-batch trips
    the PSI flag and the leg rebuilds blue/green into g1 and bumps the
    CURRENT pointer atomically; the old g0 stays on disk for readers;
    a RESTARTED pipeline resolves CURRENT and appends to g1."""
    from sql_flow_spark import config as cfg
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink
    from sql_flow_spark.sources import FileSource
    from sql_flow_spark.streaming.ann_index import IncrementalIVF

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    corpus = [
        (vid, v)
        for ci, c in enumerate(
            (
                [1.0] + [0.0] * (DIM - 1),
                [0.0, 1.0] + [0.0] * (DIM - 2),
                [0.0, 0.0, 1.0] + [0.0] * (DIM - 3),
            )
        )
        for vid, v in zip(
            range(ci * 100, ci * 100 + 40), _vecs(40, c, 91 + ci)
        )
    ]
    _write_pq(str(in_dir / "b0.parquet"), corpus, 1_700_000_000)
    # batch 1: an untrained direction — trips PSI, triggers rotation
    _write_pq(
        str(in_dir / "b1.parquet"),
        [(5000 + i, v) for i, v in enumerate(
            _vecs(90, [0.0] * (DIM - 1) + [-1.0], 95)
        )],
        1_700_000_100,
    )
    root = str(tmp_path / "ivfroot")

    def _pipe():
        return Pipeline(
            spark=spark,
            source=FileSource(
                str(in_dir), format="parquet", max_files_per_trigger=1
            ),
            handler=InferredBatch("SELECT vec_id FROM batch"),
            sink=MemorySink(),
            monitors=[AnnIndexLeg(spark, cfg.AnnIndexConf(
                index_dir=root, k=4, nprobe=2, rebuild_on_drift=True
            ))],
        )

    q = _pipe().start(
        available_now=True, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    cur = os.path.join(root, "CURRENT")
    assert os.path.exists(cur) and open(cur).read().strip() == "1"
    assert os.path.exists(os.path.join(root, "g0", "_meta.json"))  # blue
    g1 = IncrementalIVF.load(spark, os.path.join(root, "g1"))
    # rebuilt from everything indexed: 120 seed + 90 shifted
    assert g1.index_df().count() == 210
    # shifted queries search clean on the rotated index
    hits = g1.search(
        spark.createDataFrame(
            [(9_000_000, [0.0] * (DIM - 1) + [-1.0])],
            "vec_id long, embedding array<double>",
        ),
        topk=5,
    ).collect()
    assert all(5000 <= r.nid < 5100 for r in hits)

    # restart: a NEW pipeline resuming the SAME checkpoint resolves
    # CURRENT=g1 and appends only the new file; a batch mirroring g1's
    # own profile (120 original : 90 shifted ≈ 4:3) stays in-profile,
    # so no further rotation
    _write_pq(
        str(in_dir / "b2.parquet"),
        [(7000 + i, v) for i, v in enumerate(
            _vecs(14, [1.0] + [0.0] * 7, 97)
            + _vecs(14, [0.0, 1.0] + [0.0] * 6, 98)
            + _vecs(14, [0.0, 0.0, 1.0] + [0.0] * 5, 99)
            + _vecs(30, [0.0] * (DIM - 1) + [-1.0], 96)
        )],
        1_700_000_200,
    )
    q2 = _pipe().start(
        available_now=True, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(180)
    assert open(cur).read().strip() == "1"
    assert IncrementalIVF.load(
        spark, os.path.join(root, "g1")
    ).index_df().select("vec_id").distinct().count() == 210 + 72


def test_ann_ivfpq_example_config_parses():
    from sql_flow_spark import config as cfg

    path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "streaming.ann.ivfpq.yml"
    )
    conf = cfg.new_from_path(path)
    ai = conf.pipeline.ann_index
    assert ai is not None
    assert ai.pq_k == 16 and ai.pq_sub_dim == 8 and ai.rebuild_on_drift
    assert cfg.validate_dict(cfg.render_config(path)) == []


def test_prune_generations_keeps_blue_green_window(tmp_path):
    """Generation pruning: only generations at or below CURRENT are
    candidates, the newest `keep` of them survive (blue/green window),
    in-flight generations above the pointer are never touched, and a
    root without a CURRENT pointer (non-rotating layout) is a no-op."""
    import pytest

    from sql_flow_spark.streaming.ann_index import prune_generations

    root = tmp_path / "ivfroot"
    for g in range(4):
        (root / f"g{g}").mkdir(parents=True)
        (root / f"g{g}" / "_meta.json").write_text("{}")
    (root / "g9").mkdir()  # in-flight rotation above the pointer
    (root / "CURRENT").write_text("3")

    assert prune_generations(str(root), keep=2) == [0, 1]
    assert not (root / "g0").exists() and not (root / "g1").exists()
    assert (root / "g2").exists() and (root / "g3").exists()
    assert (root / "g9").exists()

    # idempotent; keep=1 trims down to CURRENT only
    assert prune_generations(str(root), keep=2) == []
    assert prune_generations(str(root), keep=1) == [2]
    assert (root / "g3").exists()

    with pytest.raises(ValueError):
        prune_generations(str(root), keep=0)

    plain = tmp_path / "plain"
    plain.mkdir()
    assert prune_generations(str(plain)) == []
