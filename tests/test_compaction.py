"""Marker-commit compaction for the fingerprint index and the IVF
index (streaming/compaction.py), plus the writer-lease concurrency
guard and the heavy-hitters snapshot pruning. The rollup's own
compaction tests live in test_streaming_rollup.py; these port the same
crash-orphan, crash-before-marker and watermark disciplines to the two
other incremental state engines and assert the listing cost is
actually bounded."""

import os
import time

import pytest
from pyspark.sql import functions as F

from sql_flow_spark.streaming.ann_index import IncrementalIVF
from sql_flow_spark.streaming.compaction import (
    MarkerCommit,
    assert_no_live_writer,
    touch_writer_lease,
)
from sql_flow_spark.streaming.heavy_hitters import StreamingHeavyHitters
from sql_flow_spark.streaming.ingest_dedup import FingerprintIndex

from tests.test_ann_index import _corpus_df, _vecs, DIM


def _bdirs(root):
    return sorted(
        n for n in os.listdir(root) if n.startswith("b=")
    )


def _fps_df(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text string").select(
        F.md5(F.col("text")).alias("f")
    )


# --------------------------------------------------- fingerprint index


def _grown_index(spark, tmp_path, n_batches=4):
    idx = FingerprintIndex(spark, str(tmp_path / "idx"))
    idx.seed(spark.createDataFrame([("seeded doc",)], "text string"))
    for b in range(n_batches):
        idx.append(_fps_df(spark, [f"doc {b}", "shared doc"]), b)
    return idx


def test_fingerprint_compact_preserves_reads_and_bounds_dirs(spark, tmp_path):
    idx = _grown_index(spark, tmp_path)
    before = {r.f for r in idx.read().collect()}
    assert len(_bdirs(idx.index_dir)) == 5  # seed + 4 batches

    assert idx.compact() == 3  # batches 0..2; 3 stays live
    after_dirs = _bdirs(idx.index_dir)
    # folded slot + the newest live batch only
    assert after_dirs == ["b=-101", "b=3"]
    after = {r.f for r in idx.read().collect()}
    assert after == before

    # a second compact with no new batches is a no-op
    assert idx.compact() == 0

    # new batches keep flowing and a second fold lands in the OTHER slot
    for b in range(4, 7):
        idx.append(_fps_df(spark, [f"doc {b}"]), b)
    assert idx.compact() == 3  # 3,4,5 fold; 6 stays
    assert _bdirs(idx.index_dir) == ["b=-102", "b=6"]
    final = {r.f for r in idx.read().collect()}
    assert before < final and len(final) == len(before) + 3


def test_fingerprint_compact_keeps_dup_verdicts(spark, tmp_path):
    from sql_flow_spark.streaming.ingest_dedup import score_batch

    idx = _grown_index(spark, tmp_path)
    idx.compact()
    # a fingerprint ingested pre-compaction is still a corpus dup
    probe = _fps_df(spark, ["doc 1", "never seen"]).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    verdicts = {
        r.f: r.verdict
        for r in score_batch(probe, idx.read(exclude_batch=99), "doc_id").collect()
    }
    dup_f = _fps_df(spark, ["doc 1"]).collect()[0].f
    new_f = _fps_df(spark, ["never seen"]).collect()[0].f
    assert verdicts[dup_f] == "dup_of_corpus"
    assert verdicts[new_f] == "new"


def test_fingerprint_watermark_refuses_stale_writes_and_seed(spark, tmp_path):
    idx = _grown_index(spark, tmp_path)
    idx.compact()  # watermark 2
    with pytest.raises(ValueError, match="watermark"):
        idx.append(_fps_df(spark, ["late"]), 1)
    with pytest.raises(ValueError, match="watermark"):
        idx.seed(spark.createDataFrame([("reseed",)], "text string"))
    # above the watermark still writes
    idx.append(_fps_df(spark, ["fine"]), 4)


def test_fingerprint_compact_crash_orphan_is_repaired(spark, tmp_path):
    """A crash AFTER the marker rename but BEFORE cleanup leaves stale
    dirs; readers must ignore them and the next compact removes them."""
    idx = _grown_index(spark, tmp_path)
    committed = {r.f for r in idx.read().collect()}
    mc = MarkerCommit(idx.index_dir, (-101, -102))

    real_cleanup = MarkerCommit.cleanup
    try:
        MarkerCommit.cleanup = lambda self, *a, **k: None  # simulate crash
        idx.compact()
    finally:
        MarkerCommit.cleanup = real_cleanup
    # stale dirs survive on disk but reads exclude them (no double count)
    assert "b=0" in _bdirs(idx.index_dir) and "b=-1" in _bdirs(idx.index_dir)
    assert {r.f for r in idx.read().collect()} == committed
    # stale partitions are filtered out: the only multi-row fingerprint
    # is "shared doc", present in the slot AND the live b=3 (read()
    # never promises distinct — score_batch applies it at the probe)
    assert idx.read().count() == len(committed) + 1

    # next compact repairs: fold 3..4 needs new batches first
    for b in (4, 5):
        idx.append(_fps_df(spark, [f"doc {b}"]), b)
    idx.compact()
    assert _bdirs(idx.index_dir) == ["b=-102", "b=5"]
    wm, slot = mc.marker()
    assert (wm, slot) == (4, -102)


def _crash_before_marker(monkeypatch):
    """Make the next compact die after its fold write, before the
    marker rename (the commit point)."""

    def crash(self, wm, slot):
        raise RuntimeError("simulated crash before the marker rename")

    monkeypatch.setattr(MarkerCommit, "write_marker", crash)


def test_fingerprint_compact_crash_before_marker_is_invisible(
    spark, tmp_path, monkeypatch
):
    """A first fold that wrote its slot but died before the marker
    rename leaves readers on the old, complete state: the uncommitted
    slot is not read (the bootstrap partition still is)."""
    idx = _grown_index(spark, tmp_path)
    before = sorted(r.f for r in idx.read().collect())
    with monkeypatch.context() as m:
        _crash_before_marker(m)
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.compact()
    assert "b=-101" in _bdirs(idx.index_dir)  # the orphan fold slot
    assert sorted(r.f for r in idx.read().collect()) == before
    # a real compact afterwards repairs everything
    assert idx.compact() == 3
    assert _bdirs(idx.index_dir) == ["b=-101", "b=3"]
    assert {r.f for r in idx.read().collect()} == set(before)


# ----------------------------------------------------------- IVF index


def test_ivf_compact_preserves_search_and_bounds_dirs(spark, tmp_path):
    index_dir = str(tmp_path / "ivf")
    idx = IncrementalIVF.build(spark, index_dir, _corpus_df(spark), k=4, nprobe=2)
    for b in range(3):
        batch = spark.createDataFrame(
            [(10_000 + 100 * b + i, v)
             for i, v in enumerate(_vecs(20, [1.0] + [0.0] * (DIM - 1), 50 + b))],
            "vec_id long, embedding array<double>",
        )
        idx.append_batch(batch, b)
    queries = spark.createDataFrame(
        [(90_000, [1.0] + [0.0] * (DIM - 1)), (90_001, [0.0, 1.0] + [0.0] * (DIM - 2))],
        "vec_id long, embedding array<double>",
    )
    before = sorted(map(tuple, idx.search(queries, topk=5).collect()))
    n_before = idx.index_df().count()

    assert idx.compact() == 2  # seed + b=0,1 fold; b=2 stays live
    assert _bdirs(index_dir) == ["b=-101", "b=2"]
    # folded slot keeps the cell partitioning (pruned scans survive)
    assert any(
        n.startswith("cell=") for n in os.listdir(os.path.join(index_dir, "b=-101"))
    )
    assert idx.index_df().count() == n_before
    assert sorted(map(tuple, idx.search(queries, topk=5).collect())) == before

    # a reloaded index honors the marker too
    re = IncrementalIVF.load(spark, index_dir)
    assert sorted(map(tuple, re.search(queries, topk=5).collect())) == before

    with pytest.raises(ValueError, match="watermark"):
        idx.append_batch(queries, 0)


def test_ivf_compact_crash_before_marker_is_invisible(
    spark, tmp_path, monkeypatch
):
    """The IVF port of the crash-before-marker test: the orphan fold
    slot is not read, so counts and search results do not move."""
    index_dir = str(tmp_path / "ivf")
    idx = IncrementalIVF.build(spark, index_dir, _corpus_df(spark), k=4, nprobe=2)
    for b in range(3):
        batch = spark.createDataFrame(
            [(10_000 + 100 * b + i, v)
             for i, v in enumerate(_vecs(20, [1.0] + [0.0] * (DIM - 1), 50 + b))],
            "vec_id long, embedding array<double>",
        )
        idx.append_batch(batch, b)
    queries = spark.createDataFrame(
        [(90_000, [1.0] + [0.0] * (DIM - 1))],
        "vec_id long, embedding array<double>",
    )
    n_before = idx.index_df().count()
    before = sorted(map(tuple, idx.search(queries, topk=5).collect()))
    with monkeypatch.context() as m:
        _crash_before_marker(m)
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.compact()
    assert "b=-101" in _bdirs(index_dir)  # the orphan fold slot
    assert idx.index_df().count() == n_before
    assert IncrementalIVF.load(spark, index_dir).index_df().count() == n_before
    assert sorted(map(tuple, idx.search(queries, topk=5).collect())) == before
    # a real compact afterwards repairs everything
    assert idx.compact() == 2
    assert _bdirs(index_dir) == ["b=-101", "b=2"]
    assert idx.index_df().count() == n_before


# --------------------------------------------------------- writer lease


def test_writer_lease_blocks_and_expires(tmp_path):
    d = str(tmp_path / "t")
    os.makedirs(d)
    # no lease: free to compact
    assert_no_live_writer(d)
    # same-pid lease: allowed (compact-between-triggers pattern)
    touch_writer_lease(d)
    assert_no_live_writer(d)
    # different pid + fresh: refused
    with open(os.path.join(d, "_writer.lease"), "w") as f:
        f.write(str(os.getpid() + 1))
    with pytest.raises(RuntimeError, match="writer lease"):
        assert_no_live_writer(d)
    # different pid + stale: allowed
    old = time.time() - 3600
    os.utime(os.path.join(d, "_writer.lease"), (old, old))
    assert_no_live_writer(d)


def test_rollup_compact_refuses_live_writer(spark, tmp_path):
    from sql_flow_spark.streaming.rollup import StreamingRollup

    r = StreamingRollup(
        spark, str(tmp_path / "t"), keys=["k"], aggs={"v": "sum"}
    )
    for b in range(3):
        r.process(
            spark.createDataFrame([("a", 1)], "k string, v long"), b
        )
    with open(os.path.join(r.table_dir, "_writer.lease"), "w") as f:
        f.write(str(os.getpid() + 1))  # a live FOREIGN writer
    with pytest.raises(RuntimeError, match="writer lease"):
        r.compact()
    old = time.time() - 3600
    os.utime(os.path.join(r.table_dir, "_writer.lease"), (old, old))
    assert r.compact() == 2


# ------------------------------------------------- heavy-hitter pruning


def test_heavy_hitters_snapshots_are_pruned(spark, tmp_path):
    hh = StreamingHeavyHitters(spark, str(tmp_path / "hh"), "k", k=7)
    report = None
    for b in range(5):
        df = spark.createDataFrame(
            [("hot",)] * 30 + [(f"x{b}{i}",) for i in range(10)], "k string"
        )
        report = hh.fold_batch(df, b)
        # only the snapshot and its predecessor remain
        assert len(_bdirs(hh.state_dir)) <= 2
    assert "hot" in report["hitters"]
    assert report["n"] == 200
    # crash-replay of the last batch still finds its predecessor state
    df = spark.createDataFrame([("hot",)] * 30, "k string")
    replay = hh.fold_batch(df, 4)
    assert replay["n"] == 190  # prior state = b=3's n (160) + 30


def test_heavy_hitters_bigint_keys(spark, tmp_path):
    """ADVICE r8: a non-string key column must not blow up the Arrow
    boundary — it is cast to string before the MG summary."""
    hh = StreamingHeavyHitters(spark, str(tmp_path / "hh"), "user_id", k=7)
    df = spark.createDataFrame(
        [(42,)] * 50 + [(i,) for i in range(15)], "user_id long"
    )
    report = hh.fold_batch(df, 0)
    assert "42" in report["hitters"]
