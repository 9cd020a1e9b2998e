"""Streaming incremental rollup (streaming/rollup.py): mergeable
per-key partials per micro-batch, replay idempotency, marker-commit
compaction (two seed slots, atomic rename), and the config-pipeline
leg."""

import json
import os

import pytest

from sql_flow_spark.streaming.rollup import SEED_SLOTS, StreamingRollup


def _rollup(spark, tmp_path, aggs=None):
    return StreamingRollup(
        spark,
        table_dir=str(tmp_path / "table"),
        keys=["k"],
        aggs=aggs or {"v": "sum", "k": "count", "v2": "min"},
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long, v2 double")


def test_rollup_merges_batches(spark, tmp_path):
    r = _rollup(spark, tmp_path, aggs={"v": "sum", "k": "count", "v2": "avg"})
    r.process(_df(spark, [("a", 1, 10.0), ("a", 2, 20.0), ("b", 5, 1.0)]), 0)
    r.process(_df(spark, [("a", 10, 30.0), ("c", 7, 2.0)]), 1)
    out = {row["k"]: row.asDict() for row in r.read().collect()}
    assert out["a"]["v_sum"] == 13 and out["a"]["k_count"] == 3
    assert out["a"]["v2_avg"] == pytest.approx(20.0)
    assert out["b"]["v_sum"] == 5 and out["c"]["k_count"] == 1


def test_rollup_replay_is_idempotent(spark, tmp_path):
    r = _rollup(spark, tmp_path)
    batch = _df(spark, [("a", 1, 1.0), ("b", 2, 2.0)])
    r.process(batch, 0)
    before = sorted(map(tuple, r.read().collect()))
    r.process(batch, 0)  # crash-replay of the same batch id
    after = sorted(map(tuple, r.read().collect()))
    assert before == after


def test_rollup_compact_preserves_totals_and_honors_watermark(spark, tmp_path):
    r = _rollup(spark, tmp_path)
    for b in range(3):
        r.process(_df(spark, [("a", b, float(b)), ("b", 1, 5.0)]), b)
    before = sorted(map(tuple, r.read().collect()))
    # folds b=0,1 — the newest batch (b=2) is never folded (it is the
    # only one a restarted stream can replay)
    assert r.compact() == 2
    after = sorted(map(tuple, r.read().collect()))
    assert before == after
    parts = sorted(p for p in os.listdir(r.table_dir) if p.startswith("b="))
    assert parts == [f"b={SEED_SLOTS[0]}", "b=2"]
    # a stale partition surviving a crashed cleanup is ignored: write
    # one below the watermark manually and confirm totals don't move
    stale = _df(spark, [("a", 999, 0.0)])
    r._partial_agg(stale).write.mode("overwrite").parquet(
        f"{r.table_dir}/b=1"
    )
    again = sorted(map(tuple, r.read().collect()))
    assert again == after
    # ...and the NEXT compact removes it (cleanup covers everything
    # at/below the watermark, not just what it folded)
    r.process(_df(spark, [("a", 100, 0.0)]), 3)
    assert r.compact() == 1  # folds b=2; second slot becomes active
    parts = sorted(p for p in os.listdir(r.table_dir) if p.startswith("b="))
    assert parts == [f"b={SEED_SLOTS[1]}", "b=3"]
    out = {row["k"]: row.asDict() for row in r.read().collect()}
    assert out["a"]["v_sum"] == 0 + 1 + 2 + 100


def test_rollup_compact_crash_before_marker_is_invisible(spark, tmp_path):
    """The marker rename is the commit point: a fold that wrote its
    target slot but died before the rename leaves readers on the old,
    complete state."""
    r = _rollup(spark, tmp_path)
    for b in range(3):
        r.process(_df(spark, [("a", 1, 1.0)]), b)
    before = sorted(map(tuple, r.read().collect()))
    # simulate the crash: perform the fold write WITHOUT the marker
    partials = r._read_partials()
    from pyspark.sql import functions as F

    folded = (
        partials.where(F.col("b").isin([0, 1]))
        .drop("b")
        .groupBy("k")
        .agg(*r._merge_exprs())
        .withColumn("_compacted_upto", F.lit(1).cast("long"))
    )
    folded.write.mode("overwrite").parquet(f"{r.table_dir}/b={SEED_SLOTS[0]}")
    # no marker -> the orphan slot is ignored, totals unchanged
    assert sorted(map(tuple, r.read().collect())) == before
    # a real compact afterwards repairs everything
    assert r.compact() == 2
    assert sorted(map(tuple, r.read().collect())) == before


def test_rollup_refuses_write_below_watermark(spark, tmp_path):
    r = _rollup(spark, tmp_path)
    r.process(_df(spark, [("a", 1, 1.0)]), 0)
    r.process(_df(spark, [("a", 1, 1.0)]), 1)
    assert r.compact() == 1  # watermark 0
    with pytest.raises(ValueError, match="watermark"):
        r.process(_df(spark, [("a", 1, 1.0)]), 0)
    # the guard re-reads the marker per call, so OTHER instances (and
    # out-of-process compactions) are seen immediately — no stale cache
    r2 = _rollup(spark, tmp_path)
    with pytest.raises(ValueError, match="watermark"):
        r2.process(_df(spark, [("a", 1, 1.0)]), 0)
    marker = json.load(open(os.path.join(r.table_dir, "_watermark.json")))
    assert marker["wm"] == 0 and marker["slot"] in SEED_SLOTS


def test_rollup_compact_noop_cases(spark, tmp_path):
    r = _rollup(spark, tmp_path)
    assert r.compact() == 0  # empty table
    r.process(_df(spark, [("a", 1, 1.0)]), 0)
    assert r.compact() == 0  # single live batch: nothing safely foldable


def test_rollup_rejects_bad_config(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported"):
        StreamingRollup(spark, str(tmp_path), ["k"], {"v": "median"})
    with pytest.raises(ValueError, match="at least one"):
        StreamingRollup(spark, str(tmp_path), [], {"v": "sum"})
    # reserved partition/metadata column names are refused up front
    with pytest.raises(ValueError, match="reserved"):
        StreamingRollup(spark, str(tmp_path), ["b"], {"v": "sum"})
    with pytest.raises(ValueError, match="reserved"):
        StreamingRollup(spark, str(tmp_path), ["k"], {"_compacted_upto": "sum"})


def _write_jsonl(dirpath, name, rows, mtime=None):
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, name)
    with open(path + ".tmp", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(path + ".tmp", path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_rollup_config_pipeline_e2e(spark, tmp_path):
    """pipeline.rollup leg: the maintained table accumulates across
    micro-batches off the same source read as the handler."""
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink
    from sql_flow_spark.sources import FileSource

    in_dir = str(tmp_path / "in")
    _write_jsonl(
        in_dir, "f1.jsonl",
        [{"user_id": "u1", "value": 10}, {"user_id": "u2", "value": 1}],
        mtime=1_700_000_000,
    )
    _write_jsonl(
        in_dir, "f2.jsonl",
        [{"user_id": "u1", "value": 5}],
        mtime=1_700_000_100,
    )
    rollup = StreamingRollup(
        spark,
        table_dir=str(tmp_path / "table"),
        keys=["user_id"],
        aggs={"value": "sum", "user_id": "count"},
    )
    pipe = Pipeline(
        spark=spark,
        source=FileSource(in_dir, format="json", max_files_per_trigger=1),
        handler=InferredBatch("SELECT count(*) AS n FROM batch"),
        sink=MemorySink(),
        monitors=[rollup],
    )
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    out = {row["user_id"]: row.asDict() for row in rollup.read().collect()}
    assert out["u1"]["value_sum"] == 15 and out["u1"]["user_id_count"] == 2
    assert out["u2"]["value_sum"] == 1


def test_rollup_example_config_parses():
    from sql_flow_spark import config as cfg

    path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "streaming.rollup.yml"
    )
    conf = cfg.new_from_path(path)
    ru = conf.pipeline.rollup
    assert ru is not None and ru.keys == ["user_id"]
    assert ru.aggs == {"value": "sum", "event_id": "count"}
    assert cfg.validate_dict(cfg.render_config(path)) == []
