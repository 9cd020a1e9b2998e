"""Streaming Misra–Gries heavy hitters (streaming/heavy_hitters.py):
cross-batch state with mergeable-summary bounds, restart + replay
safety, no false negatives."""

import json
import os
from collections import Counter

from sql_flow_spark.sources import FileSource
from sql_flow_spark.streaming import foreach_batch_query
from sql_flow_spark.streaming.heavy_hitters import (
    StreamingHeavyHitters,
    _mg_compact,
)

K = 7


def _write_jsonl(dirpath, name, keys, mtime=None):
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, name)
    with open(path + ".tmp", "w") as f:
        for k in keys:
            f.write(json.dumps({"k": k}) + "\n")
    os.rename(path + ".tmp", path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _batch_keys(seed, n_hot):
    """~40% 'hot', rest a long tail of singleton-ish keys."""
    keys = ["hot"] * n_hot
    keys += [f"tail_{seed}_{i}" for i in range(n_hot + (seed % 3))]
    # a medium key just under threshold across the stream
    keys += ["warm"] * 2
    return keys


def test_streaming_heavy_hitters_e2e_restart_replay(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    b0 = _batch_keys(1, 40)
    b1 = _batch_keys(2, 40)
    _write_jsonl(in_dir, "f1.jsonl", b0, mtime=1_700_000_000)
    _write_jsonl(in_dir, "f2.jsonl", b1, mtime=1_700_000_100)

    hh = StreamingHeavyHitters(
        spark, state_dir=str(tmp_path / "state"), key_col="k", k=K
    )
    results = {}
    src = FileSource(in_dir, format="json", max_files_per_trigger=1)
    q = foreach_batch_query(
        src.read_stream(spark),
        lambda df, b: results.__setitem__(b, hh.fold_batch(df, b)),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    true = Counter(b0 + b1)
    n = sum(true.values())
    final = results[max(results)]
    assert final["n"] == n
    hitters = final["hitters"]
    # the guaranteed hitter is reported and certain, bounds sound
    assert "hot" in hitters and hitters["hot"]["certain"]
    assert hitters["hot"]["count_lo"] <= true["hot"] <= hitters["hot"]["count_hi"]
    # bound soundness for every reported key
    for w, rep in hitters.items():
        assert rep["count_lo"] <= true[w] <= rep["count_hi"], (w, rep, true[w])
    # no false negatives: every key with share > 1/(K+1) is reported
    for w, c in true.items():
        if c * (K + 1) > n:
            assert w in hitters, f"missed true hitter {w}"

    # ---- restart with a third file: state carries across
    b2 = _batch_keys(3, 40)
    _write_jsonl(in_dir, "f3.jsonl", b2, mtime=1_700_000_200)
    results2 = {}
    hh2 = StreamingHeavyHitters(
        spark, state_dir=str(tmp_path / "state"), key_col="k", k=K
    )
    q2 = foreach_batch_query(
        FileSource(in_dir, format="json", max_files_per_trigger=1).read_stream(spark),
        lambda df, b: results2.__setitem__(b, hh2.fold_batch(df, b)),
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    true3 = Counter(b0 + b1 + b2)
    final3 = results2[max(results2)]
    assert final3["n"] == sum(true3.values())
    assert "hot" in final3["hitters"]
    assert (
        final3["hitters"]["hot"]["count_lo"]
        <= true3["hot"]
        <= final3["hitters"]["hot"]["count_hi"]
    )


def test_fold_batch_replay_idempotent(spark, tmp_path):
    hh = StreamingHeavyHitters(
        spark, state_dir=str(tmp_path / "state"), key_col="k", k=K
    )
    batch = spark.createDataFrame(
        [(k,) for k in ["a"] * 30 + ["b"] * 5 + [f"t{i}" for i in range(10)]],
        "k string",
    )
    r1 = hh.fold_batch(batch, 4)
    r2 = hh.fold_batch(batch, 4)  # replay, same batch id
    assert r1 == r2
    # a later batch folds on top of ONE copy of batch 4
    later = spark.createDataFrame([("a",)] * 10, "k string")
    r3 = hh.fold_batch(later, 5)
    assert r3["n"] == 45 + 10
    assert r3["hitters"]["a"]["count_lo"] <= 40 <= r3["hitters"]["a"]["count_hi"]


def test_mg_compact_bound():
    rows = [(f"k{i}", 10) for i in range(20)] + [("big", 100)]
    out = _mg_compact(rows, 7)
    assert len(out) <= 7
    d = dict(out)
    assert d["big"] >= 100 - 10  # undercount bounded by the cut value
    assert all(c > 0 for _, c in out)


def test_heavy_hitters_config_pipeline_e2e(spark, tmp_path):
    """pipeline.heavy_hitters config wiring: the leg folds per
    micro-batch off the same source read, certain hitters logged."""
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink

    in_dir = str(tmp_path / "in")
    _write_jsonl(in_dir, "f1.jsonl", ["hot"] * 30 + [f"t{i}" for i in range(10)],
                 mtime=1_700_000_000)
    _write_jsonl(in_dir, "f2.jsonl", ["hot"] * 30 + [f"u{i}" for i in range(10)],
                 mtime=1_700_000_100)
    hh = StreamingHeavyHitters(
        spark, state_dir=str(tmp_path / "state"), key_col="k", k=K
    )
    pipe = Pipeline(
        spark=spark,
        source=FileSource(in_dir, format="json", max_files_per_trigger=1),
        handler=InferredBatch("SELECT count(*) AS n FROM batch"),
        sink=MemorySink(),
        monitors=[hh],
    )
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    # final state on disk: hot dominates, n accumulated across batches
    final = hh.fold_batch(
        spark.createDataFrame([("hot",)], "k string"), 99
    )
    assert final["n"] == 81
    assert "hot" in final["hitters"] and final["hitters"]["hot"]["certain"]
    assert final["hitters"]["hot"]["count_lo"] <= 61 <= final["hitters"]["hot"]["count_hi"]


def test_heavy_hitters_example_config_parses():
    from sql_flow_spark import config as cfg

    path = os.path.join(
        os.path.dirname(__file__), "..", "examples", "streaming.heavy.hitters.yml"
    )
    conf = cfg.new_from_path(path)
    hh = conf.pipeline.heavy_hitters
    assert hh is not None and hh.key_column == "user_id" and hh.k == 63
    assert cfg.validate_dict(cfg.render_config(path)) == []
