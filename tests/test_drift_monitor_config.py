"""Config-wired streaming drift monitor (pipeline.drift_monitor):
fences frozen on a reference dataset at pipeline start, per-micro-batch
PSI scores to a sink, drifted flag on the shifted batch."""

import json
import os
import random

from sql_flow_spark import config as cfg
from sql_flow_spark.handlers import InferredBatch
from sql_flow_spark.pipeline import Pipeline
from sql_flow_spark.sinks import MemorySink
from sql_flow_spark.sources import FileSource
from sql_flow_spark.streaming.drift import DriftMonitor, reference_fences

REPO = os.path.join(os.path.dirname(__file__), "..")


def _write_jsonl(dirpath, name, rows, mtime=None):
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, name)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_drift_monitor_config_e2e(spark, tmp_path):
    rnd = random.Random(7)
    # reference: values ~ U[0, 100) for one group
    ref = spark.createDataFrame(
        [("click", rnd.uniform(0, 100)) for _ in range(500)],
        "event_type string, value double",
    )
    ref_path = str(tmp_path / "ref")
    ref.write.parquet(ref_path)

    in_dir = str(tmp_path / "in")
    # batch 1: in-distribution; batch 2: shifted by +200 (all mass in
    # the top bin -> PSI far past 0.25)
    _write_jsonl(
        in_dir, "b1.jsonl",
        [{"event_type": "click", "value": rnd.uniform(0, 100)} for _ in range(200)],
        mtime=1_700_000_000,
    )
    _write_jsonl(
        in_dir, "b2.jsonl",
        [{"event_type": "click", "value": rnd.uniform(200, 300)} for _ in range(200)],
        mtime=1_700_000_100,
    )

    score_sink = MemorySink()
    pipe = Pipeline(
        spark=spark,
        source=FileSource(in_dir, format="json", max_files_per_trigger=1),
        handler=InferredBatch("SELECT count(*) AS n FROM batch"),
        sink=MemorySink(),
        monitors=[DriftMonitor(
            reference_fences(
                spark.read.parquet(ref_path), "event_type", "value"
            ),
            group_col="event_type",
            value_col="value",
            threshold=0.25,
            sink=score_sink,
        )],
    )
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    rows = sorted(score_sink.rows(), key=lambda r: r.batch_id)
    assert len(rows) == 2
    in_dist, shifted = rows
    assert not in_dist.drifted, f"in-dist batch tripped: {in_dist}"
    assert shifted.drifted and shifted.psi > 0.25
    assert {r.n for r in rows} == {200}


def test_drift_monitor_example_config_parses():
    path = os.path.join(REPO, "examples", "streaming.drift.monitor.yml")
    conf = cfg.new_from_path(path)
    dm = conf.pipeline.drift_monitor
    assert dm is not None
    assert dm.group_column == "event_type" and dm.value_column == "value"
    assert dm.threshold == 0.25
    assert dm.sink is not None and dm.sink.type == "memory"
    assert cfg.validate_dict(cfg.render_config(path)) == []
