import json
import os
import pickle
import time
from types import SimpleNamespace

from sql_flow_spark.handlers import InferredBatch
from sql_flow_spark.observability import MetricsListener, attach_metrics
from sql_flow_spark.pipeline import Pipeline
from sql_flow_spark.sinks import NoopSink
from sql_flow_spark.sources import FileSource


def test_metrics_listener_state_stays_bounded():
    """A standing query reports progress for its whole life: 10k
    micro-batches must leave the listener's state constant-sized and
    the mean batch time exact (every 7th event has no
    triggerExecution and must not count)."""
    listener = MetricsListener()
    durations = []
    for i in range(10_000):
        dur = None if i % 7 == 0 else (i * 37) % 1009
        if dur is not None:
            durations.append(dur)
        listener.onQueryProgress(SimpleNamespace(progress=SimpleNamespace(
            id="q1", name="standing", numInputRows=3,
            processedRowsPerSecond=1.5,
            durationMs=None if dur is None else {"triggerExecution": dur},
        )))
    m = listener.summary()["q1"]
    assert m["num_batches"] == 10_000
    assert m["num_input_rows"] == 30_000
    assert m["avg_batch_ms"] == sum(durations) / len(durations)
    assert len(pickle.dumps(listener.queries)) < 512


def test_metrics_listener_captures_stream_progress(spark, tmp_path):
    listener = attach_metrics(spark)
    try:
        in_dir = tmp_path / "obs-in"
        in_dir.mkdir()
        (in_dir / "a.jsonl").write_text(
            "\n".join(json.dumps({"k": i}) for i in range(100)) + "\n"
        )
        pipe = Pipeline(
            spark=spark,
            source=FileSource(str(in_dir), format="json"),
            handler=InferredBatch("SELECT count(*) AS n FROM batch"),
            sink=NoopSink(),
        )
        q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "obs-ckpt"))
        q.awaitTermination(120)
        # listener events are async on the bus thread
        deadline = time.time() + 30
        rows = 0
        while time.time() < deadline:
            s = listener.summary()
            rows = sum(m["num_input_rows"] for m in s.values())
            if rows >= 100:
                break
            time.sleep(0.5)
        assert rows >= 100
        assert any(m["num_batches"] >= 1 for m in listener.summary().values())
    finally:
        spark.streams.removeListener(listener)
