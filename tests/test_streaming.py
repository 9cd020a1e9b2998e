"""Structured Streaming coverage: file-stream pipelines, watermarked
tumbling windows (the reference's managed-table manager —
tests/managers/test_tumbling_window.py), stream dedup, custom state."""

import json
import os
import time

from pyspark.sql import functions as F

from sql_flow_spark import config as cfg
from sql_flow_spark.pipeline import Pipeline
from sql_flow_spark.handlers import InferredBatch
from sql_flow_spark.sinks import MemorySink
from sql_flow_spark.sources import FileSource
from sql_flow_spark.streaming import dedupe_stream, tumbling_aggregate


def _write_jsonl(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, os.path.join(dirpath, name))


EVENTS = [
    {"ts": "2024-01-01 00:05:00", "city": "nyc", "n": 1},
    {"ts": "2024-01-01 00:55:00", "city": "nyc", "n": 2},
    {"ts": "2024-01-01 01:10:00", "city": "bal", "n": 3},
    {"ts": "2024-01-01 02:20:00", "city": "nyc", "n": 4},
]


def test_file_stream_pipeline_foreachbatch(spark, tmp_path):
    """source -> handler SQL per micro-batch -> sink, availableNow."""
    in_dir = str(tmp_path / "in")
    _write_jsonl(in_dir, "a.jsonl", EVENTS[:2])
    _write_jsonl(in_dir, "b.jsonl", EVENTS[2:])

    sink = MemorySink()
    pipe = Pipeline(
        spark=spark,
        source=FileSource(in_dir, format="json", max_files_per_trigger=1),
        handler=InferredBatch("SELECT city, SUM(n) AS total FROM batch GROUP BY city"),
        sink=sink,
    )
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    # maxFilesPerTrigger=1 -> 2 micro-batches, each aggregated separately
    assert pipe.stats.num_batches == 2
    totals = {}
    for r in sink.rows():
        totals[r.city] = totals.get(r.city, 0) + r.total
    assert totals == {"nyc": 7, "bal": 3}


def test_tumbling_window_append_emits_closed_windows(spark, tmp_path):
    """Watermark + append = the reference manager's close-then-publish
    (reference: managers/window.py poll/collect_closed/delete)."""
    in_dir = str(tmp_path / "win-in")
    _write_jsonl(in_dir, "a.jsonl", EVENTS)

    stream = (
        FileSource(in_dir, format="json").read_stream(spark)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = tumbling_aggregate(
        stream, "ts", "1 hour",
        aggs=[F.count("*").alias("n_events"), F.sum("n").alias("total")],
        group_by=["city"],
        watermark_delay="0 seconds",
    )
    batches = []
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: batches.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "win-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [r for b in batches for r in b]
    # watermark reached 02:20 -> hours 00 and 01 are closed; 02 still open
    got = {(str(r.window_start), r.city): (r.n_events, r.total) for r in rows}
    assert got == {
        ("2024-01-01 00:00:00", "nyc"): (2, 3),
        ("2024-01-01 01:00:00", "bal"): (1, 3),
    }


def test_dedupe_stream_within_watermark(spark, tmp_path):
    in_dir = str(tmp_path / "dd-in")
    _write_jsonl(in_dir, "a.jsonl", [
        {"ts": "2024-01-01 00:00:01", "k": "a"},
        {"ts": "2024-01-01 00:00:02", "k": "a"},
        {"ts": "2024-01-01 00:00:03", "k": "b"},
    ])
    stream = (
        FileSource(in_dir, format="json").read_stream(spark)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = dedupe_stream(stream, ["k"], time_column="ts", watermark_delay="10 minutes")
    got = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "dd-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.k for r in got) == ["a", "b"]


def test_managed_tumbling_table_from_config(spark, tmp_path):
    """Config-driven managed window table end-to-end (reference:
    dev/config/examples/tumbling.window.yml + tests/managers/
    test_tumbling_window.py): closed windows land in the table's sink."""
    import os as _os

    from sql_flow_spark import config as cfg
    from sql_flow_spark.pipeline import new_pipeline_from_conf

    in_dir = str(tmp_path / "mt-in")
    _write_jsonl(in_dir, "a.jsonl", [
        {"timestamp": "2024-01-01 00:05:00", "city": "nyc"},
        {"timestamp": "2024-01-01 00:06:00", "city": "nyc"},
        {"timestamp": "2024-01-01 00:30:00", "city": "bal"},
        {"timestamp": "2024-01-01 02:00:00", "city": "nyc"},  # advances watermark
    ])
    examples = _os.path.join(_os.path.dirname(__file__), "..", "examples")
    conf = cfg.new_from_path(
        _os.path.join(examples, "tumbling.window.yml"),
        {"SQLFLOW_INPUT_PATH": in_dir},
    )
    pipe = new_pipeline_from_conf(conf, spark)
    q = pipe.start(
        available_now=True,
        checkpoint_dir=str(tmp_path / "mt-ckpt"),
        managed_tables=conf.tables,
    )
    q.awaitTermination(120)
    for mq in q.managed_queries:
        mq.awaitTermination(120)
    rows = spark.table("global_temp.output_tumbling_window").collect()
    got = {(str(r.window_start), r.city): r["count"] for r in rows}
    # hour 00 closed (watermark at 02:00 - 60s); hour 02 still open
    assert got == {
        ("2024-01-01 00:00:00", "nyc"): 2,
        ("2024-01-01 00:00:00", "bal"): 1,
    }


def test_managed_table_respects_pipeline_dedupe(spark, tmp_path):
    """pipeline.dedupe must cover the managed-table leg too: a
    duplicated record counts ONCE in the managed window aggregate (it
    previously bypassed _apply_dedupe and double-counted)."""
    from sql_flow_spark import config as cfg
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.sinks import NoopSink

    in_dir = str(tmp_path / "mtd-in")
    _write_jsonl(in_dir, "a.jsonl", [
        {"timestamp": "2024-01-01 00:05:00", "k": "e1", "city": "nyc"},
        {"timestamp": "2024-01-01 00:05:00", "k": "e1", "city": "nyc"},  # dup
        {"timestamp": "2024-01-01 00:06:00", "k": "e2", "city": "nyc"},
        {"timestamp": "2024-01-01 02:00:00", "k": "e3", "city": "nyc"},
    ])
    source = FileSource(in_dir, format="json")
    orig = source.read_stream
    source.read_stream = lambda s: orig(s).withColumn(
        "timestamp", F.to_timestamp("timestamp")
    )
    pipe = Pipeline(
        spark=spark,
        source=source,
        handler=InferredBatch("SELECT * FROM batch"),
        sink=NoopSink(),
        dedupe=cfg.DedupeConf(keys=["k"], time_column="timestamp",
                              watermark_delay="10 minutes"),
    )
    tconf = cfg.ManagedTableConf(
        name="dedup_counts",
        tumbling_window=cfg.TumblingWindowConf(
            time_column="timestamp", duration="1 hour",
            watermark_delay="60 seconds", group_by=["city"],
            aggregates=["count(*) AS count"],
        ),
        sink=cfg.SinkConf(type="memory", name="output_mtd"),
    )
    q = pipe.start(
        available_now=True,
        checkpoint_dir=str(tmp_path / "mtd-ckpt"),
        managed_tables=[tconf],
    )
    q.awaitTermination(120)
    for mq in q.managed_queries:
        mq.awaitTermination(120)
    rows = spark.table("global_temp.output_mtd").collect()
    got = {(str(r.window_start), r.city): r["count"] for r in rows}
    # hour 00 closed by the 02:00 record; the dup contributes nothing
    assert got == {("2024-01-01 00:00:00", "nyc"): 2}


def test_session_window_stream(spark, tmp_path):
    from sql_flow_spark.streaming import session_aggregate

    in_dir = str(tmp_path / "sw-in")
    _write_jsonl(in_dir, "a.jsonl", [
        {"ts": "2024-01-01 00:00:00", "user": "u1"},
        {"ts": "2024-01-01 00:03:00", "user": "u1"},   # same session (gap 5m)
        {"ts": "2024-01-01 00:20:00", "user": "u1"},   # new session
        {"ts": "2024-01-01 03:00:00", "user": "u2"},   # watermark push
    ])
    stream = (
        FileSource(in_dir, format="json").read_stream(spark)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = session_aggregate(stream, "ts", "5 minutes", group_by=["user"])
    got = []
    q = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "sw-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    closed = {(str(r.session_start), r.user): r.n for r in got}
    assert closed == {
        ("2024-01-01 00:00:00", "u1"): 2,
        ("2024-01-01 00:20:00", "u1"): 1,
    }


def test_checkpoint_recovery_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: the checkpoint is the commit log
    (the reference hand-rolls this with kafka consumer-group commits,
    pipeline.py:285 source.commit())."""
    in_dir = str(tmp_path / "ck-in")
    ckpt = str(tmp_path / "ck-ckpt")
    _write_jsonl(in_dir, "a.jsonl", [{"k": 1}, {"k": 2}])

    def run_once():
        sink = MemorySink()
        pipe = Pipeline(
            spark=spark,
            source=FileSource(in_dir, format="json"),
            handler=InferredBatch("SELECT k FROM batch"),
            sink=sink,
        )
        q = pipe.start(available_now=True, checkpoint_dir=ckpt)
        q.awaitTermination(120)
        return [r.k for b in sink.batches for r in b.collect()]

    first = run_once()
    assert sorted(first) == [1, 2]
    _write_jsonl(in_dir, "b.jsonl", [{"k": 3}])
    second = run_once()  # same checkpoint -> only the new file
    assert sorted(second) == [3]


def test_kafka_sink_encoding(spark):
    from sql_flow_spark.sinks import KafkaSink

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    encoded = KafkaSink.encode(df)
    assert encoded.columns == ["value"]
    vals = sorted(r.value for r in encoded.collect())
    assert vals == ['{"id":1,"v":"a"}', '{"id":2,"v":"b"}']


def test_running_aggregate_state(spark, tmp_path):
    from sql_flow_spark.streaming import running_aggregate

    in_dir = str(tmp_path / "st-in")
    _write_jsonl(in_dir, "a.jsonl", [
        {"user_id": 1, "value": 10.0},
        {"user_id": 1, "value": 5.0},
        {"user_id": 2, "value": 1.0},
    ])
    _write_jsonl(in_dir, "b.jsonl", [
        {"user_id": 1, "value": 2.0},
    ])
    stream = FileSource(in_dir, format="json", max_files_per_trigger=1).read_stream(spark)
    out = running_aggregate(stream, "user_id", "value")
    per_batch = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: per_batch.append({r.user_id: (r.n_events, r.total_value) for r in df.collect()}))
        .option("checkpointLocation", str(tmp_path / "st-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for b in per_batch:
        final.update(b)
    assert final[1] == (3, 17.0)  # state carried across micro-batches
    assert final[2] == (1, 1.0)


def test_running_aggregate_ttl_streaming_and_expiry(spark, tmp_path):
    """TTL state: the streaming path matches running_aggregate while
    keys are live (expired=false), and the timeout branch emits the
    final state and REMOVES the key (unit-driven — firing a real
    processing-time timeout in a test is wall-clock flaky)."""
    from sql_flow_spark.streaming import running_aggregate_ttl
    from sql_flow_spark.streaming.state import make_ttl_update

    in_dir = str(tmp_path / "ttl-in")
    _write_jsonl(in_dir, "a.jsonl", [
        {"user_id": 1, "value": 10.0},
        {"user_id": 2, "value": 1.0},
    ])
    _write_jsonl(in_dir, "b.jsonl", [
        {"user_id": 1, "value": 7.0},
    ])
    stream = FileSource(in_dir, format="json", max_files_per_trigger=1).read_stream(spark)
    out = running_aggregate_ttl(stream, "user_id", "value", ttl_ms=3_600_000)
    per_batch = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: per_batch.append(
            {r.user_id: (r.n_events, r.total_value, r.expired) for r in df.collect()}))
        .option("checkpointLocation", str(tmp_path / "ttl-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for b in per_batch:
        final.update(b)
    assert final[1] == (2, 17.0, False)
    assert final[2] == (1, 1.0, False)

    # -- timeout branch, unit-driven with a stub GroupState
    class StubState:
        hasTimedOut = True
        exists = True
        get = (5, 42.0)
        removed = False

        def remove(self):
            self.removed = True

        def update(self, v):  # pragma: no cover - must not be called
            raise AssertionError("expired key must not update state")

        def setTimeoutDuration(self, ms):  # pragma: no cover
            raise AssertionError("expired key must not re-arm the timeout")

    update = make_ttl_update("user_id", "value", ttl_ms=1000)
    st = StubState()
    rows = list(update((7,), iter(()), st))
    assert st.removed
    assert len(rows) == 1
    r = rows[0].iloc[0]
    assert (r["user_id"], r["n_events"], r["total_value"], bool(r["expired"])) == (
        7, 5, 42.0, True,
    )


def test_running_aggregate_ttl_tws_processor_parity():
    """transformWithStateInPandas twin, unit-driven (the e2e path is
    protobuf-gated in this container — see the test below): the
    StatefulProcessor must emit exactly the rows make_ttl_update emits
    for the same inputs — accumulate + re-arm on input, final
    expired=true row + state clear on timer fire."""
    import pandas as pd

    from sql_flow_spark.streaming.state import make_ttl_processor

    class StubValueState:
        def __init__(self):
            self.v = None
        def exists(self):
            return self.v is not None
        def get(self):
            return self.v
        def update(self, v):
            self.v = v
        def clear(self):
            self.v = None

    class StubHandle:
        def __init__(self):
            self.timers = []
        def getValueState(self, name, schema, ttlDurationMs=None):
            return StubValueState()
        def registerTimer(self, at):
            self.timers.append(at)
        def deleteTimer(self, at):
            self.timers.remove(at)

    class StubTimerValues:
        def getCurrentProcessingTimeInMs(self):
            return 1_000_000

    proc = make_ttl_processor("user_id", "value", ttl_ms=1500)
    handle = StubHandle()
    proc.init(handle)

    # two input batches accumulate; each re-arms a single timer
    rows1 = list(proc.handleInputRows(
        (1,), iter([pd.DataFrame({"value": [10.0, 5.0]})]), StubTimerValues()))
    rows2 = list(proc.handleInputRows(
        (1,), iter([pd.DataFrame({"value": [2.0]})]), StubTimerValues()))
    assert rows1[0].iloc[0].tolist() == [1, 2, 15.0, False]
    assert rows2[0].iloc[0].tolist() == [1, 3, 17.0, False]
    assert handle.timers == [1_001_500]  # old timer deleted, one live

    # timer fire: final state emitted with expired=true, state cleared
    expired = list(proc.handleExpiredTimer((1,), StubTimerValues(), None))
    assert expired[0].iloc[0].tolist() == [1, 3, 17.0, True]
    assert not proc._agg.exists() and not proc._timer.exists()
    # a second fire for the same (now-clean) key emits nothing
    assert list(proc.handleExpiredTimer((1,), StubTimerValues(), None)) == []


def test_running_aggregate_ttl_tws_parity_and_expiry(spark, tmp_path):
    """transformWithStateInPandas twin (the Spark 4.x successor API):
    live-key output matches the applyInPandasWithState path row for
    row, and an idle key's REAL processing-time timer fires on the
    next run, emitting the final expired=true row and clearing state
    (the legacy test can only unit-drive its timeout branch; timers
    here are explicit enough to test end-to-end).

    Environment gate: requires the protobuf package (pyspark's
    transformWithState state-server protocol) — skipped with the
    probe's actionable reason when absent."""
    import pytest

    from sql_flow_spark.streaming.state import (
        ROCKSDB_PROVIDER,
        running_aggregate_ttl_tws,
        tws_available,
    )

    ok, reason = tws_available()
    if not ok:
        assert "protobuf" in reason  # the probe names the missing dep
        pytest.skip(reason)

    in_dir = str(tmp_path / "tws-in")
    ckpt = str(tmp_path / "tws-ckpt")
    _write_jsonl(in_dir, "a.jsonl", [
        {"user_id": 1, "value": 10.0},
        {"user_id": 2, "value": 1.0},
    ])
    per_batch = []

    def run_once():
        stream = FileSource(in_dir, format="json").read_stream(spark)
        out = running_aggregate_ttl_tws(stream, "user_id", "value", ttl_ms=1500)
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: per_batch.append(
                [(r.user_id, r.n_events, r.total_value, r.expired)
                 for r in df.collect()]))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    try:
        spark.conf.set(provider_key, ROCKSDB_PROVIDER)
        run_once()
        # live keys: identical rows to the applyInPandasWithState twin
        assert sorted(r for b in per_batch for r in b) == [
            (1, 1, 10.0, False),
            (2, 1, 1.0, False),
        ]
        per_batch.clear()
        time.sleep(4)  # > ttl_ms: both timers are now due
        # user 1 gets fresh input (re-arms before the timer scan);
        # user 2 stays idle -> its timer fires for real
        _write_jsonl(in_dir, "b.jsonl", [{"user_id": 1, "value": 7.0}])
        run_once()
        got = sorted(r for b in per_batch for r in b)
        assert (2, 1, 1.0, True) in got  # expired row carries final state
        assert (1, 2, 17.0, False) in got  # state survived the restart
        assert (1, 2, 17.0, True) not in got  # re-armed key must not expire
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)


def test_streaming_upsert_sink_end_to_end(spark, tmp_path):
    """file stream -> handler -> UpsertSink inside foreachBatch: two
    micro-batches upsert in order, and the keyed table ends in the
    latest-row-wins state (the reference's idempotent ON CONFLICT
    pipeline, streaming edition)."""
    from sql_flow_spark.sinks import UpsertSink

    in_dir = str(tmp_path / "up-in")
    _write_jsonl(in_dir, "a.jsonl", [
        {"k": 1, "v": "a", "ts": 10},
        {"k": 2, "v": "b", "ts": 10},
    ])
    _write_jsonl(in_dir, "b.jsonl", [
        {"k": 2, "v": "B", "ts": 20},   # newer: replaces
        {"k": 1, "v": "stale", "ts": 5},  # older event-time: ignored
        {"k": 3, "v": "c", "ts": 20},
    ])

    sink = UpsertSink(
        spark, path=str(tmp_path / "table"), key=["k"], order_by="ts",
        n_buckets=4,
    )
    pipe = Pipeline(
        spark=spark,
        source=FileSource(in_dir, format="json", max_files_per_trigger=1),
        handler=InferredBatch("SELECT k, v, ts FROM batch"),
        sink=sink,
    )
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert pipe.stats.num_batches == 2
    state = {r.k: (r.v, r.ts) for r in sink.current().collect()}
    assert state == {1: ("a", 10), 2: ("B", 20), 3: ("c", 20)}


def test_streaming_exact_dedup_with_batch_fingerprint(spark, tmp_path):
    """The batch curation fingerprint (functions.textops.fingerprint,
    a pure Catalyst expression) composed into the streaming dedup path:
    near-identical documents arriving in DIFFERENT micro-batches are
    collapsed by dropDuplicatesWithinWatermark on the fingerprint —
    the streaming twin of dedup_exact."""
    import json as _json

    from pyspark.sql import functions as F

    from sql_flow_spark.functions.textops import fingerprint
    from sql_flow_spark.sources import FileSource
    from sql_flow_spark.streaming.dedupe import dedupe_stream

    in_dir = tmp_path / "sdedup-in"
    in_dir.mkdir()
    # batch 1: two docs; batch 2 (separate file => separate micro-batch
    # under availableNow+maxFilesPerTrigger): a case/punct variant of
    # doc 1 plus a genuinely new doc
    (in_dir / "a.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"doc_id": 1, "ts": "2024-01-01 00:00:00", "text": "spark is fast"},
                {"doc_id": 2, "ts": "2024-01-01 00:00:10", "text": "duck db"},
            ]
        )
        + "\n"
    )
    (in_dir / "b.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"doc_id": 3, "ts": "2024-01-01 00:00:20", "text": "Spark IS fast!"},
                {"doc_id": 4, "ts": "2024-01-01 00:00:30", "text": "flink"},
            ]
        )
        + "\n"
    )
    stream = (
        FileSource(str(in_dir), format="json")
        .read_stream(spark)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("f", fingerprint(F.col("text")))
    )
    deduped = dedupe_stream(stream, ["f"], time_column="ts")
    got = []
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "sdedup-ckpt"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r["doc_id"] for r in got)
    assert kept == [1, 2, 4]  # doc 3 is doc 1's variant -> dropped


def test_streaming_psi_drift_monitor(spark, tmp_path):
    """foreachBatch PSI monitor e2e: fences frozen on a reference
    frame; a batch drawn FROM the reference scores near zero, a
    shifted batch trips the alert."""
    import json as _json

    from sql_flow_spark.streaming.drift import (
        monitor_stream,
        psi_of_batch,
        reference_fences,
    )

    # Reference: uniform values 0..999 in one group.
    ref = spark.range(1000).select(
        F.lit("m").alias("g"), (F.col("id") % 1000).cast("double").alias("v")
    )
    fences = reference_fences(ref, "g", "v")
    assert len(fences["m"]) == 9

    # Batch-mode scoring sanity: in-distribution ~0, shifted >> 0.25.
    ok = psi_of_batch(ref, fences, "g", "v").collect()[0]
    assert abs(ok.psi) < 0.05
    shifted = spark.range(1000).select(
        F.lit("m").alias("g"),
        (F.col("id") % 100 + 900).cast("double").alias("v"),
    )
    bad = psi_of_batch(shifted, fences, "g", "v").collect()[0]
    assert bad.psi > 0.25

    # Streaming leg: two files -> two micro-batches, second drifted.
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    with open(in_dir / "a.jsonl", "w") as f:
        for i in range(1000):
            f.write(_json.dumps({"g": "m", "v": float(i % 1000)}) + "\n")
    with open(in_dir / "b.jsonl", "w") as f:
        for i in range(1000):
            f.write(_json.dumps({"g": "m", "v": float(i % 100 + 900)}) + "\n")

    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(in_dir))
    )
    seen = []
    q = monitor_stream(
        stream,
        fences,
        "g",
        "v",
        on_batch=lambda bid, rows: seen.extend(rows),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen) == 2
    by_drift = sorted(seen, key=lambda r: r.psi)
    assert by_drift[0].drifted is False and abs(by_drift[0].psi) < 0.05
    assert by_drift[1].drifted is True and by_drift[1].psi > 0.25
