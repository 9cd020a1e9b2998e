"""Streaming curation gate e2e (streaming/curation_gate.py): the batch
curation_pipeline verdict (duplicate > low_quality > repetitive > keep)
maintained ACROSS micro-batches via the fingerprint index, restart-safe
and replay-idempotent — and provably consistent with the batch gate on
the same documents."""

import os
import json

from pyspark.sql import functions as F

from sql_flow_spark import config as cfg
from sql_flow_spark.functions.curation import QUALITY_MIN, REP_MAX
from sql_flow_spark.handlers import InferredBatch
from sql_flow_spark.pipeline import Pipeline
from sql_flow_spark.sinks import MemorySink
from sql_flow_spark.sources import FileSource
from sql_flow_spark.streaming.curation_gate import CurationGate
from sql_flow_spark.streaming.ingest_dedup import FingerprintIndex

REPO = os.path.join(os.path.dirname(__file__), "..")

# Quality score = 0.5*alpha_ratio + 0.3*stopword/word + 0.2*(1-punct
# ratio). A normal English sentence with stopwords clears 0.61; a
# digit/punct-heavy string craters the alpha and punct terms.
GOOD_TEXT = "the quick brown fox jumps over the lazy dog and the cat"
GOOD_TEXT_B = "a tall ship sails over the wide sea to the far shore"
GOOD_TEXT_C = "the old clock on the wall ticks through the long night"
LOW_Q_TEXT = "1234 5678 9012 3456 7890 ++++ ---- #### $$$$ 1234 x"
# >10% repeated 2-grams but still quality-passing: one phrase looped.
REPETITIVE_TEXT = " ".join(["the cat sat on the mat and"] * 8)


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
    return path


def _verdicts(spark, tmp_path):
    df = spark.read.parquet(str(tmp_path / "verdicts"))
    return {r.doc_id: (r.verdict, r.b) for r in df.collect()}


def test_signal_thresholds_hold(spark):
    """Pin the fixture texts to their intended side of the gates so the
    e2e assertions below test verdict PRIORITY, not fixture luck."""
    from sql_flow_spark.functions.curation import (
        quality_score,
        with_repetition_2gram,
    )

    rows = with_repetition_2gram(
        spark.createDataFrame(
            [
                (1, GOOD_TEXT),
                (2, LOW_Q_TEXT),
                (3, REPETITIVE_TEXT),
                (4, GOOD_TEXT_B),
                (5, GOOD_TEXT_C),
            ],
            "doc_id long, text string",
        ),
        "text",
        "rep",
    ).select("doc_id", quality_score("text").alias("q"), "rep")
    got = {r.doc_id: (r.q, r.rep) for r in rows.collect()}
    for good in (1, 4, 5):
        assert got[good][0] >= QUALITY_MIN, (good, got[good])
        assert got[good][1] <= REP_MAX, (good, got[good])
    assert got[2][0] < QUALITY_MIN
    assert got[3][0] >= QUALITY_MIN, "repetitive fixture must pass quality"
    assert got[3][1] > REP_MAX


def test_curation_gate_stream_e2e_and_restart(spark, tmp_path):
    """Two micro-batches then a restart with a third: corpus dups beat
    quality verdicts, low-quality docs still register fingerprints, and
    the index survives the restart."""
    in_dir = tmp_path / "in"
    seed_df = spark.createDataFrame([(1, GOOD_TEXT)], "doc_id long, text string")
    FingerprintIndex(spark, str(tmp_path / "index")).seed(seed_df)

    _write_jsonl(
        in_dir,
        "f1.jsonl",
        [
            {"doc_id": 10, "text": GOOD_TEXT},  # dup of seeded corpus
            {"doc_id": 11, "text": LOW_Q_TEXT},  # low quality
            {"doc_id": 12, "text": REPETITIVE_TEXT},  # repetitive
            {"doc_id": 13, "text": GOOD_TEXT_B},  # keep
            {"doc_id": 14, "text": GOOD_TEXT_B},  # dup within the batch
        ],
        mtime=1_700_000_000,
    )
    _write_jsonl(
        in_dir,
        "f2.jsonl",
        [
            # dup priority over low_quality: 11 registered its f
            {"doc_id": 20, "text": LOW_Q_TEXT},
            {"doc_id": 21, "text": GOOD_TEXT_C},  # keep
        ],
        mtime=1_700_000_100,
    )

    def make_pipe():
        return Pipeline(
            spark=spark,
            source=FileSource(
                str(in_dir), format="json", max_files_per_trigger=1
            ),
            handler=InferredBatch("SELECT doc_id FROM batch"),
            sink=MemorySink(),
            monitors=[CurationGate(
                spark,
                index_dir=str(tmp_path / "index"),
                id_col="doc_id",
                text_col="text",
                out_dir=str(tmp_path / "verdicts"),
            )],
        )

    q = make_pipe().start(
        available_now=True, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    v = _verdicts(spark, tmp_path)
    assert v[10][0] == "duplicate"
    assert v[11][0] == "low_quality"
    assert v[12][0] == "repetitive"
    assert v[13][0] == "keep"
    assert v[14][0] == "duplicate"
    assert v[20][0] == "duplicate", (
        "a re-arrival of a rejected doc is a duplicate — the quality "
        "verdict must not gate the index"
    )
    assert v[21][0] == "keep"
    assert v[13][1] != v[20][1], "cross-batch pair must be two batches"

    # index: one row per distinct fingerprint, quality-rejected included
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.groupBy("f").count().where(F.col("count") > 1).count() == 0

    # ---- restart with a new file: index and verdicts survive
    _write_jsonl(
        in_dir,
        "f3.jsonl",
        [
            {"doc_id": 30, "text": GOOD_TEXT_C},  # dup of batch 2's keep
            {"doc_id": 31, "text": REPETITIVE_TEXT},  # dup of batch 1's reject
        ],
        mtime=1_700_000_200,
    )
    q2 = make_pipe().start(
        available_now=True, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    v2 = _verdicts(spark, tmp_path)
    assert v2[30][0] == "duplicate", "index must survive the restart"
    assert v2[31][0] == "duplicate"
    for k in (10, 11, 12, 13, 14, 20, 21):
        assert v2[k] == v[k]


def test_curation_gate_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id) must produce identical
    verdicts and no duplicate index rows."""
    gate = CurationGate(
        spark,
        index_dir=str(tmp_path / "index"),
        id_col="doc_id",
        text_col="text",
        out_dir=str(tmp_path / "verdicts"),
    )
    batch = spark.createDataFrame(
        [(1, GOOD_TEXT), (2, GOOD_TEXT), (3, LOW_Q_TEXT)],
        "doc_id long, text string",
    )
    first = {r.doc_id: r.verdict for r in gate.process(batch, 5).collect()}
    replay = {r.doc_id: r.verdict for r in gate.process(batch, 5).collect()}
    assert first == replay == {1: "keep", 2: "duplicate", 3: "low_quality"}
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.count() == 2  # two distinct fingerprints, written once
    later = spark.createDataFrame([(9, LOW_Q_TEXT)], "doc_id long, text string")
    assert [r.verdict for r in gate.process(later, 6).collect()] == [
        "duplicate"
    ]


def test_streaming_gate_matches_batch_gate(spark, tmp_path):
    """Batch/streaming consistency: feeding the sf0.001 documents table
    through the gate in micro-batch slices yields EXACTLY the batch
    curation_pipeline verdicts (the streaming twin's whole point).
    dup_in_batch/dup_of_corpus collapse to 'duplicate' on both sides
    because slices are ordered by doc_id, matching first-id-wins."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
    )
    rows = docs.collect()
    gate = CurationGate(
        spark,
        index_dir=str(tmp_path / "index"),
        out_dir=str(tmp_path / "verdicts"),
    )
    for i in range(3):  # three 40-doc micro-batches, doc_id order
        sl = spark.createDataFrame(rows[i * 40 : (i + 1) * 40])
        gate.process(sl, i)
    got = {
        r.doc_id: r.verdict
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }

    from __spark_entry__ import queries

    batch_v = {
        r.doc_id: r.verdict
        for r in queries()["curation_pipeline"](spark, sf_dir).collect()
        if r.doc_id in got
    }
    # batch gate dedups against the WHOLE corpus; restrict to families
    # fully inside the 120-doc prefix by comparing only ids both saw
    assert got == batch_v


def test_curation_gate_example_config_parses():
    conf = cfg.new_from_path(
        os.path.join(REPO, "examples", "streaming.curation.gate.yml")
    )
    gc = conf.pipeline.curation_gate
    assert gc is not None
    assert gc.index_dir and gc.out_dir
    assert gc.id_column == "doc_id" and gc.text_column == "text"
    rendered = cfg.render_config(
        os.path.join(REPO, "examples", "streaming.curation.gate.yml")
    )
    assert cfg.validate_dict(rendered) == []


def test_curation_gate_invoke_batch_path(spark, tmp_path):
    """`dev invoke` parity: the one-shot batch path runs the gate leg
    at the idempotent batch-0 slot — verdicts written, index seeded
    from the batch, handler result unaffected."""
    import json as _json

    from sql_flow_spark.pipeline import invoke
    from sql_flow_spark.sinks import MemorySink

    fixture = tmp_path / "docs.jsonl"
    with open(fixture, "w") as f:
        for r in (
            {"doc_id": 1, "source": "a", "text": GOOD_TEXT},
            {"doc_id": 2, "source": "a", "text": GOOD_TEXT},
            {"doc_id": 3, "source": "b", "text": LOW_Q_TEXT},
        ):
            f.write(_json.dumps(r) + "\n")
    sink = MemorySink()
    result = invoke(
        spark,
        os.path.join(REPO, "examples", "streaming.curation.gate.yml"),
        str(fixture),
        setting_overrides={
            "SQLFLOW_INDEX_DIR": str(tmp_path / "index"),
            "SQLFLOW_VERDICT_DIR": str(tmp_path / "verdicts"),
        },
        sink_override=sink,
    )
    assert result is not None and len(sink.rows()) == 3
    v = _verdicts(spark, tmp_path)
    assert v[1] == ("keep", 0)
    assert v[2] == ("duplicate", 0)
    assert v[3] == ("low_quality", 0)
