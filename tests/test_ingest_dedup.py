"""Streaming ingestion dedup e2e (streaming/ingest_dedup.py): the
incremental_dedup operator's verdict semantics maintained ACROSS
micro-batches by the Pipeline, restart-safe and replay-idempotent."""

import os
import json

from pyspark.sql import functions as F

from sql_flow_spark import config as cfg
from sql_flow_spark.handlers import InferredBatch
from sql_flow_spark.pipeline import Pipeline
from sql_flow_spark.sinks import MemorySink
from sql_flow_spark.sources import FileSource
from sql_flow_spark.streaming.ingest_dedup import (
    FingerprintIndex,
    IngestDedup,
    SEED_BATCH,
)

REPO = os.path.join(os.path.dirname(__file__), "..")

CORPUS_TEXT = "the quick brown fox jumps over the lazy dog"
NOVEL_A = "a completely novel document about spark"
NOVEL_B = "another unrelated document about parquet"
NOVEL_C = "a third document that arrives later"


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


def _make_pipeline(spark, in_dir, tmp_path):
    return Pipeline(
        spark=spark,
        source=FileSource(str(in_dir), format="json", max_files_per_trigger=1),
        handler=InferredBatch("SELECT doc_id FROM batch"),
        sink=MemorySink(),
        monitors=[IngestDedup(
            spark,
            index_dir=str(tmp_path / "index"),
            id_col="doc_id",
            text_col="text",
            out_dir=str(tmp_path / "verdicts"),
        )],
    )


def _verdicts(spark, tmp_path):
    df = spark.read.parquet(str(tmp_path / "verdicts"))
    return {r.doc_id: (r.verdict, r.b) for r in df.collect()}


def test_ingest_dedup_stream_e2e_and_restart(spark, tmp_path):
    """Two micro-batches then a restart with a third: corpus dups,
    in-batch dups, CROSS-BATCH dups (batch 1's new doc repeated in
    batch 2 must be dup_of_corpus), and restart processing only the
    new file while earlier verdicts stay put."""
    in_dir = tmp_path / "in"
    # seed the index from a pre-existing corpus (the batch world
    # feeding the streaming world)
    seed_df = spark.createDataFrame([(1, CORPUS_TEXT)], "doc_id long, text string")
    FingerprintIndex(spark, str(tmp_path / "index")).seed(seed_df)

    _write_jsonl(
        in_dir,
        "f1.jsonl",
        [
            {"doc_id": 10, "text": CORPUS_TEXT},  # dup of seeded corpus
            {"doc_id": 11, "text": NOVEL_A},  # new
            {"doc_id": 12, "text": NOVEL_A},  # dup within the batch
        ],
        mtime=1_700_000_000,
    )
    _write_jsonl(
        in_dir,
        "f2.jsonl",
        [
            {"doc_id": 20, "text": NOVEL_A},  # dup of batch 1 -> corpus
            {"doc_id": 21, "text": NOVEL_B},  # new
        ],
        mtime=1_700_000_100,
    )

    pipe = _make_pipeline(spark, in_dir, tmp_path)
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    v = _verdicts(spark, tmp_path)
    assert v[10][0] == "dup_of_corpus"
    assert v[11][0] == "new"
    assert v[12][0] == "dup_in_batch"
    assert v[20][0] == "dup_of_corpus", "cross-batch dup must hit the index"
    assert v[21][0] == "new"
    # file-per-trigger: the cross-batch pair really was two batches
    assert v[11][1] != v[20][1]

    # index now holds: seed + batch fingerprints, one row per distinct f
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.groupBy("f").count().where(F.col("count") > 1).count() == 0
    assert {r.b for r in idx.select("b").distinct().collect()} >= {SEED_BATCH}

    # ---- restart with a new file: only the new batch is processed
    _write_jsonl(
        in_dir,
        "f3.jsonl",
        [
            {"doc_id": 30, "text": NOVEL_B},  # dup of batch 2's new doc
            {"doc_id": 31, "text": NOVEL_C},  # new
        ],
        mtime=1_700_000_200,
    )
    pipe2 = _make_pipeline(spark, in_dir, tmp_path)
    q2 = pipe2.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q2.awaitTermination(120)

    v2 = _verdicts(spark, tmp_path)
    assert v2[30][0] == "dup_of_corpus", "index must survive the restart"
    assert v2[31][0] == "new"
    # earlier verdicts untouched by the restart
    for k in (10, 11, 12, 20, 21):
        assert v2[k] == v[k]


def test_ingest_dedup_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id — crash between the index
    write and the checkpoint commit) must produce identical verdicts
    and no duplicate index rows: scoring excludes the batch's own
    partition, writes overwrite it."""
    ingest = IngestDedup(
        spark,
        index_dir=str(tmp_path / "index"),
        id_col="doc_id",
        text_col="text",
        out_dir=str(tmp_path / "verdicts"),
    )
    batch = spark.createDataFrame(
        [(1, NOVEL_A), (2, NOVEL_A), (3, NOVEL_B)], "doc_id long, text string"
    )
    first = {r.doc_id: r.verdict for r in ingest.process(batch, 5).collect()}
    replay = {r.doc_id: r.verdict for r in ingest.process(batch, 5).collect()}
    assert first == replay == {1: "new", 2: "dup_in_batch", 3: "new"}
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.count() == 2  # two distinct fingerprints, written once
    # and a LATER batch sees them as corpus
    later = spark.createDataFrame([(9, NOVEL_A)], "doc_id long, text string")
    got = ingest.process(later, 6).collect()
    assert [r.verdict for r in got] == ["dup_of_corpus"]


def test_ingest_dedup_example_config_parses():
    conf = cfg.new_from_path(
        os.path.join(REPO, "examples", "streaming.ingest.dedup.yml")
    )
    idc = conf.pipeline.ingest_dedup
    assert idc is not None
    assert idc.index_dir and idc.out_dir
    assert idc.id_column == "doc_id" and idc.text_column == "text"
    rendered = cfg.render_config(
        os.path.join(REPO, "examples", "streaming.ingest.dedup.yml")
    )
    assert cfg.validate_dict(rendered) == []
