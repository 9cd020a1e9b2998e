"""Streaming ingestion dedup — the production shape of exact corpus
dedup, run per micro-batch.

Marries the two families the batch layer already proves: the
``incremental_dedup`` operator (functions/dedup.py — batch
fingerprints probed against the corpus's DISTINCT fingerprint index,
first-id-wins within the batch) and the Pipeline's foreachBatch
engine. Every micro-batch is scored against the fingerprint index of
everything ingested BEFORE it, verdicts are emitted per batch, and the
batch's new fingerprints are appended to the index — so a document
that arrived in micro-batch 3 is a ``dup_of_corpus`` when it arrives
again in micro-batch 7, across restarts. This is the reference's
idempotent-pipeline idea (dev/config/examples/
kafka.motherduck.idempotent.yml — dedup-on-insert in the sink DB)
applied to the LLM-corpus ingest brief, with the index as a first-class
queryable table instead of a DB constraint.

Exactly-once without transactions: both the verdict output and the
index append for micro-batch N go to batch-keyed directories
(``.../b=N``) written with ``overwrite`` — a replay of batch N (crash
between the writes and the checkpoint commit) overwrites its own
previous attempt instead of duplicating it, and scoring EXCLUDES index
partition ``b=N`` so a half-written previous attempt can never make a
batch's own rows look like corpus duplicates. Directory names are
Hive-style partitions, so the index and the verdict log are both plain
``spark.read.parquet(root)`` tables with a ``b`` partition column.

Scale shape: the index contributes only its DISTINCT fingerprint
column (16 bytes/doc); the probe is one equi-join on ``f`` per batch —
O(batch + index-probe), never O(corpus). At 100 TB the index is a
bucketed table on ``f`` (plans/bucketing.py) so the probe join is
exchange-free on the index side; the per-batch partition layout here
keeps writes idempotent, and ``FingerprintIndex.compact()`` (the
marker-commit protocol shared with the rollup —
streaming/compaction.py) folds history into one DISTINCT slot so the
directory count stays bounded regardless of stream lifetime.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from sql_flow_spark.functions.textops import fingerprint
from sql_flow_spark.streaming.compaction import MarkerCommit

# Partition key for index rows seeded from a pre-existing corpus
# (never excluded by replay protection: -1 is not a valid batch id).
SEED_BATCH = -1
# Marker-commit fold slots (streaming/compaction.py). Distinct from
# SEED_BATCH: b=-1 is the bootstrap corpus partition, the slots are
# where compact() folds history (bootstrap included) into.
FOLD_SLOTS = (-101, -102)


class FingerprintIndex:
    """The corpus fingerprint index: Hive-partitioned parquet
    ``index_dir/b=<batch>/`` holding one column ``f`` (md5 of the
    normalized text), kept by the marker-commit protocol
    (streaming/compaction.py)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self._mc = MarkerCommit(index_dir, FOLD_SLOTS, seed=SEED_BATCH)

    def read(self, exclude_batch: Optional[int] = None) -> Optional[DataFrame]:
        """The committed index as of 'before batch ``exclude_batch``'
        (replay protection: a crashed attempt of the same batch id must
        not count as corpus). None when the index is empty."""
        try:
            df = self.spark.read.parquet(self.index_dir)
        except AnalysisException:
            return None  # nothing ingested yet
        if "f" not in df.columns:  # empty dir discovered with no schema
            return None
        return self._mc.live(df, exclude=exclude_batch).select("f")

    def append(self, new_fps: DataFrame, batch_id: int) -> None:
        """Overwrite partition ``b=batch_id`` with the batch's new
        DISTINCT fingerprints (idempotent under replay)."""
        self._mc.write(
            batch_id,
            new_fps.select("f").distinct().write.mode("overwrite").parquet,
        )

    def seed(self, corpus: DataFrame, text_col: str = "text") -> None:
        """Bootstrap from an existing corpus (the batch world's
        dedup_exact output feeding the streaming world's index)."""
        fps = corpus.select(fingerprint(text_col).alias("f"))
        self.append(fps, SEED_BATCH)

    def compact(self, force: bool = False) -> int:
        """Fold committed batch partitions (and the bootstrap, if any)
        into one slot (streaming/compaction.py). Returns the number of
        batch partitions folded. The fold is a DISTINCT over
        fingerprints, so the folded slot is no bigger than the unique
        corpus."""

        def fold(sources: DataFrame, target: str, _upto: int) -> None:
            sources.select("f").distinct().write.mode("overwrite").parquet(
                target
            )

        return self._mc.compact(self.spark, fold, force)


def probe_index(
    fp: DataFrame, index: Optional[DataFrame], id_col: str
) -> DataFrame:
    """The replay-sensitive duplicate-probe plumbing, defined ONCE for
    every index-backed verdict (score_batch here, CurationGate in
    streaming/curation_gate.py): takes a batch of (id, f, *extras)
    rows and returns the same rows with ``_in_corpus`` (TRUE when the
    fingerprint is already indexed, NULL otherwise — NULL so the OR
    short-circuit in verdict CASEs behaves) and ``_first_id`` (MIN id
    per fingerprint within the batch, the first-id-wins tiebreak)."""
    firsts = fp.groupBy("f").agg(F.min(id_col).alias("_first_id"))
    if index is not None:
        probed = fp.join(
            index.distinct().withColumn("_in_corpus", F.lit(True)),
            "f",
            "left",
        )
    else:
        probed = fp.withColumn("_in_corpus", F.lit(None).cast("boolean"))
    return probed.join(firsts, "f")


def score_batch(
    fp: DataFrame, index: Optional[DataFrame], id_col: str
) -> DataFrame:
    """incremental_dedup's verdict semantics on one bounded batch of
    (id, f) rows: ``dup_of_corpus`` (fingerprint already indexed —
    authoritative even if also repeated in-batch), ``dup_in_batch``
    (first id wins within the batch), else ``new``."""
    return probe_index(fp, index, id_col).select(
        id_col,
        "f",
        F.when(F.col("_in_corpus"), F.lit("dup_of_corpus"))
        .when(F.col(id_col) > F.col("_first_id"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
    )


class IngestDedup:
    """foreachBatch processor: score, emit verdicts, grow the index.

    ``out_dir`` (optional) receives the per-batch verdict log at
    ``out_dir/b=<batch>/`` (same idempotent overwrite contract);
    readable as one partitioned table."""

    name = "ingest_dedup"

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        out_dir: Optional[str] = None,
    ):
        self.spark = spark
        self.index = FingerprintIndex(spark, index_dir)
        self.id_col = id_col
        self.text_col = text_col
        self.out_dir = out_dir

    def process(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Idempotent per-batch step. Returns the verdicts DataFrame
        (already written when out_dir is set)."""
        fp = batch_df.select(
            F.col(self.id_col),
            fingerprint(self.text_col).alias("f"),
        )
        # One batch-sized materialization, three consumers (verdict
        # join, firsts agg, index append). localCheckpoint not persist:
        # no CacheManager entry to leak across micro-batches.
        fp = fp.localCheckpoint(eager=True)
        verdicts = score_batch(
            fp, self.index.read(exclude_batch=batch_id), self.id_col
        )
        if self.out_dir is not None:
            verdicts.write.mode("overwrite").parquet(
                f"{self.out_dir}/b={batch_id}"
            )
            # re-read: cheaper than recomputing the probe join if the
            # caller inspects the result, and exactly what was written
            verdicts = self.spark.read.parquet(f"{self.out_dir}/b={batch_id}")
        # The index grows by fingerprints NOT already present (new +
        # the batch-first copy of in-batch dups share one f row).
        new_fps = verdicts.where(F.col("verdict") != "dup_of_corpus").select("f")
        self.index.append(new_fps, batch_id)
        return verdicts
