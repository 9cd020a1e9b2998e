"""Streaming curation gate — the batch ``curation_pipeline`` verdict
run per micro-batch, with the duplicate check maintained across
batches by the corpus fingerprint index.

The batch gate (functions/curation.py ``curation_pipeline``) scores a
whole corpus at once: verdict priority duplicate > low_quality >
repetitive > keep, where "duplicate" means an earlier doc_id already
carries the same exact fingerprint. This module is its production
ingest twin: each micro-batch computes the SAME quality and
2-gram-repetition signals (shared expression helpers — one definition,
so the gates can never drift), and the duplicate check probes the
``FingerprintIndex`` of everything ingested BEFORE the batch (plus
first-id-wins within the batch), exactly like streaming/
ingest_dedup.py. A document rejected for quality still registers its
fingerprint: re-arrivals of a low-quality doc are "duplicate", not
"low_quality" — the same answer the batch gate gives when both copies
are in the corpus, keeping batch/streaming verdicts consistent.

Exactly-once contract: identical to ingest_dedup — verdicts for batch
N land at ``out_dir/b=N`` and the batch's new fingerprints at
``index_dir/b=N``, both with overwrite, and scoring excludes index
partition ``b=N``; a replayed batch rewrites its own attempt instead
of duplicating it. Verdict log and index are plain partitioned parquet
tables.

Scale shape: the quality/repetition signals are narrow maps (regexp
counts + an in-row 2-gram distinct — whole-stage codegen, no shuffle);
the only exchanges are the batch-sized first-id groupBy and the
equi-join probe against the index's DISTINCT fingerprint column —
O(batch + index-probe) per micro-batch, never O(corpus). At 100 TB the
index is bucketed on ``f`` (plans/bucketing.py) so the probe is
exchange-free on the index side, and ``FingerprintIndex.compact()``
bounds the directory count.

Reference parity: composes the reference's idempotent-ingest idea
(dev/config/examples/kafka.motherduck.idempotent.yml) with the quality
gating its per-batch SQL handlers would express
(/root/reference/sqlflow/sql.py) — the reference has no cross-batch
state, so its gate can only ever see one batch; this one remembers.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark.functions.curation import (
    QUALITY_MIN,
    REP_MAX,
    quality_score,
    with_repetition_2gram,
)
from sql_flow_spark.functions.textops import fingerprint
from sql_flow_spark.streaming.ingest_dedup import FingerprintIndex, probe_index


class CurationGate:
    """foreachBatch processor: score quality + repetition, resolve
    duplicates against the growing corpus index, emit verdicts, grow
    the index.

    Verdict log rows: (id, f, verdict, quality, rep_2gram) at
    ``out_dir/b=<batch>`` when ``out_dir`` is set. Threshold
    resolution lives HERE and only here: None (the config default)
    means the batch gate's QUALITY_MIN / REP_MAX, so the two worlds
    agree out of the box and a retune moves every caller."""

    name = "curation_gate"

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        out_dir: Optional[str] = None,
        quality_min: Optional[float] = None,
        rep_max: Optional[float] = None,
    ):
        self.spark = spark
        self.index = FingerprintIndex(spark, index_dir)
        self.id_col = id_col
        self.text_col = text_col
        self.out_dir = out_dir
        self.quality_min = QUALITY_MIN if quality_min is None else quality_min
        self.rep_max = REP_MAX if rep_max is None else rep_max

    def process(self, batch_df: DataFrame, batch_id: int) -> DataFrame:
        """Idempotent per-batch step. Returns the verdicts DataFrame
        (already written when out_dir is set)."""
        sig = with_repetition_2gram(batch_df, self.text_col).select(
            F.col(self.id_col),
            fingerprint(self.text_col).alias("f"),
            quality_score(self.text_col).alias("quality"),
            "rep_2gram",
        )
        # One batch-sized materialization, three consumers (probe join,
        # firsts agg, index append) — same localCheckpoint-not-persist
        # rationale as ingest_dedup.process.
        sig = sig.localCheckpoint(eager=True)
        corpus = self.index.read(exclude_batch=batch_id)
        probed = probe_index(sig, corpus, self.id_col)
        verdict = (
            F.when(
                F.col("_in_corpus")
                | (F.col(self.id_col) > F.col("_first_id")),
                F.lit("duplicate"),
            )
            .when(F.col("quality") < F.lit(self.quality_min), "low_quality")
            .when(F.col("rep_2gram") > F.lit(self.rep_max), "repetitive")
            .otherwise("keep")
        )
        verdicts = probed.select(
            self.id_col,
            "f",
            verdict.alias("verdict"),
            "quality",
            "rep_2gram",
        )
        if self.out_dir is not None:
            verdicts.write.mode("overwrite").parquet(
                f"{self.out_dir}/b={batch_id}"
            )
            verdicts = self.spark.read.parquet(f"{self.out_dir}/b={batch_id}")
        # Every fingerprint NOT already in the corpus registers — the
        # quality verdict does not gate the index (see module
        # docstring); in-batch dups collapse to one row via DISTINCT
        # inside append().
        new_fps = verdicts.where(F.col("verdict") != "duplicate").select("f")
        self.index.append(new_fps, batch_id)
        return verdicts
