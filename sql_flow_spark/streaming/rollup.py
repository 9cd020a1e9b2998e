"""Streaming incremental rollup — a maintained aggregate table across
micro-batches (the "materialized view" of the config pipeline).

Completes the incremental-state trio beside the corpus fingerprint
index (streaming/ingest_dedup.py) and the IVF index
(streaming/ann_index.py): each micro-batch contributes a MERGEABLE
per-key partial aggregate (sum / count / min / max — avg is derived
from sum+count at read time), written to a batch-keyed Hive partition
``table_dir/b=<batch>`` with overwrite, so a replayed batch overwrites
its own previous attempt instead of double-counting — exactly-once
without transactions, the same protocol the dedup index proved.

Read = merge-on-read: one groupBy over the partials (partials are
key-cardinality × batches, not row-cardinality — the fact rows were
collapsed before the write). ``compact()`` bounds the partition count
by folding history into one of two seed slots (``b=-1`` / ``b=-2``)
under the shared marker-commit protocol (streaming/compaction.py:
atomic ``_watermark.json`` commit, the newest batch never folded,
writes at/below the watermark refused, writer lease). compact() must
not run concurrently with a writer — run it between triggers or from
the `cli compact` maintenance verb while the stream is stopped.

Scale shape: per batch one shuffle onto the rollup keys with map-side
partials (the classic combiner); the maintained table grows with KEY
cardinality, not event volume. At 100 TB/day the read-side merge is a
partials-sized aggregation, and compaction keeps it bounded by
key-cardinality regardless of stream lifetime. The reference's closest
surface is the managed tumbling-window table + sink-DB upsert
(/root/reference/sqlflow/managers/window.py:1,
dev/config/examples/kafka.motherduck.idempotent.yml); here the
maintained aggregate is a first-class queryable parquet table.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from sql_flow_spark.streaming.compaction import MarkerCommit

SEED_SLOTS = (-1, -2)  # the two fold targets; never real batch ids
_SUPPORTED = ("sum", "count", "min", "max", "avg")
_WM_COL = "_compacted_upto"  # informational copy inside the seed rows
_RESERVED = ("b", _WM_COL)


class StreamingRollup:
    """Maintained per-key aggregate table. ``aggs`` maps input column
    -> op in {sum, count, min, max, avg}."""

    name = "rollup"

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        keys: list[str],
        aggs: dict[str, str],
    ):
        bad = {c: op for c, op in aggs.items() if op not in _SUPPORTED}
        if bad:
            raise ValueError(
                f"unsupported rollup ops {bad}; supported: {_SUPPORTED}"
            )
        if not keys or not aggs:
            raise ValueError("rollup needs at least one key and one agg")
        clash = [c for c in (*keys, *aggs) if c in _RESERVED]
        if clash:
            raise ValueError(
                f"rollup columns {clash} collide with the reserved "
                f"partition/metadata columns {_RESERVED}"
            )
        self.spark = spark
        self.table_dir = table_dir
        self.keys = list(keys)
        self.aggs = dict(aggs)
        # marker/slot/lease bookkeeping shared with the other
        # incremental state engines (streaming/compaction.py)
        self._mc = MarkerCommit(table_dir, SEED_SLOTS)

    # ------------------------------------------------------ partials

    def _partial_cols(self):
        """(partial column name, source column, partial op) triples —
        avg stores sum+count partials, everything else stores itself.
        One op per input column (dict semantics), so names are unique
        by construction."""
        out = []
        for col, op in sorted(self.aggs.items()):
            if op == "avg":
                out.append((f"{col}__sum", col, "sum"))
                out.append((f"{col}__count", col, "count"))
            else:
                out.append((f"{col}__{op}", col, op))
        return out

    def _partial_agg(self, df: DataFrame) -> DataFrame:
        exprs = []
        for name, col, op in self._partial_cols():
            if op == "sum":
                exprs.append(F.sum(col).alias(name))
            elif op == "count":
                exprs.append(F.count(col).cast("long").alias(name))
            elif op == "min":
                exprs.append(F.min(col).alias(name))
            elif op == "max":
                exprs.append(F.max(col).alias(name))
        return df.groupBy(*self.keys).agg(*exprs)

    def process(self, df: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch: per-key partials overwrite
        ``b=<batch_id>`` (replay-idempotent) through the shared
        marker-commit write, which refuses a batch id at or below the
        compaction watermark (streaming batch ids only grow, so this
        only bites a one-shot ``invoke`` (fixed slot 0) against a
        previously compacted table) and heartbeats the writer lease
        that makes a concurrent `cli compact` refuse."""
        part = self._partial_agg(df).withColumn(
            _WM_COL, F.lit(None).cast("long")
        )
        self._mc.write(batch_id, part.write.mode("overwrite").parquet)

    # --------------------------------------------------------- reads

    def _read_partials(self) -> Optional[DataFrame]:
        try:
            df = self.spark.read.option("basePath", self.table_dir).parquet(
                self.table_dir
            )
        except AnalysisException:
            return None
        if not set(self.keys).issubset(df.columns):
            return None
        return self._mc.live(df)

    def _merge_exprs(self):
        exprs = []
        for name, _col, op in self._partial_cols():
            merge_op = F.sum if op in ("sum", "count") else (
                F.min if op == "min" else F.max
            )
            e = merge_op(name)
            if op == "count":
                e = e.cast("long")
            exprs.append(e.alias(name))
        return exprs

    def _merge(self, partials: DataFrame) -> DataFrame:
        merged = partials.groupBy(*self.keys).agg(*self._merge_exprs())
        # final projection: derived avg, user-facing names
        out_cols = [F.col(k) for k in self.keys]
        for col, op in sorted(self.aggs.items()):
            if op == "avg":
                out_cols.append(
                    (
                        F.col(f"{col}__sum").cast("double")
                        / F.col(f"{col}__count").cast("double")
                    ).alias(f"{col}_avg")
                )
            else:
                out_cols.append(F.col(f"{col}__{op}").alias(f"{col}_{op}"))
        return merged.select(*out_cols)

    def read(self) -> Optional[DataFrame]:
        """The maintained aggregate as of all committed batches."""
        partials = self._read_partials()
        return None if partials is None else self._merge(partials)

    # ---------------------------------------------------- compaction

    def compact(self, force: bool = False) -> int:
        """Fold committed batch partitions into one seed slot by the
        shared marker-commit protocol (streaming/compaction.py): the
        newest live batch is never folded, and the fold merges partials
        exactly as a read does. Returns the number of batch partitions
        folded."""

        def fold(sources: DataFrame, target: str, upto: int) -> None:
            (
                sources.groupBy(*self.keys)
                .agg(*self._merge_exprs())
                .withColumn(_WM_COL, F.lit(upto).cast("long"))
                .write.mode("overwrite")
                .parquet(target)
            )

        return self._mc.compact(self.spark, fold, force)
