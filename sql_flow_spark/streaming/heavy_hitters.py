"""Streaming heavy hitters — Misra–Gries summaries maintained across
micro-batches.

The batch operator (functions/textprep.py ``heavy_hitters``) proves
the pattern: per-partition MG summaries → tiny candidate merge →
exact broadcast recount, no full-keyspace shuffle. A stream needs the
same answer CONTINUOUSLY: "which keys exceed share θ of everything
seen so far". This module keeps one MG summary table on disk
(batch-keyed overwrite directories — the ingest-dedup exactly-once
contract) and folds each micro-batch's partition summaries into it.

Guarantee carried across batches: summing MG summaries preserves the
undercount bound — each batch's summaries undercount by ≤ n_b/(K+1),
so the merged counter for key w satisfies
  true(w) − N/(K+1) ≤ merged(w) ≤ true(w)
over the whole stream (N = total rows so far). Every key with
true share > 1/(K+1) therefore survives in the state and clears the
report's upper-bound threshold (no false negatives); a reported key's
true count is bounded within [merged, merged+N/(K+1)], both bounds
are emitted, and ``certain`` marks keys whose LOWER bound already
clears the threshold — uncertainty is surfaced, not hidden behind a
point estimate pretending to be exact.
(The batch operator's exact-recount step needs a second pass over the
data, which a stream cannot replay — the bounds are the honest
streaming substitute.)

Scale shape: per batch, ONE Spark job — a narrow mapInPandas (≤ K
rows + one total row per partition) merged by a ≤ K x partitions-row
groupBy; everything else (snapshot read, MG fold, snapshot write) is
driver-side pyarrow IO on ≤ K rows, because the state is driver-sized
BY CONSTRUCTION. Each ``b=`` directory is a FULL ≤ K-row snapshot;
after every successful write, snapshots older than the predecessor
actually read are pruned (that predecessor survives for
crash-replay), so BOTH the row count and the directory count stay
bounded for the stream's lifetime.
"""

from __future__ import annotations

import logging
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark.streaming.compaction import batch_dirs

logger = logging.getLogger(__name__)

DEFAULT_K = 63


def mg_partition_summaries(
    df: DataFrame, key_col: str, k: int, with_totals: bool = False
) -> DataFrame:
    """≤ k (key, c) rows per partition via classic Misra–Gries.

    ``with_totals`` adds one NULL-key row per partition carrying the
    partition's exact row count, so the caller gets the batch total
    from the same single pass (folding it here saves fold_batch a
    second full scan of the batch — half the distributed work)."""

    def _mg(batches):
        counters: dict = {}
        total = 0
        for pdf in batches:
            total += len(pdf)
            for w in pdf[key_col]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < k:
                    counters[w] = 1
                else:
                    dead = [x for x in counters if counters[x] == 1]
                    for x in counters:
                        counters[x] -= 1
                    for x in dead:
                        del counters[x]
        keys = list(counters)
        counts = list(counters.values())
        if with_totals and total:
            keys.append(None)
            counts.append(total)
        if keys:
            yield pd.DataFrame({"key": keys, "c": counts})

    # cast to string BEFORE the Arrow boundary: the declared output
    # schema is `key string`, and a bigint key column (e.g. a user_id
    # stream) would otherwise raise an Arrow type error inside the UDF
    return df.select(F.col(key_col).cast("string").alias(key_col)).mapInPandas(
        _mg, "key string, c long"
    )


def _mg_compact(rows: list[tuple[str, int]], k: int) -> list[tuple[str, int]]:
    """Reduce a merged counter table back to ≤ k entries, preserving
    the MG bound: repeatedly subtract the (k+1)-th largest count from
    the top k+1 and drop non-positives — equivalent to running MG over
    the expanded multiset, O(n log n) on a k-x-partitions-sized list."""
    rows = sorted(rows, key=lambda t: (-t[1], t[0]))
    while len(rows) > k:
        cut = rows[k][1]  # (k+1)-th largest
        rows = [(w, c - cut) for w, c in rows if c - cut > 0]
        rows.sort(key=lambda t: (-t[1], t[0]))
    return rows


class StreamingHeavyHitters:
    """Disk-backed MG state folded per micro-batch.

    Layout: ``state_dir/b=<batch>/`` holds the FULL compacted summary
    as of that batch (plus ``n`` total rows seen) — overwrite-idempotent
    under replay, and the newest ``b=`` partition is the whole state, so
    recovery reads one directory.

    As a pipeline leg (``pipeline.heavy_hitters``), ``process`` folds
    each batch and logs the report."""

    name = "heavy_hitters"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str,
        k: int = DEFAULT_K,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.key_col = key_col
        self.k = k

    def _latest(self, before_batch: int):
        """(batch_id, rows, n) of the newest state strictly older than
        ``before_batch`` (replay protection, as in ingest_dedup).

        Reads the ≤ K-row snapshot with pyarrow directly — the state is
        driver-sized BY CONSTRUCTION (the whole point of MG), so a
        Spark read here is pure scheduling overhead. The 100-batch
        growth probe measured the old 3-job Spark fold at 5.3 s/batch;
        the distributed work is one job (the mapInPandas summary
        pass), everything else is local IO on ≤ K rows. pyarrow reads
        both the old Spark-written snapshots (ignores _SUCCESS) and
        the pyarrow-written ones."""
        import pyarrow.parquet as pq

        ids = [b for b in batch_dirs(self.state_dir) if b < before_batch]
        if not ids:
            return None, [], 0
        head = max(ids)
        try:
            tbl = pq.read_table(os.path.join(self.state_dir, f"b={head}"))
        except OSError:  # pragma: no cover - partial dir from a crash
            return None, [], 0
        keys = tbl.column("key").to_pylist()
        cs = tbl.column("c").to_pylist()
        ns = tbl.column("n").to_pylist()
        n = ns[0] if ns else 0
        return head, list(zip(keys, cs)), n

    def _prune(self, batch_id: int, pred: int | None) -> None:
        """Drop state snapshots older than the predecessor snapshot
        this fold actually read (``pred``, from _latest).

        Each ``b=<batch>`` directory is a FULL snapshot, so only the
        newest matters for reads — but the read predecessor must
        survive so a crash-replay of ``batch_id`` (which reads state
        strictly older than itself) still finds its input. Pruning
        relative to the READ predecessor (not batch_id - 1) keeps
        replay safe under gapped batch ids too: a manual fold 0 then 5
        keeps b=0 until batch 5's successor commits (ADVICE r9).
        Without pruning, the per-batch listing cost of _latest grows
        linearly with stream lifetime even though the row count never
        does."""
        import shutil

        keep_from = pred if pred is not None else batch_id
        for b in batch_dirs(self.state_dir):
            if b < keep_from:
                try:
                    shutil.rmtree(os.path.join(self.state_dir, f"b={b}"))
                except OSError as e:  # pragma: no cover - best-effort
                    logger.warning(
                        "heavy-hitters prune: could not remove b=%s: %s", b, e
                    )

    def _write_snapshot(
        self, batch_id: int, compact: list, n: int
    ) -> None:
        """Overwrite ``b=<batch_id>`` with the ≤ K-row snapshot via
        pyarrow (same overwrite-idempotent replay semantics as the old
        Spark write, minus the Spark job — the state is driver-sized).
        A crash mid-write leaves a partial dir; the stream replays the
        batch and overwrites it, exactly as with Spark's non-atomic
        overwrite mode."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = compact or [("", 0)]
        d = os.path.join(self.state_dir, f"b={batch_id}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        tbl = pa.table(
            {
                "key": pa.array([w for w, _ in rows], pa.string()),
                "c": pa.array([int(c) for _, c in rows], pa.int64()),
                "n": pa.array([int(n)] * len(rows), pa.int64()),
            }
        )
        pq.write_table(tbl, os.path.join(d, "data.parquet"))

    def fold_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """Fold one micro-batch; returns the current heavy-hitter
        report {key: {count_lo, count_hi, share_lo}} plus totals."""
        # ONE Spark job: per-partition MG summaries + per-partition
        # totals (NULL key) merged in a ≤ K×partitions-row groupBy.
        rows = (
            mg_partition_summaries(
                batch_df, self.key_col, self.k, with_totals=True
            )
            .groupBy("key")
            .agg(F.sum("c").alias("c"))
            .collect()
        )
        batch_n = next((r["c"] for r in rows if r["key"] is None), 0)
        summaries = [(r["key"], r["c"]) for r in rows if r["key"] is not None]
        pred, prior, prior_n = self._latest(batch_id)
        merged: dict = dict(prior)
        for w, c in summaries:
            merged[w] = merged.get(w, 0) + c
        compact = _mg_compact(list(merged.items()), self.k)
        n = prior_n + batch_n
        self._write_snapshot(batch_id, compact, n)
        self._prune(batch_id, pred)
        slack = n // (self.k + 1)
        # No false negatives: true(w) <= count_hi, so every key whose
        # true share exceeds 1/(K+1) has count_hi past the threshold
        # and is reported; `certain` marks keys whose LOWER bound
        # already clears it (guaranteed hitters).
        report = {
            w: {
                "count_lo": c,
                "count_hi": c + slack,
                "share_lo": c / n if n else 0.0,
                "certain": c * (self.k + 1) > n,
            }
            for w, c in compact
            if w and (c + slack) * (self.k + 1) > n
        }
        return {"n": n, "batch_n": batch_n, "hitters": report}

    def process(self, batch_df: DataFrame, batch_id: int) -> dict:
        """Fold one batch and log every reported key: certain hitters
        at WARNING, possible ones at INFO. Returns the fold_batch
        report."""
        result = self.fold_batch(batch_df, batch_id)
        for key, rep in sorted(result["hitters"].items()):
            log = logger.warning if rep["certain"] else logger.info
            log(
                "heavy_hitters: key %r count in [%s, %s] (share >= %.3f%s) "
                "after batch %s of n=%s",
                key, rep["count_lo"], rep["count_hi"],
                rep["share_lo"], ", certain" if rep["certain"] else "",
                batch_id, result["n"],
            )
        return result
