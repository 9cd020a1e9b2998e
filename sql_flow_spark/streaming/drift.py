"""Streaming drift monitoring — per-micro-batch PSI against frozen
reference fences.

Closes the loop between the batch drift family (operators/drift.py,
operators/stats.py) and the streaming engine: the BATCH layer fits the
reference profile (decile fences per group, operators/drift.py
psi_drift's binning), this module FREEZES those fences and scores
every arriving micro-batch against them inside ``foreachBatch`` — the
model-ops deployment shape (reference window: training data; live
window: each micro-batch) where drift must be seen within one trigger,
not at the next nightly batch job.

Why foreachBatch and not a stateful aggregation: PSI needs the batch's
FULL per-bin histogram against a broadcast constant — a per-batch
groupBy, not cross-batch state. foreachBatch gives each micro-batch as
a bounded DataFrame; the score lands in a driver-side alert callback
and (optionally) a sink, while the main handler leg is untouched.

Scale shape: fences are a types x 9 plain-Python dict broadcast into
the batch plan as a literal MapType column; scoring is one
bounded-key groupBy per micro-batch with map-side partials. No state
store, no extra shuffle on the main leg, no driver collect of raw
rows (only the types-sized score table).
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sql_flow_spark.streaming import foreach_batch_query

logger = logging.getLogger(__name__)

# Laplace smoothing matching operators/drift.py psi_drift: +0.5 per
# bin, +5 per distribution (10 bins).
_N_BINS = 10


def reference_fences(
    df: DataFrame, group_col: str, value_col: str
) -> dict[str, list[float]]:
    """Fit per-group decile fences on a REFERENCE DataFrame (training
    window). Returns {group: [f1..f9]} — small by contract (bounded
    group key space), safe to hold on the driver and close over in
    foreachBatch."""
    fracs = [i / 10 for i in range(1, 10)]
    rows = (
        df.groupBy(group_col)
        .agg(F.percentile(value_col, F.lit(fracs)).alias("fences"))
        .collect()
    )
    return {r[group_col]: list(r["fences"]) for r in rows}


def psi_of_batch(
    batch: DataFrame,
    fences: dict[str, list[float]],
    group_col: str,
    value_col: str,
    ref_counts: dict[str, list[int]] | None = None,
) -> DataFrame:
    """Score one bounded DataFrame against frozen fences. Returns
    (group, psi, n) — PSI of the batch's value distribution vs the
    uniform reference implied by decile fences (each reference bin
    holds 10% by construction), or vs explicit ``ref_counts``.

    The binning and +0.5/+5 smoothing mirror operators/drift.py
    psi_drift so a batch scored here and the same data scored by the
    batch operator agree."""
    fence_map = F.create_map(
        *[
            x
            for g, fs in sorted(fences.items())
            for x in (F.lit(g), F.array(*[F.lit(float(f)) for f in fs]))
        ]
    )
    fs = fence_map[F.col(group_col)]
    bin_col = sum(
        F.when(F.col(value_col) >= fs[i], 1).otherwise(0)
        for i in range(_N_BINS - 1)
    )
    counts = (
        batch.where(fs.isNotNull())
        .groupBy(F.col(group_col).alias("group"), bin_col.alias("bin"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    # Reference proportion per bin: uniform 10% by decile construction
    # (or explicit counts). Smoothed identically to the batch side.
    if ref_counts is None:
        p_ref = F.lit(1.0 / _N_BINS)
    else:
        ref_map = F.create_map(
            *[
                x
                for g, cs in sorted(ref_counts.items())
                for x in (
                    F.lit(g),
                    F.array(*[F.lit(float(c)) for c in cs]),
                )
            ]
        )
        tot = F.aggregate(
            ref_map[F.col("group")], F.lit(0.0), lambda a, b: a + b
        )
        p_ref = (ref_map[F.col("group")][F.col("bin")] + 0.5) / (tot + 5.0)
    tot_b = F.sum("c").over(Window.partitionBy("group"))
    p_batch = (F.col("c").cast("double") + 0.5) / (tot_b.cast("double") + 5.0)
    term = (p_batch - p_ref) * F.log(p_batch / p_ref)
    return (
        counts.select("group", F.col("c"), term.alias("term"))
        .groupBy("group")
        .agg(
            F.sum("term").alias("psi"),
            F.sum("c").cast("long").alias("n"),
        )
    )


class DriftMonitor:
    """Scores each (micro-)batch against frozen reference fences — the
    ``pipeline.drift_monitor`` leg and the body of ``monitor_stream``.

    ``process`` returns the types-sized score rows (group, psi, n,
    drifted, batch_id) ordered by group, each ``drifted`` at
    ``threshold`` (0.25 = the standard "act" level; psi_drift's
    docstring has the scale). Drifted groups log at WARNING (the alert
    path that works with no sink at all); rows also land in ``sink``
    when one is given."""

    name = "drift_monitor"

    def __init__(
        self,
        fences: dict[str, list[float]],
        group_col: str,
        value_col: str,
        threshold: float = 0.25,
        sink=None,
    ):
        self.fences = fences
        self.group_col = group_col
        self.value_col = value_col
        self.threshold = threshold
        self.sink = sink

    def process(self, df: DataFrame, batch_id: int) -> list:
        scored = psi_of_batch(
            df, self.fences, self.group_col, self.value_col
        ).select(
            "group",
            "psi",
            "n",
            (F.col("psi") > self.threshold).alias("drifted"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        # ONE batch scan: the score table is groups-sized, so collect
        # it once and feed the caller, the sink and the alert log from
        # rows.
        rows = sorted(scored.collect(), key=lambda r: r["group"])
        for r in rows:
            if r["drifted"]:
                logger.warning(
                    "drift_monitor: group %r PSI %.3f > %s in batch %s",
                    r["group"], r["psi"], self.threshold, batch_id,
                )
        if self.sink is not None and rows:
            self.sink.write_table(
                df.sparkSession.createDataFrame(rows, scored.schema)
            )
            self.sink.flush()
        return rows


def monitor_stream(
    stream: DataFrame,
    fences: dict[str, list[float]],
    group_col: str,
    value_col: str,
    on_batch: Callable[[int, list], None],
    alert_threshold: float = 0.25,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Attach a PSI drift monitor to a streaming DataFrame.

    Every micro-batch is scored by a ``DriftMonitor`` at
    ``alert_threshold``; ``on_batch(batch_id, rows)`` receives its score
    rows. The returned query runs until stopped — callers own
    lifecycle."""
    monitor = DriftMonitor(fences, group_col, value_col, alert_threshold)

    def _score(batch: DataFrame, batch_id: int) -> None:
        on_batch(batch_id, monitor.process(batch, batch_id))

    return foreach_batch_query(
        stream, _score, checkpoint_dir, available_now=False
    )
