"""Observability (reference: sqlflow/pipeline.py OpenTelemetry
counters/histograms — message_count, sink_flush_*,
batch_processing_latency; exposed via Prometheus in cmd/sql-flow.py).

Spark-native: Structured Streaming already emits per-micro-batch
progress (input rows, processing rates, state store stats, per-source
offsets) through StreamingQueryListener — the engine-level equivalent
of the reference's hand-maintained counters. MetricsListener captures
those events in-process; ``summary()`` is the scrape surface (wire it
to any exporter; no prometheus client is bundled here).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class QueryMetrics:
    query_name: str = ""
    num_batches: int = 0
    num_input_rows: int = 0
    last_rows_per_sec: float = 0.0
    # running count/total, not a per-batch list: a standing query
    # reports for its whole life and only the mean is read
    timed_batches: int = 0
    batch_ms_total: int = 0


class MetricsListener(StreamingQueryListener):
    """Collects per-query micro-batch progress. Thread-safe; events
    arrive on Spark's listener bus thread."""

    def __init__(self):
        self._lock = threading.Lock()
        self.queries: dict[str, QueryMetrics] = {}

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event):
        with self._lock:
            self.queries.setdefault(
                str(event.id), QueryMetrics(query_name=event.name or str(event.id))
            )

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            m = self.queries.setdefault(
                str(p.id), QueryMetrics(query_name=p.name or str(p.id))
            )
            m.num_batches += 1
            m.num_input_rows += int(p.numInputRows or 0)
            m.last_rows_per_sec = float(p.processedRowsPerSecond or 0.0)
            dur = (p.durationMs or {}).get("triggerExecution")
            if dur is not None:
                m.timed_batches += 1
                m.batch_ms_total += int(dur)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    # -- scrape surface ----------------------------------------------------
    def summary(self) -> dict:
        with self._lock:
            return {
                qid: {
                    "query_name": m.query_name,
                    "num_batches": m.num_batches,
                    "num_input_rows": m.num_input_rows,
                    "last_rows_per_sec": m.last_rows_per_sec,
                    "avg_batch_ms": (
                        m.batch_ms_total / m.timed_batches if m.timed_batches else 0.0
                    ),
                }
                for qid, m in self.queries.items()
            }


def attach_metrics(spark: SparkSession) -> MetricsListener:
    listener = MetricsListener()
    spark.streams.addListener(listener)
    return listener
