"""Pipeline engine: config -> source -> handler SQL -> sink, plus legs.

Reference architecture (sqlflow/pipeline.py SQLFlow.consume_loop):
buffer a batch of messages, run handler SQL, write sink, repeat —
with RAISE/IGNORE/DLQ error policies and managed windowed tables.

Spark-native mapping:
- batch mode (``invoke``): the fixture/source is read once as the
  ``batch`` view; handler SQL runs through Catalyst; result goes to the
  sink. This is the reference's ``dev invoke``.
- streaming mode (``start``): readStream + foreachBatch. Each
  micro-batch plays the role of the reference's message batch: it is
  registered as ``batch``, the handler SQL runs on it, and the result
  is written to the sink. Offsets/commits/retries are Spark's
  checkpointing — the hand-rolled commit logic in the reference's
  consume_loop is exactly what Structured Streaming provides.

Both modes run ONE dispatch body (``_dispatch``) per batch; ``invoke``
is batch 0. It runs, in order:

1. the main leg: handler SQL, then its sink;
2. every leg in ``Pipeline.legs``: first the SQL fan-out legs
   (``fanout:`` in the config, each its own handler and sink), then
   the monitoring legs — drift_monitor, ingest_dedup, curation_gate,
   heavy_hitters, rollup, ann_index — built from ``pipeline.*`` by
   ``monitors_from_conf``. A leg is any object with a ``name`` and a
   ``process(df, batch_id)`` method (``Leg``); all of them read the
   same source batch.

Error semantics (reference: pipeline.py:205-238), one policy for every
leg: RAISE re-raises (fails the query), IGNORE counts the error and
goes on, DLQ counts it and writes the error envelope to the DLQ sink
with ``phase`` = the failing leg (``handler.invoke``, ``leg.<name>``
for a fan-out leg, the config key for a monitoring leg) and
``message`` = ``batch`` or ``micro-batch <id>``. A main-handler
failure skips the rest of that batch; a leg failure skips only that
leg. Main-sink errors are not policy-handled: they propagate.
"""

from __future__ import annotations

import logging
import tempfile
from dataclasses import dataclass
from typing import Optional, Protocol

from pyspark.sql import DataFrame, SparkSession

from sql_flow_spark import config as cfg
from sql_flow_spark.handlers import Handler, new_handler_from_conf
from sql_flow_spark.serde import JSONSerde
from sql_flow_spark.sinks import DLQSink, NoopSink, Sink, new_sink_from_conf
from sql_flow_spark.sources import new_source_from_conf
from sql_flow_spark.streaming import foreach_batch_query
from sql_flow_spark.udf import init_udfs

logger = logging.getLogger(__name__)


@dataclass
class Stats:
    num_batches: int = 0
    num_errors: int = 0


class Leg(Protocol):
    """One step after the main handler->sink, run on every batch.
    ``name`` is the DLQ ``phase`` of its failures."""

    name: str

    def process(self, df: DataFrame, batch_id: int) -> object: ...


class SQLLeg:
    """A fan-out leg: its own handler SQL over the shared batch, its
    result into its own sink."""

    def __init__(self, spark: SparkSession, name: str, handler: Handler, sink: Sink):
        self.spark = spark
        self.name = f"leg.{name}"
        self.handler = handler
        self.sink = sink

    def process(self, df: DataFrame, batch_id: int) -> None:
        result = self.handler.invoke(self.spark, df)
        if result is not None:
            self.sink.write_table(result)
            self.sink.flush()


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        source,
        handler: Handler,
        sink: Sink,
        error_policy: str = cfg.Policy.RAISE,
        dlq_sink: Optional[Sink] = None,
        legs: Optional[list[tuple[str, Handler, Sink]]] = None,
        dedupe: Optional[cfg.DedupeConf] = None,
        monitors: Optional[list[Leg]] = None,
    ):
        """``legs`` are (name, handler, sink) fan-out triples;
        ``monitors`` are leg objects, run after them in list order."""
        self.spark = spark
        self.source = source
        self.handler = handler
        self.sink = sink
        self.error_policy = error_policy
        self.dlq = DLQSink(dlq_sink or NoopSink(), spark)
        self.dedupe = dedupe
        self.stats = Stats()
        self.legs: list[Leg] = [
            SQLLeg(spark, name, h, s) for name, h, s in legs or []
        ] + list(monitors or [])

    def _apply_dedupe(self, df: DataFrame, streaming: bool) -> DataFrame:
        """Source-side exactly-once per key (config ``pipeline.dedupe``,
        reference idempotent-sink parity). Streaming uses watermarked
        state (dedupe_stream); batch is a plain dropDuplicates on the
        keys (the winning row among duplicates is arbitrary, as in any
        engine's keyed insert-or-ignore)."""
        if self.dedupe is None:
            return df
        if streaming:
            from sql_flow_spark.streaming.dedupe import dedupe_stream

            return dedupe_stream(
                df,
                self.dedupe.keys,
                time_column=self.dedupe.time_column,
                watermark_delay=self.dedupe.watermark_delay,
            )
        return df.dropDuplicates(self.dedupe.keys)

    def _dispatch(self, df: DataFrame, batch_id: int, ctx: str) -> Optional[DataFrame]:
        """The one per-batch body shared by ``invoke`` and the
        foreachBatch path: main leg, then every leg, each under the
        error policy (module docstring). Returns the main handler
        result, None when it failed."""
        try:
            result = self.handler.invoke(self.spark, df)
        except Exception as e:
            self._on_error(e, ctx, "handler.invoke")
            return None
        if result is not None:
            self.sink.write_table(result)
            self.sink.flush()
            self.stats.num_batches += 1
        for leg in self.legs:
            try:
                leg.process(df, batch_id)
            except Exception as e:
                self._on_error(e, ctx, leg.name)
        return result

    def _on_error(self, e: Exception, ctx: str, phase: str) -> None:
        self.stats.num_errors += 1
        logger.error("%s failed on %s: %s", phase, ctx, e)
        if self.error_policy == cfg.Policy.RAISE:
            raise e
        if self.error_policy == cfg.Policy.DLQ:
            self.dlq.write_error(str(e), ctx, phase)

    def invoke(self, batch_df: Optional[DataFrame] = None) -> Optional[DataFrame]:
        """Run one batch through the dispatch body (reference:
        lifecycle.py invoke). It scores as batch 0: the same idempotent
        slot every run — `dev invoke` is a test harness, not ingest.
        Returns the main handler result."""
        df = batch_df if batch_df is not None else self.source.read(self.spark)
        df = self._apply_dedupe(df, streaming=False)
        return self._dispatch(df, 0, "batch")

    # -------------------------------------------------- streaming mode

    def _foreach_batch(self, batch_df: DataFrame, batch_id: int):
        # A stateful operator upstream (pipeline.dedupe) requires the
        # foreachBatch body to process EVERY partition of the
        # micro-batch, or Spark's state-store commit validation fails
        # the query (handler SQL may prune partitions; the DLQ path
        # returns early). persist+count commits the state exactly once
        # and the handler reuses the cached batch; unpersisted in
        # finally, so the CacheManager-empty invariant holds.
        stateful = self.dedupe is not None
        if stateful:
            batch_df = batch_df.persist()
            batch_df.count()
        try:
            self._dispatch(batch_df, batch_id, f"micro-batch {batch_id}")
        finally:
            if stateful:
                batch_df.unpersist()

    def start(
        self,
        available_now: bool = True,
        checkpoint_dir: str | None = None,
        processing_time: str | None = None,
        managed_tables: list | None = None,
    ):
        """Start the streaming query. available_now=True drains what's
        there and stops (bounded runs/tests); otherwise it's a standing
        query with processing_time triggers.

        managed_tables (cfg.ManagedTableConf list) each get their own
        windowed streaming query off the same source — the Spark-native
        version of the reference's managed-table threads
        (pipeline.py:316 build_managed_tables + managers/window.py).
        """
        base = checkpoint_dir or tempfile.mkdtemp(prefix="sfs-ckpt-")
        queries = []
        for tconf in managed_tables or []:
            queries.append(self._start_managed(tconf, base, available_now, processing_time))

        stream = self._apply_dedupe(
            self.source.read_stream(self.spark), streaming=True
        )
        main = foreach_batch_query(
            stream, self._foreach_batch, f"{base}/main",
            available_now, processing_time,
        )
        main.managed_queries = queries  # type: ignore[attr-defined]
        return main

    def _start_managed(self, tconf, base_ckpt: str, available_now: bool,
                       processing_time: str | None):
        """One watermarked tumbling-window query: closed windows flow
        to the table's own sink in append mode (= the reference's
        collect-closed / publish / delete poll loop)."""
        from pyspark.sql import functions as F

        from sql_flow_spark.streaming.window import tumbling_aggregate

        tw = tconf.tumbling_window
        sink = new_sink_from_conf(tconf.sink, self.spark)
        # pipeline.dedupe covers every leg reading the source: without
        # this the managed-table aggregates would count duplicate
        # records the main handler never sees.
        stream = self.source.read_stream(self.spark)
        ts_type = dict(stream.dtypes).get(tw.time_column)
        if ts_type != "timestamp":
            stream = stream.withColumn(tw.time_column, F.to_timestamp(tw.time_column))
        window_delay: str | None = tw.watermark_delay
        if self.dedupe is not None and self.dedupe.time_column:
            # Chained stateful operators share ONE watermark (Spark
            # disallows redefining it below the dedupe state): the
            # dedupe stage owns it, the window inherits it — so the
            # dedupe's time column must be the window's time column.
            if self.dedupe.time_column != tw.time_column:
                raise ValueError(
                    "pipeline.dedupe.time_column "
                    f"({self.dedupe.time_column!r}) must match managed "
                    f"table {tconf.name!r} time_column "
                    f"({tw.time_column!r}): chained stateful operators "
                    "share a single event-time watermark"
                )
            window_delay = None
        stream = self._apply_dedupe(stream, streaming=True)
        aggs = [F.expr(a) for a in tw.aggregates] or None
        result = tumbling_aggregate(
            stream, tw.time_column, tw.duration,
            aggs=aggs, group_by=tw.group_by, watermark_delay=window_delay,
        )

        def emit(batch_df: DataFrame, batch_id: int):
            if batch_df.isEmpty():
                return
            sink.write_table(batch_df)
            sink.flush()

        # foreachBatch writes in append mode, the only mode a
        # watermarked window emits closed windows in
        return foreach_batch_query(
            result, emit, f"{base_ckpt}/managed-{tconf.name}",
            available_now, processing_time, name=f"managed-{tconf.name}",
        )


def init_commands(spark: SparkSession, commands: list[cfg.SQLCommand]):
    """Init SQL run once before the pipeline (views over static files,
    etc. — reference: pipeline.py:296)."""
    for command in commands:
        logger.info("executing command %s", command.name)
        spark.sql(command.sql)


def monitors_from_conf(p: cfg.PipelineConf, spark: SparkSession) -> list[Leg]:
    """The one place that maps ``pipeline.*`` monitoring blocks to leg
    objects, in dispatch order. Each leg's module is imported only when
    its block is set."""
    monitors: list[Leg] = []
    if p.drift_monitor is not None:
        from sql_flow_spark.streaming.drift import DriftMonitor, reference_fences

        dm = p.drift_monitor
        # fences fitted ONCE here on the reference dataset (a bounded
        # groups x 9 driver dict), then scored per batch
        ref = spark.read.format(dm.reference_format).load(dm.reference_path)
        monitors.append(DriftMonitor(
            reference_fences(ref, dm.group_column, dm.value_column),
            dm.group_column, dm.value_column, dm.threshold,
            new_sink_from_conf(dm.sink, spark) if dm.sink is not None else None,
        ))
    if p.ingest_dedup is not None:
        from sql_flow_spark.streaming.ingest_dedup import IngestDedup

        d = p.ingest_dedup
        monitors.append(IngestDedup(
            spark, index_dir=d.index_dir, id_col=d.id_column,
            text_col=d.text_column, out_dir=d.out_dir,
        ))
    if p.curation_gate is not None:
        from sql_flow_spark.streaming.curation_gate import CurationGate

        g = p.curation_gate
        # None thresholds = the batch gate's defaults (resolved inside
        # CurationGate — the single source of truth)
        monitors.append(CurationGate(
            spark, index_dir=g.index_dir, id_col=g.id_column,
            text_col=g.text_column, out_dir=g.out_dir,
            quality_min=g.quality_min, rep_max=g.rep_max,
        ))
    if p.heavy_hitters is not None:
        from sql_flow_spark.streaming.heavy_hitters import StreamingHeavyHitters

        h = p.heavy_hitters
        monitors.append(StreamingHeavyHitters(
            spark, state_dir=h.state_dir, key_col=h.key_column, k=h.k,
        ))
    if p.rollup is not None:
        from sql_flow_spark.streaming.rollup import StreamingRollup

        r = p.rollup
        monitors.append(StreamingRollup(
            spark, table_dir=r.table_dir, keys=r.keys, aggs=r.aggs,
        ))
    if p.ann_index is not None:
        from sql_flow_spark.streaming.ann_index import AnnIndexLeg

        monitors.append(AnnIndexLeg(spark, p.ann_index))
    return monitors


def new_pipeline_from_conf(
    conf: cfg.Conf, spark: SparkSession, sink_override: Sink | None = None
) -> Pipeline:
    from sql_flow_spark.sources.external import register_external_tables

    # external views first so init commands can reference them
    register_external_tables(spark, conf.external_tables)
    init_commands(spark, conf.commands)
    init_udfs(spark, conf.udfs)
    p = conf.pipeline
    dlq_sink = (
        new_sink_from_conf(p.on_error.dlq, spark) if p.on_error.dlq else None
    )
    legs = [
        (leg.name, new_handler_from_conf(leg.handler),
         new_sink_from_conf(leg.sink, spark))
        for leg in conf.fanout
    ]
    return Pipeline(
        spark=spark,
        source=new_source_from_conf(p.source),
        handler=new_handler_from_conf(p.handler),
        sink=sink_override or new_sink_from_conf(p.sink, spark),
        error_policy=p.on_error.policy,
        dlq_sink=dlq_sink,
        legs=legs,
        dedupe=p.dedupe,
        monitors=monitors_from_conf(p, spark),
    )


def invoke(
    spark: SparkSession,
    config_path: str,
    fixture_path: str,
    setting_overrides: dict | None = None,
    sink_override: Sink | None = None,
) -> Optional[DataFrame]:
    """Run a pipeline config against a jsonl fixture file (reference:
    cmd/sql-flow.py ``dev invoke`` / lifecycle.py:11)."""
    conf = cfg.new_from_path(config_path, setting_overrides)
    pipe = new_pipeline_from_conf(conf, spark, sink_override=sink_override)
    with open(fixture_path) as f:
        records = [line.strip() for line in f if line.strip()]
    serde = JSONSerde()
    batch = serde.to_dataframe(spark, records)
    return pipe.invoke(batch)
