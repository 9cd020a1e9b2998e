"""Structured Streaming operators: windowed aggregation (the
reference's managed tumbling-window tables), stream dedup, custom
stateful processing."""

from sql_flow_spark.streaming.window import (
    session_aggregate,
    sliding_aggregate,
    tumbling_aggregate,
)
from sql_flow_spark.streaming.dedupe import dedupe_stream
from sql_flow_spark.streaming.state import (
    running_aggregate,
    running_aggregate_ttl,
    running_aggregate_ttl_tws,
    tws_available,
)


def foreach_batch_query(
    stream,
    fn,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    name: str | None = None,
):
    """Start ``fn(batch_df, batch_id)`` as a foreachBatch query over
    ``stream``: the one writer recipe, shared by the pipeline's main and
    managed-table queries. A leg runs standalone the same way:
    ``foreach_batch_query(stream, leg.process, ckpt)``
    (``IncrementalIVF.append_batch`` for the IVF index).
    ``available_now`` drains what is there and stops; otherwise
    ``processing_time`` sets the trigger interval (None = Spark's
    default trigger)."""
    writer = stream.writeStream.foreachBatch(fn)
    if name is not None:
        writer = writer.queryName(name)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


__all__ = [
    "tumbling_aggregate",
    "sliding_aggregate",
    "session_aggregate",
    "dedupe_stream",
    "running_aggregate",
    "running_aggregate_ttl",
    "foreach_batch_query",
]
