"""Handlers: run the pipeline's SQL against one micro-batch.

Reference semantics (sqlflow/handlers.py): a batch of messages becomes
a table named ``batch``; the handler SQL runs once per batch; the
result goes to the sink. Our batch is a DataFrame (from a streaming
micro-batch or a file read) registered as a temp view — the SQL runs
through Catalyst, so the per-batch plan gets pushdown/codegen like any
other query.

- InferredBatch == reference InferredMemBatch/InferredDiskBatch merged:
  schema is inferred from the data. Spark has no mem/disk handler split
  — spill behavior is the engine's job (that distinction exists in the
  reference only because DuckDB buffers the batch itself).
- StructuredBatch == reference StructuredBatch: the batch is inserted
  into a known table (schema enforced), then the SQL runs against that
  table's accumulated state.
"""

from __future__ import annotations

import logging
from abc import ABC, abstractmethod
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_flow_spark import config

logger = logging.getLogger(__name__)


class Handler(ABC):
    @abstractmethod
    def invoke(self, spark: SparkSession, batch_df: DataFrame) -> Optional[DataFrame]:
        """Run the handler SQL over one micro-batch."""


class InferredBatch(Handler):
    """SQL over the inferred-schema batch view (reference:
    handlers.py:88 InferredMemBatch / :31 InferredDiskBatch)."""

    def __init__(self, sql: str):
        self.sql = sql

    def invoke(self, spark: SparkSession, batch_df: DataFrame) -> Optional[DataFrame]:
        # Inside foreachBatch the micro-batch belongs to a cloned
        # streaming session; register and query THERE or the SQL reads
        # a stale `batch` view on the outer session.
        session = batch_df.sparkSession
        batch_df.createOrReplaceTempView("batch")
        return session.sql(self.sql)


class StructuredBatch(Handler):
    """Insert the batch into a known table, then run the SQL against
    the table (reference: handlers.py:136).

    Accumulated state is durable: each micro-batch is appended as
    parquet to ``state_dir`` and the table view is re-bound to a plain
    parquet scan of that directory. Planning cost per batch
    is constant (one scan, no growing union lineage), state lives in
    storage rather than executor memory, and it survives session or
    executor loss — a new handler pointed at the same ``state_dir``
    adopts the existing state instead of re-seeding. At cluster scale
    ``state_dir`` is a shared-storage path (and the natural upgrade is
    a Delta/Iceberg MERGE target); many small appended files are the
    classic cost, compacted out-of-band.
    """

    def __init__(self, sql: str, table: str, state_dir: str | None = None):
        self.sql = sql
        self.table = table
        self._state_dir = state_dir
        self._adopted = False

    def invoke(self, spark: SparkSession, batch_df: DataFrame) -> Optional[DataFrame]:
        session = batch_df.sparkSession
        target_schema = session.table(self.table).schema
        aligned = batch_df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target_schema.fields]
        )
        d = self.state_dir()
        if not self._adopted:
            # First touch: adopt pre-existing state (handler restart);
            # otherwise seed with the target table's current contents
            # so init-command seed rows participate in the state.
            if not self._has_state(d):
                session.table(self.table).write.mode("append").parquet(d)
            self._adopted = True
        aligned.write.mode("append").parquet(d)
        state = session.read.schema(target_schema).parquet(d)
        state.createOrReplaceTempView(self.table)
        return session.sql(self.sql)

    def state_dir(self) -> str:
        if self._state_dir is None:
            import tempfile

            self._state_dir = tempfile.mkdtemp(prefix=f"sfs-state-{self.table}-")
            # Durable-in-name-only without an explicit dir: a fresh
            # mkdtemp means restart-adoption silently doesn't hold and
            # the temp state grows unboundedly. Say so, loudly.
            logger.warning(
                "StructuredBatch(table=%r) got no state_dir: "
                "using fresh temp dir %s — state will NOT be adopted on "
                "restart and is never compacted. Pass state_dir= (shared "
                "storage at cluster scale) for real durability.",
                self.table,
                self._state_dir,
            )
        return self._state_dir

    @staticmethod
    def _has_state(d: str) -> bool:
        import os

        if not os.path.isdir(d):
            return False
        return any(
            name == "_SUCCESS" or name.startswith("part-")
            for name in os.listdir(d)
        )


def new_handler_from_conf(handler_conf: config.HandlerConf) -> Handler:
    typ = handler_conf.type
    if typ in ("handlers.InferredBatch", "handlers.InferredMemBatch",
               "handlers.InferredDiskBatch"):
        return InferredBatch(sql=handler_conf.sql)
    if typ == "handlers.StructuredBatch":
        assert handler_conf.table, "StructuredBatch requires a table name"
        return StructuredBatch(
            sql=handler_conf.sql,
            table=handler_conf.table,
            state_dir=handler_conf.state_dir,
        )
    raise NotImplementedError(f"Unsupported handler type: {typ}")
