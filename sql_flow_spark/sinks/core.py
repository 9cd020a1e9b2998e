"""Sink implementations.

| reference (sqlflow/sinks.py) | here | notes |
|---|---|---|
| ConsoleSink | ConsoleSink | JSON-line per row |
| KafkaSink | KafkaSink | native connector; jar not in container |
| IcebergSink | FileSink(format=iceberg) | catalog jar not in container |
| SQLCommandSink | SQLCommandSink | spark.sql over sqlflow_sink_batch |
| ClickhouseSink | SQLCommandSink/JDBC | JDBC driver not in container |
| local disk / S3 parquet | FileSink | s3a:// path on a cluster |
| NoopSink / RecordingSink | NoopSink / RecordingSink | tests |
| (DLQ policy) | DLQSink | wraps any sink, adds error metadata |

Sinks never collect() large results to the driver except ConsoleSink
(explicitly a debug surface, like the reference's stdout sink).
"""

from __future__ import annotations

import sys
import uuid
from abc import ABC, abstractmethod
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Sink(ABC):
    @abstractmethod
    def write_table(self, df: DataFrame):
        """Buffer/emit one result batch."""

    def flush(self):
        """Flush buffered batches (default: no buffering)."""


class ConsoleSink(Sink):
    def __init__(self, f=None):
        self.f = f or sys.stdout

    def write_table(self, df: DataFrame):
        for (line,) in df.select(F.to_json(F.struct(*df.columns))).collect():
            self.f.write(line)
            self.f.write("\n")


class MemorySink(Sink):
    """Accumulates batches for assertions (and backs the `memory`
    sink type the way format('memory') does for raw streams)."""

    def __init__(self, name: str | None = None):
        self.name = name
        self.batches: list[DataFrame] = []

    def write_table(self, df: DataFrame):
        self.batches.append(df)
        if self.name:
            result = self.batches[0]
            for b in self.batches[1:]:
                result = result.unionByName(b, allowMissingColumns=True)
            # Global so it's visible outside foreachBatch's cloned
            # session: read it as `global_temp.<name>`.
            result.createOrReplaceGlobalTempView(self.name)

    def rows(self) -> list:
        out = []
        for b in self.batches:
            out.extend(b.collect())
        return out


class RecordingSink(MemorySink):
    """Alias of MemorySink (reference: sinks.py:176 RecordingSink)."""


class NoopSink(Sink):
    def write_table(self, df: DataFrame):
        df.write.format("noop").mode("overwrite").save()


class FileSink(Sink):
    """Directory sink: parquet/json/csv; S3 via s3a:// paths on a real
    cluster (reference: local.parquet.sink.yml / s3.parquet.sink.yml).
    Appends one directory-partition per batch.

    ``partition_by`` writes hive-style partition directories
    (path/col=value/...) — the lake layout that lets downstream scans
    partition-prune instead of reading the whole output. At 100 TB
    choose low-cardinality columns (date, lang, source); a
    high-cardinality partition column creates millions of directories
    of tiny files. Pair with the ``maxRecordsPerFile`` option to bound
    file sizes."""

    def __init__(self, path: str, format: str = "parquet", mode: str = "append",
                 options: dict | None = None,
                 partition_by: list[str] | None = None):
        assert path, "files sink requires a path"
        self.path = path
        self.format = format
        self.mode = mode
        self.options = options or {}
        self.partition_by = list(partition_by or [])

    def write_table(self, df: DataFrame):
        w = df.write.format(self.format).mode(self.mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        for k, v in self.options.items():
            w = w.option(k, v)
        w.save(self.path)


class UpsertSink(Sink):
    """Keyed latest-row-wins table on plain parquet — the Spark-native
    equivalent of the reference's idempotent ON CONFLICT DO UPDATE
    sink (reference: dev/config/examples/kafka.motherduck.idempotent.yml,
    sqlflow/sinks.py SQLCommand) with no lakehouse jar required.

    Layout: hive partitions on ``__bucket = pmod(xxhash64(key...),
    n_buckets)``. Each batch (1) reduces itself to latest-per-key,
    (2) finds its touched buckets (≤ n_buckets values — a bounded
    collect), (3) reads ONLY those bucket partitions back
    (partition-pruned scan), (4) merges latest-per-key with the batch
    winning ties, and (5) rewrites only the touched buckets via
    dynamic partition overwrite. Per-batch cost is proportional to the
    touched buckets' size, never the whole table — at 100 TB raise
    n_buckets so a bucket stays executor-memory-sized (the same knob
    as a shuffle partition count).

    Ordering: rows are versioned by ``order_by`` (e.g. an event
    timestamp) when given, else by an internal monotonically
    increasing batch sequence (restart-safe: resumes from the stored
    max). Ties go to the later batch.

    Honesty note: dynamic partition overwrite is atomic per partition
    directory, not across the batch — a crash mid-commit can leave
    some buckets new and some old (re-running the batch converges,
    since upsert is idempotent). The transactional path is a lakehouse
    MERGE (Iceberg/Delta) once the catalog jar ships; this sink is
    the jar-free 90%."""

    SEQ_COL = "__seq"
    BUCKET_COL = "__bucket"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: list[str],
        order_by: str | None = None,
        n_buckets: int = 64,
    ):
        assert path, "upsert sink requires a path"
        assert key, "upsert sink requires key columns"
        self.spark = spark
        self.path = path
        self.key = list(key)
        self.order_by = order_by
        self.n_buckets = n_buckets
        self._seq: Optional[int] = None

    def _table(self) -> Optional[DataFrame]:
        try:
            return self.spark.read.parquet(self.path)
        except Exception:  # first batch: table does not exist yet
            return None

    def _next_seq(self, existing: Optional[DataFrame]) -> int:
        if self._seq is None:
            if existing is not None and self.SEQ_COL in existing.columns:
                row = existing.agg(F.max(self.SEQ_COL)).first()
                self._seq = int(row[0] or 0)
            else:
                self._seq = 0
        self._seq += 1
        return self._seq

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(F.xxhash64(*self.key), F.lit(self.n_buckets)).cast("int"),
        )

    def _latest_per_key(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        order = [F.col(self.SEQ_COL).desc()]
        if self.order_by:
            order.insert(0, F.col(self.order_by).desc())
        w = Window.partitionBy(*self.key).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def write_table(self, df: DataFrame):
        existing = self._table()
        seq = self._next_seq(existing)
        batch = self._bucket(df.withColumn(self.SEQ_COL, F.lit(seq)))
        batch = self._latest_per_key(batch)
        if existing is not None:
            touched = [
                r[0]
                for r in batch.select(self.BUCKET_COL).distinct().collect()
            ]
            old = existing.where(F.col(self.BUCKET_COL).isin(touched))
            merged = self._latest_per_key(
                old.unionByName(batch, allowMissingColumns=True)
            )
        else:
            merged = batch
        # per-write option (not session conf): foreachBatch hands the
        # sink a DataFrame from a CLONED session, so a conf set on the
        # outer session is not guaranteed to reach the write — the
        # writer option overrides the conf wherever the write runs
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.BUCKET_COL)
            .parquet(self.path)
        )

    def current(self) -> Optional[DataFrame]:
        """The table as a DataFrame (without internal columns)."""
        t = self._table()
        if t is None:
            return None
        return t.drop(self.SEQ_COL, self.BUCKET_COL)


class KafkaSink(Sink):
    """Kafka producer via the native connector (jar required on a real
    cluster; reference: sinks.py:125). Rows are JSON-encoded into
    `value` engine-side — no per-row python."""

    def __init__(self, brokers: list[str], topic: str, options: dict | None = None):
        self.brokers = brokers
        self.topic = topic
        self.options = options or {}

    @staticmethod
    def encode(df: DataFrame) -> DataFrame:
        """Rows -> kafka wire `value` (JSON), engine-side."""
        return df.select(F.to_json(F.struct(*df.columns)).alias("value"))

    def write_table(self, df: DataFrame):
        out = self.encode(df)
        w = (
            out.write.format("kafka")
            .option("kafka.bootstrap.servers", ",".join(self.brokers))
            .option("topic", self.topic)
        )
        for k, v in self.options.items():
            w = w.option(k if k.startswith("kafka.") else f"kafka.{k}", v)
        w.save()


class SQLCommandSink(Sink):
    """Run arbitrary SQL per batch against the view
    ``sqlflow_sink_batch`` (reference: sinks.py:92 — this is how the
    reference reaches postgres/motherduck/COPY-to-parquet). Supports
    the reference's uuid4 substitutions (config.py:68)."""

    def __init__(self, spark: SparkSession, sql: str, substitutions: list[dict] | None = None):
        self.spark = spark
        self.sql = sql
        self.substitutions = substitutions or []

    def _apply_substitutions(self) -> str:
        sql = self.sql
        for sub in self.substitutions:
            if sub.get("type") == "uuid4":
                sql = sql.replace(sub["var"], str(uuid.uuid4()))
            else:
                raise NotImplementedError(f"unsupported substitution: {sub}")
        return sql

    def write_table(self, df: DataFrame):
        df.createOrReplaceTempView("sqlflow_sink_batch")
        self.spark.sql(self._apply_substitutions())


class SinkException(Exception):
    """Actionable sink failure (mirrors sources.base.SourceException):
    raised instead of Spark's generic connector errors when the fix is
    a deployment step (jar/catalog), not a code change."""


class JDBCSink(Sink):
    """JDBC table append — the reference reaches postgres/clickhouse
    through DuckDB ATTACH or native clients (reference: sinks.py:147
    ClickhouseSink, dev/config/examples/kafka.postgres.sink.yml); on
    Spark both are JDBC writes. Driver jars are cluster-side; option
    building is testable everywhere."""

    def __init__(self, url: str, table: str, options: dict | None = None):
        assert url and table, "jdbc sink requires url and table"
        self.url = url
        self.table = table
        self.options = options or {}

    def writer_options(self) -> dict:
        return {"url": self.url, "dbtable": self.table, **self.options}

    def write_table(self, df: DataFrame):
        w = df.write.format("jdbc").mode("append")
        for k, v in self.writer_options().items():
            w = w.option(k, v)
        w.save()


class ClickHouseSink(JDBCSink):
    """ClickHouse table append as a JDBC write (reference: sinks.py:147
    ClickhouseSink — buffers a batch, then ``client.insert_arrow`` on
    flush via clickhouse-connect).

    Semantics mapping: the reference's per-flush arrow insert becomes a
    per-micro-batch JDBC batch insert. ClickHouse has no transactions,
    so ``isolationLevel=NONE`` (a COMMIT would error); inserts land in
    row-batches of ``batchsize`` (each an atomic ClickHouse insert
    block — same at-least-once unit as the reference's flush);
    the driver class is pinned so the write doesn't depend on
    DriverManager scanning. The clickhouse-jdbc jar is cluster-side,
    like every connector here. Explicit options override any default.
    """

    CLICKHOUSE_DEFAULTS = {
        "driver": "com.clickhouse.jdbc.ClickHouseDriver",
        "isolationLevel": "NONE",
        "batchsize": "100000",
    }

    def __init__(self, url: str, table: str, options: dict | None = None):
        super().__init__(
            url=url, table=table,
            options={**self.CLICKHOUSE_DEFAULTS, **(options or {})},
        )


class IcebergSink(Sink):
    """Iceberg table append (reference: sinks.py:71 via pyiceberg).
    Spark-native: ``df.writeTo(table).append()`` against a configured
    iceberg catalog. The iceberg-spark-runtime jar and a catalog are
    cluster-side concerns (not in this container); construction and
    config parsing work everywhere, the write fails with a clear error
    until ``spark.sql.catalog.<name>`` is configured."""

    def __init__(self, table: str):
        assert table, "iceberg sink requires a table name"
        self.table = table

    def write_table(self, df: DataFrame):
        try:
            df.writeTo(self.table).append()
        except Exception as e:
            msg = str(e)
            # three shapes of "the catalog isn't really there": plugin
            # class missing (jar not shipped), catalog name unknown, or
            # the multi-part name fell through to spark_catalog
            if "catalog" in msg.lower() and (
                "plugin" in msg.lower()
                or "CATALOG_NOT_FOUND" in msg
                or "REQUIRES_SINGLE_PART_NAMESPACE" in msg
            ):
                raise SinkException(
                    f"no usable catalog for iceberg table {self.table!r}: "
                    "launch with --packages org.apache.iceberg:"
                    "iceberg-spark-runtime-<spark>_<scala>:<version> and "
                    "configure spark.sql.catalog.<name> (see "
                    "examples/files.lakehouse.yml and SCALING.md jar probe)"
                ) from e
            raise


class DLQSink(Sink):
    """Wraps a sink with dead-letter semantics: write_error records the
    failure envelope (reference: pipeline.py:228 dlq_message shape)."""

    def __init__(self, inner: Sink, spark: SparkSession):
        self.inner = inner
        self.spark = spark

    def write_table(self, df: DataFrame):
        self.inner.write_table(df)

    def write_error(self, error: str, payload: str, phase: str):
        df = self.spark.createDataFrame(
            [(error, payload, phase)], "error string, message string, phase string"
        ).withColumn("timestamp", F.current_timestamp())
        self.inner.write_table(df)


def new_sink_from_conf(sink_conf, spark: SparkSession) -> Sink:
    typ = sink_conf.type
    if typ == "console":
        return ConsoleSink()
    if typ == "memory":
        return MemorySink(name=sink_conf.name)
    if typ == "noop":
        return NoopSink()
    if typ == "files":
        return FileSink(
            path=sink_conf.path, format=sink_conf.format,
            mode=sink_conf.mode, options=sink_conf.options,
            partition_by=sink_conf.partition_by,
        )
    if typ == "kafka":
        return KafkaSink(
            brokers=sink_conf.brokers, topic=sink_conf.topic, options=sink_conf.options
        )
    if typ == "upsert":
        return UpsertSink(
            spark, path=sink_conf.path, key=sink_conf.key,
            order_by=sink_conf.order_by, n_buckets=sink_conf.n_buckets,
        )
    if typ == "sqlcommand":
        return SQLCommandSink(
            spark, sql=sink_conf.sql, substitutions=sink_conf.substitutions
        )
    if typ == "iceberg":
        return IcebergSink(table=sink_conf.name or sink_conf.path)
    if typ == "jdbc":
        return JDBCSink(
            url=sink_conf.path, table=sink_conf.name, options=sink_conf.options
        )
    if typ == "clickhouse":
        return ClickHouseSink(
            url=sink_conf.path, table=sink_conf.name, options=sink_conf.options
        )
    raise NotImplementedError(f"unsupported sink type: {typ}")
