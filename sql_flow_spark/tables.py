"""Test-data table loading.

The driver's synthetic TPC-H-ish tables (TESTDATA.md) are one parquet
file per table. ``load_tables`` reads them lazily and registers temp
views so operators can be written either via the DataFrame API or
``spark.sql``. Reads are plain ``spark.read.parquet`` — column pruning
and predicate pushdown then happen per-query via Catalyst.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Sessions whose defensive runtime confs are already applied (see
# load_tables); weak so stopped sessions don't pin memory and replaced
# objects re-configure.
_CONF_DONE: "weakref.WeakSet" = weakref.WeakSet()

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at ANY scale factor (they grow
# sublinearly or are fixed-size in TPC-H-style generators).
BROADCAST_DIMS = ("region", "nation")

# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong) and we convert to micros the
# same way DuckDB does (truncating integer division).
_NANO_TS_COLS = {"events": ("ts",)}

# Vector columns get a {"dim": N} metadata tag at load time so ANN /
# embedding-dedup builders (similarity.embedding_dim) never fall back
# to a .first() probe — builders stay fully lazy, zero driver jobs.
_VECTOR_COLS = {"embeddings": ("embedding",)}

# Tables whose consumers do HEAVY narrow work fused into the scan
# stage (tokenize/explode/hash over full text). A single-row-group
# parquet file cannot be split by maxPartitionBytes, so without help
# the whole text pipeline of a query runs on ONE task (r13
# optimization round: char_entropy's tokenize stage measured 2.5 s of
# single-core CPU while 31 cores idled). For these tables, when the
# scan's parallelism is below the session default, a round-robin
# repartition spreads the scan output across cores BEFORE the fused
# narrow work. Scale posture: at production scale these tables arrive
# as many files/row groups, the guard condition is false, and no
# exchange is added; every consumer's values are partitioning-
# independent (exact aggregates / key-partitioned windows; the one
# partition-sensitive family — Misra-Gries heavy hitters — is
# deterministic by its recount construction, see heavy_hitters).
_SPREAD_SCAN_TABLES = ("documents", "embeddings")
# "embeddings" joined r13 session 2: the sf0.1 file is one row group,
# so the similarity family's scan-fused narrow work (norm + cell/LSH
# assignment UDFs, and in dedup_embedding_lsh the ENTIRE band join —
# its one save job profiled 7.4 s of CPU on 1 task) ran serially. The
# family's values are partitioning-independent by construction:
# fixed-point exact sums, deterministic id-ordered seeds/ties,
# fixed hyperplanes/codebooks (pinned in tests/test_approx_quality.py).


# Per-(path, mtime) memo of the scan-parallelism probe below: the
# footer read is cheap (~ms) but load_tables runs per QUERY, and the
# probe's result only changes when the file set does.
_SPLIT_CACHE: dict[tuple[str, float], int] = {}


def _max_scan_splits(path: str) -> int:
    """Upper bound on the parquet scan's parallelism: the total
    row-group count across the table's files (a row group is the
    smallest splittable read unit, so no maxPartitionBytes setting can
    produce more non-empty scan tasks than this). Driver-side footer
    metadata only — replaces the r13 ``df.rdd.getNumPartitions()``
    probe, which forced a full analysis + physical plan + RDD
    conversion on EVERY load_tables call (ADVICE r13) and is
    unavailable under Spark Connect. Unreadable paths report a large
    bound (= never spread, the safe default at scale)."""
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return 1 << 30
    key = (path, mtime)
    if key in _SPLIT_CACHE:
        return _SPLIT_CACHE[key]
    try:
        import pyarrow.parquet as pq

        files = [path]
        if os.path.isdir(path):
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
        n = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:
        n = 1 << 30
    _SPLIT_CACHE[key] = n
    return n


_NROWS_CACHE: dict[tuple[str, float], int] = {}


def _parquet_num_rows(path: str) -> int:
    """Total row count from parquet footers (driver-side metadata,
    memoized per (path, mtime)); 0 when unreadable."""
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return 0
    key = (path, mtime)
    if key in _NROWS_CACHE:
        return _NROWS_CACHE[key]
    try:
        import pyarrow.parquet as pq

        files = [path]
        if os.path.isdir(path):
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
        n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        n = 0
    _NROWS_CACHE[key] = n
    return n


_DIM_CACHE: dict[tuple[str, str, float], int | None] = {}


def _array_dim_from_parquet(path: str, col: str) -> int | None:
    """Vector dimensionality by decoding ONE value of ``col`` from the
    first row group — a driver-side pyarrow read of a few KB, not a
    Spark job. Parquet schemas don't carry list lengths, so this is the
    cheapest source of truth; at cluster scale the same read hits only
    one footer + one column chunk of one file. Memoized per
    (path, col, mtime) — load_tables runs per query (r14)."""
    try:
        key = (path, col, os.path.getmtime(path))
        if key in _DIM_CACHE:
            return _DIM_CACHE[key]
    except OSError:
        key = None
    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            parts = sorted(
                f for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            if not parts:
                return None
            target = os.path.join(path, parts[0])
        pf = pq.ParquetFile(target)
        dim = None
        if col in pf.schema_arrow.names:
            batch = next(
                pf.iter_batches(batch_size=1, columns=[col]), None
            )
            if batch is not None and batch.num_rows > 0:
                value = batch.column(0)[0].as_py()
                dim = len(value) if value is not None else None
        if key is not None:
            _DIM_CACHE[key] = dim
        return dim
    except Exception:  # missing/odd file: builders fall back to probing
        return None


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLE_NAMES,
    register_views: bool = True,
    spread: bool = True,
) -> dict[str, DataFrame]:
    """Load parquet tables from ``sf_dir`` and return {name: DataFrame}.

    ``spread=False`` opts a CALLER out of the small-scan spread
    (_SPREAD_SCAN_TABLES): consumers whose post-scan work is light
    (broadcast-probe ANN lookups, single-pass scoring) pay more for
    the added exchange than the parallelism returns (r13: the spread
    taxed ann_lsh/ivf/cosine_topk and bm25_topk 0.5–0.8x while the
    heavy fused families won 1.5–4x). At production file counts the
    spread guard is false either way, so the flag only affects the
    small-file posture."""
    # Defensive runtime confs: the grading driver (and any embedding
    # application) supplies its OWN SparkSession, which may lack the
    # session-factory settings. Both are runtime-settable:
    # - nanosAsLong: events.parquet stores TIMESTAMP(NANOS); without it
    #   every events read dies with PARQUET_TYPE_ILLEGAL.
    # - UTC session tz: formatted timestamp outputs must render the
    #   stored instant unshifted to match DuckDB's naive timestamps.
    # - inferTimestampNTZ off: plain timestamp[us] parquet (no tz
    #   annotation) must read as instant-semantics TIMESTAMP, not
    #   TIMESTAMP_NTZ — functions like unix_micros reject NTZ, and with
    #   the session tz pinned to UTC the two render identically anyway.
    # Set once per SparkSession (r14): load_tables runs per QUERY, and
    # each conf.set is a py4j round trip; sessions are tracked in a
    # WeakSet so a replaced session object is configured afresh.
    if spark not in _CONF_DONE:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set(
            "spark.sql.parquet.inferTimestampNTZ.enabled", "false"
        )
        _CONF_DONE.add(spark)

    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.parquet(path)
        for col in _NANO_TS_COLS.get(name, ()):
            if dict(df.dtypes).get(col) == "bigint":
                df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        # Belt-and-braces for NTZ: with session tz pinned UTC the cast
        # keeps the same instant, and downstream micros/window math
        # works on either source schema generation.
        for col, dtype in df.dtypes:
            if dtype == "timestamp_ntz":
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        for col in _VECTOR_COLS.get(name, ()):
            if col in df.columns:
                dim = _array_dim_from_parquet(path, col)
                if dim is not None:
                    # nrows rides along (footer metadata, driver-side):
                    # the trainer facts size their partition count from
                    # it (similarity._fact_parts), and
                    # localdf.bounded_or_distributed skips its probe
                    # when it is over the driver cap
                    df = df.withColumn(
                        col,
                        F.col(col).alias(
                            col,
                            metadata={
                                "dim": dim,
                                "nrows": _parquet_num_rows(path),
                            },
                        ),
                    )
        if spread and name in _SPREAD_SCAN_TABLES:
            par = spark.sparkContext.defaultParallelism
            if _max_scan_splits(path) < par:
                # Hash on the leading id column, not round-robin: a
                # keyless repartition pays a local sort of its input
                # (sortBeforeRepartition, kept on for retry safety)
                # and its layout is retry-reproducible only via that
                # sort; hashing the unique id is deterministic for
                # free, spreads evenly (ids >> partitions), and doc/
                # vec-keyed consumers (per-doc aggregates, id joins)
                # can reuse the exchange outright (guide §2.4). A/B
                # at bench conf: char_entropy 1.02 -> 0.49 s,
                # unigram_logprob 1.14 -> 0.77 s, rrf_fusion
                # 2.10 -> 1.59 s, kmeans 3.86 -> 3.31 s.
                df = df.repartition(par, F.col(df.columns[0]))
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
