"""Test-data table loading.

The driver's synthetic TPC-H-ish tables (TESTDATA.md) are one parquet
file per table. ``load_tables`` reads them lazily and returns DataFrames
(no temp views: a caller that runs ``spark.sql`` over the tables, like
``cli sql``, registers its own); column pruning and predicate pushdown
then happen per-query via Catalyst.

Source metadata comes from one footer record per table
(``TableFooter``): ``part_files`` lists the part files once, sorted,
with their ``(path, size, mtime_ns)``; ``read_footer`` opens each
footer once and adds total row groups, total rows and the vector
columns' dims. ``load_tables`` memoizes the record per table path and
keys it on that per-file signature, so an in-place rewrite of a part
file is seen on the next load. The record feeds the ``{"dim", "nrows"}``
column metadata and the small-scan spread bound (``_scan_bound``).

The record also carries the table's schema as Spark inferred it (JSON).
``read_footer`` leaves it None; the first load of a file set is a plain
``spark.read.parquet``, whose schema-inference job fills it, and every
later load of the same file set reads with ``spark.read.schema(stored)``
and runs no Spark job. Paths with no readable part file (missing,
unreadable footer, parts only in subdirectories) always take the plain
inferred read, Spark's error included, and never store a schema.
"""

from __future__ import annotations

import json
import os
import weakref
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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


class TableFooter(NamedTuple):
    """What a table's parquet footers say, read in one driver-side pass
    (no Spark job). ``files`` is the sorted ``(path, size, mtime_ns)``
    of every part file and doubles as the memo signature; ``dims`` maps
    each requested vector column to the length of its first value in
    the first part (None when absent, empty or null — parquet schemas
    carry no list lengths). ``schema`` is the JSON of the StructType
    Spark inferred for the file set, filled by load_tables after its
    first read (None until then)."""

    files: tuple[tuple[str, int, int], ...]
    row_groups: int
    nrows: int
    dims: tuple[tuple[str, int | None], ...]
    schema: str | None = None


# An unreadable table: no files (never spread), nrows 0, no dims, no
# schema (always the plain inferred read).
_UNREADABLE = TableFooter((), 0, 0, ())

# path -> its last footer record. load_tables runs per QUERY, so the
# footers are read once per file version; a rewrite changes the
# signature and replaces the entry, bounding the memo by table paths.
_FOOTERS: dict[str, TableFooter] = {}


def part_files(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(path, size, mtime_ns)`` of a table's data files, sorted:
    ``path`` itself, or a directory's visible ``.parquet`` parts.
    Raises OSError when the path is missing."""
    names = [path]
    if os.path.isdir(path):
        names = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    stats = [(f, os.stat(f)) for f in names]
    return tuple((f, st.st_size, st.st_mtime_ns) for f, st in stats)


def read_footer(
    files: tuple[tuple[str, int, int], ...], vector_cols: tuple[str, ...] = ()
) -> TableFooter:
    """Unmemoized: open each footer of ``files`` (from part_files) once,
    decoding one value per vector column from the first part. Raises on
    an unreadable file."""
    import pyarrow.parquet as pq

    row_groups = nrows = 0
    dims: tuple[tuple[str, int | None], ...] = ()
    for i, (f, _, _) in enumerate(files):
        pf = pq.ParquetFile(f)
        row_groups += pf.metadata.num_row_groups
        nrows += pf.metadata.num_rows
        if i == 0:
            dims = tuple((c, _first_len(pf, c)) for c in vector_cols)
    return TableFooter(files, row_groups, nrows, dims)


def _first_len(pf, col: str) -> int | None:
    if col not in pf.schema_arrow.names:
        return None
    batch = next(pf.iter_batches(batch_size=1, columns=[col]), None)
    value = batch.column(0)[0].as_py() if batch and batch.num_rows else None
    return None if value is None else len(value)


def _footer(path: str, vector_cols: tuple[str, ...]) -> TableFooter:
    """The memoized record: re-read only when the file set's signature
    changed. Unreadable paths give _UNREADABLE, never memoized."""
    try:
        files = part_files(path)
        hit = _FOOTERS.get(path)
        if hit is None or hit.files != files:
            hit = _FOOTERS[path] = read_footer(files, vector_cols)
        return hit
    except Exception:
        return _UNREADABLE


def _scan_bound(spark: SparkSession, meta: TableFooter, par: int) -> int:
    """Upper bound on the non-empty tasks of a plain scan of the table.
    Spark cuts each file into ceil(size / maxSplitBytes) splits and packs
    splits into tasks (FilePartition.maxSplitBytes, with ``par`` as the
    parallelism), and a split holding no row-group midpoint reads
    nothing, so neither the split count nor the row-group count can be
    exceeded. Footer metadata and two session confs only: planning the
    scan to count its partitions would cost a full analysis on every
    load_tables call. Unreadable tables report an unbounded scan (never
    spread, the safe default at scale)."""
    if not meta.files:
        return 1 << 30
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    total = sum(size + open_cost for _, size, _ in meta.files)
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, total // par))
    splits = sum(-(-size // split) for _, size, _ in meta.files)
    return min(meta.row_groups, splits)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLE_NAMES,
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
        meta = _footer(path, _VECTOR_COLS.get(name, ()))
        if meta.schema is None:
            # The inferring read (one Spark job); its schema is stored
            # only for a readable file set, so a missing path keeps
            # Spark's own error and no record.
            df = spark.read.parquet(path)
            schema = df.schema
            if meta.files:
                _FOOTERS[path] = meta._replace(schema=schema.json())
        else:
            schema = StructType.fromJson(json.loads(meta.schema))
            df = spark.read.schema(schema).parquet(path)
        types = {f.name: f.dataType for f in schema.fields}
        for col in _NANO_TS_COLS.get(name, ()):
            if isinstance(types.get(col), LongType):
                df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        # Belt-and-braces for NTZ: with session tz pinned UTC the cast
        # keeps the same instant, and downstream micros/window math
        # works on either source schema generation.
        for col, dtype in types.items():
            if isinstance(dtype, TimestampNTZType):
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        for col, dim in meta.dims:
            if dim is not None and col in types:
                # nrows rides along (footer metadata, driver-side):
                # the trainer facts size their partition count from
                # it (similarity._fact_parts), and
                # localdf.bounded_or_distributed skips its probe
                # when it is over the driver cap
                df = df.withColumn(
                    col,
                    F.col(col).alias(
                        col, metadata={"dim": dim, "nrows": meta.nrows}
                    ),
                )
        if spread and name in _SPREAD_SCAN_TABLES:
            par = spark.sparkContext.defaultParallelism
            if _scan_bound(spark, meta, par) < par:
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
                df = df.repartition(par, F.col(schema.names[0]))
        out[name] = df
    return out
