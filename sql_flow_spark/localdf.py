"""Small driver-side DataFrames without the Python-RDD scan.

``spark.createDataFrame(list_of_tuples)`` parallelizes the rows into
``defaultParallelism`` pickled partitions: on local[32] every tiny
centroid/merge/stage table costs a 32-task job whose tasks each spin a
Python worker just to unpickle a handful of rows (measured ~0.5 s per
call steady-state, ~38 s of summed task time cold — r13 optimization
round). Routing the same rows through a pandas DataFrame takes the
Arrow fast path instead: batches are built driver-side and
deserialized by the JVM, no per-task Python workers (measured ~0.13 s
for the same table, 4x faster; scripts/profile_key.py evidence in
OPTIMIZATION_r13.md). An explicit-literal plan (explode over an array
of struct literals) was also measured and rejected: the optimizer
spends SECONDS on the literal tree (13-44 s for 1024 rows).

Use for bounded driver-side state only (centroids, merge tables,
stage labels) — anything data-sized must stay distributed.

``bounded_or_distributed`` is the one seam where a trainer decides
between that bounded driver state and the distributed path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


# Driver-side bound (rows) for bounded_or_distributed: a 64-dim
# embedding sample is 32 MiB at the cap (broadcast-build-side
# territory), a BPE vocabulary of this many words tens of MB. Past it
# the distributed path runs — the same small-side/large-side switch a
# broadcast join makes. Tests set it to 0 to force the distributed path.
DRIVER_CAP = 65536


class _TwinOverflow(Exception):
    """A driver-twin fixed-point sum left the range where int64 /
    float64 arithmetic provably reproduces the distributed DECIMAL
    fold (terms must stay < 2^53 so floor-doubles are exact integers
    and Spark's shortest-repr double->decimal cast is exact; running
    sums must stay inside int64). bounded_or_distributed falls back to
    the distributed path."""


def bounded_or_distributed(df: DataFrame, twin, dist):
    """Run ``twin(probed)`` on a bounded driver-side copy of ``df``,
    or ``dist()`` when the input does not fit.

    1. A footer ``nrows`` that load_tables attached to a column of
       ``df`` over DRIVER_CAP calls ``dist()`` with no probe job. It
       counts the unfiltered table, so it only ever skips the twin.
    2. Otherwise one ``limit(DRIVER_CAP + 1)`` probe collects ``df``
       as a pandas frame; more than DRIVER_CAP rows calls ``dist()``.
    3. Otherwise ``twin(probed)`` runs; a ``None`` result (input the
       twin declines: nulls, ragged vectors, ...) or _TwinOverflow
       calls ``dist()``.

    Both callables return the caller's result in the same shape, so
    callers never see which path ran."""
    nrows = max(
        (int(f.metadata.get("nrows", 0)) for f in df.schema.fields),
        default=0,
    )
    if nrows <= DRIVER_CAP:
        probed = df.limit(DRIVER_CAP + 1).toPandas()
        if len(probed) <= DRIVER_CAP:
            try:
                out = twin(probed)
            except _TwinOverflow:
                out = None
            if out is not None:
                return out
    return dist()


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Arrow-path createDataFrame for small driver-side row lists.

    ``rows``: list of tuples (column order must match ``schema``).
    Falls back to the plain path when pandas is unavailable, the rows
    are empty (the Arrow path needs at least the dtypes), or any cell
    is None — pandas coerces None in numeric columns to NaN, which is
    NOT SQL NULL for doubles, so null-bearing frames keep the tuple
    path's NULL semantics (ADVICE r13). Column names are parsed with
    StructType.fromDDL, so nested types (``array<double>``) and
    parenthesized types (``decimal(10,2)``) route correctly (ADVICE
    r13)."""
    try:
        import pandas as pd
    except ImportError:  # pragma: no cover - pandas ships with pyspark
        return spark.createDataFrame(rows, schema)
    rows = list(rows)
    if not rows or any(v is None for r in rows for v in r):
        return spark.createDataFrame(rows, schema)
    from pyspark.sql.types import StructType

    names = [f.name for f in StructType.fromDDL(schema).fields]
    pdf = pd.DataFrame.from_records(rows, columns=names)
    return spark.createDataFrame(pdf, schema)
