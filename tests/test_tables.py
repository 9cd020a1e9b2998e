"""Table metadata: the footer record load_tables reads per table.

Pins the three things the record decides: the ``{"dim", "nrows"}``
column metadata and the stored schema (both of which must follow an
in-place rewrite of a part file), and the small-scan spread bound
(which must never undercount the scan tasks Spark actually runs). A
load served from the stored schema must equal an inferred one and run
no Spark job.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType

from sql_flow_spark import tables
from sql_flow_spark.tables import TABLE_NAMES, load_tables


def _write_embeddings(path, n, dim, row_group_size=None, labels=False):
    cols = {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(
            [[float(i + j) for j in range(dim)] for i in range(n)],
            pa.list_(pa.float32()),
        ),
    }
    if labels:
        cols["label"] = pa.array([f"l{i}" for i in range(n)])
    pq.write_table(pa.table(cols), path, row_group_size=row_group_size)


def _vector_md(spark, sf_dir):
    df = load_tables(spark, sf_dir, ("embeddings",))
    return df["embeddings"].schema["embedding"].metadata


def test_in_place_rewrite_refreshes_metadata(spark, tmp_path):
    """Rewriting a part file in place keeps the directory's file set
    (and, restored here, its mtime); the record is keyed on the per-file
    signature, so the next load sees the new dim and nrows and the
    column the rewrite added (read, not NULL-filled from a stale stored
    schema), and the memo keeps one entry for the path."""
    table = tmp_path / "embeddings.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    _write_embeddings(part, 10, 4)
    assert _vector_md(spark, str(tmp_path)) == {"dim": 4, "nrows": 10}

    st = os.stat(table)
    _write_embeddings(part, 20, 8, labels=True)
    os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns))
    df = load_tables(spark, str(tmp_path), ("embeddings",))["embeddings"]
    assert df.schema["embedding"].metadata == {"dim": 8, "nrows": 20}
    assert "label" in df.columns
    got = {(r.vec_id, r.label) for r in df.select("vec_id", "label").collect()}
    assert got == {(i, f"l{i}") for i in range(20)}
    assert [p for p in tables._FOOTERS if p.startswith(str(tmp_path))] == [
        str(table)
    ]
    assert tables._FOOTERS[str(table)].files == tables.part_files(str(table))


def test_warm_load_runs_no_spark_job(spark, sf_dir, job_ids):
    """Once every table's record carries its schema, loading all of
    them again plans from the stored schemas: no inference job."""
    load_tables(spark, sf_dir)
    with job_ids() as ids:
        load_tables(spark, sf_dir)
    assert ids == []


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_stored_schema_matches_inferred(spark, sf_dir, name):
    """A load served from the stored schema has the schema of a cold,
    inferred load: names, types, nullability and field metadata."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    tables._FOOTERS.pop(path, None)
    cold = load_tables(spark, sf_dir, (name,))[name]
    assert tables._FOOTERS[path].schema is not None
    warm = load_tables(spark, sf_dir, (name,))[name]
    assert warm.schema.jsonValue() == cold.schema.jsonValue()
    if name == "events":
        assert warm.schema["ts"].dataType == TimestampType()
    if name == "embeddings":
        assert set(warm.schema["embedding"].metadata) == {"dim", "nrows"}


def test_missing_table_keeps_spark_error(spark, tmp_path):
    """A missing table raises Spark's own PATH_NOT_FOUND and leaves no
    record behind."""
    with pytest.raises(AnalysisException) as err:
        load_tables(spark, str(tmp_path), ("embeddings",))
    assert err.value.getCondition() == "PATH_NOT_FOUND"
    assert str(tmp_path / "embeddings.parquet") not in tables._FOOTERS


def test_nested_parts_keep_inferred_read(spark, tmp_path, job_ids):
    """A directory whose parts all sit in subdirectories has an empty
    file set: every load infers (partition discovery included) and no
    schema is stored."""
    table = tmp_path / "embeddings.parquet"
    (table / "k=1").mkdir(parents=True)
    _write_embeddings(table / "k=1" / "part-0.parquet", 4, 2)
    for _ in range(2):
        with job_ids() as ids:
            df = load_tables(spark, str(tmp_path), ("embeddings",))["embeddings"]
        assert ids
    assert df.columns == ["vec_id", "embedding", "k"]
    assert tables._FOOTERS[str(table)].schema is None


def _nonempty_scan_tasks(spark, path):
    counts = (
        spark.read.parquet(path)
        .rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
        .collect()
    )
    return sum(1 for c in counts if c)


def _write_layout(path, layout, par):
    """One file of 2*par row groups, 2*par one-row-group files, or one
    file of one row group."""
    if layout == "row_groups":
        _write_embeddings(path, 2 * par * 8, 4, row_group_size=8)
    elif layout == "files":
        path.mkdir()
        for i in range(2 * par):
            _write_embeddings(path / f"part-{i:03d}.parquet", 8, 4)
    else:
        _write_embeddings(path, 8, 4)


@pytest.mark.parametrize("layout", ["row_groups", "files", "single"])
def test_scan_bound_covers_actual_scan_tasks(spark, tmp_path, layout):
    """The spread bound never undercounts the scan: it is >= the
    non-empty partitions of a plain read."""
    par = spark.sparkContext.defaultParallelism
    path = tmp_path / "embeddings.parquet"
    _write_layout(path, layout, par)
    meta = tables._footer(str(path), ())
    assert meta.row_groups == (1 if layout == "single" else 2 * par)
    bound = tables._scan_bound(spark, meta, par)
    assert bound >= _nonempty_scan_tasks(spark, str(path))


def test_packed_row_groups_get_spread_exchange(spark, tmp_path):
    """Many row groups packed in one small file are one split, so one
    scan task: the table gets the id-keyed spread exchange, though its
    row-group count alone is above the parallelism."""
    _write_layout(tmp_path / "embeddings.parquet", "row_groups",
                  spark.sparkContext.defaultParallelism)
    df = load_tables(spark, str(tmp_path), ("embeddings",))["embeddings"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(vec_id" in plan
