"""Local replica of the driver's t2 gate: every queries() entry vs its
DuckDB oracle at sf0.001 (rowcount + column names + exact values,
order-insensitive). The driver runs the same comparison at sf0.01."""

import contextlib

import duckdb
import pytest

import __spark_entry__ as entrymod
from sql_flow_spark.tables import TABLE_NAMES

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# Two-lane split (r7 verdict item 8): the first 50 queries() keys are
# exactly the driver's correctness window — they run in every lane.
# Keys past the window carry the `full` marker; the inner loop skips
# them with `-m "not full"` (pytest.ini documents the lanes) and the
# full sweep (default `pytest tests/`) still re-proves every key.
_WINDOW = set(list(QUERIES)[:50])
# Forced-distributed lane: the keys whose trainers run through
# localdf.bounded_or_distributed re-run with the driver cap at 0, so
# their distributed paths answer to the same oracle (rows-only keys:
# to their twin-path rows). Both lanes run them; none is `full`.
_BOUNDED = (
    "ann_ivfpq_topk", "bpe_learn_merges", "embedding_top_pc",
    "kmeans_embeddings", "pq_quantization_audit", "semdedup_prune",
)
_PARAMS = [
    pytest.param(
        name, False, id=name,
        marks=() if name in _WINDOW else (pytest.mark.full,),
    )
    for name in sorted(QUERIES)
] + [pytest.param(name, True, id=f"{name}-cap0") for name in _BOUNDED]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name, cap0", _PARAMS)
def test_query_matches_oracle(name, cap0, spark, sf_dir, duck, forced_distributed):
    with forced_distributed() if cap0 else contextlib.nullcontext():
        sdf = QUERIES[name](spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        # rows-only contract: deterministic, at least runs end-to-end;
        # in the cap-0 lane the rerun takes the default (twin) path
        again = [tuple(r) for r in QUERIES[name](spark, sf_dir).collect()]
        assert sorted(map(repr, srows)) == sorted(map(repr, again))
        return
    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), f"rowcount {len(srows)} vs {len(drows)}"
    assert sorted(sdf.columns) == sorted(dcols)
    assert _canon(srows, sdf.columns) == _canon(drows, dcols)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
