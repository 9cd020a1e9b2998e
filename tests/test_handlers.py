"""Handler semantics, ported from the reference's handler tests
(reference: tests/handlers/test_inferred_mem.py — SQL over a jsonl
micro-batch registered as `batch`)."""

import os

import pytest

from sql_flow_spark.handlers import InferredBatch, StructuredBatch, new_handler_from_conf
from sql_flow_spark import config as cfg
from sql_flow_spark.serde import JSONSerde

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "flat.jsonl")


def _batch_df(spark):
    with open(FIXTURE) as f:
        return JSONSerde().to_dataframe(spark, [l.strip() for l in f if l.strip()])


def test_agg_batch_into_single_row(spark):
    # reference: test_agg_batch_into_single_row
    h = InferredBatch(sql="SELECT COUNT(*) AS num_rows FROM batch")
    out = h.invoke(spark, _batch_df(spark))
    assert [r.asDict() for r in out.collect()] == [{"num_rows": 3}]


def test_inferred_batch_nested_return(spark):
    # reference: test_inferred_batch_nested_return — enrich with struct
    h = InferredBatch(
        sql="SELECT *, named_struct('nested_city', city) AS enriched FROM batch"
    )
    out = h.invoke(spark, _batch_df(spark)).orderBy("city")
    rows = [r.asDict(recursive=True) for r in out.collect()]
    assert rows[0]["enriched"] == {"nested_city": "Baltimore"}
    assert {r["city"] for r in rows} == {"New York", "Baltimore"}


def test_group_by_city(spark):
    h = InferredBatch(
        sql="""
        SELECT city, COUNT(*) AS city_count FROM batch
        GROUP BY city ORDER BY city_count DESC
        """
    )
    out = h.invoke(spark, _batch_df(spark))
    assert [tuple(r) for r in out.collect()] == [("New York", 2), ("Baltimore", 1)]


def test_structured_batch_inserts_then_queries(spark):
    spark.sql("DROP VIEW IF EXISTS city_events")
    spark.createDataFrame([], "city string, event string, user_id string") \
        .createOrReplaceTempView("city_events")
    h = StructuredBatch(
        sql="SELECT city, COUNT(*) AS n FROM city_events GROUP BY city",
        table="city_events",
    )
    out1 = h.invoke(spark, _batch_df(spark))
    assert sum(r.n for r in out1.collect()) == 3
    out2 = h.invoke(spark, _batch_df(spark))  # accumulates
    assert sum(r.n for r in out2.collect()) == 6


def test_handler_factory_rejects_unknown():
    with pytest.raises(NotImplementedError):
        new_handler_from_conf(cfg.HandlerConf(type="handlers.Bogus", sql="SELECT 1"))


def test_structured_batch_state_survives_handler_restart(spark, tmp_path):
    """Durable accumulation (r2 advice): state is parquet in state_dir,
    so a NEW handler instance — fresh lineage, as after session loss —
    adopts the accumulated state instead of starting empty."""
    state = str(tmp_path / "state")
    spark.sql("DROP VIEW IF EXISTS city_events_r")
    spark.createDataFrame([], "city string, event string, user_id string") \
        .createOrReplaceTempView("city_events_r")
    sql = "SELECT city, COUNT(*) AS n FROM city_events_r GROUP BY city"

    h1 = StructuredBatch(sql=sql, table="city_events_r", state_dir=state)
    out1 = h1.invoke(spark, _batch_df(spark))
    assert sum(r.n for r in out1.collect()) == 3

    # restart: the old view is gone, a fresh empty target is recreated
    # (what init commands would do), and a brand-new handler points at
    # the same state_dir
    spark.sql("DROP VIEW IF EXISTS city_events_r")
    spark.createDataFrame([], "city string, event string, user_id string") \
        .createOrReplaceTempView("city_events_r")
    h2 = StructuredBatch(sql=sql, table="city_events_r", state_dir=state)
    out2 = h2.invoke(spark, _batch_df(spark))
    # 3 recovered + 3 new — the empty re-seeded view must NOT wipe state
    assert sum(r.n for r in out2.collect()) == 6


def test_structured_batch_seed_rows_participate(spark, tmp_path):
    """Init-command seed rows in the target table join the durable
    state on first invoke."""
    spark.sql("DROP VIEW IF EXISTS city_events_s")
    spark.createDataFrame(
        [("Seedville", "seeded", "u0")],
        "city string, event string, user_id string",
    ).createOrReplaceTempView("city_events_s")
    h = StructuredBatch(
        sql="SELECT COUNT(*) AS n FROM city_events_s",
        table="city_events_s",
        state_dir=str(tmp_path / "seedstate"),
    )
    assert h.invoke(spark, _batch_df(spark)).first().n == 4  # 1 seed + 3


def test_structured_batch_durable_without_state_dir_warns(spark, caplog):
    """Explicit-state_dir contract (VERDICT r4 item 4): a handler
    with no state_dir falls back to a fresh temp dir, which cannot be
    re-adopted after restart — the handler must say so loudly."""
    import logging

    h = StructuredBatch(sql="SELECT 1 AS one", table="city_events_w")
    with caplog.at_level(logging.WARNING, logger="sql_flow_spark.handlers"):
        d = h.state_dir()
    assert any("state will NOT be adopted" in r.message for r in caplog.records)
    assert d == h.state_dir()  # stable within the handler's lifetime

    caplog.clear()
    h2 = StructuredBatch(sql="SELECT 1", table="t", state_dir="/tmp/sfs-x")
    with caplog.at_level(logging.WARNING, logger="sql_flow_spark.handlers"):
        assert h2.state_dir() == "/tmp/sfs-x"
    assert not caplog.records  # explicit dir -> no warning
