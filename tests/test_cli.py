"""Subprocess-level CLI e2e (VERDICT r4 item 3): the user surface the
reference exposes as ``sql-flow dev invoke <config> <fixture>``
(reference: cmd/sql-flow.py:31) — run the REAL entry point as a child
process, no test-harness shortcuts, and check what it prints.

One test boots a full SparkSession in the subprocess (~30 s); the
validate/example paths return before any session exists and stay fast.
"""

import ast
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = os.path.join(REPO, "examples")


def _run_cli(*args: str, timeout: int = 300):
    return subprocess.run(
        [sys.executable, "-m", "sql_flow_spark.cli", *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_cli_invoke_subprocess(tmp_path):
    fixture = tmp_path / "events.jsonl"
    fixture.write_text(
        '{"event": "e1", "properties": {"city": "New York"}}\n'
        '{"event": "e2", "properties": {"city": "New York"}}\n'
        '{"event": "e3", "properties": {"city": "Baltimore"}}\n'
    )
    proc = _run_cli(
        "invoke", os.path.join(EXAMPLES, "basic.agg.yml"), str(fixture)
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # the CLI prints one Python dict per result row
    rows = [
        ast.literal_eval(line)
        for line in proc.stdout.splitlines()
        if line.startswith("{")
    ]
    assert {(r["city"], r["city_count"]) for r in rows} == {
        ("New York", 2),
        ("Baltimore", 1),
    }


def test_cli_validate_subprocess():
    proc = _run_cli("validate", os.path.join(EXAMPLES, "basic.agg.yml"),
                    timeout=60)
    assert proc.returncode == 0
    assert "source=files" in proc.stdout
    assert "handler=handlers.InferredBatch" in proc.stdout


def test_cli_validate_rejects_garbage(tmp_path):
    bad = tmp_path / "bad.yml"
    bad.write_text("pipeline: {source: {type: files}}")  # no handler/sink
    proc = _run_cli("validate", str(bad), timeout=60)
    assert proc.returncode != 0


def test_cli_example_subprocess():
    proc = _run_cli("example", timeout=60)
    assert proc.returncode == 0
    assert "pipeline:" in proc.stdout


def test_init_logging_invalid_level_falls_back():
    """An invalid SQLFLOW_LOG_LEVEL must not crash the CLI at startup
    (basicConfig would raise ValueError); it falls back to INFO. And
    when the root logger is already configured (embedding apps),
    basicConfig no-ops — the level must still apply."""
    import logging
    import os

    from sql_flow_spark.cli import _init_logging

    old = os.environ.get("SQLFLOW_LOG_LEVEL")
    root = logging.getLogger()
    old_level = root.level
    try:
        os.environ["SQLFLOW_LOG_LEVEL"] = "BOGUS"
        _init_logging()  # must not raise
        assert root.level == logging.INFO
        # pre-configured root (pytest configures handlers): level still applies
        os.environ["SQLFLOW_LOG_LEVEL"] = "debug"
        _init_logging()
        assert root.level == logging.DEBUG
    finally:
        if old is None:
            os.environ.pop("SQLFLOW_LOG_LEVEL", None)
        else:
            os.environ["SQLFLOW_LOG_LEVEL"] = old
        root.setLevel(old_level)


def test_cli_explain_subprocess():
    """`cli explain` prints a physical plan without executing the
    query (lazy_plans gates the eager checkpoint operators)."""
    r = _run_cli("explain", "basic_agg", "/root/testdata/sf0.001")
    assert r.returncode == 0, r.stderr
    assert "Physical Plan" in r.stdout
    r2 = _run_cli("explain", "not_a_key", "/root/testdata/sf0.001")
    assert r2.returncode == 1
    assert "unknown registry key" in r2.stderr


def test_cli_compact_subprocess(tmp_path):
    """`cli compact` folds a rollup table's batch partitions; totals
    survive (checked in-process after the subprocess compaction)."""
    import json as _json

    table = tmp_path / "table"
    config = tmp_path / "rollup.yml"
    config.write_text(f"""
pipeline:
  source: {{type: memory, name: unused}}
  rollup:
    table_dir: {table}
    keys: [k]
    aggs: {{v: sum}}
  handler: {{type: handlers.InferredBatch, sql: SELECT * FROM batch}}
  sink: {{type: noop}}
""")
    # seed two batch partitions via the library, compact via the CLI
    from sql_flow_spark.session import get_spark
    from sql_flow_spark.streaming.rollup import StreamingRollup

    spark = get_spark()
    r = StreamingRollup(spark, str(table), ["k"], {"v": "sum"})
    r.process(spark.createDataFrame([("a", 1)], "k string, v long"), 0)
    r.process(spark.createDataFrame([("a", 2)], "k string, v long"), 1)
    # the in-process writes just heartbeated the writer lease, so a
    # foreign-pid compact REFUSES (the r9 concurrency guard) ...
    out = _run_cli("compact", str(config))
    assert out.returncode != 0
    assert "writer lease" in (out.stderr + out.stdout)
    # ... and --force is the operator's "the stream is stopped" override
    out = _run_cli("compact", str(config), "--force")
    assert out.returncode == 0, out.stderr
    # the newest live batch is never folded (replay safety), so two
    # batches compact to one folded + one live
    assert "compacted 1 batch partition(s)" in out.stdout
    rows = {row["k"]: row["v_sum"] for row in r.read().collect()}
    assert rows == {"a": 3}
