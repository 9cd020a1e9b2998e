"""CLI (reference: cmd/sql-flow.py — run / dev invoke / config
validate), argparse-based.

  python -m sql_flow_spark.cli run <config> [--available-now]
  python -m sql_flow_spark.cli invoke <config> <fixture>
  python -m sql_flow_spark.cli validate <config>
"""

from __future__ import annotations

import argparse
import sys

from sql_flow_spark import config as cfg
from sql_flow_spark.pipeline import invoke as pipeline_invoke
from sql_flow_spark.pipeline import new_pipeline_from_conf
from sql_flow_spark.session import get_spark


EXAMPLE_CONFIG = """\
# sql-flow-spark pipeline (reference surface: source -> handler -> sink)
commands:                      # optional init SQL (views, catalogs)
  - name: example view
    sql: CREATE OR REPLACE TEMPORARY VIEW dim AS SELECT 1 AS id
udfs:                          # optional python UDFs by import path
  - function_name: parse_domain
    import_path: sql_flow_spark.udf.parse_domain
    return_type: string
tables:                        # optional managed window tables
  managed:
    - name: hourly_counts
      tumbling_window:
        time_column: ts
        duration: 1 hour
        watermark_delay: 60 seconds
        group_by: [event_type]
        aggregates: ["count(*) AS n"]
      sink: {type: console}
pipeline:
  on_error:
    policy: RAISE              # RAISE | IGNORE | DLQ
    # dlq: {type: files, path: /tmp/dlq, format: parquet}
  source:
    type: files                # files | kafka | memory | rate | socket | jsonl_spool | websocket | webhook
    path: /data/in
    format: json               # json | csv | parquet
  handler:
    type: handlers.InferredBatch   # or handlers.StructuredBatch (+ table:)
    sql: SELECT * FROM batch
  sink:
    type: console              # console|memory|noop|files|kafka|sqlcommand|iceberg|jdbc
"""


def _init_logging() -> None:
    """SQLFLOW_LOG_LEVEL-driven logging (reference: sqlflow/logging.py
    init + settings.LOG_LEVEL). Spark's own log4j level is configured
    in session.py; this covers the python-side pipeline loggers."""
    import logging
    import os

    raw = os.environ.get("SQLFLOW_LOG_LEVEL", "INFO").upper()
    if raw not in logging.getLevelNamesMapping():
        logging.getLogger(__name__).warning(
            "invalid SQLFLOW_LOG_LEVEL %r, falling back to INFO", raw
        )
        raw = "INFO"
    # basicConfig no-ops when the root logger is already configured
    # (embedding apps); force the level so the env var still applies
    # without clobbering existing handlers' formatting.
    logging.basicConfig(
        level=raw,
        format="%(asctime)s [%(levelname)s] %(message)s",
    )
    logging.getLogger().setLevel(raw)


def main(argv: list[str] | None = None) -> int:
    _init_logging()
    parser = argparse.ArgumentParser(prog="sql-flow-spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_run = sub.add_parser("run", help="start the pipeline service")
    p_run.add_argument("config")
    p_run.add_argument("--available-now", action="store_true",
                       help="drain available input then exit")
    p_run.add_argument("--processing-time", default=None,
                       help="micro-batch trigger interval, e.g. '5 seconds'")

    p_inv = sub.add_parser("invoke", help="run a pipeline against a jsonl fixture")
    p_inv.add_argument("config")
    p_inv.add_argument("fixture")

    p_val = sub.add_parser("validate", help="parse/validate a config file")
    p_val.add_argument("config")

    sub.add_parser("example", help="print an example pipeline config")
    sub.add_parser(
        "schema",
        help="print the config JSON schema (for editors/CI validation)",
    )

    p_sql = sub.add_parser(
        "sql",
        help="ad-hoc SQL over a testdata dir (debug surface; reference: "
        "sqlflow/http.py DebugAPI)",
    )
    p_sql.add_argument("sf_dir")
    p_sql.add_argument("query")
    p_sql.add_argument("--limit", type=int, default=20)

    p_exp = sub.add_parser(
        "explain",
        help="print the physical plan of a registry query "
        "(plan review without executing)",
    )
    p_exp.add_argument("key")
    p_exp.add_argument("sf_dir")
    p_exp.add_argument("--mode", default="formatted",
                       choices=("simple", "extended", "formatted", "cost"))

    p_cpt = sub.add_parser(
        "compact",
        help="fold batch partitions of every incremental state table "
        "the config maintains (pipeline.rollup and/or "
        "pipeline.ingest_dedup) into its seed slot — or a standalone "
        "IVF index dir via --ann-index. Crash-safe marker-commit "
        "protocol; refuses while a foreign writer lease is fresh.",
    )
    p_cpt.add_argument("config", nargs="?")
    p_cpt.add_argument(
        "--ann-index",
        help="compact an IncrementalIVF index directory directly",
    )
    p_cpt.add_argument(
        "--force",
        action="store_true",
        help="skip the writer-lease check (only when you KNOW the "
        "stream is stopped; a recent lease otherwise refuses for its "
        "120s ttl)",
    )

    p_docs = sub.add_parser(
        "docs",
        help="regenerate REGISTRY.md (per-key reference page) from the "
        "live @query registry",
    )
    p_docs.add_argument(
        "-o", "--out", default=None,
        help="output path (default: REGISTRY.md at the repo root)",
    )

    args = parser.parse_args(argv)

    if args.cmd == "docs":
        from sql_flow_spark.docs import write_registry_md

        path = write_registry_md(args.out)
        print(f"wrote {path}")
        return 0

    if args.cmd == "example":
        print(EXAMPLE_CONFIG)
        return 0

    if args.cmd == "schema":
        import json

        print(json.dumps(cfg.schema(), indent=2))
        return 0

    if args.cmd == "validate":
        rendered = cfg.render_config(args.config)
        errors = cfg.validate_dict(rendered)
        if errors:
            for e in errors:
                print(f"invalid: {e}", file=sys.stderr)
            return 1
        conf = cfg.new_from_dict(rendered)
        print(f"ok: source={conf.pipeline.source.type} "
              f"handler={conf.pipeline.handler.type} sink={conf.pipeline.sink.type}")
        return 0

    spark = get_spark("sql-flow-spark-cli")

    if args.cmd == "sql":
        from sql_flow_spark.tables import load_tables

        for name, df in load_tables(spark, args.sf_dir).items():
            df.createOrReplaceTempView(name)
        for row in spark.sql(args.query).limit(args.limit).collect():
            print(row.asDict(recursive=True))
        return 0

    if args.cmd == "explain":
        from sql_flow_spark.functions.mat import lazy_plans
        from sql_flow_spark.operators import QUERIES

        if args.key not in QUERIES:
            print(f"unknown registry key {args.key!r}; "
                  f"{len(QUERIES)} keys available", file=sys.stderr)
            return 1
        # lazy_plans: plan-only — operators that checkpoint internal
        # stages must not execute jobs under an EXPLAIN
        with lazy_plans():
            QUERIES[args.key](spark, args.sf_dir).explain(mode=args.mode)
        return 0

    if args.cmd == "compact":
        # Each target compacts independently: a lease refusal on one
        # (RuntimeError from assert_no_live_writer) is reported to
        # stderr and the REMAINING targets still run; any refusal
        # makes the exit code non-zero (ADVICE r9 — previously the
        # first refusal aborted with an uncaught traceback).
        did_any = False
        refused = False

        def _compact_target(label: str, fn) -> None:
            nonlocal did_any, refused
            try:
                folded = fn()
            except RuntimeError as e:
                print(f"{label}: {e}", file=sys.stderr)
                refused = True
            else:
                print(f"{label}: compacted {folded} batch partition(s)")
            did_any = True

        if args.ann_index:
            from sql_flow_spark.streaming.ann_index import IncrementalIVF

            _compact_target(
                "ann-index",
                lambda: IncrementalIVF.load(spark, args.ann_index).compact(
                    force=args.force
                ),
            )
        if args.config:
            conf = cfg.new_from_path(args.config)
            ru = conf.pipeline.rollup
            if ru is not None:
                from sql_flow_spark.streaming.rollup import StreamingRollup

                _compact_target(
                    "rollup",
                    lambda: StreamingRollup(
                        spark, table_dir=ru.table_dir, keys=ru.keys,
                        aggs=ru.aggs,
                    ).compact(force=args.force),
                )
            dd = conf.pipeline.ingest_dedup
            if dd is not None:
                from sql_flow_spark.streaming.ingest_dedup import (
                    FingerprintIndex,
                )

                _compact_target(
                    "dedup-index",
                    lambda: FingerprintIndex(
                        spark, dd.index_dir
                    ).compact(force=args.force),
                )
        if refused:
            return 1
        if not did_any:
            print(
                "nothing to compact: config has no pipeline.rollup / "
                "pipeline.ingest_dedup block and no --ann-index given",
                file=sys.stderr,
            )
            return 1
        return 0

    if args.cmd == "invoke":
        result = pipeline_invoke(spark, args.config, args.fixture)
        if result is not None:
            for row in result.collect():
                print(row.asDict(recursive=True))
        return 0

    if args.cmd == "run":
        conf = cfg.new_from_path(args.config)
        pipe = new_pipeline_from_conf(conf, spark)
        debug_server = None
        if conf.debug_api:
            from sql_flow_spark.http_api import DebugHTTPServer
            from sql_flow_spark.observability import attach_metrics

            d = conf.debug_api
            debug_server = DebugHTTPServer(
                spark, host=d.host, port=d.port, max_rows=d.max_rows,
                allow_remote=d.allow_remote, read_only=d.read_only,
                metrics=attach_metrics(spark),
            ).start()
            host, port = debug_server.address
            print(f"debug api: {debug_server.url}?q=... "
                  f"(metrics: http://{host}:{port}/metrics)")
        try:
            query = pipe.start(
                available_now=args.available_now,
                processing_time=args.processing_time,
                managed_tables=conf.tables,
            )
            query.awaitTermination()
            for q in getattr(query, "managed_queries", []):
                q.awaitTermination()
        finally:
            if debug_server:
                debug_server.stop()
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
