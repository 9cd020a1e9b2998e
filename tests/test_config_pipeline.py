"""End-to-end config-driven pipelines over the example YAMLs —
the Spark equivalent of the reference's `dev invoke <config>
<fixture>` integration tests (reference: tests/integration/
test_integration.py runs every example config against a fixture)."""

import os

import pytest

from sql_flow_spark import config as cfg
from sql_flow_spark.pipeline import invoke
from sql_flow_spark.sinks import MemorySink

EXAMPLES = os.path.join(os.path.dirname(__file__), "..", "examples")
FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _write_fixture(tmp_path, rows):
    p = tmp_path / "fixture.jsonl"
    p.write_text("\n".join(rows) + "\n")
    return str(p)


CITY_ROWS = [
    '{"event": "e1", "properties": {"city": "New York"}}',
    '{"event": "e2", "properties": {"city": "New York"}}',
    '{"event": "e3", "properties": {"city": "Baltimore"}}',
]


def test_basic_agg_config(spark, tmp_path):
    sink = MemorySink()
    result = invoke(
        spark,
        os.path.join(EXAMPLES, "basic.agg.yml"),
        _write_fixture(tmp_path, CITY_ROWS),
        sink_override=sink,
    )
    rows = {(r.city, r.city_count) for r in sink.rows()}
    assert rows == {("New York", 2), ("Baltimore", 1)}
    assert result.columns == ["city", "city_count"]


def test_enrich_config(spark, tmp_path):
    sink = MemorySink()
    invoke(
        spark,
        os.path.join(EXAMPLES, "enrich.yml"),
        _write_fixture(tmp_path, CITY_ROWS),
        sink_override=sink,
    )
    rows = [r.asDict(recursive=True) for r in sink.rows()]
    assert len(rows) == 3
    assert all(r["extra"] == "extra" for r in rows)
    assert rows[0]["nested_city"]["something"] in ("New York", "Baltimore")


def test_csv_join_config(spark, tmp_path):
    sink = MemorySink()
    invoke(
        spark,
        os.path.join(EXAMPLES, "csv.join.yml"),
        _write_fixture(tmp_path, CITY_ROWS),
        setting_overrides={"SQLFLOW_STATIC_ROOT": FIXTURES},
        sink_override=sink,
    )
    rows = {(r.city, r.state_full) for r in sink.rows()}
    assert rows == {("New York", "New York"), ("Baltimore", "Maryland")}


def test_udf_config(spark, tmp_path):
    sink = MemorySink()
    invoke(
        spark,
        os.path.join(EXAMPLES, "udf.yml"),
        _write_fixture(
            tmp_path,
            [
                '{"url": "https://www.example.co.uk/a"}',
                '{"url": "http://blog.somesite.com/b?q=1"}',
            ],
        ),
        sink_override=sink,
    )
    assert {r.domain for r in sink.rows()} == {"example.co.uk", "somesite.com"}


def test_dlq_policy_routes_errors(spark, tmp_path):
    dlq_rows = invoke(
        spark,
        os.path.join(EXAMPLES, "dlq.yml"),
        _write_fixture(tmp_path, CITY_ROWS),
    )
    # handler SQL references a missing column -> error goes to DLQ view
    assert dlq_rows is None
    dlq = spark.table("global_temp.dlq_out").collect()
    assert len(dlq) == 1
    assert dlq[0].phase == "handler.invoke"
    assert "nonexistent_column" in dlq[0].error.lower() or "UNRESOLVED" in dlq[0].error


def test_raise_policy_raises(spark, tmp_path):
    conf = cfg.new_from_path(os.path.join(EXAMPLES, "dlq.yml"))
    assert conf.pipeline.on_error.policy == cfg.Policy.DLQ
    # flip to RAISE via a fresh parse with the policy overridden
    from sql_flow_spark.pipeline import new_pipeline_from_conf
    from sql_flow_spark.serde import JSONSerde

    conf.pipeline.on_error.policy = cfg.Policy.RAISE
    pipe = new_pipeline_from_conf(conf, spark)
    batch = JSONSerde().to_dataframe(spark, CITY_ROWS)
    with pytest.raises(Exception):
        pipe.invoke(batch)


def test_ignore_policy_skips_batch(spark, tmp_path):
    from sql_flow_spark.pipeline import new_pipeline_from_conf
    from sql_flow_spark.serde import JSONSerde

    conf = cfg.new_from_path(os.path.join(EXAMPLES, "dlq.yml"))
    conf.pipeline.on_error.policy = cfg.Policy.IGNORE
    pipe = new_pipeline_from_conf(conf, spark)
    batch = JSONSerde().to_dataframe(spark, CITY_ROWS)
    assert pipe.invoke(batch) is None  # swallowed, no raise
    assert pipe.stats.num_errors == 1
    assert pipe.stats.num_batches == 0


def test_ignore_policy_covers_invoke_monitoring_legs(spark, tmp_path):
    """ADVICE r8: the one-shot invoke() path must run the monitoring
    legs under the same error policy as the micro-batch path — a
    failing leg under IGNORE must not abort the invoke or lose the
    handler result."""
    from pyspark.sql import Row

    from sql_flow_spark import config as _cfg
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sources import FileSource
    from sql_flow_spark.streaming.heavy_hitters import StreamingHeavyHitters

    pipe = Pipeline(
        spark=spark,
        source=FileSource(str(tmp_path / "unused"), format="json"),
        handler=InferredBatch("SELECT * FROM batch"),
        sink=MemorySink(),
        error_policy=_cfg.Policy.IGNORE,
        monitors=[StreamingHeavyHitters(
            spark,
            state_dir=str(tmp_path / "hh"),
            key_col="no_such_column",  # the leg will fail
        )],
    )
    batch = spark.createDataFrame([Row(k="a", v=1), Row(k="a", v=2)])
    result = pipe.invoke(batch)
    assert result is not None and result.count() == 2  # handler survived
    assert pipe.stats.num_errors == 1  # the leg failure was recorded


def test_dedup_pipeline_over_parquet_source(spark, tmp_path):
    from sql_flow_spark.pipeline import new_pipeline_from_conf

    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "Hello World"), (2, "hello,   world!"), (3, "something else")],
        "doc_id long, text string",
    ).write.parquet(docs_dir)
    conf = cfg.new_from_path(
        os.path.join(EXAMPLES, "dedup.documents.yml"),
        {"SQLFLOW_INPUT_PATH": docs_dir},
    )
    sink = MemorySink()
    pipe = new_pipeline_from_conf(conf, spark, sink_override=sink)
    pipe.invoke()
    rows = {r.keep_doc_id: r.n_copies for r in sink.rows()}
    assert rows == {1: 2, 3: 1}  # docs 1+2 collapse to one fingerprint


def test_structured_batch_config(spark, tmp_path):
    """Schema-enforced handler from config (reference:
    kafka.structured.mem.yml): batch is cast into the declared table
    schema, SQL runs over accumulated state."""
    from sql_flow_spark.pipeline import new_pipeline_from_conf
    from sql_flow_spark.serde import JSONSerde

    conf = cfg.new_from_path(os.path.join(EXAMPLES, "structured.yml"))
    pipe = new_pipeline_from_conf(conf, spark)
    rows1 = ['{"city": "nyc", "event": "a", "n": 1}', '{"city": "nyc", "event": "b", "n": 2}']
    out1 = pipe.invoke(JSONSerde().to_dataframe(spark, rows1))
    assert {(r.city, r.n_events, r.total) for r in out1.collect()} == {("nyc", 2, 3)}
    # second batch accumulates into the table state
    out2 = pipe.invoke(JSONSerde().to_dataframe(spark, ['{"city": "bal", "event": "c", "n": 5}']))
    assert {(r.city, r.n_events, r.total) for r in out2.collect()} == {
        ("nyc", 2, 3),
        ("bal", 1, 5),
    }


def test_external_table_join_config(spark, tmp_path):
    """external_tables: a parquet dim registered as a view and joined
    in handler SQL — the Spark analogue of the reference's ATTACH+join
    (reference: dev/config/examples/kafka.postgres.join.yml)."""
    dim_dir = str(tmp_path / "users")
    spark.createDataFrame(
        [(1, "Ada Lovelace"), (2, "Alan Turing")],
        "user_id long, full_name string",
    ).write.parquet(dim_dir)
    sink = MemorySink()
    invoke(
        spark,
        os.path.join(EXAMPLES, "external.join.yml"),
        _write_fixture(
            tmp_path,
            [
                '{"event": "login", "user_id": 1}',
                '{"event": "logout", "user_id": 2}',
                '{"event": "ping", "user_id": 99}',
            ],
        ),
        setting_overrides={"SQLFLOW_DIM_PATH": dim_dir},
        sink_override=sink,
    )
    rows = {(r.event, r.user_id, r.full_name) for r in sink.rows()}
    assert rows == {
        ("login", 1, "Ada Lovelace"),
        ("logout", 2, "Alan Turing"),
        ("ping", 99, None),
    }


def test_external_table_csv_with_schema(spark, tmp_path):
    """File-format external table honors the declared DDL schema and
    reader options (header) without inference."""
    from sql_flow_spark.sources.external import register_external_tables

    csv = tmp_path / "dim.csv"
    csv.write_text("code,label\n1,one\n2,two\n")
    views = register_external_tables(
        spark,
        [
            cfg.ExternalTableConf(
                name="codes_dim",
                format="csv",
                path=str(csv),
                schema="code int, label string",
                options={"header": "true"},
            )
        ],
    )
    assert set(views) == {"codes_dim"}
    got = {(r.code, r.label) for r in spark.table("codes_dim").collect()}
    assert got == {(1, "one"), (2, "two")}
    assert dict(spark.table("codes_dim").dtypes) == {"code": "int", "label": "string"}


def test_external_table_conf_strict_keys():
    # unknown YAML keys fail loudly at parse time, not at run time
    with pytest.raises(TypeError):
        cfg.new_from_dict(
            {
                "external_tables": [{"name": "x", "format": "parquet", "pth": "/oops"}],
                "pipeline": {
                    "source": {"type": "files", "path": "/tmp/x"},
                    "handler": {},
                    "sink": {"type": "console"},
                },
            }
        )


def test_external_table_file_format_requires_path(spark):
    from sql_flow_spark.sources.base import SourceException
    from sql_flow_spark.sources.external import register_external_tables

    with pytest.raises(SourceException, match="needs a path"):
        register_external_tables(
            spark, [cfg.ExternalTableConf(name="nopath", format="parquet")]
        )


def test_config_validate_surface():
    conf = cfg.new_from_path(os.path.join(EXAMPLES, "basic.agg.yml"))
    assert conf.pipeline.source.type == "files"
    assert conf.pipeline.handler.type == "handlers.InferredBatch"
    assert conf.pipeline.sink.type == "console"
    # batch_size is accepted for reference compatibility (and ignored)
    assert cfg.validate_dict(
        cfg.render_config(os.path.join(EXAMPLES, "basic.agg.yml"))
    ) == []


def test_bluesky_websocket_example_parses():
    conf = cfg.new_from_path(os.path.join(EXAMPLES, "bluesky.websocket.yml"))
    assert conf.pipeline.source.type == "websocket"
    assert conf.pipeline.source.uri.startswith("ws://")
    # batch_size is accepted for reference compatibility (and ignored)
    assert cfg.validate_dict(
        cfg.render_config(os.path.join(EXAMPLES, "bluesky.websocket.yml"))
    ) == []
    from sql_flow_spark.sources import WebsocketSource, new_source_from_conf

    src = new_source_from_conf(conf.pipeline.source)
    assert isinstance(src, WebsocketSource)
    assert "wantedCollections" in src.uri


def test_config_flat_dict_fields_survive():
    # A flat (non-nested) source/sink block must keep dict-valued known
    # fields like `options` instead of silently dropping them.
    conf = cfg.new_from_dict(
        {
            "pipeline": {
                "source": {
                    "type": "kafka",
                    "brokers": ["b:9092"],
                    "topics": ["t"],
                    "options": {"kafka.security.protocol": "SASL_SSL"},
                },
                "handler": {"sql": "SELECT * FROM batch"},
                "sink": {
                    "type": "files",
                    "path": "/tmp/out",
                    "options": {"compression": "zstd"},
                },
            }
        }
    )
    assert conf.pipeline.source.options == {"kafka.security.protocol": "SASL_SSL"}
    assert conf.pipeline.source.brokers == ["b:9092"]
    assert conf.pipeline.sink.options == {"compression": "zstd"}
    # nested type-subsection style still wins over flat keys
    conf2 = cfg.new_from_dict(
        {
            "pipeline": {
                "source": {"type": "files", "path": "/a", "files": {"path": "/b"}},
                "handler": {},
                "sink": {"type": "console"},
            }
        }
    )
    assert conf2.pipeline.source.path == "/b"


def test_fanout_pipeline_batch(spark, tmp_path):
    """fanout: one source read, three handler->sink legs (main + 2)."""
    from sql_flow_spark.pipeline import new_pipeline_from_conf
    from sql_flow_spark.serde import JSONSerde

    conf = cfg.new_from_path(os.path.join(EXAMPLES, "fanout.yml"))
    assert [leg.name for leg in conf.fanout] == ["raw_passthrough", "distinct_cities"]
    pipe = new_pipeline_from_conf(conf, spark)
    pipe.invoke(JSONSerde().to_dataframe(spark, CITY_ROWS))
    counts = {
        (r.city, r.city_count)
        for r in spark.table("global_temp.fanout_counts").collect()
    }
    assert counts == {("New York", 2), ("Baltimore", 1)}
    assert spark.table("global_temp.fanout_raw").count() == 3
    cities = {r.city for r in spark.table("global_temp.fanout_cities").collect()}
    assert cities == {"New York", "Baltimore"}


def test_fanout_pipeline_streaming(spark, tmp_path):
    """Streaming fan-out: every leg sees every micro-batch from the
    single foreachBatch read."""
    import json as _json

    from sql_flow_spark.pipeline import new_pipeline_from_conf

    in_dir = tmp_path / "fan-in"
    in_dir.mkdir()
    (in_dir / "a.json").write_text(
        "\n".join(
            _json.dumps({"event": f"e{i}", "properties": {"city": c}})
            for i, c in enumerate(["New York", "New York", "Baltimore"])
        )
    )
    conf = cfg.new_from_path(
        os.path.join(EXAMPLES, "fanout.yml"),
        {"SQLFLOW_INPUT_PATH": str(in_dir)},
    )
    pipe = new_pipeline_from_conf(conf, spark)
    q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert spark.table("global_temp.fanout_raw").count() == 3
    cities = {r.city for r in spark.table("global_temp.fanout_cities").collect()}
    assert cities == {"New York", "Baltimore"}


@pytest.mark.parametrize("mode", ["invoke", "stream"])
def test_fanout_leg_error_isolated_with_dlq(spark, tmp_path, mode):
    """A failing fan-out leg and a failing monitoring leg each route to
    the DLQ without killing the other legs under the DLQ policy — on
    the one-shot invoke() path and on the foreachBatch path alike."""
    from sql_flow_spark.pipeline import new_pipeline_from_conf
    from sql_flow_spark.serde import JSONSerde

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.json").write_text("\n".join(CITY_ROWS) + "\n")
    conf = cfg.new_from_dict(
        {
            "pipeline": {
                "source": {"type": "files", "path": str(in_dir)},
                "handler": {"sql": "SELECT * FROM batch"},
                "sink": {"type": "memory", "name": f"fanout_err_main_{mode}"},
                "on_error": {
                    "policy": "DLQ",
                    "dlq": {"type": "memory", "name": f"fanout_err_dlq_{mode}"},
                },
                "heavy_hitters": {
                    "state_dir": str(tmp_path / "hh"),
                    "key_column": "no_such_column",  # the leg will fail
                },
            },
            "fanout": [
                {
                    "name": "bad_leg",
                    "handler": {"sql": "SELECT missing_col FROM batch"},
                    "sink": {"type": "memory", "name": f"fanout_err_bad_{mode}"},
                },
                {
                    "name": "good_leg",
                    "handler": {"sql": "SELECT COUNT(*) AS n FROM batch"},
                    "sink": {"type": "memory", "name": f"fanout_err_good_{mode}"},
                },
            ],
        }
    )
    pipe = new_pipeline_from_conf(conf, spark)
    if mode == "invoke":
        pipe.invoke(JSONSerde().to_dataframe(spark, CITY_ROWS))
    else:
        q = pipe.start(available_now=True, checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination(120)
    assert spark.table(f"global_temp.fanout_err_good_{mode}").first().n == 3
    dlq = spark.table(f"global_temp.fanout_err_dlq_{mode}").collect()
    assert {r.phase for r in dlq} == {"leg.bad_leg", "heavy_hitters"}
    assert pipe.stats.num_errors == 2


def test_monitor_legs_from_conf_in_dispatch_order(spark, tmp_path):
    """Every pipeline.* monitoring block becomes one leg, after the
    fan-out legs, in the fixed dispatch order, with its config
    fields mapped onto the leg."""
    from sql_flow_spark.pipeline import new_pipeline_from_conf

    ref = str(tmp_path / "ref")
    spark.createDataFrame(
        [("click", float(v)) for v in range(100)], "g string, v double"
    ).write.parquet(ref)
    conf = cfg.new_from_dict(
        {
            "pipeline": {
                "source": {"type": "files", "path": str(tmp_path / "in")},
                "handler": {"sql": "SELECT * FROM batch"},
                "sink": {"type": "noop"},
                "ann_index": {"index_dir": str(tmp_path / "ivf"), "k": 4},
                "rollup": {
                    "table_dir": str(tmp_path / "rollup"),
                    "keys": ["g"],
                    "aggs": {"v": "sum"},
                },
                "heavy_hitters": {
                    "state_dir": str(tmp_path / "hh"), "key_column": "g", "k": 5,
                },
                "curation_gate": {
                    "index_dir": str(tmp_path / "cg"), "quality_min": 0.3,
                },
                "ingest_dedup": {"index_dir": str(tmp_path / "dd")},
                "drift_monitor": {
                    "reference_path": ref,
                    "group_column": "g",
                    "value_column": "v",
                    "threshold": 0.4,
                },
            },
            "fanout": [
                {
                    "name": "copy",
                    "handler": {"sql": "SELECT * FROM batch"},
                    "sink": {"type": "noop"},
                },
            ],
        }
    )
    pipe = new_pipeline_from_conf(conf, spark)
    assert [leg.name for leg in pipe.legs] == [
        "leg.copy", "drift_monitor", "ingest_dedup", "curation_gate",
        "heavy_hitters", "rollup", "ann_index",
    ]
    _, drift, _, gate, hh, rollup, ann = pipe.legs
    assert drift.threshold == 0.4 and len(drift.fences["click"]) == 9
    assert gate.quality_min == 0.3
    assert hh.k == 5 and hh.key_col == "g"
    assert rollup.keys == ["g"]
    assert ann.conf.k == 4 and ann.index is None


def test_curation_pipeline_config(spark, tmp_path):
    """The curation stage as a YAML pipeline: keep/drop verdicts in the
    main leg, PII-scrubbed text in a fan-out leg."""
    from sql_flow_spark.pipeline import new_pipeline_from_conf

    docs_dir = str(tmp_path / "cdocs")
    spark.createDataFrame(
        [
            (1, "Hello World this is fine"),
            (2, "hello,   world! this is FINE"),  # dup of 1 after normalize
            (3, "x"),  # too short
            (4, "mail me at a@b.co now"),
        ],
        "doc_id long, text string",
    ).write.parquet(docs_dir)
    conf = cfg.new_from_path(
        os.path.join(EXAMPLES, "curation.pipeline.yml"),
        {"SQLFLOW_INPUT_PATH": docs_dir},
    )
    pipe = new_pipeline_from_conf(conf, spark)
    pipe.invoke()
    verdicts = {
        r.doc_id: r.verdict
        for r in spark.table("global_temp.curation_verdicts").collect()
    }
    assert verdicts[3] == "too_short"
    assert verdicts[2] == "duplicate"  # doc 1 is the keeper
    assert verdicts[1] == "keep" and verdicts[4] == "keep"
    scrubbed = {
        r.doc_id: r.text
        for r in spark.table("global_temp.curation_scrubbed").collect()
    }
    assert scrubbed[4] == "mail me at <EMAIL> now"


# --------------------------------------------------- JSON schema gate


def test_schema_accepts_every_example_config():
    """The shipped JSON schema (reference parity:
    sqlflow/static/schemas/config.json) must accept every example the
    repo ships — the schema describes the real surface, not a wish."""
    import glob

    for path in sorted(glob.glob(os.path.join(EXAMPLES, "*.yml"))):
        rendered = cfg.render_config(path)
        errors = cfg.validate_dict(rendered)
        assert not errors, f"{os.path.basename(path)}: {errors}"


def test_schema_rejects_bad_configs_with_located_messages():
    base = {
        "pipeline": {
            "source": {"type": "files", "path": "/tmp/in"},
            "handler": {"sql": "SELECT * FROM batch"},
            "sink": {"type": "console"},
        }
    }
    import copy

    # unknown sink type
    bad = copy.deepcopy(base)
    bad["pipeline"]["sink"]["type"] = "carrier_pigeon"
    errs = cfg.validate_dict(bad)
    assert errs and any("pipeline.sink.type" in e for e in errs)

    # missing source type
    bad = copy.deepcopy(base)
    del bad["pipeline"]["source"]["type"]
    errs = cfg.validate_dict(bad)
    assert errs and any(
        "pipeline.source" in e and "type" in e for e in errs
    )

    # bad error policy
    bad = copy.deepcopy(base)
    bad["pipeline"]["on_error"] = {"policy": "EXPLODE"}
    errs = cfg.validate_dict(bad)
    assert errs and any("on_error.policy" in e for e in errs)

    # wrong type for batch_size
    bad = copy.deepcopy(base)
    bad["pipeline"]["batch_size"] = "many"
    errs = cfg.validate_dict(bad)
    assert errs and any("batch_size" in e for e in errs)

    # top-level typo (additionalProperties: false at root)
    bad = copy.deepcopy(base)
    bad["pipelines"] = bad.pop("pipeline")
    errs = cfg.validate_dict(bad)
    assert errs

    # the base itself is clean
    assert cfg.validate_dict(base) == []


def test_cli_validate_uses_schema(tmp_path):
    """cli validate must fail (exit 1, located stderr message) on a
    schema violation and pass a good config."""
    from sql_flow_spark.cli import main

    good = tmp_path / "good.yml"
    good.write_text(
        "pipeline:\n"
        "  source: {type: files, path: /tmp/in, format: json}\n"
        "  handler: {sql: SELECT * FROM batch}\n"
        "  sink: {type: console}\n"
    )
    assert main(["validate", str(good)]) == 0

    bad = tmp_path / "bad.yml"
    bad.write_text(
        "pipeline:\n"
        "  source: {type: files, path: /tmp/in}\n"
        "  sink: {type: carrier_pigeon}\n"
    )
    assert main(["validate", str(bad)]) == 1


def test_example_command_output_validates():
    """`cli example` prints a config; it must pass its own schema."""
    from yaml import safe_load

    from sql_flow_spark.cli import EXAMPLE_CONFIG

    assert cfg.validate_dict(safe_load(EXAMPLE_CONFIG)) == []


def test_s3_parquet_sink_example(spark):
    """Reference s3.parquet.sink.yml parity: the object-store sink is
    just a FileSink with an s3a:// path; the SET fs.s3a.* init
    commands must land in the session Hadoop conf (that is the whole
    mapping of DuckDB's SET s3_*). Jar-gated: no hadoop-aws in this
    container, so nothing is written — the config surface and conf
    propagation are what's tested."""
    conf = cfg.new_from_path(os.path.join(EXAMPLES, "s3.parquet.sink.yml"))
    assert conf.pipeline.sink.type == "files"
    assert conf.pipeline.sink.path.startswith("s3a://")
    assert conf.pipeline.sink.format == "parquet"
    assert conf.pipeline.sink.options.get("compression") == "zstd"

    from sql_flow_spark.sinks import FileSink, new_sink_from_conf

    sink = new_sink_from_conf(conf.pipeline.sink, spark)
    assert isinstance(sink, FileSink)

    # run the init commands; they must reach the hadoop conf file
    # sources use (SessionState.newHadoopConf merges SQLConf in)
    for c in conf.commands:
        spark.sql(c.sql)
    hc = spark._jsparkSession.sessionState().newHadoopConf()
    assert hc.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hc.get("fs.s3a.path.style.access") == "true"


def test_cli_schema_prints_valid_schema(capsys):
    import json

    from sql_flow_spark.cli import main

    assert main(["schema"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["required"] == ["pipeline"]
    assert "source" in out["$defs"]


def test_dedupe_config_batch_and_stream(spark, tmp_path):
    """pipeline.dedupe (reference idempotent-sink parity): duplicate
    keys are dropped BEFORE the handler — batch mode via
    dropDuplicates, streaming mode via dropDuplicatesWithinWatermark
    across micro-batches."""
    import json as _json

    from sql_flow_spark.pipeline import new_pipeline_from_conf
    from sql_flow_spark.sources import FileSource

    conf = cfg.new_from_path(os.path.join(EXAMPLES, "idempotent.dedup.yml"))
    assert conf.pipeline.dedupe.keys == ["doc_id"]
    assert conf.pipeline.dedupe.time_column == "ts"

    # batch: 3 records, one duplicated key -> 2 reach the handler
    sink = MemorySink()
    pipe = new_pipeline_from_conf(conf, spark, sink_override=sink)
    rows = [
        {"doc_id": 1, "ts": "2024-01-01 00:00:00", "text": "a"},
        {"doc_id": 1, "ts": "2024-01-01 00:00:01", "text": "a-dup"},
        {"doc_id": 2, "ts": "2024-01-01 00:00:02", "text": "b"},
    ]
    batch = spark.createDataFrame(
        [(r["doc_id"], r["ts"], r["text"]) for r in rows],
        "doc_id long, ts string, text string",
    )
    pipe.invoke(batch)
    assert sorted(r.doc_id for r in sink.rows()) == [1, 2]

    # streaming: the same duplicate key in a LATER micro-batch is
    # dropped by the watermarked state
    in_dir = tmp_path / "dedupe-stream-in"
    in_dir.mkdir()
    (in_dir / "a.jsonl").write_text(_json.dumps(rows[0]) + "\n")
    (in_dir / "b.jsonl").write_text(
        _json.dumps(rows[1]) + "\n" + _json.dumps(rows[2]) + "\n"
    )
    sink2 = MemorySink()
    pipe2 = new_pipeline_from_conf(conf, spark, sink_override=sink2)
    pipe2.source = FileSource(str(in_dir), format="json", max_files_per_trigger=1)
    # cast ts for the watermark (json infers string)
    from pyspark.sql import functions as F

    orig = pipe2.source.read_stream

    def _read_stream(s):
        return orig(s).withColumn("ts", F.col("ts").cast("timestamp"))

    pipe2.source.read_stream = _read_stream
    q = pipe2.start(available_now=True, checkpoint_dir=str(tmp_path / "dd-ckpt"))
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in sink2.rows()) == [1, 2]


def test_iprange_nonequi_join_config(spark, tmp_path):
    """Non-equi (BETWEEN) enrichment against an external range table
    — the reference's attach-geoip flow (dev/config/examples/
    attach-geoip.yml: ip::inet BETWEEN asn.start_ip AND asn.end_ip)
    as handler SQL over an external_tables view."""
    rng_dir = tmp_path / "ranges"
    rng_dir.mkdir()
    (rng_dir / "ranges.csv").write_text(
        "start_num,end_num,asn,name\n"
        # 10.0.0.0 - 10.0.0.255 and 192.168.1.0 - 192.168.1.255
        "167772160,167772415,64500,corp-a\n"
        "3232235776,3232236031,64501,corp-b\n"
    )
    sink = MemorySink()
    invoke(
        spark,
        os.path.join(EXAMPLES, "iprange.join.yml"),
        _write_fixture(
            tmp_path,
            [
                '{"ip": "10.0.0.7"}',
                '{"ip": "192.168.1.200"}',
                '{"ip": "8.8.8.8"}',
            ],
        ),
        setting_overrides={"SQLFLOW_IPRANGES_PATH": str(rng_dir)},
        sink_override=sink,
    )
    rows = {(r.ip, r.asn, r.name) for r in sink.rows()}
    assert rows == {
        ("10.0.0.7", 64500, "corp-a"),
        ("192.168.1.200", 64501, "corp-b"),
        ("8.8.8.8", None, None),
    }
