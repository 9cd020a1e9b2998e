"""Source/sink unit coverage: kafka option building (reference:
tests/sinks/test_kafka.py builds producer conf), file sink round-trip,
sqlcommand substitutions, spooling push sources, serde."""

import json
import re

import pytest

from sql_flow_spark import config as cfg
from sql_flow_spark.serde import JSONSerde, RawSerde, new_serde
from sql_flow_spark.sinks import FileSink, SQLCommandSink, new_sink_from_conf
from sql_flow_spark.sources import KafkaSource, new_source_from_conf
from sql_flow_spark.sources.push import WebhookSource, WebsocketSource


def test_kafka_source_option_building():
    src = KafkaSource(
        brokers=["b1:9092", "b2:9092"],
        topics=["t1", "t2"],
        group_id="cg",
        auto_offset_reset="earliest",
        options={"security.protocol": "SASL_SSL", "kafka.sasl.mechanism": "PLAIN"},
    )
    opts = src.reader_options()
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "t1,t2"
    assert opts["startingOffsets"] == "earliest"
    assert opts["kafka.group.id"] == "cg"
    # non-prefixed options get the kafka. prefix; prefixed pass through
    assert opts["kafka.security.protocol"] == "SASL_SSL"
    assert opts["kafka.sasl.mechanism"] == "PLAIN"


def test_jdbc_source_option_validation():
    """JdbcSource mirrors the kafka option tests: required keys fail
    loudly, everything else passes through to the Spark JDBC reader
    (partitioned range reads included)."""
    from sql_flow_spark.sources.base import SourceException
    from sql_flow_spark.sources.external import JdbcSource

    with pytest.raises(SourceException, match="url"):
        JdbcSource({"dbtable": "t"})
    with pytest.raises(SourceException, match="dbtable"):
        JdbcSource({"url": "jdbc:postgresql://h/db"})

    src = JdbcSource(
        {
            "url": "jdbc:postgresql://h:5432/db",
            "dbtable": "public.users",
            "user": "u",
            "password": "p",
            "partitionColumn": "user_id",
            "lowerBound": "0",
            "upperBound": "1000000",
            "numPartitions": "32",
            "fetchsize": "10000",
        }
    )
    opts = src.reader_options()
    assert opts["url"] == "jdbc:postgresql://h:5432/db"
    assert opts["numPartitions"] == "32"  # parallel range read preserved
    # query-instead-of-dbtable is also accepted
    JdbcSource({"url": "jdbc:h2:mem:x", "query": "SELECT 1"})
    # no offset log -> streaming read refused with guidance
    with pytest.raises(SourceException, match="external table"):
        src.read_stream(None)


def test_source_factory_from_conf():
    conf = cfg.SourceConf(type="kafka", brokers=["b:9092"], topics=["t"])
    src = new_source_from_conf(conf)
    assert isinstance(src, KafkaSource)
    with pytest.raises(NotImplementedError):
        new_source_from_conf(cfg.SourceConf(type="bogus"))


def test_file_sink_roundtrip(spark, tmp_path):
    sink = FileSink(path=str(tmp_path / "out"), format="parquet")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    sink.write_table(df)
    sink.write_table(df)  # append mode
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 4


def test_file_sink_partition_by(spark, tmp_path):
    """partition_by writes hive-style directories and downstream scans
    partition-prune on them — the 100 TB lake layout, wired from the
    YAML sink block through to df.write.partitionBy."""
    import os

    from sql_flow_spark import config as cfg

    conf = cfg.new_from_dict(
        {
            "pipeline": {
                "source": {"type": "files", "path": "/unused"},
                "handler": {},
                "sink": {
                    "type": "files",
                    "path": str(tmp_path / "lake"),
                    "format": "parquet",
                    "partition_by": ["lang"],
                },
            }
        }
    )
    assert cfg.validate_dict(
        {"pipeline": {"source": {"type": "files", "path": "/u"},
                      "sink": {"type": "files", "path": "/o",
                               "partition_by": ["lang"]}}}
    ) == []
    sink = new_sink_from_conf(conf.pipeline.sink, spark)
    df = spark.createDataFrame(
        [(1, "en", "x"), (2, "de", "y"), (3, "en", "z")],
        "doc_id long, lang string, text string",
    )
    sink.write_table(df)
    # hive-style layout on disk
    assert sorted(
        d for d in os.listdir(tmp_path / "lake") if d.startswith("lang=")
    ) == ["lang=de", "lang=en"]
    # read-back prunes: the en-filter plan reads only the en partition
    back = spark.read.parquet(str(tmp_path / "lake"))
    en = back.where(back.lang == "en")
    assert en.count() == 2
    plan_str = en._jdf.queryExecution().executedPlan().toString()
    assert "lang=de" not in plan_str


def test_sqlcommand_sink_with_uuid_substitution(spark, tmp_path):
    out_dir = tmp_path / "sqlcmd"
    sink = SQLCommandSink(
        spark,
        sql=(
            "CREATE OR REPLACE GLOBAL TEMPORARY VIEW `sqlcmd_$UUID` AS "
            "SELECT COUNT(*) AS n FROM sqlflow_sink_batch"
        ),
        substitutions=[{"var": "$UUID", "type": "uuid4"}],
    )
    df = spark.createDataFrame([(1,), (2,)], "id long")
    sink.write_table(df)
    views = [
        v.viewName for v in spark.sql("SHOW VIEWS IN global_temp").collect()
    ]
    created = [v for v in views if re.match(r"sqlcmd_[0-9a-f\-]{36}", v)]
    assert created, f"no substituted view found in {views}"
    assert spark.table(f"global_temp.`{created[0]}`").first().n == 2


def test_console_sink_writes_json_lines(spark):
    # reference: tests/sinks/test_console.py
    import io

    from sql_flow_spark.sinks import ConsoleSink

    buf = io.StringIO()
    sink = ConsoleSink(f=buf)
    sink.write_table(spark.createDataFrame([(1, "a")], "id long, v string"))
    sink.flush()
    assert buf.getvalue() == '{"id":1,"v":"a"}\n'


def test_all_example_configs_parse():
    # reference: tests/test_configs.py parses every example config
    import glob
    import os

    examples = glob.glob(
        os.path.join(os.path.dirname(__file__), "..", "examples", "*.yml")
    )
    assert len(examples) >= 7
    for path in examples:
        conf = cfg.new_from_path(path)
        assert conf.pipeline.handler.sql
        assert conf.pipeline.source.type
        assert conf.pipeline.sink.type


def test_iceberg_sink_config_parse():
    from sql_flow_spark.sinks.core import IcebergSink

    sink = new_sink_from_conf(cfg.SinkConf(type="iceberg", name="cat.db.t"), spark=None)
    assert isinstance(sink, IcebergSink)
    assert sink.table == "cat.db.t"


def test_spooling_webhook_push_and_read(spark, tmp_path):
    src = WebhookSource(hmac_secret="s3cret", spool_dir=str(tmp_path / "spool"))
    src.push([{"a": 1}, {"a": 2}])
    src.push(['{"a": 3}'])
    df = src.read(spark)
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_webhook_hmac_validation():
    src = WebhookSource(hmac_secret="s3cret", spool_dir="/tmp/sfs-hmac-test")
    import hashlib
    import hmac as hmac_mod

    body = b'{"x": 1}'
    good = hmac_mod.new(b"s3cret", body, hashlib.sha256).hexdigest()
    assert src.validate_hmac(body, good)
    assert src.validate_hmac(body, f"sha256={good}")  # reference format
    assert not src.validate_hmac(body, "0" * 64)


def _post(url: str, body: bytes, headers: dict | None = None) -> int:
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers or {}, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code


def test_webhook_http_server_end_to_end(spark, tmp_path):
    """POST real HTTP -> HMAC gate -> spool -> Spark pipeline SQL.
    Mirrors reference tests/sources/test_webhook.py against the
    FastAPI server (reference: sqlflow/sources/webhook.py:73)."""
    import hashlib
    import hmac as hmac_mod

    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink

    src = WebhookSource(hmac_secret="s3cret", spool_dir=str(tmp_path / "hook"))
    receiver = src.start_server()
    try:
        body = b'{"city": "nyc", "n": 2}\n{"city": "nyc", "n": 3}'
        sig = "sha256=" + hmac_mod.new(b"s3cret", body, hashlib.sha256).hexdigest()
        assert _post(receiver.url, body, {"X-Signature": sig}) == 200
        # bad signature rejected, missing signature rejected
        assert _post(receiver.url, body, {"X-Signature": "sha256=" + "0" * 64}) == 403
        assert _post(receiver.url, body) == 400
        assert _post(receiver.url.replace("/events", "/nope"), body) == 404
        assert receiver.request_count == {"200": 1, "403": 1, "400": 1, "404": 1}

        sink = MemorySink("webhook_e2e")
        pipe = Pipeline(
            spark,
            source=src,
            handler=InferredBatch("SELECT city, SUM(n) AS total FROM batch GROUP BY city"),
            sink=sink,
        )
        pipe.invoke()
        rows = sink.rows()
        assert [(r.city, r.total) for r in rows] == [("nyc", 5)]
    finally:
        src.stop_server()


def _start_test_ws_server(messages: list[bytes]):
    """Minimal in-test RFC 6455 server: one connection, handshake,
    send `messages` as text frames (with a ping in between), then
    close."""
    import socket
    import threading

    from sql_flow_spark.sources.shims import (
        OP_CLOSE,
        OP_PING,
        OP_TEXT,
        encode_frame,
        read_frame,
        ws_accept_key,
    )

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]

    def serve():
        conn, _ = server.accept()
        req = b""
        while b"\r\n\r\n" not in req:
            req += conn.recv(4096)
        key = next(
            ln.split(":", 1)[1].strip()
            for ln in req.decode("latin-1").splitlines()
            if ln.lower().startswith("sec-websocket-key:")
        )
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {ws_accept_key(key)}\r\n\r\n"
            ).encode()
        )
        for i, msg in enumerate(messages):
            conn.sendall(encode_frame(OP_TEXT, msg, masked=False))
            if i == 0:
                conn.sendall(encode_frame(OP_PING, b"hb", masked=False))
                opcode, _, payload = read_frame(conn)  # expect masked pong
                assert (opcode, payload) == (10, b"hb")
        conn.sendall(encode_frame(OP_CLOSE, b"", masked=False))
        read_frame(conn)  # client's close reply
        conn.close()
        server.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    return port, t


def test_websocket_client_end_to_end(spark, tmp_path):
    """Real socket handshake + frames -> spool -> Spark read. Includes
    a >125-byte payload to exercise the 16-bit length path (reference:
    sqlflow/sources/websocket.py:25 streams frames the same way)."""
    big = ("x" * 300).join(["", ""])  # 300-byte value -> extended length
    messages = [
        b'{"seq": 1, "body": "a"}',
        ('{"seq": 2, "body": "' + big + '"}').encode(),
        b'{"seq": 3, "body": "c"}',
    ]
    port, server_thread = _start_test_ws_server(messages)
    src = WebsocketSource(uri=f"ws://127.0.0.1:{port}/feed", spool_dir=str(tmp_path / "ws"))
    client = src.start_client()
    client.join(timeout=30)
    server_thread.join(timeout=30)
    assert client.error is None, f"client died: {client.error!r}"
    import glob as _glob

    assert len(_glob.glob(str(tmp_path / "ws" / "*.jsonl"))) == 3
    df = src.read(spark)
    rows = {r.seq: r.body for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2] == big and len(big) == 300


def test_serde_roundtrip(spark):
    js = new_serde("json")
    assert isinstance(js, JSONSerde)
    df = js.to_dataframe(spark, ['{"a": 1, "b": "x"}', '{"a": 2}'])
    assert df.count() == 2
    encoded = js.encode_rows(df.orderBy("a"))
    assert json.loads(encoded[0])["b"] == "x"

    raw = new_serde("raw")
    assert isinstance(raw, RawSerde)
    rdf = raw.to_dataframe(spark, ["payload-1", "payload-2"])
    assert rdf.columns == ["value"]
    with pytest.raises(NotImplementedError):
        new_serde("xml")


def test_websocket_pending_flushed_on_close(spark, tmp_path):
    """batch_records > 1 buffers messages; a partial batch left when
    the server closes the stream must still reach the spool (ADVICE r2:
    silently dropped before)."""
    import glob as _glob

    messages = [b'{"seq": 1}', b'{"seq": 2}', b'{"seq": 3}']
    port, server_thread = _start_test_ws_server(messages)
    src = WebsocketSource(
        uri=f"ws://127.0.0.1:{port}/feed",
        batch_records=5,  # never reached: flush must come from on_close
        spool_dir=str(tmp_path / "wsflush"),
    )
    client = src.start_client()
    client.join(timeout=30)
    server_thread.join(timeout=30)
    assert client.error is None
    files = _glob.glob(str(tmp_path / "wsflush" / "*.jsonl"))
    assert len(files) == 1  # one flush of the partial batch
    assert sorted(r.seq for r in src.read(spark).collect()) == [1, 2, 3]
    # stop_client after the loop already flushed is a no-op, not a dup
    src.stop_client()
    assert len(_glob.glob(str(tmp_path / "wsflush" / "*.jsonl"))) == 1


def test_websocket_frame_size_cap():
    """A peer-declared 64-bit length beyond max_frame_size is refused
    before allocation (ADVICE r2: unbounded driver memory)."""
    import struct

    from sql_flow_spark.sources.shims import MAX_FRAME_SIZE, read_frame

    class FeedSock:
        def __init__(self, data):
            self.data = data

        def recv(self, n):
            out, self.data = self.data[:n], self.data[n:]
            return out

    # text frame, unmasked, 127 -> 8-byte length of 2**40
    frame_head = bytes([0x81, 127]) + struct.pack(">Q", 1 << 40)
    with pytest.raises(ConnectionError, match="exceeds max_frame_size"):
        read_frame(FeedSock(frame_head))
    # custom cap applies too
    small = bytes([0x81, 126]) + struct.pack(">H", 2048)
    with pytest.raises(ConnectionError, match="exceeds max_frame_size"):
        read_frame(FeedSock(small), max_size=1024)
    assert MAX_FRAME_SIZE == 16 * 1024 * 1024


def test_websocket_clean_stop_records_no_error(tmp_path):
    """stop() closes the socket under the blocked read loop; the
    resulting OSError must NOT surface as .error (ADVICE r2)."""
    import socket
    import threading
    import time

    from sql_flow_spark.sources.shims import ws_accept_key

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    handshaken = threading.Event()

    def serve():
        conn, _ = server.accept()
        req = b""
        while b"\r\n\r\n" not in req:
            req += conn.recv(4096)
        key = next(
            ln.split(":", 1)[1].strip()
            for ln in req.decode("latin-1").splitlines()
            if ln.lower().startswith("sec-websocket-key:")
        )
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {ws_accept_key(key)}\r\n\r\n"
            ).encode()
        )
        handshaken.set()
        conn.recv(65536)  # hang until the client goes away
        conn.close()
        server.close()

    threading.Thread(target=serve, daemon=True).start()
    src = WebsocketSource(
        uri=f"ws://127.0.0.1:{port}/feed", spool_dir=str(tmp_path / "wsstop")
    )
    client = src.start_client()
    assert handshaken.wait(timeout=10)
    time.sleep(0.1)  # let the client block in read_frame
    src.stop_client()
    assert client.error is None, f"clean stop recorded error: {client.error!r}"


def test_webhook_malformed_body_gets_400(tmp_path):
    """Non-UTF-8 bodies get an HTTP 400 + metric, not a dropped
    connection (ADVICE r2: handler used to raise out of do_POST)."""
    src = WebhookSource(spool_dir=str(tmp_path / "hook400"))
    receiver = src.start_server()
    try:
        assert _post(receiver.url, b"\xff\xfe\xfd not utf8") == 400
        assert receiver.request_count.get("400") == 1
    finally:
        src.stop_server()


def test_kafka_missing_jar_raises_actionable_error(spark):
    """The connector jar is deliberately not bundled (cluster ships it
    via --packages); the failure must name the coordinate, not surface
    Spark's generic DATA_SOURCE_NOT_FOUND (r3 jar probe, SCALING.md)."""
    from sql_flow_spark.sources.base import SourceException

    src = KafkaSource(brokers=["b:9092"], topics=["t"])
    with pytest.raises(SourceException, match="spark-sql-kafka-0-10"):
        src.read_stream(spark)
    with pytest.raises(SourceException, match="--packages"):
        src.read(spark)


def test_iceberg_missing_catalog_raises_actionable_error(spark):
    """Like the kafka jar test: without the iceberg-spark-runtime jar
    (r3 probe, SCALING.md) the write must name the --packages
    coordinate, whether the catalog conf is absent or points at the
    missing plugin class."""
    from sql_flow_spark.sinks import IcebergSink, SinkException

    df = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(SinkException, match="iceberg-spark-runtime"):
        IcebergSink("nocatalog.db.t").write_table(df)
    spark.conf.set(
        "spark.sql.catalog.lakeprobe", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        with pytest.raises(SinkException, match="--packages"):
            IcebergSink("lakeprobe.db.t").write_table(df)
    finally:
        spark.conf.unset("spark.sql.catalog.lakeprobe")


def test_clickhouse_sink_option_mapping():
    """Reference ClickhouseSink semantics (sinks.py:147) on JDBC:
    no-transaction isolation, pinned driver, block-sized batches;
    explicit options win over defaults."""
    from sql_flow_spark.sinks import ClickHouseSink

    sink = new_sink_from_conf(
        cfg.SinkConf(
            type="clickhouse",
            path="jdbc:clickhouse://ch:8123/default",
            name="events_out",
        ),
        spark=None,
    )
    assert isinstance(sink, ClickHouseSink)
    opts = sink.writer_options()
    assert opts["url"] == "jdbc:clickhouse://ch:8123/default"
    assert opts["dbtable"] == "events_out"
    assert opts["driver"] == "com.clickhouse.jdbc.ClickHouseDriver"
    assert opts["isolationLevel"] == "NONE"
    assert opts["batchsize"] == "100000"
    override = ClickHouseSink(
        url="jdbc:clickhouse://ch:8123/d", table="t",
        options={"batchsize": "5000"},
    )
    assert override.writer_options()["batchsize"] == "5000"


def test_lakehouse_example_config(spark):
    """examples/files.lakehouse.yml (reference kafka.ducklake.yml
    shape): catalog SETs as init commands + iceberg sink; jar-gated at
    the write, parseable everywhere."""
    import os

    from sql_flow_spark.sinks import IcebergSink, SinkException
    from sql_flow_spark.sinks.core import new_sink_from_conf as mk

    path = os.path.join(os.path.dirname(__file__), "..", "examples",
                        "files.lakehouse.yml")
    conf = cfg.new_from_path(path)
    assert [c.sql.startswith("SET spark.sql.catalog") for c in conf.commands] \
        == [True, True, True]
    sink = mk(conf.pipeline.sink, spark=None)
    assert isinstance(sink, IcebergSink) and sink.table == "lake.db.documents"
    # run the init commands, then the gated write fails actionably
    for c in conf.commands:
        spark.sql(c.sql)
    try:
        with pytest.raises(SinkException, match="--packages"):
            sink.write_table(spark.createDataFrame([(1,)], "doc_id long"))
    finally:
        spark.conf.unset("spark.sql.catalog.lake")
        spark.conf.unset("spark.sql.catalog.lake.type")
        spark.conf.unset("spark.sql.catalog.lake.warehouse")


# ----------------------------------------------------------- upsert sink


def _upsert_rows(sink):
    return {
        r.k: (r.v, r.ts) for r in sink.current().collect()
    }


def test_upsert_sink_latest_wins(spark, tmp_path):
    """The ON CONFLICT DO UPDATE parity: later batches replace earlier
    rows with the same key; unrelated keys survive."""
    from sql_flow_spark.sinks import UpsertSink

    sink = UpsertSink(
        spark, path=str(tmp_path / "t"), key=["k"], n_buckets=8
    )
    sink.write_table(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k long, v string, ts long"
    ))
    sink.write_table(spark.createDataFrame(
        [(2, "B", 20), (4, "d", 20)], "k long, v string, ts long"
    ))
    assert _upsert_rows(sink) == {
        1: ("a", 10), 2: ("B", 20), 3: ("c", 10), 4: ("d", 20)
    }


def test_upsert_sink_order_by_beats_arrival(spark, tmp_path):
    """With order_by, a late-arriving OLD version must not clobber a
    newer row already in the table (event-time, not arrival-time,
    wins)."""
    from sql_flow_spark.sinks import UpsertSink

    sink = UpsertSink(
        spark, path=str(tmp_path / "t"), key=["k"], order_by="ts",
        n_buckets=8,
    )
    sink.write_table(spark.createDataFrame(
        [(1, "new", 100)], "k long, v string, ts long"
    ))
    sink.write_table(spark.createDataFrame(
        [(1, "stale", 50)], "k long, v string, ts long"
    ))
    assert _upsert_rows(sink) == {1: ("new", 100)}


def test_upsert_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale contract: a batch touching one key must not rewrite
    untouched bucket partitions (per-batch cost ~ touched buckets, not
    table size)."""
    import os

    from sql_flow_spark.sinks import UpsertSink

    path = tmp_path / "t"
    sink = UpsertSink(spark, path=str(path), key=["k"], n_buckets=8)
    sink.write_table(spark.createDataFrame(
        [(i, "x", 1) for i in range(50)], "k long, v string, ts long"
    ))

    def bucket_files():
        out = {}
        for d in os.listdir(path):
            if d.startswith("__bucket="):
                out[d] = sorted(os.listdir(path / d))
        return out

    before = bucket_files()
    assert len(before) > 1  # keys spread over several buckets
    sink.write_table(spark.createDataFrame(
        [(0, "y", 2)], "k long, v string, ts long"
    ))
    after = bucket_files()
    changed = {d for d in before if before[d] != after.get(d)}
    assert len(changed) == 1  # only key 0's bucket was rewritten
    assert _upsert_rows(sink)[0] == ("y", 2)


def test_upsert_sink_restart_safe(spark, tmp_path):
    """A new sink instance over an existing table must resume the
    internal sequence: its batches still beat all previous rows."""
    from sql_flow_spark.sinks import UpsertSink

    path = str(tmp_path / "t")
    s1 = UpsertSink(spark, path=path, key=["k"], n_buckets=4)
    s1.write_table(spark.createDataFrame(
        [(1, "first", 1)], "k long, v string, ts long"
    ))
    s2 = UpsertSink(spark, path=path, key=["k"], n_buckets=4)
    s2.write_table(spark.createDataFrame(
        [(1, "second", 1)], "k long, v string, ts long"
    ))
    assert _upsert_rows(s2) == {1: ("second", 1)}


def test_upsert_sink_from_config(spark, tmp_path):
    from sql_flow_spark import config as cfg
    from sql_flow_spark.sinks import UpsertSink

    d = {
        "pipeline": {
            "source": {"type": "files", "path": "/unused"},
            "handler": {},
            "sink": {
                "type": "upsert",
                "path": str(tmp_path / "t"),
                "key": ["user_id"],
                "order_by": "ts",
                "n_buckets": 16,
            },
        }
    }
    assert cfg.validate_dict(d) == []
    conf = cfg.new_from_dict(d)
    sink = new_sink_from_conf(conf.pipeline.sink, spark)
    assert isinstance(sink, UpsertSink)
    assert sink.key == ["user_id"] and sink.order_by == "ts"
    assert sink.n_buckets == 16


def test_socket_source_live_pipeline_e2e(spark):
    """Live-network streaming e2e (the engine path a Kafka reader
    shares, minus the jar this container lacks): a loopback TCP server
    emits JSON lines; SocketSource -> handler SQL (from_json-style
    parse) -> MemorySink through the full Pipeline machinery with a
    real continuous trigger. Proves readStream over a network source
    feeds micro-batches through handler+sink, not just file spools."""
    import json
    import socket as socketlib
    import tempfile
    import threading
    import time

    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink
    from sql_flow_spark.sources import SocketSource, new_source_from_conf
    from sql_flow_spark import config as cfg

    records = [{"k": "a", "v": 1.5}, {"k": "b", "v": 2.5}, {"k": "a", "v": 3.0}]
    server = socketlib.socket(socketlib.AF_INET, socketlib.SOCK_STREAM)
    server.setsockopt(socketlib.SOL_SOCKET, socketlib.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            conn.sendall(
                ("\n".join(json.dumps(r) for r in records) + "\n").encode()
            )
            stop.wait(60)  # keep the connection open until the test ends

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    # config round-trip: the socket type is schema-valid and builds
    d = {"pipeline": {
        "source": {"type": "socket",
                   "options": {"host": "127.0.0.1", "port": port}},
        "handler": {}, "sink": {"type": "noop"},
    }}
    assert cfg.validate_dict(d) == []
    built = new_source_from_conf(cfg.new_from_dict(d).pipeline.source)
    assert isinstance(built, SocketSource) and built.port == port

    sink = MemorySink()
    pipe = Pipeline(
        spark=spark,
        source=SocketSource("127.0.0.1", port),
        handler=InferredBatch(
            "SELECT get_json_object(value, '$.k') AS k, "
            "CAST(get_json_object(value, '$.v') AS DOUBLE) AS v FROM batch"
        ),
        sink=sink,
    )
    q = pipe.start(
        available_now=False,
        checkpoint_dir=tempfile.mkdtemp(prefix="sfs-sock-ckpt-"),
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(sink.rows()) < len(records):
            time.sleep(0.5)
        got = sorted((r.k, r.v) for r in sink.rows()[: len(records)])
        assert got == [("a", 1.5), ("a", 3.0), ("b", 2.5)]
    finally:
        q.stop()
        stop.set()
        server.close()


def test_jsonl_spool_python_datasource_e2e(spark, tmp_path):
    """Custom Python DataSource (Spark 4 pyspark.sql.datasource) e2e:
    a spool directory with REAL offset tracking — files arriving
    mid-stream are picked up by the next micro-batch, and a restart
    from the checkpoint resumes from the committed offset (no
    re-delivery) — the durable-source contract the socket source
    can't make."""
    import json
    import time

    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import MemorySink
    from sql_flow_spark.sources import JsonlSpoolSource, new_source_from_conf
    from sql_flow_spark import config as cfg

    spool = tmp_path / "spool"
    spool.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def put(name, recs):
        tmp = spool / ("." + name)
        tmp.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
        tmp.rename(spool / name)

    put("000.jsonl", [{"k": "a", "v": 1}, {"k": "b", "v": 2}])

    # config round-trip
    d = {"pipeline": {
        "source": {"type": "jsonl_spool", "path": str(spool)},
        "handler": {}, "sink": {"type": "noop"},
    }}
    assert cfg.validate_dict(d) == []
    built = new_source_from_conf(cfg.new_from_dict(d).pipeline.source)
    assert isinstance(built, JsonlSpoolSource)

    handler = InferredBatch(
        "SELECT get_json_object(value, '$.k') AS k, "
        "CAST(get_json_object(value, '$.v') AS INT) AS v, src_file "
        "FROM batch"
    )
    sink = MemorySink()
    pipe = Pipeline(
        spark=spark, source=JsonlSpoolSource(str(spool)),
        handler=handler, sink=sink,
    )
    q = pipe.start(available_now=False, checkpoint_dir=ckpt)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(sink.rows()) < 2:
            time.sleep(0.3)
        assert sorted((r.k, r.v) for r in sink.rows()) == [("a", 1), ("b", 2)]
        # file arriving mid-stream is picked up by a later micro-batch
        put("001.jsonl", [{"k": "c", "v": 3}])
        while time.time() < deadline and len(sink.rows()) < 3:
            time.sleep(0.3)
        got = sorted((r.k, r.v) for r in sink.rows())
        assert got == [("a", 1), ("b", 2), ("c", 3)]
        assert {r.src_file for r in sink.rows()} == {"000.jsonl", "001.jsonl"}
    finally:
        q.stop()

    # restart from the checkpoint: committed files must NOT re-deliver
    sink2 = MemorySink()
    pipe2 = Pipeline(
        spark=spark, source=JsonlSpoolSource(str(spool)),
        handler=handler, sink=sink2,
    )
    put("002.jsonl", [{"k": "d", "v": 4}])
    q2 = pipe2.start(available_now=False, checkpoint_dir=ckpt)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(sink2.rows()) < 1:
            time.sleep(0.3)
        assert sorted((r.k, r.v) for r in sink2.rows()) == [("d", 4)]
    finally:
        q2.stop()

    # batch backfill over the same spool reads everything once
    batch = JsonlSpoolSource(str(spool)).read(spark)
    assert batch.count() == 4
