"""Stream workloads: drain a pre-filled backlog through a Pipeline.

Each drain is a closed loop over one fixed backlog: a fresh checkpoint,
``availableNow`` with ``maxFilesPerTrigger=1`` (how the paper takes its
msgs/s figures), and the drain's wall time runs from ``start()`` until
every query of the pipeline (the main ``foreachBatch`` query and any
managed window query) has terminated.

The first drain of a run is the untimed check pass: sinks are wrapped
with recorders, and the outputs are compared with DuckDB over the same
generated files. It doubles as the first part of the JIT warm-up.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import statistics
import time

from spans import Tracer, group_counts, traced_handler, traced_sink

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIGS = {
    "stream_small_batches": "small_batches.yml",
    "stream_fanout": "fanout.yml",
}
# Drains, after the check pass, that finish the warm-up before timing.
WARMUP_DRAINS = {"stream_small_batches": 2, "stream_fanout": 2}
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _parquet_out(d: str) -> tuple[int, int, int]:
    """(files, bytes, rows) of the parquet part files under ``d``."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for root, _, names in os.walk(d):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                files += 1
                nbytes += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return files, nbytes, rows


class StreamWorkload:
    def __init__(self, spark, kind: str, data_dir: str, work_dir: str, tracer: Tracer):
        from sql_flow_spark import config as cfg
        from sql_flow_spark.pipeline import init_commands
        from sql_flow_spark.sources.external import register_external_tables
        from sql_flow_spark.udf import init_udfs

        self.spark, self.tracer = spark, tracer
        self.cfg = cfg
        self.data_dir, self.work_dir = data_dir, work_dir
        self.in_dir = os.path.join(data_dir, "in")
        self.conf_path = os.path.join(HERE, "configs", CONFIGS[kind])
        self.files = sorted(os.listdir(self.in_dir))
        self.msgs = 0
        for n in self.files:
            with open(os.path.join(self.in_dir, n), "rb") as f:
                self.msgs += sum(1 for _ in f)
        conf = self._conf("init")
        register_external_tables(spark, conf.external_tables)
        init_commands(spark, conf.commands)
        init_udfs(spark, conf.udfs)
        self.legs = ["main", *(leg.name for leg in conf.fanout)]
        self.has_window = bool(conf.tables)
        self.warmup_steps = WARMUP_DRAINS[kind]
        self.n_drains = 0
        self.check: dict = {}

    def _conf(self, tag: str):
        return self.cfg.new_from_path(self.conf_path, {
            "INPUT": self.in_dir,
            "STATIC": self.data_dir,
            "OUT": os.path.join(self.work_dir, tag),
        })

    def _pipeline(self, conf, recorders: dict | None):
        from sql_flow_spark.handlers import new_handler_from_conf
        from sql_flow_spark.pipeline import Pipeline
        from sql_flow_spark.sinks import new_sink_from_conf
        from sql_flow_spark.sources import new_source_from_conf

        wrap = self.tracer.enabled or recorders is not None

        def leg(name, hconf, sconf):
            h = new_handler_from_conf(hconf)
            s = new_sink_from_conf(sconf, self.spark)
            if wrap:
                h = traced_handler(self.tracer, h, name)
                s = traced_sink(self.tracer, s, name, (recorders or {}).get(name))
            return name, h, s

        p = conf.pipeline
        _, handler, sink = leg("main", p.handler, p.sink)
        return Pipeline(
            self.spark,
            source=new_source_from_conf(p.source),
            handler=handler,
            sink=sink,
            error_policy=p.on_error.policy,
            legs=[leg(f.name, f.handler, f.sink) for f in conf.fanout],
        )

    def drain(self, recorders: dict | None = None) -> dict:
        tag = f"d{self.n_drains}"
        self.n_drains += 1
        conf = self._conf(tag)
        pipe = self._pipeline(conf, recorders)
        t0 = time.perf_counter()
        main = pipe.start(
            available_now=True,
            checkpoint_dir=os.path.join(self.work_dir, tag, "ckpt"),
            managed_tables=conf.tables,
        )
        queries = [main, *main.managed_queries]
        for q in queries:
            q.awaitTermination()
        wall = time.perf_counter() - t0
        prog = _progress(main)
        triggers = [p for p in prog if p["numInputRows"] > 0]
        if len(triggers) != len(self.files):
            raise RuntimeError(f"drain {tag} ran {len(triggers)} triggers for {len(self.files)} files")
        return {
            "tag": tag,
            "wall": wall,
            "ops": self.msgs,
            # every execution of the micro-batch plan counts its source
            # rows again, so this over msgs is scans per trigger
            "source_rows": sum(p["numInputRows"] for p in prog),
            "latencies": [p["durationMs"]["triggerExecution"] for p in triggers],
            "triggers": triggers,
            "window": [_progress(q) for q in main.managed_queries],
            "run_id": str(main.runId),
        }

    # ----------------------------------------------------- check pass

    def check_pass(self) -> dict:
        """Untimed drain with recorders on the sinks whose output is not
        on disk (noop legs)."""
        from pyspark.sql import functions as F

        counts: collections.Counter = collections.Counter()
        joined = [0, 0]

        def main_rec(df):
            for city, n in df.collect():
                counts[city] += n

        def join_rec(df):
            row = df.agg(F.count("*"), F.count_if(F.col("state_full").isNull())).first()
            joined[0] += row[0]
            joined[1] += row[1]

        d = self.drain({"main": main_rec, "csv_join": join_rec})
        self.check = {"drain": d, "city_counts": dict(counts), "joined": joined}
        return d

    def verify(self) -> tuple[bool, list[str]]:
        """Compare the check pass with DuckDB over the same files."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"""
            CREATE VIEW msgs AS
            SELECT event, properties.city AS pcity, city, "user".id AS uid,
                   CAST(replace(replace("timestamp", 'T', ' '), 'Z', '') AS TIMESTAMP) AS ts
            FROM read_json('{self.in_dir}/*.json', format='newline_delimited',
                columns={{event: 'VARCHAR', properties: 'STRUCT(city VARCHAR)',
                          city: 'VARCHAR', "user": 'STRUCT(id VARCHAR)',
                          "timestamp": 'VARCHAR'}})
        """)
        problems = []
        want = dict(con.execute("SELECT pcity, count(*) FROM msgs GROUP BY 1").fetchall())
        if self.check["city_counts"] != want:
            problems.append(f"per-city counts {self.check['city_counts']} != {want}")
        if "csv_join" in self.legs:
            want_j = list(con.execute(f"""
                SELECT count(*), count(*) FILTER (WHERE l.state_full IS NULL)
                FROM msgs LEFT JOIN read_csv('{self.data_dir}/locations.csv', header=true) l
                ON l.city = msgs.pcity""").fetchone())
            if self.check["joined"] != want_j:
                problems.append(f"join rows/nulls {self.check['joined']} != {want_j}")
        out = os.path.join(self.work_dir, self.check["drain"]["tag"])
        if "enrich" in self.legs:
            got = con.execute(f"""
                SELECT count(*), sum(hash(event, "user".id, city, nested_city.something,
                                          extra, epoch_ms("timestamp")) % 1000003)
                FROM read_parquet('{out}/enrich/**/*.parquet')""").fetchone()
            want_e = con.execute("""
                SELECT count(*), sum(hash(event, uid, city, pcity, 'extra', epoch_ms(ts)) % 1000003)
                FROM msgs""").fetchone()
            if got != want_e:
                problems.append(f"enrich rows/checksum {got} != {want_e}")
        if self.has_window:
            files = [os.path.join(r, n) for r, _, ns in os.walk(f"{out}/window")
                     for n in ns if n.endswith(".parquet")]
            got_w = sorted(con.execute(
                "SELECT epoch(window_start)::BIGINT, city, count FROM read_parquet(?)",
                [files]).fetchall()) if files else []
            # a window is closed once the final watermark (max event
            # time - 60 s) has passed its end
            want_w = sorted(con.execute("""
                SELECT epoch(b)::BIGINT, pcity, n FROM (
                    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS b, pcity, count(*) AS n
                    FROM msgs GROUP BY 1, 2)
                WHERE b + INTERVAL 1 HOUR
                      <= (SELECT max(ts) FROM msgs) - INTERVAL 60 SECOND""").fetchall())
            if got_w != want_w:
                problems.append(
                    f"closed windows: {len(got_w)} rows != {len(want_w)} expected"
                )
        con.close()
        return not problems, problems

    def step(self) -> dict:
        return self.drain()

    def summary(self, steps: list[dict]) -> dict[str, float]:
        """End-to-end figures: medians over the measured drains, and
        the median trigger time over all their triggers."""
        return {
            "msgs_per_s": statistics.median(d["ops"] / d["wall"] for d in steps),
            "trigger_p50_ms": statistics.median(x for d in steps for x in d["latencies"]),
            "registry_s": statistics.median(d["wall"] for d in steps),
        }

    def discard(self, d: dict) -> None:
        shutil.rmtree(os.path.join(self.work_dir, d["tag"]), ignore_errors=True)

    # ------------------------------------------------------ per layer

    def layers(self, steps: list[dict], since: float) -> dict[str, float]:
        """Per-trigger layer figures over the measured drains, and
        exact counts from the first measured drain."""
        trig = [t for d in steps for t in d["triggers"]]
        n = max(1, len(trig))

        def phase(name):
            return _mean(t["durationMs"].get(name, 0) for t in trig)

        selfs = self.tracer.self_times(since)
        handler_ms = 1000.0 * selfs.get("handlers.invoke", 0.0) / n
        by_leg = collections.Counter()
        for s in self.tracer.spans:
            if s["start"] >= since:
                by_leg[s.get("leg")] += s["end"] - s["start"]
        sink_ms = {leg: 1000.0 * selfs.get(f"sinks.{leg}.write", 0.0) / n for leg in self.legs}
        add_batch = phase("addBatch")
        first = steps[0]
        m = {
            "sources.latest_offset_ms": phase("latestOffset"),
            "sources.get_batch_ms": phase("getBatch"),
            "pipeline.query_planning_ms": phase("queryPlanning"),
            "pipeline.wal_commit_ms": phase("walCommit"),
            "pipeline.commit_offsets_ms": phase("commitOffsets"),
            "pipeline.add_batch_ms": add_batch,
            "pipeline.dispatch_ms": add_batch - handler_ms - sum(sink_ms.values()),
            "handlers.invoke_ms": handler_ms,
        }
        for leg in self.legs:
            m[f"pipeline.leg.{leg}_ms"] = 1000.0 * by_leg[leg] / n
            m[f"sinks.{leg}.write_ms"] = sink_ms[leg]
        trig_ms = _mean(t["durationMs"]["triggerExecution"] for t in trig)
        m["trace.accounted_share"] = sum(phase(p) for p in PHASES) / trig_ms if trig_ms else 0.0
        out = os.path.join(self.work_dir, first["tag"])
        files, nbytes, rows = _parquet_out(out)
        m["sinks.files_written"] = float(files)
        m["sinks.bytes_written"] = float(nbytes)
        m["sinks.rows_out"] = float(rows)
        m["pipeline.rows_in"] = float(first["ops"])
        m["sources.scans_per_trigger"] = first["source_rows"] / first["ops"]
        c = group_counts(self.spark, first["run_id"])
        nt = max(1, len(first["triggers"]))
        m["jobs_per_trigger"] = c["jobs"] / nt
        m["stages_per_trigger"] = c["stages"] / nt
        m["tasks_per_trigger"] = c["tasks"] / nt
        win = [p for d in steps for w in d["window"] for p in w]
        if win:
            ops = [op for p in win for op in p.get("stateOperators", [])]
            m["streaming.window.trigger_ms"] = _mean(p["durationMs"]["triggerExecution"] for p in win)
            last = [w[-1] for w in first["window"] if w]
            m["streaming.window.state_rows"] = float(sum(
                op["numRowsTotal"] for p in last for op in p.get("stateOperators", [])))
            m["streaming.window.state_mem_bytes"] = float(max(
                (op["memoryUsedBytes"] for op in ops), default=0))
        return m
