"""registry_mix: a fixed list of query-registry keys in one warm session.

One pass runs every key once: the builder ``QUERIES[k](spark, dir)``,
then execution into the noop sink. ``registry_s`` sums each key's
median build + execute time over the measured passes. The first pass
of a run is the untimed check pass: it collects each key's rows
instead, for the DuckDB oracle comparison, and doubles as JIT warm-up.
"""

from __future__ import annotations

import gc
import statistics
import time

from spans import Tracer, group_counts, rebind_load_tables

# The eight reference-capability keys; cheap keys whose time is mostly
# builder + load_tables fixed cost; a driver-twin key (bounded power
# iteration on the driver) and a key whose builder runs eager Spark
# jobs. Per-key time is nearly all fixed cost at this scale, so the
# list, not the scale factor, sets the pass time.
KEYS = (
    "basic_agg", "enrich", "filter_transform", "dim_join",
    "tumbling_window", "sliding_window", "udf_parse_domain", "latest_by_key",
    "string_ops", "q6_selective_agg", "lang_id", "token_count",
    "embedding_top_pc", "abc_classification",
)
MODULES = ("operators.core", "operators.extra", "functions.textops",
           "functions.similarity")
WARMUP_PASSES = 2  # after the check pass


def module_of(fn) -> str:
    return fn.__module__.removeprefix("sql_flow_spark.")


class RegistryWorkload:
    def __init__(self, spark, kind: str, data_dir: str, work_dir: str, tracer: Tracer):
        from sql_flow_spark.operators import ORACLES, QUERIES

        self.spark, self.tracer, self.data_dir = spark, tracer, data_dir
        self.queries, self.oracles = QUERIES, ORACLES
        missing = [k for k in KEYS if k not in QUERIES]
        if missing:
            raise SystemExit(f"registry keys not found: {missing}")
        if tracer.enabled:
            rebind_load_tables(tracer, spark)
        self.warmup_steps = WARMUP_PASSES
        self.n_passes = 0
        self.rows: dict[str, list] = {}
        self.cols: dict[str, list] = {}
        self.errors: dict[str, str] = {}

    def _run_key(self, k: str, collect: bool) -> dict:
        sc = self.spark.sparkContext
        tag = f"perfbench.p{self.n_passes}.{k}"
        layer = module_of(self.queries[k])
        rec = {"key": k, "module": layer}
        sc.setJobGroup(f"{tag}.build", k)
        t0 = time.perf_counter()
        with self.tracer.span(f"{layer}.build", key=k):
            df = self.queries[k](self.spark, self.data_dir)
        t1 = time.perf_counter()
        if self.tracer.enabled:
            sc.setJobGroup(f"{tag}.plan", k)
            with self.tracer.span(f"{layer}.plan", key=k):
                df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(f"{tag}.exec", k)
        with self.tracer.span(f"{layer}.exec", key=k):
            if collect:
                self.rows[k] = [tuple(r) for r in df.collect()]
                self.cols[k] = df.columns
            else:
                df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(tag=tag, build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2,
                   total_s=(t1 - t0) + (t3 - t2))
        return rec

    def _pass(self, collect: bool) -> dict:
        # free the previous pass's checkpoint blocks and proxies before
        # timing, so passes do not inherit each other's garbage
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        recs, failed = [], 0
        for k in KEYS:
            try:
                recs.append(self._run_key(k, collect))
            except Exception as e:  # a failing key is counted, not fatal
                failed += 1
                self.errors[k] = f"{type(e).__name__}: {e}"[:500]
        self.n_passes += 1
        return {
            "t0": t0,
            "keys": recs,
            "ops": len(KEYS),
            "failed": failed,
            "wall": sum(r["total_s"] for r in recs),
            "latencies": [1000.0 * r["total_s"] for r in recs],
        }

    def check_pass(self) -> dict:
        return self._pass(collect=True)

    def step(self) -> dict:
        return self._pass(collect=False)

    def summary(self, steps: list[dict]) -> dict[str, float]:
        """``registry_s`` sums each key's median build + execute time
        over the measured passes, so a steal burst during one key of one
        pass drops out; ``msgs_per_s`` is key executions per second of
        that sum."""
        per_key: dict[str, list[float]] = {}
        for s in steps:
            for r in s["keys"]:
                per_key.setdefault(r["key"], []).append(r["total_s"])
        registry_s = sum(statistics.median(v) for v in per_key.values())
        return {
            "msgs_per_s": len(per_key) / registry_s,
            "trigger_p50_ms": statistics.median(x for s in steps for x in s["latencies"]),
            "registry_s": registry_s,
        }

    def discard(self, d: dict) -> None:
        pass

    def verify(self) -> tuple[bool, list[str]]:
        """Oracle keys: rows equal to DuckDB's ``oracle_sql`` (the
        order-insensitive exact comparison of scripts/check_oracle.py).
        Rows-only keys: a non-empty result whose row count repeats on a
        second, independent build."""
        import duckdb

        from sql_flow_spark.tables import TABLE_NAMES

        problems = [f"{k}: {e}" for k, e in self.errors.items()]
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")

        def canon(rows, cols):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(tuple(repr(r[i]) for i in order) for r in rows)

        for k in KEYS:
            if k not in self.rows:
                continue
            srows, scols = self.rows[k], self.cols[k]
            if k in self.oracles:
                res = con.execute(self.oracles[k])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                if sorted(scols) != sorted(dcols) or canon(srows, scols) != canon(drows, dcols):
                    problems.append(f"{k}: differs from oracle ({len(srows)} vs {len(drows)} rows)")
            else:
                again = self.queries[k](self.spark, self.data_dir).count()
                if not srows or again != len(srows):
                    problems.append(f"{k}: rows-only count {len(srows)} then {again}")
        con.close()
        return not problems, problems

    def layers(self, steps: list[dict], since: float) -> dict[str, float]:
        """Per owning module: times are medians over the measured passes,
        counts come from the first measured pass (they repeat exactly)."""
        m: dict[str, float] = {}
        # counted now, not right after each key: the status tracker is
        # fed asynchronously and can lag the last task of a job
        counts = {}
        for r in steps[0]["keys"]:
            b = group_counts(self.spark, f"{r['tag']}.build")
            e = group_counts(self.spark, f"{r['tag']}.exec")
            load = group_counts(self.spark, f"{r['tag']}.build.load")
            counts[r["key"]] = {"build_jobs": b["jobs"], "exec_jobs": e["jobs"],
                                "load_jobs": load["jobs"], "stages": b["stages"] + e["stages"],
                                "tasks": b["tasks"] + e["tasks"]}
        for mod in MODULES:
            for f in ("build_s", "plan_s", "exec_s"):
                m[f"{mod}.{f}"] = statistics.median(
                    sum(r[f] for r in s["keys"] if r["module"] == mod) for s in steps)
            for f in ("build_jobs", "exec_jobs", "stages", "tasks"):
                m[f"{mod}.{f}"] = float(sum(
                    counts[r["key"]][f] for r in steps[0]["keys"] if r["module"] == mod))
        loads = [s for s in self.tracer.spans if s["name"] == "tables.load"]
        per_pass = [
            sum(s["end"] - s["start"] for s in loads if a["t0"] <= s["start"] < b)
            for a, b in zip(steps, [x["t0"] for x in steps[1:]] + [float("inf")])
        ]
        m["tables.load_s"] = statistics.median(per_pass)
        m["tables.load_jobs"] = float(sum(c["load_jobs"] for c in counts.values()))
        return m
