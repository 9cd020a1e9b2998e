"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1).

Output contract (r7 — the r6 payload outgrew the driver's 2000-char
stdout-tail capture and arrived unparseable):

  1. the FULL per-key payload is written to ``bench_out.json`` at the
     repo root (committed — truncation can never eat it), and printed
     as an early stdout line for humans;
  2. the LAST stdout line is a COMPACT summary guaranteed to fit the
     driver's tail window: metric/value/unit/sf/streaming plus only
     the slowest keys, with a pointer to the full file.

Sampling protocol (r8 — r7's single-sample numbers disagreed up to
2.5x between runs, so the bench could no longer detect a genuine 2x
regression): every key is timed TWICE; if the two samples spread more
than SPREAD_GATE, a third sample is taken and the reported value is
the median of three, else the min of two (min is the standard
steady-state estimator under additive load noise; median-of-3 guards
the keys where one sample is an outlier in either direction). All raw
samples and the final spread are recorded in the payload so the next
round can see exactly how trustworthy each number is.

Session isolation (r8): the graph family runs in its OWN subprocess
(fresh JVM) before the main sweep — with 160 keys in one warm JVM,
accumulated codegen/listener state was the dominant noise source for
the heaviest keys.

Headline = every key in the operator registry except EXCLUDED (each
exclusion has a named reason).  The deliberately-quadratic oracle
twins AND the full-graph exact ``triangle_count`` (O(E^1.5), the
sparsified variant is the production headline) are benched at sf0.01
in the ``small_sf_ab`` section so every A/B stays visible without a
structurally supra-linear entry in the sf0.1 headline total.

Each query is executed to completion via the noop sink (full plan
runs, no collect/driver cost — the number measures the engine, not
the transfer).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sql_flow_spark.operators import QUERIES  # noqa: E402
from sql_flow_spark.session import get_spark  # noqa: E402

# Registry keys deliberately NOT in the sf0.1 headline, with reasons.
# tests/test_entry_contract.py asserts HEADLINE ∪ EXCLUDED == registry.
EXCLUDED: dict[str, str] = {
    "dedup_clusters": (
        "O(block^2) blocked oracle twin of dedup_clusters_lsh; benched "
        "at sf0.01 in the small_sf_ab section so the A/B stays visible"
    ),
    "ngram_jaccard": (
        "source-blocked exact-pair oracle twin (near-quadratic per "
        "block by design); production is dedup_minhash_lsh candidates "
        "+ the same verifier; benched at sf0.01 in small_sf_ab"
    ),
    "containment_pairs": (
        "source-blocked exact-pair oracle twin, same contract as "
        "ngram_jaccard; production feeds LSH candidates; benched at "
        "sf0.01 in small_sf_ab"
    ),
    "dedup_eval_report": (
        "scores method pairs against the source-blocked exact-pair "
        "truth (near-quadratic per block by design, same contract as "
        "ngram_jaccard); benched at sf0.01 in small_sf_ab"
    ),
    "triangle_count": (
        "full-graph exact triangle count is O(E^1.5) — structurally "
        "supra-linear (first-decade probe 6.8x); the production "
        "headline is triangle_count_sparse (w>=2 sparsification, same "
        "pipeline); exact stays oracle-green and benched at sf0.01 in "
        "small_sf_ab"
    ),
    "ann_recall_report": (
        "the 4-job eval panel (3 ANN searches + 1 brute-force exact "
        "scan) — its three method legs are each benched individually "
        "in the headline, so the panel's cost is audit overhead, not "
        "an engine measurement; benched at sf0.01 in small_sf_ab "
        "(r12 verdict item 4)"
    ),
}

# Every registry key gets a bench number (r6 verdict item 3); sorted
# for a stable, diffable payload ordering.
HEADLINE = tuple(sorted(k for k in QUERIES if k not in EXCLUDED))

# Keys that run in their own fresh-JVM subprocess (r8: heavy iterative
# graph plans were the most noise-exposed in a warm 160-key session).
GRAPH_KEYS = tuple(
    k
    for k in ("pagerank_copurchase", "triangle_count_sparse", "degree_assortativity")
    if k in QUERIES
)

# sf0.01 A/B: structurally-expensive oracle twins next to their linear
# production paths, so the cost gap stays measured without a
# supra-linear entry in the sf0.1 headline.
SMALL_SF_AB = (
    "dedup_clusters",
    "dedup_clusters_lsh",
    "ngram_jaccard",
    "containment_pairs",
    "dedup_minhash_lsh",
    "dedup_eval_report",
    "triangle_count",
    "triangle_count_sparse",
    "ann_recall_report",
)
SMALL_SF_DIR = "/root/testdata/sf0.01"

# Two samples agreeing within this relative spread are trusted; wider
# spread triggers a third sample + median-of-3.
SPREAD_GATE = 0.25

# The driver records the last ~2000 chars of stdout; keep the final
# summary line comfortably inside that.
SUMMARY_BUDGET = 1600


def run_one(spark, name: str, sf_dir: str) -> float:
    t0 = time.time()
    df = QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def reclaim_between_keys(spark) -> None:
    """Reclaim predecessors' localCheckpoint blocks BEFORE a key's
    timing starts: ContextCleaner frees a block only after the py4j
    proxy is gone (Python gc) AND the JVM processes its weak refs
    (JVM gc — whose periodic fallback is 30 min). Without both nudges
    a 200-key warm session accumulates blocks until late keys measure
    storage-memory GC pressure instead of their own plan (r12: a
    quiet-pair run grew checkpoint-heavy keys WITHIN the key —
    filter_funnel sampled [4.8, 9.6, 21.1] while the calmer run's heap
    held 2.3s). Runs once per KEY, not per sample: a full GC unloads
    generated codegen classes, so per-sample collection taxed every
    repeat sample ~0.3-1s of re-JIT (measured +23% on the whole
    window) — per-key keeps the steady-state samples warm while still
    bounding accumulation to one key's own blocks."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def sample_one(spark, name: str, sf_dir: str):
    """2-or-3-sample protocol: returns (value, samples, spread).
    spread = (max-min)/min over the first two samples — recorded so
    the payload shows how trustworthy each number is."""
    reclaim_between_keys(spark)
    s = [run_one(spark, name, sf_dir), run_one(spark, name, sf_dir)]
    spread = (max(s) - min(s)) / max(min(s), 1e-9)
    if spread > SPREAD_GATE:
        s.append(run_one(spark, name, sf_dir))
        value = sorted(s)[1]  # median of 3
    else:
        value = min(s)
    return round(value, 3), [round(x, 3) for x in s], round(spread, 3)


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM/codegen paths and the OS page cache for the input
    files so query timings measure plan execution (steady state), not
    first-touch IO + classloading. Also primes one Python worker per
    core (r13): the first Arrow/pandas-UDF task on a fresh worker pays
    ~0.7-2.6 s of numpy/pandas import — a cost a long-running service
    pays once at startup, not per query, so it belongs in warmup, not
    in the first UDF key's sample."""
    spark.range(1000).selectExpr("sum(id)").collect()
    from sql_flow_spark.tables import TABLE_NAMES, load_tables

    for df in load_tables(spark, sf_dir, TABLE_NAMES).values():
        df.write.format("noop").mode("overwrite").save()

    import pandas as pd  # noqa: F401 — driver side, matches worker env
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    @F.pandas_udf(IntegerType())
    def _prime(s):
        return s.astype("int32")

    n = spark.sparkContext.defaultParallelism
    (
        spark.range(0, 4 * n, 1, n)
        .select(_prime(F.col("id").cast("int")))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def run_stream_pipeline(spark, sf_dir: str) -> tuple[float, int]:
    """End-to-end engine throughput: the events table streamed through
    the full pipeline machinery (file stream -> handler SQL per
    micro-batch -> sink), availableNow. The reference publishes
    single-node msgs/sec for the analogous loop (reference
    README.md:235) but on different hardware/workload, so our numbers
    stand alone (cold AND warm recorded)."""
    from sql_flow_spark.handlers import InferredBatch
    from sql_flow_spark.pipeline import Pipeline
    from sql_flow_spark.sinks import NoopSink
    from sql_flow_spark.sources import FileSource

    n_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # the file-stream source wants a directory; link the table in
    stream_dir = tempfile.mkdtemp(prefix="sfs-bench-in-")
    os.symlink(f"{sf_dir}/events.parquet", f"{stream_dir}/events.parquet")
    pipe = Pipeline(
        spark=spark,
        source=FileSource(stream_dir, format="parquet"),
        handler=InferredBatch(
            "SELECT event_type, count(*) AS n, sum(value) AS total "
            "FROM batch GROUP BY event_type"
        ),
        sink=NoopSink(),
    )
    t0 = time.time()
    q = pipe.start(
        available_now=True, checkpoint_dir=tempfile.mkdtemp(prefix="sfs-bench-")
    )
    q.awaitTermination()
    return time.time() - t0, n_rows


def _host_sample() -> dict:
    """Host contention telemetry at a point in time: 1-minute loadavg
    plus the cumulative CPU jiffies from /proc/stat. Recorded at run
    start and end so a reader can compute the window's steal share —
    the objective contended-run detector (the r10/r12 dedup-family
    'regressions' were co-tenant noise that took a whole verdict cycle
    to adjudicate from timings alone; hypervisor steal settles it in
    one field)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        # cpu user nice system idle iowait irq softirq steal
        v = [int(x) for x in parts[1:9]]
        jiffies = {
            "user": v[0] + v[1],
            "system": v[2],
            "idle": v[3],
            "iowait": v[4],
            "irq": v[5] + v[6],
            "steal": v[7],
        }
    except OSError:  # non-Linux fallback: loadavg still recorded
        jiffies = {}
    return {"loadavg_1m": round(os.getloadavg()[0], 2), "jiffies": jiffies}


def _host_window(start: dict, end: dict) -> dict:
    """Start/end samples + the derived steal share over the window."""
    out = {"start": start, "end": end}
    sj, ej = start.get("jiffies"), end.get("jiffies")
    if sj and ej:
        delta = {k: ej[k] - sj[k] for k in ej}
        total = sum(delta.values())
        out["steal_pct"] = round(
            100.0 * delta.get("steal", 0) / max(total, 1), 2
        )
        out["idle_pct"] = round(
            100.0 * delta.get("idle", 0) / max(total, 1), 2
        )
    return out


def _bench_confs():
    # The engine default split size (128 MiB) is the cluster setting;
    # the local bench reads single small parquet files, so use small
    # splits to spread the scan across local cores.
    return {"spark.sql.files.maxPartitionBytes": "2097152"}


def graph_phase(sf_dir: str, out_path: str) -> None:
    """Fresh-JVM phase: graph keys only, written as JSON to out_path."""
    spark = get_spark("bench-graph", extra_confs=_bench_confs())
    warm_session(spark, sf_dir)
    result = {}
    for name in GRAPH_KEYS:
        value, samples, spread = sample_one(spark, name, sf_dir)
        result[name] = {"value": value, "samples": samples, "spread": spread}
    with open(out_path, "w") as f:
        json.dump(result, f)
    spark.stop()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    host_start = _host_sample()

    # Graph family first, in its own subprocess = genuinely fresh JVM
    # (stopping a SparkContext does not reset the gateway JVM's codegen
    # cache; a child process does).
    fd, graph_out = tempfile.mkstemp(
        prefix="sfs-bench-graph-", suffix=".json"
    )
    os.close(fd)  # the subprocess writes the path; mkstemp owns the name
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--phase", "graph",
         "--out", graph_out],
        check=True,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
    )
    with open(graph_out) as f:
        graph_stats = json.load(f)
    os.unlink(graph_out)

    spark = get_spark("bench", extra_confs=_bench_confs())
    warm_session(spark, sf_dir)

    # Streaming next, still early: measured AFTER the headline sweep
    # its number degrades with accumulated JVM state (codegen cache,
    # listener backlog) — observed 89k -> 22k rows/s purely from
    # key-count growth moving it later in the run. BOTH passes are
    # recorded (r7 verdict item 4): cold pays streaming-stack
    # classloading/codegen once; warm is the steady state and stays
    # the headline `streaming_rows_per_sec` for trend continuity.
    cold_sec, stream_rows = run_stream_pipeline(spark, sf_dir)
    warm_sec, _ = run_stream_pipeline(spark, sf_dir)

    stats: dict[str, dict] = dict(graph_stats)
    for name in HEADLINE:
        if name in stats:
            continue
        value, samples, spread = sample_one(spark, name, sf_dir)
        stats[name] = {"value": value, "samples": samples, "spread": spread}

    timings = {name: stats[name]["value"] for name in sorted(stats)}
    timings["streaming_pipeline_agg"] = round(warm_sec, 3)

    small_ab: dict[str, float] = {}
    if os.path.isdir(SMALL_SF_DIR):
        for name in SMALL_SF_AB:
            reclaim_between_keys(spark)
            small_ab[name] = round(run_one(spark, name, SMALL_SF_DIR), 3)

    total = round(sum(timings.values()), 3)

    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "streaming_rows_per_sec": int(stream_rows / warm_sec),
        "streaming_rows_per_sec_cold": int(stream_rows / cold_sec),
        "streaming_rows_per_sec_warm": int(stream_rows / warm_sec),
        "streaming_protocol": (
            "fresh engine, before headline sweep; cold=first availableNow "
            "pass, warm=second pass (steady state)"
        ),
        "n_queries": len(timings),
        "sampling": {
            "protocol": (
                f"2 samples/key; spread>{SPREAD_GATE} adds a 3rd, value="
                "median-of-3, else min-of-2; graph keys in a fresh-JVM "
                "subprocess"
            ),
            "samples": {k: stats[k]["samples"] for k in sorted(stats)},
            "spread": {k: stats[k]["spread"] for k in sorted(stats)},
        },
        "excluded": EXCLUDED,
        "small_sf_ab": {"sf": 0.01, "queries": small_ab},
        "host": _host_window(host_start, _host_sample()),
    }
    full_line = json.dumps(payload, separators=(",", ":"))

    # Full payload: committed file + early stdout line (humans / logs).
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "bench_out.json")
    with open(out_path, "w") as f:
        f.write(full_line + "\n")
    print(full_line)

    # Compact summary LAST: must fit the driver's stdout-tail window.
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "streaming_rows_per_sec": int(stream_rows / warm_sec),
        "streaming_rows_per_sec_cold": int(stream_rows / cold_sec),
        "n_queries": len(timings),
        "full_payload": "bench_out.json",
        "queries": {},
    }
    for name, sec in slowest:
        summary["queries"][name] = sec
        if len(json.dumps(summary, separators=(",", ":"))) > SUMMARY_BUDGET:
            del summary["queries"][name]
            break
    summary["queries_shown"] = len(summary["queries"])
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    if "--phase" in sys.argv:
        i = sys.argv.index("--phase")
        phase = sys.argv[i + 1]
        out = sys.argv[sys.argv.index("--out") + 1]
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        if phase == "graph":
            graph_phase(sf_dir, out)
        else:
            raise SystemExit(f"unknown phase {phase}")
    else:
        main()
