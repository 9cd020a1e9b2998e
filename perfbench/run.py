"""Benchmark of the message-stream path and the query registry.

    python3 perfbench/run.py --workload stream_fanout --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``stream_fanout``: large JSONL files through one pipeline running the
  paper's four single-node scenarios; execution dominates.
- ``registry_mix``: a fixed list of ``QUERIES`` keys in one warm
  session; bypasses streaming.
- ``stream_small_batches``: small JSONL files, reference simple
  aggregation, noop sink; per-trigger fixed cost dominates (not gated,
  see the README).

A run: generate the inputs from ``--seed`` in a separate process, start
Spark sized to the host, run an untimed check pass (which also warms
the JIT) plus warm-up, then measure for ``--seconds``, compare the
check pass with DuckDB, and print one JSON line. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` wraps the engine objects the
benchmark hands to ``sql_flow_spark`` in spans and prints the
per-layer metrics instead. Host telemetry is printed on every run.
"""

import time

T_START = time.time()  # setup_s counts from here, minus input generation

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from registry_mix import MODULES, RegistryWorkload  # noqa: E402
from spans import HostSample, JvmProbe, Tracer  # noqa: E402
from streams import StreamWorkload  # noqa: E402

WORKLOADS = ("stream_small_batches", "stream_fanout", "registry_mix")
# At most this many local cores, and never more than the host has: the
# figures must not depend on how big the machine happens to be.
MAX_CORES = 4
DRIVER_MEM = "2g"
# Fewer measured steps than this and a median means little; the run
# then measures past --seconds.
MIN_STEPS = 3

END_TO_END = {  # name -> (unit, better)
    "setup_s": ("s", "lower"),
    "msgs_per_s": ("msgs/s", "higher"),
    "trigger_p50_ms": ("ms", "lower"),
    "registry_s": ("s", "lower"),
}


def layer_metrics() -> dict[str, tuple[str, str]]:
    """Per-layer metrics printed by a traced run: name -> (unit, better).
    A workload prints 0 for a layer it does not exercise."""
    m = {
        "session.start_s": ("s", "lower"),
        "sources.latest_offset_ms": ("ms", "lower"),
        "sources.get_batch_ms": ("ms", "lower"),
        "sources.scans_per_trigger": ("count", "lower"),
        "pipeline.query_planning_ms": ("ms", "lower"),
        "pipeline.wal_commit_ms": ("ms", "lower"),
        "pipeline.commit_offsets_ms": ("ms", "lower"),
        "pipeline.add_batch_ms": ("ms", "lower"),
        "pipeline.dispatch_ms": ("ms", "lower"),
        "pipeline.leg.main_ms": ("ms", "lower"),
        "pipeline.leg.enrich_ms": ("ms", "lower"),
        "pipeline.leg.csv_join_ms": ("ms", "lower"),
        "handlers.invoke_ms": ("ms", "lower"),
        "sinks.main.write_ms": ("ms", "lower"),
        "sinks.enrich.write_ms": ("ms", "lower"),
        "sinks.csv_join.write_ms": ("ms", "lower"),
        "sinks.files_written": ("count", "lower"),
        "sinks.bytes_written": ("bytes", "lower"),
        "streaming.window.trigger_ms": ("ms", "lower"),
        "streaming.window.state_rows": ("count", "lower"),
        "streaming.window.state_mem_bytes": ("bytes", "lower"),
        "jobs_per_trigger": ("count", "lower"),
        "stages_per_trigger": ("count", "lower"),
        "tasks_per_trigger": ("count", "lower"),
        "cores_busy": ("fraction", "higher"),
        "tables.load_s": ("s", "lower"),
        "tables.load_jobs": ("count", "lower"),
    }
    for mod in MODULES:
        for f, unit in (("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"),
                        ("exec_s", "s"), ("exec_jobs", "count"), ("stages", "count"),
                        ("tasks", "count")):
            m[f"{mod}.{f}"] = (unit, "lower")
    m.update({
        "jvm.gc_ms": ("ms", "lower"),
        "jvm.cpu_s": ("s", "lower"),
        "jvm.heap_peak_mb": ("MiB", "lower"),
        "host.steal_pct": ("%", "lower"),
        "error_rate": ("fraction", "lower"),
        "trace.accounted_share": ("fraction", "higher"),
        "trigger_samples": ("count", "higher"),
        "trigger_p90_ms": ("ms", "lower"),
        "baseline.local1_msgs_per_s": ("msgs/s", "higher"),
        "baseline.localk_msgs_per_s": ("msgs/s", "higher"),
        "traced.msgs_per_s": ("msgs/s", "higher"),
        "traced.trigger_p50_ms": ("ms", "lower"),
        "traced.registry_s": ("s", "lower"),
    })
    return m


def _cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def _spark_env(run_dir: str, cores: int) -> dict[str, str]:
    """Size Spark to the host through get_spark's env knobs and
    extra_confs, and keep every file it writes inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),  # local[k] and shuffle partitions
        "SPARK_GRAFT_MASTER": f"local[{cores}]",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # Python workers (UDF keys) import sql_flow_spark from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {
        # Lower JIT thresholds and a heap pre-sized to its maximum: the
        # JVM reaches steady state within the warm-up instead of
        # compiling and growing the heap for minutes (with the defaults,
        # fan-out drains were still 25 % faster after 16 of them).
        "spark.driver.extraJavaOptions":
            f"-XX:CompileThresholdScaling=0.1 -Xms{DRIVER_MEM} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        # keep every job of the run visible to the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _start_spark(tracer: Tracer, confs: dict):
    from sql_flow_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench", confs)
    return spark, time.perf_counter() - t0


def _stop_spark() -> None:
    """Stop the active session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _generate(workload: str, seed: int, out: str) -> float:
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
           "--out", out, "--kind", workload]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    return time.perf_counter() - t0


def _baselines(spark, seed: int, run_dir: str, confs: dict, cores: int) -> dict:
    """Single-thread baseline (ungated): the stream_small_batches drain
    at local[k] and at local[1], each in a fresh SparkContext of the
    already warm JVM."""
    data_dir = os.path.join(run_dir, "small")
    _generate("stream_small_batches", seed, data_dir)
    out = {}
    for k in (cores, 1):
        spark.stop()
        os.environ.update(SPARK_GRAFT_CPUS=str(k), SPARK_GRAFT_MASTER=f"local[{k}]")
        spark, _ = _start_spark(Tracer(False), confs)
        wl = StreamWorkload(spark, "stream_small_batches", data_dir,
                            os.path.join(run_dir, f"local{k}"), Tracer(False))
        wl.drain()  # warm-up
        out[k] = statistics.median(d["ops"] / d["wall"] for d in (wl.drain(), wl.drain()))
    return {"baseline.localk_msgs_per_s": out[cores], "baseline.local1_msgs_per_s": out[1]}


def measure(args, run_dir: str, data_dir: str, gen_s: float) -> dict:
    cores = _cores()
    confs = _spark_env(run_dir, cores)
    sys.path.insert(0, ROOT)
    tracer = Tracer(bool(args.trace))
    spark, session_s = _start_spark(tracer, confs)
    try:
        return _measure(spark, session_s, args, run_dir, data_dir, gen_s, confs, cores, tracer)
    finally:
        _stop_spark()


def _measure(spark, session_s, args, run_dir, data_dir, gen_s, confs, cores, tracer) -> dict:
    jvm = JvmProbe(spark)
    cls = RegistryWorkload if args.workload == "registry_mix" else StreamWorkload
    wl = cls(spark, args.workload, data_dir, os.path.join(run_dir, "work"), tracer)

    t_check = time.perf_counter()
    check = wl.check_pass()
    t_warm = time.perf_counter()
    attempted, failed = check["ops"], check.get("failed", 0)
    for _ in range(wl.warmup_steps):
        wl.discard(wl.step())
    setup_s = time.time() - T_START - gen_s
    phases = {"session_start_s": session_s, "check_pass_s": t_warm - t_check,
              "warmup_s": time.perf_counter() - t_warm, "gen_s": gen_s}

    host0, cpu0, gc0 = HostSample(), jvm.cpu_s(), jvm.gc_ms()
    since = time.perf_counter()
    steps = []
    while True:
        d = wl.step()
        steps.append(d)
        attempted += d["ops"]
        failed += d.get("failed", 0)
        if time.perf_counter() - since >= args.seconds and len(steps) >= MIN_STEPS:
            break
    wall = time.perf_counter() - since
    host = HostSample().since(host0)
    cpu_s, gc_ms = jvm.cpu_s() - cpu0, jvm.gc_ms() - gc0

    lat = [x for d in steps for x in d["latencies"]]
    e2e = {"setup_s": setup_s, **wl.summary(steps)}
    telemetry = {
        **host,
        "jvm_gc_ms": gc_ms,
        "jvm_cpu_s": cpu_s,
        "cores": cores,
        "measured_s": wall,
        "step_walls": [round(d["wall"], 3) for d in steps],
        "trigger_samples": len(lat),
        **phases,
    }

    layers = {}
    if args.trace:
        layers = wl.layers(steps, since)
        layers.update({
            "session.start_s": session_s,
            "cores_busy": cpu_s / (wall * cores),
            "jvm.gc_ms": gc_ms,
            "jvm.cpu_s": cpu_s,
            "jvm.heap_peak_mb": jvm.heap_peak_mb(),
            "host.steal_pct": host["steal_pct"],
            "traced.msgs_per_s": e2e["msgs_per_s"],
            "traced.trigger_p50_ms": e2e["trigger_p50_ms"],
            "traced.registry_s": e2e["registry_s"],
            "trigger_samples": len(lat),
            "trigger_p90_ms": statistics.quantiles(lat, n=10)[-1],
        })

    ok, problems = wl.verify()
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    if not ok:
        failed = attempted
    if args.trace:
        layers["error_rate"] = failed / attempted
        tracer.dump(os.path.join(ROOT, ".perfbench", "out",
                                 f"spans-{args.workload}-s{args.seed}.json"))
        if args.workload == "stream_fanout":
            layers.update(_baselines(spark, args.seed, run_dir, confs, cores))
    return {"ok": ok, "attempted": attempted, "failed": failed,
            "e2e": e2e, "layers": layers, "telemetry": telemetry}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sql_flow_spark", "session.py")):
        print(f"perfbench: no sql_flow_spark package under {ROOT}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    try:
        gen_s = _generate(args.workload, args.seed, data_dir)
        r = measure(args, run_dir, data_dir, gen_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print("telemetry " + json.dumps(r["telemetry"], sort_keys=True))
    if args.trace:
        names = layer_metrics()
        values = {k: r["layers"].get(k, 0.0) for k in names}
        with open(os.path.join(out_dir, f"layers-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"layers": r["layers"], "telemetry": r["telemetry"]}, f, indent=1)
    else:
        names, values = END_TO_END, r["e2e"]
    print(json.dumps({
        "correct": bool(r["ok"] and r["failed"] == 0),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, (u, _) in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
