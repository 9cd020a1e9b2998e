"""Spans, counters and host/JVM telemetry for the benchmark.

Everything here observes the engine from the outside: spans are taken
around the benchmark's own calls into ``sql_flow_spark`` (wrapped
handler and sink objects, the registry builder call, ``get_spark`` and
a rebound ``load_tables``), job/stage/task counts come from Spark's
public ``statusTracker``, and host figures from ``/proc``. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time


class Tracer:
    """In-memory span recorder. A span is (id, parent, name, start,
    end, attrs); the parent is the innermost open span of the same
    thread. ``enabled=False`` makes every call a no-op, so untimed and
    traced runs share one code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Seconds per span name, each span minus the part of its
        interval that its direct children cover."""
        with self._lock:
            spans = [s for s in self.spans if s["start"] >= since]
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"]:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    __slots__ = ("tracer", "name", "attrs", "id", "parent", "start")

    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        if not self.tracer.enabled:
            return self
        stack = self.tracer._local.__dict__.setdefault("stack", [])
        self.id = next(self.tracer._ids)
        self.parent = stack[-1] if stack else 0
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if not self.tracer.enabled:
            return False
        end = time.perf_counter()
        self.tracer._local.stack.pop()
        rec = {"id": self.id, "parent": self.parent, "name": self.name,
               "start": self.start, "end": end, **self.attrs}
        with self.tracer._lock:
            self.tracer.spans.append(rec)
        return False


# ------------------------------------------------- wrapped engine objects

def traced_handler(tracer: Tracer, handler, leg: str):
    """Handler wrapper: one ``handlers.invoke`` span per call (view
    registration + SQL parse/analysis; the returned DataFrame is lazy)."""
    from sql_flow_spark.handlers import Handler

    class TracedHandler(Handler):
        def invoke(self, spark, batch_df):
            with tracer.span("handlers.invoke", leg=leg):
                return handler.invoke(spark, batch_df)

    return TracedHandler()


def traced_sink(tracer: Tracer, sink, leg: str, recorder=None):
    """Sink wrapper: ``sinks.<leg>.write`` spans around ``write_table``
    and ``flush`` (where the leg's plan executes). ``recorder`` (check
    pass only) sees every written DataFrame before the inner sink."""
    from sql_flow_spark.sinks import Sink

    class TracedSink(Sink):
        def write_table(self, df):
            if recorder is not None:
                recorder(df)
            with tracer.span(f"sinks.{leg}.write", leg=leg):
                sink.write_table(df)

        def flush(self):
            with tracer.span(f"sinks.{leg}.write", leg=leg):
                sink.flush()

    return TracedSink()


def rebind_load_tables(tracer: Tracer, spark) -> None:
    """Rebind ``load_tables`` in every ``sql_flow_spark`` module that
    imported it, so each call records a ``tables.load`` span, and the
    Spark jobs it fires (the schema-inference reads) run under the
    caller's job group suffixed ``.load``."""
    import sql_flow_spark.tables as tables

    original = tables.load_tables
    sc = spark.sparkContext

    @functools.wraps(original)
    def load_tables(*a, **kw):
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{group or 'perfbench'}.load", "load_tables")
        try:
            with tracer.span("tables.load"):
                return original(*a, **kw)
        finally:
            if group:
                sc.setJobGroup(group, group)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    for name, mod in list(sys.modules.items()):
        if name.startswith("sql_flow_spark") and getattr(mod, "load_tables", None) is original:
            setattr(mod, "load_tables", load_tables)


# ------------------------------------------------------------- counters

def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under one job group, from the
    public status tracker (works with the UI disabled, fires no job).
    Skipped stages (reused shuffle output) count as stages but add no
    tasks."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks:
                tasks += s.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class JvmProbe:
    """GC time, CPU time and peak heap of the driver JVM (local mode:
    the executors are threads of the same JVM)."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()))

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def heap_peak_mb(self) -> float:
        peak = 0
        for p in self._mf.getMemoryPoolMXBeans():
            if str(p.getType()) == "Heap memory":
                peak += p.getPeakUsage().getUsed()
        return peak / 2**20


class HostSample:
    """CPU jiffies and load average at one instant; the difference of
    two samples gives steal and idle shares over the window."""

    def __init__(self):
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        self.total = sum(vals[:8])  # guest time is already in user
        self.idle = vals[3] + vals[4]
        self.steal = vals[7] if len(vals) > 7 else 0
        with open("/proc/loadavg") as f:
            self.load1 = float(f.read().split()[0])

    def since(self, start: "HostSample") -> dict[str, float]:
        d = max(1, self.total - start.total)
        return {
            "steal_pct": 100.0 * (self.steal - start.steal) / d,
            "idle_pct": 100.0 * (self.idle - start.idle) / d,
            "loadavg_1m": self.load1,
        }

