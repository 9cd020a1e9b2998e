"""Multi-batch growth probe for the four streaming state engines
(r8 verdict item 5 / r9 item 3).

Drives N micro-batches of FIXED size through each disk-backed state
engine — FingerprintIndex (ingest_dedup), StreamingRollup,
StreamingHeavyHitters, IncrementalIVF — and records, per batch, the
write wall time, a representative read wall time, and the number of
``b=<batch>`` partition directories on disk. Run twice per engine:
without compaction (the listing-cost growth the marker-commit protocol
exists to bound) and with periodic ``compact()`` every C batches.

The claim under test: per-batch cost stays FLAT (state size is bounded
— the rollup re-folds a bounded aggregate, the MG sketch is ≤K rows,
the dedup index grows only with distinct fingerprints which the fixed
batch recycles) and the directory count is bounded by the compaction
cadence, while the no-compaction run's directory count grows linearly
with stream lifetime. tests/test_state_growth.py asserts this at a
reduced batch count; this script produces the SCALING.md table at the
full count.

Usage:
    python scripts/state_growth_probe.py [--batches 100]
        [--compact-every 10] [--out /tmp/state_growth.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

ENGINES = ("ingest_dedup", "rollup", "heavy_hitters", "ann_index")


def _dir_count(table_dir: str) -> int:
    try:
        return sum(1 for n in os.listdir(table_dir) if n.startswith("b="))
    except OSError:
        return 0


def _batch_docs(spark: SparkSession, batch_id: int, rows: int = 200):
    """Fixed-size batch: half recurring fingerprints (dup pressure),
    half unique to the batch — the dedup index grows slowly, the
    rollup/MG keys recycle."""
    return spark.range(rows).select(
        (F.col("id") + F.lit(batch_id * rows)).alias("doc_id"),
        F.when(
            F.col("id") % 2 == 0, F.concat(F.lit("recurring text "), F.col("id"))
        )
        .otherwise(
            F.concat(F.lit(f"batch {batch_id} text "), F.col("id"))
        )
        .alias("text"),
        (F.col("id") % 20).cast("string").alias("k"),
        (F.col("id") % 7).cast("long").alias("v"),
    )


def _batch_vectors(spark: SparkSession, batch_id: int, rows: int = 200):
    import math

    base = batch_id * rows
    data = []
    for i in range(rows):
        ang = (base + i) * 0.37
        vec = [math.cos(ang), math.sin(ang), math.cos(2 * ang), math.sin(3 * ang)]
        nrm = math.sqrt(sum(x * x for x in vec))
        data.append((base + i, [x / nrm for x in vec]))
    return spark.createDataFrame(data, "vec_id long, embedding array<double>")


def run_probe(
    spark: SparkSession,
    engine: str,
    base_dir: str,
    batches: int = 100,
    compact_every: int = 0,
    rows: int = 200,
) -> list[dict]:
    """Returns one record per batch:
    {batch, t_write, t_read, n_dirs, t_compact?}."""
    from sql_flow_spark.streaming.ingest_dedup import FingerprintIndex
    from sql_flow_spark.streaming.rollup import StreamingRollup
    from sql_flow_spark.streaming.heavy_hitters import StreamingHeavyHitters
    from sql_flow_spark.streaming.ann_index import IncrementalIVF

    tag = "c" if compact_every else "nc"
    d = os.path.join(base_dir, f"{engine}_{tag}")
    shutil.rmtree(d, ignore_errors=True)
    records: list[dict] = []

    if engine == "ingest_dedup":
        idx = FingerprintIndex(spark, d)

        def step(b: int) -> tuple[float, float]:
            df = _batch_docs(spark, b, rows).select(
                F.md5(F.col("text")).alias("f")
            )
            t0 = time.monotonic()
            idx.append(df, b)
            t1 = time.monotonic()
            known = idx.read()
            known.count() if known is not None else 0
            return t1 - t0, time.monotonic() - t1

        compact = idx.compact
    elif engine == "rollup":
        ru = StreamingRollup(spark, d, ["k"], {"v": "sum"})

        def step(b: int) -> tuple[float, float]:
            df = _batch_docs(spark, b, rows).select("k", "v")
            t0 = time.monotonic()
            ru.process(df, b)
            t1 = time.monotonic()
            out = ru.read()
            out.count() if out is not None else 0
            return t1 - t0, time.monotonic() - t1

        compact = ru.compact
    elif engine == "heavy_hitters":
        hh = StreamingHeavyHitters(spark, d, "k", k=10)

        def step(b: int) -> tuple[float, float]:
            df = _batch_docs(spark, b, rows).select("k")
            t0 = time.monotonic()
            hh.fold_batch(df, b)
            return time.monotonic() - t0, 0.0

        compact = None  # prunes inline every fold
    elif engine == "ann_index":
        ivf = IncrementalIVF.build(
            spark, d, _batch_vectors(spark, 0, rows), k=8, nprobe=2
        )

        def step(b: int) -> tuple[float, float]:
            df = _batch_vectors(spark, b, rows)
            t0 = time.monotonic()
            ivf.append_batch(df, b)
            t1 = time.monotonic()
            ivf.index_df().count()
            return t1 - t0, time.monotonic() - t1

        compact = ivf.compact
    else:
        raise ValueError(engine)

    for b in range(1, batches + 1):
        t_write, t_read = step(b)
        rec = {
            "batch": b,
            "t_write": round(t_write, 4),
            "t_read": round(t_read, 4),
            "n_dirs": _dir_count(d),
        }
        if compact is not None and compact_every and b % compact_every == 0:
            t0 = time.monotonic()
            folded = compact(force=True)
            rec["t_compact"] = round(time.monotonic() - t0, 4)
            rec["folded"] = folded
            rec["n_dirs"] = _dir_count(d)
        records.append(rec)
    return records


def summarize(records: list[dict]) -> dict:
    """First-decade vs last-decade medians + dir growth."""
    def med(vals: list[float]) -> float:
        s = sorted(vals)
        return s[len(s) // 2] if s else 0.0

    n = len(records)
    decade = max(1, n // 10)
    first = records[:decade]
    last = records[-decade:]
    walls = lambda rs: [r["t_write"] + r["t_read"] for r in rs]  # noqa: E731
    return {
        "batches": n,
        "median_wall_first_decade": round(med(walls(first)), 4),
        "median_wall_last_decade": round(med(walls(last)), 4),
        "dirs_first": first[-1]["n_dirs"],
        "dirs_last": last[-1]["n_dirs"],
        "dirs_max": max(r["n_dirs"] for r in records),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=100)
    ap.add_argument("--compact-every", type=int, default=10)
    ap.add_argument("--rows", type=int, default=200)
    ap.add_argument("--out", default="/tmp/state_growth.json")
    ap.add_argument("--base-dir", default="/tmp/state_growth_probe")
    ap.add_argument("--engines", nargs="*", default=list(ENGINES))
    args = ap.parse_args()

    from sql_flow_spark.session import get_spark

    spark = get_spark("state-growth-probe")
    out: dict = {"batches": args.batches, "compact_every": args.compact_every}
    for engine in args.engines:
        for ce in (0, args.compact_every):
            if engine == "heavy_hitters" and ce:
                continue  # prunes inline; no separate compaction mode
            key = f"{engine}_{'compact' if ce else 'nocompact'}"
            t0 = time.monotonic()
            recs = run_probe(
                spark, engine, args.base_dir, args.batches, ce, args.rows
            )
            out[key] = {
                "summary": summarize(recs),
                "total_sec": round(time.monotonic() - t0, 1),
                "records": recs,
            }
            print(key, json.dumps(out[key]["summary"]))
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", args.out)


if __name__ == "__main__":
    main()
