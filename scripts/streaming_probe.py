"""Third-decade probe for the incremental state engines (r8 verdict
item 5): drive many micro-batches of FIXED size through each engine
and measure per-batch cost over the stream's lifetime.

The batch operators have two measured decades of data growth
(SCALING.md 10x tables + scale_probe.py's replicated decade). The
streaming engines' scale axis is different: STREAM LIFETIME at fixed
batch size. The claim to prove is O(batch + state-probe) per batch —
per-batch cost must stay FLAT as hundreds of batches accumulate, which
only holds if (a) per-batch work never scans history (batch-keyed
overwrites, merge-on-read bounded by key cardinality) and (b)
compaction (streaming/compaction.py) bounds the partition-directory
listing cost that would otherwise grow linearly.

Protocol: N batches, identical size and shape each (deterministic
seeded synth — ~20% of doc fingerprints repeat earlier batches so the
dedup probe path is exercised); the two disk-backed indexes compact
every ``--compact-every`` batches (the maintenance cadence an operator
would cron). Per-batch wall time is recorded; the summary compares the
mean of the LAST decile of batches against an early-window mean
(batches 5..15, skipping JVM warmup) — flat means ratio ~1, and the
directory count at the end proves the listing bound.

Usage:
    python scripts/streaming_probe.py                 # 100 batches
    python scripts/streaming_probe.py --batches 24 --compact-every 8
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS_PER_BATCH = 200
ROWS_PER_BATCH = 2000
VECS_PER_BATCH = 200
DIM = 8
REPEAT_FRAC = 0.2  # share of docs repeating an earlier batch's text


def _texts(batch: int) -> list[str]:
    rnd = random.Random(1000 + batch)
    out = []
    for i in range(DOCS_PER_BATCH):
        if batch > 0 and rnd.random() < REPEAT_FRAC:
            src = rnd.randrange(batch)
            j = rnd.randrange(DOCS_PER_BATCH)
            out.append(f"doc {src} {j} " + " ".join(f"w{src}{j}{t}" for t in range(8)))
        else:
            out.append(f"doc {batch} {i} " + " ".join(f"w{batch}{i}{t}" for t in range(8)))
    return out


def _vecs(batch: int) -> list[list[float]]:
    rnd = random.Random(2000 + batch)
    centers = [[1.0] + [0.0] * (DIM - 1), [0.0, 1.0] + [0.0] * (DIM - 2)]
    return [
        [c + rnd.gauss(0, 0.05) for c in centers[i % 2]]
        for i in range(VECS_PER_BATCH)
    ]


def _dirs(root: str) -> int:
    try:
        return sum(1 for n in os.listdir(root) if n.startswith("b="))
    except OSError:
        return 0


def run(batches: int, compact_every: int, state_root: str) -> dict:
    from pyspark.sql import functions as F

    from sql_flow_spark.session import get_spark
    from sql_flow_spark.streaming.ann_index import IncrementalIVF
    from sql_flow_spark.streaming.heavy_hitters import StreamingHeavyHitters
    from sql_flow_spark.streaming.ingest_dedup import IngestDedup
    from sql_flow_spark.streaming.rollup import StreamingRollup

    spark = get_spark("streaming-probe")
    os.makedirs(state_root, exist_ok=True)
    dd = IngestDedup(spark, os.path.join(state_root, "dedup_idx"))
    ru = StreamingRollup(
        spark, os.path.join(state_root, "rollup"), ["k"], {"v": "sum", "v2": "avg"}
    )
    hh = StreamingHeavyHitters(spark, os.path.join(state_root, "hh"), "k", k=63)
    seed = spark.createDataFrame(
        [(i, v) for i, v in enumerate(_vecs(-1))],
        f"vec_id long, embedding array<double>",
    )
    ivf = IncrementalIVF.build(
        spark, os.path.join(state_root, "ivf"), seed, k=4, nprobe=2
    )

    times: dict[str, list[float]] = {
        "ingest_dedup": [], "rollup": [], "heavy_hitters": [], "ann_index": []
    }
    for b in range(batches):
        docs = spark.createDataFrame(
            [(b * DOCS_PER_BATCH + i, t) for i, t in enumerate(_texts(b))],
            "doc_id long, text string",
        )
        rnd = random.Random(3000 + b)
        kv = spark.createDataFrame(
            [(f"k{rnd.randrange(50)}", rnd.randrange(100), float(rnd.random()))
             for _ in range(ROWS_PER_BATCH)],
            "k string, v long, v2 double",
        )
        vec = spark.createDataFrame(
            [((b + 1) * VECS_PER_BATCH + i, v) for i, v in enumerate(_vecs(b))],
            "vec_id long, embedding array<double>",
        )
        t0 = time.monotonic()
        dd.process(docs, b).count()
        times["ingest_dedup"].append(time.monotonic() - t0)
        t0 = time.monotonic()
        ru.process(kv, b)
        ru.read().count()  # the merge-on-read an operator pays per batch
        times["rollup"].append(time.monotonic() - t0)
        t0 = time.monotonic()
        hh.fold_batch(kv, b)
        times["heavy_hitters"].append(time.monotonic() - t0)
        t0 = time.monotonic()
        ivf.append_batch(vec, b)
        times["ann_index"].append(time.monotonic() - t0)
        if compact_every and (b + 1) % compact_every == 0:
            # force: the probe IS the writer (same process, but be
            # explicit about the between-triggers pattern)
            dd.index.compact(force=True)
            ru.compact(force=True)
            ivf.compact(force=True)

    def _mean(xs):
        return sum(xs) / len(xs) if xs else float("nan")

    out = {}
    lo = min(5, max(0, batches - 10))
    hi = min(15, batches)
    for eng, ts in times.items():
        early = _mean(ts[lo:hi])
        last = _mean(ts[-max(1, batches // 10):])
        out[eng] = {
            "batches": batches,
            "early_mean_s": round(early, 3),
            "last_decile_mean_s": round(last, 3),
            "flat_ratio": round(last / early, 2) if early else None,
        }
    out["dirs_end"] = {
        "dedup_idx": _dirs(os.path.join(state_root, "dedup_idx")),
        "rollup": _dirs(os.path.join(state_root, "rollup")),
        "hh": _dirs(os.path.join(state_root, "hh")),
        "ivf": _dirs(os.path.join(state_root, "ivf")),
    }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=100)
    ap.add_argument("--compact-every", type=int, default=20)
    ap.add_argument("--state-root", default="/tmp/sfs_streaming_probe")
    args = ap.parse_args()
    import shutil

    shutil.rmtree(args.state_root, ignore_errors=True)
    res = run(args.batches, args.compact_every, args.state_root)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
