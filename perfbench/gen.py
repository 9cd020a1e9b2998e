"""Seeded, single-threaded input generator for the benchmark.

Runs as its own process, before any timing, so the system under test
receives only finished files:

    python3 perfbench/gen.py --seed 7 --out DIR --kind stream_small_batches
    python3 perfbench/gen.py --seed 7 --out DIR --kind stream_fanout
    python3 perfbench/gen.py --seed 7 --out DIR --kind registry_mix

The same seed gives byte-identical files.

Stream kinds write JSONL files of reference-shaped messages
(``event``, ``properties.city``, ``city``, ``user.id``, ``timestamp``)
into ``DIR/in``, plus a ``locations.csv`` dimension for the CSV join.
Event time advances monotonically across files, so a tumbling window
on it closes windows as the backlog drains.

``registry_mix`` writes the ten TPC-H-ish tables the query registry
reads (``sql_flow_spark.tables.TABLE_NAMES``), one parquet file each,
with the column names, types and value domains of the repository's
test data, at scale factor ``SF``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

# (name, weight): skewed, like real city traffic; the last three have
# no row in locations.csv so the dim join yields NULLs for them.
CITIES = [
    ("New York", 20), ("Baltimore", 9), ("Chicago", 12), ("Houston", 8),
    ("Phoenix", 6), ("Philadelphia", 7), ("San Antonio", 4),
    ("San Diego", 5), ("Dallas", 6), ("Austin", 4), ("Seattle", 5),
    ("Denver", 3), ("Boston", 5), ("Nashville", 2), ("Portland", 2),
    ("Atlantis", 1), ("El Dorado", 1), ("Shangri-La", 1),
]
STATES = {
    "New York": "New York", "Baltimore": "Maryland", "Chicago": "Illinois",
    "Houston": "Texas", "Phoenix": "Arizona", "Philadelphia": "Pennsylvania",
    "San Antonio": "Texas", "San Diego": "California", "Dallas": "Texas",
    "Austin": "Texas", "Seattle": "Washington", "Denver": "Colorado",
    "Boston": "Massachusetts", "Nashville": "Tennessee", "Portland": "Oregon",
}
EVENTS = ["search", "click", "view", "purchase", "signup"]

# Files and messages per file of one backlog (one drain). Small files
# keep per-trigger fixed cost dominant; large files make execution
# dominate.
STREAM_SHAPES = {
    "stream_small_batches": (12, 2_000),
    "stream_fanout": (2, 40_000),
}
# Event-time step between consecutive messages (ms). With 1-hour
# windows this closes a window every ~1800 messages.
TS_STEP_MS = 2_000
TS_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _iso(ms: int) -> str:
    s, milli = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{milli:03d}Z"


def write_stream(out: str, kind: str, seed: int) -> dict:
    n_files, per_file = STREAM_SHAPES[kind]
    rng = random.Random(seed)
    names = [c for c, _ in CITIES]
    weights = [w for _, w in CITIES]
    in_dir = os.path.join(out, "in")
    os.makedirs(in_dir, exist_ok=True)
    ms = TS_BASE_MS
    for f in range(n_files):
        cities = rng.choices(names, weights, k=per_file)
        events = rng.choices(EVENTS, k=per_file)
        lines = []
        for city, event in zip(cities, events):
            ms += rng.randint(1, 2 * TS_STEP_MS - 1)
            lines.append(
                f'{{"event":"{event}","properties":{{"city":"{city}"}},'
                f'"city":"{city}","user":{{"id":"u{rng.randrange(50_000):05d}"}},'
                f'"timestamp":"{_iso(ms)}"}}'
            )
        # zero-padded names: the file source orders by modification
        # time then path, so drain order is the generation order
        path = os.path.join(in_dir, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        os.utime(path, ns=(f * 1_000_000_000, f * 1_000_000_000))
    with open(os.path.join(out, "locations.csv"), "w") as fh:
        fh.write("city,state_full\n")
        for city, state in STATES.items():
            fh.write(f"{city},{state}\n")
    return {"files": n_files, "msgs": n_files * per_file}


# ------------------------------------------------------------ tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = (["en"] * 3) + ["es", "zh", "de", "fr"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small query customer "
    "filter stream big group vector"
).split()


# Scale factor of the registry tables. At this scale a key's time is
# nearly all fixed cost (builder, planning, job scheduling).
SF = 0.01


def write_tables(out: str, seed: int) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = {
        "customer": int(150_000 * SF), "supplier": int(10_000 * SF),
        "part": int(200_000 * SF), "orders": int(1_500_000 * SF),
        "lineitem": int(6_000_000 * SF), "events": int(1_000_000 * SF),
        "documents": int(50_000 * SF), "embeddings": int(50_000 * SF),
    }

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, end, size):
        lo = np.datetime64(start, "D").astype("int64")
        hi = np.datetime64(end, "D").astype("int64")
        d = rng.integers(lo, hi + 1, size)
        return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))

    def pick(values, size):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size)])

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    save("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    save("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    save("customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(SEGMENTS, c),
    })
    s = n["supplier"]
    save("supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s),
    })
    p = n["part"]
    save("part", {
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": pick(PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    })
    o = n["orders"]
    save("orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pick(["P", "O", "F"], o),
        "o_totalprice": money(1000.0, 500_000.0, o),
        "o_orderdate": days("1995-01-01", "2001-08-01", o),
        "o_orderpriority": pick(PRIORITIES, o),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    save("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(20.0, 2100.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["O", "F"], li),
        "l_shipdate": days("1995-01-02", "2001-11-04", li),
    })
    e = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e)) + base
    save("events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * SF)), e), pa.int64()),
        "event_type": pick(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    save("documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    save("embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"rows": n}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--kind", required=True,
                    choices=[*STREAM_SHAPES, "registry_mix"])
    a = ap.parse_args()
    if a.kind == "registry_mix":
        info = write_tables(a.out, a.seed)
    else:
        info = write_stream(a.out, a.kind, a.seed)
    print(json.dumps(info))


if __name__ == "__main__":
    main()
