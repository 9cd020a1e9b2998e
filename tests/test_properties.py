"""Property-based tests (hypothesis) for the pure-python pieces, plus a
seeded cross-engine determinism check for the fixed-point summation
core (the engine's central correctness trick)."""

import ast
import math
import re
from collections import Counter
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sql_flow_spark.functions.multimodal import fake_decode_features
from sql_flow_spark.udf import parse_domain


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_parse_domain_total(s):
    # never raises, always returns a string
    assert isinstance(parse_domain(s), str)


@given(st.from_regex(r"https?://([a-z0-9\-]{1,10}\.){1,4}[a-z]{2,6}(/[a-z0-9]{0,8})?", fullmatch=True))
@settings(max_examples=200, deadline=None)
def test_parse_domain_is_suffix_of_host(url):
    dom = parse_domain(url)
    host = url.split("://", 1)[1].split("/", 1)[0]
    assert dom == "" or host.endswith(dom)
    if dom:
        assert 2 <= dom.count(".") + 1 <= 3  # registered domain has 2-3 labels


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_fake_decode_features_total(payload):
    blen, frames, first = fake_decode_features(payload)
    assert blen == len(payload)
    assert frames == len(payload) // 256
    assert first == (payload[0] if payload else 0)


def _fixed_point_sum(values, scale=4):
    m = 10**scale
    return float(sum(Decimal(math.floor(v * m + 0.5)) for v in values)) / m


def _fixed_point_values(scale):
    """Adversarial doubles for the 10^scale lattice: wide-range values of
    both signs, points next to a rounding boundary, and points whose
    scaled product is exactly k + 0.5 (a tie, which floor rounds toward
    +inf for either sign)."""
    m = float(10**scale)
    rng = np.random.RandomState(7)
    ties = rng.randint(-(10**6), 10**6, 4000) + 0.5
    on_tie = ties / m
    on_tie = on_tie[on_tie * m == ties]
    assert (on_tie < 0).sum() > 100 and (on_tie > 0).sum() > 100
    vals = np.concatenate([
        rng.uniform(-1e5, 1e5, 3000),
        np.round(rng.uniform(0, 100, 3000), 4) + 5e-5,  # boundary-adjacent
        rng.uniform(0, 1, 3000) * 1e-3,
        np.round(rng.uniform(-100, 100, 1000), scale) + 0.5 / m,
        on_tie,
    ])
    return [float(v) for v in vals]


@pytest.mark.parametrize(
    "helper,scale",
    [("dsum", 4), ("dsum_over", 4), ("ols_fit", 6)]
    + [(h, s) for h in ("fixed", "scaled_int") for s in (4, 6, 8, 12)],
)
def test_fixed_point_sum_matches_engines(spark, helper, scale):
    """The determinism contract itself: every registry fixed-point
    helper equals its DuckDB twin (``o_*``) bit for bit (and the
    python reference), on adversarial values."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sql_flow_spark import registry

    vals = _fixed_point_values(scale)
    sdf = spark.createDataFrame(list(enumerate(vals)), "i long, v double")
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": np.arange(len(vals)), "v": vals}))
    m = float(10**scale)

    if helper == "dsum":
        got_spark = sdf.agg(registry.dsum("v", scale).alias("s")).first().s
        sql = f"SELECT {registry.o_dsum('v', scale)} FROM t"
        got_duck = con.execute(sql).fetchone()[0]
        got_py = _fixed_point_sum(vals, scale)
        assert got_spark == got_duck == pytest.approx(got_py, abs=0)
        return

    if helper == "dsum_over":  # running sum per group
        w = Window.partitionBy(F.col("i") % 7).orderBy("i").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        s = registry.dsum("v", scale, over=w)
        got_spark = [r.x for r in sdf.select("i", s.alias("x")).orderBy("i").collect()]
        over = "(PARTITION BY i % 7 ORDER BY i ROWS UNBOUNDED PRECEDING)"
        sql = f"SELECT {registry.o_dsum('v', scale, over=over)} FROM t ORDER BY i"
        got_duck = [r[0] for r in con.execute(sql).fetchall()]
        assert [x.hex() for x in got_spark] == [x.hex() for x in got_duck]
        assert got_spark[-1] == _fixed_point_sum(vals[len(vals) - 1 :: -7], scale)
        return

    if helper == "ols_fit":
        rng = np.random.RandomState(11)
        pts = pd.DataFrame({
            "g": rng.randint(0, 5, 2000),
            "x": rng.uniform(-50, 50, 2000),
            "y": rng.uniform(-50, 50, 2000),
        })
        pts["y"] += 0.5 * pts["x"] * pts["g"]
        con.register("pts", pts)
        got_spark = [
            tuple(r)
            for r in registry.ols_fit(spark.createDataFrame(pts), by=("g",))
            .orderBy("g")
            .collect()
        ]
        sql = f"SELECT * FROM ({registry.o_ols_fit('pts', by=('g',))}) ORDER BY g"
        rel = con.sql(sql)
        assert rel.columns == ["g", "n", "slope", "intercept", "r2"]
        got_duck = rel.fetchall()
        assert len(got_spark) == 5
        assert [(g, n) + tuple(x.hex() for x in r) for g, n, *r in got_spark] == [
            (g, n) + tuple(x.hex() for x in r) for g, n, *r in got_duck
        ]
        return

    col = getattr(registry, helper)("v", scale)
    got_spark = [r.x for r in sdf.orderBy("i").select(col.alias("x")).collect()]
    expr = getattr(registry, f"o_{helper}")("v", scale)
    got_duck = [r[0] for r in con.execute(f"SELECT {expr} FROM t ORDER BY i").fetchall()]
    if helper == "fixed":
        assert [x.hex() for x in got_spark] == [x.hex() for x in got_duck]
        assert got_spark == [math.floor(v * m + 0.5) / m for v in vals]
    else:
        assert sdf.select(col).schema[0].dataType.simpleString() == "decimal(30,0)"
        assert got_spark == got_duck == [Decimal(math.floor(v * m + 0.5)) for v in vals]


# Spark-side floor(x + 0.5) sites that stay outside registry.py, each
# with its reason; everything on a 10^s lattice goes through
# registry.scaled_int / dsum / fixed.
_FIXED_POINT_ALLOWLIST = {
    ("functions/similarity.py", "_err"):
        "SQ quantizer rounds (x - min) / step to a per-vector level: "
        "not a 10^s lattice",
    ("functions/similarity.py", "_dot_term_sql"):
        "Spark SQL string of the unrolled dot fast path (not a Column; "
        "the AST scan cannot see it)",
    ("functions/similarity.py", "dot_dec_fast"):
        "Spark SQL string of the dot fast path's guard and fallback fold "
        "(not a Column; the AST scan cannot see it)",
}


def _is_half(node):
    if isinstance(node, ast.Constant):
        return node.value == 0.5
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "lit"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == 0.5
    )


def _is_call(node, name, on=None):
    """``node`` is a call of ``name`` — bare, or as an attribute (of
    the module alias ``on`` when given)."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Name):
        return on is None and f.id == name
    return (
        isinstance(f, ast.Attribute)
        and f.attr == name
        and (on is None or (isinstance(f.value, ast.Name) and f.value.id == on))
    )


def _sites(path, match):
    """(function, line) of every node in one module for which
    ``match(node)`` holds, once per count when it returns an int;
    function is the innermost enclosing def."""
    sites = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        n = int(match(node))
        if n:
            sites.extend([(fn, node.lineno)] * n)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text()), "<module>")
    return sites


def _is_fixed_point(node):
    """F.floor(<expr> + 0.5), F.floor(<expr> + F.lit(0.5)), a window
    sum F.sum(scaled_int(...)).over(...) (registry.dsum(over=...)), or
    an exact sum read as DOUBLE, F.sum(scaled_int(...)).cast("double")
    (registry.dsum; a sum kept DECIMAL is not the idiom)."""
    if _is_call(node, "floor", "F"):
        return (
            bool(node.args)
            and isinstance(node.args[0], ast.BinOp)
            and isinstance(node.args[0].op, ast.Add)
            and _is_half(node.args[0].right)
        )
    as_double = _is_call(node, "cast") and [
        getattr(a, "value", None) for a in node.args
    ] == ["double"]
    return (
        (_is_call(node, "over") or as_double)
        and isinstance(node.func, ast.Attribute)
        and _is_call(node.func.value, "sum", "F")
        and bool(node.func.value.args)
        and _is_call(node.func.value.args[0], "scaled_int")
    )


_SQL_SUM = re.compile(r"SUM\(\s*CAST\(\s*floor\(", re.IGNORECASE)


def _sql_sums(node):
    """Hand-written fixed-point sums, SUM(CAST(floor(..., in a string
    literal or an f-string's constant part (the line is where the
    literal starts); oracle SQL renders them with registry.o_dsum /
    o_scaled_int."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return len(_SQL_SUM.findall(node.value))
    return 0


def test_fixed_point_idiom_lives_in_registry():
    """The fixed-point rule has one home: a new hand-rolled
    floor(x*10^s + 0.5) in a builder, or SUM(CAST(floor(... in oracle
    SQL, fails here; use registry.scaled_int / dsum / fixed (their
    DuckDB twins o_scaled_int / o_dsum / o_fixed in SQL strings), or
    allowlist it with a reason."""
    import sql_flow_spark

    root = Path(sql_flow_spark.__file__).parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "registry.py":
            continue
        for fn, line in _sites(path, _is_fixed_point):
            if (rel, fn) not in _FIXED_POINT_ALLOWLIST:
                stray.append(f"{rel}:{line} in {fn}")
        stray += [f"{rel}:{line} in {fn} (SQL sum)" for fn, line in _sites(path, _sql_sums)]
    assert not stray, "use registry.scaled_int / dsum / fixed:\n" + "\n".join(stray)
    for rel, fn in _FIXED_POINT_ALLOWLIST:  # no stale entries
        tree = ast.parse((root / rel).read_text())
        assert any(
            isinstance(n, ast.FunctionDef) and n.name == fn for n in ast.walk(tree)
        ), f"allowlisted {rel}:{fn} no longer exists"


_PROTOCOL_CALLS = {
    "assert_no_live_writer", "lease_heartbeat", "write_marker", "foldable",
    "inactive_slot", "cleanup", "check_batch_writable",
}


def _is_col_named(node, name):
    return (
        _is_call(node, "col", "F")
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == name
    )


def _is_col_b(node):
    return _is_col_named(node, "b")


def _is_col(node):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "col"
    )


def _state_protocol_sites(path):
    """(line, what) of every marker-commit step in one module: a call
    of a protocol function, or F.col("b") compared to (or isin of)
    anything but another column — a slot / watermark filter."""
    sites = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in _PROTOCOL_CALLS:
                sites.append((node.lineno, name))
            elif name == "isin" and _is_col_b(f.value):
                sites.append((node.lineno, 'F.col("b").isin'))
        elif isinstance(node, ast.Compare):
            ops = [node.left, *node.comparators]
            if any(map(_is_col_b, ops)) and not all(map(_is_col, ops)):
                sites.append((node.lineno, 'F.col("b") compared to a slot'))
    return sorted(sites)


def test_state_table_protocol_lives_in_compaction():
    """The marker-commit protocol has one home: writes, reads and folds
    of a batch-partitioned state table go through
    streaming/compaction.py:MarkerCommit (write / live / compact); an
    owner supplies only its fold."""
    import sql_flow_spark

    root = Path(sql_flow_spark.__file__).parent
    stray = [
        f"{path.relative_to(root).as_posix()}:{line} {what}"
        for path in sorted(root.rglob("*.py"))
        if path.relative_to(root).as_posix() != "streaming/compaction.py"
        for line, what in _state_protocol_sites(path)
    ]
    assert not stray, "use MarkerCommit.write / live / compact:\n" + "\n".join(stray)


# The cosine-search rule (functions/similarity.py): the norm is
# ``norm``, a pair's cosine is ``pair_cosine`` (the only caller of the
# fast dot), and a per-query neighbor list is ``top_per_query``.
_COSINE_RULE = {
    "dot_dec_fast call": (
        "pair_cosine", lambda n: _is_call(n, "dot_dec_fast")
    ),
    "F.sqrt(sq_norm_dec(...))": (
        "norm",
        lambda n: _is_call(n, "sqrt", "F")
        and bool(n.args)
        and _is_call(n.args[0], "sq_norm_dec"),
    ),
    'Window.partitionBy("qid")': (
        "top_per_query",
        lambda n: _is_call(n, "partitionBy", "Window")
        and len(n.args) == 1
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == "qid",
    ),
}

# Sites of the rule's shapes that are not the rule, each with its reason.
_COSINE_RULE_ALLOWLIST = {
    ("functions/similarity.py", "knn_classify", 'Window.partitionBy("qid")'):
        "the majority-vote pick orders labels by (n_votes DESC, nlabel): "
        "a vote tally, not a cosine neighbor list",
    (
        "functions/retrieval.py", "bm25_self_retrieval_mrr",
        'Window.partitionBy("qid")',
    ):
        "picks each query document's terms by (tf DESC, term): a term "
        "list, not a neighbor list",
}


def test_cosine_rule_lives_in_similarity():
    """The cosine-search rule has one home: a new hand-written pair
    cosine, norm or per-query top-k window fails here; use
    similarity.pair_cosine / norm / top_per_query, or allowlist it
    with a reason."""
    import sql_flow_spark

    root = Path(sql_flow_spark.__file__).parent
    found = [
        (rel, fn, what, line)
        for path in sorted(root.rglob("*.py"))
        for rel in [path.relative_to(root).as_posix()]
        for what, (owner, match) in _COSINE_RULE.items()
        for fn, line in _sites(path, match)
        if (rel, fn) != ("functions/similarity.py", owner)
    ]
    per_key = Counter(site[:3] for site in found)
    stray = [  # an allowlist entry covers exactly one site
        f"{rel}:{line} in {fn}: {what}"
        for rel, fn, what, line in found
        if (rel, fn, what) not in _COSINE_RULE_ALLOWLIST
        or per_key[rel, fn, what] > 1
    ]
    assert not stray, (
        "use similarity.pair_cosine / norm / top_per_query:\n" + "\n".join(stray)
    )
    stale = [k for k in _COSINE_RULE_ALLOWLIST if not per_key[k]]
    assert not stale, f"allowlisted sites no longer exist: {stale}"


# One helper per repeated operator plan shape: (home module, helper,
# matcher). The distributed ordered scan, the pinned order baskets and
# the log-log moment fit are each written once, in their helper.
_PLAN_SHAPES = {
    "F.spark_partition_id()": (
        "operators/extra.py",
        "ordered_scan",
        lambda n: _is_call(n, "spark_partition_id", "F"),
    ),
    '.repartition(..., "l_orderkey")': (
        "operators/graph.py",
        "order_parts",
        lambda n: _is_call(n, "repartition")
        and any(isinstance(a, ast.Constant) and a.value == "l_orderkey" for a in n.args),
    ),
    'dsum(F.col("x") * F.col("y"), ...)': (
        "registry.py",
        "ols_fit",
        lambda n: _is_call(n, "dsum")
        and bool(n.args)
        and isinstance(n.args[0], ast.BinOp)
        and isinstance(n.args[0].op, ast.Mult)
        and _is_col_named(n.args[0].left, "x")
        and _is_col_named(n.args[0].right, "y"),
    ),
}


def test_operator_plan_shapes_live_in_helpers():
    """A new hand-written range-partition scan, order-basket pin or
    moment fit fails here; use extra.ordered_scan, graph.order_parts
    or registry.ols_fit."""
    import sql_flow_spark

    root = Path(sql_flow_spark.__file__).parent
    found = [
        (rel, fn, what, line)
        for path in sorted(root.rglob("*.py"))
        for rel in [path.relative_to(root).as_posix()]
        for what, (_, _, match) in _PLAN_SHAPES.items()
        for fn, line in _sites(path, match)
    ]
    stray = [
        f"{rel}:{line} in {fn}: {what}"
        for rel, fn, what, line in found
        if (rel, fn) != _PLAN_SHAPES[what][:2]
    ]
    assert not stray, (
        "use ordered_scan / order_parts / ols_fit:\n" + "\n".join(stray)
    )
    homes = {(rel, fn) for rel, fn, _, _ in found}
    assert all(v[:2] in homes for v in _PLAN_SHAPES.values()), "a helper moved"


@pytest.mark.parametrize("seed,n_part", [(0, 1), (1, 64), (2, 64), (3, 3)])
def test_ordered_scan_matches_global_window(spark, seed, n_part):
    """ordered_scan equals a plain single-task Window.orderBy — LONG
    rank and running DECIMAL sum — on frames with ties on the first
    order column, with one partition, and with more range partitions
    than rows (some empty)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sql_flow_spark.operators.extra import ordered_scan

    rng = np.random.RandomState(seed)
    n = int(rng.randint(1, 40))
    rows = [
        (int(g), i, Decimal(int(v)))
        for i, (g, v) in enumerate(
            zip(rng.randint(0, 4, n), rng.randint(-(10**12), 10**12, n))
        )
    ]
    df = spark.createDataFrame(rows, "g int, id long, v decimal(38,0)")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    try:
        for order in (["g", "id"], [F.col("g").desc(), F.col("id").desc()]):
            w = Window.orderBy(*order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            for value, ref in ((None, F.row_number()), ("v", F.sum("v"))):
                got = ordered_scan(df, order, value=value, name="s")
                want = df.withColumn("s", ref.over(w))
                assert got.columns == ["g", "id", "v", "s"]
                assert sorted(got.collect()) == sorted(want.collect())
                assert got.schema["s"].dataType.simpleString() == (
                    "bigint" if value is None else "decimal(38,0)"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    """Randomized + adversarial graphs vs a brute-force union-find:
    random sparse graphs, a 12-node chain (forces ~11 propagation
    iterations — the existing fixed tests only cover diameter <= 3),
    a clique, and disjoint stars."""
    from sql_flow_spark.functions.curation import connected_components

    rng = np.random.RandomState(11)
    graphs = [
        [(int(a), int(b)) for a, b in rng.randint(0, 30, (25, 2)) if a != b],
        [(i, i + 1) for i in range(12)],                     # chain
        [(a, b) for a in range(6) for b in range(a + 1, 6)], # clique
        [(0, k) for k in range(1, 5)] + [(100, 100 + k) for k in range(1, 5)],
        [(int(a), int(b)) for a, b in rng.randint(0, 60, (40, 2)) if a != b],
    ]
    for edges in graphs:
        expected = _union_find_components(edges)
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(df, max_iters=25).collect()
        }
        assert got == expected, f"mismatch on graph {edges[:5]}..."


# ---------------------------------------- temporal join randomized sweeps
#
# 200 seeded-random scenarios PACKED INTO ONE DataFrame each (scenario
# id rides the join key), so the whole sweep is two Spark jobs, not
# 400. References are brute-force python over the same tuples.


def _temporal_cases(seed, n_scen):
    rng = np.random.RandomState(seed)
    cases = []
    for sid in range(n_scen):
        nl, nr = rng.randint(0, 6), rng.randint(0, 6)
        # small ts range forces boundary collisions (equal ts, exact
        # window edges) far more often than uniform reals would
        left = [(sid, int(t)) for t in rng.randint(0, 40, nl)]
        right = [(sid, int(t), float(v)) for t, v in zip(rng.randint(0, 40, nr), rng.randint(0, 100, nr))]
        cases.append((left, right))
    return cases


def test_asof_join_matches_bruteforce_sweep(spark):
    from sql_flow_spark.operators.asof import asof_join

    cases = _temporal_cases(7, 200)
    lrows = [(sid, ts, i) for c in cases for i, (sid, ts) in enumerate(c[0])]
    # collapse right to unique (key, ts) keeping max v — the operator's
    # documented uniqueness contract
    rmap = {}
    for c in cases:
        for sid, ts, v in c[1]:
            rmap[(sid, ts)] = max(rmap.get((sid, ts), -1.0), v)
    rrows = [(sid, ts, v) for (sid, ts), v in rmap.items()]
    left = spark.createDataFrame(lrows, "k int, ts int, lid int")
    right = spark.createDataFrame(rrows, "k int, ts int, payload double")
    got = {
        (r["k"], r["ts"], r["lid"]): (r["payload"], r["asof_ts"])
        for r in asof_join(left, right, ["k"], "ts", ["payload"]).collect()
    }
    assert len(got) == len(lrows)
    for sid, ts, lid in lrows:
        prior = [(t, v) for (s, t), v in rmap.items() if s == sid and t <= ts]
        want = max(prior) if prior else None
        if want is None:
            assert got[(sid, ts, lid)] == (None, None)
        else:
            assert got[(sid, ts, lid)] == (want[1], want[0])


def test_range_join_matches_bruteforce_sweep(spark):
    from sql_flow_spark.operators.temporal import range_join

    W = 10
    cases = _temporal_cases(11, 200)
    lrows = [
        (sid, ts, i) for c in cases for i, (sid, ts) in enumerate(c[0])
    ]
    rrows = [
        (sid, ts, j)
        for c in cases
        for j, (sid, ts, _v) in enumerate(c[1])
    ]
    left = spark.createDataFrame(lrows, "k int, lus long, lid int")
    right = spark.createDataFrame(rrows, "k int, rus long, rid int")
    got = sorted(
        (r["k"], r["lid"], r["rid"])
        for r in range_join(left, right, ["k"], "lus", "rus", W).collect()
    )
    want = sorted(
        (sid, lid, rid)
        for (sid, lts, lid) in lrows
        for (rid_sid, rts, rid) in rrows
        if rid_sid == sid and lts <= rts <= lts + W
    )
    assert got == want


def test_merge_pair_fold_matches_python_sweep(spark):
    """The BPE merge fold (Catalyst aggregate HOF) vs the plain-python
    greedy scan on 300 random symbol arrays from a 2-letter alphabet
    (maximizing adjacent/overlapping merge collisions like 'aaaa')."""
    from pyspark.sql import functions as F

    from sql_flow_spark.functions.bpe import _merge_pair

    rng = np.random.RandomState(5)
    arrays = [
        [str(c) for c in rng.choice(["a", "b"], rng.randint(0, 9))]
        for _ in range(300)
    ]

    def py_merge(syms, a, b):
        out = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return out

    df = spark.createDataFrame(
        [(i, arr) for i, arr in enumerate(arrays)], "i int, syms array<string>"
    )
    for a, b in (("a", "a"), ("a", "b"), ("b", "a")):
        got = {
            r["i"]: list(r["m"])
            for r in df.select(
                "i", _merge_pair(F.col("syms"), F.lit(a), F.lit(b)).alias("m")
            ).collect()
        }
        for i, arr in enumerate(arrays):
            assert got[i] == py_merge(arr, a, b), (a, b, arr)


def _adversarial_texts():
    """Deterministic corpus of edge-case documents for the shared
    text-signal helpers: empties, whitespace runs, unicode, digit/punct
    walls, regex metacharacters, repeats. Two characters are excluded
    on purpose, each a pinned engine-dialect boundary this fuzz itself
    surfaced or confirmed: \\x0b (java.util.regex and RE2 class \\s
    genuinely disagree — the documented tokenizer edge) and U+0130
    'İ' (JVM/Python lower() emits i + combining dot U+0307, DuckDB's
    utf8proc emits plain i, so lowercased fingerprints split). Both
    only matter for cross-ENGINE hash parity — within one engine the
    fingerprints stay self-consistent, which is all dedup needs at
    scale. Everything else must match exactly, including NaNs."""
    rng = np.random.RandomState(12)
    words = ["the", "cat", "über", "naïve", "data", "x1", "#!?", "émü",
             "汉字", "🦆", "a" * 40, "-", "3.14", "foo@bar.com"]
    texts = [
        "",
        " ",
        "   \t\n  ",
        "word",
        "the the the the the the",
        "1234 5678 $$$ %%% ^^^",
        ".*+?()[]{}|\\^$",
        "a\tb\nc  d\r\ne",
        "ﬁnancial ŒUVRE ẞharp istanbul",  # İ excluded: see docstring
        "🦆🦆🦆 emoji only 🦆",
        ("repeat me " * 30).strip(),
    ]
    for _ in range(60):
        n = rng.randint(1, 25)
        texts.append(" ".join(words[i] for i in rng.randint(0, len(words), n)))
    return texts


def test_text_signal_helpers_match_duckdb_on_adversarial_corpus(spark):
    """Cross-engine fuzz of the shared curation signal helpers
    (quality_score / with_repetition_2gram / prefix_fingerprint /
    fingerprint) against their DuckDB oracle twins on texts far
    outside the synthetic corpus's distribution. The oracle sweep
    proves the pair on well-behaved generator text; this proves the
    CONSTRUCTIONS agree on empties, unicode, regex metachars and
    pathological repeats — exactly where regex-dialect or
    null-semantics drift would hide."""
    from sql_flow_spark.functions.curation import (
        _O_QUALITY,
        LEAK_PREFIX_TOKENS,
        prefix_fingerprint,
        quality_score,
        with_repetition_2gram,
    )
    from sql_flow_spark.functions.dedup import O_NGRAMS, O_TOKENS
    from sql_flow_spark.functions.textops import O_NORMALIZE, fingerprint

    texts = _adversarial_texts()
    rows = list(enumerate(texts))
    sdf = with_repetition_2gram(
        spark.createDataFrame(rows, "doc_id long, text string"), "text"
    ).select(
        "doc_id",
        quality_score("text").alias("q"),
        "rep_2gram",
        prefix_fingerprint("text").alias("pfp"),
        fingerprint("text").alias("fp"),
    )
    got = {r.doc_id: (repr(r.q), repr(r.rep_2gram), r.pfp, r.fp)
           for r in sdf.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    sql = f"""
    WITH q AS ({_O_QUALITY}),
    rep AS (
      SELECT doc_id,
        CASE WHEN len(g2) = 0 THEN 0.0
             ELSE CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                  / CAST(len(g2) AS DOUBLE) END AS rep_2gram
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len({O_TOKENS}) - 1),
                 i -> {O_TOKENS}[i] || ' ' || {O_TOKENS}[i+1]) AS g2
        FROM documents
      )
    )
    SELECT d.doc_id, q.q, rep.rep_2gram,
           md5(array_to_string(
             list_slice(regexp_split_to_array(trim(lower(d.text)), '\\s+'),
                        1, {LEAK_PREFIX_TOKENS}), ' ')) AS pfp,
           md5({O_NORMALIZE.format(expr='d.text')}) AS fp
    FROM documents d JOIN q USING (doc_id) JOIN rep USING (doc_id)
    """
    want = {r[0]: (repr(r[1]), repr(r[2]), r[3], r[4])
            for r in con.execute(sql).fetchall()}

    assert set(got) == set(want)
    mismatches = {
        i: (got[i], want[i], texts[i][:40])
        for i in got if got[i] != want[i]
    }
    assert not mismatches, f"{len(mismatches)} divergent docs: {mismatches}"
