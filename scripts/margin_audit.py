"""Boundary-margin audit for rounded float outputs (r8 verdict item 3).

The repo's cross-engine determinism idiom is floor(x * 10^s + 0.5):
mask a computed double onto a fixed-point lattice so Spark and DuckDB
hash identically. The idiom is only hazardous when BOTH hold:

  1. the floored argument has a TRANSCENDENTAL (ln/exp/pow/...) in its
     dataflow — IEEE +,-,*,/,sqrt are correctly rounded and therefore
     bit-identical in every engine, but libm transcendentals differ by
     ulps (and occasionally much more) across builds; and
  2. some argument value sits NEAR the integer lattice, so a libm
     wobble can flip the floor.

That is exactly how `kaplan_meier_retention` failed the r8 driver hash
check while being green locally: the one unmasked exp() put a value
1.5e-4 lattice units from the boundary and the driver's DuckDB libm
crossed it. Keys with no libm upstream (e.g. q1_pricing_summary,
margin 1.9e-9, green since r5) are deterministic at ANY margin.

This script measures the hazard for EVERY oracle-backed key: it
rewrites each oracle's floor()/ceil() calls — per CALL SITE — to
DuckDB Python UDFs that record the distance of every argument to the
nearest integer, runs the rewritten oracle at the given SF, and
reports per-site minima. The hazard metric is the boundary distance
measured in ULPS OF THE ARGUMENT: a libm result that is off by k ulps
moves the scaled floor argument by ~k ulps of itself, so the flip
condition is scale-free (see ULP_EPS for the calibration against the
observed r8 event). A key is classified `libm` if its oracle SQL
contains a transcendental token; only libm keys with a site margin
under ULP_EPS fail the audit. Exactly-on-lattice hits (margin == 0)
are counted separately: they come from exact integer/decimal
arithmetic feeding the floor and are deterministic by construction.

A second, independent design rule this audit enforced the derivation
of (see kaplan_meier's _KM_LN_SCALE): hash-bearing fixed-point values
and their sums must stay far below 2^53, so an engine that carries the
"DECIMAL" arithmetic in doubles still gets every partial sum exactly.
Prefer 1e6-scale lattices for hashed fixed-point columns.

Usage: python scripts/margin_audit.py [sf_dir] [key ...]
Exit 1 on any non-exempt hazard. Site-level exemptions live in EXEMPT
with a written reason why that specific floor is libm-free.
"""

from __future__ import annotations

import math
import re
import sys

import duckdb
from duckdb.typing import DOUBLE

sys.path.insert(0, ".")

from __spark_entry__ import oracle_sql  # noqa: E402
from sql_flow_spark.tables import TABLE_NAMES  # noqa: E402

# Hazard bar, in ulps of the floored argument. A libm divergence of K
# ulps flips a row whose boundary distance is under K ulps; the r8
# kaplan_meier flip happened at ~1360 ulps of its argument (a
# low-precision vectorized exp, ~3e-13 relative error, is the only
# mechanism that explains it), so 5000 gives ~4x headroom over the
# worst event ever observed while not flagging sites with 10^4+ ulp
# margins that seven rounds of driver runs have proven stable.
ULP_EPS = 5e3
_ULP = 2.0 ** -52

# (key, site_index) -> reason this floor's argument is libm-free even
# though the key's SQL mentions a transcendental elsewhere (the libm
# classifier is per-key, not per-site). Sites are numbered in textual
# order of floor/ceil occurrence in the oracle SQL. Every entry must
# say why the argument's dataflow from the last mask onward is pure
# IEEE (+,-,*,/ on bit-identical inputs): such floors are
# deterministic across engines at ANY margin.
EXEMPT: dict[tuple[str, int], str] = {
    ("ewma_daily", 2): (
        "w*x term of the DECIMAL numerator sum: w is the already-9dp-masked"
        " weight (integer/1e9) and x a fixed-point daily mean, so the chain"
        " from the masks is pure IEEE; libm (pow) sits behind the s1 mask"
    ),
    ("user_behavior_entropy", 2): (
        "p*ln(p) term of the DECIMAL(30,0) fixed-point sum: p is an exact"
        " count ratio and ln sits behind the s0 mask, so the product is"
        " pure IEEE on values both engines share bit-for-bit"
    ),
    ("rrf_fusion", 1): (
        "norms fixed-point (O_NORMS_CTE): IEEE products of exact parquet"
        " floats, no transcendental — same idiom as the [ieee] embedding"
        " keys; the key-level libm flag comes from bm25's ln()"
    ),
    ("rrf_fusion", 2): (
        "dot_dec fixed-point: IEEE per-element products of exact parquet"
        " floats — same idiom as the [ieee] embedding keys"
    ),
    ("price_elasticity", 7): (
        "sxx term: x*x where x is the already-6dp-masked ln — IEEE"
        " product of bit-identical doubles; raw ln sits behind the s0"
        " mask (measured 8.1e3 ulps, above the bar)"
    ),
    ("price_elasticity", 9): (
        "sxy term: x*y of already-masked values — same as s7"
    ),
}

_REWRITE = re.compile(r"(?<![A-Za-z_])(floor|ceil|ceiling)\s*\(", re.IGNORECASE)
_LIBM = re.compile(
    r"(?<![A-Za-z_])(ln|log|log2|log10|exp|pow|power|sin|cos|tan|atan|"
    r"atan2|asin|acos|sinh|cosh|tanh)\s*\(",
    re.IGNORECASE,
)
MAX_SITES = 64

# site -> [calls, exact, min_margin_abs, min_margin_ulps]
SITES: list[list[float]] = [[0, 0, math.inf, math.inf] for _ in range(MAX_SITES)]


def _record(i: int, x: float | None) -> float | None:
    if x is None:
        return None
    s = SITES[i]
    s[0] += 1
    d = abs(x - round(x))
    if d == 0.0:
        s[1] += 1
    else:
        if d < s[2]:
            s[2] = d
        du = d / (max(abs(x), 1.0) * _ULP)
        if du < s[3]:
            s[3] = du
    return x


def _make(i: int, fn):
    def f(x: float | None) -> float | None:
        x = _record(i, x)
        return None if x is None else float(fn(x))

    return f


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for i in range(MAX_SITES):
        con.create_function(f"mfloor{i}", _make(i, math.floor), [DOUBLE], DOUBLE)
        con.create_function(f"mceil{i}", _make(i, math.ceil), [DOUBLE], DOUBLE)

    hazards: list[tuple[str, int, float]] = []
    n_keys = 0
    global_min_libm = math.inf
    for name, sql in sorted(oracle_sql().items()):
        if only and name not in only:
            continue
        counter = iter(range(MAX_SITES))

        def sub(m: re.Match) -> str:
            i = next(counter)
            kind = "mceil" if m.group(1).lower().startswith("ceil") else "mfloor"
            return f"{kind}{i}("

        rewritten, n = _REWRITE.subn(sub, sql)
        if n == 0:
            continue
        n_keys += 1
        libm = bool(_LIBM.search(sql))
        for s in SITES:
            s[0], s[1], s[2], s[3] = 0, 0, math.inf, math.inf
        try:
            con.execute(rewritten).fetchall()
        except duckdb.BinderException:
            # Textually repeated floor expressions (SELECT + GROUP BY)
            # got distinct site names and no longer match; fall back to
            # one shared site for this key (no per-site attribution).
            shared, _ = _REWRITE.subn(
                lambda m: (
                    "mceil1(" if m.group(1).lower().startswith("ceil") else "mfloor0("
                ),
                sql,
            )
            n = 2
            for s in SITES:
                s[0], s[1], s[2], s[3] = 0, 0, math.inf, math.inf
            try:
                con.execute(shared).fetchall()
            except Exception as e:  # pragma: no cover - triage aid
                print(f"ERR  {name}: {type(e).__name__}: {e}")
                hazards.append((name, -1, math.nan))
                continue
        except Exception as e:  # pragma: no cover - triage aid
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            hazards.append((name, -1, math.nan))
            continue
        parts = []
        for i in range(n):
            calls, exact, mm, mu = SITES[i]
            if calls == 0:
                continue
            tight = not math.isinf(mu) and mu < ULP_EPS
            flag = ""
            if tight and libm:
                if (name, i) in EXEMPT:
                    flag = "(exempt)"
                else:
                    flag = "<HAZARD>"
                    hazards.append((name, i, mu))
            if libm and not math.isinf(mu):
                global_min_libm = min(global_min_libm, mu)
            mtxt = (
                "exact"
                if math.isinf(mm)
                else f"{mm:.1e}/{mu:.1e}u"
            )
            parts.append(f"s{i}:{mtxt}{flag}")
        cls = "libm" if libm else "ieee"
        print(f"{name:34s} [{cls}] {' '.join(parts)}")

    print(
        f"\n{n_keys} keys with floor/ceil; min libm-key site margin "
        + (
            "n/a"
            if math.isinf(global_min_libm)
            else f"{global_min_libm:.3e} ulps"
        )
    )
    if hazards:
        print(f"HAZARDS: {hazards}")
        sys.exit(1)
    print("ALL MARGINS SAFE")


if __name__ == "__main__":
    main()
