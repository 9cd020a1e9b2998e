"""Query registry + cross-engine determinism helpers.

Every operator in SURVEY.md §2 registers a (spark, sf_dir) -> DataFrame
builder and, when SQL-expressible, a DuckDB oracle statement. The
driver's correctness gate hashes values column-by-column, so builders
are written to be *bit-identical* to their oracle:

- real values meet their oracle through ONE fixed-point rule: put the
  double on the 10^s lattice with floor(x*10^s + 0.5), which both
  engines evaluate bit-identically in IEEE arithmetic. ``scaled_int``
  is that lattice integer as DECIMAL(30,0), the one accumulator type;
  ``dsum``/``davg`` sum it exactly (order-insensitive regardless of
  partitioning) and divide once in DOUBLE; ``fixed`` rounds a score to
  s decimals, floor(x*10^s + 0.5) / 10^s as DOUBLE; ``ols_fit`` is
  the least-squares line on ``dsum`` moments. Neither engine's code
  writes the rule out: the oracle SQL renders it through the DuckDB
  twins ``o_scaled_int`` / ``o_dsum`` / ``o_fixed`` / ``o_ols_fit``;
- time buckets are emitted as formatted strings (the reference does the
  same for window output — dev/config/examples/tumbling.window.yml uses
  strftime on the bucket) to sidestep tz-awareness differences between
  Arrow producers;
- every ORDER-sensitive top-k has a total tiebreak order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query builder; ``oracle`` is DuckDB SQL or None for
    rows-only checks (non-SQL-expressible ops)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _lattice(col: Column | str, scale: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(float(10**scale)) + F.lit(0.5))


def scaled_int(col: Column | str, scale: int = 4) -> Column:
    """Fixed-point representation computed in pure IEEE double math.

    DOUBLE addition is not associative, so a shuffled Spark sum and a
    single-threaded DuckDB sum can differ in the last bits. Casting
    double->decimal is ALSO unsafe: Spark converts via the shortest
    string representation (BigDecimal.valueOf), DuckDB rounds the true
    binary value — they disagree on repr-boundary ties. floor(x*10^s +
    0.5) instead uses only IEEE ops (multiply, add, floor), which both
    engines evaluate bit-identically, then the integer sum is exact.
    """
    return _lattice(col, scale).cast("decimal(30,0)")


def dsum(
    col: Column | str, scale: int = 4, over: WindowSpec | None = None
) -> Column:
    """Order-insensitive, engine-identical sum exposed as DOUBLE; with
    ``over``, the same sum as a window aggregate."""
    s = F.sum(scaled_int(col, scale))
    if over is not None:
        s = s.over(over)
    return s.cast("double") / F.lit(float(10**scale))


def fixed(col: Column | str, scale: int) -> Column:
    """Round to ``scale`` decimals on the same lattice, as DOUBLE:
    floor(x*10^s + 0.5) / 10^s; ``o_fixed`` is its DuckDB twin. Masks
    derived scores (ratios, logs, z-scores) at the output."""
    return _lattice(col, scale) / F.lit(float(10**scale))


def davg(col: Column | str, scale: int = 4) -> Column:
    """Exact-sum average divided in DOUBLE (engine-identical)."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c).cast("double")


def ols_fit(df: DataFrame, by: tuple = (), scale: int = 6) -> DataFrame:
    """Least-squares line y ≈ slope·x + intercept over columns ``x``
    and ``y`` of ``df``, per ``by`` group: ``n``, ``slope``,
    ``intercept`` and ``r2``. The five moment sums are ``dsum`` at
    ``scale`` (order-insensitive); the fit is IEEE arithmetic on those
    engine-identical scalars, masked with ``fixed`` at ``scale``
    because x·y products of ``scale``-dp values are exact only to
    about 2·``scale`` digits in a double."""
    s = df.groupBy(*by).agg(
        F.count("*").cast("long").alias("n"),
        dsum("x", scale).alias("sx"),
        dsum("y", scale).alias("sy"),
        dsum(F.col("x") * F.col("x"), scale).alias("sxx"),
        dsum(F.col("y") * F.col("y"), scale).alias("syy"),
        dsum(F.col("x") * F.col("y"), scale).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return s.select(
        *by,
        "n",
        fixed(slope, scale).alias("slope"),
        fixed((F.col("sy") - slope * F.col("sx")) / nd, scale).alias("intercept"),
        fixed(cov * cov / (varx * vary), scale).alias("r2"),
    )


# DuckDB twins of the helpers above, rendered into oracle SQL strings.
def o_scaled_int(expr: str, scale: int = 4) -> str:
    """``scaled_int``: the lattice integer as DECIMAL(30,0)."""
    return f"CAST(floor(({expr}) * {float(10**scale)} + 0.5) AS DECIMAL(30,0))"


def o_dsum(expr: str, scale: int = 4, over: str | None = None) -> str:
    """``dsum``; with ``over`` (a window name or ``(...)`` spec), the
    same sum as a window aggregate."""
    s = f"SUM({o_scaled_int(expr, scale)})"
    if over is not None:
        s = f"{s} OVER {over}"
    return f"CAST({s} AS DOUBLE) / {float(10**scale)}"


def o_fixed(expr: str, scale: int) -> str:
    """``fixed``: round to ``scale`` decimals on the lattice."""
    m = float(10**scale)
    return f"floor(({expr}) * {m} + 0.5) / {m}"


def o_ols_fit(points: str, by: tuple = (), scale: int = 6) -> str:
    """``ols_fit`` as a SELECT over relation ``points`` (columns ``x``
    and ``y``): ``by``…, ``n``, ``slope``, ``intercept``, ``r2``."""
    keys = "".join(f"{b}, " for b in by)
    group = f" GROUP BY {', '.join(by)}" if by else ""
    nd = "CAST(n AS DOUBLE)"
    cov = f"({nd} * sxy - sx * sy)"
    varx = f"({nd} * sxx - sx * sx)"
    vary = f"({nd} * syy - sy * sy)"
    slope = f"{cov} / {varx}"
    sums = ", ".join(
        f"{o_dsum(e, scale)} AS s{e.replace(' * ', '')}"
        for e in ("x", "y", "x * x", "y * y", "x * y")
    )
    return (
        f"SELECT {keys}n, {o_fixed(slope, scale)} AS slope,"
        f" {o_fixed(f'(sy - ({slope}) * sx) / {nd}', scale)} AS intercept,"
        f" {o_fixed(f'{cov} * {cov} / ({varx} * {vary})', scale)} AS r2"
        f" FROM (SELECT {keys}CAST(COUNT(*) AS BIGINT) AS n, {sums}"
        f" FROM {points}{group})"
    )


def o_davg(expr: str, scale: int = 4) -> str:
    return f"{o_dsum(expr, scale)} / CAST(COUNT({expr}) AS DOUBLE)"


def ts_str(col: Column | str) -> Column:
    """Format a timestamp for output, matching DuckDB strftime."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


O_TS_STR = "strftime({expr}, '%Y-%m-%d %H:%M:%S')"
