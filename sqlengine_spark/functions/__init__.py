"""Cross-engine-deterministic scalar helpers (SURVEY §5.4 float policy).

These are thin Column-expression builders — they stay inside Catalyst /
whole-stage codegen (no UDFs).
"""

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def dround(col: Column, scale: int = 2) -> Column:
    """Round a double to ``scale`` digits with DuckDB-identical semantics.

    Spark's ``F.round(x, n)`` converts the double to exact BigDecimal and
    half-up-rounds that, while DuckDB rounds ``x * 10^n`` in double
    arithmetic. For values whose binary representation sits just below a
    .5 boundary the two disagree (measured: 118/60 000 mismatches on
    lineitem net-price at sf0.01). ``round(x * 10^n) / 10^n`` — scaling
    first, rounding to integer, scaling back — reproduces DuckDB's result
    bit-for-bit (measured: 0/60 000 mismatches).

    Negative zero: a value that rounds to zero from below yields -0.0,
    which pandas-side canonicalizers format as "-0.0" != "0.0" (measured
    at sf0.1 on z-scores). Adding +0.0 maps -0.0 to +0.0 (IEEE) and is
    exact for every other double; oracles whose per-row values straddle
    zero must add ``+ 0`` likewise.
    """
    factor = float(10**scale)
    return F.round(col * factor, 0) / factor + F.lit(0.0)


def round12(x: float) -> float:
    """HALF-UP (away-from-zero) 12-dp rounding — the driver-side twin of
    ``dround(col, 12)``: Spark and DuckDB ROUND are both half-away on
    doubles, but Python's built-in ``round`` is banker's, so driver
    arithmetic that a query replays must not use it."""
    return math.copysign(math.floor(abs(x) * 1e12 + 0.5), x) / 1e12


def vdot(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns, computed entirely in
    DOUBLE with a sequential left-fold.

    Precision pin: the embeddings are float32; multiplying in float32
    drifts ~1e-6 from an engine that promotes first, which is at the
    6-dp rounding boundary. Casting each element to double BEFORE the
    multiply and folding sequentially (Spark ``aggregate`` ≡ DuckDB
    ``SUM`` over an ordered ``generate_series`` unnest) makes both
    engines produce bit-identical doubles. Stays JVM-side — no UDF.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def ols_moments() -> list[Column]:
    """Aggregates: the simple-regression moments of integer columns
    ``x`` and ``y`` — ``n``, ``sx`` = Σx, ``sy`` = Σy, ``sxy`` = Σxy
    and ``sxx`` = Σx², exact integers, so their sums are immune to
    summation order in both engines (build-notes rule 11e)."""
    return [
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ]


def ols_slope(m) -> float:
    """The least-squares slope b = (n·sxy − sx·sy) / (n·sxx − sx²) from
    a collected ``ols_moments`` row, in one fixed float operation order
    (the products with a ``float()`` operand round; the rest is exact
    integer arithmetic) that the oracles replay."""
    n, sx, sy, sxy, sxx = m["n"], m["sx"], m["sy"], m["sxy"], m["sxx"]
    return (n * sxy - sx * float(sy)) / (n * sxx - sx * float(sx))
