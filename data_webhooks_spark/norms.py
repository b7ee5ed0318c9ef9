"""Cross-engine determinism helpers (Spark <-> DuckDB oracle).

The driver hash-compares every ``queries()[k]`` result against DuckDB
running ``oracle_sql()[k]`` — row count + schema + order-insensitive
value hash. Floating-point aggregation order differs between engines,
so naive ``SUM(double)`` is a silent hash-mismatch. The rules here
(SURVEY.md §5.3) make results bit-deterministic:

- **Money/value sums**: cast each input double to DECIMAL first, sum
  exactly, cast the exact total back to double. Both engines round the
  *same* input doubles to the *same* decimals, sum without error, and
  produce the identical double. ``dec_sum`` / ``o_dec_sum``.
- **Averages**: exact decimal sum cast to double, divided by count —
  one deterministic double division instead of engine-specific AVG
  accumulation. ``dec_avg`` / ``o_dec_avg``.
- **Order-sensitive statistics** (stddev, corr, ...): round to a digit
  budget far above engine noise but far below value magnitude.
- **Integer sums**: DuckDB SUM(BIGINT) returns HUGEINT (int128); cast
  to BIGINT on the oracle side to match Spark's LongType.
- **Window/rank outputs**: Spark row_number is int, DuckDB's is BIGINT
  — cast Spark side to long.

Every operator module uses these helpers on BOTH sides so the pair
cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Wide enough for sf0.1 money sums (~3e10) with headroom to 100 TB-ish
# partial aggregates; scale 2 matches cents semantics.
MONEY_PREC, MONEY_SCALE = 28, 2


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------- Spark side ----------


"""Non-finite input policy (r12, found by adversarial scenario N):
a NaN/±Infinity reaching a quantization seam is treated as MISSING
(NULL) on BOTH engines. Without the guard the engines fail
asymmetrically and dangerously: Spark's FLOOR(double)→BIGINT
silently saturates (NaN→0 — a NaN money value becomes 0.00 in a sum
with no error; ±inf→±2^63-1 — whose very first sum step throws
ANSI ARITHMETIC_OVERFLOW, killing a 100 TB job on one corrupt row),
while DuckDB's double-typed FLOOR propagates NaN/inf into the BIGINT
cast and raises ConversionException. NULL-as-missing degrades one
corrupt row to the long-established NULL semantics (swept by
scenarios A/B) and leaves surfacing garbage to dq_checks, where a
data-quality decision belongs. The predicate is the single IEEE
comparison ``abs(x) <= DBL_MAX`` — false for NaN (all NaN compares
are false) and for ±inf — chosen over isnan/isinf pairs because it
is one codegen-friendly expression that parses identically in Spark
SQL and DuckDB (the three-way portability check)."""

_DBL_MAX = 1.7976931348623157e308


def _finite(c: Column) -> Column:
    return F.abs(c) <= F.lit(_DBL_MAX)


def _o_finite(expr: str) -> str:
    return f"ABS({expr}) <= 1.7976931348623157e308"


def _scaled_units(c: Column, scale: int) -> Column:
    """``CAST(x AS DECIMAL(28,scale))`` re-expressed as BIGINT units.

    ``round-half-away(x * 10^scale)`` computed with FLOOR on the
    double (BIGINT result, sign-branched so negatives round away from
    zero exactly like a decimal cast). Requires |x|*10^scale < 2^53,
    which holds for every money/value column by orders of magnitude.
    Non-finite x yields NULL (policy above). Each shared subexpression
    is built once and reused: every Column call is a py4j round trip."""
    m, half, finite = F.lit(float(10**scale)), F.lit(0.5), _finite(c)
    return F.when(finite & (c >= 0), F.floor(c * m + half)).when(
        finite, -F.floor(-c * m + half)
    )


def dec_sum(col: str | Column, alias: str, scale: int = MONEY_SCALE) -> Column:
    """Exact, order-independent sum of doubles; deterministic double out.

    Integer-unit BIGINT sum, not DECIMAL: Spark's sum buffer for
    precision>18 decimals stores a serialized BigDecimal in the
    UnsafeRow (the compact-long fast path caps at 18 digits), measured
    ~1.8x slower on the Q1 aggregate at sf0.1. A BIGINT unit sum is
    exact while the group total stays under 2^63 units — ~9e7 rows per
    group at the widest money scale (1e11 units/row), i.e. every local
    SF with orders-of-magnitude headroom. At 100 TB-per-group totals
    BIGINT would wrap silently; the scale-safe twin is the salted
    two-level aggregate (`agg_salted_exact`): BIGINT partials per
    (group, salt) bucket, DECIMAL(28) final over ~#buckets rows — all
    the per-row work stays in codegen integer arithmetic."""
    m = 10**scale
    return (F.sum(_scaled_units(_c(col), scale)).cast("double") / F.lit(m)).alias(
        alias
    )


def dec_avg(col: str | Column, alias: str, scale: int = MONEY_SCALE) -> Column:
    """Deterministic average: exact unit sum -> double, / count.

    The count is over the FINITE values (the non-finite-as-missing
    policy applies to both numerator and denominator, like NULLs)."""
    c = _c(col)
    m = 10**scale
    return (
        F.sum(_scaled_units(c, scale)).cast("double")
        / F.lit(m)
        / F.count(F.when(_finite(c), c))
    ).alias(alias)


def long_sum(col: str | Column, alias: str) -> Column:
    return F.sum(_c(col)).cast("long").alias(alias)


def rnd(col: Column, alias: str, digits: int = 2) -> Column:
    """Round an order-sensitive float aggregate on both sides."""
    return F.round(col, digits).alias(alias)


def qnt(col: Column, alias: str, digits: int = 6) -> Column:
    """Quantize a double to `digits` decimals via FLOOR(x*10^d + 0.5)/10^d.

    Numerically equal to round-half-up for finite positive values, but
    pure IEEE double ops — Spark's ROUND(double, d) allocates a
    BigDecimal per value (measured ~0.17s per 600k rows per column),
    while this form stays in whole-stage codegen at full speed. Use for
    per-row rounding on large outputs; pair with o_qnt so both engines
    run the identical float expression. Requires |x|*10^d < 2^53;
    non-finite x yields NULL (Spark FLOOR returns BIGINT and would
    otherwise silently saturate — see the policy note above)."""
    scale = F.lit(float(10**digits))
    return F.when(
        _finite(col), F.floor(col * scale + F.lit(0.5)) / scale
    ).alias(alias)


def dec_cast(col: str | Column, prec: int = 28, scale: int = 4) -> Column:
    """Finite-guarded ``CAST(x AS DECIMAL(prec,scale))`` — the direct
    decimal-cast sites (window running sums) share the non-finite->
    NULL policy; an unguarded cast crashes DuckDB outright and Spark
    under ANSI (one corrupt row kills a 100 TB window query)."""
    c = _c(col)
    return F.when(_finite(c), c.cast(f"decimal({prec},{scale})"))


def o_dec_cast(expr: str, prec: int = 28, scale: int = 4) -> str:
    """DuckDB twin of dec_cast."""
    return (
        f"CASE WHEN {_o_finite(expr)}"
        f" THEN CAST(({expr}) AS DECIMAL({prec},{scale})) END"
    )


def finite_or_null(col: str | Column) -> Column:
    """Pass a double through unchanged, non-finite -> NULL: the
    operator-local ingestion guard for paths doing their own exact
    integer/decimal arithmetic on a measure column."""
    c = _c(col)
    return F.when(_finite(c), c)


def o_finite_or_null(expr: str) -> str:
    """DuckDB twin of finite_or_null."""
    return f"CASE WHEN {_o_finite(expr)} THEN ({expr}) END"


def as_long(col: Column, alias: str) -> Column:
    """Match DuckDB's BIGINT outputs for rank-family window functions."""
    return col.cast("long").alias(alias)


# ---------- DuckDB oracle side (SQL string builders) ----------


def _o_units(expr: str, scale: int) -> str:
    """DuckDB twin of _scaled_units: identical sign-branched FLOOR,
    with the identical finite guard (non-finite -> NULL)."""
    m = float(10**scale)
    return (
        f"CASE WHEN {_o_finite(expr)} AND ({expr}) >= 0"
        f" THEN CAST(FLOOR(({expr}) * {m} + 0.5) AS BIGINT)"
        f" WHEN {_o_finite(expr)}"
        f" THEN -CAST(FLOOR(-({expr}) * {m} + 0.5) AS BIGINT) END"
    )


def o_dec_sum(expr: str, alias: str, scale: int = MONEY_SCALE) -> str:
    m = 10**scale
    return f"CAST(SUM({_o_units(expr, scale)}) AS DOUBLE) / {m} AS {alias}"


def o_dec_avg(expr: str, alias: str, scale: int = MONEY_SCALE) -> str:
    m = 10**scale
    return (
        f"CAST(SUM({_o_units(expr, scale)}) AS DOUBLE) / {m}"
        f" / COUNT(CASE WHEN {_o_finite(expr)} THEN ({expr}) END)"
        f" AS {alias}"
    )


def o_long_sum(expr: str, alias: str) -> str:
    return f"CAST(SUM({expr}) AS BIGINT) AS {alias}"


def o_rnd(expr: str, alias: str, digits: int = 2) -> str:
    return f"ROUND({expr}, {digits}) AS {alias}"


def o_qnt(expr: str, alias: str, digits: int = 6) -> str:
    """DuckDB twin of qnt(): the identical IEEE float expression.

    The scale is emitted in exponent form (`1e6`) — both DuckDB and
    Spark SQL type exponent literals as DOUBLE, whereas `1000000.0`
    types as DECIMAL(8,1) under spark.sql, turning the final division
    DECIMAL and breaking the three-way parity check on dtype (the
    r6 ts_period_delta lesson). Non-finite -> NULL, mirroring qnt()
    (DuckDB's double-typed FLOOR would otherwise PROPAGATE NaN/inf
    where Spark's BIGINT FLOOR saturates — the silent-divergence
    class scenario N exposed)."""
    scale = f"1e{digits}"
    return (
        f"CASE WHEN {_o_finite(expr)}"
        f" THEN FLOOR(({expr}) * {scale} + 0.5) / {scale} END AS {alias}"
    )
