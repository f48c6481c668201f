"""Cross-engine-stable numeric helpers shared by operators and the oracle
registry.

``round4_stable`` is the engine-portable 4-decimal rounding for computed
QUOTIENTS (averages, ratios, cosines, Jaccard): Spark's ``round()`` rounds
the double's shortest decimal representation (HALF_UP via
``BigDecimal.valueOf``) while DuckDB rounds the binary value — they disagree
exactly when a quotient's shortest form lands on a half (e.g. 3148.24/64 =
"49.19125" -> Spark 49.1913, DuckDB 49.1912). ``floor(x*1e4 + 0.5)/1e4`` is
pure double arithmetic, bit-identical on both engines; the SQL twin is
``floor(x * 10000 + 0.5) / 10000``.

For negative inputs this is round-half-toward-+inf rather than half-away —
a fixed, documented convention; what matters for the correctness gate is
that both engines compute the identical double. Plain ``round()`` stays
fine for sums of 2-decimal money (never near a half) and for values rounded
before comparison.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: SQL twin of :func:`round4_stable` — format with the expression inside.
ROUND4_SQL = "floor(({expr}) * 10000 + 0.5) / 10000"


def _sql_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier for the parsed-SQL-text builders:
    backticked, with embedded backticks doubled, so every column name
    parses as exactly that one column (dots included)."""
    return "`" + name.replace("`", "``") + "`"


def round4_stable(col: Column) -> Column:
    """4-decimal rounding as pure double arithmetic (see module docstring)."""
    return F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)


def overflow_checked(col: Column, bound: float, context: str) -> Column:
    """Fail-loud guard for the exact-DECIMAL aggregation paths.

    Under non-ANSI mode a Spark decimal cast silently NULLs values that
    don't fit, and ``F.sum`` then silently skips them — an aggregate
    quietly computed over an undetected subset. This guard makes the
    precondition explicit: any value with ``|x| >= bound`` aborts the job
    with a message naming the operator, instead of skewing its output.
    (DuckDB's behavior for the oracle twin is already fail-loud: a decimal
    cast overflow raises.) Cost: one vectorized comparison per row.
    """
    return F.when(col.isNull() | (F.abs(col) < F.lit(bound)), col).otherwise(
        F.raise_error(
            F.format_string(
                f"{context}: |value| >= {bound:g} overflows the exact-decimal "
                "aggregation path (value=%s)",
                col.cast("string"),
            )
        ).cast("double")
    )


def bigint_checked(col: Column, context: str) -> Column:
    """Fail-loud DECIMAL(38,0) -> BIGINT narrowing for exact report
    surfaces.

    The exact-integer operators (mann_whitney_u, anova_f, t_closeness)
    accumulate in DECIMAL(38,0) — a BIGINT sum WRAPS silently in
    non-ANSI Spark, while the decimal sum stays exact to a practically
    unreachable 38-digit bound (and NULLs, visibly, beyond it) — but
    their REPORT columns are BIGINT for the
    driver gate's canonicalization. Under non-ANSI mode that final cast
    silently wraps/NULLs anything outside int64; this guard makes the
    narrowing explicit: any value outside int64 aborts the job naming
    the operator. The CASE stays decimal-typed in both branches (the
    generic :func:`overflow_checked` promotes to double, which is
    exactly the 2^53 exactness loss these surfaces exist to avoid).
    """
    bound = F.lit("9223372036854775807").cast("decimal(38,0)")
    dec = col.cast("decimal(38,0)")
    return F.when(dec.isNull() | (F.abs(dec) <= bound), dec).otherwise(
        F.raise_error(
            F.format_string(
                f"{context}: value outside BIGINT range on the exact "
                "report surface (value=%s)",
                dec.cast("string"),
            )
        ).cast("decimal(38,0)")
    ).cast("bigint")


def lit_bigint_array(vals: list[int]) -> Column:
    """``array<bigint>`` literal built as ONE SQL expression string.

    ``F.lit(list)`` costs one py4j round-trip per element in classic
    PySpark — measured 1.65 s of pure driver time for a 2048-word Bloom
    bitmap vs 4 ms as expression text (r12, guide §5: the driver should
    do almost no work; plan CONSTRUCTION is driver work too). The ``L``
    suffix parses every element as a BIGINT literal directly (verified
    incl. LONG_MIN), so the array is exactly the one ``F.lit`` built.
    """
    if not vals:
        return F.lit([]).cast("array<bigint>")
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def _double_sql(x: float) -> str:
    """One double as SQL literal text. ``repr(float)`` is the shortest
    round-trip decimal form and Java's ``Double.parseDouble`` is correctly
    rounded, so the parsed literal is bit-identical to the Python float
    (``-0.0D`` parses as negative zero); non-finite values have no literal
    form and render as the string casts Spark accepts under ANSI."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def lit_double_array2_sql(rows: list[list[float]]) -> str:
    """``array<array<double>>`` literal as ONE SQL expression string (the
    nested twin of :func:`lit_bigint_array` for hyperplane / centroid /
    component constant tables), so callers composing larger single
    expressions inline the table without a py4j round-trip per element.
    Every element is BIT-IDENTICAL to the ``F.lit`` path, NaN, infinities,
    negative zero and empty rows included (pinned in
    tests/test_r12_optimizations.py)."""
    if not rows:
        return "CAST(array() AS array<array<double>>)"
    return (
        "array("
        + ",".join(
            "array(" + ",".join(_double_sql(x) for x in r) + ")"
            if r
            else "CAST(array() AS array<double>)"
            for r in rows
        )
        + ")"
    )
