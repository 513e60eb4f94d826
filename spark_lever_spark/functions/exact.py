"""Exact / cross-engine-deterministic numeric helpers.

Motivation (learned the hard way, kept as doctrine):

1. Two-argument ``round(x, n)`` is NOT portable across engines. Spark
   rounds the decimal representation of the double (BigDecimal
   HALF_UP); DuckDB computes ``floor(x*10^n + 0.5)/10^n`` in floating
   point. On ``.xx5`` boundaries (which monetary grids hit
   constantly) they disagree.
2. Floating-point SUM is order-dependent; Spark's partial aggregation
   and DuckDB's sequential sum differ in the last ulps. If the exact
   result lies ON a rounding boundary (sums of price*discount products
   always can), the ulp decides the rounded digit.

Therefore:
- ``round_to(col, n)``: the explicit ``round(x*10^n)/10^n`` form.
  Single-arg round is half-away-from-zero in BOTH engines, so two
  engines agree whenever they hold bit-identical doubles — which they
  do for any expression built from identical scalar IEEE ops.
  Safe for: per-row arithmetic, divisions of exact integers, and sums
  whose exact value sits on a coarser grid than the rounding target.
- ``cents(col)``: lift a 2-decimal column to exact BIGINT cents
  (single-arg round of a per-row double — identical in both engines).
  Sums/products of cents are exact 64-bit integer arithmetic: no
  order-dependence at all. This is also the right 100 TB design: money
  as integers (or DECIMAL), never as accumulated doubles.

Every oracle SQL mirrors these with the same textual pattern
(``CAST(round(x*100) AS BIGINT)``, ``round(x*10000)/10000``).

Integer division is not portable either: Spark ``div`` truncates
toward zero, DuckDB ``//`` floors, and 64-bit moments overflow BIGINT.
One SQL text serves both engines through two placeholders: ``{I}`` is
the wide integer type and ``{D}`` the integer division. ``duck_sql``
fills them with HUGEINT and ``//``; ``spark_sql`` with ``DEC38``
(DECIMAL(38,0)) and ``div``. ``sql_ss_div`` divides the magnitude and
reapplies the sign, so both engines agree whatever the numerator's
sign.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_to(col: Column, n: int) -> Column:
    """Cross-engine-safe fixed-point rounding: round(x*10^n)/10^n."""
    s = float(10**n)
    return F.round(col * s) / s


def cents(col: Column) -> Column:
    """Exact integer cents of a 2-decimal double column."""
    return F.round(col * 100).cast("long")


def sql_cents(expr: str) -> str:
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def sql_round_to(expr: str, n: int) -> str:
    s = 10**n
    return f"round(({expr}) * {s}) / {s}"


DEC38 = "decimal(38,0)"


def sql_ss_div(num: str, den: str, scale: int) -> str:
    """SIGN-SPLIT scaled integer division, one SQL text valid in BOTH
    dialects via the {I} placeholder (HUGEINT / decimal(38,0)) and the
    {D} placeholder (// / div): magnitude is floor-divided, the sign
    reapplied — Spark div truncates while DuckDB // floors, so the two
    only agree on non-negative numerators (the CCI doctrine)."""
    return (
        f"CASE WHEN ({num}) >= 0"
        f" THEN CAST(CAST(({num}) AS {{I}}) * {scale} {{D}} ({den})"
        f" AS BIGINT)"
        f" ELSE -CAST(CAST(-({num}) AS {{I}}) * {scale} {{D}} ({den})"
        f" AS BIGINT) END"
    )


def duck_sql(expr: str) -> str:
    """Fill the {I}/{D} placeholders for DuckDB: HUGEINT and //."""
    return expr.format(I="HUGEINT", D="//")


def spark_sql(expr: str) -> str:
    """Fill the {I}/{D} placeholders for Spark: DECIMAL(38,0) and div."""
    return expr.format(I=DEC38, D="div")
