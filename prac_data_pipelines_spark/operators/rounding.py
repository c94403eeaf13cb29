"""Engine-portable rounding.

Spark's ``round`` converts the double through its shortest decimal string and
applies HALF_UP; DuckDB (and most C engines) round the binary double directly.
On exact ``.xx5``-looking products the two disagree by one ulp of the target
scale. The engine therefore standardizes on ``floor(x * 10^n + 0.5) / 10^n`` —
a pure double computation that yields bit-identical results on any engine
evaluating it over the same input, which makes result hashes comparable across
Spark, DuckDB, and any future backend. (Semantics: round-half-toward-+∞.)

Caveat — rounding an AGGREGATE: ``r2(avg(money))`` is only portable if the
aggregate itself is bit-identical, and float sums accumulate in partial-
aggregation order, which differs per engine/partitioning. When the true
average sits on a ``.xx5`` boundary, a last-ulp difference flips the floor
(observed once at sf0.1: two groups off by exactly 0.01). For money
columns, sum EXACTLY first and round the deterministic result instead:
``floor(cast(sum(cast(x as decimal(18,2))) as double) * 100 / count(*)
+ 0.5) / 100`` — the decimal sum is order-insensitive (see
``parts_never_ordered`` for the paired Spark/DuckDB form).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money(col: Column) -> Column:
    """Money term for an order-insensitive aggregate sum (see caveat in
    the module docstring): cast to decimal(18,2) so partial-aggregation
    order cannot move the sum by an ulp. Central seam for the five
    decimal-sum sites (pricing_summary, parts_never_ordered,
    rich_inactive_customers, min_cost_supplier, order_vs_customer_avg)."""
    return col.cast("decimal(18,2)")


def cents_sum(col: Column) -> Column:
    """Order-insensitive exact money sum via per-row CENT quantization:
    ``sum(cast(floor(x*100 + 0.5) as bigint))`` — long arithmetic, so it
    is exact and partial-aggregation-order-insensitive like the decimal
    idiom but at float-sum cost (A/B at sf0.1: the decimal(18,2) cast
    costs +81% on pricing_summary's 4-aggregate fact scan; cents ~0%).
    Input must be <=2-decimal structured (money, quantities). Returns the
    sum in CENTS as double — divide by 100 for units. Headroom: 1e10 rows
    of 1e7-cent values stay under the bigint limit."""
    return F.sum(F.floor(col * 100 + F.lit(0.5)).cast("long")).cast("double")


def rn(col: Column, n: int) -> Column:
    scale = 10 ** n
    return F.floor(col * scale + F.lit(0.5)) / scale


def r2(col: Column) -> Column:
    return rn(col, 2)


def r4(col: Column) -> Column:
    return rn(col, 4)


def r6(col: Column) -> Column:
    return rn(col, 6)


def sql_rn(expr: str, n: int) -> str:
    scale = 10 ** n
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def sql_r2(expr: str) -> str:
    return sql_rn(expr, 2)


def sql_r4(expr: str) -> str:
    return sql_rn(expr, 4)


def sql_r6(expr: str) -> str:
    return sql_rn(expr, 6)
