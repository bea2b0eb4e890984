"""Cross-engine-deterministic numeric conventions.

Doubles are poison for cross-engine comparison in two ways: (a) sums over
different partitionings/orders differ in the last ulp, and (b) ``ROUND`` on
doubles disagrees between engines near decimal ties (Spark rounds the exact
binary expansion HALF_UP; DuckDB rounds the shortest decimal repr), which
money math hits constantly (2-decimal inputs * 0.05 => exact x.xx5 ties).

Conventions used by every registered query and its oracle:

* **money columns** (2-decimal business values) are cast to DECIMAL(18,2)
  before any arithmetic/aggregation — sums are exact, decimal ROUND is
  HALF-AWAY-FROM-ZERO in both engines, and the final CAST to DOUBLE is
  exact-value conversion (deterministic).
* **averages** are computed as CAST(exact decimal sum AS DOUBLE) / COUNT —
  one deterministic double division instead of engine-specific AVG.
* **per-row ratio/arithmetic outputs** stay RAW doubles, never rounded:
  identical expression trees produce bit-identical IEEE results in both
  engines; it's ROUND that introduces divergence.

At 100 TB this is also the *performance*-correct choice: decimal sums avoid
the non-associativity that makes double aggregation nondeterministic across
retries/partitionings (silent result instability under AQE re-planning).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def money(col: Column | str) -> Column:
    return (F.col(col) if isinstance(col, str) else col).cast(MONEY)


def money_sum(col: Column | str) -> Column:
    """Exact sum of a 2-decimal column, returned as double."""
    return F.sum(money(col)).cast("double")


def money_avg(col: Column | str) -> Column:
    """Deterministic mean: exact decimal sum, one double division."""
    return F.sum(money(col)).cast("double") / F.count(F.lit(1))


# --- SQL mirrors for DuckDB oracles -------------------------------------


def sql_money(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(18,2))"


def sql_money_sum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


def sql_money_avg(expr: str) -> str:
    return f"(CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))"
