"""Order-independent float aggregation helpers shared by the registry
and the event/stream operators.

Policy (see kgp/queries.py module docstring): any aggregated double is
summed as DECIMAL (exact, order-independent) and only then cast back to
double and rounded, so Spark's partial-aggregation summation order can
never flip a rounded digit vs the DuckDB oracle's single-threaded sum.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# DECIMAL(18, DECSUM_SCALE) accumulation, rounded to DECSUM_ROUND_TO digits
DECSUM_SCALE, DECSUM_ROUND_TO = 4, 2


def decsum(col: str | F.Column, alias: str, scale: int = DECSUM_SCALE,
           round_to: int = DECSUM_ROUND_TO) -> F.Column:
    """Exact DECIMAL(18, scale) accumulation, double out, rounded."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(f"decimal(18,{scale})")).cast("double"), round_to).alias(alias)


def decsum_sql(expr: str, alias: str, scale: int = DECSUM_SCALE,
               round_to: int = DECSUM_ROUND_TO) -> str:
    return f"ROUND(SUM(({expr})::DECIMAL(18,{scale}))::DOUBLE, {round_to}) AS {alias}"
