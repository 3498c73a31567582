"""Engine-agnostic helpers shared by the Spark plans and their DuckDB oracles.

Float results that cross the Spark/DuckDB comparison boundary are rounded with
an explicit floor-based formula (identical IEEE-754 evaluation in both
engines) instead of round(): DuckDB's round() returns DECIMAL and the two
engines disagree on half-way tie behavior.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def r4(col: Column) -> Column:
    """Deterministic 4-decimal rounding: floor(x*10000 + 0.5) / 10000."""
    return F.floor(col * F.lit(10000) + F.lit(0.5)) / F.lit(10000)


def sql_r4(expr: str) -> str:
    """r4() as SQL text: the DuckDB oracles' mirror, and the Spark SQL-text
    column builders' r4 (Spark parses 0.5 as a decimal literal, casts it to
    double and folds the cast, so the optimized expression is r4's)."""
    return f"floor(({expr}) * 10000 + 0.5) / 10000"
