"""Time-series statistics (SURVEY.md §2.4 A1/A2).

Reference semantics (``xcube_server/controllers/time_series.py:121-203``):
for each time step over a masked region emit
``{totalCount, validCount, average}`` where NaN cells are excluded from both
count and mean, and an all-NaN step yields ``validCount: 0, average: None``.

With NaN normalized to NULL at ingest (our core decision, SURVEY §7.3-1),
Spark's built-in ``avg``/``count`` implement exactly this: both skip NULLs,
and ``avg`` of an all-NULL group IS NULL. One groupBy('time') shuffle whose
cardinality is the number of timesteps — trivially small at any data scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def masked_mean_per_step(
    df: DataFrame,
    time_col: str,
    value_col: str | Column,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """A1/A2 — per-timestep mean + valid count + total count of a variable."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    return df.groupBy(F.col(time_col), *(extra_keys or [])).agg(
        F.count(F.lit(1)).alias("total_count"),
        F.count(v).alias("valid_count"),
        F.avg(v).alias("average"),
    )
