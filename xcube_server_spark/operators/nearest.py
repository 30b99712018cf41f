"""As-of joins (SURVEY.md §2.3 J3).

The reference's ``sel(method='nearest')`` picks, per probe value, the row
whose coordinate is closest (``xcube_server/controllers/time_series.py:130``,
``xcube_server/controllers/tiles.py:77``). On a cube grid that is index
arithmetic (``GridMeta.lat_idx_of``/``lon_idx_of``); for many probes or a
stream the scalable form is the *as-of join*: union probes into the event
stream, sort per key, carry the last observed value forward with
``last(..., ignorenulls=True)``. One shuffle on the join key, no N×M blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.time <= left.time`` sharing key ``on``.

    Scale design: instead of an O(N*M) theta-join, union both sides tagged by
    origin, sort within each key by time, and carry right-side values forward
    with ``last(ignorenulls=True)`` over an unbounded-preceding window. Cost
    is ONE shuffle on the key — survives 100 TB where the correlated-subquery
    form (our DuckDB oracle) would not.
    """
    # Build explicit tagged union with aligned schemas.
    l_tag = left.withColumn("__t", F.col(left_time)).withColumn(
        "__is_left", F.lit(1)
    )
    for c in value_cols:
        l_tag = l_tag.withColumn(f"__r_{c}", F.lit(None).cast(right.schema[c].dataType))
    r_tag = right.select(
        F.col(on),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    for c in l_tag.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(l_tag.schema[c].dataType))
    unioned = l_tag.unionByName(r_tag.select(l_tag.columns))
    # Rights sort before lefts at equal timestamps => right.ts <= left.ts holds.
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        unioned = unioned.withColumn(
            f"__r_{c}", F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w)
        )
    out = unioned.filter(F.col("__is_left") == 1).drop("__is_left", "__t")
    for c in value_cols:
        out = out.withColumnRenamed(f"__r_{c}", f"asof_{c}")
    return out
