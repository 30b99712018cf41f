"""Spatial predicates (SURVEY.md §2.2 P4/P8/P10).

The reference clips a query geometry to a bbox index window
(``xcube_server/controllers/time_series.py:166-175``). Spark-first: a bbox
is a pure column predicate, pushed to parquet row-group pruning. The
polygon mask join (J1) is ``cube/timeseries._series_plan``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bbox_filter(
    df: DataFrame, lon_col: str, lat_col: str, bbox: tuple[float, float, float, float]
) -> DataFrame:
    """P4 — bounding-box filter ``(west, south, east, north)``.

    Plain ``BETWEEN`` predicates: Catalyst pushes them into the parquet scan
    where min/max row-group stats prune I/O — the distributed equivalent of
    the reference's ``isel`` index-window slicing. Handles antimeridian
    crossing (west > east) by splitting into a disjunction (P10,
    ``xcube_server/utils.py:56-70``).
    """
    west, south, east, north = bbox
    lat_pred = F.col(lat_col).between(south, north)
    if west <= east:
        lon_pred = F.col(lon_col).between(west, east)
    else:
        lon_pred = antimeridian_pred(F.col(lon_col), west, east)
    return df.filter(lon_pred & lat_pred)


def antimeridian_pred(lon: Column, west: float, east: float) -> Column:
    """P10 — bbox crossing the antimeridian becomes a disjunction
    ``lon >= west OR lon <= east`` (``xcube_server/utils.py:56-70``)."""
    return (lon >= F.lit(west)) | (lon <= F.lit(east))
