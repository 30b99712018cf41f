"""Cube time-series queries (SURVEY.md §3.2; M1/M2 of the build plan).

Reference entry points:
- point TS: ``get_time_series_for_point`` —
  ``xcube_server/controllers/time_series.py:121-145``
- geometry TS: ``_get_time_series_for_geometry`` — ``:148-205``
- collection fan-out: ``:208-219``

Every route is one list of cell masks (a point's nearest cell, P5; a
polygon's all-touched mask, J1; one mask per fan-out member, U2) answered
per step as ``{totalCount, validCount, average}`` (A1/A2), two ways:

- **Driver read** (``local_series_for_*``): one pyarrow read of each
  mask's bounding window over the steps of level 0 within the date bounds
  (``CubeCatalog.read_windows``, stored and computed cubes alike), then
  per-step counts and means over the mask cells with numpy. No Spark job;
  the latency class of the reference's in-process window reads. It
  declines (returns None) when that read does: object-store cubes, and
  reads over its row budget, which bounds a request's driver memory.
- **Spark plan** (``time_series_for_*``, all one ``_series_plan``): what
  the driver read declines; also the reference it is tested against and
  what the query registry runs. The scan is filtered to the index box of
  all mask cells, a ``between`` on ``lat_idx``/``lon_idx`` pushed into
  parquet (for a point a one-cell box, pruning row groups as an equality
  would), and to the ``time_idx`` partitions of the steps within the date
  bounds; the mask is broadcast and joined, so the cube side never
  shuffles; the one shuffle is ``masked_mean_per_step``'s aggregate.

Both give a row only for steps with stored rows, in time order, dated as
``iso_ts`` prints them; ``total_count`` is the mask size on the
``/geometry`` route and the rows found on the point and fan-out routes;
``startDate``/``endDate`` are inclusive.

Known reference inconsistency (SURVEY.md §7.3-2): the reference's polygon
``average`` is computed over the *bbox* subset while ``validCount`` counts
the *masked* subset (``time_series.py:191-193``). We implement the
consistent masked semantics for both and document the divergence here.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.scalars import iso_ts
from ..operators.timeseries import masked_mean_per_step
from .catalog import CubeCatalog, window_filter
from .computed import step_codes
from .grid import GridMeta, IndexWindow
from .rasterize import Geometry, geometry_bbox, rasterize_mask
from .reqparams import to_datetime

_NO_CELLS = np.empty((0, 2), dtype=np.int64)
_EPOCH = dt.datetime(1970, 1, 1)


def _point_cells(grid: GridMeta, lon: float, lat: float) -> np.ndarray:
    """The (lat_idx, lon_idx) cell nearest a point, none outside the grid
    (P7 short-circuit, ``time_series.py:126-128``)."""
    if not grid.contains(lon, lat):
        return _NO_CELLS
    return np.array([[grid.lat_idx_of(lat), grid.lon_idx_of(lon)]])


def _geometry_cells(grid: GridMeta, geometry: Geometry) -> np.ndarray:
    """A geometry's mask: a point's cell, else the all-touched mask; none,
    without rasterizing, when the bbox misses the grid (P4)."""
    if geometry["type"] == "Point":
        return _point_cells(grid, *geometry["coordinates"][:2])
    west, south, east, north = geometry_bbox(geometry)
    gw, gs, ge, gn = grid.extent
    if east < gw or west > ge or north < gs or south > gn:
        return _NO_CELLS
    return rasterize_mask(geometry, grid)


# -- the two plans over a list of cell masks ------------------------------


def _box(cells: np.ndarray) -> IndexWindow:
    """The index window enclosing ``cells``; an empty one when there are
    none."""
    (i0, j0), (i1, j1) = (
        cells.min(axis=0, initial=np.iinfo(np.int32).max),
        cells.max(axis=0, initial=-1),
    )
    return (int(i0), int(i1) + 1), (int(j0), int(j1) + 1)


def _micros(value: str) -> int:
    """A ``startDate``/``endDate`` bound in epoch microseconds (UTC)."""
    return int(np.datetime64(to_datetime("date", value), "us").astype(np.int64))


def _iso_second(micros: int) -> str:
    """``iso_ts``: rounded half up to the second, ``Z`` suffix."""
    seconds = (micros + 500_000) // 1_000_000
    return (_EPOCH + dt.timedelta(seconds=seconds)).isoformat() + "Z"


def _steps_between(
    catalog: CubeCatalog, ds_id: str, start: str | None, end: str | None
) -> list[int] | None:
    """The steps whose rows ``startDate``/``endDate`` may keep (every step
    when both are None), from the time axis: a superset of what the row
    filter on ``time`` keeps. A label names its step's time to the second,
    so each bound widens by one second."""
    if start is None and end is None:
        return None
    lo = -np.inf if start is None else _micros(start) - 1_000_000
    hi = np.inf if end is None else _micros(end) + 1_000_000
    return [
        k for k, t in enumerate(catalog.times(ds_id)) if lo <= _micros(t) <= hi
    ]


def _window_series(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    masks: list[np.ndarray],
    start: str | None,
    end: str | None,
) -> list[list[dict]] | None:
    """Per-mask rows ``{date, total_count, valid_count, average}`` from one
    driver read of the masks' bounding windows over the steps of level 0
    that the date bounds may keep (``_steps_between``), ``total_count``
    being the rows found; the exact bounds then filter the rows on
    ``time``. None when the driver read declines."""
    boxes = [_box(m) for m in masks]
    windows = [b for b, m in zip(boxes, masks) if len(m)]
    if not windows:
        return [[] for _ in masks]
    steps = _steps_between(catalog, ds_id, start, end)
    if steps == []:
        return [[] for _ in masks]
    table = catalog.read_windows(
        ds_id, ["time", "lat_idx", "lon_idx", var], windows, steps=steps
    )
    if table is None:
        return None
    when = (
        table.column("time").to_numpy().astype("datetime64[us]").astype(np.int64)
    )
    keep = np.ones(len(when), dtype=bool)
    if start is not None:
        keep &= when >= _micros(start)
    if end is not None:
        keep &= when <= _micros(end)
    times, step_of = step_codes(when)
    lat_idx = table.column("lat_idx").to_numpy()
    lon_idx = table.column("lon_idx").to_numpy()
    column = table.column(var)
    valid = pc.is_valid(column).to_numpy()
    values = pc.fill_null(column, 0).to_numpy().astype(np.float64)
    out = []
    for m, ((i0, i1), (j0, j1)) in zip(masks, boxes):
        hit = np.zeros(len(when), dtype=bool)
        if len(m):
            inside = np.zeros((i1 - i0, j1 - j0), dtype=bool)
            inside[m[:, 0] - i0, m[:, 1] - j0] = True
            rows = np.flatnonzero(
                keep
                & (lat_idx >= i0) & (lat_idx < i1)
                & (lon_idx >= j0) & (lon_idx < j1)
            )
            hit[rows] = inside[lat_idx[rows] - i0, lon_idx[rows] - j0]
        ok = hit & valid
        total = np.bincount(step_of[hit], minlength=len(times))
        n_valid = np.bincount(step_of[ok], minlength=len(times))
        sums = np.bincount(step_of[ok], weights=values[ok], minlength=len(times))
        out.append([
            {
                "date": _iso_second(int(times[k])),
                "total_count": int(total[k]),
                "valid_count": int(n_valid[k]),
                "average": float(sums[k] / n_valid[k]) if n_valid[k] else None,
            }
            for k in np.flatnonzero(total)
        ])
    return out


def _series_plan(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    masks: list[np.ndarray],
    start: str | None,
    end: str | None,
) -> DataFrame:
    """``_window_series``' rows as one Spark plan: ``{geometry_id, date,
    total_count, valid_count, average}`` per mask and step, ``total_count``
    being the rows found, ordered by mask and time. Like the driver read it
    keeps only the ``time_idx`` partitions of ``_steps_between``, then
    filters the rows on ``time``."""
    mask_df = catalog.spark.createDataFrame(
        [(gi, int(a), int(b)) for gi, m in enumerate(masks) for a, b in m],
        "geometry_id int, lat_idx int, lon_idx int",
    )
    box = _box(np.concatenate([_NO_CELLS, *masks]))
    df = catalog.cube(ds_id)
    steps = _steps_between(catalog, ds_id, start, end)
    if steps is not None:
        df = df.filter(F.col("time_idx").isin(steps))
    df = df.filter(window_filter([box])).join(
        broadcast(mask_df), ["lat_idx", "lon_idx"]
    )
    if start is not None:
        df = df.filter(F.col("time") >= F.to_timestamp(F.lit(start)))
    if end is not None:
        df = df.filter(F.col("time") <= F.to_timestamp(F.lit(end)))
    return (
        masked_mean_per_step(df, "time", var, ["geometry_id"])
        .orderBy("geometry_id", "time")
        .select(
            "geometry_id",
            iso_ts(F.col("time")).alias("date"),
            "total_count",
            "valid_count",
            "average",
        )
    )


# -- routes ----------------------------------------------------------------


def time_series_for_point(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    lon: float,
    lat: float,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame | None:
    """Point TS: the nearest cell's rows per step (P5 + P3 + A2).

    Returns None when the point is outside the dataset (P7 short-circuit,
    ``time_series.py:126-128``) — the API layer maps that to
    ``{'results': []}``.
    """
    cells = _point_cells(catalog.datasets[ds_id].grid, lon, lat)
    if len(cells) == 0:
        return None
    plan = _series_plan(catalog, ds_id, var, [cells], start, end)
    return plan.drop("geometry_id")


def time_series_for_geometry(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometry: Geometry,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame | None:
    """Geometry TS: rasterized mask (J1) + A1, ``total_count`` being the
    mask size (A6); None when the geometry misses the grid."""
    cells = _geometry_cells(catalog.datasets[ds_id].grid, geometry)
    if len(cells) == 0:
        return None
    return (
        _series_plan(catalog, ds_id, var, [cells], start, end)
        .drop("geometry_id")
        .withColumn("total_count", F.lit(len(cells)))
    )


def time_series_for_geometry_collection(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometries: list[Geometry],
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """U2 fan-out as ONE job, rows tagged with the member's ``geometry_id``
    — instead of the reference's sequential per-geometry loop
    (``time_series.py:208-219``)."""
    grid = catalog.datasets[ds_id].grid
    masks = [_geometry_cells(grid, g) for g in geometries]
    return _series_plan(catalog, ds_id, var, masks, start, end)


def local_series_for_point(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    lon: float,
    lat: float,
    start: str | None = None,
    end: str | None = None,
) -> list[dict] | None:
    """``time_series_for_point``'s rows from a driver read; None when the
    Spark plan must answer."""
    cells = _point_cells(catalog.datasets[ds_id].grid, lon, lat)
    rows = _window_series(catalog, ds_id, var, [cells], start, end)
    return None if rows is None else rows[0]


def local_series_for_geometry(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometry: Geometry,
    start: str | None = None,
    end: str | None = None,
) -> list[dict] | None:
    """``time_series_for_geometry``'s rows from a driver read; None when
    the Spark plan must answer."""
    cells = _geometry_cells(catalog.datasets[ds_id].grid, geometry)
    rows = _window_series(catalog, ds_id, var, [cells], start, end)
    if rows is None:
        return None
    for r in rows[0]:
        r["total_count"] = int(len(cells))  # A6 mask cardinality
    return rows[0]


def local_series_for_geometry_collection(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometries: list[Geometry],
    start: str | None = None,
    end: str | None = None,
) -> list[list[dict]] | None:
    """``time_series_for_geometry_collection``'s rows, one list per
    geometry, from a driver read; None when the Spark plan must answer."""
    grid = catalog.datasets[ds_id].grid
    masks = [_geometry_cells(grid, g) for g in geometries]
    return _window_series(catalog, ds_id, var, masks, start, end)
