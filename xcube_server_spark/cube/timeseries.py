"""Cube time-series queries (SURVEY.md §3.2; M1/M2 of the build plan).

Reference entry points:
- point TS: ``get_time_series_for_point`` —
  ``xcube_server/controllers/time_series.py:121-145``
- geometry TS: ``_get_time_series_for_geometry`` — ``:148-205``
- collection fan-out: ``:208-219``

Two ways to answer, with the same rows:

- **Driver read** (``local_series_for_*``): for a stored cube with local
  files, one pyarrow read of each mask's bounding window over every
  ``time_idx`` partition of level 0 (``CubeCatalog.read_windows``), then
  per-step counts and means over the mask cells with numpy. No Spark job;
  the latency class of the reference's in-process window reads. It
  declines (returns None) for computed cubes, object-store cubes and
  windows over ``WINDOW_ROW_BUDGET`` rows, which bounds a request's driver
  memory.
- **Spark plans** (``time_series_for_*``): everything the driver read
  declines. They are also the reference the driver read is tested against,
  and what the query registry runs.
  - point: nearest grid index computed on the driver from grid metadata
    (P5 as index arithmetic — no window function, no shuffle), equality
    filter pushed into the parquet scan, groupBy('time') over ≤|timesteps|
    rows.
  - geometry: driver rasterizes the mask over the clipped window (J1), mask
    is broadcast, ``left_semi`` join + groupBy('time'). The only shuffle
    has |timesteps| cardinality regardless of cube size.

Both give a row only for steps with stored rows, in time order, dated as
``iso_ts`` prints them; ``total_count`` is the mask size for a polygon and
the rows found for a point or a fan-out member; ``startDate``/``endDate``
are inclusive.

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
from .catalog import CubeCatalog
from .grid import GridMeta
from .rasterize import Geometry, geometry_bbox, rasterize_mask
from .reqparams import to_datetime

# Most rows (window cells x time steps) a driver read may load, about 20 MB
# of columns; larger windows run the Spark plan.
WINDOW_ROW_BUDGET = 1_000_000

_NO_CELLS = np.empty((0, 2), dtype=np.int64)
_EPOCH = dt.datetime(1970, 1, 1)


def _point_cells(grid: GridMeta, lon: float, lat: float) -> np.ndarray:
    """The (lat_idx, lon_idx) cell nearest a point, none outside the grid
    (P7 short-circuit, ``time_series.py:126-128``)."""
    if not grid.contains(lon, lat):
        return _NO_CELLS
    return np.array([[grid.lat_idx_of(lat), grid.lon_idx_of(lon)]])


def _geometry_cells(grid: GridMeta, geometry: Geometry) -> np.ndarray:
    """All-touched mask of a non-point geometry; none, without rasterizing,
    when its bbox misses the grid (P4)."""
    west, south, east, north = geometry_bbox(geometry)
    gw, gs, ge, gn = grid.extent
    if east < gw or west > ge or north < gs or south > gn:
        return _NO_CELLS
    return rasterize_mask(geometry, grid)


def _member_cells(grid: GridMeta, geometries: list[Geometry]) -> list[np.ndarray]:
    """Cells of each fan-out member: a point's cell, or a polygon's mask."""
    out = []
    for geom in geometries:
        if geom["type"] == "Point":
            x, y = geom["coordinates"][:2]
            out.append(_point_cells(grid, x, y))
        else:
            out.append(rasterize_mask(geom, grid))
    return out


def _ts_agg(df: DataFrame, var: str, total_count=None) -> DataFrame:
    """A1/A2 shape: {time, totalCount, validCount, average} per step."""
    total = total_count if total_count is not None else F.count(F.lit(1))
    return (
        df.groupBy("time")
        .agg(
            total.alias("total_count"),
            F.count(var).alias("valid_count"),
            F.avg(var).alias("average"),
        )
        .orderBy("time")
        .select(
            iso_ts(F.col("time")).alias("date"),
            "total_count",
            "valid_count",
            "average",
        )
    )


def time_series_for_point(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    lon: float,
    lat: float,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame | None:
    """Point TS: P5 nearest-index select + P3 time slice + A2 aggregate.

    Returns None when the point is outside the dataset (P7 short-circuit,
    ``time_series.py:126-128``) — the API layer maps that to
    ``{'results': []}``.
    """
    cells = _point_cells(catalog.datasets[ds_id].grid, lon, lat)
    if len(cells) == 0:
        return None
    i, j = cells[0].tolist()
    df = catalog.cube(ds_id).filter(
        (F.col("lat_idx") == i) & (F.col("lon_idx") == j)
    )
    if start is not None:
        df = df.filter(F.col("time") >= F.to_timestamp(F.lit(start)))
    if end is not None:
        df = df.filter(F.col("time") <= F.to_timestamp(F.lit(end)))
    return _ts_agg(df.select("time", var), var)


def time_series_for_geometry(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometry: Geometry,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame | None:
    """Geometry TS: bbox clip (P4) + rasterized mask semi-join (J1) + A1.

    The mask DataFrame carries only (lat_idx, lon_idx) — thousands of rows —
    and is broadcast: the cube side never shuffles.
    """
    if geometry["type"] == "Point":
        x, y = geometry["coordinates"][:2]
        return time_series_for_point(catalog, ds_id, var, x, y, start, end)
    cells = _geometry_cells(catalog.datasets[ds_id].grid, geometry)
    if len(cells) == 0:
        return None
    total_count = int(len(cells))  # A6 mask cardinality (mask_df.count())
    mask_df = catalog.spark.createDataFrame(
        [(int(a), int(b)) for a, b in cells], "lat_idx int, lon_idx int"
    )
    df = catalog.cube(ds_id).join(
        broadcast(mask_df), ["lat_idx", "lon_idx"], "left_semi"
    )
    if start is not None:
        df = df.filter(F.col("time") >= F.to_timestamp(F.lit(start)))
    if end is not None:
        df = df.filter(F.col("time") <= F.to_timestamp(F.lit(end)))
    return _ts_agg(df.select("time", var), var, total_count=F.lit(total_count))


def time_series_for_geometry_collection(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    geometries: list[Geometry],
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """U2 fan-out as ONE job: union all masks tagged with geometry_id and
    group by (geometry_id, time) — instead of the reference's sequential
    per-geometry loop (``time_series.py:208-219``)."""
    rows = [
        (gi, int(a), int(b))
        for gi, cells in enumerate(
            _member_cells(catalog.datasets[ds_id].grid, geometries)
        )
        for a, b in cells
    ]
    mask_df = catalog.spark.createDataFrame(
        rows, "geometry_id int, lat_idx int, lon_idx int"
    )
    df = catalog.cube(ds_id).join(
        broadcast(mask_df), ["lat_idx", "lon_idx"], "inner"
    )
    if start is not None:
        df = df.filter(F.col("time") >= F.to_timestamp(F.lit(start)))
    if end is not None:
        df = df.filter(F.col("time") <= F.to_timestamp(F.lit(end)))
    return (
        df.groupBy("geometry_id", "time")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.count(var).alias("valid_count"),
            F.avg(var).alias("average"),
        )
        .orderBy("geometry_id", "time")
        .select(
            "geometry_id",
            iso_ts(F.col("time")).alias("date"),
            "total_count",
            "valid_count",
            "average",
        )
    )


# -- driver read -----------------------------------------------------------


def _micros(value: str) -> int:
    """A ``startDate``/``endDate`` bound in epoch microseconds (UTC)."""
    return int(np.datetime64(to_datetime("date", value), "us").astype(np.int64))


def _iso_second(micros: int) -> str:
    """``iso_ts``: rounded half up to the second, ``Z`` suffix."""
    seconds = (micros + 500_000) // 1_000_000
    return (_EPOCH + dt.timedelta(seconds=seconds)).isoformat() + "Z"


def _window_series(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    masks: list[np.ndarray],
    start: str | None,
    end: str | None,
) -> list[list[dict]] | None:
    """Per-mask rows ``{date, total_count, valid_count, average}`` from one
    driver read of the masks' bounding windows over every step of level 0,
    ``total_count`` being the rows found. None when the driver read
    declines: no local files, or more than ``WINDOW_ROW_BUDGET`` rows."""
    windows = [
        ((int(m[:, 0].min()), int(m[:, 0].max()) + 1),
         (int(m[:, 1].min()), int(m[:, 1].max()) + 1))
        for m in masks if len(m)
    ]
    if not windows:
        return [[] for _ in masks]
    steps = max(1, len(catalog.datasets[ds_id].grid.times))
    cells = sum((i1 - i0) * (j1 - j0) for (i0, i1), (j0, j1) in windows)
    if cells * steps > WINDOW_ROW_BUDGET:
        return None
    table = catalog.read_windows(
        ds_id, ["time", "lat_idx", "lon_idx", var], windows
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
    times, step_of = np.unique(when, return_inverse=True)
    lat_idx = table.column("lat_idx").to_numpy()
    lon_idx = table.column("lon_idx").to_numpy()
    column = table.column(var)
    valid = pc.is_valid(column).to_numpy()
    values = pc.fill_null(column, 0).to_numpy().astype(np.float64)
    out = []
    for m in masks:
        hit = np.zeros(len(when), dtype=bool)
        if len(m):
            i0, j0 = m.min(axis=0)
            shape = m.max(axis=0) - (i0, j0) + 1
            inside = np.zeros(shape, dtype=bool)
            inside[m[:, 0] - i0, m[:, 1] - j0] = True
            rows = np.flatnonzero(
                keep
                & (lat_idx >= i0) & (lat_idx < i0 + shape[0])
                & (lon_idx >= j0) & (lon_idx < j0 + shape[1])
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
    if geometry["type"] == "Point":
        x, y = geometry["coordinates"][:2]
        return local_series_for_point(catalog, ds_id, var, x, y, start, end)
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
    masks = _member_cells(catalog.datasets[ds_id].grid, geometries)
    return _window_series(catalog, ds_id, var, masks, start, end)


def time_series_for_points(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    points: list[tuple[float, float]],
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """Batched point probes — J3's "many points × cube" generalization
    (SURVEY.md §2.3): N nearest-cell lookups become ONE broadcast equi-join
    on rounded indices instead of N sequential jobs. Out-of-grid points are
    dropped (P7 per probe).

    Output: one row per (point_id, time) with the A2 stats shape.
    """
    meta = catalog.datasets[ds_id]
    probes = [
        (pid, meta.grid.lat_idx_of(lat), meta.grid.lon_idx_of(lon))
        for pid, (lon, lat) in enumerate(points)
        if meta.grid.contains(lon, lat)
    ]
    probe_df = catalog.spark.createDataFrame(
        probes, "point_id int, lat_idx int, lon_idx int"
    )
    df = catalog.cube(ds_id).join(
        broadcast(probe_df), ["lat_idx", "lon_idx"], "inner"
    )
    if start is not None:
        df = df.filter(F.col("time") >= F.to_timestamp(F.lit(start)))
    if end is not None:
        df = df.filter(F.col("time") <= F.to_timestamp(F.lit(end)))
    return (
        df.groupBy("point_id", "time")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.count(var).alias("valid_count"),
            F.avg(var).alias("average"),
        )
        .orderBy("point_id", "time")
        .select(
            "point_id",
            iso_ts(F.col("time")).alias("date"),
            "total_count",
            "valid_count",
            "average",
        )
    )
