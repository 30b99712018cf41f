"""Geometry → grid-cell mask rasterization (SURVEY.md §2.3 J1 prerequisite).

The reference rasterizes the query polygon onto the variable grid with
``rasterio.features.geometry_mask(..., all_touched=True, invert=True)``
(``xcube_server/utils.py:73-83``). rasterio/shapely are not available here,
so this is a self-contained numpy implementation with the same contract:

- *all_touched*: a cell is in the mask if the geometry touches any part of
  the cell, not just its center — interior cells via even-odd scanline over
  cell centers, boundary cells by sampling each polygon edge at quarter-cell
  steps. The samples of all edges are indexed in one numpy pass with
  ``GridMeta.contains`` / ``lat_idx_of`` / ``lon_idx_of``'s arithmetic.
  Exact for rectilinear polygons (the golden-test shapes);
  conservative-correct for slanted edges.

The mask is produced on the driver over the *bbox-clipped index window*
(small by construction — the reference does the same clip first,
``controllers/time_series.py:166-175``). The time-series driver read
(``timeseries._window_series``) selects its rows with it; only the Spark
fallback, ``timeseries._series_plan``, broadcasts it for a join.
"""

from __future__ import annotations

import numpy as np

from .grid import GridMeta

Geometry = dict  # GeoJSON geometry dict


def _poly_rings(geom: Geometry) -> list[list[list[tuple[float, float]]]]:
    """Normalize Polygon/MultiPolygon to a list of polygons (list of rings)."""
    t = geom["type"]
    if t == "Polygon":
        return [geom["coordinates"]]
    if t == "MultiPolygon":
        return list(geom["coordinates"])
    raise ValueError(f"cannot rasterize geometry type {t!r}")


def geometry_bbox(geom: Geometry) -> tuple[float, float, float, float]:
    t = geom["type"]
    if t == "Point":
        x, y = geom["coordinates"][:2]
        return (x, y, x, y)
    pts: list[tuple[float, float]] = []
    if t in ("Polygon", "MultiPolygon"):
        for poly in _poly_rings(geom):
            for ring in poly:
                pts.extend((p[0], p[1]) for p in ring)
    elif t == "LineString":
        pts = [(p[0], p[1]) for p in geom["coordinates"]]
    elif t == "MultiPoint":
        pts = [(p[0], p[1]) for p in geom["coordinates"]]
    else:
        raise ValueError(f"unsupported geometry type {t!r}")
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    return (min(xs), min(ys), max(xs), max(ys))


def _points_in_ring(
    px: np.ndarray, py: np.ndarray, ring: list[tuple[float, float]]
) -> np.ndarray:
    """Vectorized even-odd ray casting for many probe points vs one ring."""
    inside = np.zeros(px.shape, dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i][0], ring[i][1]
        x2, y2 = ring[(i + 1) % n][0], ring[(i + 1) % n][1]
        if y1 == y2:
            continue
        crosses = ((y1 > py) != (y2 > py)) & (
            px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
        )
        inside ^= crosses
    return inside


def points_in_geometry(
    px: np.ndarray, py: np.ndarray, geom: Geometry
) -> np.ndarray:
    """Point-in-polygon (even-odd over all rings; holes subtract)."""
    result = np.zeros(px.shape, dtype=bool)
    for poly in _poly_rings(geom):
        in_poly = _points_in_ring(px, py, poly[0])
        for hole in poly[1:]:
            in_poly &= ~_points_in_ring(px, py, hole)
        result |= in_poly
    return result


def rasterize_mask(
    geom: Geometry, grid: GridMeta, all_touched: bool = True
) -> np.ndarray:
    """(lat_idx, lon_idx) int array of masked cells, shape (n, 2).

    Clips to the geometry bbox window first (P4), then marks interior cells
    (center-in-polygon) and — for ``all_touched`` — every cell a boundary
    edge passes through.
    """
    west, south, east, north = geometry_bbox(geom)
    i0, i1 = sorted((grid.lat_idx_of(north), grid.lat_idx_of(south)))
    j0, j1 = grid.lon_idx_of(west), grid.lon_idx_of(east)
    rows, cols = np.arange(i0, i1 + 1), np.arange(j0, j1 + 1)
    jj, ii = np.meshgrid(cols, rows)
    px, py = np.meshgrid(grid.lon_of(cols), grid.lat_of(rows))
    mask = points_in_geometry(px, py, geom)

    if all_touched:
        # Mark every cell each edge passes through (DDA-style sampling at
        # quarter-cell resolution — conservative for all_touched parity):
        # the samples of all edges are kept and indexed as one array, with
        # GridMeta.contains / lat_idx_of / lon_idx_of's arithmetic.
        gw, gs, ge, gn = grid.extent
        step = min(grid.res_lon, grid.res_lat) / 4.0
        exs, eys = [], []
        for poly in _poly_rings(geom):
            for ring in poly:
                for k in range(len(ring)):
                    x1, y1 = ring[k][0], ring[k][1]
                    x2, y2 = ring[(k + 1) % len(ring)][0], ring[(k + 1) % len(ring)][1]
                    length = max(abs(x2 - x1), abs(y2 - y1))
                    n = max(int(length / step) + 1, 2)
                    ts = np.linspace(0.0, 1.0, n)
                    exs.append(x1 + ts * (x2 - x1))
                    eys.append(y1 + ts * (y2 - y1))
        ex, ey = np.concatenate(exs), np.concatenate(eys)
        on = (gw <= ex) & (ex <= ge) & (gs <= ey) & (ey <= gn)
        ex, ey = ex[on], ey[on]
        if grid.inv_y:
            ei = np.floor((ey - gs) / grid.res_lat)
        else:
            ei = np.floor((gn - ey) / grid.res_lat)
        ei = np.clip(ei.astype(np.int64), 0, grid.height - 1)
        ej = np.floor((ex - gw) / grid.res_lon)
        ej = np.clip(ej.astype(np.int64), 0, grid.width - 1)
        hit = (i0 <= ei) & (ei <= i1) & (j0 <= ej) & (ej <= j1)
        mask[ei[hit] - i0, ej[hit] - j0] = True

    sel = mask.reshape(-1)
    return np.stack([ii.reshape(-1)[sel], jj.reshape(-1)[sel]], axis=1)
