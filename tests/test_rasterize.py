"""``rasterize_mask`` against a frozen copy of its per-point edge walk.

The driver's all-touched rasterizer samples every polygon edge at
quarter-cell steps and marks the cell under each sample, in whole-array
numpy passes. ``_edge_walk_mask`` below is the earlier form of the same
function, which looked up each sample with ``GridMeta.contains`` /
``lat_idx_of`` / ``lon_idx_of`` one point at a time. The two must give
array-equal masks. The registry's oracle for ``cube_geometry_timeseries``
builds its mask with ``rasterize_mask`` itself, so it cannot catch a
changed mask; this test can.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from xcube_server_spark.cube.grid import GridMeta
from xcube_server_spark.cube.rasterize import (
    _poly_rings,
    geometry_bbox,
    points_in_geometry,
    rasterize_mask,
)

# the serving benchmark's demo grid: 1000 x 500 cells over 5 x 2.5 degrees
EXTENT = (0.0, 50.0, 5.0, 52.5)
GRIDS = [
    GridMeta(width=1000, height=500, extent=EXTENT),
    GridMeta(width=1000, height=500, extent=EXTENT, inv_y=True),
]
RES = 0.005


def _edge_walk_mask(geom, grid: GridMeta, all_touched: bool = True) -> np.ndarray:
    """The rasterizer as it was before its edge walk was vectorised: cell
    centres one ``lat_of``/``lon_of`` call at a time, and each edge sample
    tested and indexed one point at a time."""
    west, south, east, north = geometry_bbox(geom)
    i0, i1 = sorted((grid.lat_idx_of(north), grid.lat_idx_of(south)))
    j0, j1 = grid.lon_idx_of(west), grid.lon_idx_of(east)
    lat_c = np.array([grid.lat_of(i) for i in range(i0, i1 + 1)])
    lon_c = np.array([grid.lon_of(j) for j in range(j0, j1 + 1)])
    jj, ii = np.meshgrid(np.arange(j0, j1 + 1), np.arange(i0, i1 + 1))
    px, py = np.meshgrid(lon_c, lat_c)
    mask = points_in_geometry(px, py, geom)
    step = min(grid.res_lon, grid.res_lat) / 4.0
    for poly in _poly_rings(geom) if all_touched else []:
        for ring in poly:
            for k in range(len(ring)):
                x1, y1 = ring[k][0], ring[k][1]
                x2, y2 = ring[(k + 1) % len(ring)][0], ring[(k + 1) % len(ring)][1]
                length = max(abs(x2 - x1), abs(y2 - y1))
                n = max(int(length / step) + 1, 2)
                ts = np.linspace(0.0, 1.0, n)
                exs, eys = x1 + ts * (x2 - x1), y1 + ts * (y2 - y1)
                for ex, ey in zip(exs, eys):
                    if not grid.contains(ex, ey):
                        continue
                    ei, ej = grid.lat_idx_of(ey), grid.lon_idx_of(ex)
                    if i0 <= ei <= i1 and j0 <= ej <= j1:
                        mask[ei - i0, ej - j0] = True
    sel = mask.reshape(-1)
    return np.stack([ii.reshape(-1)[sel], jj.reshape(-1)[sel]], axis=1)


def _quad(rng: random.Random, half_cells: float, inside: bool = True) -> dict:
    """A slightly irregular quadrilateral about ``2 * half_cells`` cells
    across (the serving benchmark's polygon shape); ``inside=False`` lets
    its centre fall anywhere near the grid, so it may hang off an edge."""
    h = half_cells * RES
    if inside:
        cx = rng.uniform(EXTENT[0] + h * 1.2, EXTENT[2] - h * 1.2)
        cy = rng.uniform(EXTENT[1] + h * 1.2, EXTENT[3] - h * 1.2)
    else:
        cx = rng.uniform(EXTENT[0] - h, EXTENT[2] + h)
        cy = rng.uniform(EXTENT[1] - h, EXTENT[3] + h)
    j = h * 0.15

    def pt(sx, sy):
        return [round(cx + sx * h + rng.uniform(-j, j), 6),
                round(cy + sy * h + rng.uniform(-j, j), 6)]

    ring = [pt(-1, -1), pt(1, -1), pt(1, 1), pt(-1, 1)]
    return {"type": "Polygon", "coordinates": [ring + [ring[0]]]}


def _box(w, s, e, n) -> list[list[float]]:
    return [[w, s], [e, s], [e, n], [w, n], [w, s]]


def _assert_same(geom, grid, all_touched=True):
    got = rasterize_mask(geom, grid, all_touched)
    want = _edge_walk_mask(geom, grid, all_touched)
    assert got.dtype == want.dtype
    np.testing.assert_array_equal(got, want)
    return got


@pytest.mark.parametrize("grid", GRIDS, ids=["north_up", "inv_y"])
@pytest.mark.parametrize("half_cells", [10, 40, 100])
def test_benchmark_sized_quads_match_edge_walk(grid, half_cells):
    """Both modes: without ``all_touched`` the mask is the cell-centre test
    alone, which shows the cell centres exactly."""
    rng = random.Random(f"quads:{half_cells}:{grid.inv_y}")
    for _ in range(4):
        quad = _quad(rng, half_cells)
        assert len(_assert_same(quad, grid)) > 0
        _assert_same(quad, grid, all_touched=False)


@pytest.mark.parametrize("grid", GRIDS, ids=["north_up", "inv_y"])
def test_slivers_match_edge_walk(grid):
    """Quads 1-3 cells across, and thin slanted slivers, where only the
    edge samples mark cells."""
    rng = random.Random(f"slivers:{grid.inv_y}")
    for _ in range(40):
        _assert_same(_quad(rng, rng.choice([0.5, 1.0, 1.5])), grid)
    for _ in range(20):
        x, y = rng.uniform(0.5, 4.5), rng.uniform(50.5, 52.0)
        dx, dy = rng.uniform(-0.2, 0.2), rng.uniform(-0.2, 0.2)
        ring = [[x, y], [x + dx, y + dy], [x + dx + 0.001, y + dy], [x, y]]
        _assert_same({"type": "Polygon", "coordinates": [ring]}, grid)


@pytest.mark.parametrize("grid", GRIDS, ids=["north_up", "inv_y"])
def test_axis_aligned_edges_match_edge_walk(grid):
    """Horizontal and vertical edges, on cell boundaries (where the floor
    decides the cell) and between them, with float and int coordinates."""
    for w, s, e, n in [
        (1.0, 51.0, 2.0, 52.0),          # edges on cell boundaries
        (1.0025, 51.0025, 1.5025, 51.2525),  # edges through cell centres
        (0.0, 50.0, 5.0, 52.5),          # the whole grid
        (1, 51, 3, 52),                  # int coordinates
        (2.0, 51.0, 2.0, 51.5),          # a zero-width ring: one vertical line
        (1.0, 51.3, 4.0, 51.3),          # a zero-height ring: one horizontal line
        (5.0, 51.0, 5.0, 51.5),          # lines on the grid's east,
        (0.0, 51.0, 0.0, 51.5),          # west,
        (1.0, 52.5, 2.0, 52.5),          # north
        (1.0, 50.0, 2.0, 50.0),          # and south edge
    ]:
        _assert_same({"type": "Polygon", "coordinates": [_box(w, s, e, n)]}, grid)


@pytest.mark.parametrize("grid", GRIDS, ids=["north_up", "inv_y"])
def test_multipolygon_with_hole_matches_edge_walk(grid):
    geom = {
        "type": "MultiPolygon",
        "coordinates": [
            [_box(0.5, 50.5, 2.0, 52.0), _box(1.0, 51.0, 1.5, 51.5)],
            [[[3.0, 50.2], [4.1, 50.9], [3.4, 52.3], [3.0, 50.2]]],
        ],
    }
    mask = _assert_same(geom, grid)
    # the hole's interior is not in the mask, its boundary cells are
    cells = {tuple(c) for c in mask}
    assert (grid.lat_idx_of(51.25), grid.lon_idx_of(1.25)) not in cells
    assert (grid.lat_idx_of(51.0), grid.lon_idx_of(1.25)) in cells


@pytest.mark.parametrize("grid", GRIDS, ids=["north_up", "inv_y"])
def test_partly_off_grid_polygons_match_edge_walk(grid):
    """Samples off the grid are dropped and the bbox window is clamped to
    the grid, so cells along the grid's edge must still agree."""
    rng = random.Random(f"offgrid:{grid.inv_y}")
    for _ in range(25):
        _assert_same(_quad(rng, rng.choice([10, 40, 100]), inside=False), grid)
    for w, s, e, n in [(-1.0, 49.0, 0.7, 50.4), (4.5, 52.0, 6.0, 53.0),
                       (-0.5, 49.5, 5.5, 53.0)]:
        _assert_same({"type": "Polygon", "coordinates": [_box(w, s, e, n)]}, grid)


def test_coarse_and_non_square_grids_match_edge_walk():
    """Cells that are not square (the quarter-cell step follows the
    smaller side) and a grid with a non-zero origin."""
    rng = random.Random("coarse")
    for grid in [
        GridMeta(width=37, height=11, extent=(-10.0, -5.0, 30.0, 7.0)),
        GridMeta(width=37, height=11, extent=(-10.0, -5.0, 30.0, 7.0), inv_y=True),
    ]:
        for _ in range(30):
            x, y = rng.uniform(-12, 28), rng.uniform(-7, 5)
            ring = [[x, y], [x + rng.uniform(0.3, 9), y + rng.uniform(-2, 2)],
                    [x + rng.uniform(0, 5), y + rng.uniform(0.3, 4)], [x, y]]
            _assert_same({"type": "Polygon", "coordinates": [ring]}, grid)
