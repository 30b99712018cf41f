"""Grid + tile-grid metadata (driver-side pure Python).

The reference's ``TileGrid`` (``xcube_server/im/tilegrid.py:38-167``) plus
the multi-level sizing rule ``size[i+1] = (size[i]+1) // 2``
(``xcube_server/mldataset.py:15-26``). These are *metadata only* — they pick
which LOD table and which (lat_idx, lon_idx) window a tile query scans; no
Spark analog is needed (SURVEY.md §1.1).

Cubes we ingest ourselves construct the grid directly from
(width, height, tile_size) with the same level-sizing law. For stores that
arrive with arbitrary chunking (external NetCDF/zarr ingest), the
reference's ``pow2_2d_subdivision`` optimal-subdivision search
(``xcube_server/im/tilegrid.py:252-397``) lives in
``cube/subdivision.py``; ``TileGridMeta.create_adaptive`` below uses it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace

# cells i0 <= lat_idx < i1, j0 <= lon_idx < j1 as ((i0, i1), (j0, j1))
IndexWindow = tuple[tuple[int, int], tuple[int, int]]


def level_sizes(width: int, height: int, num_levels: int) -> list[tuple[int, int]]:
    """Per-level (w, h), level 0 = full resolution, following the reference's
    ``(s + 1) // 2`` halving (``xcube_server/mldataset.py:20-22``)."""
    out = [(width, height)]
    for _ in range(1, num_levels):
        w, h = out[-1]
        out.append(((w + 1) // 2, (h + 1) // 2))
    return out


@dataclass(frozen=True)
class TileGridMeta:
    """Tile pyramid geometry.

    ``num_levels`` levels; zoom z maps to LOD level ``num_levels - 1 - z``
    (``xcube_server/context.py:153-158``): z=0 is the coarsest zoom.
    """

    num_levels: int
    tile_width: int
    tile_height: int
    num_level_zero_tiles_x: int
    num_level_zero_tiles_y: int
    geo_extent: tuple[float, float, float, float]  # west, south, east, north
    inv_y: bool = False

    def num_tiles(self, z: int) -> tuple[int, int]:
        return (
            self.num_level_zero_tiles_x << z,
            self.num_level_zero_tiles_y << z,
        )

    def level_for_zoom(self, z: int) -> int:
        """LOD table index for a zoom (0 = native resolution)."""
        return self.num_levels - 1 - z

    @staticmethod
    def create(
        width: int,
        height: int,
        tile_size: int,
        geo_extent: tuple[float, float, float, float],
        inv_y: bool = False,
    ) -> "TileGridMeta":
        """Direct construction: halve until both dims fit one-ish tile."""
        num_levels = 1
        w, h = width, height
        while w > tile_size or h > tile_size:
            w, h = (w + 1) // 2, (h + 1) // 2
            num_levels += 1
        coarsest_w, coarsest_h = level_sizes(width, height, num_levels)[-1]
        return TileGridMeta(
            num_levels=num_levels,
            tile_width=tile_size,
            tile_height=tile_size,
            num_level_zero_tiles_x=max(1, math.ceil(coarsest_w / tile_size)),
            num_level_zero_tiles_y=max(1, math.ceil(coarsest_h / tile_size)),
            geo_extent=geo_extent,
            inv_y=inv_y,
        )


def _adjust_geo_extent(
    geo_extent: tuple[float, float, float, float],
    w_old: int, h_old: int, w_new: int, h_new: int, inv_y: bool,
) -> tuple[float, float, float, float]:
    """When the GE search padded the pyramid beyond the image, stretch the
    extent the way the reference does (``im/tilegrid.py:203-246``): east
    grows (wrapping the anti-meridian), and latitude grows AWAY from the
    anchored row — south when ``inv_y`` (row 0 is the top), north
    otherwise — because the padded pixels must sit at increasing indices."""
    lon1, lat1, lon2, lat2 = geo_extent
    delta_lon = (lon2 - lon1) if lon1 < lon2 else (360.0 + lon2 - lon1)
    delta_lat = lat2 - lat1
    if w_new > w_old:
        lon2 = lon1 + w_new * delta_lon / w_old
        if lon2 > 180.0:
            lon2 -= 360.0
    if h_new > h_old:
        delta_lat_new = h_new * delta_lat / h_old
        if inv_y:
            lat1 = lat2 - delta_lat_new
        else:
            lat2 = lat1 + delta_lat_new
    return lon1, lat1, lon2, lat2


def create_adaptive_tile_grid(
    width: int,
    height: int,
    geo_extent: tuple[float, float, float, float],
    tile_opt: int | None = None,
    inv_y: bool = False,
) -> TileGridMeta:
    """Tile grid for an externally-chunked store (O3): pick tile size and
    level count with the ``pow2_2d_subdivision`` search instead of
    assuming we chose the layout. Full parity with ``TileGrid.create``
    (``xcube_server/im/tilegrid.py:169-201``): optimum tile sizes clamp to
    the image (``min(w, tile_width or 256)`` — so an axis equal to its
    optimum short-circuits to one level), full-world axes use EXACT cover
    (no padding past the anti-meridian/poles), padded grids stretch the
    geo extent away from the anchored edge, and a stretch crossing a pole
    raises (``test/im/test_tilegrid.py::test_create_illegal_geo_extent``)."""
    from .subdivision import MODE_EQ, MODE_GE, pow2_2d_subdivision

    west, south, east, north = geo_extent
    w_mode = MODE_EQ if (west == -180.0 and east == 180.0) else MODE_GE
    h_mode = MODE_EQ if (south == -90.0 and north == 90.0) else MODE_GE
    (w_new, h_new), (tw, th), (nt0_x, nt0_y), nl = pow2_2d_subdivision(
        width, height, w_mode=w_mode, h_mode=h_mode,
        tw_opt=min(width, tile_opt or 256),
        th_opt=min(height, tile_opt or 256),
    )
    new_extent = _adjust_geo_extent(
        geo_extent, width, height, w_new, h_new, inv_y
    )
    if not (-90.0 <= new_extent[1] < new_extent[3] <= 90.0):
        raise ValueError(
            f"invalid geo_extent {new_extent}: padding the pyramid past "
            f"a pole — flip inv_y or supply a pole-clear extent"
        )
    return TileGridMeta(
        num_levels=nl,
        tile_width=tw,
        tile_height=th,
        num_level_zero_tiles_x=nt0_x,
        num_level_zero_tiles_y=nt0_y,
        geo_extent=new_extent,
        inv_y=inv_y,
    )


@dataclass(frozen=True)
class GridMeta:
    """Spatial/temporal grid of one cube: the ingest-time contract.

    lat row 0 is the northernmost row when ``inv_y`` is False (reference demo
    cube convention — lat descends in storage order, FIXTURES.md F-1).
    """

    width: int  # number of lon cells
    height: int  # number of lat cells
    extent: tuple[float, float, float, float]  # west, south, east, north
    inv_y: bool = False
    times: tuple[str, ...] = field(default=())

    @property
    def res_lon(self) -> float:
        west, _, east, _ = self.extent
        return (east - west) / self.width

    @property
    def res_lat(self) -> float:
        _, south, _, north = self.extent
        return (north - south) / self.height

    def lon_of(self, lon_idx: int) -> float:
        """Cell-centre longitude of a column index, or element-wise of a
        numpy array of them (same arithmetic, same floats)."""
        return self.extent[0] + (lon_idx + 0.5) * self.res_lon

    def lat_of(self, lat_idx: int) -> float:
        """Cell-centre latitude of a row index, or element-wise of a numpy
        array of them."""
        if self.inv_y:
            return self.extent[1] + (lat_idx + 0.5) * self.res_lat
        return self.extent[3] - (lat_idx + 0.5) * self.res_lat

    def lon_idx_of(self, lon: float) -> int:
        """Nearest-cell index for a longitude (xarray sel-nearest analog,
        clamped to the grid)."""
        i = int(math.floor((lon - self.extent[0]) / self.res_lon))
        return min(max(i, 0), self.width - 1)

    def lat_idx_of(self, lat: float) -> int:
        if self.inv_y:
            i = int(math.floor((lat - self.extent[1]) / self.res_lat))
        else:
            i = int(math.floor((self.extent[3] - lat) / self.res_lat))
        return min(max(i, 0), self.height - 1)

    def level(self, k: int) -> "GridMeta":
        """LOD level ``k``'s grid: the ``level_sizes`` halving applied ``k``
        times over the same extent and orientation."""
        width, height = level_sizes(self.width, self.height, k + 1)[k]
        return replace(self, width=width, height=height)

    def display_rows(self, rows):
        """Storage rows (``lat_idx``) as display rows (row 0 = north), for
        an int, a numpy/pandas array or a Spark ``Column``. The ``inv_y``
        flip undoes itself, so the same call maps display rows back."""
        return (self.height - 1) - rows if self.inv_y else rows

    def contains(self, lon: float, lat: float) -> bool:
        """P7 containment pre-filter
        (``xcube_server/controllers/time_series.py:126-128``)."""
        west, south, east, north = self.extent
        return west <= lon <= east and south <= lat <= north


def tile_window(
    grid: GridMeta, tile_grid: TileGridMeta, z: int, x: int, y: int
) -> tuple[int, IndexWindow]:
    """Tile (z, x, y) as its LOD level and the storage index window
    ``((i0, i1), (j0, j1))`` of its cells (half-open, the form
    ``CubeCatalog.read_windows`` takes). Tile rows count display rows, so
    on an ``inv_y`` grid the window's lat rows are flipped."""
    level = tile_grid.level_for_zoom(z)
    tw, th = tile_grid.tile_width, tile_grid.tile_height
    lg = grid.level(level)
    i0, i1 = sorted((lg.display_rows(y * th), lg.display_rows((y + 1) * th - 1)))
    return level, ((i0, i1 + 1), (x * tw, (x + 1) * tw))


def morton_interleave_expr(lat_col: str = "lat_idx", lon_col: str = "lon_idx",
                           bits: int = 16) -> str:
    """Z-order (Morton) curve expression for spatial clustering (SURVEY.md §4
    "spatial layout — Hilbert/space-filling or lat-band blocks").

    Interleaves the bits of (lat_idx, lon_idx) into one long: sorting or
    range-partitioning by this key keeps 2-D-adjacent cells adjacent in the
    file, so the part files' min/max stats (one row group per part file,
    ``write_cube``) prune BOTH dimensions of a bbox query — lat-band sorting
    alone only prunes latitude. Pure Catalyst expression (shift/or
    aggregate over bit positions), no UDF.
    """
    terms = []
    for b in range(bits):
        terms.append(
            f"(shiftleft(shiftright(CAST({lat_col} AS BIGINT), {b}) & 1, {2 * b + 1}))"
        )
        terms.append(
            f"(shiftleft(shiftright(CAST({lon_col} AS BIGINT), {b}) & 1, {2 * b}))"
        )
    return " | ".join(terms)


def morton_code(lat_idx: int, lon_idx: int, bits: int = 16) -> int:
    """Driver-side reference implementation (tests pin the SQL expression
    against this)."""
    out = 0
    for b in range(bits):
        out |= ((lat_idx >> b) & 1) << (2 * b + 1)
        out |= ((lon_idx >> b) & 1) << (2 * b)
    return out
