"""Tile rendering (SURVEY.md §3.1; §2.9 T1-T9; M3 of the build plan).

Reference pipeline per tile: slice window → mask → clip/normalize → colormap
→ PNG (``xcube_server/controllers/tiles.py:23-142``; the fused mode-1 kernel
``xcube_server/im/tiledimage.py:514-635``).

``TileService`` serves one tile: zoom → LOD level (P2), nearest time step
(P6) from catalog metadata, tile (x, y) → storage index window
(``grid.tile_window``), then the driver read of that window
(``CubeCatalog.read_windows``, stored and computed datasets alike) and ONE
fused render, the moral equivalent of the reference's fused numba kernel
(T5), emitting PNG bytes (S9, pure-python encoder). A byte cache (T9) keyed
on the step's source sits in front.

``render_tiles`` is the Spark plan of the same render and the scalable
batch form: ALL tiles of a zoom level in one job, window filter
(``catalog.window_filter``, pushed into the parquet scan, which skips the
part files whose min/max miss it), then an
``applyInPandas`` render grouped by (tile_y, tile_x) — this is how a
pre-warm/export job renders millions of tiles without per-tile job
overhead. A single tile renders through it only when the driver read
declines.
"""

from __future__ import annotations

import datetime as _dt
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.colormap import DEFAULT_CMAP, apply_cmap
from ..sources.png import encode_rgba_png
from .cache import ByteCache
from .catalog import CubeCatalog, StyleMeta, window_filter
from .grid import tile_window


def _nearest_time(times: list[str], probe: str | None) -> tuple[int, str]:
    """P6 extra-dim binding (``xcube_server/context.py:420-451``):
    None → first slice, 'current' → last, else nearest timestamp."""
    if probe is None:
        return 0, times[0]
    if probe == "current":
        return len(times) - 1, times[-1]
    try:
        p = _dt.datetime.fromisoformat(probe)
    except ValueError:
        # reference wording (controllers/tiles.py via context.py:420-451;
        # pinned by test_get_dataset_tile_with_time_dim): callers append
        # the variable/dataset context
        raise ValueError(
            f"{probe!r} is not a valid value for dimension 'time'"
        ) from None
    deltas = [
        abs((_dt.datetime.fromisoformat(t) - p).total_seconds()) for t in times
    ]
    i = int(np.argmin(deltas))  # ties → lower index, xarray 'nearest' parity
    return i, times[i]


def _render_pdf_factory(
    tile_w: int, tile_h: int, vmin: float, vmax: float, cmap: str, var: str,
):
    """Build the applyInPandas body: rows of one tile → one PNG row.

    Rows arrive with a ``disp_row`` column already in DISPLAY space (row 0 =
    north; for inv_y grids that is ``H_level - 1 - lat_idx`` — the T3 flip,
    ``xcube_server/im/tiledimage.py:329-415``, applied as index arithmetic
    so tile assignment and in-tile placement agree even on partially-filled
    edge tiles). Missing cells become NaN pixels (T8 trim_tile padding,
    ``xcube_server/im/tiledimage.py:1058-1084``) and render transparent.
    """

    def render(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        arr = np.full((tile_h, tile_w), np.nan, dtype=np.float64)
        ri = pdf["disp_row"].to_numpy() - ty * tile_h
        rj = pdf["lon_idx"].to_numpy() - tx * tile_w
        vals = pdf[var].astype("float64").to_numpy()
        ok = (ri >= 0) & (ri < tile_h) & (rj >= 0) & (rj < tile_w)
        arr[ri[ok], rj[ok]] = vals[ok]
        rgba = apply_cmap(arr, vmin, vmax, cmap)
        png = encode_rgba_png(rgba)
        # Pre-encode RGBA checksum: sum of packed r<<24|g<<16|b<<8|a over the
        # tile. NaN/missing pixels are (0,0,0,0) and contribute 0, so the sum
        # equals a SQL aggregate over only the valid cells — this is what lets
        # the driver value-check the whole T1-T5 render chain (clip, normalize,
        # LUT index, flip, tile assignment) without PNG bytes being
        # SQL-expressible (VERDICT r04 item 1).
        p = rgba.astype(np.int64)
        rgba_sum = int(
            (
                (p[..., 0] << 24) + (p[..., 1] << 16) + (p[..., 2] << 8) + p[..., 3]
            ).sum()
        )
        return pd.DataFrame(
            {"tile_y": [ty], "tile_x": [tx], "png": [png], "rgba_sum": [rgba_sum]}
        )

    return render


def render_tiles(
    catalog: CubeCatalog,
    ds_id: str,
    var: str,
    z: int,
    time: str | None = None,
    style: StyleMeta | None = None,
    tiles: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Render tiles of one zoom level/time slice as a DataFrame
    (tile_y, tile_x, png binary). ``tiles=None`` renders the full level."""
    meta = catalog.datasets[ds_id]
    tg = meta.tile_grid
    level = tg.level_for_zoom(z)
    t_idx, _ = _nearest_time(catalog.times(ds_id), time)
    st = style or meta.styles.get(var) or StyleMeta()
    vmin, vmax = st.value_range

    df = catalog.cube(ds_id, level, t_idx)
    if tiles is not None:
        df = df.filter(window_filter(
            [tile_window(meta.grid, tg, z, x, y)[1] for x, y in tiles]
        ))
    tw, th = tg.tile_width, tg.tile_height
    disp = meta.grid.level(level).display_rows(F.col("lat_idx"))
    df = df.select("lat_idx", "lon_idx", var, disp.alias("disp_row"))
    df = df.withColumn("tile_y", (F.col("disp_row") / th).cast("int")).withColumn(
        "tile_x", (F.col("lon_idx") / tw).cast("int")
    )
    return df.groupBy("tile_y", "tile_x").applyInPandas(
        _render_pdf_factory(tw, th, vmin, vmax, st.color_bar, var),
        "tile_y int, tile_x int, png binary, rgba_sum long",
    )


class TileService:
    """Single-tile serving path: a byte cache (T9) in front of a driver-side
    read (SURVEY.md §7.3-7).

    The cache is the app-layer analog of the reference's LRU memory tile
    cache (``xcube_server/context.py:80-93``): Spark jobs have ~100 ms
    overhead, so repeated tile hits must not touch Spark at all.

    A miss reads its window with pyarrow on the driver
    (``CubeCatalog.read_windows``: a slice of the cell index of each part
    file of the step's ``time_idx`` partition, each file decoded once and
    kept) in milliseconds — the latency class of the reference's
    in-process dask reads. When that read declines
    (a cube in an object store), the tile renders through the distributed
    ``render_tiles`` plan instead.

    The cache key names the step's source, not its label: the base paths
    and ``time_idx`` list that ``CubeCatalog.step_sources`` gives for the
    bound step. A week that gains input steps in an append, or a dataset
    that a config reload points at another cube, so misses its old tiles.
    """

    def __init__(
        self,
        catalog: CubeCatalog,
        capacity: int = 512 * 1024 * 1024,
        trace_perf: bool = False,
    ):
        self.catalog = catalog
        self.capacity = capacity
        # --traceperf parity (xcube_server/cli.py:58-59, perf.py:33-52)
        self.trace_perf = trace_perf
        self._cache = ByteCache(capacity)

    def _read_tile_fast(
        self, ds_id: str, var: str, z: int, x: int, y: int, t_idx: int
    ) -> "pd.DataFrame | None":
        """Driver read of one tile window, with ``disp_row`` in display
        space; None when the dataset must render through Spark."""
        meta = self.catalog.datasets[ds_id]
        level, window = tile_window(meta.grid, meta.tile_grid, z, x, y)
        table = self.catalog.read_windows(
            ds_id, ["lat_idx", "lon_idx", var], [window], level, [t_idx]
        )
        if table is None:
            return None
        pdf = table.to_pandas()
        pdf["disp_row"] = meta.grid.level(level).display_rows(pdf["lat_idx"])
        return pdf

    def get_tile(
        self,
        ds_id: str,
        var: str,
        z: int,
        x: int,
        y: int,
        time: str | None = None,
        cmap: str | None = None,
        vmin: float | None = None,
        vmax: float | None = None,
    ) -> bytes:
        from ..perf import measure_time

        with measure_time(
            f"tile {ds_id}/{var}/{z}/{x}/{y}", trace=self.trace_perf
        ):
            meta = self.catalog.datasets[ds_id]
            tg = meta.tile_grid
            if not 0 <= z < tg.num_levels:
                raise ValueError(f"zoom {z} out of range [0, {tg.num_levels - 1}]")
            st = meta.styles.get(var) or StyleMeta(color_bar=DEFAULT_CMAP)
            st = StyleMeta(
                color_bar=cmap or st.color_bar,
                value_range=(
                    st.value_range[0] if vmin is None else vmin,
                    st.value_range[1] if vmax is None else vmax,
                ),
            )
            t_idx, _ = _nearest_time(self.catalog.times(ds_id), time)
            bases, [(_, idx)] = self.catalog.step_sources(ds_id, [t_idx])
            key = (
                ds_id, var, z, x, y, bases, tuple(idx),
                st.color_bar, st.value_range,
            )
            cached = self._cache.get(key)
            if cached is not None:
                return cached
            meta.require_variable(var)
            pdf = self._read_tile_fast(ds_id, var, z, x, y, t_idx)
            if pdf is not None:
                render = _render_pdf_factory(
                    tg.tile_width, tg.tile_height, *st.value_range,
                    st.color_bar, var,
                )
                png = bytes(render((y, x), pdf)["png"][0])
            else:
                rows = render_tiles(
                    self.catalog, ds_id, var, z, time=time, style=st,
                    tiles=[(x, y)],
                ).collect()
                if rows:
                    png = bytes(rows[0]["png"])
                else:
                    # Out-of-range tile: all-NaN → fully transparent (the
                    # reference still renders padded tiles,
                    # test/controllers/test_tiles.py:18).
                    blank = np.full((tg.tile_height, tg.tile_width), np.nan)
                    png = encode_rgba_png(
                        apply_cmap(blank, *st.value_range, st.color_bar)
                    )
            self._cache.put(key, png)
            return png

    def get_feature_info(
        self,
        ds_id: str,
        var: str,
        z: int,
        x: int,
        y: int,
        i: int,
        j: int,
        time: str | None = None,
    ) -> dict:
        """WMTS ``GetFeatureInfo``: the variable value under pixel (i, j)
        of tile (z, x, y) — IMPLEMENTED where the reference raises
        ``'Request type "GetFeatureInfo" not yet implemented'``
        (``xcube_server/handlers.py:103-104``), finishing the stub as
        ``query_expr`` does (P11).

        Pixel → cell is pure index arithmetic on the level grid (display
        rows flip for ``inv_y`` grids exactly as the tile render's do), and
        lon/lat are that level cell's centre. The value read is the tile's
        window read narrowed to ONE cell, with the same Spark filter when
        that read declines. NaN/absent cells report ``value: None`` (the
        reference's masked-pixel contract).
        """
        import math

        meta = self.catalog.datasets[ds_id]
        meta.require_variable(var)
        tg = meta.tile_grid
        if not 0 <= z < tg.num_levels:
            raise ValueError(
                f"zoom {z} out of range [0, {tg.num_levels - 1}]"
            )
        if not (0 <= i < tg.tile_width and 0 <= j < tg.tile_height):
            raise ValueError(f"pixel ({i}, {j}) outside the tile")
        level = tg.level_for_zoom(z)
        lg = meta.grid.level(level)
        col = x * tg.tile_width + i
        lat_idx = lg.display_rows(y * tg.tile_height + j)
        t_idx, t_label = _nearest_time(self.catalog.times(ds_id), time)
        value = None
        if 0 <= col < lg.width and 0 <= lat_idx < lg.height:
            value = self._read_cell(ds_id, var, level, lat_idx, col, t_idx)
        if value is not None and isinstance(value, float) and math.isnan(value):
            value = None
        return {
            "layer": f"{ds_id}.{var}",
            "time": t_label,
            "lon": lg.lon_of(col),
            "lat": lg.lat_of(lat_idx),
            "value": value,
        }

    def _read_cell(
        self, ds_id: str, var: str, level: int, lat_idx: int, col: int,
        t_idx: int,
    ) -> float | None:
        """One-cell read: the driver window read narrowed to one cell, else
        the level's Spark frame (a read the driver read declines)."""
        window = ((lat_idx, lat_idx + 1), (col, col + 1))
        table = self.catalog.read_windows(ds_id, [var], [window], level, [t_idx])
        if table is not None:
            values = table.column(var).to_pylist()
        else:
            cell = self.catalog.cube(ds_id, level, t_idx).filter(
                window_filter([window])
            )
            values = [r[0] for r in cell.select(var).collect()]
        if not values or values[0] is None:
            return None
        return float(values[0])
