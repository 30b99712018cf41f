"""Output checks: recompute what the server answered, without Spark.

- tiles decode to RGBA of the tile size;
- time series are recomputed with pyarrow from the cube's level-0 parquet;
- place queries are recomputed with a numpy bbox / even-odd point test.
"""

from __future__ import annotations

import math
import os

import numpy as np

from perfbench import workload as wl


def tile_ok(body: bytes) -> bool:
    from xcube_server_spark.sources.png import decode_rgba_png

    try:
        return decode_rgba_png(body).shape == (wl.TILE, wl.TILE, 4)
    except ValueError:
        return False


def same_pixels(a: bytes, b: bytes) -> bool:
    from xcube_server_spark.sources.png import decode_rgba_png

    return np.array_equal(decode_rgba_png(a), decode_rgba_png(b))


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def cell_index(lat: float, lon: float) -> tuple[int, int]:
    """(lat_idx, lon_idx) of the cell holding a point; row 0 is the
    northernmost row of the demo cube."""
    west, _, _, north = wl.EXTENT
    return math.floor((north - lat) / wl.RES), math.floor((lon - west) / wl.RES)


def _cells_touch(cells: np.ndarray, ring, eps: float = 1e-9) -> np.ndarray:
    """Whether no axis (x, y or an edge normal) separates each cell's closed
    rectangle from the polygon. A cell the polygon meets always passes; for
    a convex polygon, such as the workload's quadrilaterals, only such cells
    pass (separating-axis theorem)."""
    west, _, _, north = wl.EXTENT
    cx = west + (cells[:, 1] + 0.5) * wl.RES
    cy = north - (cells[:, 0] + 0.5) * wl.RES
    half = wl.RES / 2
    pts = np.asarray(ring[:-1], dtype=float)
    d = np.roll(pts, -1, axis=0) - pts
    axes = [(1.0, 0.0), (0.0, 1.0)] + [(-dy, dx) for dx, dy in d]
    ok = np.ones(len(cells), dtype=bool)
    for ax, ay in axes:
        proj = pts @ np.array([ax, ay])
        c = cx * ax + cy * ay
        r = (abs(ax) + abs(ay)) * half
        ok &= (c + r >= proj.min() - eps) & (c - r <= proj.max() + eps)
    return ok


def mask_within_bounds(mask: np.ndarray, ring) -> bool:
    """Bounds on an all-touched polygon mask, computed without the program's
    rasterizer: the mask holds every cell whose centre lies inside the
    polygon, no cell twice, and only cells that ``_cells_touch`` passes."""
    if len({tuple(c) for c in mask.tolist()}) != len(mask):
        return False
    xs, ys = [p[0] for p in ring], [p[1] for p in ring]
    i0, j0 = cell_index(max(ys), min(xs))
    i1, j1 = cell_index(min(ys), max(xs))
    ii, jj = np.meshgrid(np.arange(i0 - 1, i1 + 2), np.arange(j0 - 1, j1 + 2), indexing="ij")
    west, _, _, north = wl.EXTENT
    centre_in = _in_ring(west + (jj + 0.5) * wl.RES, north - (ii + 0.5) * wl.RES, ring)
    have = {tuple(c) for c in mask.tolist()}
    if not all((i, j) in have for i, j in zip(ii[centre_in].tolist(), jj[centre_in].tolist())):
        return False
    return bool(_cells_touch(mask, ring).all())


class CubeTruth:
    """Time series recomputed from the stored level-0 table."""

    def __init__(self, cube_dir: str) -> None:
        from xcube_server_spark.cube.grid import GridMeta

        self.l0 = os.path.join(cube_dir, "l0")
        self.grid = GridMeta(
            width=wl.WIDTH, height=wl.HEIGHT, extent=wl.EXTENT, times=wl.TIMES
        )
        self._values: dict[str, np.ndarray] = {}

    def values(self, var: str) -> np.ndarray:
        """(time, lat, lon) float64 array, NaN where the cube holds NULL."""
        if var not in self._values:
            import pyarrow.dataset as pads

            t = pads.dataset(self.l0, format="parquet", partitioning="hive").to_table(
                columns=["time_idx", "lat_idx", "lon_idx", var]
            )
            arr = np.full((len(wl.TIMES), wl.HEIGHT, wl.WIDTH), np.nan)
            arr[
                t.column("time_idx").to_numpy(),
                t.column("lat_idx").to_numpy(),
                t.column("lon_idx").to_numpy(),
            ] = t.column(var).to_numpy(zero_copy_only=False)
            self._values[var] = arr
        return self._values[var]

    def cells(self, geom: dict) -> np.ndarray | None:
        """(lat_idx, lon_idx) cells a geometry's time series aggregates, or
        None when the program's polygon mask fails the independent bounds of
        ``mask_within_bounds``."""
        from xcube_server_spark.cube.rasterize import rasterize_mask

        if geom["type"] == "Point":
            lon, lat = geom["coordinates"][:2]
            return np.array([cell_index(lat, lon)])
        mask = rasterize_mask(geom, self.grid)
        return mask if mask_within_bounds(mask, geom["coordinates"][0]) else None

    def series(self, var: str, cells: np.ndarray | None) -> list[dict]:
        if cells is None:
            return []
        v = self.values(var)[:, cells[:, 0], cells[:, 1]]
        out = []
        for t, when in enumerate(wl.TIMES):
            ok = ~np.isnan(v[t])
            valid = int(ok.sum())
            out.append({
                "date": when.replace(" ", "T") + "Z",
                "result": {
                    "totalCount": len(cells),
                    "validCount": valid,
                    "average": float(v[t][ok].mean()) if valid else None,
                },
            })
        return out


def series_match(got: list[dict], want: list[dict]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        gr, wr = g["result"], w["result"]
        if (
            g["date"] != w["date"]
            or gr["totalCount"] != wr["totalCount"]
            or gr["validCount"] != wr["validCount"]
            or not _close(gr["average"], wr["average"])
        ):
            return False
    return True


def check_ts(truth: CubeTruth, path: str, body: bytes | None, doc: dict) -> bool:
    """One time-series response against its recomputation."""
    import json
    from urllib.parse import parse_qs, urlparse

    url = urlparse(path)
    _, _, var, op = url.path.split("/")[1:5]
    if op == "point":
        q = {k: float(v[0]) for k, v in parse_qs(url.query).items()}
        geom = {"type": "Point", "coordinates": [q["lon"], q["lat"]]}
        return series_match(doc["results"], truth.series(var, truth.cells(geom)))
    req = json.loads(body)
    if op == "geometry":
        return series_match(doc["results"], truth.series(var, truth.cells(req)))
    geoms = req["geometries"]
    return len(doc["results"]) == len(geoms) and all(
        series_match(r["results"], truth.series(var, truth.cells(g)))
        for r, g in zip(doc["results"], geoms)
    )


def _in_ring(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    inside = np.zeros(px.shape, dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if y1 == y2:
            continue
        hit = ((y1 > py) != (y2 > py)) & (px < x1 + (py - y1) * (x2 - x1) / (y2 - y1))
        inside ^= hit
    return inside


def expected_places(points, path: str, body: bytes | None) -> set[str]:
    """Feature ids a places query must return."""
    import json
    from urllib.parse import parse_qs, urlparse

    pts = np.asarray(points)
    px, py = pts[:, 0], pts[:, 1]
    if body is None:
        bbox = parse_qs(urlparse(path).query)["bbox"][0]
        w, s, e, n = (float(v) for v in bbox.split(","))
        keep = (px >= w) & (px <= e) & (py >= s) & (py <= n)
    else:
        ring = json.loads(body)["coordinates"][0]
        keep = _in_ring(px, py, ring)
    return {str(i) for i in np.flatnonzero(keep)}


def check_places(points, path: str, body: bytes | None, doc: dict) -> bool:
    got = {f["id"] for f in doc["features"]}
    return got == expected_places(points, path, body) and all(
        math.isfinite(f["geometry"]["coordinates"][0]) for f in doc["features"]
    )
