"""The engine surface the serving benchmark (``perfbench/``) is built on.

The benchmark lives outside the engine and reaches into it: it builds and
swaps the tile cache, reads tiles through the driver fast path to check
them, and its tracer (``perfbench/tracing.py:install``) replaces layer entry
points by name in the module that looks each one up. A refactor that
renames or reshapes any of these breaks the benchmark without failing an
engine test, so this file pins them: that they exist and accept the calls
the benchmark makes. It does not install the tracer.
"""

from __future__ import annotations

import inspect

import pandas as pd
import pytest

from xcube_server_spark.cube import cache, catalog as catalog_mod, tiles, timeseries
from xcube_server_spark.cube.catalog import CubeCatalog, DatasetMeta, StyleMeta
from xcube_server_spark.server import app
from xcube_server_spark.sources.cube_ingest import synth_demo_cube, write_cube


def _accepts(fn, *args, **kwargs) -> None:
    """Raises TypeError unless ``fn`` can be called with these arguments."""
    inspect.signature(fn).bind(*args, **kwargs)


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("surface") / "demo")
    cube, grid = synth_demo_cube(spark, width=32, height=16)
    _, tg = write_cube(cube, grid, base, tile_size=16)
    cat = CubeCatalog(spark)
    cat.register_written_cube("demo", base, grid, tg, ["conc_chl"])
    cat.register(
        DatasetMeta(
            identifier="demo-1w", title="weekly", base_path="", grid=grid,
            tile_grid=tg, variables=["conc_chl"], computed=True,
            function="resample_in_time", input_datasets=["demo"],
            input_params={"period": "1W"},
        )
    )
    return cat


def test_tile_service_surface(catalog, monkeypatch):
    svc = tiles.TileService(catalog)
    assert isinstance(svc._cache, cache.ByteCache)
    # the benchmark's cache reset: built with the capacity alone
    svc._cache = cache.ByteCache(svc.capacity)
    png = svc.get_tile("demo", "conc_chl", 0, 0, 0, time=None)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert len(svc._cache) == 1 and svc._cache._used == len(png)
    pdf = svc._read_tile_fast("demo", "conc_chl", 0, 0, 0, 0)
    assert isinstance(pdf, pd.DataFrame) and len(pdf) > 0
    # None when the driver read declines, here over its row budget
    monkeypatch.setattr(catalog_mod, "WINDOW_ROW_BUDGET", 0)
    assert svc._read_tile_fast("demo", "conc_chl", 0, 0, 0, 0) is None


def test_entry_points_looked_up_by_module(catalog, monkeypatch):
    """A tile miss calls the colormap, PNG and Spark-render steps through
    ``tiles``' module globals, where the tracer replaces them: a computed
    dataset's miss renders on the driver, a read the driver read declines
    (here over its row budget) through ``render_tiles``."""
    calls = []

    def spy(name):
        fn = getattr(tiles, name)

        def wrapped(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)

        monkeypatch.setattr(tiles, name, wrapped)

    for name in ("apply_cmap", "encode_rgba_png", "render_tiles"):
        spy(name)
    svc = tiles.TileService(catalog)
    svc.get_tile("demo", "conc_chl", 0, 0, 0)
    assert calls == ["apply_cmap", "encode_rgba_png"]
    svc.get_tile("demo-1w", "conc_chl", 0, 0, 0)
    assert calls[2:] == ["apply_cmap", "encode_rgba_png"]
    monkeypatch.setattr(catalog_mod, "WINDOW_ROW_BUDGET", 0)
    svc.get_tile("demo", "conc_chl", 1, 0, 0)
    assert calls[4:] == ["render_tiles"]


def test_time_series_entry_points_looked_up_by_module(catalog, monkeypatch):
    """A time-series request rasterizes through ``timeseries``' module
    global ``rasterize_mask`` (the tracer's ``rasterize.mask`` span) on the
    driver read, for a stored and a computed dataset, and runs a Spark plan
    through ``app``'s globals ``time_series_for_*`` (its ``plan.ts`` span)
    when the driver read declines, here over its row budget."""
    import json
    import urllib.request

    calls = []

    def spy(module, name):
        fn = getattr(module, name)

        def wrapped(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapped)

    spy(timeseries, "rasterize_mask")
    for name in (
        "time_series_for_point",
        "time_series_for_geometry",
        "time_series_for_geometry_collection",
    ):
        spy(app, name)
    polygon = {"type": "Polygon", "coordinates": [
        [[1.0, 51.0], [2.0, 51.0], [2.0, 52.0], [1.0, 52.0], [1.0, 51.0]]]}
    server = app.CubeServer(catalog)
    server.start()

    def ask(ds, op, body=None):
        url = f"http://127.0.0.1:{server.port}/ts/{ds}/conc_chl/{op}"
        if body is None:
            url += "?lon=1.5&lat=51.5"
        req = urllib.request.Request(
            url, data=None if body is None else json.dumps(body).encode()
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 200 and json.loads(r.read())["results"]

    try:
        ask("demo", "point")
        ask("demo", "geometry", polygon)
        ask("demo", "geometries", {"geometries": [polygon]})
        assert calls == ["rasterize_mask", "rasterize_mask"]
        del calls[:]
        ask("demo-1w", "point")
        ask("demo-1w", "geometry", polygon)
        ask("demo-1w", "geometries", {"geometries": [polygon]})
        assert calls == ["rasterize_mask", "rasterize_mask"]
        del calls[:]
        monkeypatch.setattr(catalog_mod, "WINDOW_ROW_BUDGET", 0)
        ask("demo", "point")
        ask("demo", "geometry", polygon)
        ask("demo", "geometries", {"geometries": [polygon]})
    finally:
        server.stop()
        server.httpd.server_close()
    assert [c for c in calls if c != "rasterize_mask"] == [
        "time_series_for_point",
        "time_series_for_geometry",
        "time_series_for_geometry_collection",
    ]


def test_traced_entry_points():
    """Every name the tracer replaces, with the calls the engine makes."""
    _accepts(cache.ByteCache.get, None, "key")
    _accepts(cache.ByteCache.put, None, "key", b"")
    _accepts(tiles.TileService.get_tile, None, "ds", "var", 0, 0, 0, time=None)
    _accepts(tiles.TileService._read_tile_fast, None, "ds", "var", 0, 0, 0, 0)
    _accepts(app.CubeServer._route, None, None, "GET")
    _accepts(
        tiles.render_tiles, None, "ds", "var", 0,
        time=None, style=StyleMeta(), tiles=[(0, 0)],
    )
    _accepts(tiles.apply_cmap, None, 0.0, 1.0, "viridis")
    _accepts(tiles.encode_rgba_png, None)
    _accepts(app.get_datasets, None, details=False)
    _accepts(app.get_wmts_capabilities_xml, None, "http://localhost")
    _accepts(app.time_series_for_point, None, "ds", "var", lon=0.0, lat=0.0,
             start=None, end=None)
    _accepts(app.time_series_for_geometry, None, "ds", "var", geometry={},
             start=None, end=None)
    _accepts(app.time_series_for_geometry_collection, None, "ds", "var",
             geometries=[], start=None, end=None)
    _accepts(app.find_places, None, geometry=None, query_expr=None)
    _accepts(timeseries.rasterize_mask, {}, None)
