"""Parity utilities: WKT (F9), GeoJSON checks (F8), param coercion (F2),
query-geometry parsing (P9/P10), url_pattern (F11), mem size (F12),
legend (T10), config hot-reload (S11), gated xarray ingest (S1/S2)."""

from __future__ import annotations

import re

import pytest

from xcube_server_spark.cube.legend import render_legend
from xcube_server_spark.cube.reqparams import (
    bbox_to_geometry,
    coerce_dim_value,
    parse_mem_size,
    parse_query_geometry,
    to_datetime,
    to_float,
    to_int,
    url_pattern,
)
from xcube_server_spark.functions.geo import (
    is_feature_collection,
    is_geometry,
    parse_wkt,
)
from xcube_server_spark.sources.png import decode_rgba_png


def test_wkt_point_polygon_multipolygon():
    assert parse_wkt("POINT (2.1 51.4)") == {
        "type": "Point",
        "coordinates": [2.1, 51.4],
    }
    poly = parse_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert poly["type"] == "Polygon" and len(poly["coordinates"][0]) == 5
    holes = parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")
    assert len(holes["coordinates"]) == 2
    mp = parse_wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))")
    assert mp["type"] == "MultiPolygon" and len(mp["coordinates"]) == 2
    with pytest.raises(ValueError):
        parse_wkt("CIRCLE (0 0, 5)")


def test_geojson_validators():
    assert is_geometry({"type": "Point", "coordinates": [0, 0]})
    assert not is_geometry({"type": "Pointy", "coordinates": [0, 0]})
    assert not is_geometry({"type": "Point"})
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "geometry": {"type": "Point", "coordinates": [1, 2]},
             "properties": {}}
        ],
    }
    assert is_feature_collection(fc)


def test_param_coercion():
    assert to_int("z", "7") == 7
    assert to_float("lon", "2.5") == 2.5
    assert to_datetime("d", "2017-01-16T10:09:22Z").hour == 10
    # an offset is converted: the result is always naive UTC
    assert to_datetime("d", "2017-01-16T12:09:22+02:00") == to_datetime(
        "d", "2017-01-16T10:09:22Z"
    )
    with pytest.raises(ValueError, match="'z' must be an integer"):
        to_int("z", "abc")
    assert coerce_dim_value("current", "datetime64[ns]") == "current"
    assert coerce_dim_value("3.5", "float64") == 3.5
    assert coerce_dim_value("2017-01-16", "datetime64[ns]").year == 2017


def test_query_geometry_and_antimeridian():
    g = parse_query_geometry(bbox="0,50,5,52.5")
    assert g["type"] == "Polygon"
    # P10: west > east -> MultiPolygon of two boxes (xcube_server/utils.py:56-70)
    g2 = bbox_to_geometry(170.0, -10.0, -170.0, 10.0)
    assert g2["type"] == "MultiPolygon" and len(g2["coordinates"]) == 2
    g3 = parse_query_geometry(geom="POINT (1 2)")
    assert g3["coordinates"] == [1.0, 2.0]
    g4 = parse_query_geometry(body={"type": "Point", "coordinates": [1, 2]})
    assert g4["type"] == "Point"
    with pytest.raises(ValueError):
        parse_query_geometry(body={"type": "Nope"})


def test_url_pattern():
    # F11 (xcube_server/service.py:313-350)
    pat = url_pattern("/datasets/{{ds}}/vars/{{var}}/tiles")
    m = re.match(pat, "/datasets/demo/vars/chl/tiles")
    assert m and m.group("ds") == "demo" and m.group("var") == "chl"


def test_parse_mem_size():
    # F12 (xcube_server/service.py:353-369); reference default '512M'
    assert parse_mem_size("512M") == 512 * 1024 * 1024
    assert parse_mem_size("2G") == 2 * 1024**3
    assert parse_mem_size("100") == 100
    with pytest.raises(ValueError):
        parse_mem_size("12X")


def test_legend_render():
    png, meta = render_legend("viridis", 0.0, 24.0)
    rgba = decode_rgba_png(png)
    assert rgba.shape == (24, 256, 4)
    assert meta["ticks"][0] == 0.0 and meta["ticks"][-1] == 24.0
    # gradient: left edge differs from right edge
    assert not (rgba[0, 0] == rgba[0, -1]).all()


def test_xarray_ingest_gated():
    """zarr, NetCDF3-classic AND NetCDF4/HDF5 all EXECUTE via built-in
    pure-Python readers (test_zarr_ingest.py / test_netcdf3.py /
    test_hdf5_ingest.py). Broken stores still error clearly — never a
    silent wrong read."""
    from xcube_server_spark.sources.xarray_ingest import ingest_xarray

    # a missing zarr store is a store error now, not an import gate
    with pytest.raises(FileNotFoundError):
        ingest_xarray(None, "/tmp/nope.zarr")
    # an HDF5 signature with a mangled superblock routes to the HDF5
    # reader (magic dispatch) and errors on the corrupt superblock
    h5 = "/tmp/xss_fake_h5.nc"
    with open(h5, "wb") as f:
        f.write(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises((NotImplementedError, ValueError)):
        ingest_xarray(None, h5, fmt="nc")
    # a non-HDF5 non-classic blob still hits the classic-format gate
    junk = "/tmp/xss_fake_junk.nc"
    with open(junk, "wb") as f:
        f.write(b"JUNKJUNK" + b"\x00" * 64)
    with pytest.raises(NotImplementedError, match="classic"):
        ingest_xarray(None, junk, fmt="nc")


def test_config_hot_reload(spark, tmp_path):
    import json as _json

    from xcube_server_spark.cube.catalog import ConfigWatcher, CubeCatalog
    from xcube_server_spark.cube.grid import GridMeta, TileGridMeta
    from xcube_server_spark.sources.cube_ingest import synth_demo_cube, write_cube

    base = str(tmp_path / "cube")
    cube, grid = synth_demo_cube(spark, width=20, height=10)
    _, tg = write_cube(cube, grid, base, tile_size=8)
    cat = CubeCatalog(spark)
    meta = cat.register_written_cube("demo", base, grid, tg, ["conc_chl"])
    cat.save_meta(meta)

    cfg = tmp_path / "config.yml"
    cfg.write_text(
        f"Datasets:\n  - Identifier: demo\n    Title: Demo One\n    Path: {base}\n"
    )
    watcher = ConfigWatcher(CubeCatalog(spark), str(cfg))
    assert watcher.catalog.datasets["demo"].title == "Demo One"
    assert not watcher.maybe_reload()  # unchanged
    import os
    import time

    cfg.write_text(
        f"Datasets:\n  - Identifier: demo\n    Title: Demo Two\n    Path: {base}\n"
    )
    os.utime(cfg, (time.time() + 2, time.time() + 2))
    assert watcher.maybe_reload()
    assert watcher.catalog.datasets["demo"].title == "Demo Two"

    # PlaceGroups follow each reload: an extra feature, then the group gone
    towns = tmp_path / "towns.geojson"
    datasets = f"Datasets:\n  - Identifier: demo\n    Title: Demo Two\n    Path: {base}\n"
    places = "PlaceGroups:\n  - Identifier: towns\n    Title: Towns\n    Path: towns.geojson\n"
    for k, (names, text) in enumerate(
        [(["t0"], datasets + places), (["t0", "t1"], datasets + places), ([], datasets)]
    ):
        towns.write_text(_json.dumps({"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {"Name": n},
             "geometry": {"type": "Point", "coordinates": [1.0, 51.0]}}
            for n in names
        ]}))
        cfg.write_text(text)
        os.utime(cfg, (time.time() + 4 + 2 * k, time.time() + 4 + 2 * k))
        assert watcher.maybe_reload()
        cat = watcher.catalog
        if names:
            assert [p["Name"] for p in cat.places["properties"]] == names
            assert cat.place_titles == {"towns": "Towns"}
        else:
            assert cat.places is None and cat.place_titles == {}


def test_config_reload_repoints_served_tiles(spark, tmp_path):
    """A config reload that points dataset ``d`` at another cube with the
    same time labels: the live tile service serves the new cube's tile, not
    the one it cached before the reload."""
    import os
    import time

    from pyspark.sql import functions as F

    from xcube_server_spark.cube.catalog import ConfigWatcher, CubeCatalog
    from xcube_server_spark.cube.tiles import TileService
    from xcube_server_spark.sources.cube_ingest import synth_demo_cube, write_cube

    cube, grid = synth_demo_cube(spark, width=20, height=10)
    paths = []
    for name, scale in (("first", 1.0), ("second", 0.5)):
        base = str(tmp_path / name)
        scaled = cube.withColumn("conc_chl", (F.col("conc_chl") * scale).cast("float"))
        _, tg = write_cube(scaled, grid, base, tile_size=8)
        cat = CubeCatalog(spark)
        cat.save_meta(cat.register_written_cube("d", base, grid, tg, ["conc_chl"]))
        paths.append(base)
    cfg = tmp_path / "config.yml"
    cfg.write_text(f"Datasets:\n  - Identifier: d\n    Path: {paths[0]}\n")
    watcher = ConfigWatcher(CubeCatalog(spark), str(cfg))
    svc = TileService(watcher.catalog)

    def tile(service):
        return service.get_tile("d", "conc_chl", 0, 0, 0, vmin=0.0, vmax=30.0)

    before = tile(svc)
    cfg.write_text(f"Datasets:\n  - Identifier: d\n    Path: {paths[1]}\n")
    os.utime(cfg, (time.time() + 2, time.time() + 2))
    assert watcher.maybe_reload()
    after = tile(svc)
    assert after == tile(TileService(watcher.catalog))
    assert after != before


def test_cli_parser():
    from xcube_server_spark.cli import make_parser

    p = make_parser()
    args = p.parse_args(["serve", "-c", "cfg.yml", "-p", "9090", "--tilecache", "1G"])
    assert args.config == "cfg.yml" and args.port == 9090
    assert args.tilecache == "1G" and args.update == 2.0


def test_byte_cache_lru():
    from xcube_server_spark.cube.cache import ByteCache

    # oldest unaccessed key evicted first once past 0.75 of capacity
    c = ByteCache(capacity=100)
    c.put("a", b"x" * 30)
    c.put("b", b"x" * 30)
    _ = c.get("a")  # refresh a
    c.put("c", b"x" * 30)  # 90 > 75 -> evict down
    assert "b" not in c and "a" in c and "c" in c
    assert c._used == 60
    # the entry just written is never evicted, even over capacity
    c.put("big", b"x" * 500)
    assert list(c._data) == ["big"] and c._used == 500


def test_byte_cache_thread_safe():
    """Request threads share one cache: concurrent get/put must neither
    raise nor lose track of the bytes held."""
    import random
    import sys
    import threading

    from xcube_server_spark.cube.cache import EVICTION_THRESHOLD, ByteCache

    cache = ByteCache(capacity=2000)
    errors = []

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(20000):
                key = rng.randrange(64)
                if rng.random() < 0.5:
                    cache.get(key)
                else:
                    cache.put(key, b"x" * rng.randrange(1, 200))
        except Exception as e:  # collected: a thread's exception is lost
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert cache._used == sum(len(v) for v in cache._data.values())
    assert cache._used <= EVICTION_THRESHOLD * cache.capacity or len(cache) == 1


def test_measure_time():
    import io

    from xcube_server_spark.perf import measure_time

    buf = io.StringIO()
    with measure_time("step", trace=True, stream=buf) as m:
        pass
    assert m.duration is not None and m.duration >= 0
    assert "step:" in buf.getvalue()


def test_static_tile_source(tmp_path):
    from xcube_server_spark.sources.png import decode_rgba_png
    from xcube_server_spark.sources.static_tiles import StaticTileSource

    d = tmp_path / "tiles" / "0" / "0"
    d.mkdir(parents=True)
    (d / "0.jpg").write_bytes(b"\xff\xd8fakejpeg")
    src = StaticTileSource(str(tmp_path / "tiles"))
    data, ctype = src.get_tile(0, 0, 0)
    assert data.startswith(b"\xff\xd8") and ctype == "image/jpeg"
    # missing tile -> transparent PNG fallback
    data2, ctype2 = src.get_tile(3, 9, 9)
    assert ctype2 == "image/png"
    assert decode_rgba_png(data2)[..., 3].max() == 0


def test_iso_ts_rounds_like_reference(spark):
    """timestamp_to_iso_string parity: pd.Timestamp.round semantics —
    nearest second by default, nearest hour with freq='H'
    (xcube_server/utils.py:86-97; test/test_utils.py cases)."""
    from pyspark.sql import functions as F

    from xcube_server_spark.functions.scalars import iso_ts

    df = spark.createDataFrame(
        [("2018-09-05 00:00:00",),
         ("2018-09-05 10:35:42.164",),
         ("2018-09-05 10:35:42.664",)],
        "ts_str string",
    ).select(F.to_timestamp("ts_str").alias("ts"))
    secs = [r[0] for r in df.select(iso_ts(F.col("ts"))).collect()]
    assert secs == [
        "2018-09-05T00:00:00Z",
        "2018-09-05T10:35:42Z",  # .164 rounds down
        "2018-09-05T10:35:43Z",  # .664 rounds UP (truncation would fail)
    ]
    hours = [r[0] for r in df.select(iso_ts(F.col("ts"), freq="H")).collect()]
    assert hours == [
        "2018-09-05T00:00:00Z",
        "2018-09-05T11:00:00Z",  # 10:35 rounds up to 11:00
        "2018-09-05T11:00:00Z",
    ]
