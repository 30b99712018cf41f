"""Cube subsystem tests: ingest → LOD pyramid → time series → tiles →
computed resample → places → metadata. Golden-style semantics checks per
SURVEY.md §5 (reference test strategy)."""

from __future__ import annotations

import datetime as dt
import json
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_server_spark.cube.catalog import CubeCatalog, StyleMeta
from xcube_server_spark.cube.grid import GridMeta, TileGridMeta, level_sizes
from xcube_server_spark.cube.metadata import get_coordinates, get_datasets, get_tile_grid
from xcube_server_spark.cube.places import find_places, load_place_group, union_place_groups
from xcube_server_spark.cube.rasterize import rasterize_mask
from xcube_server_spark.cube.tiles import TileService, render_tiles
from xcube_server_spark.cube.timeseries import (
    time_series_for_geometry,
    time_series_for_geometry_collection,
    time_series_for_point,
)
from xcube_server_spark.sources.cube_ingest import (
    DEMO_EXTENT,
    DEMO_TIMES,
    synth_demo_cube,
    write_cube,
)
from xcube_server_spark.sources.png import decode_rgba_png

W, H = 200, 100  # scaled-down demo grid (reference: 2000x1000)


@pytest.fixture(scope="session")
def demo_catalog(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cube") / "demo")
    cube, grid = synth_demo_cube(spark, width=W, height=H)
    tables, tg = write_cube(cube, grid, base, tile_size=64)
    cat = CubeCatalog(spark)
    meta = cat.register_written_cube(
        "demo",
        base,
        grid,
        tg,
        ["conc_chl", "conc_tsm", "kd489"],
        styles={
            "conc_chl": StyleMeta("viridis", (0.0, 24.0)),
            "conc_tsm": StyleMeta("plasma", (0.0, 100.0)),
            "kd489": StyleMeta("jet", (0.0, 6.0)),
        },
    )
    cat.save_meta(meta)
    return cat


# -- grid math ---------------------------------------------------------------


def test_level_sizes_reference_law():
    # (s+1)//2 halving — xcube_server/mldataset.py:20-22; FIXTURES F-3:
    # 1440x720 -> 720x360 -> 360x180
    assert level_sizes(1440, 720, 3) == [(1440, 720), (720, 360), (360, 180)]
    assert level_sizes(5, 5, 3) == [(5, 5), (3, 3), (2, 2)]


def test_tile_grid_create():
    tg = TileGridMeta.create(W, H, 64, DEMO_EXTENT)
    # 200x100 -> 100x50 -> 50x25: three levels until both dims fit one tile
    assert tg.num_levels == 3
    assert level_sizes(W, H, tg.num_levels)[-1][0] <= 64


def test_grid_index_math():
    g = GridMeta(width=W, height=H, extent=DEMO_EXTENT, times=DEMO_TIMES)
    # lat row 0 is northernmost
    assert g.lat_of(0) > g.lat_of(H - 1)
    assert g.lat_idx_of(g.lat_of(7)) == 7
    assert g.lon_idx_of(g.lon_of(13)) == 13
    assert g.contains(2.0, 51.0) and not g.contains(-10.0, 51.0)


# -- ingest / LOD ------------------------------------------------------------


def test_cube_rows_and_levels(demo_catalog):
    l0 = demo_catalog.cube("demo", 0)
    assert l0.count() == len(DEMO_TIMES) * W * H
    tg = demo_catalog.datasets["demo"].tile_grid
    sizes = level_sizes(W, H, tg.num_levels)
    for k in range(1, tg.num_levels):
        lk = demo_catalog.cube("demo", k)
        w_k, h_k = sizes[k]
        # stride decimation keeps ceil(s/2) cells per axis
        assert lk.select("lon_idx").distinct().count() == math.ceil(W / 2**k)
        assert lk.agg(F.max("lon_idx")).first()[0] == math.ceil(W / 2**k) - 1


def test_lod_stride_parity(demo_catalog):
    """Level-1 value at (i, j) must equal level-0 value at (2i, 2j) —
    var[..., ::2, ::2] parity (xcube_server/mldataset.py:296-304)."""
    l0 = demo_catalog.cube("demo", 0).filter(
        (F.col("time_idx") == 0)
        & (F.col("lat_idx") % 2 == 0)
        & (F.col("lon_idx") % 2 == 0)
        & (F.col("lat_idx") <= 10)
        & (F.col("lon_idx") <= 10)
    )
    l1 = demo_catalog.cube("demo", 1).filter(
        (F.col("time_idx") == 0) & (F.col("lat_idx") <= 5) & (F.col("lon_idx") <= 5)
    )
    v0 = {
        (r["lat_idx"] // 2, r["lon_idx"] // 2): r["kd489"] for r in l0.collect()
    }
    v1 = {(r["lat_idx"], r["lon_idx"]): r["kd489"] for r in l1.collect()}
    assert v0 == v1


# -- time series -------------------------------------------------------------


def test_point_timeseries_shape_and_nan_semantics(demo_catalog):
    df = time_series_for_point(demo_catalog, "demo", "conc_tsm", 2.1, 51.4)
    rows = df.collect()
    assert [r["date"] for r in rows] == [
        t.replace(" ", "T") + "Z" for t in DEMO_TIMES
    ]
    # all-NaN timesteps 2 and 3 → validCount 0, average NULL
    # (test/controllers/test_time_series.py:29-32 semantics)
    for r in rows:
        assert r["total_count"] == 1
    assert rows[2]["valid_count"] == 0 and rows[2]["average"] is None
    assert rows[3]["valid_count"] == 0 and rows[3]["average"] is None
    assert rows[0]["valid_count"] == 1 and rows[0]["average"] is not None


def test_point_outside_returns_none(demo_catalog):
    # P7 containment short-circuit (time_series.py:126-128);
    # fixture point (-150, -30) is outside-cube (FIXTURES F-5)
    assert time_series_for_point(demo_catalog, "demo", "conc_chl", -150.0, -30.0) is None


def test_point_timeseries_value_matches_generator(demo_catalog):
    g = demo_catalog.datasets["demo"].grid
    lon, lat = 2.1, 51.4
    i, j = g.lat_idx_of(lat), g.lon_idx_of(lon)
    clat, clon = g.lat_of(i), g.lon_of(j)
    expected = np.float32(30.0 * (math.sin(clon * 2.0) + math.cos(clat * 3.0)) + 0.0 * 5.0 + 40.0)
    df = time_series_for_point(demo_catalog, "demo", "conc_tsm", lon, lat)
    got = df.collect()[0]["average"]
    assert got == pytest.approx(float(expected), abs=1e-6)


def test_geometry_timeseries_bbox_mask_count(demo_catalog):
    """1°x1° box → all_touched mask = (1/res + 1)^2 cells, the analog of the
    reference's 401x401 = 160801 golden totalCount
    (test/controllers/test_time_series.py:59-75)."""
    g = demo_catalog.datasets["demo"].grid
    poly = {
        "type": "Polygon",
        "coordinates": [[[1.0, 51.0], [2.0, 51.0], [2.0, 52.0], [1.0, 52.0], [1.0, 51.0]]],
    }
    cells_per_deg = round(1.0 / g.res_lon)
    expected_total = (cells_per_deg + 1) ** 2
    mask = rasterize_mask(poly, g)
    assert len(mask) == expected_total
    df = time_series_for_geometry(demo_catalog, "demo", "conc_tsm", poly)
    rows = df.collect()
    assert all(r["total_count"] == expected_total for r in rows)
    assert rows[2]["valid_count"] == 0 and rows[2]["average"] is None
    assert rows[0]["valid_count"] == expected_total


def test_geometry_collection_fanout(demo_catalog):
    geoms = [
        {"type": "Point", "coordinates": [2.1, 51.4]},
        {
            "type": "Polygon",
            "coordinates": [[[1.0, 51.0], [1.5, 51.0], [1.5, 51.5], [1.0, 51.5], [1.0, 51.0]]],
        },
    ]
    df = time_series_for_geometry_collection(demo_catalog, "demo", "kd489", geoms)
    rows = df.collect()
    ids = {r["geometry_id"] for r in rows}
    assert ids == {0, 1}
    assert len(rows) == 2 * len(DEMO_TIMES)


def test_time_range_filter(demo_catalog):
    df = time_series_for_point(
        demo_catalog, "demo", "conc_tsm", 2.1, 51.4,
        start="2017-01-15", end="2017-01-29",
    )
    # inclusive label slice (P3): 4 of 5 timesteps
    assert df.count() == 4


def _rows(rows) -> list[tuple]:
    return [
        (r["date"], r["total_count"], r["valid_count"], r["average"])
        for r in rows
    ]


def _assert_same_rows(got, want) -> None:
    assert [r[:3] for r in _rows(got)] == [r[:3] for r in _rows(want)]
    for g, w in zip(_rows(got), _rows(want)):
        assert g[3] == (None if w[3] is None else pytest.approx(w[3], rel=1e-9))


def test_driver_series_match_spark_plans(demo_catalog):
    """The driver read answers each time-series route row for row like its
    Spark plan: random polygons on, across and off the grid edges, points in
    and out, both NULL patterns (conc_chl's blob, conc_tsm's all-NULL
    steps), with and without an inclusive date range."""
    from xcube_server_spark.cube.timeseries import (
        local_series_for_geometry,
        local_series_for_geometry_collection,
        local_series_for_point,
    )

    rng = np.random.default_rng(7)
    geoms = []
    for _ in range(10):
        cx, cy = rng.uniform(-0.3, 5.3), rng.uniform(49.9, 52.6)
        r = rng.uniform(0.02, 0.5)
        angles = np.sort(rng.uniform(0.0, 2 * math.pi, 5))
        ring = [[cx + r * math.cos(a), cy + r * math.sin(a)] for a in angles]
        geoms.append({"type": "Polygon", "coordinates": [ring + [ring[0]]]})
    geoms.append({"type": "Point", "coordinates": [2.1, 51.4]})
    geoms.append({"type": "Point", "coordinates": [7.0, 51.4]})  # off the grid
    for var, start, end in (
        ("conc_chl", None, None),
        ("conc_tsm", None, None),
        ("kd489", "2017-01-25 09:35:51", "2017-01-28 09:58:11"),
    ):
        got = local_series_for_geometry_collection(
            demo_catalog, "demo", var, geoms, start, end
        )
        spark_rows = time_series_for_geometry_collection(
            demo_catalog, "demo", var, geoms, start, end
        ).collect()
        assert len(got) == len(geoms)
        for gi, rows in enumerate(got):
            _assert_same_rows(rows, [r for r in spark_rows if r["geometry_id"] == gi])
    # the single-geometry route counts the mask, the point route the rows
    for geom in (geoms[0], geoms[3], geoms[-2]):
        want = time_series_for_geometry(demo_catalog, "demo", "conc_tsm", geom)
        got = local_series_for_geometry(demo_catalog, "demo", "conc_tsm", geom)
        _assert_same_rows(got, [] if want is None else want.collect())
    for lon, lat in ((2.1, 51.4), (0.0, 52.5), (-150.0, -30.0)):
        want = time_series_for_point(
            demo_catalog, "demo", "conc_chl", lon, lat, "2017-01-16", None
        )
        got = local_series_for_point(
            demo_catalog, "demo", "conc_chl", lon, lat, "2017-01-16", None
        )
        _assert_same_rows(got, [] if want is None else want.collect())


def test_driver_series_sparse_cube_subsecond_times(spark, tmp_path):
    """On a cube with missing rows and sub-second timestamps the driver
    read still answers like the Spark plans: no row for a step without
    stored rows, the polygon route's mask size against the rows found of
    the point and fan-out routes, dates rounded half up to the second
    (two steps here print as the same second)."""
    from xcube_server_spark.cube.timeseries import (
        local_series_for_geometry,
        local_series_for_geometry_collection,
        local_series_for_point,
    )

    times = (
        "1969-12-31 23:59:59.5",
        "2017-01-16 10:09:22.4999",
        "2017-01-16 10:09:22.5",
        "2017-01-16 23:59:59.7",
    )
    cube, grid = synth_demo_cube(spark, width=16, height=8, times=times)
    # step 1 lacks the north-west quarter; cell (2, 3) is missing throughout
    cube = cube.filter(
        ~((F.col("time_idx") == 1) & (F.col("lat_idx") < 4) & (F.col("lon_idx") < 8))
        & ~((F.col("lat_idx") == 2) & (F.col("lon_idx") == 3))
    )
    _, tg = write_cube(cube, grid, str(tmp_path / "sparse"), tile_size=8)
    cat = CubeCatalog(spark)
    cat.register_written_cube("sparse", str(tmp_path / "sparse"), grid, tg, ["conc_chl"])
    west = {"type": "Polygon", "coordinates": [  # partly in the step-1 gap
        [[0.2, 51.4], [3.0, 51.4], [3.0, 52.3], [0.2, 52.3], [0.2, 51.4]]]}
    point = {"type": "Point", "coordinates": [0.5, 52.3]}  # in the gap at step 1
    missing = {"type": "Point", "coordinates": [
        grid.lon_of(3), grid.lat_of(2)]}  # a cell with no rows at all
    got = local_series_for_geometry(cat, "sparse", "conc_chl", west)
    want = time_series_for_geometry(cat, "sparse", "conc_chl", west).collect()
    _assert_same_rows(got, want)
    assert len(got) == len(times) and got[1]["total_count"] == len(rasterize_mask(west, grid))
    assert [r["date"] for r in got[1:3]] == ["2017-01-16T10:09:22Z", "2017-01-16T10:09:23Z"]
    for lon, lat in (point["coordinates"], missing["coordinates"]):
        got = local_series_for_point(cat, "sparse", "conc_chl", lon, lat)
        want = time_series_for_point(cat, "sparse", "conc_chl", lon, lat)
        _assert_same_rows(got, want.collect())
    assert [r["date"] for r in local_series_for_point(
        cat, "sparse", "conc_chl", *point["coordinates"])] == [
        "1970-01-01T00:00:00Z", "2017-01-16T10:09:23Z", "2017-01-17T00:00:00Z"]
    geoms = [west, point, missing]
    got = local_series_for_geometry_collection(cat, "sparse", "conc_chl", geoms)
    rows = time_series_for_geometry_collection(cat, "sparse", "conc_chl", geoms).collect()
    for gi, mine in enumerate(got):
        _assert_same_rows(mine, [r for r in rows if r["geometry_id"] == gi])
    assert got[2] == []


# -- tiles -------------------------------------------------------------------


def test_render_tiles_full_level(demo_catalog):
    tg = demo_catalog.datasets["demo"].tile_grid
    z = tg.num_levels - 1  # native resolution
    df = render_tiles(demo_catalog, "demo", "conc_chl", z, time=DEMO_TIMES[0])
    rows = df.collect()
    n_tx = math.ceil(W / tg.tile_width)
    n_ty = math.ceil(H / tg.tile_height)
    assert len(rows) == n_tx * n_ty
    png = bytes(rows[0]["png"])
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    rgba = decode_rgba_png(png)
    assert rgba.shape == (tg.tile_height, tg.tile_width, 4)


def test_tile_service_cache_and_transparency(demo_catalog):
    svc = TileService(demo_catalog)
    png1 = svc.get_tile("demo", "conc_tsm", 0, 0, 0, time="current")
    png2 = svc.get_tile("demo", "conc_tsm", 0, 0, 0, time="current")
    assert png1 == png2 and len(svc._cache) == 1
    # 'current' → last timestep; conc_tsm has valid data there (idx 4)
    rgba = decode_rgba_png(png1)
    assert rgba[..., 3].max() == 255
    # timestep 2 is all-NULL for conc_tsm → fully transparent tile
    png_nan = svc.get_tile("demo", "conc_tsm", 0, 0, 0, time="2017-01-26T10:50:17")
    rgba_nan = decode_rgba_png(png_nan)
    assert rgba_nan[..., 3].max() == 0


# -- computed cube (weekly resample) ----------------------------------------


def test_computed_weekly_resample(spark, demo_catalog):
    import pandas as pd

    from xcube_server_spark.cube.catalog import DatasetMeta

    base = demo_catalog.datasets["demo"]
    # registered as a computed dataset through the catalog
    meta = DatasetMeta(
        identifier="demo-1w",
        title="weekly",
        base_path="",
        grid=base.grid,
        tile_grid=base.tile_grid,
        variables=base.variables,
        computed=True,
        function="resample_in_time",
        input_datasets=["demo"],
        input_params={"period": "1W"},
    )
    demo_catalog.register(meta)
    df = demo_catalog.cube("demo-1w", 0)
    weeks = sorted(
        r["time"].date().isoformat()
        for r in df.select("time").distinct().collect()
    )
    # golden labels: pandas 1W Sunday anchors for the demo timestamps
    # (test/controllers/test_time_series.py:138 — first three; our synth cube
    # spans Jan 16-30 → weeks ending Jan 22, Jan 29, Feb 5)
    assert weeks == ["2017-01-22", "2017-01-29", "2017-02-05"]
    assert df.select("time").distinct().count() == 3
    # mean of timesteps within one week: week of Jan 22 contains t0 only
    one = df.filter(
        (F.col("lat_idx") == 10) & (F.col("lon_idx") == 10)
    ).orderBy("time").collect()
    l0 = demo_catalog.cube("demo", 0).filter(
        (F.col("lat_idx") == 10) & (F.col("lon_idx") == 10)
    ).orderBy("time_idx").collect()
    assert one[0]["kd489"] == pytest.approx(l0[0]["kd489"], abs=1e-6)
    week2 = np.mean([l0[1]["kd489"], l0[2]["kd489"], l0[3]["kd489"]])
    assert one[1]["kd489"] == pytest.approx(float(week2), abs=1e-5)

    # independent oracle: pandas resample('1W').mean() of the input,
    # collected on the driver, for every output step (weeks of 1 and of 3
    # input steps) and a sample of cells
    cells = F.lit(False)
    for i, j in ((0, 0), (10, 10), (37, 151), (99, 199), (63, 5)):
        cells |= (F.col("lat_idx") == i) & (F.col("lon_idx") == j)
    var_names = ["conc_chl", "conc_tsm", "kd489"]
    want = {
        key: g.set_index("time")[var_names].resample("1W").mean()
        for key, g in demo_catalog.cube("demo", 0).filter(cells)
        .toPandas().groupby(["lat_idx", "lon_idx"])
    }
    labels = next(iter(want.values())).index
    assert demo_catalog.times("demo-1w") == [
        ts.strftime("%Y-%m-%d %H:%M:%S") for ts in labels
    ]
    for t, label in enumerate(labels):
        got = demo_catalog.cube("demo-1w", 0, t).filter(cells).toPandas()
        assert len(got) == len(want)
        for _, row in got.iterrows():
            assert row["time_idx"] == t and row["time"] == label
            expected = want[(row["lat_idx"], row["lon_idx"])].loc[label]
            for v in var_names:
                if pd.isna(expected[v]):
                    assert pd.isna(row[v]), (t, v)
                else:
                    assert row[v] == pytest.approx(expected[v], abs=1e-5), (t, v)


# -- places ------------------------------------------------------------------


@pytest.fixture(scope="session")
def places_df(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("places")
    inside = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"Name": f"p{i}", "ID": i},
             "geometry": {"type": "Point", "coordinates": c}}
            for i, c in enumerate([[1.5, 52.1], [2.5, 51.5], [4.5, 51.0]])
        ],
    }
    outside = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"Name": f"q{i}", "ID": i},
             "geometry": {"type": "Point", "coordinates": c}}
            for i, c in enumerate([[-150.0, -30.0], [120.0, 10.0], [30.0, 60.0]])
        ],
    }
    json.dump(inside, open(d / "inside-cube.geojson", "w"))
    json.dump(outside, open(d / "outside-cube.geojson", "w"))
    g1 = load_place_group(spark, "inside-cube", str(d / "inside-cube.geojson"))
    g2 = load_place_group(spark, "outside-cube", str(d / "outside-cube.geojson"))
    return union_place_groups([g1, g2])


def test_places_load_reassigns_ids_and_strips_id(places_df):
    rows = places_df[places_df["collection"] == "inside-cube"].to_dict("records")
    assert [r["feature_id"] for r in rows] == ["0", "1", "2"]
    for r in rows:
        assert "ID" not in r["properties"] and "Name" in r["properties"]


def test_places_bbox_filter_returns_inside(places_df):
    # F-8 golden: bbox covering the demo extent returns exactly inside-cube
    out = find_places(places_df, bbox=DEMO_EXTENT).to_dict("records")
    assert sorted(r["properties"]["Name"] for r in out) == ["p0", "p1", "p2"]


def test_places_polygon_and_query_expr(places_df):
    # quad covering p0 (1.5, 52.1) and p1 (2.5, 51.5) but not p2 (4.5, 51.0)
    quad = {
        "type": "Polygon",
        "coordinates": [[[1.0, 51.0], [3.0, 51.0], [3.0, 52.4], [1.0, 52.4], [1.0, 51.0]]],
    }
    out = find_places(places_df, geometry=quad).to_dict("records")
    assert sorted(r["properties"]["Name"] for r in out) == ["p0", "p1"]
    # P11 query_expr — implemented (reference raises NotImplementedError,
    # xcube_server/controllers/places.py:84)
    out2 = find_places(
        places_df, bbox=DEMO_EXTENT, query_expr="properties['Name'] = 'p1'"
    ).to_dict("records")
    assert len(out2) == 1 and out2[0]["properties"]["Name"] == "p1"


# -- metadata ----------------------------------------------------------------


def test_metadata_endpoints(demo_catalog):
    ds = get_datasets(demo_catalog, details=True)
    entry = [d for d in ds["datasets"] if d["id"] == "demo"][0]
    assert entry["bbox"] == list(DEMO_EXTENT)
    assert {v["id"] for v in entry["variables"]} >= {"conc_chl", "conc_tsm"}
    chl = [v for v in entry["variables"] if v["id"] == "conc_chl"][0]
    assert chl["colorBarMax"] == 24.0 and chl["shape"] == [5, H, W]
    coords = get_coordinates(demo_catalog, "demo", "time")
    assert coords["size"] == 5 and coords["coordinates"][0] == "2017-01-16T10:09:22Z"
    lat = get_coordinates(demo_catalog, "demo", "lat")
    assert lat["size"] == H and lat["coordinates"][0] > lat["coordinates"][-1]
    # the spatial dumps come from the grid metadata the dim tables were
    # written from, and equal those tables
    base = demo_catalog.datasets["demo"].base_path
    for dim in ("lat", "lon"):
        table = demo_catalog.spark.read.parquet(f"{base}/coords_{dim}")
        assert get_coordinates(demo_catalog, "demo", dim)["coordinates"] == [
            r["value"] for r in table.orderBy("idx").collect()
        ]
    tg = get_tile_grid(demo_catalog, "demo")
    assert tg["tileSize"] == [64, 64]


def test_catalog_roundtrip(spark, demo_catalog):
    base = demo_catalog.datasets["demo"].base_path
    cat2 = CubeCatalog(spark)
    meta = cat2.load_meta("demo", base)
    assert meta.grid.extent == DEMO_EXTENT
    assert meta.styles["conc_chl"].value_range == (0.0, 24.0)
    assert cat2.cube("demo", 0).count() == len(DEMO_TIMES) * W * H


def _spark_tile(catalog, ds_id, var, z, x, y, **kw) -> bytes:
    """One tile through the distributed render plan."""
    rows = render_tiles(catalog, ds_id, var, z, tiles=[(x, y)], **kw).collect()
    return bytes(rows[0]["png"])


def test_tile_fast_path_matches_spark_path(demo_catalog):
    """Driver-side pyarrow fast path must produce byte-identical PNGs to the
    distributed render plan (same pruning, same fused render fn)."""
    import time as _time

    fast = TileService(demo_catalog)
    for (z, x, y) in [(2, 0, 0), (2, 1, 1), (2, 3, 1), (1, 0, 0)]:
        assert fast.get_tile("demo", "kd489", z, x, y, time="current") == \
            _spark_tile(demo_catalog, "demo", "kd489", z, x, y, time="current")
    # out-of-range tile: fully transparent via the fast path too
    png = fast.get_tile("demo", "kd489", 2, 50, 50)
    assert decode_rgba_png(png)[..., 3].max() == 0
    # latency: an uncached fast-path tile must be far below Spark-job cost
    t0 = _time.perf_counter()
    fast.get_tile("demo", "conc_chl", 2, 1, 0, time="current")
    dt = _time.perf_counter() - t0
    assert dt < 1.0, f"fast path took {dt:.3f}s"


def test_batched_point_timeseries_matches_single(demo_catalog):
    """N point members of ONE fan-out job must equal N single-point
    queries."""
    pts = [(2.1, 51.4), (1.2, 50.6), (-150.0, -30.0)]  # last one outside
    geoms = [{"type": "Point", "coordinates": list(p)} for p in pts]
    batched = time_series_for_geometry_collection(
        demo_catalog, "demo", "conc_tsm", geoms
    )
    rows = batched.collect()
    assert {r["geometry_id"] for r in rows} == {0, 1}  # outside point dropped
    for pid, (lon, lat) in [(0, pts[0]), (1, pts[1])]:
        single = time_series_for_point(
            demo_catalog, "demo", "conc_tsm", lon, lat
        ).collect()
        mine = [r for r in rows if r["geometry_id"] == pid]
        assert [
            (r["date"], r["total_count"], r["valid_count"], r["average"])
            for r in mine
        ] == [
            (r["date"], r["total_count"], r["valid_count"], r["average"])
            for r in single
        ]


def test_morton_zorder_expression(spark):
    """SQL Morton expression must match the driver-side reference impl, and
    Z-ordering must cluster 2-D neighbors better than row-major order."""
    from xcube_server_spark.cube.grid import morton_code, morton_interleave_expr

    df = spark.createDataFrame(
        [(i, j) for i in range(16) for j in range(16)], "lat_idx int, lon_idx int"
    ).withColumn("z", F.expr(morton_interleave_expr()))
    rows = {(r["lat_idx"], r["lon_idx"]): r["z"] for r in df.collect()}
    for (i, j), z in rows.items():
        assert z == morton_code(i, j), (i, j)
    # locality: a 4x4 query box spans a bounded z-range in z-order, but the
    # full row-major span in row-major order
    box = [rows[(i, j)] for i in range(4, 8) for j in range(4, 8)]
    z_span = max(box) - min(box)
    rowmajor_span = (7 * 16 + 7) - (4 * 16 + 4)  # same box, row-major keys
    assert z_span < 2 * rowmajor_span  # tight, interleaved range
    assert sorted(box) == list(range(min(box), max(box) + 1)) or z_span < 256


def test_zorder_layout_roundtrip(spark, tmp_path):
    """Z-order layout must not change any query result — only the file
    clustering."""
    base = str(tmp_path / "zcube")
    cube, grid = synth_demo_cube(spark, width=40, height=20)
    _, tg = write_cube(cube, grid, base, tile_size=16, layout="zorder")
    cat = CubeCatalog(spark)
    cat.register_written_cube("zdemo", base, grid, tg, ["conc_chl", "conc_tsm", "kd489"])
    df = time_series_for_point(cat, "zdemo", "conc_tsm", 2.1, 51.4)
    rows = df.collect()
    assert len(rows) == 5 and rows[0]["total_count"] == 1
    assert cat.cube("zdemo", 0).count() == 5 * 40 * 20


def test_inv_y_cube_orientation(spark, tmp_path):
    """F-3-style ascending-lat cube: index math must invert, and the
    rendered PNG must still put NORTH at the top (flip_y path)."""
    from xcube_server_spark.sources.cube_ingest import synth_noise_cube

    base = str(tmp_path / "noise")
    cube, grid = synth_noise_cube(spark, width=32, height=16)
    assert grid.inv_y
    # index math: higher lat -> higher lat_idx when inv_y
    assert grid.lat_idx_of(80.0) > grid.lat_idx_of(-80.0)
    assert grid.lat_of(0) < grid.lat_of(15)
    _, tg = write_cube(cube, grid, base, tile_size=32)
    cat = CubeCatalog(spark)
    cat.register_written_cube(
        "noise", base, grid, tg, ["noise"],
        styles={"noise": StyleMeta("gray", (0.0, 1.0))},
    )
    png = _spark_tile(cat, "noise", "noise", tg.num_levels - 1, 0, 0)
    rgba = decode_rgba_png(png)
    # gray cmap: pixel brightness ~ value; north (top row) has value ~1,
    # south (bottom row) ~0 -> top must be brighter
    top = rgba[0, :, 0].astype(int).mean()
    bottom = rgba[15, :, 0].astype(int).mean()
    assert top > bottom + 100, (top, bottom)
    # fast path agrees with the Spark path on flipped grids too
    fast = TileService(cat)
    assert fast.get_tile("noise", "noise", tg.num_levels - 1, 0, 0) == png


def test_computed_tiles_match_spark_render_inv_y(spark, tmp_path):
    """On an ascending-lat (inv_y) cube, every tile of a weekly dataset at
    every zoom, a full and a partial week, is the PNG of ``render_tiles``."""
    from xcube_server_spark.cube.catalog import DatasetMeta
    from xcube_server_spark.sources.cube_ingest import synth_noise_cube

    base = str(tmp_path / "noise")
    cube, grid = synth_noise_cube(spark, width=64, height=32, days=9)
    _, tg = write_cube(cube, grid, base, tile_size=16)
    cat = CubeCatalog(spark)
    styles = {"noise": StyleMeta("gray", (0.0, 1.0))}
    cat.register_written_cube("noise", base, grid, tg, ["noise"], styles=styles)
    cat.register(DatasetMeta(
        identifier="noise-1w", title="weekly", base_path="", grid=grid,
        tile_grid=tg, variables=["noise"], styles=styles, computed=True,
        function="resample_in_time", input_datasets=["noise"],
        input_params={"period": "1W"},
    ))
    # Jan 1-6 (6 steps) and Jan 7-9 (3 steps)
    assert cat.times("noise-1w") == ["2019-01-06 00:00:00", "2019-01-13 00:00:00"]
    svc = TileService(cat)
    for week in cat.times("noise-1w"):
        for z in range(tg.num_levels):
            rows = render_tiles(cat, "noise-1w", "noise", z, time=week).collect()
            assert rows
            for r in rows:
                x, y = r["tile_x"], r["tile_y"]
                got = svc.get_tile("noise-1w", "noise", z, x, y, time=week)
                assert got == bytes(r["png"]), (week, z, x, y)


def test_feature_info_inv_y_coarser_zoom(spark, tmp_path):
    """GetFeatureInfo on an ascending-lat (inv_y) cube below native zoom:
    lon/lat are the centre of that level's cell, and the value is the cell
    under the tile pixel, for the driver read and the Spark read of a
    computed dataset alike."""
    from xcube_server_spark.cube.catalog import DatasetMeta
    from xcube_server_spark.sources.cube_ingest import synth_noise_cube

    base = str(tmp_path / "noise")
    cube, grid = synth_noise_cube(spark, width=64, height=32)
    _, tg = write_cube(cube, grid, base, tile_size=16)
    cat = CubeCatalog(spark)
    cat.register_written_cube("noise", base, grid, tg, ["noise"])
    cat.register(DatasetMeta(
        identifier="noise-1w", title="weekly", base_path="", grid=grid,
        tile_grid=tg, variables=["noise"], computed=True,
        function="resample_in_time", input_datasets=["noise"],
        input_params={"period": "1W"},
    ))
    svc = TileService(cat)
    z = tg.num_levels - 2  # one level below native: 32x16 cells
    level = tg.level_for_zoom(z)
    assert level == 1
    x, y, i, j = 1, 0, 5, 3
    col, disp_row = 16 * x + i, 16 * y + j
    lat_idx = 15 - disp_row  # row 0 of the display is the level's top row
    pdf = svc._read_tile_fast("noise", "noise", z, x, y, 0)
    (under_pixel,) = pdf.loc[
        (pdf["disp_row"] == disp_row) & (pdf["lon_idx"] == col), "noise"
    ]
    for ds in ("noise", "noise-1w"):
        info = svc.get_feature_info(ds, "noise", z, x, y, i, j)
        assert info["lon"] == -180.0 + (col + 0.5) * (360.0 / 32)
        assert info["lat"] == -90.0 + (lat_idx + 0.5) * (180.0 / 16)
        (expected,) = (
            cat.cube(ds, level)
            .filter(
                (F.col("time_idx") == 0)
                & (F.col("lat_idx") == lat_idx)
                & (F.col("lon_idx") == col)
            )
            .select("noise")
            .first()
        )
        assert info["value"] == pytest.approx(expected, abs=1e-6), ds
        assert info["value"] == pytest.approx(float(under_pixel), abs=1e-6), ds


def test_computed_cube_time_axis_and_tiles(spark, demo_catalog):
    """A computed cube's time axis must be the COMPUTED frame's axis (weekly
    labels), not the input's timestamps — and tile queries must resolve
    `time=` against it (nearest + 'current')."""
    from xcube_server_spark.cube.catalog import DatasetMeta

    if "demo-1w-axis" not in demo_catalog.datasets:
        base = demo_catalog.datasets["demo"]
        demo_catalog.register(
            DatasetMeta(
                identifier="demo-1w-axis",
                title="weekly",
                base_path="",
                grid=base.grid,
                tile_grid=base.tile_grid,
                variables=base.variables,
                computed=True,
                function="resample_in_time",
                input_datasets=["demo"],
                input_params={"period": "1W"},
            )
        )
    times = demo_catalog.times("demo-1w-axis")
    assert times == [
        "2017-01-22 00:00:00", "2017-01-29 00:00:00", "2017-02-05 00:00:00",
    ]
    # base axis unchanged
    assert demo_catalog.times("demo")[0].startswith("2017-01-16")
    # tile render against the weekly axis: 'current' = last week
    rows = render_tiles(
        demo_catalog, "demo-1w-axis", "kd489", z=0, time="current"
    ).collect()
    assert rows and all(r["png"][:8] == b"\x89PNG\r\n\x1a\n" for r in rows)


def test_linked_level_indirection(spark, demo_catalog, tmp_path):
    """`l{i}.link` pointer files graft an externally-stored level into the
    pyramid (parity: FileStorageMultiLevelDataset's `{i}.link`,
    xcube_server/mldataset.py:136-198): the catalog resolves the link for
    both the Spark read and the driver tile fast path, and a relative
    target resolves against the dataset dir."""
    import shutil

    src_meta = demo_catalog.datasets["demo"]
    top = src_meta.tile_grid.num_levels - 1
    base = str(tmp_path / "linked_demo")
    shutil.copytree(src_meta.base_path, base)
    # move the coarsest level out of the dataset dir, leave a pointer
    external = str(tmp_path / "external_store" / "coarse")
    shutil.move(f"{base}/l{top}", external)
    with open(f"{base}/l{top}.link", "w") as f:
        f.write(external + "\n")

    cat = CubeCatalog(spark)
    meta = cat.load_meta("linked", base)
    meta.styles = dict(src_meta.styles)
    assert cat.level_path("linked", top) == external
    assert cat.level_path("linked", 0).endswith("/l0")  # no link -> direct
    # the linked level serves identically to the original
    orig = demo_catalog.cube("demo", top).count()
    assert cat.cube("linked", top).count() == orig > 0
    # tile service renders from the linked level (zoom 0 = coarsest)
    png = TileService(cat).get_tile("linked", "conc_tsm", 0, 0, 0, time="current")
    ref = TileService(demo_catalog).get_tile(
        "demo", "conc_tsm", 0, 0, 0, time="current"
    )
    assert png == ref
    # relative link target also resolves
    with open(f"{base}/l{top}.link", "w") as f:
        f.write("l0\n")
    cat2 = CubeCatalog(spark)
    cat2.load_meta("linked2", base)
    assert cat2.level_path("linked2", top).endswith("/l0")
