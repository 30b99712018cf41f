"""HTTP service-layer tests: drive the reference's REST surface end-to-end
against a live server (route parity with ``xcube_server/app.py:38-104``)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from xcube_server_spark.cube.catalog import CubeCatalog, StyleMeta
from xcube_server_spark.cube.places import load_place_group
from xcube_server_spark.server.app import CubeServer
from xcube_server_spark.sources.cube_ingest import synth_demo_cube, write_cube
from xcube_server_spark.sources.png import decode_rgba_png


@pytest.fixture(scope="module")
def cube_server(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("srv") / "demo")
    cube, grid = synth_demo_cube(spark, width=64, height=32)
    _, tg = write_cube(cube, grid, base, tile_size=32)
    cat = CubeCatalog(spark)
    cat.register_written_cube(
        "demo", base, grid, tg, ["conc_chl", "conc_tsm", "kd489"],
        styles={"conc_tsm": StyleMeta("plasma", (0.0, 100.0))},
    )
    d = tmp_path_factory.mktemp("geo")
    (d / "pts.geojson").write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"Name": "inside"},
             "geometry": {"type": "Point", "coordinates": [2.0, 51.5]}},
            {"type": "Feature", "properties": {"Name": "outside"},
             "geometry": {"type": "Point", "coordinates": [-150.0, -30.0]}},
        ],
    }))
    places = load_place_group(spark, "pts", str(d / "pts.geojson"))
    srv = CubeServer(cat, places=places)
    srv.start()
    yield srv
    srv.stop()


@pytest.fixture(scope="module")
def server(cube_server):
    return f"http://127.0.0.1:{cube_server.port}"


def _get(url: str):
    try:
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.status, r.headers.get("Content-Type"), r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type"), e.read()


def _get_json(url: str):
    status, _, body = _get(url)
    return status, json.loads(body)


def _post_raw(url: str, headers: dict):
    """Body-less POST with exactly the given headers (no Content-Length
    unless given)."""
    import http.client
    from urllib.parse import urlparse

    u = urlparse(url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=30)
    try:
        conn.putrequest("POST", u.path)
        for k, v in headers.items():
            conn.putheader(k, v)
        conn.endheaders()
        r = conn.getresponse()
        return r.status, r.read()
    finally:
        conn.close()


def test_datasets_endpoint(server):
    status, doc = _get_json(f"{server}/datasets?details=1")
    assert status == 200
    ds = doc["datasets"][0]
    assert ds["id"] == "demo" and len(ds["variables"]) == 3
    # details carry full per-dimension coordinate dumps (reference
    # controllers/catalogue.py:87-88; pinned by test_dataset_with_details)
    dims = {d["name"]: d for d in ds["dimensions"]}
    assert set(dims) == {"time", "lat", "lon"}
    assert dims["time"]["size"] == 5
    assert dims["lat"]["size"] == len(dims["lat"]["coordinates"])


def test_coords_endpoint(server):
    status, doc = _get_json(f"{server}/datasets/demo/coords/time")
    assert status == 200 and doc["size"] == 5
    assert doc["coordinates"][0] == "2017-01-16T10:09:22Z"
    status, doc = _get_json(f"{server}/datasets/demo/coords/depth")
    assert status == 404, doc


def test_tile_endpoint_and_style_override(server):
    status, ctype, body = _get(
        f"{server}/datasets/demo/vars/conc_tsm/tiles/0/0/0.png?time=current"
    )
    assert status == 200 and ctype == "image/png"
    rgba = decode_rgba_png(body)
    assert rgba.shape[2] == 4
    # style override via cbar/vmin/vmax (controllers/tiles.py:28-55)
    s2, _, body2 = _get(
        f"{server}/datasets/demo/vars/conc_tsm/tiles/0/0/0.png"
        "?time=current&cbar=gray&vmin=0&vmax=50"
    )
    assert s2 == 200 and body2 != body


def test_legend_and_colorbars(server):
    status, ctype, body = _get(f"{server}/datasets/demo/vars/conc_tsm/legend.png")
    assert status == 200 and ctype == "image/png"
    status, doc = _get_json(f"{server}/colorbars")
    names = [n for _, _, entries in doc for n, _ in entries]
    assert "viridis" in names and "viridis_alpha" in names
    # round-2 broadened registry: matplotlib + ColorBrewer + cmocean names
    # the reference exposes (im/cmaps.py:46-92), each with an _alpha variant
    for wanted in ("magma", "inferno", "RdBu", "Spectral", "thermal",
                   "haline", "Set1", "Blues"):
        assert wanted in names, wanted
        assert f"{wanted}_alpha" in names, wanted
    cats = [c for c, _, _ in doc]
    assert "Ocean" in cats and "Qualitative" in cats


def test_point_timeseries_endpoint(server):
    status, doc = _get_json(
        f"{server}/ts/demo/conc_tsm/point?lon=2.1&lat=51.4"
        "&startDate=2017-01-15&endDate=2017-01-29"
    )
    assert status == 200
    rows = doc["results"]
    assert len(rows) == 4
    assert rows[0]["result"]["totalCount"] == 1
    # all-NaN steps inside range -> validCount 0, average None
    assert rows[2]["result"]["validCount"] == 0
    assert rows[2]["result"]["average"] is None


def test_point_outside_returns_empty(server):
    status, doc = _get_json(f"{server}/ts/demo/conc_tsm/point?lon=-150&lat=-30")
    assert status == 200 and doc == {"results": []}


def test_geometry_timeseries_endpoint(server):
    body = json.dumps({
        "type": "Polygon",
        "coordinates": [[[1.0, 51.0], [2.0, 51.0], [2.0, 52.0], [1.0, 52.0], [1.0, 51.0]]],
    }).encode()
    req = urllib.request.Request(
        f"{server}/ts/demo/conc_tsm/geometry", data=body, method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        doc = json.loads(r.read())
    assert len(doc["results"]) == 5
    assert doc["results"][0]["result"]["totalCount"] > 0


def test_places_endpoint_with_bbox_and_expr(server):
    status, doc = _get_json(f"{server}/places/pts?bbox=0,50,5,52.5")
    assert status == 200
    names = [f["properties"]["Name"] for f in doc["features"]]
    assert names == ["inside"]
    status, doc = _get_json(
        f"{server}/places/all?expr=properties%5B%27Name%27%5D%20%3D%20%27outside%27"
    )
    assert [f["properties"]["Name"] for f in doc["features"]] == ["outside"]


def test_errors(server, cube_server, monkeypatch, capsys):
    from xcube_server_spark.server.app import MAX_BODY_BYTES

    status, doc = _get_json(f"{server}/nope")
    assert status == 404
    # out-of-range zoom -> clean 400, not a scan of a nonexistent level
    status, _, body = _get(f"{server}/datasets/demo/vars/kd489/tiles/9/0/0.png")
    assert status == 400 and b"out of range" in body
    status, _, body = _get(f"{server}/datasets/demo/vars/conc_tsm/tiles/0/0/zzz.png")
    assert status == 400
    assert b"must be an integer" in body
    # a missing required query / KVP parameter is a 400 naming it
    status, doc = _get_json(f"{server}/ts/demo/conc_chl/point?lat=51")
    assert status == 400 and "'lon'" in doc["error"]["message"]
    status, doc = _get_json(
        f"{server}/wmts/kvp?Service=WMTS&Request=GetTile"
        "&TileMatrix=0&TileCol=0&TileRow=0"
    )
    assert status == 400 and "'layer'" in doc["error"]["message"]
    # unknown dataset / variable stay 404
    status, _ = _get_json(f"{server}/ts/nope/conc_chl/point?lon=2&lat=51")
    assert status == 404
    # an unknown variable is a 404 before any read, for a stored and a
    # computed dataset alike, and the message holds no reader internals
    from xcube_server_spark.cube.catalog import DatasetMeta

    cat = cube_server.catalog
    base = cat.datasets["demo"]
    cat.register(DatasetMeta(
        identifier="demo-1w-err", title="weekly", base_path="", grid=base.grid,
        tile_grid=base.tile_grid, variables=base.variables, computed=True,
        function="resample_in_time", input_datasets=["demo"],
        input_params={"period": "1W"},
    ))
    geometry = _polygon(_INSIDE)
    try:
        for ds in ("demo", "demo-1w-err"):
            for url, body in (
                (f"/ts/{ds}/nope/point?lon=2&lat=51", None),
                (f"/ts/{ds}/nope/geometry", geometry),
                (f"/ts/{ds}/nope/geometries", {"geometries": [geometry]}),
                (f"/ts/{ds}/nope/places", {"features": [
                    {"type": "Feature", "properties": {}, "geometry": geometry}]}),
                (f"/datasets/{ds}/vars/nope/tiles/0/0/0.png", None),
                (f"/datasets/{ds}/vars/nope/legend.png", None),
                (f"/datasets/{ds}/vars/nope/tilegrid", None),
                (f"/wmts/kvp?Service=WMTS&Request=GetFeatureInfo&Layer={ds}.nope"
                 "&TileMatrix=0&TileCol=0&TileRow=0&I=0&J=0", None),
            ):
                status, doc = _ts_request(f"{server}{url}", body)
                assert status == 404, (url, doc)
                assert "'nope'" in doc["error"]["message"], (url, doc)
                assert "FieldRef" not in doc["error"]["message"], (url, doc)
    finally:
        del cat.datasets["demo-1w-err"]
    # a malformed time-series date bound is a 400 naming it
    for name in ("startDate", "endDate"):
        status, doc = _get_json(
            f"{server}/ts/demo/conc_chl/point?lon=2&lat=51&{name}=garbage"
        )
        assert status == 400 and f"'{name}'" in doc["error"]["message"]
        req = urllib.request.Request(
            f"{server}/ts/demo/conc_chl/geometry?{name}=2017-13-01",
            data=json.dumps(_polygon(_INSIDE)).encode(), method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req, timeout=60)
        assert e.value.code == 400 and name.encode() in e.value.read()
    # request bodies: Content-Length required, non-negative, capped
    for path in (
        "/ts/demo/conc_chl/geometry",
        "/ts/demo/conc_chl/geometries",
        "/ts/demo/conc_chl/places",
        "/places/all",
    ):
        assert _post_raw(f"{server}{path}", {})[0] == 400
        assert _post_raw(f"{server}{path}", {"Content-Length": "-1"})[0] == 400
        assert _post_raw(f"{server}{path}", {"Content-Length": "ten"})[0] == 400
        status, body = _post_raw(
            f"{server}{path}", {"Content-Length": str(MAX_BODY_BYTES + 1)}
        )
        assert status == 413, path
    # an unexpected failure is a 500 with a fixed message; the traceback
    # goes to stderr, not to the client
    def boom(*a, **kw):
        raise RuntimeError("internal detail /secret/path")

    monkeypatch.setattr(cube_server.tiles, "get_tile", boom)
    status, _, body = _get(f"{server}/datasets/demo/vars/kd489/tiles/0/0/0.png")
    assert status == 500
    assert json.loads(body)["error"]["message"] == "internal server error"
    assert b"secret" not in body and b"RuntimeError" not in body
    assert "/secret/path" in capsys.readouterr().err


def test_wmts_capabilities_and_kvp_tile(server):
    status, ctype, body = _get(f"{server}/wmts/1.0.0/WMTSCapabilities.xml")
    assert status == 200 and "xml" in ctype
    text = body.decode()
    assert "demo.conc_tsm" in text and "TileMatrixSet" in text
    assert "2017-01-16T10:09:22Z" in text  # time dimension values
    # structural parity with the reference golden capabilities
    # (test/res/test/WMTSCapabilities.xml): operations metadata with
    # KVP+REST DCPs, Themes tree, ServiceMetadataURL, identification
    # boilerplate
    for frag in (
        "OperationsMetadata", 'name="GetCapabilities"', 'name="GetTile"',
        'name="GetFeatureInfo"', ">KVP<", ">REST<",
        "Themes", "LayerRef", "ServiceMetadataURL",
        "AccessConstraints", "Keyword",
    ):
        assert frag in text, frag
    # KVP, case-insensitive keys (xcube_server/handlers.py:108-117)
    status, _, _ = _get(
        f"{server}/wmts/kvp?SERVICE=WMTS&ReQuEsT=GetCapabilities"
    )
    assert status == 200
    status, ctype, png = _get(
        f"{server}/wmts/kvp?Service=WMTS&Request=GetTile&Layer=demo.conc_tsm"
        "&TileMatrix=0&TileCol=0&TileRow=0&Time=current"
    )
    assert status == 200 and ctype == "image/png"
    assert png[:8] == b"\x89PNG\r\n\x1a\n"


def test_concurrent_tile_requests(server, cube_server):
    """8 parallel tile fetches through the threading server: all succeed,
    byte-identical per URL (cache + Spark scheduler under concurrent load)
    — with the default cache, and with one small enough to evict while
    requests are in flight."""
    import concurrent.futures

    from xcube_server_spark.cube.tiles import TileService

    styles = ["", "&cbar=gray&vmin=0&vmax=10"]
    coords = [(0, 0, 0), (1, 0, 0), (1, 1, 0)]
    urls = [
        f"{server}/datasets/demo/vars/kd489/tiles/{z}/{x}/{y}.png"
        f"?time=current{style}"
        for z, x, y in coords
        for style in styles
    ] * 4
    default = cube_server.tiles
    small = TileService(cube_server.catalog, capacity=4096)
    by_url = {}
    try:
        for tiles in (default, small):
            cube_server.tiles = tiles
            with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
                results = list(ex.map(_get, urls))
            assert all(s == 200 for s, _, _ in results)
            for url, (_, _, body) in zip(urls, results):
                by_url.setdefault(url, set()).add(body)
    finally:
        cube_server.tiles = default
    assert all(len(v) == 1 for v in by_url.values())  # deterministic bytes
    assert len(small._cache) < len(by_url)  # the small cache did evict
    assert small._cache._used == sum(len(v) for v in small._cache._data.values())


def test_cli_serve_end_to_end(spark, tmp_path):
    """The real user entrypoint: `python -m xcube_server_spark.cli serve -c
    config.yml` in a subprocess — config load, server up, endpoints answer."""
    import os
    import subprocess
    import sys
    import time

    from xcube_server_spark.cube.catalog import CubeCatalog
    from xcube_server_spark.sources.cube_ingest import synth_demo_cube, write_cube

    base = str(tmp_path / "cube")
    cube, grid = synth_demo_cube(spark, width=32, height=16)
    _, tg = write_cube(cube, grid, base, tile_size=16)
    cat = CubeCatalog(spark)
    meta = cat.register_written_cube("demo", base, grid, tg, ["conc_chl", "conc_tsm", "kd489"])
    cat.save_meta(meta)
    (tmp_path / "places").mkdir()
    (tmp_path / "places" / "towns.geojson").write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"Name": "t1"},
             "geometry": {"type": "Point", "coordinates": [1.0, 51.0]}},
        ],
    }))
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        f"Datasets:\n  - Identifier: demo\n    Title: CLI Demo\n    Path: {base}\n"
        "PlaceGroups:\n  - Identifier: towns\n    Title: Towns\n"
        "    Path: places/towns.geojson\n"
    )

    port = 18765
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.Popen(
        [sys.executable, "-m", "xcube_server_spark.cli", "serve",
         "-c", str(cfg), "-p", str(port)],
        cwd="/root/repo", env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.time() + 120
        doc = None
        while time.time() < deadline:
            try:
                status, doc = _get_json(f"http://127.0.0.1:{port}/datasets")
                break
            except OSError:
                time.sleep(2)
                if proc.poll() is not None:
                    raise AssertionError("server process exited early")
        assert doc is not None, "server did not come up in 120s"
        assert doc["datasets"][0]["title"] == "CLI Demo"
        s2, ctype, png = _get(
            f"http://127.0.0.1:{port}/datasets/demo/vars/kd489/tiles/0/0/0.png"
        )
        assert s2 == 200 and png[:8] == b"\x89PNG\r\n\x1a\n"
        # config-loaded PlaceGroups are served (xcube_server/context.py:343-399)
        s3, groups = _get_json(f"http://127.0.0.1:{port}/places")
        assert s3 == 200 and groups["placeGroups"] == [
            # title = configured Title, not the id echo (ADVICE r01)
            {"id": "towns", "title": "Towns", "featureCount": 1}
        ]
        s4, fc = _get_json(f"http://127.0.0.1:{port}/places/towns")
        assert s4 == 200 and fc["features"][0]["properties"]["Name"] == "t1"
    finally:
        proc.terminate()
        proc.wait(timeout=15)


def test_root_and_client_tilegrids(server):
    status, doc = _get_json(f"{server}/")
    assert status == 200 and doc["name"] == "xcube-server-spark"
    status, ol4 = _get_json(f"{server}/datasets/demo/vars/conc_tsm/tilegrid?client=ol4")
    assert status == 200
    assert ol4["projection"] == "EPSG:4326"
    assert len(ol4["tileGrid"]["resolutions"]) == 2
    assert ol4["tileGrid"]["origin"][1] == 52.5  # north
    assert "{z}" in ol4["url"] and "conc_tsm" in ol4["url"]
    status, ces = _get_json(f"{server}/datasets/demo/vars/conc_tsm/tilegrid?client=cesium")
    assert ces["tilingScheme"]["numberOfLevelZeroTilesX"] >= 1
    assert ces["rectangle"]["north"] == 52.5


def _post_json(url: str, obj):
    req = urllib.request.Request(
        url, data=json.dumps(obj).encode(), method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.loads(r.read())


def test_single_dataset_endpoint(server):
    status, doc = _get_json(f"{server}/datasets/demo")
    assert status == 200 and doc["id"] == "demo"
    assert {v["name"] for v in doc["variables"]} == {"conc_chl", "conc_tsm", "kd489"}
    assert all(v["dims"] == ["time", "lat", "lon"] for v in doc["variables"])
    status, doc = _get_json(f"{server}/datasets/demo?tiles=ol4")
    assert status == 200
    assert all("tileSourceOptions" in v for v in doc["variables"])
    assert "{z}" in doc["variables"][0]["tileSourceOptions"]["url"]


def test_colorbars_html(server):
    status, ctype, body = _get(f"{server}/colorbars.html")
    assert status == 200 and ctype.startswith("text/html")
    assert b"data:image/png;base64" in body


def test_ne2_static_tiles(server):
    status, doc = _get_json(f"{server}/ne2/tilegrid")
    # reference ol4 shape (test_tiles.py::test_get_ne2_tile_grid):
    # 3 levels, 2x1 256px level-zero tiles -> resolutions 0.703125...
    assert doc["minZoom"] == 0 and doc["maxZoom"] == 2
    assert doc["tileGrid"]["resolutions"] == [0.703125, 0.3515625, 0.17578125]
    assert doc["tileGrid"]["origin"] == [-180.0, 90.0]
    # unknown tile client -> 400
    import urllib.error as _ue
    import urllib.request as _ur

    try:
        _ur.urlopen(f"{server}/ne2/tilegrid?tiles=cesium", timeout=60)
        raise AssertionError("expected 400")
    except _ue.HTTPError as e:
        assert e.code == 400 and "Unknown tile client" in e.read().decode()
    assert status == 200
    assert doc["tileGrid"]["extent"] == [-180.0, -90.0, 180.0, 90.0]
    status, ctype, body = _get(f"{server}/ne2/tiles/0/0/0.jpg")
    # no pyramid configured -> transparent PNG fallback, never a 404
    assert status == 200 and ctype == "image/png"


def test_ts_info_endpoint(server):
    status, doc = _get_json(f"{server}/ts")
    names = {l["name"] for l in doc["layers"]}
    assert status == 200 and "demo.conc_chl" in names
    layer = next(l for l in doc["layers"] if l["name"] == "demo.conc_chl")
    assert layer["dates"] and layer["bounds"]["xmax"] > layer["bounds"]["xmin"]


def test_ts_geometries_fanout_endpoint(server):
    body = {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": [2.0, 51.5]},
            {"type": "Polygon", "coordinates": [[
                [1.0, 51.0], [3.0, 51.0], [3.0, 52.0], [1.0, 52.0], [1.0, 51.0],
            ]]},
        ],
    }
    status, doc = _post_json(f"{server}/ts/demo/conc_chl/geometries", body)
    assert status == 200 and len(doc["results"]) == 2
    point_res, poly_res = doc["results"]
    assert all(r["result"]["totalCount"] == 1 for r in point_res["results"])
    assert all(r["result"]["totalCount"] > 1 for r in poly_res["results"])


def test_ts_places_fanout_endpoint(server):
    body = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {},
             "geometry": {"type": "Point", "coordinates": [2.0, 51.5]}},
        ],
    }
    status, doc = _post_json(f"{server}/ts/demo/conc_chl/places", body)
    assert status == 200 and len(doc["results"]) == 1
    assert doc["results"][0]["results"]


# -- time series: driver read vs Spark plan ---------------------------------

_INSIDE = [[1.0, 51.0], [2.0, 51.0], [2.0, 52.0], [1.0, 52.0], [1.0, 51.0]]
_PARTLY = [[-0.6, 50.3], [0.7, 50.2], [0.8, 51.1], [-0.5, 51.2], [-0.6, 50.3]]
_OUTSIDE = [[10.0, 10.0], [11.0, 10.0], [11.0, 11.0], [10.0, 11.0], [10.0, 10.0]]


def _polygon(ring) -> dict:
    return {"type": "Polygon", "coordinates": [ring]}


def _ts_request(url: str, body=None, rid: str | None = None):
    """(status, JSON) of a GET, or of a POST when ``body`` is given."""
    headers = {"Content-Type": "application/json"}
    if rid is not None:
        headers["X-Request-Id"] = rid
    req = urllib.request.Request(
        url, headers=headers, method="GET" if body is None else "POST",
        data=None if body is None else json.dumps(body).encode(),
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _jobs(catalog, rid: str) -> list[int]:
    """Spark jobs launched under job group ``rid``, once the listener bus
    has caught up."""
    sc = catalog.spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(rid))


def _spark_series(rows) -> list[dict]:
    return [
        {"date": r["date"], "result": {"totalCount": r["total_count"],
                                       "validCount": r["valid_count"],
                                       "average": r["average"]}}
        for r in rows
    ]


def _assert_same_series(got: list[dict], want: list[dict]) -> None:
    assert [g["date"] for g in got] == [w["date"] for w in want]
    for g, w in zip(got, want):
        gr, wr = g["result"], w["result"]
        assert (gr["totalCount"], gr["validCount"]) == (
            wr["totalCount"], wr["validCount"]
        ), g["date"]
        if wr["average"] is None:
            assert gr["average"] is None, g["date"]
        else:
            assert gr["average"] == pytest.approx(wr["average"], rel=1e-9)


def _spark_answer(cat, ds, var, op, body=None, start=None, end=None, **point):
    """What the Spark plan of route ``op`` answers, in the HTTP shape."""
    from xcube_server_spark.cube.timeseries import (
        time_series_for_geometry,
        time_series_for_geometry_collection,
        time_series_for_point,
    )

    ts = dict(start=start, end=end)
    if op == "point":
        df = time_series_for_point(cat, ds, var, **point, **ts)
    elif op == "geometry":
        df = time_series_for_geometry(cat, ds, var, body, **ts)
    else:
        geoms = body.get("geometries") or [f["geometry"] for f in body["features"]]
        per_geom = [[] for _ in geoms]
        for r in time_series_for_geometry_collection(cat, ds, var, geoms, **ts).collect():
            per_geom[r["geometry_id"]].append(r)
        return {"results": [{"results": _spark_series(rs)} for rs in per_geom]}
    return {"results": _spark_series([] if df is None else df.collect())}


def _assert_same_answer(got: dict, want: dict) -> None:
    assert len(got["results"]) == len(want["results"])
    if want["results"] and "results" in want["results"][0]:
        for g, w in zip(got["results"], want["results"]):
            _assert_same_series(g["results"], w["results"])
    else:
        _assert_same_series(got["results"], want["results"])


def test_ts_routes_match_spark_plans_without_a_job(server, cube_server):
    """Every time-series route of a stored cube answers from the driver
    read, row for row what the route's Spark plan answers, and launches no
    Spark job."""
    cat = cube_server.catalog
    collection = {"type": "GeometryCollection", "geometries": [
        {"type": "Point", "coordinates": [2.1, 51.4]},
        {"type": "Point", "coordinates": [-150.0, -30.0]},  # off the grid
        _polygon(_INSIDE), _polygon(_PARTLY), _polygon(_OUTSIDE),
        _polygon([[1.5, 51.5], [2.5, 51.5], [2.5, 52.2], [1.5, 51.5]]),
    ]}
    features = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {}, "geometry": g}
        for g in collection["geometries"][:3]
    ]}
    cases = [  # (var, op, query, body, Spark start/end)
        ("conc_tsm", "point", "lon=2.1&lat=51.4", None, {}),
        ("conc_chl", "point", "lon=4.96&lat=50.01", None, {}),
        ("conc_tsm", "point", "lon=-150&lat=-30", None, {}),
        # inclusive at both ends, with and without a time of day
        ("conc_tsm", "point",
         "lon=2.1&lat=51.4&startDate=2017-01-25T09:35:51Z&endDate=2017-01-28",
         None, {"start": "2017-01-25 09:35:51", "end": "2017-01-28 00:00:00"}),
        ("kd489", "point",
         "lon=2.1&lat=51.4&startDate=2017-01-16&endDate=2017-01-28T09:58:11",
         None, {"start": "2017-01-16 00:00:00", "end": "2017-01-28 09:58:11"}),
        ("conc_tsm", "geometry", "", _polygon(_INSIDE), {}),
        ("conc_chl", "geometry", "", _polygon(_PARTLY), {}),
        ("conc_chl", "geometry", "", _polygon(_OUTSIDE), {}),
        ("kd489", "geometry", "", {"type": "Point", "coordinates": [2.1, 51.4]}, {}),
        ("conc_tsm", "geometry", "startDate=2017-01-26", _polygon(_INSIDE),
         {"start": "2017-01-26 00:00:00"}),
        ("conc_chl", "geometries", "", collection, {}),
        ("conc_tsm", "geometries", "endDate=2017-01-27", collection,
         {"end": "2017-01-27 00:00:00"}),
        ("kd489", "places", "", features, {}),
    ]
    for k, (var, op, query, body, bounds) in enumerate(cases):
        rid = f"ts-parity-{k}"
        status, got = _ts_request(f"{server}/ts/demo/{var}/{op}?{query}", body, rid)
        assert status == 200, (k, got)
        point = {}
        if op == "point":
            lon, lat = (float(kv.split("=")[1]) for kv in query.split("&")[:2])
            point = {"lon": lon, "lat": lat}
        _assert_same_answer(got, _spark_answer(cat, "demo", var, op, body, **bounds, **point))
        assert _jobs(cat, rid) == [], (k, op, query)
    # the all-NULL conc_tsm steps are rows with validCount 0, not gaps
    status, got = _ts_request(f"{server}/ts/demo/conc_tsm/geometry", _polygon(_INSIDE))
    assert [r["result"]["validCount"] for r in got["results"]][2:4] == [0, 0]
    # a partly-outside polygon counts its in-grid mask only
    assert 0 < got["results"][0]["result"]["totalCount"]


def test_ts_inv_y_grid_matches_spark_plan(server, cube_server, spark, tmp_path):
    """Ascending-latitude (inv_y) grids: the driver read finds the same
    cells as the Spark plan."""
    from xcube_server_spark.sources.cube_ingest import synth_noise_cube

    cube, grid = synth_noise_cube(spark, width=32, height=16)
    _, tg = write_cube(cube, grid, str(tmp_path / "noise"), tile_size=16)
    cat = cube_server.catalog
    cat.register_written_cube("noise", str(tmp_path / "noise"), grid, tg, ["noise"])
    try:
        poly = _polygon([[10.0, 20.0], [60.0, 25.0], [50.0, 70.0], [10.0, 20.0]])
        for op, query, body, point in (
            ("point", "lon=30&lat=45", None, {"lon": 30.0, "lat": 45.0}),
            ("point", "lon=-100&lat=-80", None, {"lon": -100.0, "lat": -80.0}),
            ("geometry", "", poly, {}),
            ("geometries", "", {"geometries": [poly, {
                "type": "Point", "coordinates": [30.0, 45.0]}]}, {}),
        ):
            status, got = _ts_request(f"{server}/ts/noise/noise/{op}?{query}", body, f"inv-y-{op}")
            assert status == 200 and got["results"]
            _assert_same_answer(got, _spark_answer(cat, "noise", "noise", op, body, **point))
            assert _jobs(cat, f"inv-y-{op}") == []
    finally:
        del cat.datasets["noise"]


def test_ts_spark_plan_answers_what_the_driver_read_declines(
    server, cube_server, monkeypatch
):
    """A window over the driver read's row budget still runs the route's
    Spark plan, for a stored and a computed dataset; a computed dataset
    within the budget is answered by the driver read, with no job."""
    from xcube_server_spark.cube import catalog
    from xcube_server_spark.cube.catalog import DatasetMeta

    cat = cube_server.catalog
    base = cat.datasets["demo"]
    cat.register(DatasetMeta(
        identifier="demo-1w-ts", title="weekly", base_path="", grid=base.grid,
        tile_grid=base.tile_grid, variables=base.variables, computed=True,
        function="resample_in_time", input_datasets=["demo"],
        input_params={"period": "1W"},
    ))
    try:
        status, got = _ts_request(
            f"{server}/ts/demo-1w-ts/conc_chl/point?lon=2.1&lat=51.4", rid="ts-computed"
        )
        assert status == 200 and got["results"]
        _assert_same_answer(got, _spark_answer(
            cat, "demo-1w-ts", "conc_chl", "point", lon=2.1, lat=51.4))
        assert _jobs(cat, "ts-computed") == []
        monkeypatch.setattr(catalog, "WINDOW_ROW_BUDGET", 100)
        for ds in ("demo", "demo-1w-ts"):
            for op, body in (
                ("geometry", _polygon(_INSIDE)),
                ("geometries", {"geometries": [_polygon(_INSIDE), _polygon(_PARTLY)]}),
            ):
                rid = f"ts-budget-{ds}-{op}"
                status, got = _ts_request(f"{server}/ts/{ds}/conc_chl/{op}", body, rid)
                assert status == 200
                _assert_same_answer(got, _spark_answer(cat, ds, "conc_chl", op, body))
                assert _jobs(cat, rid)
    finally:
        del cat.datasets["demo-1w-ts"]
    # a window within the budget still reads on the driver
    status, _ = _ts_request(
        f"{server}/ts/demo/conc_chl/point?lon=2.1&lat=51.4", rid="ts-budget-point"
    )
    assert status == 200 and _jobs(cat, "ts-budget-point") == []


# -- request threads ---------------------------------------------------------


def test_more_concurrent_requests_than_workers(server):
    """Three times as many concurrent requests as request threads: the
    surplus waits in the pool's queue and every request is answered."""
    import concurrent.futures

    from xcube_server_spark.server.app import REQUEST_THREADS

    urls = [
        f"{server}/ts/demo/kd489/point?lon={1 + 0.1 * k}&lat=51.2"
        if k % 2 else f"{server}/datasets/demo/vars/kd489/tiles/1/{k % 2}/0.png"
        for k in range(3 * REQUEST_THREADS)
    ]
    with concurrent.futures.ThreadPoolExecutor(max_workers=len(urls)) as ex:
        statuses = [s for s, _, _ in ex.map(_get, urls)]
    assert statuses == [200] * len(urls)


def test_pooled_worker_tags_every_request(cube_server, monkeypatch):
    """With one request thread, consecutive Spark-running requests still get
    their own job group: the X-Request-Id header, else a fresh id, never the
    previous request's. A client that connects and sends nothing holds the
    worker for ``REQUEST_TIMEOUT_S`` only."""
    import socket
    import time

    from xcube_server_spark.cube import catalog
    from xcube_server_spark.server import app

    monkeypatch.setattr(app, "REQUEST_THREADS", 1)
    monkeypatch.setattr(app, "REQUEST_TIMEOUT_S", 1)
    # over the driver read's row budget, a point series runs the Spark plan
    monkeypatch.setattr(catalog, "WINDOW_ROW_BUDGET", 0)
    srv = CubeServer(cube_server.catalog, places=cube_server.places)
    srv.start()
    try:
        url = f"http://127.0.0.1:{srv.port}/ts/demo/conc_chl/point?lon=2.1&lat=51.4"
        for rid in ("pool-a", "pool-b"):
            status, doc = _ts_request(url, rid=rid)
            assert status == 200 and doc["results"]
        a, b = _jobs(srv.catalog, "pool-a"), _jobs(srv.catalog, "pool-b")
        assert a and b and not set(a) & set(b)
        status, _ = _ts_request(url)
        assert status == 200
        assert _jobs(srv.catalog, "pool-b") == b
        with socket.create_connection(("127.0.0.1", srv.port)):
            t0 = time.monotonic()
            status, _ = _ts_request(f"http://127.0.0.1:{srv.port}/datasets")
            assert status == 200 and time.monotonic() - t0 < 30
    finally:
        srv.stop()
        srv.httpd.server_close()


def test_places_routes_launch_no_job(server, cube_server):
    """Places are answered from the driver-side table: the inventory, bbox,
    polygon and dataset-bounds routes launch no Spark job."""
    box = _polygon([[0.0, 50.0], [5.0, 50.0], [5.0, 53.0], [0.0, 53.0], [0.0, 50.0]])
    for rid, path, body in (
        ("places-inventory", "places", None),
        ("places-bbox", "places/pts?bbox=0,50,5,52.5", None),
        ("places-polygon", "places/all", box),
        ("places-dataset", "places/pts/demo", None),
    ):
        status, doc = _ts_request(f"{server}/{path}", body, rid)
        assert status == 200 and (doc.get("features") or doc.get("placeGroups")), rid
        assert _jobs(cube_server.catalog, rid) == [], rid


def test_place_groups_endpoint(server):
    status, doc = _get_json(f"{server}/places")
    assert status == 200
    groups = {g["id"]: g["featureCount"] for g in doc["placeGroups"]}
    assert groups == {"pts": 2}


def test_dataset_places_endpoint(server):
    status, doc = _get_json(f"{server}/places/pts/demo")
    assert status == 200
    names = {f["properties"]["Name"] for f in doc["features"]}
    assert names == {"inside"}


def test_wmts_rest_tile(server):
    status, ctype, body = _get(
        f"{server}/wmts/1.0.0/tile/demo/conc_chl/0/0/0.png"
    )
    assert status == 200 and ctype == "image/png"
    rgba = decode_rgba_png(body)
    assert rgba.shape[:2] == (32, 32)


def test_wmts_get_feature_info(server):
    """GetFeatureInfo — implemented where the reference raises 'not yet
    implemented' (xcube_server/handlers.py:103-104). Pixel (i, j) of a
    tile resolves to the cell value via index arithmetic + one-cell
    pyarrow read; masked steps report value: null."""
    import math

    status, ctype, body = _get(
        f"{server}/wmts/kvp?Service=WMTS&Request=GetFeatureInfo"
        "&Layer=demo.conc_tsm&TileMatrix=1&TileCol=0&TileRow=0"
        "&I=5&J=7&Time=current"
    )
    assert status == 200 and "json" in ctype
    info = json.loads(body)
    # fixture grid: 64x32 over (0, 50, 5, 52.5); z=1 is native res
    lon = 0.0 + 5.5 * (5.0 / 64)
    lat = 52.5 - 7.5 * (2.5 / 32)
    assert abs(info["lon"] - lon) < 1e-9 and abs(info["lat"] - lat) < 1e-9
    expected = 30.0 * (math.sin(lon * 2.0) + math.cos(lat * 3.0)) + 4 * 5.0 + 40.0
    # float32 storage: compare at float32 precision
    assert abs(info["value"] - expected) < 1e-4
    assert info["time"].startswith("2017-01-30")
    # masked time step (conc_tsm all-NULL at time_idx 2) -> value null
    status, _, body = _get(
        f"{server}/wmts/kvp?Service=WMTS&Request=GetFeatureInfo"
        "&Layer=demo.conc_tsm&TileMatrix=1&TileCol=0&TileRow=0"
        "&I=5&J=7&Time=2017-01-26"
    )
    assert status == 200
    assert json.loads(body)["value"] is None


def test_wmts_get_feature_info_computed_dataset(server, cube_server):
    """GetFeatureInfo on a computed dataset (no store of its own) answers
    the cell of the computed frame."""
    from pyspark.sql import functions as F

    from xcube_server_spark.cube.catalog import DatasetMeta

    cat = cube_server.catalog
    base = cat.datasets["demo"]
    cat.register(
        DatasetMeta(
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
    )
    try:
        status, doc = _get_json(
            f"{server}/wmts/kvp?Service=WMTS&Request=GetFeatureInfo"
            "&Layer=demo-1w.conc_chl&TileMatrix=1&TileCol=0&TileRow=0"
            "&I=5&J=7&Time=current"
        )
        assert status == 200, doc
        times = cat.times("demo-1w")
        assert doc["time"] == times[-1]
        # z=1 is the native level; a north-up grid: display row = lat_idx
        (expected,) = (
            cat.cube("demo-1w", base.tile_grid.level_for_zoom(1))
            .filter(
                (F.col("time_idx") == len(times) - 1)
                & (F.col("lat_idx") == 7)
                & (F.col("lon_idx") == 5)
            )
            .select("conc_chl")
            .first()
        )
        assert expected is not None
        assert abs(doc["value"] - expected) < 1e-9
    finally:
        del cat.datasets["demo-1w"]


def test_computed_dataset_reads_match_spark_without_a_job(server, cube_server):
    """A computed dataset is served by the driver read: its tiles at every
    zoom are the PNG bytes of ``render_tiles``, its ``GetFeatureInfo``
    values and the rows of all four ``/ts`` routes are those of the Spark
    plans, and none of these requests launches a Spark job."""
    from pyspark.sql import functions as F

    from xcube_server_spark.cube.catalog import DatasetMeta
    from xcube_server_spark.cube.tiles import render_tiles

    cat = cube_server.catalog
    base = cat.datasets["demo"]
    tg = base.tile_grid
    cat.register(DatasetMeta(
        identifier="demo-1w-reads", title="weekly", base_path="",
        grid=base.grid, tile_grid=tg, variables=base.variables,
        styles=base.styles, computed=True, function="resample_in_time",
        input_datasets=["demo"], input_params={"period": "1W"},
    ))

    def get(path, rid):
        req = urllib.request.Request(f"{server}/{path}", headers={"X-Request-Id": rid})
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 200, path
            return r.read()

    try:
        weeks = cat.times("demo-1w-reads")
        # conc_tsm: the Jan 29 week holds a valid and two all-NULL steps
        for var in ("conc_tsm", "kd489"):
            for t, week in enumerate(weeks):
                for z in range(tg.num_levels):
                    want = {
                        (r["tile_x"], r["tile_y"]): bytes(r["png"])
                        for r in render_tiles(cat, "demo-1w-reads", var, z, time=week).collect()
                    }
                    assert want
                    for (x, y), png in want.items():
                        rid = f"computed-tile-{var}-{t}-{z}-{x}-{y}"
                        got = get(f"datasets/demo-1w-reads/vars/{var}/tiles/{z}/{x}/{y}.png"
                                  f"?time={week.replace(' ', 'T')}", rid)
                        assert got == png, (var, week, z, x, y)
                        assert _jobs(cat, rid) == [], rid
                for z, (i, j) in ((1, (5, 7)), (0, (20, 3))):
                    rid = f"computed-gfi-{var}-{t}-{z}"
                    doc = json.loads(get(
                        "wmts/kvp?Service=WMTS&Request=GetFeatureInfo"
                        f"&Layer=demo-1w-reads.{var}&TileMatrix={z}&TileCol=0"
                        f"&TileRow=0&I={i}&J={j}&Time={week.replace(' ', 'T')}", rid))
                    assert _jobs(cat, rid) == [], rid
                    level = tg.level_for_zoom(z)
                    (want,) = (
                        cat.cube("demo-1w-reads", level, t)
                        .filter((F.col("lat_idx") == j) & (F.col("lon_idx") == i))
                        .select(var).first()
                    )
                    assert doc["time"] == week and doc["value"] == want, (var, t, z)
        collection = {"type": "GeometryCollection", "geometries": [
            {"type": "Point", "coordinates": [2.1, 51.4]},
            _polygon(_INSIDE), _polygon(_PARTLY), _polygon(_OUTSIDE),
        ]}
        features = {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {}, "geometry": g}
            for g in collection["geometries"]
        ]}
        for k, (var, op, query, body, bounds) in enumerate([
            ("conc_tsm", "point", "lon=2.1&lat=51.4", None, {}),
            ("kd489", "point", "lon=4.96&lat=50.01&startDate=2017-01-29", None,
             {"start": "2017-01-29 00:00:00"}),
            ("conc_tsm", "geometry", "", _polygon(_INSIDE), {}),
            ("conc_chl", "geometry", "endDate=2017-01-29", _polygon(_PARTLY),
             {"end": "2017-01-29 00:00:00"}),
            ("conc_tsm", "geometries", "", collection, {}),
            ("kd489", "places", "", features, {}),
        ]):
            rid = f"computed-ts-{k}"
            status, got = _ts_request(
                f"{server}/ts/demo-1w-reads/{var}/{op}?{query}", body, rid
            )
            assert status == 200 and got["results"], (k, got)
            point = {}
            if op == "point":
                lon, lat = (float(kv.split("=")[1]) for kv in query.split("&")[:2])
                point = {"lon": lon, "lat": lat}
            _assert_same_answer(got, _spark_answer(
                cat, "demo-1w-reads", var, op, body, **bounds, **point))
            assert _jobs(cat, rid) == [], (k, op)
    finally:
        del cat.datasets["demo-1w-reads"]


def test_metadata_routes_run_no_spark_job_for_a_computed_dataset(
    server, cube_server
):
    """A computed dataset's time axis is its step table, worked out on the
    driver: listing the datasets and the WMTS capabilities launch no Spark
    job, also for a freshly registered computed dataset."""
    from xcube_server_spark.cube.catalog import DatasetMeta

    cat = cube_server.catalog
    base = cat.datasets["demo"]
    cat.register(DatasetMeta(
        identifier="demo-1w-meta", title="weekly", base_path="",
        grid=base.grid, tile_grid=base.tile_grid, variables=base.variables,
        computed=True, function="resample_in_time", input_datasets=["demo"],
        input_params={"period": "1W"},
    ))
    try:
        for path, rid, want in (
            ("datasets", "meta-datasets", b'"demo-1w-meta"'),
            ("datasets?details=1", "meta-details", b'"2017-02-05T00:00:00Z"'),
            ("wmts/1.0.0/WMTSCapabilities.xml", "meta-capabilities",
             b"<Value>2017-02-05T00:00:00Z</Value>"),
        ):
            req = urllib.request.Request(
                f"{server}/{path}", headers={"X-Request-Id": rid}
            )
            with urllib.request.urlopen(req, timeout=60) as r:
                assert r.status == 200 and want in r.read(), path
            assert _jobs(cat, rid) == [], path
    finally:
        del cat.datasets["demo-1w-meta"]


def test_tile_invalid_time_is_bad_request(server):
    """Reference behavior (test_tiles.py::test_get_dataset_tile_with_time_dim):
    an unparseable time dim value is a 400 with a clear reason, not a 500."""
    import urllib.error
    import urllib.request

    url = f"{server}/datasets/demo/vars/conc_tsm/tiles/0/0/0.png?time=Gnaaark!"
    try:
        urllib.request.urlopen(url, timeout=60)
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        body = e.read().decode()
        assert "not a valid value for dimension 'time'" in body


def test_places_query_modes_parity(server):
    """Reference FindPlacesHandler parity (test_places.py): WKT geom=,
    geom+bbox mutual exclusion (400), POST GeoJSON bodies (geometry,
    Feature, FeatureCollection), and the 'query' parameter name."""
    import urllib.error
    import urllib.parse
    import urllib.request

    wkt = urllib.parse.quote("POLYGON ((0 50, 5 50, 5 53, 0 53, 0 50))")
    status, doc = _get_json(f"{server}/places/all?geom={wkt}")
    assert status == 200 and doc["type"] == "FeatureCollection"
    n_wkt = len(doc["features"])
    assert n_wkt >= 1
    # geom+bbox together -> 400
    try:
        urllib.request.urlopen(
            f"{server}/places/all?geom={wkt}&bbox=0,50,5,53", timeout=60
        )
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "Only one of" in e.read().decode()
    # POST bodies: geometry / Feature / FeatureCollection all equivalent
    import json as _json

    geom = {"type": "Polygon", "coordinates": [
        [[0, 50], [5, 50], [5, 53], [0, 53], [0, 50]]]}
    for body in (
        geom,
        {"type": "Feature", "properties": {}, "geometry": geom},
        {"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {}, "geometry": geom}]},
    ):
        req = urllib.request.Request(
            f"{server}/places/all", method="POST",
            data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            doc = _json.loads(r.read())
            assert len(doc["features"]) == n_wkt
    # empty FeatureCollection -> 400 (invalid GeoJSON object)
    req = urllib.request.Request(
        f"{server}/places/all", method="POST",
        data=_json.dumps({"type": "FeatureCollection", "features": []}).encode(),
    )
    try:
        urllib.request.urlopen(req, timeout=60)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
