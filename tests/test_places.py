"""Place-filter parity: ``find_places`` over a table mixing Point, Polygon,
LineString and null-geometry features in two collections, checked against a
scalar per-feature oracle written here (bbox overlap, then an even-odd ray
cast for point features under a Polygon/MultiPolygon query)."""

from __future__ import annotations

import json
import random

import pytest

from xcube_server_spark.cube.places import (
    find_places,
    load_place_group,
    union_place_groups,
)
from xcube_server_spark.cube.reqparams import bbox_to_geometry


def _square(w, s, e, n) -> list:
    return [[w, s], [e, s], [e, n], [w, n], [w, s]]


def _features(rng: random.Random, tag: str) -> list[dict]:
    """Random points (some near the antimeridian, some inside the hole of
    ``HOLED``), squares, triangles, line strings and one null geometry."""
    geoms = []
    for _ in range(40):
        geoms.append({"type": "Point", "coordinates": [
            rng.uniform(-20, 20), rng.uniform(-10, 10)]})
    for _ in range(6):
        geoms.append({"type": "Point", "coordinates": [
            rng.choice([1, -1]) * rng.uniform(170, 180), rng.uniform(-10, 10)]})
    for _ in range(3):
        geoms.append({"type": "Point", "coordinates": [
            rng.uniform(-4, 4), rng.uniform(-2, 2)]})
    for _ in range(5):
        x, y, d = rng.uniform(-20, 18), rng.uniform(-10, 8), rng.uniform(0.5, 3)
        geoms.append({"type": "Polygon", "coordinates": [_square(x, y, x + d, y + d)]})
    for _ in range(4):
        x, y = rng.uniform(-20, 18), rng.uniform(-10, 8)
        geoms.append({"type": "Polygon", "coordinates": [[
            [x, y], [x + 2, y + 0.5], [x + 0.7, y + 1.8], [x, y]]]})
    for _ in range(4):
        geoms.append({"type": "LineString", "coordinates": [
            [rng.uniform(-20, 20), rng.uniform(-10, 10)] for _ in range(3)]})
    geoms.insert(rng.randrange(len(geoms)), None)
    geoms.append({"type": "Point", "coordinates": [3.25, 1.5]})
    kinds = ["x", "y", "z"]
    return [
        {"type": "Feature", "geometry": g,
         "properties": {"Name": f"{tag}{i}", "kind": kinds[i % 3], "ID": i}}
        for i, g in enumerate(geoms)
    ]


HOLED = {"type": "Polygon", "coordinates": [
    _square(-15, -8, 15, 8), _square(-5, -3, 5, 3)]}
MULTI = {"type": "MultiPolygon", "coordinates": [
    [[[-18, -9], [-6, -9], [-12, 2], [-18, -9]]],
    [[[6, -2], [19, 0], [10, 9], [6, -2]]],
]}
POINT = {"type": "Point", "coordinates": [3.25, 1.5]}


@pytest.fixture(scope="module")
def feature_table(spark, tmp_path_factory):
    """(places, [(collection, feature_id, geometry, properties), ...]) in
    load order."""
    rng = random.Random(20261019)
    d = tmp_path_factory.mktemp("places")
    groups, expected = [], []
    for name in ("alpha", "beta"):
        feats = _features(rng, name[0])
        (d / f"{name}.geojson").write_text(
            json.dumps({"type": "FeatureCollection", "features": feats})
        )
        groups.append(load_place_group(spark, name, str(d / f"{name}.geojson")))
        for i, f in enumerate(feats):
            props = {k: str(v) for k, v in f["properties"].items() if k != "ID"}
            expected.append((name, str(i), f["geometry"], props))
    return union_place_groups(groups), expected


def _coords(geom: dict) -> list:
    t, c = geom["type"], geom["coordinates"]
    if t == "Point":
        return [c]
    if t == "LineString":
        return c
    rings = c if t == "Polygon" else [r for poly in c for r in poly]
    return [p for ring in rings for p in ring]


def _bbox(geom: dict) -> tuple:
    pts = _coords(geom)
    return (min(p[0] for p in pts), min(p[1] for p in pts),
            max(p[0] for p in pts), max(p[1] for p in pts))


def _in_ring(x: float, y: float, ring: list) -> bool:
    inside = False
    for k in range(len(ring)):
        (x1, y1), (x2, y2) = ring[k][:2], ring[(k + 1) % len(ring)][:2]
        if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def _in_polygon(x: float, y: float, geom: dict) -> bool:
    polys = [geom["coordinates"]] if geom["type"] == "Polygon" else geom["coordinates"]
    return any(
        _in_ring(x, y, poly[0]) and not any(_in_ring(x, y, h) for h in poly[1:])
        for poly in polys
    )


def _oracle(expected, geometry=None, bbox=None) -> list:
    """(collection, feature_id, properties) of every kept feature."""
    qb = bbox or _bbox(geometry)
    exact = geometry is not None and geometry["type"] in ("Polygon", "MultiPolygon")
    out = []
    for coll, fid, g, props in expected:
        if g is None:
            continue
        w, s, e, n = _bbox(g)
        if e < qb[0] or w > qb[2] or n < qb[1] or s > qb[3]:
            continue
        if exact and g["type"] == "Point" and not _in_polygon(*g["coordinates"], geometry):
            continue
        out.append((coll, fid, props))
    return out


def _got(out) -> list:
    return [(r["collection"], r["feature_id"], dict(r["properties"])) for r in out.to_dict("records")]


def test_find_places_matches_scalar_oracle(feature_table):
    places, expected = feature_table
    rng = random.Random(7)
    queries = [dict(geometry=HOLED), dict(geometry=MULTI), dict(geometry=POINT),
               dict(geometry=bbox_to_geometry(170.0, -10.0, -170.0, 10.0))]
    for _ in range(12):
        w, s = rng.uniform(-25, 20), rng.uniform(-12, 8)
        box = (w, s, w + rng.uniform(0.5, 15), s + rng.uniform(0.5, 8))
        queries += [dict(bbox=box), dict(geometry=bbox_to_geometry(*box))]
    n_kept = 0
    for q in queries:
        want = _oracle(expected, **q)
        assert _got(find_places(places, **q)) == want, q
        n_kept += len(want)
    # the cases are not vacuous: the hole, the point query and the
    # antimeridian split each keep and drop features
    holed = _oracle(expected, geometry=HOLED)
    assert n_kept and 0 < len(holed) < len(_oracle(expected, bbox=_bbox(HOLED)))
    last = [f for c, f, _, _ in expected if c == "alpha"][-1]
    assert ("alpha", last) in {(c, f) for c, f, _ in _oracle(expected, geometry=POINT)}
    # no filter: every feature, the null geometry included, in load order
    assert _got(find_places(places)) == [(c, f, p) for c, f, _, p in expected]


def test_find_places_query_expr_and_collection_filter(feature_table):
    places, expected = feature_table
    beta = [e for e in expected if e[0] == "beta"]
    got = _got(find_places(places[places["collection"] == "beta"], geometry=HOLED))
    assert got == _oracle(beta, geometry=HOLED)
    got = _got(find_places(
        places, geometry=MULTI, query_expr="properties['kind'] = 'y'"
    ))
    assert got == [r for r in _oracle(expected, geometry=MULTI) if r[2]["kind"] == "y"]
    assert got
    # lon is null, not NaN, for every non-point feature
    box = (-20, -10, 20, 10)
    types = {(c, f): g["type"] for c, f, g, _ in expected if g is not None}
    got = _got(find_places(places, bbox=box, query_expr="lon IS NULL"))
    assert got == [r for r in _oracle(expected, bbox=box) if types[r[:2]] != "Point"]
    assert got


def test_null_geometry_feature_loads(feature_table):
    """RFC 7946 §3.2: a feature may have a null geometry. It loads with no
    bbox, is returned without a geometry filter, and never matches a
    spatial query."""
    places, expected = feature_table
    nulls = [(c, f) for c, f, g, _ in expected if g is None]
    assert len(nulls) == 2
    rows = {(r["collection"], r["feature_id"]): r for r in places.to_dict("records")}
    for key in nulls:
        assert json.loads(rows[key]["geometry"]) is None
    world = find_places(places, bbox=(-180, -90, 180, 90))
    assert not {(r["collection"], r["feature_id"]) for r in world.to_dict("records")} & set(nulls)
