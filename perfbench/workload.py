"""Seeded inputs of the serving workloads.

Everything a run sends is materialized here from ``--seed`` before the timed
window opens: the per-connection request lists and the place-group GeoJSON.
The same seed always gives byte-identical inputs; the server only ever sees
the generated requests.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

# The demo cube (same fields as the reference's demo ``cube.nc``), at half
# the reference demo's 2000x1000 in each direction: at full size one run
# took 74 s (tile_browse) and 111 s (analytics_routes) on a 4-core host,
# too long for the number of runs a comparison of two versions needs.
DATASET = "demo"
COMPUTED = "demo_1w"  # resample_in_time('1W') over DATASET, like the demo config
PLACE_GROUP = "sites"
WIDTH, HEIGHT, TILE = 1000, 500, 250
VARS = ("conc_chl", "conc_tsm", "kd489")
TIMES = (
    "2017-01-16 10:09:22",
    "2017-01-25 09:35:51",
    "2017-01-26 10:50:17",
    "2017-01-28 09:58:11",
    "2017-01-30 10:46:34",
)
EXTENT = (0.0, 50.0, 5.0, 52.5)  # west, south, east, north
STYLES = {  # var -> (colour bar, value range), registered with both datasets
    "conc_chl": ("viridis", (0.0, 24.0)),
    "conc_tsm": ("plasma", (0.0, 100.0)),
    "kd489": ("inferno", (0.0, 6.0)),
}
CMAPS = ("magma", "cividis", "Blues", "Greens", "Greys", "Reds", "YlGn")
N_PLACES = 2000
RES = (EXTENT[2] - EXTENT[0]) / WIDTH  # degrees per cell, both axes


def num_levels() -> int:
    n, w, h = 1, WIDTH, HEIGHT
    while w > TILE or h > TILE:
        w, h, n = (w + 1) // 2, (h + 1) // 2, n + 1
    return n


def data_tiles(z: int) -> tuple[int, int]:
    """(columns, rows) of tiles at zoom ``z`` that hold cube cells."""
    shift = num_levels() - 1 - z
    w, h = WIDTH, HEIGHT
    for _ in range(shift):
        w, h = (w + 1) // 2, (h + 1) // 2
    return -(-w // TILE), -(-h // TILE)


@dataclass(frozen=True)
class Request:
    kind: str
    method: str
    path: str
    body: bytes | None = None


def _style_override(rng: random.Random) -> str:
    vmin = round(rng.uniform(0.0, 5.0), 3)
    vmax = round(vmin + rng.uniform(5.0, 40.0), 3)
    return f"cbar={rng.choice(CMAPS)}&vmin={vmin}&vmax={vmax}"


# -- tile_browse -------------------------------------------------------------

# Every fourth viewer session carries its own style, and every session takes
# the same number of steps: the share of tiles that must miss the cache then
# does not depend on the seed, and that share sets the workload's cost. These
# numbers, like the zoom and pan odds below, are assumptions, not taken from
# a request trace of a real viewer.
STYLED_EVERY = 4
STEPS = 8


def _viewer_session(rng: random.Random, styled: bool) -> list[Request]:
    """One map-viewer session: the catalogue routes once, then pan/zoom steps
    that each fetch a 2x2 tile window."""
    var = rng.choice(VARS)
    time = rng.choice(TIMES).replace(" ", "T")
    style = _style_override(rng) if styled else ""
    q = f"?time={time}" + (f"&{style}" if style else "")
    out = [
        Request("meta", "GET", "/datasets"),
        Request("meta", "GET", f"/datasets/{DATASET}/vars/{var}/tilegrid?client=ol4"),
        Request("meta", "GET", "/wmts/1.0.0/WMTSCapabilities.xml"),
        Request(
            "meta", "GET",
            f"/datasets/{DATASET}/vars/{var}/legend.png" + (f"?{style}" if style else ""),
        ),
    ]
    top = num_levels() - 1
    z, x0, y0 = 0, 0, 0
    for _ in range(STEPS):
        n = 1 << z
        for dy in (0, 1):
            for dx in (0, 1):
                x, y = x0 + dx, y0 + dy
                if x < n and y < n:
                    out.append(Request(
                        "tile", "GET",
                        f"/datasets/{DATASET}/vars/{var}/tiles/{z}/{x}/{y}.png{q}",
                    ))
        r = rng.random()
        if r < 0.35 and z < top:
            z += 1
            x0, y0 = 2 * x0 + rng.randint(0, 1), 2 * y0 + rng.randint(0, 1)
        elif r < 0.5 and z > 0:
            z -= 1
            x0, y0 = x0 // 2, y0 // 2
        else:
            cols, rows = data_tiles(z)
            x0 = min(max(x0 + rng.choice((-1, 0, 1)), 0), max(cols - 1, 0))
            y0 = min(max(y0 + rng.choice((-1, 0, 1)), 0), max(rows - 1, 0))
        hi = max((1 << z) - 2, 0)
        x0, y0 = min(x0, hi), min(y0, hi)
    return out


# -- analytics_routes ---------------------------------------------------------

# Every request launches at least one Spark job. Requests come in blocks that
# hold each request shape once: every route kind, and for the two kinds whose
# cost has a size parameter, one request per value -- each polygon size of a
# polygon time series, each zoom level of a computed-dataset tile. The order
# is shuffled per block. The mix is an assumption, not taken from a request
# trace of a real viewer. A timed window covers whole blocks (run.py), so
# every window holds the same mix whatever the seed.
ANALYTICS_KINDS = (
    "ts_point", "ts_polygon", "ts_geometries", "places_bbox", "places_polygon",
    "spark_tile",
)
# polygon half-widths in cells: about 400, 6.6k and 40k mask cells
POLYGON_HALF_CELLS = (10, 40, 100)


def analytics_block() -> list[tuple[str, int]]:
    """(kind, size) of the requests of one block, in a fixed order; ``size``
    is the polygon size or the zoom level."""
    sizes = {"ts_polygon": len(POLYGON_HALF_CELLS), "spark_tile": num_levels()}
    return [(k, i) for k in ANALYTICS_KINDS for i in range(sizes.get(k, 1))]


def _quad(rng: random.Random, half_cells: int) -> dict:
    """A slightly irregular quadrilateral of about (2*half_cells)^2 cells,
    inside the cube extent."""
    h = half_cells * RES
    cx = rng.uniform(EXTENT[0] + h * 1.2, EXTENT[2] - h * 1.2)
    cy = rng.uniform(EXTENT[1] + h * 1.2, EXTENT[3] - h * 1.2)
    j = h * 0.15

    def pt(sx, sy):
        return [round(cx + sx * h + rng.uniform(-j, j), 6),
                round(cy + sy * h + rng.uniform(-j, j), 6)]

    ring = [pt(-1, -1), pt(1, -1), pt(1, 1), pt(-1, 1)]
    return {"type": "Polygon", "coordinates": [ring + [ring[0]]]}


def _point(rng: random.Random) -> tuple[float, float]:
    return (round(rng.uniform(EXTENT[0] + RES, EXTENT[2] - RES), 6),
            round(rng.uniform(EXTENT[1] + RES, EXTENT[3] - RES), 6))


def _analytics_request(rng: random.Random, kind: str, size: int = 0) -> Request:
    """One request of ``kind``; ``size`` picks the polygon size of a polygon
    time series and the zoom level of a computed-dataset tile."""
    var = rng.choice(VARS)
    if kind == "ts_point":
        lon, lat = _point(rng)
        return Request(kind, "GET", f"/ts/{DATASET}/{var}/point?lon={lon}&lat={lat}")
    if kind == "ts_polygon":
        geom = _quad(rng, POLYGON_HALF_CELLS[size])
        return Request(kind, "POST", f"/ts/{DATASET}/{var}/geometry",
                       json.dumps(geom).encode())
    if kind == "ts_geometries":
        lon, lat = _point(rng)
        geoms = [{"type": "Point", "coordinates": [lon, lat]},
                 _quad(rng, POLYGON_HALF_CELLS[0]), _quad(rng, POLYGON_HALF_CELLS[0])]
        body = {"type": "GeometryCollection", "geometries": geoms}
        return Request(kind, "POST", f"/ts/{DATASET}/{var}/geometries",
                       json.dumps(body).encode())
    if kind == "places_bbox":
        w, s = rng.uniform(-0.5, 4.5), rng.uniform(49.5, 52.5)
        dw, ds = rng.uniform(0.3, 1.5), rng.uniform(0.2, 1.0)
        bbox = f"{w:.4f},{s:.4f},{w + dw:.4f},{s + ds:.4f}"
        return Request(kind, "GET", f"/places/{PLACE_GROUP}?bbox={bbox}")
    if kind == "places_polygon":
        geom = _quad(rng, rng.choice(POLYGON_HALF_CELLS[1:]))
        return Request(kind, "POST", f"/places/{PLACE_GROUP}", json.dumps(geom).encode())
    z = size
    cols, rows = data_tiles(z)
    x, y = rng.randrange(cols), rng.randrange(rows)
    return Request(
        kind, "GET",
        f"/datasets/{COMPUTED}/vars/{var}/tiles/{z}/{x}/{y}.png?{_style_override(rng)}",
    )


# -- per-workload entry points -------------------------------------------------

CONNECTIONS = {"tile_browse": 4, "analytics_routes": 1}
# A timed window ends at a multiple of this many requests per connection.
BLOCK = {"tile_browse": 1, "analytics_routes": len(analytics_block())}
# Requests generated per connection: more than a run can send, so no list
# wraps around inside the timed window.
PER_CONNECTION = {"tile_browse": 5000, "analytics_routes": 400}


def request_lists(workload: str, seed: int) -> list[list[Request]]:
    """One request list per connection, fully determined by ``seed``."""
    rng = random.Random(f"{workload}:{seed}")
    lists: list[list[Request]] = []
    for _ in range(CONNECTIONS[workload]):
        reqs: list[Request] = []
        sessions = 0
        while len(reqs) < PER_CONNECTION[workload]:
            if workload == "tile_browse":
                sessions += 1
                reqs.extend(_viewer_session(rng, sessions % STYLED_EVERY == 0))
            else:
                block = analytics_block()
                rng.shuffle(block)
                reqs.extend(_analytics_request(rng, k, i) for k, i in block)
        lists.append(reqs[: PER_CONNECTION[workload]])
    return lists


def warmup_requests(workload: str, seed: int) -> list[Request]:
    """Untimed requests that load every code path once. Tile requests carry
    their own styles, so no key of the timed lists is cached by them."""
    rng = random.Random(f"warmup:{workload}:{seed}")
    if workload == "tile_browse":
        reqs = _viewer_session(rng, False)[:4]
        for z in range(num_levels()):
            reqs.append(Request(
                "tile", "GET",
                f"/datasets/{DATASET}/vars/{VARS[z % 3]}/tiles/{z}/0/0.png?{_style_override(rng)}",
            ))
        return reqs
    # one block: every kind, every polygon size and every zoom level of a
    # computed tile; with one request per kind the first timed requests
    # still ran 30-50 % slow
    return [_analytics_request(rng, k, i) for k, i in analytics_block()]


def places(seed: int) -> list[tuple[float, float]]:
    """Point coordinates of the place group, in feature-id order."""
    rng = random.Random(f"places:{seed}")
    return [
        (round(rng.uniform(EXTENT[0] - 0.5, EXTENT[2] + 0.5), 6),
         round(rng.uniform(EXTENT[1] - 0.5, EXTENT[3] + 0.5), 6))
        for _ in range(N_PLACES)
    ]


def places_geojson(points: list[tuple[float, float]]) -> str:
    return json.dumps({
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "properties": {"name": f"site-{i}", "kind": ("buoy", "station")[i % 2]},
             "geometry": {"type": "Point", "coordinates": [lon, lat]}}
            for i, (lon, lat) in enumerate(points)
        ],
    })
