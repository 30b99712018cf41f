"""GeoJSON place groups (SURVEY.md §2.1 S7, §2.2 P8/P9/P11, §2.7 U1).

Reference: fiona-loads feature collections, re-assigns sequential string ids,
strips ID from properties (``xcube_server/context.py:343-399``); the ``all``
group is the concatenation of every group (``:326-341``); features are
filtered by shapely ``intersects`` against a query geometry
(``xcube_server/controllers/places.py:63-94``) — and the declared
``query_expr`` parameter raises NotImplementedError (``places.py:84``).

Like the reference, places are answered in process: a place group is a
pandas table on the driver ``(collection, feature_id, geometry, lon, lat,
minx, miny, maxx, maxy, properties)``, and ``find_places`` filters it with
numpy masks — bbox overlap for every feature, plus the even-odd
point-in-polygon test for point features under a polygon query. Only
``query_expr`` runs Spark: the surviving rows are filtered with ``F.expr``
over the properties map, the expression language the reference never
implemented.
"""

from __future__ import annotations

import glob
import json

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .rasterize import Geometry, geometry_bbox, points_in_geometry

COLUMNS = [
    "collection", "feature_id", "geometry", "lon", "lat",
    "minx", "miny", "maxx", "maxy", "properties",
]
SCHEMA = (
    "collection string, feature_id string, geometry string,"
    " lon double, lat double,"
    " minx double, miny double, maxx double, maxy double,"
    " properties map<string,string>"
)


def load_place_group(
    spark: SparkSession, name: str, path_glob: str
) -> pd.DataFrame:
    """S7 GeoJSON scan: one collection from a glob of GeoJSON files.

    Sequential feature ids are assigned in load order and ``ID``/``id`` keys
    are dropped from properties (parity: ``xcube_server/context.py:378-399``).
    Point coordinates are hoisted into (lon, lat) columns and every
    feature's bbox into (minx, miny, maxx, maxy); a feature with a null
    geometry (RFC 7946 §3.2) or an unsupported one has no bbox. The table
    stays on the driver; ``spark`` is not used.
    """
    rows = []
    for path in sorted(glob.glob(path_glob)):
        with open(path) as f:
            doc = json.load(f)
        features = doc.get("features", [doc] if doc.get("type") == "Feature" else [])
        for feat in features:
            props = {
                str(k): str(v)
                for k, v in (feat.get("properties") or {}).items()
                if k not in ("ID", "id")
            }
            geom = feat.get("geometry")
            lon = lat = None
            if geom and geom.get("type") == "Point":
                lon, lat = float(geom["coordinates"][0]), float(geom["coordinates"][1])
            try:
                bbox = geometry_bbox(geom) if geom else (None,) * 4
            except ValueError:
                bbox = (None,) * 4
            rows.append(
                (name, str(len(rows)), json.dumps(geom), lon, lat, *bbox, props)
            )
    return pd.DataFrame(rows, columns=COLUMNS).astype(
        {c: float for c in ("lon", "lat", "minx", "miny", "maxx", "maxy")}
    )


def union_place_groups(groups: list[pd.DataFrame]) -> pd.DataFrame:
    """U1 — the ``all`` place group is UNION ALL of every group
    (``xcube_server/context.py:326-341``)."""
    return pd.concat(groups, ignore_index=True)


def find_places(
    places: pd.DataFrame,
    geometry: Geometry | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    query_expr: str | None = None,
) -> pd.DataFrame:
    """P8 geometry-intersection filter + P11 attribute expression; the kept
    rows in load order.

    A feature is kept when its bbox overlaps the query bbox (inclusive;
    a feature without a bbox never matches). Under a Polygon/MultiPolygon
    query a point feature must also pass the even-odd point-in-polygon
    test; other features keep the bbox verdict (polygon∩polygon needs a
    geometry library). ``query_expr`` is a Spark SQL boolean expression
    over the columns and ``properties`` — finishing what the reference
    stubbed (``xcube_server/controllers/places.py:84``).
    """
    if geometry is not None and bbox is None:
        bbox = geometry_bbox(geometry)
    if bbox is not None:
        west, south, east, north = bbox
        keep = (
            (places["maxx"] >= west) & (places["minx"] <= east)
            & (places["maxy"] >= south) & (places["miny"] <= north)
        ).to_numpy()
        if geometry is not None and geometry.get("type") in ("Polygon", "MultiPolygon"):
            lon, lat = places["lon"].to_numpy(), places["lat"].to_numpy()
            is_point = ~np.isnan(lon)
            keep &= ~is_point | points_in_geometry(
                np.nan_to_num(lon), np.nan_to_num(lat), geometry
            )
        places = places[keep]
    if query_expr:
        # NaN → null, so the expression sees SQL nulls
        rows = places.astype(object).where(places.notna(), None)
        kept = (
            SparkSession.active()
            .createDataFrame(list(rows.itertuples(index=False, name=None)), SCHEMA)
            .filter(F.expr(query_expr))
            .collect()
        )
        places = pd.DataFrame(kept, columns=COLUMNS)
    return places
