"""Request-parameter coercion + service utilities (SURVEY.md §2.8 F2/F11/F12,
§2.2 P9/P10).

Mirrors ``xcube_server/reqparams.py`` (typed param getters),
``xcube_server/controllers/places.py:39-60`` (query-geometry parsing),
``xcube_server/utils.py:56-70`` (antimeridian bbox split),
``xcube_server/service.py:313-369`` (url patterns, cache-size parse).
"""

from __future__ import annotations

import datetime as dt
import json
import re
from typing import Any

from ..functions.geo import is_geometry, parse_wkt


def to_int(name: str, value: str) -> int:
    """``RequestParams.to_int`` (``xcube_server/reqparams.py:33-47``)."""
    try:
        return int(value)
    except (TypeError, ValueError):
        raise ValueError(f"{name!r} must be an integer, was {value!r}") from None


def to_float(name: str, value: str) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        raise ValueError(f"{name!r} must be a number, was {value!r}") from None


def to_datetime(name: str, value: str) -> dt.datetime:
    """ISO-8601 (date or datetime, optional trailing Z or UTC offset) →
    naive UTC datetime (``xcube_server/reqparams.py:65-79``)."""
    try:
        v = value[:-1] if value.endswith("Z") else value
        d = dt.datetime.fromisoformat(v)
    except (TypeError, ValueError):
        raise ValueError(f"{name!r} must be ISO date/datetime, was {value!r}") from None
    if d.tzinfo is not None:
        d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return d


def coerce_dim_value(value: str, dtype: str) -> Any:
    """F2 — string → coord dtype; ``'current'`` passes through as sentinel
    (``xcube_server/context.py:433-446``)."""
    if value == "current":
        return "current"
    if dtype in ("float", "float32", "float64", "double"):
        return float(value)
    if dtype in ("int", "int32", "int64"):
        return int(value)
    if dtype.startswith("datetime") or dtype == "timestamp":
        return to_datetime("dim", value)
    return value


def parse_query_geometry(
    bbox: str | None = None,
    geom: str | None = None,
    body: dict | None = None,
) -> dict | None:
    """P9 — bbox CSV / WKT string / GeoJSON body → GeoJSON geometry dict
    (``xcube_server/controllers/places.py:39-60``), with the P10
    antimeridian split applied to crossing bboxes."""
    if bbox is not None:
        west, south, east, north = (float(v) for v in bbox.split(","))
        return bbox_to_geometry(west, south, east, north)
    if geom is not None:
        return parse_wkt(geom)
    if body is not None:
        g = body if isinstance(body, dict) else None
        if isinstance(g, dict) and g.get("type") == "FeatureCollection":
            # reference semantics (controllers/places.py find_places):
            # a FeatureCollection query means its FIRST feature's geometry
            feats = g.get("features") or g.get("places") or []
            if not feats:
                raise ValueError("Received invalid GeoJSON object")
            g = feats[0]
        if isinstance(g, dict) and g.get("type") == "Feature":
            g = g.get("geometry")
        if (
            isinstance(g, dict)
            and not is_geometry(g)
            and isinstance(g.get("geometry"), (dict, str))
        ):
            g = g["geometry"]  # untyped {"geometry": ...} wrapper
        if isinstance(g, str):
            g = json.loads(g)
        if not is_geometry(g):
            raise ValueError("request body is not a GeoJSON geometry")
        return g
    return None


def bbox_to_geometry(
    west: float, south: float, east: float, north: float
) -> dict:
    """P10 — west > east ⇒ the box crosses the antimeridian and becomes a
    MultiPolygon of two boxes (``xcube_server/utils.py:56-70``)."""

    def box(w, s, e, n):
        return [[[w, s], [e, s], [e, n], [w, n], [w, s]]]

    if west <= east:
        return {"type": "Polygon", "coordinates": box(west, south, east, north)}
    return {
        "type": "MultiPolygon",
        "coordinates": [box(west, south, 180.0, north), box(-180.0, south, east, north)],
    }


def url_pattern(pattern: str) -> str:
    """F11 — ``{{name}}`` template → named-group regex
    (``xcube_server/service.py:313-350``)."""
    out, pos = "", 0
    for m in re.finditer(r"\{\{([A-Za-z_][A-Za-z0-9_]*)\}\}", pattern):
        out += re.escape(pattern[pos : m.start()])
        out += f"(?P<{m.group(1)}>[^/?&]+)"
        pos = m.end()
    out += re.escape(pattern[pos:])
    return out


_MEM_UNITS = {"": 1, "B": 1, "K": 1024, "M": 1024**2, "G": 1024**3, "T": 1024**4}


def parse_mem_size(text: str) -> int:
    """F12 — ``"512M"`` → bytes (``xcube_server/service.py:353-369``)."""
    m = re.match(r"^\s*(\d+(?:\.\d+)?)\s*([KMGTB]?)I?B?\s*$", text.upper())
    if not m:
        raise ValueError(f"invalid memory size {text!r}")
    return int(float(m.group(1)) * _MEM_UNITS[m.group(2)])
