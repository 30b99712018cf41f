"""Spans recorded from outside the program, around calls into each layer.

``install`` replaces layer entry points with ``Traced`` stand-ins, in the
module that looks each name up, before the server is built. A stand-in
records one span per call (name, start, end, parent span, request id) while
the process-wide recorder is enabled, and only calls through otherwise.
Spans stay in memory until the server process writes them out.

Spark ships some wrapped functions (the colormap and PNG steps of a Spark
tile render) to its Python workers. ``Traced`` pickles by reference to this
module, and in a worker the recorder is None, so the worker calls straight
through.
"""

from __future__ import annotations

import itertools
import threading
import time
import types

_local = threading.local()
RECORDER: "Recorder | None" = None  # set only in a traced server process


class Recorder:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple] = []
        self._ids = itertools.count()

    def next_id(self) -> int:
        return next(self._ids)

    def take(self) -> list[dict]:
        """Hand over the spans recorded so far and start a new list."""
        spans, self.spans = self.spans, []
        return [
            {"id": s[0], "parent": s[1], "name": s[2], "rid": s[3],
             "t0": s[4], "t1": s[5], "info": s[6]}
            for s in spans
        ]


def _stack() -> list[int]:
    st = getattr(_local, "stack", None)
    if st is None:
        st = _local.stack = []
    return st


def _is_not_none(out) -> bool:
    return out is not None


def _length(out) -> int:
    return len(out)


class Traced:
    """Callable stand-in for ``fn`` that records a span per call.

    ``measure`` (a module-level function, so that it pickles) turns the
    result into the span's ``info`` field."""

    def __init__(self, name: str, fn, measure=None) -> None:
        self.name = name
        self.fn = fn
        self.measure = measure

    def __get__(self, obj, objtype=None):
        # stands in for a method when set on a class
        return self if obj is None else types.MethodType(self, obj)

    def __call__(self, *args, **kwargs):
        rec = RECORDER
        if rec is None or not rec.enabled:
            return self.fn(*args, **kwargs)
        stack = _stack()
        sid = rec.next_id()
        parent = stack[-1] if stack else None
        stack.append(sid)
        info = None
        t0 = time.perf_counter()
        try:
            out = self.fn(*args, **kwargs)
            if self.measure is not None:
                info = self.measure(out)
            return out
        finally:
            t1 = time.perf_counter()
            stack.pop()
            rec.spans.append(
                (sid, parent, self.name, getattr(_local, "rid", None), t0, t1, info)
            )


class TracedRoute(Traced):
    """``CubeServer._route``: one root span per request. Takes the request
    id from the client's ``X-Request-Id`` header and makes it the Spark job
    group, so the event log attributes every job to its request."""

    def __call__(self, server, handler, method):
        rec = RECORDER
        if rec is None or not rec.enabled:
            return self.fn(server, handler, method)
        rid = handler.headers.get("X-Request-Id")
        _local.rid = rid
        server.catalog.spark.sparkContext.setJobGroup(
            rid, f"{method} {handler.path.split('?')[0]}"
        )
        try:
            return super().__call__(server, handler, method)
        finally:
            _local.rid = None


def install(spark) -> Recorder:
    """Wrap every layer entry point the benchmark times; returns the
    (disabled) recorder."""
    global RECORDER
    from xcube_server_spark.cube import cache, tiles, timeseries
    from xcube_server_spark.server import app

    RECORDER = Recorder()
    app.CubeServer._route = TracedRoute("app.route", app.CubeServer._route)
    cache.ByteCache.get = Traced("cache.get", cache.ByteCache.get, _is_not_none)
    cache.ByteCache.put = Traced("cache.put", cache.ByteCache.put)
    tiles.TileService.get_tile = Traced("tiles.get_tile", tiles.TileService.get_tile)
    tiles.TileService._read_tile_fast = Traced(
        "tiles.read_fast", tiles.TileService._read_tile_fast, _is_not_none
    )
    tiles.render_tiles = Traced("tiles.spark_render", tiles.render_tiles)
    tiles.apply_cmap = Traced("colormap.apply", tiles.apply_cmap)
    tiles.encode_rgba_png = Traced("png.encode", tiles.encode_rgba_png, _length)
    app.get_datasets = Traced("meta.datasets", app.get_datasets)
    app.get_wmts_capabilities_xml = Traced(
        "meta.capabilities", app.get_wmts_capabilities_xml
    )
    timeseries.rasterize_mask = Traced(
        "rasterize.mask", timeseries.rasterize_mask, _length
    )
    for name in (
        "time_series_for_point",
        "time_series_for_geometry",
        "time_series_for_geometry_collection",
    ):
        setattr(app, name, Traced("plan.ts", getattr(app, name)))
    app.find_places = Traced("plan.places", app.find_places)
    frame = type(spark.range(0))
    frame.collect = Traced("spark.collect", frame.collect)
    return RECORDER
