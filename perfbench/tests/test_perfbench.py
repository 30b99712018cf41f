"""Tests of the benchmark's own code: statistics, spans, the event-log
reader, input generation and the output-check recomputations.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import pickle

import numpy as np

from perfbench import checks, tracing
from perfbench import workload as wl
from perfbench.eventlog import parse_event_log
from perfbench.stats import (
    highest_supported_percentile,
    percentile,
    samples_beyond,
    self_times,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([], 50) == 0.0
    assert percentile([3, 1, 2], 50) == 2


def test_highest_percentile_with_ten_samples_beyond():
    assert samples_beyond(1000, 99) == 10
    assert samples_beyond(999, 99) == 9
    assert highest_supported_percentile(10_000) == 99.9
    assert highest_supported_percentile(1000) == 99.0
    assert highest_supported_percentile(999) == 90.0
    assert highest_supported_percentile(100) == 90.0
    assert highest_supported_percentile(99) == 50.0
    assert highest_supported_percentile(19) is None


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        {"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
        {"id": 2, "parent": 0, "t0": 3.0, "t1": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "t0": 2.0, "t1": 3.0},  # grandchild of 0
        {"id": 4, "parent": 0, "t0": 9.5, "t1": 12.0},  # ends after its parent
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 5.0 - 0.5
    assert st[1] == 2.0
    assert st[2] == 3.0
    assert st[3] == 1.0
    assert st[4] == 2.5


def _square(x):
    return x * x


def test_traced_records_nested_spans_only_when_enabled():
    rec = tracing.Recorder()
    old = tracing.RECORDER
    tracing.RECORDER = rec
    try:
        inner = tracing.Traced("inner", _square)
        outer = tracing.Traced("outer", lambda x: inner(x) + 1)
        assert outer(3) == 10 and rec.spans == []
        rec.enabled = True
        tracing._local.rid = "C-0-7"
        assert outer(3) == 10
        tracing._local.rid = None
        spans = {s["name"]: s for s in rec.take()}
        assert spans["inner"]["parent"] == spans["outer"]["id"]
        assert spans["outer"]["parent"] is None
        assert spans["inner"]["rid"] == "C-0-7"
        assert spans["outer"]["t0"] <= spans["inner"]["t0"] <= spans["inner"]["t1"] <= spans["outer"]["t1"]
        assert rec.spans == []
    finally:
        tracing.RECORDER = old


def test_traced_method_binds_and_pickles_by_reference():
    class Box:
        def __init__(self, v):
            self.v = v

        def get(self):
            return self.v

    Box.get = tracing.Traced("box.get", Box.get)
    assert Box(5).get() == 5
    t = pickle.loads(pickle.dumps(tracing.Traced("sq", _square, tracing._length)))
    assert t(4) == 16 and t.measure is tracing._length


def _recorded_log():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        return f.readlines()


def test_event_log_groups_jobs_stages_tasks_and_metrics():
    # recorded from local[2]: C-0-0 a grouped count over range(2000) in two
    # partitions (AQE runs it as two jobs), C-0-1 a mapInPandas over
    # range(500), "other" a collect of range(10)
    groups = parse_event_log(_recorded_log())
    assert set(groups) == {"C-0-0", "C-0-1", "other"}
    g0, g1 = groups["C-0-0"], groups["C-0-1"]
    assert (g0["jobs"], g0["stages"], g0["tasks"]) == (2, 2, 3)
    assert g0["input_rows"] == 2000
    assert g0["shuffle_write_bytes"] == g0["shuffle_read_bytes"] == 339
    assert g0["python_bytes"] == 0 and g0["spill_bytes"] == 0
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (1, 1, 2)
    assert g1["input_rows"] == 500 and g1["python_bytes"] == 12928
    assert g0["job_wait_ms"] == [151, 25] and g1["job_wait_ms"] == [22]
    assert g1["cpu_ns"] == 294082972 and g1["run_ms"] == 3711


def test_event_log_prefix_filter_and_exact_repeat():
    lines = _recorded_log()
    only_c = parse_event_log(lines, prefix="C-")
    assert set(only_c) == {"C-0-0", "C-0-1"}
    assert parse_event_log(lines) == parse_event_log(lines)


def test_same_seed_gives_identical_requests():
    for workload in wl.CONNECTIONS:
        a, b = wl.request_lists(workload, 7), wl.request_lists(workload, 7)
        assert a == b
        assert a != wl.request_lists(workload, 8)
        assert len(a) == wl.CONNECTIONS[workload]
        assert wl.warmup_requests(workload, 7) == wl.warmup_requests(workload, 7)
    assert wl.places(7) == wl.places(7) != wl.places(8)


def test_analytics_blocks_have_a_fixed_mix():
    n = wl.BLOCK["analytics_routes"]
    assert n == len(wl.analytics_block())
    for seed in (1, 2):
        reqs = wl.request_lists("analytics_routes", seed)[0]
        for start in range(0, 5 * n, n):
            block = reqs[start:start + n]
            assert sorted(r.kind for r in block) == sorted(k for k, _ in wl.analytics_block())
            zooms = sorted(int(r.path.split("/tiles/")[1].split("/")[0])
                           for r in block if r.kind == "spark_tile")
            assert zooms == list(range(wl.num_levels()))


def test_viewer_tiles_stay_inside_the_pyramid():
    for reqs in wl.request_lists("tile_browse", 3):
        for r in reqs:
            if r.kind == "tile":
                z, x, y = r.path.split("?")[0].removesuffix(".png").split("/")[-3:]
                n = 1 << int(z)
                assert 0 <= int(x) < n and 0 <= int(y) < n


def test_expected_places_match_a_per_point_loop():
    pts = wl.places(5)
    ring = [[1.0, 50.5], [2.5, 50.7], [2.2, 52.0], [0.8, 51.6], [1.0, 50.5]]
    body = json.dumps({"type": "Polygon", "coordinates": [ring]}).encode()

    def inside(x, y):
        hit = False
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                hit = not hit
        return hit

    want = {str(i) for i, (x, y) in enumerate(pts) if inside(x, y)}
    assert checks.expected_places(pts, "/places/sites", body) == want and want
    got = checks.expected_places(pts, "/places/sites?bbox=1,50,2,51", None)
    assert got == {str(i) for i, (x, y) in enumerate(pts)
                   if 1 <= x <= 2 and 50 <= y <= 51}


def _grid():
    from xcube_server_spark.cube.grid import GridMeta

    return GridMeta(width=wl.WIDTH, height=wl.HEIGHT, extent=wl.EXTENT, times=wl.TIMES)


def test_cell_index_agrees_with_the_grid():
    import random

    grid, rng = _grid(), random.Random(0)
    for _ in range(200):
        lon, lat = wl._point(rng)
        assert checks.cell_index(lat, lon) == (grid.lat_idx_of(lat), grid.lon_idx_of(lon))


def test_mask_bounds_accept_the_rasterizer_and_catch_wrong_masks():
    import random

    from xcube_server_spark.cube.rasterize import rasterize_mask

    grid, rng = _grid(), random.Random(1)
    for half in wl.POLYGON_HALF_CELLS:
        ring = wl._quad(rng, half)["coordinates"][0]
        mask = rasterize_mask({"type": "Polygon", "coordinates": [ring]}, grid)
        assert checks.mask_within_bounds(mask, ring)
        # a wrong mask: an interior cell dropped, a far cell added, a cell twice
        i, j = checks.cell_index(*reversed(np.mean(ring[:-1], axis=0)))
        inner = np.array([c for c in mask.tolist() if c != [i, j]])
        assert len(inner) == len(mask) - 1
        assert not checks.mask_within_bounds(inner, ring)
        assert not checks.mask_within_bounds(np.vstack([mask, [[i, j + 3 * half]]]), ring)
        assert not checks.mask_within_bounds(np.vstack([mask, mask[:1]]), ring)
        # a cell next to the polygon's bounding box, which it cannot touch
        top = mask[:, 0].min()
        assert not checks.mask_within_bounds(np.vstack([mask, [[top - 1, j]]]), ring)


def test_series_recomputation_counts_nulls():
    truth = checks.CubeTruth.__new__(checks.CubeTruth)
    vals = np.full((len(wl.TIMES), wl.HEIGHT, wl.WIDTH), 2.0)
    vals[2:4] = np.nan
    vals[0, 0, 1] = 4.0
    truth._values = {"v": vals}
    s = truth.series("v", np.array([[0, 0], [0, 1]]))
    assert s[0]["result"] == {"totalCount": 2, "validCount": 2, "average": 3.0}
    assert s[2]["result"] == {"totalCount": 2, "validCount": 0, "average": None}
    assert s[0]["date"] == "2017-01-16T10:09:22Z"
    assert checks.series_match(s, s)
    assert not checks.series_match(s, s[:-1])
