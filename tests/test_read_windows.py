"""``CubeCatalog.read_windows``, the driver read of the serving path: its
rows equal a pyarrow dataset read with a per-row window filter on every
layout, a rewritten part file is read afresh, a warm read opens no file,
and a date-ranged time series reads only the steps in range."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from xcube_server_spark.cube import catalog as catalog_mod
from xcube_server_spark.cube.catalog import CubeCatalog, DatasetMeta, level_table
from xcube_server_spark.cube.computed import get_transform
from xcube_server_spark.cube.timeseries import (
    local_series_for_point,
    time_series_for_point,
)
from xcube_server_spark.sources.cube_ingest import (
    DEMO_TIMES,
    synth_demo_cube,
    synth_noise_cube,
    write_cube,
)
from xcube_server_spark.streaming.cube_append import (
    CubeLevelAppendSink,
    register_appended_slices,
)

W, H = 24, 12
VARS = ["conc_chl", "conc_tsm", "kd489"]


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    """A latband cube whose steps each span two part files, a zorder cube,
    an inv_y cube, and a weekly dataset over the first."""
    root = tmp_path_factory.mktemp("rw")
    cat = CubeCatalog(spark)
    demo, grid = synth_demo_cube(spark, width=W, height=H)
    for name, kw in (
        ("latband", {"spatial_bands": 10}),
        ("zorder", {"layout": "zorder"}),
    ):
        _, tg = write_cube(demo, grid, str(root / name), tile_size=8, **kw)
        cat.register_written_cube(name, str(root / name), grid, tg, VARS)
    noise, ngrid = synth_noise_cube(spark, width=32, height=16)
    _, ntg = write_cube(noise, ngrid, str(root / "noise"), tile_size=8)
    cat.register_written_cube("noise", str(root / "noise"), ngrid, ntg, ["noise"])
    cat.register(DatasetMeta(
        identifier="weekly", title="weekly", base_path="", grid=grid,
        tile_grid=cat.datasets["latband"].tile_grid, variables=VARS,
        computed=True, function="resample_in_time", input_datasets=["latband"],
        input_params={"period": "1W"},
    ))
    return cat


def _oracle(cat, ds, columns, windows, level=0, steps=None):
    """The pyarrow dataset read with a per-row window filter that served
    before part files were decoded once."""
    meta = cat.datasets[ds]
    bases, table = cat.step_sources(ds, steps)
    f = pads.field
    filt = None
    for (i0, i1), (j0, j1) in windows:
        box = (
            (f("lat_idx") >= i0) & (f("lat_idx") < i1)
            & (f("lon_idx") >= j0) & (f("lon_idx") < j1)
        )
        filt = box if filt is None else filt | box
    keys = ["time", "lat_idx", "lon_idx"]
    read_cols = (
        keys[1:] + [c for c in columns if c not in keys] if meta.computed else columns
    )
    inputs = []
    for base in bases:
        level_dir = level_table(base, level)
        parts = []
        for label, idx in table:
            dirs = [
                f"{level_dir}/time_idx={i}" for i in idx
                if os.path.isdir(f"{level_dir}/time_idx={i}")
            ]
            if not dirs:
                continue
            part = pads.dataset(
                [pads.dataset(d, format="parquet") for d in dirs]
            ).to_table(columns=read_cols, filter=filt)
            if meta.computed:
                when = pa.scalar(np.datetime64(label, "us"))
                part = part.append_column("time", pa.repeat(when, len(part)))
            parts.append(part)
        inputs.append(pa.concat_tables(parts))
    if not meta.computed:
        return inputs[0]
    _, _, reduce = get_transform(meta.function)
    return reduce(*inputs, **meta.input_params).select(columns)


def _sorted_rows(table: pa.Table) -> list[tuple]:
    return sorted(
        (tuple(r.values()) for r in table.to_pylist()), key=repr
    )


def _assert_parity(cat, ds, columns, windows, level=0, steps=None) -> pa.Table:
    got = cat.read_windows(ds, columns, windows, level, steps)
    want = _oracle(cat, ds, columns, windows, level, steps)
    assert got is not None
    assert got.schema.names == want.schema.names == columns
    assert got.schema.types == want.schema.types
    assert _sorted_rows(got) == _sorted_rows(want)
    # each stored row once, however the windows overlap
    keys = ("time", "lat_idx", "lon_idx")
    if set(keys) <= set(columns):
        cells = list(zip(*(got.column(c).to_pylist() for c in keys)))
        assert len(cells) == len(set(cells))
    return got


WINDOWS = {
    "interior": [((2, 7), (3, 11))],
    "overlapping": [((2, 7), (3, 11)), ((5, 9), (8, 15)), ((2, 7), (3, 11))],
    "partly off": [((-3, 4), (20, 30)), ((10, 40), (-5, 2))],
    "whole grid": [((0, H), (0, W))],
}
COLUMNS = (
    ["time", "lat_idx", "lon_idx", "conc_tsm"],
    ["lat_idx", "lon_idx", "kd489", "conc_chl"],
    ["conc_chl"],
)


def test_steps_span_two_part_files(cat):
    for step in range(len(DEMO_TIMES)):
        step_dir = f"{level_table(cat.datasets['latband'].base_path, 0)}/time_idx={step}"
        assert len(catalog_mod._part_files(step_dir)) == 2


@pytest.mark.parametrize("ds", ["latband", "zorder", "weekly"])
def test_read_matches_filtered_dataset_read(cat, ds):
    """Every window shape, column list and step choice (conc_tsm is all
    NULL at steps 2 and 3, so weekly step 1 too) at two levels."""
    n = len(cat.times(ds))
    for name, windows in WINDOWS.items():
        for columns in COLUMNS:
            for steps in (None, [n - 1], [2, 3] if n > 3 else [0, 1]):
                for level in (0, 1):
                    got = _assert_parity(cat, ds, columns, windows, level, steps)
                    assert level or len(got), (name, columns, steps)
    # all-NULL steps stay rows, with NULL values
    got = _assert_parity(cat, "latband", ["conc_tsm"], WINDOWS["interior"], 0, [2, 3])
    assert len(got) == 2 * 5 * 8 and got.column("conc_tsm").null_count == len(got)


def test_inv_y_read_matches_filtered_dataset_read(cat):
    for windows in ([((0, 5), (4, 20))], [((3, 16), (0, 9)), ((0, 4), (2, 6))]):
        for level in (0, 1):
            _assert_parity(cat, "noise", ["time", "lat_idx", "lon_idx", "noise"],
                           windows, level)


@pytest.mark.parametrize("ds", ["latband", "zorder", "weekly"])
def test_windows_off_the_grid_read_an_empty_table(cat, ds):
    for windows in ([((H, H + 5), (0, W))], [((-4, 0), (0, 3)), ((0, 3), (W, W + 9))]):
        got = _assert_parity(cat, ds, ["time", "lat_idx", "lon_idx", "kd489"], windows)
        assert len(got) == 0


def test_warm_read_opens_no_parquet_file(cat, monkeypatch):
    opened = []

    def counting(fn):
        def wrapper(*args, **kwargs):
            opened.append(args[0] if args else kwargs)
            return fn(*args, **kwargs)
        return wrapper

    for module, name in ((pq, "ParquetFile"), (pq, "read_table"), (pads, "dataset")):
        monkeypatch.setattr(module, name, counting(getattr(module, name)))
    args = ("zorder", ["time", "lat_idx", "lon_idx", "conc_chl"],
            [((1, 6), (2, 9))], 0, [0, 4])
    monkeypatch.setattr(cat, "_parts", catalog_mod.ByteCache(catalog_mod.DECODED_BYTES))
    first = cat.read_windows(*args)
    assert opened
    opened.clear()
    second = cat.read_windows(*args)
    assert opened == []
    assert second.equals(first)


def test_decoded_bytes_stay_within_the_bound(cat, monkeypatch):
    """The decoded-file cache never holds more than its bound; a part file
    that alone exceeds it is not kept, and its read declines."""
    parts = catalog_mod.ByteCache(catalog_mod.DECODED_BYTES)
    monkeypatch.setattr(cat, "_parts", parts)
    for ds in ("latband", "zorder", "noise"):
        for level in (0, 1):
            cat.read_windows(ds, ["lat_idx", cat.datasets[ds].variables[0]],
                             [((0, 99), (0, 99))], level)
    assert 0 < parts._used <= catalog_mod.DECODED_BYTES
    small = 64  # less than any part file's cell index
    monkeypatch.setattr(catalog_mod, "DECODED_BYTES", small)
    monkeypatch.setattr(cat, "_parts", catalog_mod.ByteCache(small))
    assert cat.read_windows("latband", ["kd489"], [((0, 2), (0, 2))], 0, [0]) is None
    assert len(cat._parts) == 0


def test_concurrent_reads_share_the_decoded_files(cat, monkeypatch):
    """More request threads than cores reading different columns of the
    same part files: every read answers its oracle rows, and the cache's
    byte count is the size of what it holds."""
    import concurrent.futures
    import sys

    parts = catalog_mod.ByteCache(catalog_mod.DECODED_BYTES)
    monkeypatch.setattr(cat, "_parts", parts)
    jobs = [
        (ds, ["time", "lat_idx", "lon_idx", var], windows)
        for ds in ("latband", "zorder")
        for var in VARS
        for windows in WINDOWS.values()
    ] * 2
    want = [_sorted_rows(_oracle(cat, *job)) for job in jobs]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with concurrent.futures.ThreadPoolExecutor(max_workers=16) as ex:
            got = list(ex.map(lambda job: cat.read_windows(*job), jobs, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert [_sorted_rows(t) for t in got] == want
    assert parts._used == sum(len(v) for v in parts._data.values())


def test_read_follows_a_dynamic_overwrite_of_its_step(spark, tmp_path):
    """One live catalog reads an appended step, then the rest of the same
    slice arrives as a second append batch, which rewrites the step's
    ``time_idx`` partition: the next read returns the merged rows."""
    cube, grid = synth_demo_cube(spark, width=16, height=8)
    base = str(tmp_path / "inc")
    import dataclasses

    head = dataclasses.replace(grid, times=tuple(DEMO_TIMES[:4]))
    _, tg = write_cube(cube.filter(F.col("time_idx") < 4), head, base, tile_size=8)
    cat = CubeCatalog(spark)
    cat.save_meta(cat.register_written_cube("inc", base, head, tg, VARS))
    tail = str(tmp_path / "tail")
    cube.filter(F.col("time_idx") == 4).write.parquet(tail)
    batch = spark.read.parquet(tail)
    sink = CubeLevelAppendSink(base, tg.num_levels)

    sink(batch.filter(F.col("lat_idx") < 3), batch_id=0)
    register_appended_slices(cat, "inc", [DEMO_TIMES[4]])
    columns = ["time", "lat_idx", "lon_idx", "kd489"]
    whole = [((0, 8), (0, 16))]
    got = _assert_parity(cat, "inc", columns, whole, 0, [4])
    assert len(got) == 3 * 16

    sink(batch.filter(F.col("lat_idx") >= 3), batch_id=1)
    got = _assert_parity(cat, "inc", columns, whole, 0, [4])
    assert len(got) == 8 * 16
    want = cube.filter(F.col("time_idx") == 4).select(*columns).collect()
    assert sorted(map(tuple, want), key=repr) == _sorted_rows(got)


@pytest.mark.parametrize("ds, start, end", [
    ("latband", "2017-01-26", "2017-01-27"),
    ("latband", DEMO_TIMES[3], DEMO_TIMES[3]),
    ("weekly", "2017-01-29", "2017-01-29T00:00:00Z"),
])
def test_date_bounds_read_only_the_steps_in_range(cat, monkeypatch, ds, start, end):
    """A one-step date range hands ``read_windows`` that one step, and the
    series equals the Spark plan's."""
    read = CubeCatalog.read_windows
    calls = []

    def spy(self, *args, **kwargs):
        calls.append(kwargs.get("steps"))
        return read(self, *args, **kwargs)

    monkeypatch.setattr(CubeCatalog, "read_windows", spy)
    lon, lat = 2.1, 51.4
    got = local_series_for_point(cat, ds, "kd489", lon, lat, start, end)
    assert len(calls) == 1 and len(calls[0]) == 1
    want = time_series_for_point(cat, ds, "kd489", lon, lat, start, end).collect()
    assert len(got) == len(want) == 1
    assert got[0]["date"] == want[0]["date"]
    assert got[0]["valid_count"] == want[0]["valid_count"]
    assert got[0]["average"] == pytest.approx(want[0]["average"], rel=1e-9)
    # a range between two steps reads nothing
    calls.clear()
    assert local_series_for_point(
        cat, ds, "kd489", lon, lat, "2017-01-17", "2017-01-18") == []
    assert calls == []
