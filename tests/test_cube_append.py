"""Incremental LOD maintenance: appending a time slice through the
streaming sink must serve 'current' tiles from every level without a full
pyramid rebuild, bit-identical to a from-scratch rebuild."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xcube_server_spark.cube.catalog import CubeCatalog, DatasetMeta, StyleMeta
from xcube_server_spark.cube.tiles import TileService, render_tiles
from xcube_server_spark.sources.cube_ingest import (
    DEMO_TIMES,
    synth_demo_cube,
    write_cube,
)
from xcube_server_spark.streaming.cube_append import (
    CubeLevelAppendSink,
    register_appended_slices,
)

W, H = 64, 32  # 3 levels at tile_size 16
VARS = ["conc_chl", "conc_tsm", "kd489"]


@pytest.fixture()
def split_cubes(spark, tmp_path):
    """Full 5-slice cube (the rebuild reference) + a 3-slice base cube and
    the 2 held-out slices staged as a streaming source."""
    full, grid = synth_demo_cube(spark, width=W, height=H)
    base_full = str(tmp_path / "full")
    _, tg = write_cube(full, grid, base_full, tile_size=16)

    head = full.filter(F.col("time_idx") < 3)
    import dataclasses

    grid_head = dataclasses.replace(grid, times=tuple(DEMO_TIMES[:3]))
    base_inc = str(tmp_path / "incremental")
    write_cube(head, grid_head, base_inc, tile_size=16)

    tail_path = str(tmp_path / "arriving_slices")
    full.filter(F.col("time_idx") >= 3).write.parquet(tail_path)
    return base_full, base_inc, tail_path, grid, grid_head, tg


def test_streamed_slice_append_serves_current_tiles(spark, split_cubes):
    base_full, base_inc, tail_path, grid, grid_head, tg = split_cubes

    cat = CubeCatalog(spark)
    meta = cat.register_written_cube(
        "inc", base_inc, grid_head, tg, ["conc_chl", "conc_tsm", "kd489"],
        styles={"conc_tsm": StyleMeta("plasma", (0.0, 100.0))},
    )
    cat.save_meta(meta)

    # sanity: before the append, 'current' is the 3rd slice
    assert cat.times("inc")[-1] == DEMO_TIMES[2]
    l0_before = set(os.listdir(os.path.join(base_inc, "l0")))

    # drive the append through a REAL stream (availableNow, foreachBatch)
    sink = CubeLevelAppendSink(base_inc, tg.num_levels)
    batch = spark.read.parquet(tail_path)
    q = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(tail_path)
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", os.path.join(base_inc, "_append_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sink.committed()

    register_appended_slices(cat, "inc", list(DEMO_TIMES[3:]))
    assert cat.times("inc")[-1] == DEMO_TIMES[-1]  # 'current' moved

    # every level gained exactly the two new time partitions — and the
    # original slice partitions were not rewritten (incremental, no rebuild)
    for k in range(tg.num_levels):
        parts = {
            d
            for d in os.listdir(os.path.join(base_inc, f"l{k}"))
            if d.startswith("time_idx=")
        }
        assert {"time_idx=3", "time_idx=4"} <= parts
    assert l0_before <= set(os.listdir(os.path.join(base_inc, "l0")))

    # rebuild reference: the full-cube catalog
    ref_cat = CubeCatalog(spark)
    ref_meta = ref_cat.register_written_cube(
        "full", base_full, grid, tg, ["conc_chl", "conc_tsm", "kd489"],
        styles={"conc_tsm": StyleMeta("plasma", (0.0, 100.0))},
    )
    ref_cat.save_meta(ref_meta)

    # serve 'current' tiles from EVERY zoom (incl. the coarsest level, the
    # one a naive append would have required a full rebuild for) — they
    # must be byte-identical to the full rebuild's tiles
    svc, ref_svc = TileService(cat), TileService(ref_cat)
    for z in range(tg.num_levels):
        assert svc.get_tile("inc", "conc_tsm", z, 0, 0, time="current") == \
            ref_svc.get_tile("full", "conc_tsm", z, 0, 0, time="current")

    # row parity per level against the rebuilt pyramid
    for k in range(tg.num_levels):
        got = spark.read.parquet(os.path.join(base_inc, f"l{k}")).count()
        want = spark.read.parquet(os.path.join(base_full, f"l{k}")).count()
        assert got == want, (k, got, want)


def test_live_tile_service_serves_current_after_append(spark, split_cubes):
    """A service that cached the 'current' tile before an append serves the
    new last step after it, the bytes a fresh service renders."""
    _, base_inc, tail_path, _grid, grid_head, tg = split_cubes
    cat = CubeCatalog(spark)
    cat.save_meta(cat.register_written_cube("inc", base_inc, grid_head, tg, VARS))
    svc = TileService(cat)
    before = svc.get_tile("inc", "kd489", 0, 0, 0, time="current")

    CubeLevelAppendSink(base_inc, tg.num_levels)(
        spark.read.parquet(tail_path), batch_id=0
    )
    register_appended_slices(cat, "inc", list(DEMO_TIMES[3:]))

    after = svc.get_tile("inc", "kd489", 0, 0, 0, time="current")
    assert after == TileService(cat).get_tile("inc", "kd489", 0, 0, 0, time="current")
    assert after != before


def test_weekly_dataset_over_appended_cube_serves_new_weeks(spark, split_cubes):
    """A computed weekly dataset over an appended cube follows the append:
    the Jan 28 slice joins the Jan 29 week, the Jan 30 slice opens the Feb 5
    week, and axis, frames and tiles equal those of the same dataset over
    the full cube, even when the catalog served it before the append."""
    base_full, base_inc, tail_path, grid, grid_head, tg = split_cubes
    cats = {}
    for name, base, g in (("inc", base_inc, grid_head), ("full", base_full, grid)):
        cat = CubeCatalog(spark)
        cat.save_meta(cat.register_written_cube(name, base, g, tg, VARS))
        cat.register(DatasetMeta(
            identifier=f"{name}-1w", title="weekly", base_path="", grid=g,
            tile_grid=tg, variables=VARS, computed=True,
            function="resample_in_time", input_datasets=[name],
            input_params={"period": "1W"},
        ))
        cats[name] = cat
    cat, full = cats["inc"], cats["full"]
    assert cat.times("inc-1w") == ["2017-01-22 00:00:00", "2017-01-29 00:00:00"]
    TileService(cat).get_tile("inc-1w", "kd489", 0, 0, 0, time="current")

    CubeLevelAppendSink(base_inc, tg.num_levels)(
        spark.read.parquet(tail_path), batch_id=0
    )
    register_appended_slices(cat, "inc", list(DEMO_TIMES[3:]))

    assert cat.times("inc-1w") == full.times("full-1w") == [
        "2017-01-22 00:00:00", "2017-01-29 00:00:00", "2017-02-05 00:00:00",
    ]
    order = ["lat_idx", "lon_idx"]
    for t in range(3):
        assert cat.cube("inc-1w", 0, t).orderBy(order).collect() \
            == full.cube("full-1w", 0, t).orderBy(order).collect()
    for time in ("current", "2017-01-29"):
        assert TileService(cat).get_tile("inc-1w", "kd489", 0, 0, 0, time=time) \
            == TileService(full).get_tile("full-1w", "kd489", 0, 0, 0, time=time)


def _weekly_catalog(spark, base, grid, tg) -> CubeCatalog:
    cat = CubeCatalog(spark)
    cat.save_meta(cat.register_written_cube("inc", base, grid, tg, VARS))
    cat.register(DatasetMeta(
        identifier="inc-1w", title="weekly", base_path="", grid=grid,
        tile_grid=tg, variables=VARS, computed=True,
        function="resample_in_time", input_datasets=["inc"],
        input_params={"period": "1W"},
    ))
    return cat


def _append(spark, cat, base_inc, tail_path, tg) -> None:
    CubeLevelAppendSink(base_inc, tg.num_levels)(
        spark.read.parquet(tail_path), batch_id=0
    )
    register_appended_slices(cat, "inc", list(DEMO_TIMES[3:]))


def test_live_tile_service_serves_grown_week_after_append(spark, split_cubes):
    """A live service that cached the tile of a weekly step serves its new
    tile once an append adds an input step to that week: the week keeps its
    label, but the step's source changed."""
    _, base_inc, tail_path, _grid, grid_head, tg = split_cubes
    cat = _weekly_catalog(spark, base_inc, grid_head, tg)
    svc = TileService(cat)
    before = svc.get_tile("inc-1w", "kd489", 0, 0, 0, time="2017-01-29")

    _append(spark, cat, base_inc, tail_path, tg)

    after = svc.get_tile("inc-1w", "kd489", 0, 0, 0, time="2017-01-29")
    assert after == TileService(cat).get_tile("inc-1w", "kd489", 0, 0, 0, time="2017-01-29")
    assert after != before


def test_weekly_tiles_match_spark_render_across_an_append(spark, split_cubes):
    """Every tile of every week at every zoom that a live service serves of
    a weekly dataset is the PNG of ``render_tiles``, before an append (the
    Jan 29 week partial, with one all-NULL conc_tsm step) and after it (the
    week grown by a second all-NULL step, and a new week)."""
    _, base_inc, tail_path, _grid, grid_head, tg = split_cubes
    cat = _weekly_catalog(spark, base_inc, grid_head, tg)
    svc = TileService(cat)
    for phase in ("before", "after"):
        if phase == "after":
            _append(spark, cat, base_inc, tail_path, tg)
        for week in cat.times("inc-1w"):
            for z in range(tg.num_levels):
                rows = render_tiles(cat, "inc-1w", "conc_tsm", z, time=week).collect()
                assert rows
                for r in rows:
                    x, y = r["tile_x"], r["tile_y"]
                    got = svc.get_tile("inc-1w", "conc_tsm", z, x, y, time=week)
                    assert got == bytes(r["png"]), (phase, week, z, x, y)


def test_append_sink_replay_is_exactly_once(spark, split_cubes):
    _, base_inc, tail_path, _grid, _gh, tg = split_cubes
    sink = CubeLevelAppendSink(base_inc, tg.num_levels)
    batch = spark.read.parquet(tail_path)
    n_l0_rows = batch.count()
    sink(batch, batch_id=0)
    before = spark.read.parquet(os.path.join(base_inc, "l0")).count()
    # committed replay: ledger fast path skips
    sink(batch, batch_id=0)
    # partial-commit replay: ledger wiped for id 1, dirs already written —
    # dynamic partition overwrite must REPLACE, not duplicate
    sink(batch, batch_id=1)
    sink(batch, batch_id=1)
    after = spark.read.parquet(os.path.join(base_inc, "l0")).count()
    assert before == after
    assert after == spark.read.parquet(
        os.path.join(base_inc, "l0")
    ).dropDuplicates(["time_idx", "lat_idx", "lon_idx"]).count()
    assert n_l0_rows > 0
