"""Cube ingestion: store → tall parquet cube table + dim tables + LOD pyramid.

The reference opens NetCDF/zarr lazily per request
(``xcube_server/context.py:238-255``). Spark has no native NetCDF/zarr reader
(SURVEY.md §1.5), so ingestion is an explicit job. Here we provide:

- a *synthetic* generator reproducing the demo-cube fixture semantics
  (FIXTURES.md F-1: 5 timesteps, extent (0, 50, 5, 52.5), smooth
  sin/cos fields, all-NaN timesteps for one variable) — generated
  DISTRIBUTEDLY from ``spark.range`` so the same code scales to any grid;
- the generic ``write_cube`` layout step (partitioning + sort, so each
  part file covers a tight cell box) any real reader (e.g. a mapInPandas
  over zarr chunk manifests) would feed;
- LOD pyramid materialization by stride decimation
  (parity: ``xcube_server/mldataset.py:296-304``).

NaN→NULL normalization happens HERE, once (SURVEY.md §7.1 M0): downstream
every aggregate gets reference NaN semantics from plain Spark NULL handling.

100 TB layout: partition by time_idx, then range-partition each time slice
into spatial row bands sorted by (lat_idx, lon_idx). Spark's writer puts
a part file smaller than its 128 MB parquet block in ONE row group, as
every band file written here is, so the unit a Spark scan prunes by
min/max stats is the part file: a tile window or bbox reads the few band
files that intersect it.
The driver read (``CubeCatalog.read_windows``) does not prune at all: it
decodes each part file once and slices a cell index. At cluster scale add
a coarse spatial block column (``lat_idx div B``) as a second partition
key.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cube.grid import GridMeta, TileGridMeta
from .paths import join_store_path

DEMO_TIMES = (
    "2017-01-16 10:09:22",
    "2017-01-25 09:35:51",
    "2017-01-26 10:50:17",
    "2017-01-28 09:58:11",
    "2017-01-30 10:46:34",
)
DEMO_EXTENT = (0.0, 50.0, 5.0, 52.5)
DEMO_VARS = ("conc_chl", "conc_tsm", "kd489")


def synth_demo_cube(
    spark: SparkSession,
    width: int = 200,
    height: int = 100,
    times: tuple[str, ...] = DEMO_TIMES,
    extent: tuple[float, float, float, float] = DEMO_EXTENT,
) -> tuple[DataFrame, GridMeta]:
    """Deterministic stand-in for the demo cube ``cube.nc`` (FIXTURES.md F-1).

    One row per (time_idx, lat_idx, lon_idx); smooth per-variable fields
    ``a*(sin(k1*lon) + cos(k2*lat)) + b*t``; ``conc_tsm`` is all-NULL at
    time_idx 2 and 3 (reproduces the ``validCount: 0, average: None`` golden
    rows of the reference's ``test/controllers/test_time_series.py:29-32``);
    ``conc_chl`` has a NULL blob where the field exceeds a threshold.

    Fully distributed: ``spark.range(T*H*W)`` → index arithmetic → column
    expressions. No driver-side arrays, so the identical code generates a
    100 TB cube given a bigger grid.
    """
    grid = GridMeta(width=width, height=height, extent=extent, times=times)
    n = len(times) * height * width
    df = (
        spark.range(n)
        .withColumn("time_idx", (F.col("id") / (height * width)).cast("int"))
        .withColumn("rem", F.col("id") % (height * width))
        .withColumn("lat_idx", (F.col("rem") / width).cast("int"))
        .withColumn("lon_idx", (F.col("rem") % width).cast("int"))
        .drop("id", "rem")
    )
    time_expr = F.array(*[F.to_timestamp(F.lit(t)) for t in times])
    df = df.withColumn("time", F.element_at(time_expr, F.col("time_idx") + 1))
    df = df.withColumn(
        "lat", F.lit(extent[3]) - (F.col("lat_idx") + 0.5) * F.lit(grid.res_lat)
    ).withColumn(
        "lon", F.lit(extent[0]) + (F.col("lon_idx") + 0.5) * F.lit(grid.res_lon)
    )
    base = F.sin(F.col("lon") * 2.0) + F.cos(F.col("lat") * 3.0)
    fields = {
        "conc_chl": (F.lit(8.0) * base + F.col("time_idx") * 1.5 + 10.0),
        "conc_tsm": (F.lit(30.0) * base + F.col("time_idx") * 5.0 + 40.0),
        "kd489": (F.lit(2.0) * base + F.col("time_idx") * 0.25 + 2.5),
    }
    df = df.withColumn(
        "conc_chl",
        F.when(fields["conc_chl"] > 24.0, F.lit(None)).otherwise(
            fields["conc_chl"]
        ).cast("float"),
    )
    df = df.withColumn(
        "conc_tsm",
        F.when(F.col("time_idx").isin(2, 3), F.lit(None))
        .otherwise(fields["conc_tsm"])
        .cast("float"),
    )
    df = df.withColumn("kd489", fields["kd489"].cast("float"))
    return df, grid


@dataclass
class CubeTables:
    base_path: str
    levels: int

    def level_path(self, level: int) -> str:
        return join_store_path(self.base_path, f"l{level}")

    def coords_path(self, name: str) -> str:
        return join_store_path(self.base_path, f"coords_{name}")


def write_cube(
    cube: DataFrame,
    grid: GridMeta,
    base_path: str,
    tile_size: int = 64,
    spatial_bands: int = 4,
    layout: str = "latband",
) -> tuple[CubeTables, TileGridMeta]:
    """Materialize the cube: level-0 table, LOD pyramid, dim tables.

    Layout: partitioned by ``time_idx``, each slice range-partitioned into
    ``spatial_bands`` latitude bands and sorted by (lat_idx, lon_idx) — the
    Spark analog of the reference's chunk-aligned tiles
    (``xcube_server/mldataset.py:417-458``). Each band is one part file of
    one row group, so a Spark tile query reads only the band files whose
    (lat_idx, lon_idx) min/max intersect the tile window.

    ``layout="zorder"`` sorts each slice by the Morton code instead
    (``cube.grid.morton_interleave_expr``): each part file then covers a
    Morton range, with min/max tight on BOTH spatial axes, the right choice
    when bbox queries dominate over full-width tile rows.

    The driver read decodes whole part files once and keeps them
    (``CubeCatalog.read_windows``), so smaller row groups would not make it
    cheaper.
    """
    tg = TileGridMeta.create(grid.width, grid.height, tile_size, grid.extent)
    level = cube
    for k in range(tg.num_levels):
        write_level_table(level, base_path, k, layout, spatial_bands)
        if k + 1 < tg.num_levels:
            # Stride decimation — parity with the reference's dataset levels
            # (var[..., ::2, ::2], xcube_server/mldataset.py:296-304); pure
            # filter + reindex, no shuffle.
            level = (
                level.filter(
                    (F.col("lat_idx") % 2 == 0) & (F.col("lon_idx") % 2 == 0)
                )
                .withColumn("lat_idx", (F.col("lat_idx") / 2).cast("int"))
                .withColumn("lon_idx", (F.col("lon_idx") / 2).cast("int"))
            )

    write_dim_tables(cube.sparkSession, grid, base_path)
    return CubeTables(base_path=base_path, levels=tg.num_levels), tg


def write_level_table(
    level: DataFrame,
    base_path: str,
    k: int,
    layout: str = "latband",
    spatial_bands: int = 4,
) -> None:
    """Write one LOD level with the cube storage layout (shared by
    ``write_cube`` and the pre-built-pyramid path ``levels_ingest``)."""
    from ..cube.grid import morton_interleave_expr

    if layout == "zorder":
        z = level.withColumn("__z", F.expr(morton_interleave_expr()))
        out = (
            z.repartitionByRange(spatial_bands, "time_idx", "__z")
            .sortWithinPartitions("time_idx", "__z")
            .drop("__z")
        )
    else:
        out = (
            level.repartitionByRange(spatial_bands, "time_idx", "lat_idx")
            .sortWithinPartitions("time_idx", "lat_idx", "lon_idx")
        )
    out.write.mode("overwrite").partitionBy("time_idx").parquet(
        join_store_path(base_path, f"l{k}")
    )


def write_dim_tables(spark: SparkSession, grid: GridMeta, base_path: str) -> None:
    """Dim tables (FIXTURES.md F-2): tiny, driver-built — one writer shared
    by every cube-materialization path."""
    lat_rows = [
        (i, grid.lat_of(i), grid.lat_of(i) - grid.res_lat / 2, grid.lat_of(i) + grid.res_lat / 2)
        for i in range(grid.height)
    ]
    lon_rows = [
        (i, grid.lon_of(i), grid.lon_of(i) - grid.res_lon / 2, grid.lon_of(i) + grid.res_lon / 2)
        for i in range(grid.width)
    ]
    spark.createDataFrame(
        lat_rows, "idx int, value double, lo double, hi double"
    ).coalesce(1).write.mode("overwrite").parquet(join_store_path(base_path, "coords_lat"))
    spark.createDataFrame(
        lon_rows, "idx int, value double, lo double, hi double"
    ).coalesce(1).write.mode("overwrite").parquet(join_store_path(base_path, "coords_lon"))
    time_rows = [(i, t) for i, t in enumerate(grid.times)]
    (
        spark.createDataFrame(time_rows, "idx int, value string")
        .withColumn("value", F.to_timestamp("value"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(join_store_path(base_path, "coords_time"))
    )


def synth_noise_cube(
    spark: SparkSession,
    width: int = 72,
    height: int = 36,
    days: int = 3,
) -> tuple["DataFrame", GridMeta]:
    """FIXTURES.md F-3 analog: global-extent cube with ASCENDING latitude
    (``inv_y=True`` — ``test/test_mldataset.py:69-97`` builds lat ascending
    with bounds), one variable ``noise`` = a deterministic lat/lon field.

    Exercises the inv_y code paths (index math + render flip) that the demo
    cube (descending lat) cannot.
    """
    times = tuple(
        f"2019-01-{d + 1:02d} 12:00:00" for d in range(days)
    )
    extent = (-180.0, -90.0, 180.0, 90.0)
    grid = GridMeta(
        width=width, height=height, extent=extent, inv_y=True, times=times
    )
    n = days * height * width
    df = (
        spark.range(n)
        .withColumn("time_idx", (F.col("id") / (height * width)).cast("int"))
        .withColumn("rem", F.col("id") % (height * width))
        .withColumn("lat_idx", (F.col("rem") / width).cast("int"))
        .withColumn("lon_idx", (F.col("rem") % width).cast("int"))
        .drop("id", "rem")
    )
    time_expr = F.array(*[F.to_timestamp(F.lit(t)) for t in times])
    df = df.withColumn("time", F.element_at(time_expr, F.col("time_idx") + 1))
    # inv_y: lat ascends with lat_idx
    df = df.withColumn(
        "lat", F.lit(extent[1]) + (F.col("lat_idx") + 0.5) * F.lit(grid.res_lat)
    ).withColumn(
        "lon", F.lit(extent[0]) + (F.col("lon_idx") + 0.5) * F.lit(grid.res_lon)
    )
    # monotone-in-lat field: render orientation is directly checkable
    df = df.withColumn(
        "noise",
        ((F.col("lat") + 90.0) / 180.0 + F.col("time_idx") * 0.0).cast("float"),
    )
    return df, grid
