"""Incremental LOD maintenance for the cube append stream (VERDICT r04 #6).

The reference serves ``'current'`` as the newest time slice
(``xcube_server/context.py:437-438``); when new slices arrive, its lazy
dask pyramid recomputes levels on demand. Our materialized pyramid
(``sources/cube_ingest.write_cube``) would need a full LOD rebuild per
append — unacceptable once the cube is large. The A5 decimation aggregates
are SLICE-LOCAL (a level cell at time t derives only from level-0 cells at
the same t), so an arriving slice can be decimated into every level
independently of existing data: cost is O(new slice), not O(cube).

``CubeLevelAppendSink`` is a ``foreachBatch`` sink that does exactly that:

- per batch, merge the arriving rows into ``l0``'s ``time_idx`` partitions,
  then stride-decimate (the same ``(lat%2, lon%2)`` reindex as
  ``write_cube`` — parity: ``xcube_server/mldataset.py:296-304``) level by
  level. Every step is bounded by the TOUCHED SLICES, not the cube: the
  merge reads only the batch's own ``time_idx`` partitions back.
- a micro-batch need NOT be slice-atomic: when a slice's rows span several
  batches (file-granular triggers), each batch merges with the partition's
  existing rows (cell-keyed anti-join, batch wins — update semantics for
  re-delivered cells) before a DYNAMIC partition overwrite replaces just
  those ``time_idx`` partitions. The merged frame is localCheckpoint-ed
  first — you cannot lazily read the files you are about to overwrite.
- exactly-once: a ledger (same discipline as
  :class:`~xcube_server_spark.streaming.sink.ExactlyOnceParquetSink`)
  skips fully-committed batch replays; a replay of a partially-committed
  batch re-merges into the same partitions (idempotent — the anti-join
  dedupes), and a crash between levels replays the same way.

``register_appended_slices`` then extends the catalog's time axis so
``'current'`` binds to the newest appended slice without re-registering.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cube.catalog import CubeCatalog
from ..sources.paths import join_store_path


class CubeLevelAppendSink:
    """foreachBatch sink maintaining a written cube's LOD pyramid
    incrementally. ``spatial_bands`` mirrors the ``write_cube`` layout knob
    (range partition by lat band + sort, so each part file covers a tight
    cell box)."""

    def __init__(self, base_path: str, num_levels: int, spatial_bands: int = 2):
        self.base_path = base_path
        self.num_levels = num_levels
        self.spatial_bands = spatial_bands
        self._ledger = os.path.join(base_path, "_lod_committed_batches")

    def committed(self) -> set[int]:
        try:
            with open(self._ledger) as f:
                return {int(line) for line in f if line.strip()}
        except FileNotFoundError:
            return set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self.committed():
            return
        spark = batch_df.sparkSession
        touched = [
            r["time_idx"]
            for r in batch_df.select("time_idx").distinct().collect()
        ]
        if not touched:
            with open(self._ledger, "a") as f:
                f.write(f"{batch_id}\n")
            return
        keys = ["time_idx", "lat_idx", "lon_idx"]
        level = batch_df
        for k in range(self.num_levels):
            lv_path = join_store_path(self.base_path, f"l{k}")
            # merge with whatever this partition already holds (an earlier
            # batch of the same slice, or a partially-committed replay);
            # batch rows win on cell-key collision
            existing = (
                spark.read.parquet(lv_path)
                .filter(F.col("time_idx").isin(touched))
                .join(level.select(*keys), keys, "left_anti")
            )
            # canonical column order across writes (a partition dir must not
            # accumulate files with differing physical column order)
            merged = existing.unionByName(level).select(*level.columns)
            out = (
                merged.repartitionByRange(
                    self.spatial_bands, "time_idx", "lat_idx"
                )
                .sortWithinPartitions("time_idx", "lat_idx", "lon_idx")
                # materialize BEFORE the overwrite — the plan reads the very
                # partitions the write replaces
                .localCheckpoint()
            )
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("time_idx")
                .parquet(lv_path)
            )
            if k + 1 < self.num_levels:
                # slice-local stride decimation — identical reindex to
                # write_cube's pyramid build, applied only to the new rows
                level = (
                    level.filter(
                        (F.col("lat_idx") % 2 == 0) & (F.col("lon_idx") % 2 == 0)
                    )
                    .withColumn("lat_idx", (F.col("lat_idx") / 2).cast("int"))
                    .withColumn("lon_idx", (F.col("lon_idx") / 2).cast("int"))
                )
        with open(self._ledger, "a") as f:
            f.write(f"{batch_id}\n")


def register_appended_slices(
    catalog: CubeCatalog, ds_id: str, new_times: list[str]
) -> None:
    """Extend a registered cube's time axis after slices were appended:
    ``'current'`` (= last axis entry, reference ``context.py:437-438``)
    now binds to the newest appended slice. Clears the dataset's memoized
    level frames (their underlying partitions grew) and persists the
    updated metadata so a fresh session sees the same axis."""
    meta = catalog.datasets[ds_id]
    meta.grid = replace(
        meta.grid, times=tuple(meta.grid.times) + tuple(new_times)
    )
    for key in [k for k in catalog._df_cache if k[0] == ds_id]:
        del catalog._df_cache[key]
    catalog.save_meta(meta)
