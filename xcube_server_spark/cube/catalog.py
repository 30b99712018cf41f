"""Cube catalog: the engine's analog of the reference's ``ServiceContext``
dataset registry (``xcube_server/context.py:57-205``).

Holds per-dataset metadata (grid, tile grid, variable list, styles) and the
parquet paths of the LOD tables; memoizes stored levels' DataFrames per
(dataset, level) the way the reference memoizes opened stores behind a
double-checked lock (``xcube_server/context.py:201-205``) — here a plain
dict is enough because Spark DataFrames are immutable plans, not stateful
handles.

Config comes from the same YAML shape the reference uses
(``xcube_server/res/demo/config.yml``; FIXTURES.md F-6): ``Datasets`` with
``Identifier / Path / Style``, ``Styles`` with per-variable ``ColorBar`` +
``ValueRange``, ``PlaceGroups``. Hot-reload (S11) is a cheap re-scan because
registration only records metadata — no data is touched until a query runs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.paths import join_store_path, local_part_glob, open_store_text
from .cache import ByteCache
from .computed import Step, apply_computed, get_transform, step_table
from .grid import GridMeta, IndexWindow, TileGridMeta
from .places import load_place_group, union_place_groups

# Most rows (window cells x steps read) a driver read may load, about 20 MB
# of columns; larger reads run the Spark plan.
WINDOW_ROW_BUDGET = 1_000_000
# Most bytes of decoded part files (cell indices and the columns read) the
# driver read keeps, the size of the reference's zarr block LRU
# (xcube_server/context.py:228).
DECODED_BYTES = 256 * 2**20

_RAW_SUFFIXES = (".zarr", ".levels", ".nc", ".nc4", ".h5", ".hdf5", ".tif", ".tiff")


def _looks_like_zarr(path: str) -> bool:
    if path.rstrip("/").endswith(".zarr"):
        return True
    return os.path.isdir(path) and (
        os.path.exists(os.path.join(path, ".zgroup"))
        or os.path.exists(os.path.join(path, "zarr.json"))
    )


def _is_raw_store(path: str) -> bool:
    """A config Path pointing at a STORE (what the reference serves:
    ``cube.nc``, ``*.zarr``, ``*.levels`` — ``context.py:236-255``)
    rather than at an engine cube layout (``catalog.json``)."""
    if path.rstrip("/").endswith(_RAW_SUFFIXES):
        return True
    if "://" in path:
        return False  # remote engine layouts carry catalog.json
    if _looks_like_zarr(path):
        return True
    if os.path.isfile(path):
        with open(path, "rb") as f:
            magic = f.read(8)
        return (
            magic[:3] == b"CDF"
            or magic == b"\x89HDF\r\n\x1a\n"
            or magic[:4] in (b"II*\x00", b"MM\x00*")
        )
    return False

try:
    import yaml
except ImportError:  # pragma: no cover
    yaml = None


@dataclass
class StyleMeta:
    color_bar: str = "viridis"
    value_range: tuple[float, float] = (0.0, 1.0)


@dataclass
class DatasetMeta:
    identifier: str
    title: str
    base_path: str
    grid: GridMeta
    tile_grid: TileGridMeta
    variables: list[str]
    styles: dict[str, StyleMeta] = field(default_factory=dict)
    computed: bool = False
    function: str | None = None
    input_datasets: list[str] = field(default_factory=list)
    input_params: dict = field(default_factory=dict)
    # reference config extras: per-dataset place-group association
    # (PlaceGroupRef, config.yml:8-10) and the viewer's feature-property
    # mapping (PropertyMapping, config-cyanoalert.yml)
    place_group_refs: list[str] = field(default_factory=list)
    property_mapping: dict = field(default_factory=dict)

    def require_variable(self, var: str) -> None:
        """KeyError (an HTTP 404) when the dataset has no variable ``var``."""
        if var not in self.variables:
            raise KeyError(f"variable {var!r} of dataset {self.identifier!r}")


def window_filter(windows: list[IndexWindow]) -> Column:
    """The cells in any of ``windows`` as a Spark filter, the cells
    ``CubeCatalog.read_windows`` slices on the driver. ``between`` bounds
    reach the parquet scan's ``PushedFilters``, also through a computed
    cube's aggregate on the cell indices; with one row group per part file
    (``write_cube``) the scan skips the part files whose min/max miss the
    windows."""
    filt = None
    for (i0, i1), (j0, j1) in windows:
        box = (
            F.col("lat_idx").between(i0, i1 - 1)
            & F.col("lon_idx").between(j0, j1 - 1)
        )
        filt = box if filt is None else filt | box
    return filt


def level_table(base_path: str, level: int) -> str:
    """Table path of one LOD level of the cube at ``base_path``, following a
    ``l{level}.link`` pointer file if present — parity with the reference's
    ``FileStorageMultiLevelDataset`` ``{i}.link`` indirection
    (``xcube_server/mldataset.py:136-198``): the link file's text is an
    external table path (absolute / URI), or a path relative to the
    dataset directory. Hand-assembled pyramids use this to graft a level
    stored elsewhere without copying it."""
    direct = join_store_path(base_path, f"l{level}")
    try:
        with open_store_text(join_store_path(base_path, f"l{level}.link")) as f:
            target = f.read().strip()
    except (OSError, NotImplementedError):
        # no link file, or a non-local store whose sidecars we can't read
        # driver-side — serve the direct level table
        return direct
    if not target:
        return direct
    if "://" not in target and not os.path.isabs(target):
        target = join_store_path(base_path, target)
    return target


def _part_files(step_dir: str) -> list[str]:
    """The part files of one ``time_idx`` partition, sorted; none when it
    is missing or not local. Names starting with ``.`` or ``_`` (checksums,
    ``_SUCCESS``) are skipped, as parquet readers skip them."""
    return sorted(
        os.path.join(d, name)
        for d in local_part_glob(step_dir)
        for name in os.listdir(d)
        if name[0] not in "._"
    )


class _DecodedPart:
    """One part file decoded for window reads. ``index[i - i0, j - j0]`` is
    the row of cell ``(i, j)``, -1 where the file has none, over the box
    ``origin = (i0, j0)`` of its cells; ``columns`` holds the columns read
    so far (None for one the file lacks). ``len`` is its size in bytes, the
    measure ``ByteCache`` bounds. The cell columns are rebuilt from index
    positions, so no decoded copy of them is kept."""

    def __init__(self, index, origin, cell_types, columns):
        self.index = index
        self.origin = origin
        self.cell_types = cell_types
        self.columns = columns

    def __len__(self) -> int:
        return self.index.nbytes + sum(
            c.nbytes for c in self.columns.values() if c is not None
        )

    def take(self, windows: list[IndexWindow], columns: list[str]) -> pa.Table:
        """``columns`` of the rows in any of ``windows``, each row once and
        in file order."""
        (a, b), (h, w) = self.origin, self.index.shape
        boxes = [
            ((max(i0, a), min(i1, a + h)), (max(j0, b), min(j1, b + w)))
            for (i0, i1), (j0, j1) in windows
        ]
        boxes = [x for x in boxes if x[0][0] < x[0][1] and x[1][0] < x[1][1]]
        rows = ii = jj = np.empty(0, dtype=np.int64)
        if boxes:
            r0, r1 = min(x[0][0] for x in boxes), max(x[0][1] for x in boxes)
            c0, c1 = min(x[1][0] for x in boxes), max(x[1][1] for x in boxes)
            sub = self.index[r0 - a:r1 - a, c0 - b:c1 - b]
            if len(boxes) > 1:
                inside = np.zeros(sub.shape, dtype=bool)
                for (i0, i1), (j0, j1) in boxes:
                    inside[i0 - r0:i1 - r0, j0 - c0:j1 - c0] = True
                sub = np.where(inside, sub, -1)
            ii, jj = np.nonzero(sub >= 0)
            rows = sub[ii, jj]
            order = np.argsort(rows, kind="stable")
            rows, ii, jj = rows[order], ii[order] + r0, jj[order] + c0
        cells = {"lat_idx": ii, "lon_idx": jj}
        out = {}
        for c in columns:
            if c in cells:
                out[c] = pa.array(cells[c], type=self.cell_types[c])
            elif self.columns[c] is not None:
                out[c] = self.columns[c].take(rows)
        return pa.table(out)


def _decoded_part(
    parts: ByteCache, path: str, columns: list[str]
) -> _DecodedPart | None:
    """The part file at ``path`` decoded with at least ``columns``, from
    ``parts`` when an earlier read decoded them. The key is the file's
    identity, so a file that an append or a re-ingest rewrites is read
    afresh. None when the decoded file would not fit in ``DECODED_BYTES``
    (the read then declines)."""
    stat = os.stat(path)
    key = (path, stat.st_mtime_ns, stat.st_size)
    cached = parts.get(key)
    known = {} if cached is None else cached.columns
    missing = [
        c for c in columns if c not in known and c not in ("lat_idx", "lon_idx")
    ]
    if cached is not None and not missing:
        return cached
    read = ["lat_idx", "lon_idx", *missing] if cached is None else missing
    with pq.ParquetFile(path) as reader:
        table = reader.read(columns=read, use_threads=False)
    if cached is None:
        lat = table.column("lat_idx").to_numpy()
        lon = table.column("lon_idx").to_numpy()
        origin, shape = (0, 0), (0, 0)
        if len(lat):
            origin = (int(lat.min()), int(lon.min()))
            shape = (int(lat.max()) - origin[0] + 1, int(lon.max()) - origin[1] + 1)
        if 4 * shape[0] * shape[1] > DECODED_BYTES:
            return None
        index = np.full(shape, -1, dtype=np.int32)
        index[lat - origin[0], lon - origin[1]] = np.arange(len(lat), dtype=np.int32)
        if np.count_nonzero(index >= 0) != len(lat):
            raise ValueError(f"{path}: more than one row for a cell")
        cell_types = {c: table.schema.field(c).type for c in ("lat_idx", "lon_idx")}
    else:
        index, origin, cell_types = cached.index, cached.origin, cached.cell_types
    new = {
        c: table.column(c).combine_chunks() if c in table.column_names else None
        for c in missing
    }
    decoded = _DecodedPart(index, origin, cell_types, {**known, **new})
    if len(decoded) > DECODED_BYTES:
        return None
    parts.put(key, decoded)
    return decoded


class CubeCatalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.datasets: dict[str, DatasetMeta] = {}
        self._df_cache: dict[tuple[str, int], DataFrame] = {}
        # part files decoded by read_windows, keyed on file identity
        self._parts = ByteCache(DECODED_BYTES)
        # driver-side table of all configured PlaceGroups (None until a
        # config sets them)
        self.places: pd.DataFrame | None = None
        self.place_titles: dict[str, str] = {}
        # ServiceProvider block from the YAML config (WMTS capabilities)
        self.service_provider: dict = {}

    # -- registration -------------------------------------------------------

    def register(self, meta: DatasetMeta) -> None:
        self.datasets[meta.identifier] = meta

    def register_written_cube(
        self,
        identifier: str,
        base_path: str,
        grid: GridMeta,
        tile_grid: TileGridMeta,
        variables: list[str],
        title: str | None = None,
        styles: dict[str, StyleMeta] | None = None,
    ) -> DatasetMeta:
        meta = DatasetMeta(
            identifier=identifier,
            title=title or identifier,
            base_path=base_path,
            grid=grid,
            tile_grid=tile_grid,
            variables=variables,
            styles=styles or {},
        )
        self.register(meta)
        return meta

    def save_meta(self, meta: DatasetMeta) -> None:
        """Persist catalog metadata next to the cube tables (so a new session
        can re-register without re-deriving)."""
        doc = {
            "identifier": meta.identifier,
            "title": meta.title,
            "variables": meta.variables,
            "grid": {
                "width": meta.grid.width,
                "height": meta.grid.height,
                "extent": list(meta.grid.extent),
                "inv_y": meta.grid.inv_y,
                "times": list(meta.grid.times),
            },
            "tile_grid": {
                "num_levels": meta.tile_grid.num_levels,
                "tile_width": meta.tile_grid.tile_width,
                "tile_height": meta.tile_grid.tile_height,
                "num_level_zero_tiles_x": meta.tile_grid.num_level_zero_tiles_x,
                "num_level_zero_tiles_y": meta.tile_grid.num_level_zero_tiles_y,
                "geo_extent": list(meta.tile_grid.geo_extent),
                "inv_y": meta.tile_grid.inv_y,
            },
            "styles": {
                v: {"color_bar": s.color_bar, "value_range": list(s.value_range)}
                for v, s in meta.styles.items()
            },
        }
        with open_store_text(join_store_path(meta.base_path, "catalog.json"), "w") as f:
            json.dump(doc, f, indent=2)

    def load_meta(self, identifier: str, base_path: str) -> DatasetMeta:
        with open_store_text(join_store_path(base_path, "catalog.json")) as f:
            doc = json.load(f)
        grid = GridMeta(
            width=doc["grid"]["width"],
            height=doc["grid"]["height"],
            extent=tuple(doc["grid"]["extent"]),
            inv_y=doc["grid"]["inv_y"],
            times=tuple(doc["grid"]["times"]),
        )
        tgd = doc["tile_grid"]
        tg = TileGridMeta(
            num_levels=tgd["num_levels"],
            tile_width=tgd["tile_width"],
            tile_height=tgd["tile_height"],
            num_level_zero_tiles_x=tgd["num_level_zero_tiles_x"],
            num_level_zero_tiles_y=tgd["num_level_zero_tiles_y"],
            geo_extent=tuple(tgd["geo_extent"]),
            inv_y=tgd["inv_y"],
        )
        styles = {
            v: StyleMeta(s["color_bar"], tuple(s["value_range"]))
            for v, s in doc.get("styles", {}).items()
        }
        meta = DatasetMeta(
            identifier=identifier,
            title=doc.get("title", identifier),
            base_path=base_path,
            grid=grid,
            tile_grid=tg,
            variables=doc["variables"],
            styles=styles,
        )
        self.register(meta)
        return meta

    # -- access -------------------------------------------------------------

    def level_path(self, identifier: str, level: int) -> str:
        """Table path of one LOD level of a stored dataset
        (``level_table``)."""
        return level_table(self.datasets[identifier].base_path, level)

    def step_sources(
        self, identifier: str, steps: list[int] | None = None
    ) -> tuple[tuple[str, ...], list[Step]]:
        """Where ``steps`` (every step when None) of a dataset are read
        from: the base paths of the stored datasets read (the dataset
        itself, or a computed dataset's inputs) and, per step, its label and
        the ``time_idx`` list read from them (a computed step's list from
        its step table). ``read_windows`` reads exactly this, so a key made
        from it names the source of the bytes."""
        meta = self.datasets[identifier]
        if meta.computed:
            table = step_table(self, meta)
            inputs = meta.input_datasets
        else:
            table = [(t, [k]) for k, t in enumerate(meta.grid.times)]
            inputs = [identifier]
        bases = tuple(self.datasets[d].base_path for d in inputs)
        wanted = range(len(table)) if steps is None else steps
        return bases, [table[k] for k in wanted]

    def read_windows(
        self,
        identifier: str,
        columns: list[str],
        windows: list[IndexWindow],
        level: int = 0,
        steps: list[int] | None = None,
    ) -> "pa.Table | None":
        """Driver-side read of the rows in any of ``windows`` at ``steps``
        (every step when None): a window ``((i0, i1), (j0, j1))`` holds the
        cells ``i0 <= lat_idx < i1``, ``j0 <= lon_idx < j1``. A step's
        ``time_idx`` partition names its part files; each part file is
        decoded once (``_decoded_part``) and a read slices its cell index,
        so a row in several windows comes back once, and in file order.

        A computed step reads its input steps (``step_sources``), tags their
        rows with the step's ``time`` and applies the transform's driver
        reduction, so it answers with the rows the Spark plan computes.

        This is the one local read of the serving path (tiles,
        ``GetFeatureInfo``, time series). None when it declines: no local
        files to read (object-store datasets), more than
        ``WINDOW_ROW_BUDGET`` rows (window cells x steps read, for a
        computed dataset its input steps), or a part file too large to
        hold decoded within ``DECODED_BYTES``. Callers then answer with a
        Spark plan."""
        meta = self.datasets[identifier]
        bases, table = self.step_sources(identifier, steps)
        cells = sum((i1 - i0) * (j1 - j0) for (i0, i1), (j0, j1) in windows)
        read = len(bases) * sum(len(idx) for _, idx in table)
        if not all(bases) or cells * read > WINDOW_ROW_BUDGET:
            return None
        if meta.computed:
            keys = ["time", "lat_idx", "lon_idx"]
            read_cols = keys[1:] + [c for c in columns if c not in keys]
        else:
            read_cols = columns
        names = read_cols + ["time"] if meta.computed else read_cols
        inputs = []
        for base in bases:
            # level_table follows a `.link` pointer, so grafted levels
            # keep the driver read as long as the target is a local table.
            level_dir = level_table(base, level)
            parts = []
            for label, idx in table:
                when = pa.scalar(np.datetime64(label, "us"))
                for i in idx:
                    for path in _part_files(f"{level_dir}/time_idx={i}"):
                        decoded = _decoded_part(self._parts, path, read_cols)
                        if decoded is None:
                            return None
                        part = decoded.take(windows, read_cols)
                        if meta.computed:
                            part = part.append_column(
                                "time", pa.repeat(when, len(part))
                            )
                        parts.append(part)
            if not parts:
                return None
            inputs.append(
                pa.concat_tables(parts, promote_options="default").select(names)
            )
        if not meta.computed:
            return inputs[0]
        _, _, reduce = get_transform(meta.function)
        return reduce(*inputs, **meta.input_params).select(columns)

    def cube(
        self, identifier: str, level: int = 0, t_idx: int | None = None
    ) -> DataFrame:
        """DataFrame of one LOD level (P2 level projection,
        ``xcube_server/context.py:153-158``) at time step ``t_idx``, or at
        every step. Only stored levels are memoized: a computed level is a
        fresh lazy plan over them (``computed.apply_computed``)."""
        meta = self.datasets[identifier]
        if meta.computed:
            return apply_computed(self, meta, level, t_idx)
        key = (identifier, level)
        if key not in self._df_cache:
            self._df_cache[key] = self.spark.read.parquet(
                self.level_path(identifier, level)
            )
        df = self._df_cache[key]
        return df if t_idx is None else df.filter(F.col("time_idx") == t_idx)

    def times(self, identifier: str) -> list[str]:
        """Time axis of a dataset, in the grid's ``YYYY-MM-DD HH:MM:SS``
        string form, from metadata with no Spark job. A computed cube's axis
        is its step table's labels, worked out from its input's axis on each
        call (e.g. weekly labels after ``resample_in_time`` — NOT the input's
        timestamps, ``xcube_server/mldataset.py:369-382``)."""
        meta = self.datasets[identifier]
        if not meta.computed:
            return list(meta.grid.times)
        return [label for label, _ in step_table(self, meta)]

    # -- config loading (F-6) ------------------------------------------------

    @staticmethod
    def _resolve_store_path(ds: dict, cfg_dir: str) -> str:
        """Reference path semantics: ``obs`` datasets join Endpoint+Path
        into the object-store URL (``context.py:217-235``); local relative
        paths resolve against the config file's directory."""
        p = ds["Path"]
        if ds.get("FileSystem") == "obs":
            ep = (ds.get("Endpoint") or "").rstrip("/")
            return f"{ep}/{p.lstrip('/')}" if ep else p
        if "://" in p or os.path.isabs(p):
            return p
        return os.path.join(cfg_dir, p)

    def _ingest_raw_store(
        self, identifier: str, store: str, fmt: str | None = None
    ) -> DatasetMeta:
        """Auto-ingest a raw store (zarr v2/v3 local or HTTP, NetCDF3,
        NetCDF4/HDF5, ``.levels`` pyramid) into the engine's LOD parquet
        layout — materialized ONCE per store (keyed cache dir; the
        ``catalog.json`` written last marks completeness) so config
        reloads and new sessions re-register without re-ingesting."""
        import hashlib
        import tempfile

        from pyspark.sql import functions as F

        key = hashlib.md5(store.encode()).hexdigest()[:12]
        out = os.path.join(tempfile.gettempdir(), f"xss_cfg_cube_{key}")
        if os.path.exists(os.path.join(out, "catalog.json")):
            return self.load_meta(identifier, out)
        if fmt == "levels" or store.rstrip("/").endswith(".levels"):
            from ..sources.levels_ingest import ingest_levels_dir

            _tables, tg, grid, var_names = ingest_levels_dir(
                self.spark, store, out
            )
            meta = self.register_written_cube(
                identifier, out, grid, tg, var_names
            )
            self.save_meta(meta)
            return meta
        from ..sources.cube_ingest import write_cube
        from ..sources.xarray_ingest import ingest_xarray_distributed

        if fmt not in ("zarr", "nc", "geotiff"):
            if store.rstrip("/").endswith((".tif", ".tiff")):
                fmt = "geotiff"
            else:
                fmt = "zarr" if _looks_like_zarr(store) else "nc"
        df, grid = ingest_xarray_distributed(self.spark, store, fmt=fmt)
        var_names = [
            c for c in df.columns
            if c not in ("time_idx", "lat_idx", "lon_idx",
                         "time", "lat", "lon")
        ]
        cube = df.select(
            "time_idx", "lat_idx", "lon_idx", "time", "lat", "lon",
            *[F.col(v).cast("float").alias(v) for v in var_names],
        )
        _, tg = write_cube(cube, grid, out)
        meta = self.register_written_cube(
            identifier, out, grid, tg, var_names
        )
        self.save_meta(meta)
        return meta

    def load_config(self, path: str) -> None:
        """Register datasets from a reference-shaped YAML config."""
        if yaml is None:  # pragma: no cover
            raise RuntimeError("pyyaml not available")
        with open(path) as f:
            cfg = yaml.safe_load(f)
        self.service_provider = dict(cfg.get("ServiceProvider") or {})
        styles_cfg: dict[str, dict[str, StyleMeta]] = {}
        for style in cfg.get("Styles", []):
            mappings = {}
            for var, m in (style.get("ColorMappings") or {}).items():
                mappings[var] = StyleMeta(
                    color_bar=m.get("ColorBar", "viridis"),
                    value_range=tuple(m.get("ValueRange", (0.0, 1.0))),
                )
            styles_cfg[style["Identifier"]] = mappings
        cfg_dir = os.path.dirname(os.path.abspath(path))
        for ds in cfg.get("Datasets", []):
            ident = ds["Identifier"]
            if ds.get("FileSystem") == "memory":
                base = self.datasets[ds["InputDatasets"][0]]
                fn = ds["Function"]
                if fn == "compute_dataset" and ds.get("Path"):
                    # reference convention: the script FILE names the
                    # computation and exposes a generic 'compute_dataset'
                    # entry point (res/demo/config.yml:28-30 +
                    # resample_in_time.py); resolve to the registered
                    # transform of the same name — no exec()
                    fn = os.path.splitext(os.path.basename(ds["Path"]))[0]
                meta = DatasetMeta(
                    identifier=ident,
                    title=ds.get("Title", ident),
                    base_path="",
                    grid=base.grid,
                    tile_grid=base.tile_grid,
                    variables=base.variables,
                    styles=styles_cfg.get(ds.get("Style", ""), {}),
                    computed=True,
                    function=fn,
                    input_datasets=list(ds["InputDatasets"]),
                    input_params=dict(ds.get("InputParameters", {})),
                )
                self.register(meta)
            else:
                store = self._resolve_store_path(ds, cfg_dir)
                if _is_raw_store(store) or ds.get("Format") in (
                    "zarr", "nc", "levels", "geotiff"
                ):
                    # the reference points Path at RAW stores (cube.nc,
                    # .zarr, .levels — context.py:217-255); auto-ingest
                    # through the pure-Python readers into LOD parquet
                    # once, then serve like any engine cube
                    meta = self._ingest_raw_store(
                        ident, store, fmt=ds.get("Format")
                    )
                else:
                    meta = self.load_meta(ident, store)
                meta.title = ds.get("Title", ident)
                meta.styles = styles_cfg.get(ds.get("Style", ""), meta.styles)
            meta = self.datasets[ident]
            meta.place_group_refs = [
                g["PlaceGroupRef"]
                for g in ds.get("PlaceGroups") or []
                if isinstance(g, dict) and "PlaceGroupRef" in g
            ]
            meta.property_mapping = dict(ds.get("PropertyMapping") or {})
        # top-level PlaceGroups (reference config.yml:52-58): Identifier,
        # Title, Path (GeoJSON glob relative to the config file). A reload
        # replaces the table; one that drops PlaceGroups leaves none.
        groups = cfg.get("PlaceGroups") or []
        base_dir = os.path.dirname(os.path.abspath(path))
        self.places = union_place_groups([
            load_place_group(
                self.spark, g["Identifier"], os.path.join(base_dir, g["Path"])
            )
            for g in groups
        ]) if groups else None
        self.place_titles = {
            g["Identifier"]: g.get("Title", g["Identifier"]) for g in groups
        }


class ConfigWatcher:
    """S11 — config hot-reload on mtime change, checked on access
    (``xcube_server/service.py:170-201``: the reference polls every 2 s of
    idleness; we check lazily before each catalog use, which at engine level
    is equivalent and cheaper)."""

    def __init__(self, catalog: CubeCatalog, config_path: str):
        self.catalog = catalog
        self.config_path = config_path
        self._mtime: float | None = None
        self.maybe_reload()

    def maybe_reload(self) -> bool:
        mtime = os.path.getmtime(self.config_path)
        if mtime != self._mtime:
            self._mtime = mtime
            self.catalog.datasets.clear()
            self.catalog._df_cache.clear()
            self.catalog.load_config(self.config_path)
            return True
        return False
