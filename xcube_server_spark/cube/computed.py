"""Computed (derived) cubes (SURVEY.md §2.1 S6, §2.11 X1; M5).

Reference: ``FileSystem: memory`` datasets ``exec()`` a user Python script
and call its ``Function`` with ``InputDatasets`` + ``InputParameters``
(``xcube_server/mldataset.py:308-382``; the raw ``exec`` at ``:333``).
Deliberate divergence: no ``exec``. A transform is a registered named
triple:

- ``steps(input_times, **params) -> [(label, [input time_idx, ...]), ...]``:
  output step ``k`` is labelled ``label`` (``YYYY-MM-DD HH:MM:SS``) and
  made from those steps of the first input's axis. This step table, worked
  out on the driver, is also the dataset's time axis (``CubeCatalog.times``).
- ``body(*inputs, **params) -> DataFrame``: the Spark plan. Each input
  arrives cut to the wanted steps' ``time_idx`` partitions and tagged with
  the output ``time_idx`` and ``time``; the body groups by those and the
  cell. So one output step prunes the input partitions, and a tile box
  reaches the input scan through the body's aggregate on the cell indices.
  It is the batch plan (``render_tiles``), the test oracle, and the answer
  to a read that the driver read declines.
- ``reduce(*tables, **params) -> pyarrow.Table``: the same computation on
  the driver, over ``CubeCatalog.read_windows``' rows of the input steps
  tagged with their output step's ``time``; it groups by ``time`` and the
  cell (``resample_in_time_table`` with ``np.bincount`` over a dense
  step × cell key, not a hash ``group_by``). Like the reference's
  ``ComputedMultiLevelDataset``, a computed dataset is then served by the
  same in-process tile and time-series code as a stored one.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from .catalog import CubeCatalog, DatasetMeta

Step = tuple[str, list[int]]
Transform = tuple[
    Callable[..., list[Step]], Callable[..., DataFrame], Callable[..., pa.Table]
]

_REGISTRY: dict[str, Transform] = {}


def register_transform(
    name: str,
    steps: Callable[..., list[Step]],
    body: Callable[..., DataFrame],
    reduce: Callable[..., pa.Table],
) -> None:
    _REGISTRY[name] = (steps, body, reduce)


def get_transform(name: str) -> Transform:
    """The ``(steps, body, reduce)`` triple registered as ``name``."""
    return _REGISTRY[name]


def step_table(catalog: "CubeCatalog", meta: "DatasetMeta") -> list[Step]:
    steps, _, _ = get_transform(meta.function)
    return steps(catalog.times(meta.input_datasets[0]), **meta.input_params)


def apply_computed(
    catalog: "CubeCatalog", meta: "DatasetMeta", level: int, t_idx: int | None
) -> DataFrame:
    """Output step ``t_idx`` (every step when None) of a computed dataset at
    one level: level-aligned inputs, parity with
    ``xcube_server/mldataset.py:369-374``."""
    table = step_table(catalog, meta)
    wanted = range(len(table)) if t_idx is None else [t_idx]
    out_of = {i: k for k in wanted for i in table[k][1]}
    # literal lookups: input time_idx -> output time_idx -> label
    to_step = F.create_map(*[F.lit(v) for kv in out_of.items() for v in kv])
    idx = to_step[F.col("time_idx")]
    label = F.array(*[F.lit(lab) for lab, _ in table])[idx]
    inputs = [
        catalog.cube(ds_id, level)
        .filter(F.col("time_idx").isin(list(out_of)))
        .withColumns({"time_idx": idx, "time": F.to_timestamp(label)})
        for ds_id in meta.input_datasets
    ]
    _, body, _ = get_transform(meta.function)
    return body(*inputs, **meta.input_params)


def weekly_sunday_date(d: _dt.date) -> _dt.date:
    """Driver twin of ``functions.scalars.weekly_sunday_label`` for one UTC
    date: the next Sunday (``weekday`` 6), or ``d`` itself on a Sunday."""
    return d + _dt.timedelta(days=6 - d.weekday())


def weekly_steps(input_times: list[str], period: str = "1W") -> list[Step]:
    """pandas ``1W`` bins, Sunday-anchored and right-labelled (golden labels
    ``2017-01-22/29, 2017-02-05``, ``test/controllers/test_time_series.py:138``);
    the reference fixtures need no other period."""
    if period != "1W":
        raise NotImplementedError("only the reference's 1W period is implemented")
    weeks: dict[str, list[int]] = {}
    for i, t in enumerate(input_times):
        week = weekly_sunday_date(_dt.datetime.fromisoformat(t).date())
        weeks.setdefault(f"{week} 00:00:00", []).append(i)
    return sorted(weeks.items())


def resample_in_time(cube: DataFrame, period: str = "1W") -> DataFrame:
    """The reference's demo computed-cube script
    (``xcube_server/res/demo/resample_in_time.py:2-3``):
    ``ds.resample(time=period).mean(dim='time')`` of every variable, over
    rows that ``weekly_steps`` tagged with their week."""
    keys = ["time_idx", "time", "lat_idx", "lon_idx", "lat", "lon"]
    return cube.groupBy(*keys).agg(*[
        F.avg(c).cast("float").alias(c) for c in cube.columns if c not in keys
    ])


def step_codes(when: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The distinct values of ``when`` in order, and each row's index into
    them. Rows come in runs of one step, so only the run heads are
    factorized and their codes repeated, not every row sorted."""
    heads = np.r_[0, np.flatnonzero(when[1:] != when[:-1]) + 1][: len(when)]
    values, run_code = np.unique(when[heads], return_inverse=True)
    return values, np.repeat(run_code, np.diff(heads, append=len(when)))


def _index_codes(idx: np.ndarray) -> tuple[np.ndarray, int]:
    """Each row's rank among the distinct values of a grid index column,
    and how many there are: one count over the axis, no sort."""
    rank = np.cumsum(np.bincount(idx) > 0, dtype=np.int32)
    return (rank - 1).take(idx), int(rank.max(initial=0))


def resample_in_time_table(table: pa.Table, period: str = "1W") -> pa.Table:
    """``resample_in_time`` on the driver: ``np.bincount`` sums and counts
    over a dense key, the output step and the cell's rank among the rows
    and columns the table holds. Like ``F.avg(c).cast("float")`` it skips
    nulls, propagates NaN, is null for an all-null group and adds in
    double in row order. Groups come out in key order."""
    keys = ["time", "lat_idx", "lon_idx"]
    values = [c for c in table.column_names if c not in keys]
    when = table.column("time").to_numpy().astype("datetime64[us]")
    times, step = step_codes(when.astype(np.int64))
    row, n_rows = _index_codes(table.column("lat_idx").to_numpy())
    col, n_cols = _index_codes(table.column("lon_idx").to_numpy())
    key = step * n_rows + row
    key *= n_cols
    key += col
    size = len(times) * n_rows * n_cols
    held = np.bincount(key, minlength=size) > 0
    some_row = np.empty(size, dtype=np.intp)
    some_row[key] = np.arange(len(key))
    out = table.select(keys).take(some_row[held])
    for c in values:
        column = table.column(c)
        valid = pc.is_valid(column).to_numpy()
        v = pc.fill_null(column, 0).to_numpy()
        sums = np.bincount(key, weights=v, minlength=size)[held]
        n = np.bincount(key, weights=valid, minlength=size)[held]
        mean = (sums / np.maximum(n, 1)).astype(np.float32)
        out = out.append_column(c, pa.array(mean, mask=n == 0))
    return out


register_transform(
    "resample_in_time", weekly_steps, resample_in_time, resample_in_time_table
)
