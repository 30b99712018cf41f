"""``resample_in_time_table`` against pyarrow's hash ``group_by`` mean.

The driver reduction of a weekly computed cube sums and counts with
``np.bincount`` over a dense (output step, cell) key. ``_group_by_mean``
below is the earlier form of the same function, a pyarrow ``group_by`` with
a ``mean`` aggregate, whose semantics are those of ``F.avg(c).cast("float")``:
nulls skipped, NaN propagated, null for an all-null group, the sum in
double. Row order is not part of the contract (pyarrow's group order is not
first appearance on large inputs), so the two are compared as row sets, bit
for bit: NaN, null and the sign of zero included.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa

from xcube_server_spark.cube.computed import resample_in_time_table, step_codes

KEYS = ["time", "lat_idx", "lon_idx"]


def _group_by_mean(table: pa.Table) -> pa.Table:
    values = [c for c in table.column_names if c not in KEYS]
    out = table.group_by(KEYS, use_threads=False).aggregate(
        [(c, "mean") for c in values]
    )
    return pa.table({
        **{k: out[k] for k in KEYS},
        **{c: out[f"{c}_mean"].cast(pa.float32()) for c in values},
    })


def _row_set(table: pa.Table) -> list[tuple]:
    """Rows sorted by key, each float as its float32 bit pattern (None for
    null), so NaN and -0.0 compare exactly."""
    cols = []
    for name in table.column_names:
        col = table.column(name)
        if pa.types.is_floating(col.type):
            bits = col.cast(pa.float32()).to_numpy(zero_copy_only=False)
            bits = np.asarray(bits, dtype=np.float32).view(np.uint32).tolist()
            valid = col.is_valid().to_pylist()
            cols.append([b if ok else None for b, ok in zip(bits, valid)])
        else:
            cols.append(col.to_pylist())
    return sorted(zip(*cols), key=lambda r: tuple(r[:3]))


def _assert_same(table: pa.Table) -> pa.Table:
    got, want = resample_in_time_table(table), _group_by_mean(table)
    assert got.schema == want.schema
    assert _row_set(got) == _row_set(want)
    return got


def _input(steps: list[tuple[str, list[tuple[int, int, float | None]]]],
           value_type=pa.float32()) -> pa.Table:
    """A reduce input as ``read_windows`` builds it: per input step, its
    rows ``(lat_idx, lon_idx, value)`` tagged with its output step's
    ``time``, steps one after another."""
    lat, lon, val, when = [], [], [], []
    for label, rows in steps:
        for i, j, v in rows:
            lat.append(i)
            lon.append(j)
            val.append(v)
            when.append(np.datetime64(label, "us"))
    return pa.table({
        "lat_idx": pa.array(lat, pa.int32()),
        "lon_idx": pa.array(lon, pa.int32()),
        "conc_chl": pa.array(val, value_type),
        "time": pa.array(np.array(when, dtype="datetime64[us]")),
    })


W1, W2 = "2017-01-22 00:00:00", "2017-01-29 00:00:00"


def test_one_step_week_is_each_row():
    rows = [(3, 4, 1.5), (3, 5, None), (4, 4, float("nan")), (4, 5, -0.0),
            (5, 4, float("inf")), (5, 5, 3.25)]
    got = _assert_same(_input([(W1, rows)]))
    assert got.num_rows == len(rows)


def test_three_step_week_nan_null_and_all_null_groups():
    nan = float("nan")
    steps = [
        (W2, [(0, 0, 1.0), (0, 1, None), (1, 0, nan), (1, 1, None), (2, 2, -0.0)]),
        (W2, [(0, 0, 2.0), (0, 1, None), (1, 0, 5.0), (1, 1, 7.0), (2, 2, -0.0)]),
        (W2, [(0, 0, 4.0), (0, 1, None), (1, 0, None), (1, 1, None), (2, 2, None)]),
    ]
    got = _row_set(_assert_same(_input(steps)))
    by_cell = {(r[1], r[2]): r[3] for r in got}
    f32 = lambda x: int(np.float32(x).view(np.uint32))  # noqa: E731
    assert by_cell[(0, 0)] == f32(7.0 / 3.0)
    assert by_cell[(0, 1)] is None  # all null
    assert np.isnan(np.uint32(by_cell[(1, 0)]).view(np.float32))  # NaN wins
    assert by_cell[(1, 1)] == f32(7.0)  # nulls skipped
    assert by_cell[(2, 2)] == f32(0.0)  # the sum starts at +0.0


def test_window_whose_cells_differ_between_steps():
    """An input step may lack cells another step of its week holds (a
    partly appended step), and two weeks may cover different cells."""
    steps = [
        (W1, [(10, 20, 1.0), (10, 21, 2.0)]),
        (W2, [(10, 20, 3.0), (12, 25, 4.0)]),
        (W2, [(11, 20, 5.0), (10, 20, 6.0)]),
        (W2, [(12, 25, None), (30, 2, 8.0)]),
    ]
    got = _assert_same(_input(steps))
    assert got.num_rows == 6


def test_empty_table():
    got = _assert_same(_input([]))
    assert got.num_rows == 0


def test_float64_input_and_several_value_columns():
    t = _input([(W1, [(0, 0, 0.1), (0, 1, 0.2)]), (W1, [(0, 0, 0.7), (0, 1, None)])],
               value_type=pa.float64())
    t = t.append_column("kd489", pa.array([None, 1.0, 2.0, 3.0], pa.float32()))
    _assert_same(t)


def test_random_tables_match_group_by():
    """Random weeks of 1-3 input steps over random sub-windows, rows in a
    random order per step, values with NaN, nulls, infinities and signed
    zeros, and sums whose rounding depends on the order of addition."""
    rng = random.Random(20170122)
    specials = [None, float("nan"), float("inf"), -float("inf"), 0.0, -0.0]
    for _ in range(200):
        steps = []
        for w in range(rng.randint(1, 3)):
            label = f"2017-0{1 + w}-05 00:00:00"
            i0, j0 = rng.randint(0, 300), rng.randint(0, 300)
            h, wd = rng.randint(1, 9), rng.randint(1, 9)
            for _ in range(rng.randint(1, 3)):
                cells = [(i0 + a, j0 + b) for a in range(h) for b in range(wd)
                         if rng.random() < 0.85]
                rng.shuffle(cells)
                rows = [
                    (i, j, rng.choice(specials) if rng.random() < 0.1
                     else rng.uniform(-1e3, 1e3) * 10 ** rng.randint(-8, 8))
                    for i, j in cells
                ]
                steps.append((label, rows))
        _assert_same(_input(steps, rng.choice([pa.float32(), pa.float64()])))


def test_large_table_matches_group_by():
    """A 250 x 250 tile over a three-step week and a one-step week, past
    the sizes where pyarrow's group order stops being first appearance."""
    rng = np.random.default_rng(7)
    ii, jj = np.meshgrid(np.arange(250), np.arange(250), indexing="ij")
    parts = []
    for label, n_steps in [(W1, 1), (W2, 3)]:
        for _ in range(n_steps):
            v = rng.normal(10, 5, ii.size).astype(np.float32)
            v[rng.random(ii.size) < 0.01] = np.nan
            parts.append(pa.table({
                "lat_idx": pa.array(ii.ravel(), pa.int32()),
                "lon_idx": pa.array(jj.ravel() + 100, pa.int32()),
                "conc_chl": pa.array(v, mask=rng.random(ii.size) < 0.05),
                "time": pa.repeat(pa.scalar(np.datetime64(label, "us")), ii.size),
            }))
    got = _assert_same(pa.concat_tables(parts))
    assert got.num_rows == 2 * ii.size


def test_step_codes_factorizes_runs():
    when = np.array([5, 5, 3, 3, 3, 9, 5, 5], dtype=np.int64)
    values, codes = step_codes(when)
    want_values, want_codes = np.unique(when, return_inverse=True)
    np.testing.assert_array_equal(values, want_values)
    np.testing.assert_array_equal(codes, want_codes)
    values, codes = step_codes(np.empty(0, dtype=np.int64))
    assert len(values) == 0 and len(codes) == 0
