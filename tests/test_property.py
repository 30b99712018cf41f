"""Property-based tests (hypothesis) for the cross-engine invariants the
whole correctness story leans on — going beyond the reference's test
strategy (SURVEY.md §5.1: the reference has no property testing)."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from xcube_server_spark.cube.computed import weekly_sunday_date
from xcube_server_spark.cube.grid import GridMeta, morton_code


@settings(max_examples=200, deadline=None)
@given(
    st.floats(
        min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
    ),
    st.integers(min_value=0, max_value=6),
)
@example(x=900719925.6953125, n=6)  # exact half-way product; see docstring
def test_rnd_formula_matches_duckdb(x, n):
    """floor(x*10^n + 0.5)/10^n must agree bit-for-bit between Python (IEEE
    double) and DuckDB — the invariant every oracle comparison rests on.

    x is passed as a BOUND PARAMETER, which is how every real oracle input
    arrives (parquet doubles — identical bits in both engines). Feeding x
    as a SQL decimal literal instead would test DuckDB's literal parser,
    whose DECIMAL(>15 digits)→DOUBLE cast can land 1 ulp off the correctly
    rounded value (hypothesis found x=900719925.6953125 where
    CAST(900719925.6953125 AS DOUBLE) != the IEEE double): oracle SQL must
    therefore avoid float constants needing >15 significant digits — ours
    are all short (0.5, thresholds, 10^n scale factors)."""
    p = float(10**n)
    py = math.floor(x * p + 0.5) / p
    db = duckdb.execute(
        "SELECT floor(? * ? + 0.5) / ?", [x, p, p]
    ).fetchone()[0]
    assert py == db


@settings(max_examples=200, deadline=None)
@given(
    st.datetimes(
        min_value=dt.datetime(1990, 1, 1), max_value=dt.datetime(2035, 12, 31)
    )
)
def test_weekly_label_matches_pandas_resample(ts):
    """The engine's driver-side Sunday-anchored weekly label must equal
    pandas resample('1W')'s bin label for any timestamp (the golden-label
    convention, FIXTURES.md F-7)."""
    label = pd.Series([1.0], index=pd.DatetimeIndex([ts])).resample("1W").mean()
    pandas_label = label.index[0].date()
    assert weekly_sunday_date(ts.date()) == pandas_label


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1))
def test_morton_roundtrip(i, j):
    """Morton code must be a bijection on (lat_idx, lon_idx)."""
    z = morton_code(i, j)
    ri = rj = 0
    for b in range(16):
        rj |= ((z >> (2 * b)) & 1) << b
        ri |= ((z >> (2 * b + 1)) & 1) << b
    assert (ri, rj) == (i, j)


@settings(max_examples=100, deadline=None)
@given(
    st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
    st.floats(min_value=-89.9, max_value=89.9, allow_nan=False),
)
def test_grid_index_inverse(lon, lat):
    """lat/lon → idx → center must stay within half a cell (nearest-select
    correctness, P5)."""
    g = GridMeta(width=360, height=180, extent=(-180.0, -90.0, 180.0, 90.0))
    i, j = g.lat_idx_of(lat), g.lon_idx_of(lon)
    assert abs(g.lat_of(i) - lat) <= g.res_lat / 2 + 1e-9
    assert abs(g.lon_of(j) - lon) <= g.res_lon / 2 + 1e-9


# ---------------------------------------------------------------------------
# codec properties: blosc frames and zarr window reads
# ---------------------------------------------------------------------------


@given(
    data=st.binary(min_size=0, max_size=4096),
    ts=st.sampled_from([1, 2, 4, 8, 16]),
    cname=st.sampled_from(["lz4", "zlib"]),
    shuffle=st.sampled_from([True, False, "bit"]),
)
@settings(max_examples=60, deadline=None)
def test_blosc_roundtrip_property(data, ts, cname, shuffle):
    """compress->decompress is identity for ANY byte string whose length
    is a typesize multiple, across codecs and both shuffles."""
    from xcube_server_spark.sources.blosc import compress, decompress

    data = data[: len(data) // ts * ts]
    frame = compress(data, ts, cname=cname, shuffle=shuffle)
    assert decompress(frame) == data


@given(
    shape=st.tuples(
        st.integers(1, 5), st.integers(1, 9), st.integers(1, 9)
    ),
    chunks=st.tuples(
        st.integers(1, 3), st.integers(1, 4), st.integers(1, 4)
    ),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_zarr_window_read_matches_numpy(tmp_path_factory, shape, chunks, seed):
    """Any window of any chunking equals the numpy slice — v2 AND v3."""
    import numpy as np

    from xcube_server_spark.sources.zarr_store import (
        ZarrArray,
        ZarrArrayV3,
        _write_array,
        _write_array_v3,
    )

    rng = np.random.default_rng(seed)
    arr = rng.uniform(-5, 5, size=shape)
    ch = tuple(min(c, s) for c, s in zip(chunks, shape))
    t0 = int(rng.integers(0, shape[0]))
    t1 = int(rng.integers(t0 + 1, shape[0] + 1))
    y0 = int(rng.integers(0, shape[1]))
    y1 = int(rng.integers(y0 + 1, shape[1] + 1))
    x0 = int(rng.integers(0, shape[2]))
    x1 = int(rng.integers(x0 + 1, shape[2] + 1))
    base = tmp_path_factory.mktemp("zprop")
    p2 = str(base / "v2")
    _write_array(p2, arr, ch, ("t", "y", "x"), compressor="blosc")
    got2 = ZarrArray(p2)[t0:t1, y0:y1, x0:x1]
    assert np.allclose(got2, arr[t0:t1, y0:y1, x0:x1])
    p3 = str(base / "v3")
    _write_array_v3(p3, arr, ch, ("t", "y", "x"), compressor="blosc-bit")
    got3 = ZarrArrayV3(p3)[t0:t1, y0:y1, x0:x1]
    assert np.allclose(got3, arr[t0:t1, y0:y1, x0:x1])


@given(
    data=st.binary(min_size=0, max_size=2000),
)
@settings(max_examples=50, deadline=None)
def test_fletcher32_property(data):
    from xcube_server_spark.sources.hdf5 import (
        _fletcher32,
        _fletcher32_simple,
    )

    assert _fletcher32(data) == _fletcher32_simple(data)


@given(
    data=st.binary(min_size=8, max_size=1024),
    ts=st.sampled_from([1, 2, 4, 8]),
)
@settings(max_examples=50, deadline=None)
def test_bitshuffle_inverse_property(data, ts):
    from xcube_server_spark.sources.blosc import (
        _bitshuffle_bytes,
        _bitunshuffle_bytes,
    )

    assert _bitunshuffle_bytes(_bitshuffle_bytes(data, ts), ts) == data
