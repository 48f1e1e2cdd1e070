"""uint64 tier (round-11 verdict ask 3): the one dtype the
reference's dtype-generic readers accept (reference
dask_array/__init__.py re-exports ``uint64``; io/_zarr.py reads
whatever dtype the store declares) that this engine previously
refused.  Cells carry DECIMAL(20,0) -- exact over the full
[0, 2**64) range -- because Spark has no unsigned 64-bit type: an
int64 cast wraps values >= 2**63 negative and a float64 widening
shreds low bits above 2**53.

Pinned contract (see sources/ingest.py:_value_kind):
- every reader/writer pair round-trips bit-for-bit, including the
  three sentinel values float64/int64 encodings would corrupt
  (2**53+1, 2**63, 2**64-1);
- arithmetic follows Spark's exact decimal semantics -- results
  WIDEN (+(u,u) -> decimal(21,0)) where NumPy uint64 wraps modulo
  2**64; a user who wants wrap semantics casts explicitly;
- NULL or out-of-range decimals refuse LOUDLY at store boundaries
  (_decimal_col_to_uint64), never wrap or round.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import numpy as np
import pandas as pd
import pytest

from dask_array_spark.sources import (
    from_hdf5,
    from_npy_stack,
    from_numpy,
    from_zarr,
    to_hdf5,
    to_npy_stack,
    to_zarr,
)
from dask_array_spark.sources.ingest import _decimal_col_to_uint64
from dask_array_spark.operators import reductions as R

# the values every lossy encoding corrupts: float64 shreds 2**53+1,
# int64 wraps 2**63 and 2**64-1 negative
SENTINELS = np.array(
    [0, 1, 12345, 2**53 + 1, 2**63, 2**63 + 17, 2**64 - 1], dtype=np.uint64
)


def _mkdir() -> str:
    return os.path.join(tempfile.mkdtemp(), uuid.uuid4().hex)


def _corpus(n: int = 40) -> np.ndarray:
    rng = np.random.default_rng(11)
    x = rng.integers(0, 2**63, size=n, dtype=np.int64).astype(np.uint64)
    x[: len(SENTINELS)] = SENTINELS  # force the hostile values in
    x[-3:] = np.uint64(2**63) + x[-3:] % np.uint64(2**62)  # high half
    return x


def test_from_numpy_roundtrip_exact(spark):
    x = _corpus()
    a = from_numpy(spark, x)
    assert dict(a.df.dtypes)["v"].replace(" ", "") == "decimal(20,0)"
    got = a.compute()
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, x)


def test_from_numpy_2d(spark):
    x = _corpus(24).reshape(6, 4)
    got = from_numpy(spark, x).compute()
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, x)


@pytest.mark.parametrize("fmt", [2, 3])
def test_zarr_roundtrip_exact(spark, fmt):
    x = _corpus(30)
    url = _mkdir()
    to_zarr(from_numpy(spark, x), url, chunks=(7,), zarr_format=fmt)
    back = from_zarr(spark, url)
    assert dict(back.df.dtypes)["v"].replace(" ", "") == "decimal(20,0)"
    got = back.compute()
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, x)


def test_zarr_v3_sharded_roundtrip(spark):
    x = _corpus(32).reshape(8, 4)
    url = _mkdir()
    to_zarr(from_numpy(spark, x), url, chunks=(2, 2), zarr_format=3, shards=(4, 4))
    got = from_zarr(spark, url).compute()
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, x)


def test_zarr_fill_value_above_float_precision(spark):
    """A hand-written v2 store with a missing chunk and a fill value
    no float64 can hold: fill cells must materialize EXACTLY (the
    old float(fill) route would shred the low bits)."""
    import json

    fill = 2**63 + 5
    url = _mkdir()
    os.makedirs(url, exist_ok=True)
    first = np.arange(4, dtype="<u8")
    with open(os.path.join(url, ".zarray"), "w") as f:
        json.dump(
            {"zarr_format": 2, "shape": [8], "chunks": [4], "dtype": "<u8",
             "compressor": None, "fill_value": fill, "filters": None,
             "order": "C"},
            f,
        )
    with open(os.path.join(url, "0"), "wb") as f:
        f.write(first.tobytes())
    got = from_zarr(spark, url).compute()
    expect = np.concatenate([first, np.full(4, fill, dtype="uint64")])
    np.testing.assert_array_equal(got, expect)


def test_npy_stack_roundtrip_exact(spark):
    x = _corpus(25)
    d = _mkdir()
    to_npy_stack(from_numpy(spark, x), d, files=4)
    # the stack itself must be <u8 on disk, not a float64 dump
    first = np.load(os.path.join(d, sorted(os.listdir(d))[0]))
    assert first.dtype == np.uint64
    back = from_npy_stack(spark, d)
    got = back.compute()
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, x)


def test_hdf5_roundtrip_exact(spark):
    x = _corpus(26).reshape(13, 2)
    path = _mkdir() + ".h5"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    to_hdf5(from_numpy(spark, x), path, "/g/u")
    back = from_hdf5(spark, path, "/g/u")
    assert dict(back.df.dtypes)["v"].replace(" ", "") == "decimal(20,0)"
    got = back.compute()
    assert got.dtype == np.uint64
    np.testing.assert_array_equal(got, x)


def test_hdf5_mixed_dict_write(spark):
    """A dict write interleaving float64, uint64 and complex datasets:
    extents must not overlap (each dataset's itemsize, not a flat 8)
    and every dataset reads back exact."""
    xf = np.arange(20.0).reshape(4, 5)
    xu = _corpus(15)
    xc = (np.arange(6.0) + 1j * np.arange(6.0)).reshape(2, 3)
    path = _mkdir() + ".h5"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    to_hdf5(
        {"/c": from_numpy(spark, xc), "/f": from_numpy(spark, xf),
         "/u": from_numpy(spark, xu)},
        path,
    )
    np.testing.assert_allclose(from_hdf5(spark, path, "/f").compute(), xf)
    np.testing.assert_array_equal(from_hdf5(spark, path, "/u").compute(), xu)
    np.testing.assert_allclose(from_hdf5(spark, path, "/c").compute(), xc)


def test_arithmetic_widens_exact(spark):
    """The pinned decimal contract: + widens (no wrap), results stay
    exact above 2**53, and sum() of the full corpus is the true
    Python-int total."""
    x = _corpus()
    a = from_numpy(spark, x)

    b = a + a
    # Spark widens decimal(20,0)+decimal(20,0) -> decimal(21,0)
    assert dict(b.df.dtypes)["v"].replace(" ", "") == "decimal(21,0)"

    # in-uint64-range slice: dense compute returns exact uint64
    small = from_numpy(spark, x % np.uint64(2**62))
    np.testing.assert_array_equal(
        (small + small).compute(), (x % np.uint64(2**62)) * np.uint64(2)
    )

    # the documented DIVERGENCE from NumPy: (2**64-1) + 1 is 2**64
    # here (exact decimal), where NumPy uint64 wraps to 0
    top = from_numpy(spark, np.array([2**64 - 1], dtype=np.uint64))
    s = (top + 1).df.toPandas()["v"].iloc[0]
    assert int(s) == 2**64

    # full-corpus sum: exact integer far above 2**53
    total = R.sum(a, axis=None).compute()
    assert int(total) == int(sum(int(v) for v in x))


def test_scalar_compute_above_int64(spark):
    """0-d compute of a value >= 2**63 must come back as uint64 (not
    a wrapped long, not a rounded float)."""
    v = 2**63 + 17
    a = from_numpy(spark, np.array([v], dtype=np.uint64))
    got = R.amax(a, axis=None).compute()
    assert got.dtype == np.uint64 and int(got) == v


def test_astype_escape_hatches(spark):
    """The cast escape hatches the refusal message used to point at,
    now in-engine: decimal -> double (lossy above 2**53, by request)
    and decimal -> long (in-range values only)."""
    x = np.array([0, 5, 2**40], dtype=np.uint64)
    a = from_numpy(spark, x)
    np.testing.assert_allclose(
        a.astype("double").compute(), x.astype("float64")
    )
    got = a.astype("long").compute()
    np.testing.assert_array_equal(got, x.astype("int64"))


def test_fill_parse_refusals():
    """_parse_fill kind 'u': integral fills (int, integral float,
    digit string) pass exactly; non-integral fills refuse with the
    reason instead of silently truncating (int(5.5) -> 5 was the
    corruption class) or leaking an int() traceback."""
    from dask_array_spark.sources.ingest import _parse_fill

    assert _parse_fill(2**63 + 5, "u") == 2**63 + 5
    assert _parse_fill(7.0, "u") == 7
    assert _parse_fill("12", "u") == 12
    assert _parse_fill(None, "u") is None
    for bad in (5.5, "NaN", float("nan"), float("inf")):
        with pytest.raises(ValueError, match="integral"):
            _parse_fill(bad, "u")


def test_decimal_col_refusals():
    """Store-boundary guards: NULLs and out-of-range decimals refuse
    loudly -- silent wrap/round into a store is the exact failure
    the decimal encoding exists to prevent."""
    import decimal

    with pytest.raises(ValueError, match="NULL"):
        _decimal_col_to_uint64(
            pd.Series([decimal.Decimal(1), None], dtype=object)
        )
    with pytest.raises(Exception):
        _decimal_col_to_uint64(
            pd.Series([decimal.Decimal(-1)], dtype=object)
        )
    with pytest.raises(Exception):
        _decimal_col_to_uint64(
            pd.Series([decimal.Decimal(2**64)], dtype=object)
        )


def test_parse_fill_uint64_rejects_out_of_domain():
    from dask_array_spark.sources.ingest import _parse_fill

    assert _parse_fill(0, "u") == 0
    assert _parse_fill(float(2**53), "u") == 2**53
    assert _parse_fill(str(2**64 - 1), "u") == 2**64 - 1
    for bad in (-5, -3.0, "-1", 2**64, float(2**65)):
        with pytest.raises(ValueError, match=r"\[0, 2\*\*64\)"):
            _parse_fill(bad, "u")
