"""Property-based fuzz of the 1-D window/scan operators vs NumPy on
random value patterns INCLUDING NaN, zeros, and negatives (the inputs
that exercise NaN-propagation flags and the cumprod log-trick's
sign/zero tracking), on BOTH routes: the WindowExec path
(scalable=False) and the distributed halo-block / two-pass-scan path
(scalable=True, plus _scan_1d at a tiny block size so multiple blocks
and the partials prefix actually engage)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tests.conftest import assert_eq

VALS = st.sampled_from([-2.5, -1.0, 0.0, 0.5, 2.0, float("nan")])
ARR = st.lists(VALS, min_size=3, max_size=28).map(
    lambda xs: np.array(xs, dtype="float64")
)
CLEAN = st.lists(
    st.sampled_from([-2.0, -0.5, 0.0, 1.0, 3.0]), min_size=4, max_size=24
).map(lambda xs: np.array(xs, dtype="float64"))


def _arr(spark, x):
    from dask_array_spark.sources import from_numpy

    return from_numpy(spark, x)


@settings(max_examples=3, deadline=None)
@given(ARR)
def test_cum_family_both_routes(spark, x):
    from dask_array_spark.operators import windows as W

    models = {
        "cumsum": np.cumsum,
        "nancumsum": np.nancumsum,
        "cumprod": np.cumprod,
        "nancumprod": np.nancumprod,
    }
    a = _arr(spark, x)
    for name, ref in models.items():
        exp = ref(x)
        assert_eq(getattr(W, name)(a), exp, rtol=1e-8)
        assert_eq(getattr(W, name)(a, scalable=True), exp, rtol=1e-8)
        # multi-block scan: tiny block so partials + block prefixes
        # genuinely chain across block boundaries
        assert_eq(W._scan_1d(a, name, block=4), exp, rtol=1e-8)


def _push_model(x, limit):
    out = np.array(x)
    last, age = np.nan, 0
    for i in range(len(out)):
        if np.isnan(out[i]):
            age += 1
            if not np.isnan(last) and (limit is None or age <= limit):
                out[i] = last
        else:
            last, age = out[i], 0
    return out


@settings(max_examples=4, deadline=None)
@given(ARR, st.one_of(st.none(), st.integers(1, 3)))
def test_push_diff_gradient_both_routes(spark, x, limit):
    from dask_array_spark.operators import windows as W

    a = _arr(spark, x)
    assert_eq(W.push(a, limit=limit), _push_model(x, limit))
    if limit is None:
        assert_eq(W.push(a, scalable=True), _push_model(x, None))
        # multi-block forward fill: carries chain across blocks
        assert_eq(W._push_1d(a, block=4), _push_model(x, None))
    assert_eq(W.diff(a), np.diff(x))
    assert_eq(W.diff(a, scalable=True), np.diff(x))
    assert_eq(W.gradient(a), np.gradient(x))
    assert_eq(W.gradient(a, scalable=True), np.gradient(x))


@settings(max_examples=4, deadline=None)
@given(CLEAN, st.integers(2, 5))
def test_sliding_moving_coarsen(spark, x, size):
    from dask_array_spark.operators import windows as W

    size = min(size, len(x))
    a = _arr(spark, x)
    sw = np.lib.stride_tricks.sliding_window_view(x, size)
    for agg, ref in [("sum", np.sum), ("min", np.min), ("max", np.max),
                     ("mean", np.mean)]:
        assert_eq(W.sliding_reduce(a, size, agg), ref(sw, axis=1), rtol=1e-9)
        assert_eq(
            W.sliding_reduce(a, size, agg, scalable=True),
            ref(sw, axis=1),
            rtol=1e-9,
        )
    # trailing mean with min_count: windows shorter than min_count -> NaN
    mc = 2
    exp = np.array([
        np.mean(x[max(0, i - size + 1) : i + 1])
        if i + 1 >= min(mc, size) and len(x[max(0, i - size + 1) : i + 1]) >= mc
        else np.nan
        for i in range(len(x))
    ])
    assert_eq(W.moving_reduce(a, size, "mean", min_count=mc), exp, rtol=1e-9)
    # coarsen: tumbling groups of `size`, trailing partial group kept
    exp_c = np.array([
        np.sum(x[i : i + size]) for i in range(0, len(x), size)
    ])
    assert_eq(W.coarsen(a, size, "sum"), exp_c, rtol=1e-9)
