"""Scalable 1-D window family: the distributed two-pass scans and
halo-block windows must match the single-partition WindowExec results
exactly (including NaN propagation), and their plans must contain no
global-ordering window (reference Blelloch scan
reductions/_cumulative.py:451, banded sliding plan
reductions/_sliding_window.py:405)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_array_spark import from_numpy
from dask_array_spark.core.array import Array
from dask_array_spark.operators import windows as W


def _vec(spark, vals):
    return from_numpy(spark, np.asarray(vals, dtype="float64"))


def _np(arr, n):
    """dense ndarray from a 1-D cell Array (absent/NULL -> nan)."""
    out = np.full(n, np.nan)
    for r in arr.df.collect():
        if r["v"] is not None:
            out[r["i0"]] = r["v"]
    return out


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(3)
    x = rng.normal(size=257)
    x[40] = np.nan
    x[200] = np.nan
    return x


@pytest.fixture(scope="module")
def scan_inputs(spark, data):
    """The scan/push comparison inputs at block 50: interior NaNs, an
    all-NULL interior block, leading NULLs, and a sparse axis with the
    whole block 150..199 absent."""
    null_block = data.copy()
    null_block[100:150] = np.nan
    leading = data.copy()
    leading[:12] = np.nan
    a = _vec(spark, data)
    sparse = Array(a.df.filter(~F.col("i0").between(150, 199)), a.shape)
    return {
        "nan": a,
        "null_block": _vec(spark, null_block),
        "leading_nulls": _vec(spark, leading),
        "sparse": sparse,
    }


SCANS = [
    ("cumsum", W.cumsum),
    ("nancumsum", W.nancumsum),
    ("cumprod", W.cumprod),
    ("nancumprod", W.nancumprod),
]


def _check_scans(scan_inputs, n):
    for name, a in scan_inputs.items():
        for kind, fn in SCANS:
            small = _np(fn(a, scalable=False), n)
            big = _np(W._scan_1d(a, kind, block=50), n)
            assert np.allclose(small, big, equal_nan=True, atol=1e-9), (name, kind)


def _check_push(scan_inputs, n):
    for name, a in scan_inputs.items():
        small = _np(W.push(a, scalable=False), n)
        big = _np(W._push_1d(a, block=50), n)
        assert np.allclose(small, big, equal_nan=True), name


def test_scan_1d_matches_window_path(data, scan_inputs):
    _check_scans(scan_inputs, len(data))


def test_scan_1d_nan_poisons_across_blocks(spark, data):
    a = _vec(spark, data)
    out = _np(W._scan_1d(a, "cumsum", block=50), len(data))
    assert np.all(np.isnan(out[40:]))  # NaN at 40 poisons blocks 1..5
    assert not np.any(np.isnan(out[:40]))


def test_push_1d_scalable(data, scan_inputs):
    _check_push(scan_inputs, len(data))


def test_diff_gradient_scalable(spark, data):
    n = len(data)
    a = _vec(spark, data)
    d_small = _np(W.diff(a, scalable=False), n - 1)
    d_big = _np(W.diff(a, scalable=True), n - 1)
    assert np.allclose(d_small, d_big, equal_nan=True)
    g_small = _np(W.gradient(a, scalable=False), n)
    g_big = _np(W.gradient(a, scalable=True), n)
    assert np.allclose(g_small, g_big, equal_nan=True)


def test_sliding_moving_scalable(spark, data):
    n = len(data)
    a = _vec(spark, data)
    for agg in ("sum", "mean", "max"):
        s_small = _np(W.sliding_reduce(a, 7, agg, scalable=False), n - 6)
        s_big = _np(W.sliding_reduce(a, 7, agg, scalable=True), n - 6)
        assert np.allclose(s_small, s_big, equal_nan=True), agg
        m_small = _np(W.moving_reduce(a, 7, agg, scalable=False), n)
        m_big = _np(W.moving_reduce(a, 7, agg, scalable=True), n)
        assert np.allclose(m_small, m_big, equal_nan=True), agg


def test_scalable_plan_has_no_global_window(spark):
    """The scalable paths must never run a window over the raw axis in
    one partition: every Window in the plan is either PARTITIONED by
    the block key (parallel) or ordered by the block key itself (the
    metadata-sized prefix over per-block partials).  A naive global
    cumsum would show a windowspecdefinition over i0 with no __blk."""
    big_n = W.SCALABLE_1D_THRESHOLD + 5
    from dask_array_spark.core.array import Array

    base = spark.range(big_n).selectExpr("id AS i0", "CAST(id % 97 AS DOUBLE) AS v")
    a = Array(base, (big_n,))
    for df in (W.cumsum(a).df, W.sliding_reduce(a, 30, "max").df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        windows = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
        assert windows, "scalable path should use block-partitioned windows"
        for line in windows:
            assert "__blk" in line, f"unblocked (global) window:\n{line}"


def test_scalable_cumsum_values_big(spark):
    """Closed-form check on a large dense axis: cumsum(arange) ==
    i*(i+1)/2 at sampled positions."""
    from dask_array_spark.core.array import Array

    n = 2_000_000
    base = spark.range(n).selectExpr("id AS i0", "CAST(id AS DOUBLE) AS v")
    a = Array(base, (n,))
    out = W.cumsum(a, scalable=True)
    rows = out.df.filter(F.col("i0").isin([0, 999_999, 1_048_576, 1_999_999])).collect()
    got = {r["i0"]: r["v"] for r in rows}
    for i, v in got.items():
        assert v == i * (i + 1) / 2.0


def test_recursive_partials_correct(data, scan_inputs, monkeypatch):
    """Force the super-block recursion and check every scan kind + push
    against the plain path: limit 4 -> 257/50 = 6 blocks recurse one
    level; limit 2 -> 6 blocks, 3 super-blocks, 2 super-super-blocks,
    two levels deep."""
    for limit in (4, 2):
        monkeypatch.setattr(W, "_PARTIALS_WINDOW_LIMIT", limit)
        _check_scans(scan_inputs, len(data))
        _check_push(scan_inputs, len(data))


def test_recursive_partials_plan_1e9(spark):
    """10^9-element axis with 4096-blocks -> 244k partials, above the
    window limit: the plan must contain NO unpartitioned window over
    the block partials (every windowspecdefinition is partitioned by
    __blk or __sb except the metadata-sized super-prefix, which orders
    by __sb over <= P/limit rows)."""
    from dask_array_spark.core.array import Array

    n = 1_000_000_000
    base = spark.range(n).selectExpr("id AS i0", "CAST(id % 97 AS DOUBLE) AS v")
    out = W._scan_1d(Array(base, (n,)), "cumsum", block=4096)
    import re

    plan = out.df._jdf.queryExecution().executedPlan().toString()
    windows = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert windows
    # ordering-only specs look like windowspecdefinition(<col> ASC ...;
    # partitioned specs list the partition column(s) first.  The raw
    # axis (i0) and the block partials (__blk) must never be global.
    unpartitioned = [
        l
        for l in windows
        if re.search(r"windowspecdefinition\((i0|__blk)#\d+L? ASC", l)
    ]
    assert not unpartitioned, unpartitioned
    # the only global-ordered window is the recursion base over __sb
    # (<= nblocks/limit rows == metadata)
    assert any(re.search(r"windowspecdefinition\(__sb#\d+L? ASC", l) for l in windows)


def test_halo_multihop_window(spark):
    """Window depth >= block: halos must ship across multiple blocks
    (ADVICE round 2 -- one-hop halos silently truncated the frame)."""
    rng = np.random.default_rng(9)
    x = rng.normal(size=100)
    a = _vec(spark, x)
    size = 20
    d, w = W._halo_blocks(a, left=0, right=size - 1, block=8)
    c = F.max(F.col("v")).over(w.rowsBetween(0, size - 1))
    out = (
        d.withColumn("__s", c)
        .filter((F.col("__h") == 0) & (F.col("i0") <= F.lit(100 - size)))
        .select("i0", F.col("__s").alias("v"))
    )
    got = np.full(100 - size + 1, np.nan)
    for r in out.collect():
        got[r["i0"]] = r["v"]
    want = np.array([x[i : i + size].max() for i in range(100 - size + 1)])
    assert np.allclose(got, want)

    # trailing (left) halos across multiple blocks
    d, w = W._halo_blocks(a, left=size - 1, right=0, block=8)
    c = F.sum(F.col("v")).over(w.rowsBetween(-(size - 1), 0))
    out = (
        d.withColumn("__m", c)
        .filter(F.col("__h") == 0)
        .select("i0", F.col("__m").alias("v"))
    )
    got = np.full(100, np.nan)
    for r in out.collect():
        got[r["i0"]] = r["v"]
    want = np.array([x[max(0, i - size + 1) : i + 1].sum() for i in range(100)])
    assert np.allclose(got, want)


def _pass2_path_nodes(plan):
    """Class names of the nodes between the pass-2 window (the topmost
    Window partitioned by ``__blk``) and the leaves it streams from,
    skipping the broadcast (partials) side of each join."""
    def children(node):
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            return [node.plan()]
        kids = node.children()
        return [kids.apply(k) for k in range(kids.size())]

    def find(node):
        if (
            node.getClass().getSimpleName() == "WindowExec"
            and "__blk" in node.partitionSpec().toString()
        ):
            return node
        for kid in children(node):
            hit = find(kid)
            if hit is not None:
                return hit
        return None

    def walk(node, out):
        name = node.getClass().getSimpleName()
        if name.startswith("Broadcast") and "Join" not in name:
            return
        out.append(name)
        for kid in children(node):
            walk(kid, out)

    window = find(plan)
    assert window is not None, "no block-partitioned pass-2 window"
    out = []
    for kid in children(window):
        walk(kid, out)
    return out


def test_scalable_scan_pass2_has_no_exchange_or_sort(spark):
    """cumsum and push above the threshold: the executed plan runs the
    pass-2 window straight off the range-partitioned, sorted cache --
    no Exchange and no Sort between them.  Exchanges happen only at
    cache build and on the broadcast partials side.  (The plan before
    execution may still hold one: until the cache is built, its
    partitioning is not known to the planner.)"""
    big_n = W.SCALABLE_1D_THRESHOLD + 5
    base = spark.range(big_n).selectExpr(
        "id AS i0",
        "CASE WHEN id % 7 = 3 THEN NULL ELSE CAST(id % 97 AS DOUBLE) END AS v",
    )
    a = Array(base, (big_n,))
    for name, out in (("cumsum", W.cumsum(a)), ("push", W.push(a))):
        plan = out.df._jdf.queryExecution().executedPlan()
        # adaptive execution re-plans once the cache stage exists: run
        # the query, then read its final plan
        plan.execute().count()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.executedPlan()
        nodes = _pass2_path_nodes(plan)
        assert "InMemoryTableScanExec" in nodes, (name, nodes)
        bad = [n for n in nodes if "Exchange" in n or "Sort" in n]
        assert not bad, (name, nodes)
