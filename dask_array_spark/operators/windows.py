"""Window / sliding / cumulative family.

Parity: cumsum/cumprod (reference ``CumReduction``/Blelloch scan,
/root/reference/dask_array/reductions/_cumulative.py:100,451), sliding
window reductions (reductions/_sliding_window.py:405 -- the reference's
banded fused plan is Spark ``WindowExec``'s native incremental sliding
frame), moving windows with min_count
(reductions/_sliding_window.py:249), forward-fill ``push``
(_overlap.py:1441), diff/gradient (routines/_diff.py:6,
routines/_gradient.py:36), coarsen (routines/_coarsen.py:42).

Scale note: windows ordered along axis ``ax`` partition by the OTHER
axes -- for >=2-d data that is a parallel window.  A window over a pure
1-D array would have a single partition, so every 1-D window op ROUTES
AUTOMATICALLY to a distributed decomposition above
``SCALABLE_1D_THRESHOLD`` elements (override with ``scalable=``):

- scans (cumsum/nancumsum/cumprod/nancumprod/push): ONE two-pass
  block-scan skeleton (``_block_scan``), PURE JVM -- index blocks
  aggregate tiny per-block partials, ``_exclusive_prefix`` (a window
  over the metadata-sized partials frame, recursing into super-blocks
  when that frame is large) yields exclusive block prefixes, and a
  block-PARTITIONED window folds them in -- the reference's Blelloch
  decomposition (reductions/_cumulative.py:451).  Each scan supplies
  only its partials, their monoids (sum, any, last-non-null) and a
  finalize; NaN propagates across blocks and no Python runs in the
  data path;
- bounded-depth windows (diff/gradient/sliding/moving): index-math
  halo blocks, PURE JVM -- edge rows union-ship to the neighboring
  block key and an ordinary block-partitioned WindowExec evaluates
  the frame (halo rows inside the frame, trimmed from the output) --
  the reference's banded plan (reductions/_sliding_window.py:405).
  These assume a DENSE axis (every index present; NULL cells
  allowed); sparse axes stay on the window path.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..core.array import VALUE_COL, Array

__all__ = [
    "cumsum",
    "cumprod",
    "nancumprod",
    "nancumsum",
    "push",
    "diff",
    "ediff1d",
    "gradient",
    "sliding_reduce",
    "moving_reduce",
    "coarsen",
    "cumsum_1d_scalable",
    "SCALABLE_1D_THRESHOLD",
]

# a pure-1-D window above this many elements routes to the distributed
# two-pass / halo-block decomposition instead of one WindowExec
SCALABLE_1D_THRESHOLD = 1 << 20
_BLOCK_1D = 1 << 18
# above this many partials, the partials prefix itself recurses into
# super-block levels instead of one unpartitioned window
_PARTIALS_WINDOW_LIMIT = 1 << 17


def _nanfix(a: Array) -> Array:
    """Stray double NaNs (inf-inf, NaN literals) -> the NULL encoding,
    so the NULL-flag scan/window logic below sees them; no-op on
    integer/boolean arrays (see reductions._nan_normalized)."""
    from .reductions import _nan_normalized

    return Array(_nan_normalized(a), a.shape)


def _axis_window(a: Array, axis: int, frame=None):
    axis = axis % a.ndim
    others = [f"i{k}" for k in range(a.ndim) if k != axis]
    w = Window.partitionBy(*others).orderBy(F.col(f"i{axis}"))
    if frame is not None:
        w = w.rowsBetween(*frame)
    return w, axis


def _route_1d(a: Array, axis: int, scalable: bool | None) -> bool:
    """True -> use the distributed 1-D decomposition."""
    if a.ndim != 1 or (axis % 1) != 0:
        return False
    if scalable is not None:
        return scalable
    n = a.shape[0]
    return n is not None and n >= SCALABLE_1D_THRESHOLD


class _Monoid(NamedTuple):
    """How one per-block partial combines across blocks: ``reduce``
    aggregates partials into a coarser level's partial (given the
    level's key column), ``window`` is the same fold as a window
    aggregate, ``identity`` (a Python literal) stands in for an empty
    prefix, and ``combine(outer, inner)`` folds an outer level's prefix
    with the prefix inside it."""

    reduce: Callable[[Column, Column], Column]
    window: Callable[[Column], Column]
    identity: object
    combine: Callable[[Column, Column], Column]


_SUM = _Monoid(lambda c, k: F.sum(c), F.sum, 0, lambda o, i: o + i)
_ANY = _Monoid(lambda c, k: F.max(c), F.max, False, lambda o, i: o | i)
# last non-null in key order; max_by skips NULL orderings, so a level
# whose partials are all NULL reduces to NULL
_LAST = _Monoid(
    lambda c, k: F.max_by(c, F.when(c.isNotNull(), k)),
    lambda c: F.last(c, ignorenulls=True),
    None,
    lambda o, i: F.coalesce(i, o),
)


def _exclusive_prefix(
    p: DataFrame, key: str, monoids: dict[str, _Monoid], nkeys: int | None
) -> DataFrame:
    """Replace each ``monoids`` column of the partials frame ``p`` (one
    row per ``key``) by its exclusive prefix: the fold of the partials
    at smaller keys, ``identity`` for the first.  Other columns pass
    through.  Up to ``_PARTIALS_WINDOW_LIMIT`` keys this is one
    unpartitioned window, metadata-sized.  Above it the frame groups
    into super-keys of ``_PARTIALS_WINDOW_LIMIT`` keys, their partials
    get their own exclusive prefix (recursively, so no unpartitioned
    window ever sees more than the limit), and a window PARTITIONED by
    super-key combines that outer prefix with the one inside it."""
    outer = None
    w = Window.orderBy(key)
    if nkeys is not None and nkeys > _PARTIALS_WINDOW_LIMIT:
        sup = "__sb" if key == "__blk" else key + "b"
        p = p.withColumn(
            sup, F.floor(F.col(key) / F.lit(_PARTIALS_WINDOW_LIMIT)).cast("long")
        )
        sp = p.groupBy(sup).agg(
            *[m.reduce(F.col(c), F.col(key)).alias(c) for c, m in monoids.items()]
        )
        nsup = (nkeys + _PARTIALS_WINDOW_LIMIT - 1) // _PARTIALS_WINDOW_LIMIT
        sprefix = _exclusive_prefix(sp, sup, monoids, nsup)
        p = p.join(
            sprefix.select(sup, *[F.col(c).alias(c + "_o") for c in monoids]), on=sup
        )
        outer = {c: F.col(c + "_o") for c in monoids}
        w = Window.partitionBy(sup).orderBy(key)
    w = w.rowsBetween(Window.unboundedPreceding, -1)
    cols = {}
    for c, m in monoids.items():
        inner = F.coalesce(m.window(F.col(c)).over(w), F.lit(m.identity))
        cols[c] = inner if outer is None else m.combine(outer[c], inner)
    return p.withColumns(cols)


def _block_scan(
    a: Array,
    partials: dict[str, Column],
    monoids: dict[str, _Monoid],
    finalize: Callable[[WindowSpec], Column],
    block: int,
) -> Array:
    """The two-pass distributed scan over a 1-D axis, PURE JVM (the
    reference's Blelloch ``CumReduction``,
    reductions/_cumulative.py:451).  Works for sparse or dense cells:
    ROWS semantics over the present rows ordered by index.

    Pass 1 reduces each index block ``i0 DIV block`` to the
    ``partials`` aggregates; ``_exclusive_prefix`` turns the
    ``monoids`` among them into exclusive block prefixes (the rest are
    per-block scalars passed through unprefixed); pass 2 is a
    block-PARTITIONED window ``w`` (fully parallel) in which
    ``finalize(w)`` folds the prefix into the block-local running
    value."""
    # The frame is RANGE-partitioned on the block key and sorted by
    # (block, position) before the persist: RangePartitioning(__blk)
    # satisfies the clustering that the pass-1 aggregate and the pass-2
    # window both require, and the stored order satisfies the window's
    # (__blk, i0) ordering, so the one shuffle happens at cache build
    # and neither consumer exchanges or sorts.  Block keys are
    # equal-sized by construction, so range partitions are balanced.
    d = (
        a.df.withColumn("__blk", F.floor(F.col("i0") / F.lit(block)).cast("long"))
        .repartitionByRange("__blk")
        .sortWithinPartitions("__blk", "i0")
        .persist()
    )
    p = d.groupBy("__blk").agg(*[e.alias(c) for c, e in partials.items()])
    n = a.shape[0]
    nblocks = None if n is None else (n + block - 1) // block
    prefix = _exclusive_prefix(p, "__blk", monoids, nblocks)
    # EXPLICIT broadcast when the prefix frame is provably bounded: a
    # plain join plans as SortMergeJoin, which re-exchanges and
    # re-sorts the cached side; a BroadcastHashJoin keeps the streamed
    # side's partitioning and ordering.  Unknown or huge block counts
    # keep the planner's choice (AQE broadcasts when small).
    if nblocks is not None and nblocks <= _PARTIALS_WINDOW_LIMIT:
        prefix = F.broadcast(prefix)
    j = d.join(prefix, on="__blk")
    w = Window.partitionBy("__blk").orderBy("i0").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return Array(
        j.select("i0", finalize(w).cast("double").alias(VALUE_COL)), a.shape
    )


def _scan_1d(a: Array, kind: str, block: int = _BLOCK_1D) -> Array:
    """cumsum / nancumsum / cumprod / nancumprod over a 1-D axis as a
    ``_block_scan``.  Sums carry ``__s``; products carry the
    log-magnitude ``__lg`` and negative count ``__neg``, plus whether a
    zero was seen.  NaN propagation matches the plain scans: a NaN cell
    poisons every later position, across block boundaries too.

    "Seen a NULL (zero) at or before i" splits into the prefixed
    any-flag of the earlier blocks and, inside the block, ``i >=`` the
    block's first NULL (zero) position ``__np`` (``__zp``): a per-block
    scalar compare instead of a running max window over every row."""
    v = F.col(VALUE_COL)
    i = F.col("i0")
    first_null = F.min(F.when(v.isNull(), i))
    first_zero = F.min(F.when(v == 0, i))
    if kind in ("cumsum", "nancumsum"):
        partials = {"__s": F.sum(v)}
        monoids = {"__s": _SUM}
    else:
        partials = {
            "__lg": F.sum(F.when(v != 0, F.log(F.abs(v)))),
            "__neg": F.sum((v.isNotNull() & (v < 0)).cast("long")),
            "__zp": first_zero,
            "__zero": first_zero.isNotNull(),
        }
        monoids = {"__lg": _SUM, "__neg": _SUM, "__zero": _ANY}
    if not kind.startswith("nan"):
        partials.update(__np=first_null, __null=first_null.isNotNull())
        monoids["__null"] = _ANY

    def seen(flag: str, pos: str) -> Column:
        return F.col(flag) | (F.col(pos).isNotNull() & (i >= F.col(pos)))

    def finalize(w: WindowSpec) -> Column:
        if kind in ("cumsum", "nancumsum"):
            c = F.coalesce(F.sum(v).over(w), F.lit(0.0)) + F.col("__s")
        else:
            negs = F.coalesce(
                F.sum((v.isNotNull() & (v < 0)).cast("long")).over(w), F.lit(0)
            ) + F.col("__neg")
            mag = F.exp(
                F.coalesce(F.sum(F.log(F.when(v != 0, F.abs(v)))).over(w), F.lit(0.0))
                + F.col("__lg")
            )
            sign = F.when(negs % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
            c = F.when(seen("__zero", "__zp"), F.lit(0.0)).otherwise(sign * mag)
        if not kind.startswith("nan"):
            c = F.when(seen("__null", "__np"), F.lit(None)).otherwise(c)
        return c

    return _block_scan(a, partials, monoids, finalize, block)


def _push_1d(a: Array, block: int = _BLOCK_1D) -> Array:
    """Forward fill (unbounded limit) over a 1-D axis as a
    ``_block_scan``: the partial is the block's last non-null value
    (NULL for an all-NULL block), its prefix the carry into the block,
    and pass 2 falls back to the carry until the block's first value."""
    v = F.col(VALUE_COL)
    return _block_scan(
        a,
        {"__last": F.max_by(v, F.when(v.isNotNull(), F.col("i0")))},
        {"__last": _LAST},
        lambda w: F.coalesce(F.last(v, ignorenulls=True).over(w), F.col("__last")),
        block,
    )


def _halo_blocks(a: Array, left: int, right: int, block: int = _BLOCK_1D):
    """Bounded-depth 1-D windows over a DENSE axis, pure JVM: rows
    within ``right`` of a block start also union-ship to the previous
    block key (and within ``left`` of a block end to the next), tagged
    ``__h = 1``; the caller runs an ordinary block-PARTITIONED window
    over the result (each partition sees its halo rows inside the
    frame) and keeps only ``__h = 0`` home rows -- the reference's
    halo exchange as one union + one hash exchange, zero Python.

    Depths >= ``block`` ship to ceil(depth/block) neighboring blocks
    (one union branch per hop), so window sizes are not silently capped
    at the block size; each row fans out at most depth/block times,
    which is exactly the data duplication any halo exchange pays."""
    n = a.shape[0]
    if n is None:
        raise ValueError("scalable 1-D windows need a known axis length")
    last_blk = (n - 1) // block
    base = a.df.withColumn(
        "__blk", F.floor(F.col("i0") / F.lit(block)).cast("long")
    ).withColumn("__h", F.lit(0))
    d = base
    pos = F.col("i0") % F.lit(block)
    s = 1
    while right - (s - 1) * block > 0:
        lo_rows = base.filter(
            (pos < F.lit(right - (s - 1) * block)) & (F.col("__blk") >= s)
        ).withColumn("__blk", F.col("__blk") - s).withColumn("__h", F.lit(1))
        d = d.unionByName(lo_rows)
        s += 1
    s = 1
    while left - (s - 1) * block > 0:
        hi_rows = base.filter(
            (pos >= F.lit(s * block - left)) & (F.col("__blk") + s <= last_blk)
        ).withColumn("__blk", F.col("__blk") + s).withColumn("__h", F.lit(1))
        d = d.unionByName(hi_rows)
        s += 1
    w = Window.partitionBy("__blk").orderBy("i0")
    return d, w


def cumsum(a: Array, axis: int = 0, scalable: bool | None = None) -> Array:
    """Running sum with NumPy NaN propagation (once NaN, all later NaN).
    Pure-1-D axes above SCALABLE_1D_THRESHOLD route to the two-pass
    distributed scan."""
    a = _nanfix(a)
    if _route_1d(a, axis, scalable):
        return _scan_1d(a, "cumsum")
    w, ax = _axis_window(a, axis, (Window.unboundedPreceding, Window.currentRow))
    seen_null = F.max(F.col(VALUE_COL).isNull().cast("int")).over(w)
    c = F.when(seen_null == 1, F.lit(None)).otherwise(F.sum(F.col(VALUE_COL)).over(w))
    return Array(a.df.select(*a.index_cols, c.alias(VALUE_COL)), a.shape)


def nancumsum(a: Array, axis: int = 0, scalable: bool | None = None) -> Array:
    a = _nanfix(a)
    if _route_1d(a, axis, scalable):
        return _scan_1d(a, "nancumsum")
    w, ax = _axis_window(a, axis, (Window.unboundedPreceding, Window.currentRow))
    c = F.coalesce(F.sum(F.col(VALUE_COL)).over(w), F.lit(0.0))
    return Array(a.df.select(*a.index_cols, c.alias(VALUE_COL)), a.shape)


def cumprod(a: Array, axis: int = 0, scalable: bool | None = None) -> Array:
    """Running product via the exp-log-sum decomposition with running
    sign / zero tracking (SURVEY.md section 4.4 'cumprod log-trick')."""
    a = _nanfix(a)
    if _route_1d(a, axis, scalable):
        return _scan_1d(a, "cumprod")
    w, ax = _axis_window(a, axis, (Window.unboundedPreceding, Window.currentRow))
    seen_null = F.max(F.col(VALUE_COL).isNull().cast("int")).over(w)
    zeros = F.max((F.col(VALUE_COL) == 0).cast("int")).over(w)
    negs = F.sum((F.col(VALUE_COL) < 0).cast("int")).over(w)
    mag = F.exp(F.sum(F.log(F.when(F.col(VALUE_COL) != 0, F.abs(F.col(VALUE_COL))))).over(w))
    sign = F.when(negs % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    c = F.when(seen_null == 1, F.lit(None)).otherwise(
        F.when(zeros == 1, F.lit(0.0)).otherwise(sign * mag)
    )
    return Array(a.df.select(*a.index_cols, c.alias(VALUE_COL)), a.shape)


def nancumprod(a: Array, axis: int = 0, scalable: bool | None = None) -> Array:
    """NaN-skipping running product (reference nancumprod,
    reductions/_cumulative.py): NULL cells contribute factor 1."""
    a = _nanfix(a)
    if _route_1d(a, axis, scalable):
        return _scan_1d(a, "nancumprod")
    w, ax = _axis_window(a, axis, (Window.unboundedPreceding, Window.currentRow))
    v = F.col(VALUE_COL)
    zeros = F.max((v == 0).cast("int")).over(w)
    negs = F.sum((v < 0).cast("int")).over(w)
    mag = F.exp(F.sum(F.log(F.when(v != 0, F.abs(v)))).over(w))
    sign = F.when(negs % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
    c = F.when(zeros == 1, F.lit(0.0)).otherwise(
        F.coalesce(sign * mag, F.lit(1.0))
    )
    return Array(a.df.select(*a.index_cols, c.alias(VALUE_COL)), a.shape)


def push(a: Array, axis: int = 0, limit: int | None = None, scalable: bool | None = None) -> Array:
    """Forward-fill last valid value (reference _overlap.py:1441)."""
    a = _nanfix(a)
    if limit is None and _route_1d(a, axis, scalable):
        return _push_1d(a)
    if limit is None:
        w, _ = _axis_window(a, axis, (Window.unboundedPreceding, Window.currentRow))
    else:
        w, _ = _axis_window(a, axis, (-limit, Window.currentRow))
    c = F.last(F.col(VALUE_COL), ignorenulls=True).over(w)
    return Array(a.df.select(*a.index_cols, c.alias(VALUE_COL)), a.shape)


def diff(a: Array, axis: int = 0, scalable: bool | None = None) -> Array:
    """x[i+1] - x[i] (reference routines/_diff.py:6): lead-lag over the
    axis window; output length n-1."""
    if _route_1d(a, axis, scalable):
        n = a.shape[0]
        d, w = _halo_blocks(a, left=0, right=1)
        c = F.lead(F.col(VALUE_COL), 1).over(w) - F.col(VALUE_COL)
        out = (
            d.withColumn("__d", c)
            .filter((F.col("__h") == 0) & (F.col("i0") < F.lit(n - 1)))
            .select("i0", F.col("__d").cast("double").alias(VALUE_COL))
        )
        return Array(out, (n - 1,))
    w, ax = _axis_window(a, axis)
    nxt = F.lead(F.col(VALUE_COL), 1).over(w)
    d = a.df.select(
        *a.index_cols, nxt.alias("__nxt"), F.col(VALUE_COL).alias("__cur")
    )
    if a.shape[ax] is not None:
        d = d.filter(F.col(f"i{ax}") < F.lit(a.shape[ax] - 1))
    else:
        # unknown length (sparse index): drop the last row per
        # partition -- detected by leading the INDEX column, so an
        # interior NULL-valued successor still yields a NULL diff row
        # (leading the value column cannot tell 'next value is NULL'
        # from 'no next row')
        nxt_idx = F.lead(F.col(f"i{ax}"), 1).over(w)
        d = a.df.select(
            *a.index_cols,
            nxt.alias("__nxt"),
            F.col(VALUE_COL).alias("__cur"),
            nxt_idx.alias("__nxt_i"),
        ).filter(F.col("__nxt_i").isNotNull())
    d = d.select(*a.index_cols, (F.col("__nxt") - F.col("__cur")).alias(VALUE_COL))
    shape = list(a.shape)
    shape[ax] = None if shape[ax] is None else shape[ax] - 1
    return Array(d, tuple(shape))


def gradient(a: Array, axis: int = 0, h: float = 1.0, scalable: bool | None = None) -> Array:
    """Central differences with one-sided edges (reference
    routines/_gradient.py:36, overlap depth 1)."""
    if _route_1d(a, axis, scalable):
        n = a.shape[0]
        d, w = _halo_blocks(a, left=1, right=1)
        prev = F.lag(F.col(VALUE_COL), 1).over(w)
        nxt = F.lead(F.col(VALUE_COL), 1).over(w)
        i = F.col("i0")
        c = (
            F.when(i == 0, (nxt - F.col(VALUE_COL)) / F.lit(h))
            .when(i == n - 1, (F.col(VALUE_COL) - prev) / F.lit(h))
            .otherwise((nxt - prev) / F.lit(2.0 * h))
        )
        out = (
            d.withColumn("__g", c)
            .filter(F.col("__h") == 0)
            .select("i0", F.col("__g").cast("double").alias(VALUE_COL))
        )
        return Array(out, a.shape)
    w, ax = _axis_window(a, axis)
    n = a.shape[ax]
    prev = F.lag(F.col(VALUE_COL), 1).over(w)
    nxt = F.lead(F.col(VALUE_COL), 1).over(w)
    i = F.col(f"i{ax}")
    c = (
        F.when(i == 0, (nxt - F.col(VALUE_COL)) / F.lit(h))
        .when(i == n - 1, (F.col(VALUE_COL) - prev) / F.lit(h))
        .otherwise((nxt - prev) / F.lit(2.0 * h))
    )
    return Array(a.df.select(*a.index_cols, c.alias(VALUE_COL)), a.shape)


_AGGS = {
    "sum": F.sum,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(c),
}


def sliding_reduce(
    a: Array, size: int, agg: str = "sum", axis: int = 0, scalable: bool | None = None
) -> Array:
    """Fused sliding-window reduction: agg over [i, i+size-1]
    (reference ``SlidingWindowReduction``,
    reductions/_sliding_window.py:405 -- windows never materialized;
    Spark's WindowExec evaluates the sliding frame incrementally).
    Output length n-size+1.  Dense 1-D axes above the threshold route
    to halo blocks with a banded in-kernel window."""
    if _route_1d(a, axis, scalable):
        n = a.shape[0]
        d, w = _halo_blocks(a, left=0, right=size - 1)
        c = _AGGS[agg](F.col(VALUE_COL)).over(w.rowsBetween(0, size - 1))
        out = (
            d.withColumn("__s", c)
            .filter((F.col("__h") == 0) & (F.col("i0") <= F.lit(n - size)))
            .select("i0", F.col("__s").cast("double").alias(VALUE_COL))
        )
        return Array(out, (n - size + 1,))
    w, ax = _axis_window(a, axis, (0, size - 1))
    c = _AGGS[agg](F.col(VALUE_COL)).over(w)
    d = a.df.select(*a.index_cols, c.alias(VALUE_COL))
    d = d.filter(F.col(f"i{ax}") <= F.lit(a.shape[ax] - size))
    shape = list(a.shape)
    shape[ax] = shape[ax] - size + 1
    return Array(d, tuple(shape))


def moving_reduce(
    a: Array,
    size: int,
    agg: str = "mean",
    axis: int = 0,
    min_count: int = 1,
    scalable: bool | None = None,
) -> Array:
    """Trailing window [i-size+1, i] with min_count NaN masking
    (reference ``MovingWindowReduction``,
    reductions/_sliding_window.py:249; xarray rolling semantics)."""
    a = _nanfix(a)
    if _route_1d(a, axis, scalable):
        d, w = _halo_blocks(a, left=size - 1, right=0)
        frame = w.rowsBetween(-(size - 1), 0)
        c = _AGGS[agg](F.col(VALUE_COL)).over(frame)
        cnt = F.count(F.col(VALUE_COL)).over(frame)
        out = (
            d.withColumn("__m", F.when(cnt >= min_count, c))
            .filter(F.col("__h") == 0)
            .select("i0", F.col("__m").cast("double").alias(VALUE_COL))
        )
        return Array(out, a.shape)
    w, ax = _axis_window(a, axis, (-(size - 1), 0))
    c = _AGGS[agg](F.col(VALUE_COL)).over(w)
    cnt = F.count(F.col(VALUE_COL)).over(w)
    c = F.when(cnt >= min_count, c)
    return Array(a.df.select(*a.index_cols, c.alias(VALUE_COL)), a.shape)


def coarsen(a: Array, factor: int, agg: str = "sum", axis: int = 0) -> Array:
    """Block-local downsample by `factor` (reference ``Coarsen``,
    routines/_coarsen.py:42) == groupBy(i DIV k) -- a tumbling index
    window, one partial-aggregated shuffle."""
    a = _nanfix(a)
    axis = axis % a.ndim
    keys = [
        (F.floor(F.col(f"i{k}") / F.lit(factor)).cast("long") if k == axis else F.col(f"i{k}")).alias(f"i{k}")
        for k in range(a.ndim)
    ]
    d = a.df.groupBy(*keys).agg(_AGGS[agg](F.col(VALUE_COL)).alias(VALUE_COL))
    shape = list(a.shape)
    if shape[axis] is not None:
        shape[axis] = (shape[axis] + factor - 1) // factor
    return Array(d.select(*[f"i{k}" for k in range(a.ndim)], VALUE_COL), tuple(shape))


def cumsum_1d_scalable(a: Array) -> Array:
    """Explicit entry to the distributed two-pass prefix sum (the
    automatic route for large 1-D axes); NaN propagation matches
    ``cumsum`` exactly -- a NaN cell poisons every later position,
    across block boundaries too (reference Blelloch scan,
    reductions/_cumulative.py:451)."""
    return _scan_1d(a, "cumsum")


def ediff1d(a: Array) -> Array:
    """Flat first differences (reference routines/_insert_delete.py:31):
    diff over the raveled array."""
    flat = a if a.ndim == 1 else a.ravel()
    return diff(flat, axis=0)
