"""Slicing / indexing -- the reference's WHERE clause.

Parity: basic slicing ``SliceSlicesIntegers``
(/root/reference/dask_array/slicing/_basic.py:357), fancy ``take``
(slicing/_basic.py:75), point-wise ``vindex``
(slicing/_vindex.py:143), boolean masks
(slicing/_bool_index.py:118), functional ``setitem``
(slicing/_setitem.py:294).

Spark-first: a slice is a range predicate plus an affine index remap;
Catalyst pushes the predicate into the parquet scan -- the reference's
prize "slice pushdown" optimization (its ``_region`` machinery,
io/_from_array.py:446) is free here.  Fancy/point indexing are joins
against an indexer table; a boolean mask is just ``filter`` (the
reference's unknown-chunk machinery has no Spark analogue because
per-partition row counts are always dynamic).
"""

from __future__ import annotations

from typing import Any, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.array import VALUE_COL, Array
from ..session import local_frame

__all__ = ["getitem", "take", "vindex", "boolean_mask", "set_index_value", "compress", "extract", "isin", "searchsorted", "push_index", "nonzero", "argwhere"]


def _norm_slice(sl: slice, n: int | None):
    start, stop, step = sl.start, sl.stop, sl.step
    step = 1 if step is None else step
    if step == 0:
        raise ValueError("slice step cannot be zero")
    if n is None and (start is None or start < 0 or stop is None or stop < 0 or step < 0):
        raise ValueError("negative/open slicing needs a known axis length")
    if n is None:
        length = max(0, -(-(stop - start) // step))
        return start, stop, step, length
    # CPython slice.indices IS the NumPy clamping spec (negative-step
    # stop floors at -1, out-of-range starts clamp per direction)
    start, stop, step = sl.indices(n)
    length = len(range(start, stop, step))
    return start, stop, step, length


def getitem(a: Array, key: Any) -> Array:
    """NumPy ``__getitem__``: ints, slices, None (newaxis), Ellipsis,
    a boolean Array mask, or an integer-array indexer along axis 0."""
    if isinstance(key, Array):
        from pyspark.sql.types import BooleanType

        if isinstance(key.dtype, BooleanType):
            return boolean_mask(a, key)
        return take(a, key, axis=0)
    if isinstance(key, (list, np.ndarray)):
        return take(a, list(key), axis=0)
    if not isinstance(key, tuple):
        key = (key,)
    # expand Ellipsis
    if Ellipsis in key:
        pos = key.index(Ellipsis)
        n_given = len([k for k in key if k is not None and k is not Ellipsis])
        fill = (slice(None),) * (a.ndim - n_given)
        key = key[:pos] + fill + key[pos + 1 :]
    n_given = len([k for k in key if k is not None])
    key = key + (slice(None),) * (a.ndim - n_given)

    d = a.df
    preds = []
    out_cols = []
    out_shape = []
    ax = 0  # input axis cursor
    for k in key:
        if k is None:  # np.newaxis
            out_cols.append(F.lit(0).cast("long"))
            out_shape.append(1)
            continue
        n = a.shape[ax]
        col = F.col(f"i{ax}")
        if isinstance(k, (int, np.integer)):
            kk = int(k)
            if kk < 0:
                kk += n
            preds.append(col == kk)
        elif isinstance(k, slice):
            if k == slice(None):
                out_cols.append(col)
                out_shape.append(n)
                ax += 1
                continue
            start, stop, step, length = _norm_slice(k, n)
            if step > 0:
                preds.append((col >= start) & (col < stop) & ((col - start) % step == 0))
                out_cols.append((col - start) / step)
            else:
                preds.append((col <= start) & (col > stop) & ((start - col) % (-step) == 0))
                out_cols.append((start - col) / (-step))
            out_cols[-1] = F.floor(out_cols[-1]).cast("long")
            out_shape.append(length)
        else:
            raise TypeError(f"unsupported index element: {k!r}")
        if not isinstance(k, slice):
            ax += 1
        else:
            ax += 1
    for p in preds:
        d = d.filter(p)
    sel = [c.alias(f"i{j}") for j, c in enumerate(out_cols)] + [F.col(VALUE_COL)]
    return Array(d.select(*sel), tuple(out_shape))


def take(a: Array, indices, axis: int = 0) -> Array:
    """Fancy integer indexing along one axis (reference lowers
    multi-chunk ``take`` to a shuffle, slicing/_basic.py:75,303).
    Spark: join cells against the (pos, idx) indexer -- the indexer is
    usually tiny, so it broadcast-joins; the 100 TB side never moves."""
    axis = axis % a.ndim
    spark = a.spark
    if isinstance(indices, Array):
        idx_df = indices.df.select(
            F.col("i0").alias("__pos"), F.col(VALUE_COL).cast("long").alias("__idx")
        )
        k = indices.shape[0]
    else:
        n = a.shape[axis]
        vals = [int(i) + (n if int(i) < 0 else 0) for i in indices]
        idx_df = local_frame(
            spark, list(enumerate(vals)), "__pos long, __idx long"
        )
        k = len(vals)
    d = a.df.join(F.broadcast(idx_df), on=F.col(f"i{axis}") == F.col("__idx"), how="inner")
    sel = []
    for j in range(a.ndim):
        sel.append((F.col("__pos") if j == axis else F.col(f"i{j}")).alias(f"i{j}"))
    sel.append(F.col(VALUE_COL))
    shape = list(a.shape)
    shape[axis] = k
    return Array(d.select(*sel), tuple(shape))


def vindex(a: Array, coords: DataFrame) -> Array:
    """Point-wise gather: ``coords`` has columns pos, c0..c{n-1}
    (reference ``VIndexArray``, slicing/_vindex.py:143) == equi-join on
    the composite index key."""
    cond = [F.col(f"i{k}") == F.col(f"c{k}") for k in range(a.ndim)]
    d = a.df.join(F.broadcast(coords), on=cond, how="inner")
    out = d.select(F.col("pos").cast("long").alias("i0"), F.col(VALUE_COL))
    return Array(out, (None,))


def boolean_mask(a: Array, mask: Array, compact: bool = False) -> Array:
    """``x[mask]`` -> flattened 1-D selection (reference
    ``BooleanIndexFlattened``, slicing/_bool_index.py:118; output size
    unknown).  By default keeps the original flat index (monotone, may
    have gaps) -- shuffle-free.  ``compact=True`` re-ranks to dense
    0..k-1 NumPy semantics via a global sort.

    When the mask was derived from the same base (``x[x > 5]``, the
    overwhelmingly common case) this is a PURE FILTER -- no self-join,
    no shuffle; Catalyst pushes the predicate into the scan (the
    reference's FusedBlockwise + slice-pushdown combined,
    /root/reference/dask_array/_blockwise.py:1574, _expr.py:431)."""
    if mask._base is a._base:
        d = a._base.filter(mask._vcol).select(
            *[F.col(c) for c in a.index_cols], a._vcol.alias(VALUE_COL)
        )
    else:
        md = mask.df.withColumnRenamed(VALUE_COL, "__m")
        d = a.df.join(md, on=a.index_cols, how="inner").filter(F.col("__m"))
    flat = F.lit(0).cast("long")
    mul = 1
    strides = []
    for s in reversed(a.shape):
        strides.append(mul)
        mul *= s if s else 1
    for k, st in enumerate(reversed(strides)):
        flat = flat + F.col(f"i{k}") * F.lit(st)
    out = d.select(flat.alias("i0"), F.col(VALUE_COL))
    if compact:
        from pyspark.sql import Window

        w = Window.orderBy("i0")
        out = out.select(
            (F.row_number().over(w) - 1).cast("long").alias("i0"), F.col(VALUE_COL)
        )
    return Array(out, (None,))


def compress(a: Array, mask: Array, axis: int = 0) -> Array:
    """Select positions along one axis where a 1-D mask is true
    (reference routines/_misc.py:39).  Keeps original positions."""
    axis = axis % a.ndim
    md = mask.df.select(F.col("i0").alias("__mi"), F.col(VALUE_COL).alias("__m"))
    d = a.df.join(F.broadcast(md), on=F.col(f"i{axis}") == F.col("__mi"), how="inner")
    d = d.filter(F.col("__m"))
    shape = list(a.shape)
    shape[axis] = None
    return Array(d.select(*a.index_cols, VALUE_COL), tuple(shape))


def set_index_value(a: Array, mask: Array, value) -> Array:
    """Functional ``x[mask] = value`` (reference ``SetItem``,
    slicing/_setitem.py:294): left join + conditional overwrite, a pure
    projection after one equi-join.  Shared-base mask + scalar value
    (``x[x > 40] = 40``) collapses to a single CASE WHEN projection --
    no join at all."""
    if mask._base is a._base and not isinstance(value, Array):
        newv = F.when(
            F.coalesce(mask._vcol, F.lit(False)), F.lit(value)
        ).otherwise(a._vcol)
        return Array(a._base, a.shape, newv)
    md = mask.df.withColumnRenamed(VALUE_COL, "__m")
    d = a.df.join(md, on=a.index_cols, how="left")
    if isinstance(value, Array):
        vd = value.df.withColumnRenamed(VALUE_COL, "__nv")
        d = d.join(vd, on=a.index_cols, how="left")
        newv = F.when(F.coalesce(F.col("__m"), F.lit(False)), F.col("__nv")).otherwise(
            F.col(VALUE_COL)
        )
    else:
        newv = F.when(F.coalesce(F.col("__m"), F.lit(False)), F.lit(value)).otherwise(
            F.col(VALUE_COL)
        )
    return Array(d.select(*a.index_cols, newv.alias(VALUE_COL)), a.shape)


def isin(a: Array, values, invert: bool = False) -> Array:
    """Membership (reference routines/_search.py:101): a left semi/anti
    join when `values` is distributed, or an IN-list when literal."""
    if isinstance(values, Array):
        vd = values.df.select(F.col(VALUE_COL).alias("__sv")).distinct()
        j = a.df.join(
            F.broadcast(vd),
            on=F.col(VALUE_COL) == F.col("__sv"),
            how="left",
        )
        m = F.col("__sv").isNotNull()
        if invert:
            m = ~m
        return Array(j.select(*a.index_cols, m.alias(VALUE_COL)), a.shape)
    lit = [v for v in values]
    m = F.col(VALUE_COL).isin(lit)
    if invert:
        m = ~m
    return Array(a.df.select(*a.index_cols, m.alias(VALUE_COL)), a.shape)


def searchsorted(a_sorted: Array, values: Array, side: str = "left") -> Array:
    """For each v, insertion point into sorted 1-D `a_sorted`
    (reference routines/_search.py:20) == a range join: count of
    boundary elements strictly below (or <=) v.  Expressed as a
    non-equi join + count aggregate; Spark compiles it to a broadcast
    nested loop when the boundary array is small (the common case)."""
    bd = a_sorted.df.select(F.col(VALUE_COL).alias("__b"))
    vv = values.df
    if side == "left":
        cond = F.col("__b") < F.col(VALUE_COL)
    else:
        cond = F.col("__b") <= F.col(VALUE_COL)
    j = vv.join(F.broadcast(bd), on=cond, how="left")
    out = j.groupBy(*values.index_cols).agg(
        F.count(F.col("__b")).cast("long").alias(VALUE_COL)
    )
    return Array(out.select(*values.index_cols, VALUE_COL), values.shape)


def push_index(a: Array) -> DataFrame:
    """Expose index+value rows (argwhere/nonzero style,
    reference routines/_nonzero.py:23-66)."""
    return a.df.filter(F.col(VALUE_COL).cast("double") != 0).select(*a.index_cols)


def extract(cond: Array, a: Array) -> Array:
    """np.extract == flattened boolean mask selection (reference
    routines/_select.py:49)."""
    return boolean_mask(a, cond)


def nonzero(a: Array, compact: bool = False):
    """Coordinate arrays of nonzero cells (reference
    routines/_nonzero.py:23): one filter + index projections.  Each
    output is a 1-D array keyed by the C-order flat position of the
    cell (monotone, gapped -- the shuffle-free convention shared with
    boolean_mask); values are that cell's coordinate on axis k.
    ``compact=True`` re-ranks to dense 0..k-1 NumPy positions via the
    scalable two-pass rank (sources/ingest.with_dense_index -- a range
    exchange + local sorts, no single-partition window); use it when
    the result feeds positional consumers or ``compute()``."""
    d = a.df.filter((F.col(VALUE_COL) != 0) & F.col(VALUE_COL).isNotNull())
    flat = F.lit(0).cast("long")
    mul = 1
    strides = []
    for s in reversed(a.shape):
        strides.append(mul)
        mul *= s if s else 1
    for k, st in enumerate(reversed(strides)):
        flat = flat + F.col(f"i{k}") * F.lit(st)
    if compact:
        from ..sources.ingest import with_dense_index

        base = with_dense_index(
            d.select(flat.alias("__f"), *[F.col(f"i{k}") for k in range(a.ndim)]),
            ["__f"],
            "__r",
        )
        return tuple(
            Array(
                base.select(F.col("__r").alias("i0"), F.col(f"i{k}").alias(VALUE_COL)),
                (None,),
            )
            for k in range(a.ndim)
        )
    outs = []
    for k in range(a.ndim):
        outs.append(
            Array(d.select(flat.alias("__f"), F.col(f"i{k}")).select(
                F.col("__f").alias("i0"), F.col(f"i{k}").alias(VALUE_COL)
            ), (None,))
        )
    return tuple(outs)


def argwhere(a: Array) -> "DataFrame":
    """Coordinates of nonzero cells as rows (reference
    routines/_nonzero.py argwhere); returned as a DataFrame of index
    columns -- a dense (k, ndim) array would need a global rank."""
    return a.df.filter(
        (F.col(VALUE_COL) != 0) & F.col(VALUE_COL).isNotNull()
    ).select(*a.index_cols)
