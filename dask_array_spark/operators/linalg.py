"""Linear algebra / contraction: join + aggregate workloads.

Parity: tensordot/matmul
(/root/reference/dask_array/linalg/_tensordot.py:45,194), einsum
(_einsum.py:181), outer (routines/_outer.py:6), norm
(linalg/_norm.py:13), TSQR qr/svd (linalg/_qr.py:38, _svd.py:19),
trace (reductions/_trace.py:4), cov/corrcoef
(routines/_statistics.py:67,164).

The classic SQL matmul: ``A JOIN B ON a.k = b.k`` then
``GROUP BY i, j SUM(a.v * b.v)`` -- one shuffle on the contracted
index, partial aggregation map-side, AQE picks broadcast vs
sort-merge by runtime sizes.  This is exactly the reference's
blockwise-outer-product + tree-sum lowering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.array import VALUE_COL, Array
from ..session import local_frame

__all__ = [
    "matmul",
    "tensordot",
    "einsum",
    "outer",
    "norm",
    "trace",
    "vdot",
    "cov_pair",
    "corr_pair",
    "cov",
    "corrcoef",
    "tsqr",
    "svd_tall",
    "svd_compressed",
    "lstsq",
    "solve",
    "inv",
    "cholesky",
    "lu",
    "solve_triangular",
]


def einsum(spec: str, *operands: Array) -> Array:
    """General Einstein summation lowered to a chain of equi-joins on
    shared labels + one grouped sum (reference _einsum.py:181, which
    lowers to blockwise outer products + tree sums; here the join+agg
    IS that plan and AQE picks broadcast vs shuffle per pair).

    Supports repeated labels within one operand (diagonal -- an index
    equality filter), implicit output (labels occurring exactly once,
    sorted), and any number of operands.  Cell sparsity is safe for
    products: a missing cell is an implicit zero and inner joins drop
    exactly the zero terms of the sum.
    """
    from collections import Counter

    spec = spec.replace(" ", "")
    if "->" in spec:
        ins, out_labels = spec.split("->")
    else:
        ins = spec
        cnt = Counter(c for part in spec.split(",") for c in part)
        out_labels = "".join(sorted(c for c, n in cnt.items() if n == 1))
    in_specs = ins.split(",")
    if len(in_specs) != len(operands):
        raise ValueError(f"{len(in_specs)} specs but {len(operands)} operands")

    # FUSE operands that share a base AND a label spec: their product
    # is a single projection over that base (x*x in 'ij,ij->i' needs
    # no self-join -- the FusedBlockwise analogue).  Spark cannot spot
    # this across the join because the two branches alias differently.
    fused: list[tuple[str, Array]] = []
    by_key: dict[tuple[int, str], int] = {}
    for labels, arr in zip(in_specs, operands):
        key = (id(arr._base), labels)
        if key in by_key:
            prev_labels, prev = fused[by_key[key]]
            merged = Array(
                prev._base, prev.shape, prev._vcol * arr._vcol
            )
            fused[by_key[key]] = (prev_labels, merged)
        else:
            by_key[key] = len(fused)
            fused.append((labels, arr))
    in_specs = [t[0] for t in fused]
    operands = tuple(t[1] for t in fused)

    sizes: dict[str, int | None] = {}

    def frame(labels: str, arr: Array, tag: str):
        """(df with columns <tag>_<label> + __v, set-of-labels)."""
        if len(labels) != arr.ndim:
            raise ValueError(f"spec {labels!r} does not match ndim {arr.ndim}")
        first: dict[str, int] = {}
        cond = None
        for k, lab in enumerate(labels):
            sizes.setdefault(lab, arr.shape[k])
            if lab in first:  # diagonal: i_k == i_first
                c = F.col(f"i{k}") == F.col(f"i{first[lab]}")
                cond = c if cond is None else (cond & c)
            else:
                first[lab] = k
        d = arr.df
        if cond is not None:
            d = d.filter(cond)
        sel = [F.col(f"i{k}").alias(f"{tag}_{lab}") for lab, k in first.items()]
        sel.append(F.col(VALUE_COL).alias("__v"))
        return d.select(*sel), set(first)

    cur, cur_labels = frame(in_specs[0], operands[0], "L")
    cur = cur.withColumnRenamed("__v", "__p")
    for t in range(1, len(operands)):
        nxt, nxt_labels = frame(in_specs[t], operands[t], "R")
        shared = sorted(cur_labels & nxt_labels)
        if shared:
            cond = None
            for lab in shared:
                c = F.col(f"L_{lab}") == F.col(f"R_{lab}")
                cond = c if cond is None else (cond & c)
            j = cur.join(nxt, on=cond, how="inner")
        else:
            j = cur.crossJoin(nxt)
        keep = [F.col(f"L_{lab}").alias(f"L_{lab}") for lab in sorted(cur_labels)]
        keep += [
            F.col(f"R_{lab}").alias(f"L_{lab}")
            for lab in sorted(nxt_labels - cur_labels)
        ]
        keep.append((F.col("__p") * F.col("__v")).alias("__p"))
        cur = j.select(*keep)
        cur_labels |= nxt_labels

    names = [f"i{k}" for k in range(len(out_labels))]
    if out_labels:
        agg = cur.groupBy(
            *[F.col(f"L_{lab}").alias(n) for lab, n in zip(out_labels, names)]
        ).agg(F.sum("__p").alias(VALUE_COL))
        out_df = agg.select(*names, VALUE_COL)
    else:
        out_df = cur.agg(F.sum("__p").alias(VALUE_COL))
    shape = tuple(sizes[lab] for lab in out_labels)
    return Array(out_df, shape)



def matmul(a: Array, b: Array) -> Array:
    """2-D @ 2-D (and 1-D promotions) via join+agg."""
    if a.ndim == 1:
        from .manipulation import expand_dims

        return matmul(expand_dims(a, 0), b)[0]
    if b.ndim == 1:
        from .manipulation import expand_dims

        out = matmul(a, expand_dims(b, 1))
        return out[:, 0]
    return tensordot(a, b, axes=([a.ndim - 1], [0]))


def tensordot(a: Array, b: Array, axes=2) -> Array:
    """General contraction over paired axes (reference
    linalg/_tensordot.py:45)."""
    if isinstance(axes, int):
        ax_a = list(range(a.ndim - axes, a.ndim))
        ax_b = list(range(axes))
    else:
        ax_a = [ax % a.ndim for ax in axes[0]]
        ax_b = [ax % b.ndim for ax in axes[1]]
    keep_a = [k for k in range(a.ndim) if k not in ax_a]
    keep_b = [k for k in range(b.ndim) if k not in ax_b]

    da = a.df.select(
        *[F.col(f"i{k}").alias(f"a{k}") for k in keep_a],
        *[F.col(f"i{k}").alias(f"k{j}") for j, k in enumerate(ax_a)],
        F.col(VALUE_COL).alias("__va"),
    )
    db = b.df.select(
        *[F.col(f"i{k}").alias(f"b{k}") for k in keep_b],
        *[F.col(f"i{k}").alias(f"k{j}") for j, k in enumerate(ax_b)],
        F.col(VALUE_COL).alias("__vb"),
    )
    kcols = [f"k{j}" for j in range(len(ax_a))]
    j = da.join(db, on=kcols, how="inner")
    out_idx = [F.col(f"a{k}") for k in keep_a] + [F.col(f"b{k}") for k in keep_b]
    names = [f"i{x}" for x in range(len(out_idx))]
    agg = j.groupBy(*[c.alias(n) for c, n in zip(out_idx, names)]).agg(
        F.sum(F.col("__va") * F.col("__vb")).alias(VALUE_COL)
    )
    shape = tuple(a.shape[k] for k in keep_a) + tuple(b.shape[k] for k in keep_b)
    # the groupBy's aliased keys already yield (i0.., v) in order --
    # re-selecting them was one more full-plan analysis pass on the
    # driver per construction (optimization round 14)
    return Array(agg, shape)


def vdot(a: Array, b: Array) -> Array:
    return tensordot(a, b, axes=([0], [0])) if a.ndim == 1 else tensordot(a.ravel(), b.ravel(), axes=([0], [0]))


def outer(a: Array, b: Array) -> Array:
    """Outer product == CROSS JOIN + multiply (reference
    routines/_outer.py:6)."""
    da = a.df.select(F.col("i0").alias("i0"), F.col(VALUE_COL).alias("__va"))
    db = b.df.select(F.col("i0").alias("i1"), F.col(VALUE_COL).alias("__vb"))
    d = da.crossJoin(db).select(
        "i0", "i1", (F.col("__va") * F.col("__vb")).alias(VALUE_COL)
    )
    return Array(d, (a.shape[0], b.shape[0]))


def trace(a: Array, offset: int = 0) -> Array:
    """Sum of diagonal (reference reductions/_trace.py:4)."""
    d = a.df.filter(F.col("i1") == F.col("i0") + F.lit(offset)).agg(
        F.sum(F.col(VALUE_COL)).alias(VALUE_COL)
    )
    return Array(d, ())


def norm(a: Array, ord=None) -> Array:
    """np.linalg.norm parity (reference linalg/_norm.py:13): Frobenius
    and the full vector-p family as pure reductions; matrix 1/±inf as
    an axis reduction + max/min; matrix ±2/'nuc' through the TSQR thin
    SVD (the k x k R factor is in-core by design, the corpus is not)."""
    from . import reductions as R

    inf = float("inf")
    if ord is None or ord == "fro" or (ord == 2 and a.ndim == 1):
        return R.sum(a._unary(lambda c: c * c), axis=None)._unary(F.sqrt)
    if a.ndim == 1:
        if ord == inf:
            return R.amax(a._unary(F.abs), axis=None)
        if ord == -inf:
            return R.amin(a._unary(F.abs), axis=None)
        if ord == 0:
            return R.sum(a._unary(lambda c: (c != 0).cast("double")), axis=None)
        if isinstance(ord, (int, float)):
            p = float(ord)
            s = R.sum(a._unary(lambda c: F.pow(F.abs(c), F.lit(p))), axis=None)
            return s._unary(lambda c: F.pow(c, F.lit(1.0 / p)))
    if a.ndim == 2:
        if ord in (1, -1):
            colsums = R.sum(a._unary(F.abs), axis=0)
            return (R.amax if ord == 1 else R.amin)(colsums, axis=None)
        if ord in (inf, -inf):
            rowsums = R.sum(a._unary(F.abs), axis=1)
            return (R.amax if ord == inf else R.amin)(rowsums, axis=None)
        if ord in (2, -2, "nuc"):
            from .manipulation import transpose as _t

            m, n = a.shape
            mat = _t(a) if (m is not None and n is not None and n > m) else a
            s = svd_tall(mat)[1]  # singular values of A == those of A^T
            val = {2: s.max(), -2: s.min(), "nuc": s.sum()}[ord]
            d = a.spark.range(1).select(F.lit(float(val)).alias(VALUE_COL))
            return Array(d.select(VALUE_COL), ())
    raise ValueError(f"unsupported ord {ord!r} for ndim {a.ndim}")


def cov_pair(x: Array, y: Array, ddof: int = 1) -> Array:
    """Covariance of two aligned 1-D arrays via Spark's native
    covariance aggregate after an index join (reference matmul-based
    cov, routines/_statistics.py:67)."""
    dy = y.df.withColumnRenamed(VALUE_COL, "__y")
    d = x.df.join(dy, on="i0", how="inner")
    agg = F.covar_samp(F.col(VALUE_COL), F.col("__y")) if ddof == 1 else F.covar_pop(F.col(VALUE_COL), F.col("__y"))
    return Array(d.agg(agg.alias(VALUE_COL)), ())


def corr_pair(x: Array, y: Array) -> Array:
    dy = y.df.withColumnRenamed(VALUE_COL, "__y")
    d = x.df.join(dy, on="i0", how="inner")
    return Array(d.agg(F.corr(F.col(VALUE_COL), F.col("__y")).alias(VALUE_COL)), ())


def cov(m: Array, y: Array | None = None, rowvar: bool = True, bias: bool = False, ddof: int | None = None) -> Array:
    """Full covariance MATRIX via the distributed contraction
    (reference routines/_statistics.py:67: center rows, then
    c = X_c @ X_c^T / fact).  Variables are rows when ``rowvar``
    (the NumPy convention); the sample axis never leaves the
    executors -- only the k x k output is small."""
    from . import manipulation as M
    from . import reductions as R

    if ddof is None:
        ddof = 0 if bias else 1
    squeeze = m.ndim == 1 and y is None
    if m.ndim == 1:
        m = M.expand_dims(m, 0)  # ndmin=2 promotion, like the reference
    X = m if rowvar else M.transpose(m)
    if y is not None:
        if y.ndim == 1:
            y = M.expand_dims(y, 0)
        Y = y if rowvar else M.transpose(y)
        X = M.concatenate([X, Y], axis=0)
    k, nsamp = X.shape
    avg = R.mean(X, axis=1)  # (k,)
    centered = X - M.expand_dims(avg, 1)
    c = matmul(centered, M.transpose(centered))
    fact = max(nsamp - ddof, 0)
    if fact == 0:
        import warnings

        warnings.warn("Degrees of freedom <= 0 for slice", RuntimeWarning)
        c = c._unary(lambda col: col * F.lit(float("nan")))
    else:
        c = c._unary(lambda col: col / F.lit(float(fact)))
    if squeeze:
        return Array(c.df.select(F.col(VALUE_COL)), ())
    return c


def corrcoef(x: Array, y: Array | None = None, rowvar: bool = True) -> Array:
    """Pearson correlation MATRIX: cov normalized by the outer product
    of the diagonal's square roots (reference
    routines/_statistics.py:164)."""
    c = cov(x, y, rowvar)
    if c.shape == ():
        return c / c
    c = Array(c.df.persist(), c.shape)  # diag + normalize both consume c
    k = c.shape[0]
    d = Array(
        c.df.filter(F.col("i1") == F.col("i0")).select(
            "i0", F.sqrt(F.col(VALUE_COL)).alias(VALUE_COL)
        ),
        (k,),
    )
    denom = outer(d, d)
    return c / denom


def tsqr(a: Array, block_rows: int = 10000, fanin: int = 16):
    """Tall-skinny QR (Benson et al.; reference linalg/_qr.py:38-560):

    1. group rows into row-blocks (i0 DIV block_rows),
    2. per-block in-core ``numpy.linalg.qr`` via applyInPandas
       (block form -- the narrow R factors, k x k each, are tiny),
    3. LOG-DEPTH TREE MERGE of the R factors: repeatedly group
       ``fanin`` sibling blocks (``__blk DIV fanin``), stack their Rs
       and re-QR distributed via applyInPandas (the reference's
       recursive merge, linalg/_qr.py:38-560) until at most ``fanin``
       factors remain; only that final <= fanin*k x k stack reaches
       the driver -- never O(nblocks) rows,
    4. Q = A @ R^{-1} computed distributed (broadcast R^{-1}, join+agg).

    Returns (q: Array, r: numpy.ndarray).  Deterministic up to sign;
    columns are sign-normalized (diag(R) >= 0) like the reference's
    tests do.
    """
    import math

    import numpy as np
    import pandas as pd

    n, k = a.shape
    d = a.df.withColumn("__blk", F.floor(F.col("i0") / F.lit(block_rows)).cast("long"))

    def block_r(pdf: pd.DataFrame) -> pd.DataFrame:
        blk = int(pdf["__blk"].iloc[0])
        i0 = pdf["i0"].to_numpy(dtype="int64")
        rows, inv = np.unique(i0, return_inverse=True)
        mat = np.zeros((len(rows), k))
        mat[inv, pdf["i1"].to_numpy(dtype="int64")] = pd.to_numeric(
            pdf[VALUE_COL]
        ).to_numpy(dtype="float64")
        r = np.linalg.qr(mat, mode="r")
        m = min(r.shape[0], k)
        ri, rj = np.meshgrid(np.arange(m), np.arange(k), indexing="ij")
        return pd.DataFrame(
            {
                "__blk": blk,
                "ri": ri.reshape(-1),
                "rj": rj.reshape(-1),
                "rv": r[:m, :k].reshape(-1),
            }
        )

    rdf = d.groupBy("__blk").applyInPandas(
        block_r, schema="__blk long, ri long, rj long, rv double"
    )

    def _stack(pdf: pd.DataFrame, blk_col: str) -> "np.ndarray":
        """Vectorized scatter of (blk, ri, rj, rv) R-factor cells into
        one dense stack; sub-blocks with fewer than k rows leave zero
        rows behind, which QR ignores."""
        subs = np.sort(pdf[blk_col].unique())
        order = pd.Series(np.arange(len(subs)), index=subs)
        rows = order[pdf[blk_col]].to_numpy() * k + pdf["ri"].to_numpy(dtype="int64")
        mat = np.zeros((len(subs) * k, k))
        mat[rows, pdf["rj"].to_numpy(dtype="int64")] = pd.to_numeric(
            pdf["rv"]
        ).to_numpy(dtype="float64")
        return mat

    def merge_r(pdf: pd.DataFrame) -> pd.DataFrame:
        blk = int(pdf["__blk"].iloc[0])
        r = np.linalg.qr(_stack(pdf, "__sub"), mode="r")[:k, :k]
        ri, rj = np.meshgrid(np.arange(k), np.arange(k), indexing="ij")
        return pd.DataFrame(
            {"__blk": blk, "ri": ri.reshape(-1), "rj": rj.reshape(-1), "rv": r.reshape(-1)}
        )

    if n is not None:
        nblocks = max(1, math.ceil(n / block_rows))
    else:
        # unknown row count: persist the (tiny) R-factor frame once and
        # ask it -- the action also materializes it for the merge levels
        rdf = rdf.persist()
        nblocks = int(rdf.agg(F.max("__blk")).first()[0]) + 1
    while nblocks > fanin:
        rdf = (
            rdf.withColumn("__sub", F.col("__blk") % fanin)
            .withColumn("__blk", F.floor(F.col("__blk") / fanin).cast("long"))
            .groupBy("__blk")
            .applyInPandas(merge_r, schema="__blk long, ri long, rj long, rv double")
        )
        nblocks = math.ceil(nblocks / fanin)

    rlocal = rdf.toPandas()
    r_final = np.linalg.qr(_stack(rlocal, "__blk"), mode="r")[:k, :k]
    # sign-normalize: make diag(R) >= 0
    signs = np.sign(np.diag(r_final))
    signs[signs == 0] = 1.0
    r_final = r_final * signs[:, None]
    rinv = np.linalg.inv(r_final)
    spark = a.spark
    rinv_rows = [(int(i), int(j), float(rinv[i, j])) for i in range(k) for j in range(k)]
    rinv_df = local_frame(spark, rinv_rows, "ri long, rj long, rv double")
    # Q = A @ R^-1 : join on a.i1 == rinv.ri, group by (i0, rj)
    q = (
        a.df.join(F.broadcast(rinv_df), on=F.col("i1") == F.col("ri"), how="inner")
        .groupBy(F.col("i0"), F.col("rj").alias("i1"))
        .agg(F.sum(F.col(VALUE_COL) * F.col("rv")).alias(VALUE_COL))
        .select("i0", "i1", VALUE_COL)
    )
    return Array(q, (n, k)), r_final


def sfqr(a: Array, max_rows: int = 4096):
    """Direct short-and-fat QR (reference linalg/_qr.py:529): for a
    matrix with few rows and many columns, Q [R_1 R_2 ...] =
    [A_1 A_2 ...].

    Q (m x m, tiny by the short-fat premise) comes from an in-core QR
    of the leading m x m column block -- the same Q Householder
    produces after eliminating the first m columns when that block has
    full column rank, which is the reference's contract too (it QRs
    the first chunk, whose width must be >= m).  The wide remainder
    R = Q^T A is computed DISTRIBUTED as a broadcast join+agg over the
    column-partitioned bulk; the n-wide side never gathers.  Returns
    (q: numpy.ndarray (m x m), r: Array (m x n)); sign-normalized so
    diag(R) >= 0, matching tsqr.  ``max_rows`` gates the in-core m x m
    factor (above it, neither orientation is thin and blocked methods
    apply)."""
    import numpy as np

    m, n = a.shape
    if m is None:
        raise ValueError("sfqr needs a known row count")
    if m > max_rows:
        raise ValueError(
            f"sfqr in-core Q factor would be {m}x{m} (> max_rows="
            f"{max_rows}); sfqr is for short-fat matrices"
        )
    head = _collect_dense(a[:, :m])  # m x m, dense, absent cells = 0
    q_np = np.linalg.qr(head, mode="reduced")[0]  # m x m
    # sign-normalize via diag(R) of the head factor
    r_head = q_np.T @ head
    signs = np.sign(np.diag(r_head))
    signs[signs == 0] = 1.0
    q_np = q_np * signs[None, :]
    spark = a.spark
    qt_rows = [
        (int(i), int(j), float(q_np[i, j])) for i in range(m) for j in range(m)
    ]
    qt_df = local_frame(spark, qt_rows, "ri long, rj long, rv double")
    # R = Q^T A : join Q rows (ri) against A rows (i0), group by (rj, i1)
    r = (
        a.df.join(F.broadcast(qt_df), on=F.col("i0") == F.col("ri"), how="inner")
        .groupBy(F.col("rj").alias("__i0"), F.col("i1"))
        .agg(F.sum(F.col(VALUE_COL) * F.col("rv")).alias(VALUE_COL))
        .select(F.col("__i0").alias("i0"), "i1", VALUE_COL)
    )
    return q_np, Array(r, (m, n))


def qr(a: Array, block_rows: int = 10000):
    """QR dispatch (reference linalg/_qr.py:560): tall-or-square
    inputs route to the distributed TSQR tree merge; short-and-fat
    inputs (more columns than rows) route to the direct sfqr.  The
    reference dispatches on block structure (single column chunk ->
    tsqr, single row chunk -> sfqr); here partitioning is Catalyst's,
    so the logical aspect ratio decides.  Returns (q, r) where the
    corpus-sized factor is an Array and the small factor an ndarray:
    tall -> (q: Array, r: ndarray), short-fat -> (q: ndarray,
    r: Array)."""
    m, n = a.shape
    if m is not None and n is not None and n > m:
        return sfqr(a)
    return tsqr(a, block_rows=block_rows)


def svd_tall(a: Array, block_rows: int = 10000):
    """TSQR-based thin SVD for tall-skinny matrices (reference
    linalg/_svd.py:19-229): A = QR (distributed TSQR), R = U_r S V^T
    in-core (R is k x k, tiny), U = Q @ U_r distributed via a
    broadcast join+agg.  Returns (u: Array, s: ndarray, vt: ndarray).
    Deterministic up to sign; normalized so each row of V^T has a
    non-negative max-magnitude leading entry."""
    import numpy as np

    n, k = a.shape
    q, r = tsqr(a, block_rows=block_rows)
    u_r, s, vt = np.linalg.svd(r)
    # sign-normalize columns of u_r (and rows of vt) for determinism
    lead = np.argmax(np.abs(u_r), axis=0)
    signs = np.sign(u_r[lead, np.arange(u_r.shape[1])])
    signs[signs == 0] = 1.0
    u_r = u_r * signs
    vt = vt * signs[:, None]
    spark = a.spark
    ur_rows = [
        (int(i), int(j), float(u_r[i, j]))
        for i in range(u_r.shape[0])
        for j in range(u_r.shape[1])
    ]
    ur_df = local_frame(spark, ur_rows, "ri long, rj long, rv double")
    u = (
        q.df.join(F.broadcast(ur_df), on=F.col("i1") == F.col("ri"), how="inner")
        .groupBy(F.col("i0"), F.col("rj").alias("i1"))
        .agg(F.sum(F.col(VALUE_COL) * F.col("rv")).alias(VALUE_COL))
        .select("i0", "i1", VALUE_COL)
    )
    return Array(u, (n, k)), s, vt


_INCORE_CELL_LIMIT = 10_000_000


def svd_compressed(
    a: Array,
    k: int,
    n_oversample: int = 10,
    n_power_iter: int = 1,
    seed: int = 0,
    block_rows: int = 10000,
):
    """Randomized (compressed) SVD for large matrices (reference
    linalg/_svd.py:19-229 svd_compressed; Halko-Martinsson-Tropp):

    1. Y = A @ Omega with a seeded Gaussian test matrix Omega
       (m x (k+p), broadcast -- tiny),
    2. optional power iterations Y <- A @ (A^T @ Y) sharpen the
       spectrum (each is two distributed join+agg contractions),
    3. orthonormalize the sketch via its GRAM matrix: G = Y^T Y (l x l,
       distributed contraction) eigendecomposed in-core with
       RANK TRUNCATION (eigenvalues below eps * max drop), giving
       Q = Y T with T = V diag(lam)^{-1/2} -- robust when the sketch
       is rank-deficient (an exactly low-rank A), where the A @ R^{-1}
       TSQR route would divide by a singular R,
    4. B = Q^T @ A = T^T (Y^T A) with Y^T A an l x m distributed
       contraction; SVD of the small B in-core,
    5. U = Y @ (T U_b) -- ONE distributed broadcast multiply.

    Returns (u: Array (n x k'), s: ndarray (k',), vt: ndarray
    (k', m)) with k' = min(k, numerical rank).  The n-row corpus
    never concentrates anywhere; only l x l / l x m matrices reach
    the driver."""
    import numpy as np

    n, m = a.shape
    if m is None:
        raise ValueError("svd_compressed needs a known column count")
    l = min(k + n_oversample, m)
    omega = _distribute(
        a.spark, np.random.default_rng(seed).normal(size=(m, l))
    )
    y = tensordot(a, omega, axes=([1], [0]))  # (n, l)
    for _ in range(n_power_iter):
        z = tensordot(a, y, axes=([0], [0]))  # A^T Y  (m, l)
        y = tensordot(a, z, axes=([1], [0]))  # A Z    (n, l)
    y = Array(y.df.persist(), (n, l))  # fan-out: G, W, and U consume Y
    g = _collect_dense(Array(tensordot(y, y, axes=([0], [0])).df, (l, l)))
    w = _collect_dense(Array(tensordot(y, a, axes=([0], [0])).df, (l, m)))
    lam, vecs = np.linalg.eigh(g)  # ascending
    keep = lam > max(lam.max(), 0.0) * 1e-10
    lam, vecs = lam[keep][::-1], vecs[:, keep][:, ::-1]
    t_mat = vecs / np.sqrt(lam)  # (l, r): Q = Y @ T orthonormal
    b = t_mat.T @ w  # (r, m)
    u_b, s, vt = np.linalg.svd(b, full_matrices=False)
    kk = min(k, u_b.shape[1])
    # deterministic signs: leading max-magnitude entry of each vt row >= 0
    lead = np.argmax(np.abs(vt), axis=1)
    signs = np.sign(vt[np.arange(vt.shape[0]), lead])
    signs[signs == 0] = 1.0
    vt = vt * signs[:, None]
    u_b = u_b * signs
    c_mat = t_mat @ u_b[:, :kk]  # (l, kk): U = Y @ C
    spark = a.spark
    c_rows = [
        (int(i), int(j), float(c_mat[i, j])) for i in range(l) for j in range(kk)
    ]
    c_df = local_frame(spark, c_rows, "ri long, rj long, rv double")
    u = (
        y.df.join(F.broadcast(c_df), on=F.col("i1") == F.col("ri"), how="inner")
        .groupBy(F.col("i0"), F.col("rj").alias("i1"))
        .agg(F.sum(F.col(VALUE_COL) * F.col("rv")).alias(VALUE_COL))
        .select("i0", "i1", VALUE_COL)
    )
    return Array(u, (n, kk)), s[:kk], vt[:kk]


def _collect_dense(a: Array):
    """Small k x k array -> driver ndarray (absent cells = 0).

    Guarded: the in-core tier (solve/inv/cholesky/lu) is for modest
    contraction outputs; anything bigger must stay distributed
    (tsqr/lstsq/svd_tall), so collecting above the cell limit raises
    instead of silently OOMing the driver."""
    import math

    if all(s is not None for s in a.shape):
        ncells = math.prod(a.shape) if a.shape else 1
        if ncells > _INCORE_CELL_LIMIT:
            raise ValueError(
                f"in-core linalg tier got {ncells} cells (> "
                f"{_INCORE_CELL_LIMIT}); use the distributed paths "
                "(tsqr/lstsq/svd_tall) for large operands"
            )
    return a.compute()


def _distribute(spark, mat, npartitions: int | None = None) -> Array:
    from ..sources.ingest import from_numpy

    return from_numpy(spark, mat, npartitions)


def lstsq(a: Array, b: Array, block_rows: int = 10000):
    """Distributed least squares via TSQR (reference linalg/_solve.py
    lstsq path, linalg/_qr.py:38): A = QR, x = R^{-1} (Q^T b).  The
    n x k corpus never leaves the executors; only the k x k R and the
    k-vector Q^T b hit the driver.  Returns (x: ndarray, residual
    sum-of-squares: float)."""
    import numpy as np

    n, k = a.shape
    q, r = tsqr(a, block_rows=block_rows)
    qtb = tensordot(q, b, axes=([0], [0]))  # (k,)
    qtb_np = qtb.compute()
    x = np.linalg.solve(r, qtb_np)
    bsq = b._unary(lambda c: c * c)
    from . import reductions as R

    btb = float(R.nansum(bsq, axis=None).compute())
    rss = max(btb - float(qtb_np @ qtb_np), 0.0)
    return x, rss


def solve(a: Array, b: Array, assume_a: str = "gen") -> Array:
    """Solve A x = b through the DISTRIBUTED blocked wavefront
    (reference linalg/_solve.py:163-224): blocked LU for ``gen``,
    blocked Cholesky for ``pos``, then two blocked substitutions.  All
    level-3 work runs on executors; nothing matrix-sized reaches the
    driver."""
    from .linalg_blocked import solve_blocked

    return solve_blocked(a, b, assume_a=assume_a)


def inv(a: Array) -> Array:
    """Matrix inverse == blocked solve vs a distributed identity RHS
    (reference linalg/_solve.py inv)."""
    from .linalg_blocked import inv_blocked

    return inv_blocked(a)


def cholesky(a: Array, nb: int | None = None) -> Array:
    """Lower-triangular Cholesky factor via the distributed blocked
    wavefront (reference linalg/_cholesky.py:27-214).  Sparse cell
    form: only lower-triangle cells are emitted."""
    from .linalg_blocked import cholesky_blocked

    return cholesky_blocked(a, nb)


def lu(a: Array, nb: int | None = None):
    """Blocked LU with tile-local partial pivoting (reference
    linalg/_lu.py:27-265).  Returns (p, l, u) Arrays with
    P @ A = L @ U and P block-diagonal, matching the reference's
    within-block pivoting semantics."""
    from .linalg_blocked import lu_blocked

    return lu_blocked(a, nb)


def solve_triangular(l_mat, b, lower: bool = True):
    """Forward/back substitution.  Array inputs route to the blocked
    distributed substitution (reference linalg/_solve.py
    solve_triangular); ndarray inputs keep the in-core helper form for
    driver-side factor outputs."""
    if isinstance(l_mat, Array):
        from .linalg_blocked import solve_triangular_blocked

        return solve_triangular_blocked(l_mat, b, lower=lower)
    import numpy as np

    n = l_mat.shape[0]
    x = np.zeros(n)
    rng = range(n) if lower else range(n - 1, -1, -1)
    for i in rng:
        s = l_mat[i, :i] @ x[:i] if lower else l_mat[i, i + 1 :] @ x[i + 1 :]
        x[i] = (b[i] - s) / l_mat[i, i]
    return x
