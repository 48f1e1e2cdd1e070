"""Similarity search over embedding columns (array<float>).

Serving paths (SURVEY.md section 7 M6):
- brute-force cosine top-k: correctness baseline, two bit-identical
  forms behind ``impl=`` -- a fully-lazy relational scan (in-row
  zip_with/aggregate dot against the broadcast query side, per-query
  rank window) and a batched NumPy ``mapInArrow`` kernel that
  threshold-prunes per batch and feeds the same window.  ``"auto"``
  picks by measured pair work (SCALE.md round 12).  Either way the
  corpus streams through one scan and never moves at 100 TB.
- LSH sign-bucket partitioning: integer hyperplanes bucket vectors so
  candidate generation joins only within buckets (the ANN scale path),
  plus the IVF / PQ / SQ8 index tiers below.

Vector norms are computed INLINE with ``F.aggregate`` over the array
column in the same row as the vector itself -- there is no per-vector
norms table and therefore no corpus-sized join or broadcast anywhere
(only genuinely tiny sides -- the query set, the centroid codebook,
the probe list -- carry broadcast hints).  tests/test_plans.py pins
this: no plan below may contain a broadcast of a per-vector table,
and the arrow scan shape has its own pin.

The posexplode + join + sum dot formulation survives only in the
DuckDB oracle replicas (unnest + generate_subscripts); 6-decimal
rounding absorbs float-sum association differences.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import DEFAULT_MAX_BUCKET

__all__ = [
    "cosine_topk",
    "lsh_sign_bucket",
    "cosine_pairs_bucketed",
    "ivf_assign",
    "ivf_write_index",
    "ivf_read_index",
    "pq_write_index",
    "pq_read_index",
    "sq8_write_index",
    "sq8_read_index",
    "ivf_topk",
    "ann_recall",
    "semantic_dedup",
    "kmeans_fit",
    "kmeans_assign",
    "pq_train",
    "pq_encode",
    "pq_pack",
    "pq_topk",
    "ivf_pq_topk",
    "sq8_encode",
    "sq8_topk",
    "ivf_sq8_topk",
]


def _norm_col():
    """sqrt(sum(e^2)) over the embedding array, computed in-row (no
    explode, no join -- the scale-safe norm)."""
    return F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _exploded(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """One row per (vec, pos) carrying the vector's inline norm."""
    return df.select(
        F.col(id_col),
        _norm_col().alias("nrm"),
        F.posexplode("embedding").alias("pos", "e"),
    ).select(id_col, "nrm", "pos", F.col("e").cast("double").alias("e"))


# auto-routing threshold for the arrow serving kernels, in WORK bytes
# = Catalyst's corpus-size estimate x |query_ids| (the relational
# form's cost is the corpus-x-queries pair fan-out; the kernel's is
# one corpus scan + a fixed Python-worker launch).  Below the
# threshold the fully-LAZY relational form runs (no job at plan
# build, and the two forms are within measurement noise there);
# above it the batched NumPy scan wins outright.  Measured round 12
# (SCALE.md "arrow-vs-sql crossover", forensics/r12_arrow_crossover
# + r12_smallq_crossover): arrow reads 2.4-5.9x at ~20-25 MB-query
# of work (10k x 8q, 30k x 3q) rising to 110x at 100k x 64q, while
# at <= ~8 MB-query (2k x 3q, 10k x 3q) the forms are within ~15%
# of each other and the driver bench protocol favors the lazy sql
# form at its smallest slot.
_ARROW_AUTO_MIN_WORK_BYTES = 8 << 20
# per-query rows the ADC arrow kernel may keep per batch before
# per-batch bottom-keep pruning stops working (keep ~ batch rows ->
# the kernel emits ~corpus x queries rows and the Arrow->JVM transfer
# eats the scoring win -- measured round 12 at 600k x 64q: pure ADC
# (keep=10) arrow 1.4 s vs sql 8.6 s, but unthresholded rerank-grade
# keep=10,000 arrow 24.2 s vs sql 18.0 s).  Round 13: above this the
# kernel PRE-PRUNES with the exact per-query keep-th distance from
# one eager scan (`_adc_thresholds`) instead of falling back to the
# relational window, which total-sorts corpus x queries rows at
# rerank-grade keep (keep > Spark's window group-limit pushdown
# bound; measured the dominant cost of the whole +R pipeline at
# 600k x 256q -- SCALE.md round 13).
_ARROW_ADC_MAX_KEEP = 1024

# Row-block size for the ADC scoring fold: the (block, |q|) float64
# accumulator must stay L2-resident across the m subspace passes
# (2048 x 256 queries x 8 B = 4 MB; at small query batches smaller
# still).  Measured against the unblocked form in SCALE.md round 13.
_ADC_ROW_BLOCK = 2048


def _plan_stats_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate for ``df`` -- file
    bytes for scans, exact bytes for local relations.  Driver-side
    planning only, NO Spark job, so ``impl="auto"`` routing keeps
    DataFrame construction lazy.  None when stats are unavailable
    (the caller then assumes at-scale and picks the arrow kernel)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def _resolve_query_groups(emb: DataFrame, query_ids):
    """Resolve the query vectors for the arrow serving kernels and
    group them by vector length.  The collect here is the ONE
    sanctioned eager step on the arrow path (|query_ids| rows, whole
    vectors, never the corpus) and runs at plan-build time -- the
    documented laziness exception, pinned by test_plans.py
    (test_similarity_auto_small_corpus_stays_lazy).

    Per-query semantics mirror the SQL form exactly, so no query
    forces a silent fallback:
    - NULL / empty query embeddings are DROPPED: zip_with(x, NULL)
      folds to NULL and an empty fold yields a zero-norm NULL cosine,
      so the SQL form provably emits no rows for them;
    - a ragged query set is served per LENGTH GROUP: the SQL per-pair
      length predicate (zip_with pads the shorter side -> NULL fold)
      keeps only corpus rows of the query's own length, which is the
      kernel's per-group ``len == d`` filter.

    Returns [(d, qids, Q, qnrm), ...] or None when no query resolves
    to a usable vector (both forms then return an empty relation)."""
    import numpy as np

    qrows = (
        emb.filter(F.col("vec_id").isin(list(query_ids)))
        .select(F.col("vec_id").cast("long").alias("qid"), "embedding")
        .collect()  # bounded-model-collect: |query_ids| query vectors
    )
    by_len: dict[int, list] = {}
    for r in qrows:
        e = r["embedding"]
        if e is None or len(e) == 0:
            continue
        by_len.setdefault(len(e), []).append((r["qid"], e))
    if not by_len:
        return None
    groups = []
    for d, pairs in sorted(by_len.items()):
        qids = np.array([p[0] for p in pairs], dtype="int64")
        Q = np.array([p[1] for p in pairs], dtype="float64")  # (nq, d)
        qnrm = np.zeros(len(pairs))
        with np.errstate(all="ignore"):  # inf/NaN payloads mask later
            for j in range(d):
                qnrm += Q[:, j] * Q[:, j]
            groups.append((d, qids, Q, np.sqrt(qnrm)))
    return groups


def _cosine_topk_arrow(emb: DataFrame, query_ids: list[int], k: int):
    """Arrow scan for ``cosine_topk``: one mapInPandas-free
    mapInArrow pass emits, per query, every per-batch row whose
    cosine reaches the batch's k-th largest; the caller's window then
    ranks the metadata-sized union.  Returns None only when NO query
    id resolves to a usable vector (both forms are then empty).

    Exactness contract (what a plain GEMM port would get wrong):
    - the norm accumulates SEQUENTIALLY over elements j=0..d-1 in
      float64 (the SQL aggregate's left-fold order); the (n, nq) dot
      runs as a BLAS GEMM whose entries are PROVEN to round-6
      identically to that same left-fold -- entries within the
      summation-error radius of a half-decimal boundary are
      recomputed through the exact sequential fold
      (``_gemm_seqfold_cos``), so the SQL and arrow forms cannot
      disagree at rounding boundaries;
    - exclusions replicate the SQL guard exactly: zero denominator
      (SQL x/0.0 -> NULL), NaN cos (NaN payloads), self-match, NULL
      or wrong-length embeddings (SQL zip_with pads -> NULL fold);
    - pruning keeps every row with cos >= the batch's k-th largest
      (ties INCLUDED, ``_batch_topk_rows``), a provable superset of
      the global top-k, so the window's (cos desc, vec_id asc) order
      decides ranks exactly -- no id packing, hence no id-range
      bound and no duplicate-vec_id caveat (both were round-11
      limitations of the packed-key pruning)."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    groups = _resolve_query_groups(emb, query_ids)
    if groups is None:
        return None
    kk = int(k)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            col = batch.column(1)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            # rows the SQL form would exclude anyway: NULL embedding
            # or length != the group's d (zip_with pads -> NULL fold)
            lens = pc.fill_null(pc.list_value_length(col), -1)
            valid = pc.is_valid(col)
            for d, qids, Q, qnrm in groups:
                keep = pc.and_(valid, pc.equal(lens, d))
                if not pc.all(keep).as_py():
                    sub = batch.filter(keep)
                    if sub.num_rows == 0:
                        continue
                    scol = sub.column(1)
                    if isinstance(scol, pa.ChunkedArray):
                        scol = scol.combine_chunks()
                else:
                    sub, scol = batch, col
                n = sub.num_rows
                nq = len(qids)
                ids = np.asarray(sub.column(0), dtype="int64")
                X = np.asarray(scol.flatten(), dtype="float64").reshape(n, d)
                with np.errstate(all="ignore"):  # NaN/Inf masked below
                    # the per-row norm stays a sequential left-fold
                    # (SQL fold order; d passes over an (n,) array
                    # are cache-resident and cheap) -- the (n, nq)
                    # dot goes through the BLAS + boundary-fixup
                    # helper, bit-equal after round6
                    nrm = np.zeros(n)
                    for j in range(d):
                        xj = X[:, j]
                        nrm += xj * xj
                    nrm = np.sqrt(nrm)
                    denom = nrm[:, None] * qnrm[None, :]
                    x = _gemm_seqfold_cos(X, Q, denom)
                    cos = _spark_round6_signed(x) + 0.0
                    ok = (
                        (denom != 0.0)
                        & ~np.isnan(cos)
                        & (ids[:, None] != qids[None, :])
                    )
                arrays = _batch_topk_rows(ids, cos, ok, qids, kk)
                if arrays is None:
                    continue
                yield pa.RecordBatch.from_arrays(
                    arrays, names=["qid", "vec_id", "cos"]
                )

    src = widen_partitions(emb, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    cand = src.mapInArrow(kernel, schema="qid long, vec_id long, cos double")
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("rank") - 1).cast("long").alias("rank"),
            "vec_id",
            "cos",
        )
    )


def _batch_topk_rows(ids, cos, ok, qids, kk):
    """Per-batch candidate pruning shared by the arrow scan kernels:
    keep, per query, every surviving row whose cosine reaches the
    batch's k-th largest (ties INCLUDED).  Any dropped row has >= k
    rows in its own batch ranked strictly above it on cos alone, so
    it cannot enter the global top-k -- the kept set is a provable
    superset and the caller's (cos desc, vec_id asc) window decides
    the exact ranks.  This replaces the round-11 int64-packed
    (cos, vec_id) key: no 2**40 id bound, no duplicate-vec_id
    caveat, no |cos|-overflow special case, and tie rows at the
    threshold cost only a handful of extra candidate rows (cos is
    round-6 quantized, so exact ties are common but k-bounded in
    practice).  Returns [qid, vec_id, cos] pyarrow arrays or None
    when no row survives."""
    import numpy as np
    import pyarrow as pa

    nq = len(qids)
    out_q, out_v, out_c = [], [], []
    for c in range(nq):
        idx = np.flatnonzero(ok[:, c])
        if idx.size == 0:
            continue
        cc = cos[idx, c]
        if idx.size > kk:
            thr = np.partition(cc, idx.size - kk)[idx.size - kk]
            keep = idx[cc >= thr]
        else:
            keep = idx
        out_q.append(np.full(keep.size, qids[c], dtype="int64"))
        out_v.append(ids[keep])
        out_c.append(cos[keep, c])
    if not out_q:
        return None
    return [
        pa.array(np.concatenate(out_q)),
        pa.array(np.concatenate(out_v)),
        pa.array(np.concatenate(out_c)),
    ]


def _batch_bottomk_rows(ids, dist, ok, qids, kk):
    """``_batch_topk_rows`` mirrored for ASCENDING rank keys (ADC
    distances): keep, per query, every surviving row whose distance
    is <= the batch's k-th smallest (ties included) -- the same
    provable-superset argument with the order flipped.  Returns
    [qid, vec_id, dist] pyarrow arrays or None."""
    import numpy as np
    import pyarrow as pa

    nq = len(qids)
    out_q, out_v, out_c = [], [], []
    for c in range(nq):
        idx = np.flatnonzero(ok[:, c])
        if idx.size == 0:
            continue
        cc = dist[idx, c]
        if idx.size > kk:
            thr = np.partition(cc, kk - 1)[kk - 1]
            keep = idx[cc <= thr]
        else:
            keep = idx
        out_q.append(np.full(keep.size, qids[c], dtype="int64"))
        out_v.append(ids[keep])
        out_c.append(dist[keep, c])
    if not out_q:
        return None
    return [
        pa.array(np.concatenate(out_q)),
        pa.array(np.concatenate(out_v)),
        pa.array(np.concatenate(out_c)),
    ]


def _spark_round6_signed(a: "np.ndarray") -> "np.ndarray":
    """``_spark_round6_np`` extended to signed input: BigDecimal
    HALF_UP rounds half AWAY FROM ZERO, which is symmetric, so route
    |x| through the non-negative replica and restore the sign."""
    import numpy as np

    return np.copysign(_spark_round6_np(np.abs(a)), a)


def _seqfold_dot_pairs(X, Q, rows, cols):
    """Exact sequential left-fold dot for selected (row, col) pairs:
    per pair, fl(fl(x_j * q_j) + acc) over j=0..d-1 -- the SQL
    zip_with/aggregate fold order, element for element, vectorized
    ACROSS pairs (the j order each element sees is unchanged).  The
    bit-exact fallback for entries ``_gemm_seqfold_cos`` flags."""
    import numpy as np

    acc = np.zeros(rows.size)
    Xs, Qs = X[rows], Q[cols]
    for j in range(X.shape[1]):
        acc += Xs[:, j] * Qs[:, j]
    return acc


def _gemm_seqfold_cos(C, Q, denom, scale=None):
    """The (rows x queries) pre-round cosine/score matrix
    ``x = [scale *] (C . Q^T) / denom`` with a PROVABLE round-6
    bit-parity contract against the sequential-fold form, at BLAS
    cost instead of d full passes over the (n, nq) accumulator.

    Why this is exact: the served value is ``round6_signed(x) + 0.0``
    -- a step function of x whose output changes ONLY at half-decimal
    boundaries (k + 0.5) * 1e-6 (HALF_UP; the sign-restore flips at
    x = 0, where both magnitudes round to the same grid point and
    ``+ 0.0`` normalizes the zero sign).  Any two summation orders of
    the same products -- the SQL left-fold and the BLAS GEMM, FMA or
    not -- agree with the exact sum within gamma_d * sum|c_j q_j|
    (Higham, Accuracy and Stability of Numerical Algorithms, ch. 3;
    the standard backward-error bound used by the reference's own
    tree-reduction tolerance arguments), so their difference is
    bounded by an elementwise, cheaply-computable radius.  Entries
    whose GEMM value sits FARTHER than that radius (plus the
    downstream multiply/divide ulps and ``_spark_round6_np``'s own
    repr guard band) from every boundary provably round identically;
    only the flagged sliver -- plus every non-finite entry, where the
    bound says nothing -- is recomputed through the exact sequential
    fold (``_seqfold_dot_pairs``) and overwritten.  On real distance
    data the flagged set is measure-~zero (same argument as
    ``_spark_round6_np``'s Decimal fallback); on hostile data it is
    merely slow, never wrong.  Parity is fuzz-pinned against the
    naive-loop replica in tests/test_seqfold_gemm.py and end-to-end
    by the arrow==sql suites."""
    import numpy as np

    d = C.shape[1]
    eps = np.finfo(np.float64).eps
    with np.errstate(all="ignore"):
        Dg = C @ Q.T
        # |Dg - Dseq| <= 2 * gamma_{d} * sum_j |c_j q_j| (either order
        # vs the exact sum); 2*(d + 2)*eps over-covers gamma_d twice
        errd = (2.0 * (d + 2) * eps) * (np.abs(C) @ np.abs(Q).T)
        if scale is not None:
            num = scale[:, None] * Dg
            errn = np.abs(scale)[:, None] * errd + 4.0 * np.spacing(
                np.abs(num)
            )
        else:
            num, errn = Dg, errd
        x = num / denom
        errx = errn / np.abs(denom) + 4.0 * np.spacing(np.abs(x))
        # flag: within the error radius of a half-decimal boundary
        # (including round6's own repr guard band), possibly
        # sign-flipped, or outside the bound's reach entirely
        y = np.abs(x) * 1e6
        frac = y - np.floor(y)
        band = 1e6 * errx + 8.0 * np.spacing(np.maximum(y, 1.0))
        risky = (
            (np.abs(frac - 0.5) <= band)
            | (np.abs(x) <= errx)
            | ~np.isfinite(x)
            | ~np.isfinite(errx)
        )
        if risky.any():
            r, c = np.nonzero(risky)
            ds = _seqfold_dot_pairs(C, Q, r, c)
            ns = scale[r] * ds if scale is not None else ds
            x[r, c] = ns / denom[r, c]
    return x


def cosine_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, impl: str = "auto"
) -> DataFrame:
    """Top-k cosine neighbors for each query id: (qid, rank, vec_id,
    cos).  Deterministic ties: higher cosine first, then smaller
    vec_id.  The only broadcast/collect is the query side
    (len(query_ids) vectors, WHOLE arrays -- never the corpus).

    ``impl``: ``"sql"`` is the relational form -- the dot computed
    IN-ROW with zip_with + aggregate against the broadcast query
    vector (corpus never exploded; the posexplode formulation
    survives only in the DuckDB oracle replica), fully lazy.
    ``"arrow"`` runs the same scan as a batched NumPy mapInArrow
    kernel (``_cosine_topk_arrow``): per-batch threshold-pruned
    candidates, then the identical global window over a candidates
    relation of ~partitions x queries x ~k rows.  The kernel
    replicates the SQL expression BIT-FOR-BIT (BLAS dot with the
    ``_gemm_seqfold_cos`` boundary fixup -- provably round-6-equal to
    the SQL left-fold element order -- under the shared round-6
    contract), so the two forms agree exactly -- pinned by
    test_fuzz_similarity and test_seqfold_gemm.  The arrow path resolves the query vectors
    with one |query_ids|-bounded collect AT PLAN-BUILD TIME -- the
    engine's one documented laziness exception, pinned by
    test_plans.py.  ``"auto"`` (default) routes on estimated PAIR
    work -- Catalyst's corpus-size estimate x |query_ids| (driver-
    side planning, no job): below ``_ARROW_AUTO_MIN_WORK_BYTES`` the
    relational form runs and construction stays lazy (the forms are
    within measurement noise there); above it the arrow kernel wins
    outright -- zip_with/aggregate are interpreted (higher-order
    functions never enter whole-stage codegen) and Catalyst pushes
    the NULL/NaN guard into the BNLJ join condition where the fold
    re-evaluates per predicate.  Measured round 12 (SCALE.md
    "arrow-vs-sql crossover"): arrow 2.4-5.9x from ~20 MB-query of
    work, 28x at 30k x 64q, 110x at 100k x 64q, 34x at 200k x 64q."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    if impl == "auto":
        sz = _plan_stats_bytes(emb)
        impl = (
            "sql"
            if sz is not None
            and sz * max(1, len(query_ids)) < _ARROW_AUTO_MIN_WORK_BYTES
            else "arrow"
        )
    if impl == "arrow":
        out = _cosine_topk_arrow(emb, query_ids, k)
        if out is not None:
            return out
        # no query id resolved to a usable vector: both forms return
        # an empty relation, so serve the (lazy) relational one --
        # the only case an explicit impl="arrow" is not honored, and
        # it is value- and cost-identical.
    corpus = emb.select(
        "vec_id",
        F.col("embedding"),
        _norm_col().alias("nrm"),
    )
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        _norm_col().alias("qnrm"),
    )
    dot = F.aggregate(
        F.zip_with(
            "embedding", "qemb",
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            # round BEFORE ranking (and + 0.0 to normalize IEEE -0.0):
            # in-row fold vs the oracle's SUM can differ in the last
            # ulps, so an unrounded rank could flip at a near-tie --
            # rounding first makes rank order engine-independent (same
            # policy as kmeans_assign)
            (F.round(dot / (F.col("nrm") * F.col("qnrm")), 6) + F.lit(0.0)).alias(
                "cos"
            ),
        )
        # a zero-norm side has no defined cosine.  Spark (ANSI off)
        # evaluates x / 0.0 as NULL -- NOT NaN -- and isnan(NULL) is
        # false, so the NULL guard is the one that excludes zero-norm
        # rows; the isnan guard covers NaN payloads in the embeddings
        # themselves (NaN sorts LARGEST under desc, so an unguarded NaN
        # would rank first).  test_zero_norm.py pins both semantics.
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("rank") - 1).cast("long").alias("rank"),
            "vec_id",
            "cos",
        )
    )


def lsh_sign_bucket(emb: DataFrame, n_planes: int = 8) -> DataFrame:
    """Bucket id from sign bits of dot products with fixed integer
    hyperplanes w[p][j] = ((p*37 + j*17) mod 19) - 9.  Buckets shard
    the corpus so ANN joins stay within buckets (scale path); exact
    and oracle-reproducible."""
    ex = _exploded(emb)
    spark = emb.sparkSession
    planes = spark.range(n_planes).select(F.col("id").alias("p"))
    w = ((F.col("p") * 37 + F.col("pos") * 17) % 19 - 9).cast("double")
    dots = (
        ex.crossJoin(F.broadcast(planes))
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("e") * w).alias("d"))
    )
    bitval = F.when(
        F.col("d") > 0, F.pow(F.lit(2.0), F.col("p")).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return dots.groupBy("vec_id").agg(F.sum(bitval).cast("long").alias("bucket"))


def cosine_pairs_bucketed(
    emb: DataFrame,
    n_planes: int = 8,
    min_cos: float = 0.3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate candidate pairs within LSH buckets, verified by
    exact cosine: (vec_a, vec_b, cos) with vec_a < vec_b.  The
    quadratic pair space shrinks to per-bucket blocks; each side's
    norm rides its own rows (first(na)/first(nb)), so there is no
    corpus-sized norms join.

    ``max_bucket`` drops buckets with more members than the threshold
    before the self-join (hot-bucket quadratic guard, same rationale
    and default as dedup.lsh_candidate_pairs -- active unless the
    caller passes ``None``)."""
    buckets = lsh_sign_bucket(emb, n_planes)
    if max_bucket is not None:
        small = (
            buckets.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket)
            .drop("__bsz")
        )
        buckets = buckets.join(small, on="bucket")
    # persist-at-fan-out: the pair join consumes the bucketed exploded
    # table on both sides (SURVEY.md section 4.4)
    ex = _exploded(emb).join(buckets, on="vec_id").persist()
    a = ex.select(
        F.col("vec_id").alias("vec_a"), F.col("nrm").alias("na"),
        "bucket", "pos", F.col("e").alias("ea"),
    )
    b = ex.select(
        F.col("vec_id").alias("vec_b"), F.col("nrm").alias("nb"),
        "bucket", "pos", F.col("e").alias("eb"),
    )
    return (
        a.join(b, on=["bucket", "pos"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .groupBy("vec_a", "vec_b")
        .agg(
            (
                F.round(
                    F.sum(F.col("ea") * F.col("eb"))
                    / (F.first("na") * F.first("nb")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cos")
        )
        .filter(F.col("cos") >= min_cos)
    )


def _codebook(
    emb: DataFrame, n_cells: int, cents: DataFrame | None = None
) -> DataFrame:
    """The broadcastable (cell, cemb, cnrm) codebook side.  ``cents``
    None (the default) keeps the deterministic first-``n_cells``-
    vectors stub the DuckDB oracles replay; pass a trained (cell,
    cemb) codebook -- e.g. the output of ``kmeans_fit`` -- to cluster
    on it instead (the production path: train offline, broadcast the
    tiny table the same way).  Idempotent: a ``cents`` that already
    carries ``cnrm`` (i.e. a codebook this function produced) passes
    through unchanged, so ivf_topk/semantic_dedup can prepare the
    codebook once and hand it to ivf_assign without the plan
    duplicating the norm fold."""
    if cents is not None and "cnrm" in cents.columns:
        # already prepared -- skip the norm fold, but still project and
        # cast: extra columns (a codebook joined with diagnostics) would
        # make the downstream crossJoin's references ambiguous, and an
        # int cell would change the output schema
        return cents.select(
            F.col("cell").cast("long").alias("cell"), "cemb", "cnrm"
        )
    if cents is None:
        return emb.filter(F.col("vec_id") < n_cells).select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").alias("cemb"),
            _norm_col().alias("cnrm"),
        )
    cnrm = F.sqrt(
        F.aggregate(
            "cemb",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return cents.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("cemb"),
        cnrm.alias("cnrm"),
    )


def ivf_assign(
    emb: DataFrame, n_cells: int = 4, cents: DataFrame | None = None
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid by cosine (ties -> smaller cell id).  The default
    codebook is the first ``n_cells`` vectors (a deterministic
    stand-in the oracles replay); pass ``cents`` -- a trained (cell,
    cemb) codebook, e.g. from ``kmeans_fit`` -- to cluster on it
    instead.  Returns (vec_id, cell).

    Scale shape: the centroid side is tiny and broadcast (whole
    arrays); the corpus is never exploded -- each dot product folds
    in-row with zip_with + aggregate, and the nearest-cell argmax is a
    partial-aggregated max_by.  The corpus is never shuffled by pair
    and never broadcast."""
    corpus = emb.select("vec_id", "embedding", _norm_col().alias("nrm"))
    cents = _codebook(emb, n_cells, cents)
    dot = F.aggregate(
        F.zip_with(
            "embedding", "cemb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cell",
        # 6-decimal rounding before the argmax so assignment boundaries
        # replay bit-for-bit cross-engine (fold-order ulps would
        # otherwise flip near-ties between centroids; same policy as
        # kmeans_assign)
        F.round(dot / (F.col("nrm") * F.col("cnrm")), 6).alias("c"),
    )
    # argmax with deterministic ties (higher cosine, then smaller
    # cell) through the guarded packed form -- max(packed) is an
    # ordinary long max, so the argmax hash-aggregates instead of
    # falling to SortAggregate (optimization round 14; NULL/NaN/Inf
    # ordering engine-probed and replicated exactly, zero-norm parity
    # pinned by tests)
    return (
        scored.selectExpr(
            "vec_id", f"{_argmax_cos_packed_sql('cell', 'c')} AS __pp"
        )
        .groupBy("vec_id")
        .agg(F.expr("max(__pp) AS __p"))
        .selectExpr("vec_id", f"{_argmax_cell_sql('__p')} AS cell")
    )


def _cell_file_layout(df: DataFrame, files_per_cell: int | None) -> DataFrame:
    """Bound the per-cell file fan-out of a partitionBy("cell") write:
    ``partitionBy`` emits one file per (task, cell), so an index
    written straight off a 32-partition shuffle scatters every cell
    into 32 small files -- and the r13_codes_prune measurement shows
    per-file open overhead eating the pruning's byte saving at small
    scale.  Repartitioning on (cell, hash(vec_id) % files_per_cell)
    co-locates each cell into ~files_per_cell tasks, so each cell
    lands in at most that many files (hash collisions can merge some)
    while staying wide enough that no single task writes a whole
    100-TB cell.  ``None`` preserves the incoming partitioning."""
    if files_per_cell is None:
        return df
    if int(files_per_cell) < 1:
        raise ValueError(
            f"files_per_cell must be >= 1, got {files_per_cell!r}"
        )
    return df.repartition(
        F.col("cell"),
        F.pmod(F.hash(F.col("vec_id")), F.lit(int(files_per_cell))),
    )


def ivf_write_index(
    assign: DataFrame,
    path: str,
    mode: str = "overwrite",
    files_per_cell: int | None = None,
) -> None:
    """Persist an IVF assignment index CELL-PARTITIONED -- one parquet
    directory per cell (``df.write.partitionBy("cell")``).  This is
    the layout the 100-TB IO story rests on: the serving tiers
    restrict the index with ``cell IN (probed cells)``, and on a
    cell-partitioned table that predicate is a PARTITION filter --
    Spark prunes whole directories at planning time, so a probe reads
    ~n_probe/n_cells of the index BYTES instead of scanning
    everything and filtering rows (plan-pinned: PartitionFilters, not
    just PushedFilters; measured in forensics/ivf_partition_pruning).
    Cells number n_cells (hundreds-to-thousands at 100 TB), so the
    directory fan-out stays far below any filesystem limit and each
    cell's files stay large enough to scan efficiently.
    ``files_per_cell`` bounds the per-cell file count (see
    ``_cell_file_layout``)."""
    _cell_file_layout(
        assign.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cell").cast("long").alias("cell"),
        ),
        files_per_cell,
    ).write.partitionBy("cell").mode(mode).parquet(path)


def ivf_read_index(spark, path: str) -> DataFrame:
    """Read a cell-partitioned assignment index back with the
    canonical (vec_id long, cell long) schema.  The explicit user
    schema keeps the partition column LONG natively (directory-value
    inference would make it int), so the serving tiers' probe filter
    compares without a cast and partition pruning applies."""
    return spark.read.schema("vec_id long, cell long").parquet(path)


def pq_write_index(
    packed: DataFrame,
    assign: DataFrame,
    path: str,
    mode: str = "overwrite",
    files_per_cell: int | None = None,
) -> None:
    """Persist the PACKED PQ codes CELL-PARTITIONED: one ingest-time
    join of ``pq_pack`` output with the coarse assignment, laid out
    one parquet directory per cell -- (vec_id, codes) rows under
    ``cell=<c>/``.  This moves the ``ivf_write_index`` IO story onto
    the relation that actually dominates a 100-TB serve: the probed
    restriction in ``ivf_pq_topk`` becomes a PARTITION filter on the
    CODES scan itself, so a probe reads ~n_probe/n_cells of the codes
    BYTES and the per-query assign-to-codes shuffle join disappears
    entirely (the index embeds the assignment -- serving derives
    ``assign`` from its (vec_id, cell) columns).  Codes are cast to
    array<long> so the reader's explicit schema round-trips exactly.
    ``files_per_cell`` bounds the per-cell file count (see
    ``_cell_file_layout``; r13_codes_prune measured the unbounded
    fan-out's per-file overhead eating the byte saving locally)."""
    _cell_file_layout(
        packed.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("codes").cast("array<long>").alias("codes"),
        ).join(
            assign.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("cell").cast("long").alias("cell"),
            ),
            on="vec_id",
        ),
        files_per_cell,
    ).write.partitionBy("cell").mode(mode).parquet(path)


def pq_read_index(spark, path: str) -> DataFrame:
    """Read a cell-partitioned packed-PQ index back with the canonical
    (vec_id long, codes array<long>, cell long) schema -- the explicit
    schema keeps ``cell`` LONG natively so the probed ``cell IN``
    restriction partition-prunes without a cast (same rationale as
    ``ivf_read_index``).  Feed the result to ``ivf_pq_topk(codes=)``;
    the embedded cell column makes a separate ``assign`` unnecessary."""
    return spark.read.schema(
        "vec_id long, codes array<long>, cell long"
    ).parquet(path)


def sq8_write_index(
    codes: DataFrame,
    assign: DataFrame,
    path: str,
    mode: str = "overwrite",
    files_per_cell: int | None = None,
) -> None:
    """Persist the SQ8 codes CELL-PARTITIONED -- ``pq_write_index``'s
    layout for the int8 family: (vec_id, scale, q, nrm) rows under
    ``cell=<c>/``, with the stored dequantized norm (the round-9
    index contract) so serving never recomputes it.  ``ivf_sq8_topk``
    fed this index partition-prunes its codes scan and skips the
    assign join.  ``files_per_cell`` bounds the per-cell file count
    (see ``_cell_file_layout``)."""
    if "nrm" not in codes.columns:
        codes = codes.withColumn("nrm", _sq8_nrm())
    _cell_file_layout(
        codes.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("scale").cast("double").alias("scale"),
            F.col("q").cast("array<int>").alias("q"),
            F.col("nrm").cast("double").alias("nrm"),
        ).join(
            assign.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("cell").cast("long").alias("cell"),
            ),
            on="vec_id",
        ),
        files_per_cell,
    ).write.partitionBy("cell").mode(mode).parquet(path)


def sq8_read_index(spark, path: str) -> DataFrame:
    """Read a cell-partitioned SQ8 index back with the canonical
    (vec_id long, scale double, q array<int>, nrm double, cell long)
    schema -- cell stays LONG natively so the probed restriction
    partition-prunes (same rationale as ``ivf_read_index``)."""
    return spark.read.schema(
        "vec_id long, scale double, q array<int>, nrm double, cell long"
    ).parquet(path)


def _probe_cells(q: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """Probe cells per query: rank the (broadcast) centroids by cosine
    to each query and keep the top ``n_probe`` -- (qid, cell).  Shared
    by ivf_topk and ivf_pq_topk so the probe contract (6-decimal
    pre-rank rounding, ties to the smaller cell) cannot drift."""
    cdot = F.aggregate(
        F.zip_with("qemb", "cemb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    csim = q.crossJoin(F.broadcast(cents)).select(
        "qid",
        "cell",
        # rounded before probe ranking (cross-engine near-tie guard)
        F.round(cdot / (F.col("cnrm") * F.col("qnrm")), 6).alias("c"),
    )
    wp = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("cell").asc())
    return (
        csim.withColumn("__r", F.row_number().over(wp))
        .filter(F.col("__r") <= n_probe)
        .select("qid", "cell")
    )


def _probe_layout(probes):
    """Collected (qid, cell) probe rows -> (qid -> probed cell set,
    sorted union of probed cells).  Shared by every cell-blocked
    arrow serving kernel so the probe decoding cannot drift."""
    cells_by_qid: dict[int, set] = {}
    for r in probes:
        cells_by_qid.setdefault(int(r["qid"]), set()).add(int(r["cell"]))
    union_cells = sorted({c for s in cells_by_qid.values() for c in s})
    return cells_by_qid, union_cells


def _allowed_matrix(cells_by_qid, union_cells, qids):
    """(len(union_cells), len(qids)) bool: does query j probe cell
    i?  The kernel-side gate that keeps per-cell folds restricted to
    exactly the relational candidate pairs."""
    import numpy as np

    pos = {c: i for i, c in enumerate(union_cells)}
    allowed = np.zeros((len(union_cells), len(qids)), dtype=bool)
    for j, qid in enumerate(qids):
        for c in cells_by_qid.get(int(qid), ()):
            allowed[pos[c], j] = True
    return allowed


def _ivf_topk_arrow(
    emb: DataFrame, query_ids, k: int, assign: DataFrame, probes
) -> DataFrame | None:
    """Arrow scan for ``ivf_topk``: the probed-cell restriction
    becomes (a) a plain ``cell IN (union of probed cells)`` FILTER on
    the assignment index (partition-prunable at scale) + one hash
    join attaching embeddings, and (b) cell-BLOCKED folds inside the
    same batched kernel ``cosine_topk`` uses: each cell's rows score
    only against the queries probing that cell, so kernel compute
    equals the relational candidate pair count and query A's rows
    never pay for query B's cells.  ``probes`` is the
    collected (qid, cell) probe list (|queries| x n_probe rows, the
    same bounded class as the query-vector collect).  Cosine values,
    exclusions, per-length query groups, and threshold pruning are
    bit-identical to the relational form (shared helpers + fold
    order).  Returns None when no query or no probe resolves."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    groups = _resolve_query_groups(emb, query_ids)
    if groups is None:
        return None
    cells_by_qid, union_cells = _probe_layout(probes)
    if not union_cells:
        return None
    lut_cells = np.array(union_cells, dtype="int64")
    gq = [
        (d, qids, Q, qnrm, _allowed_matrix(cells_by_qid, union_cells, qids))
        for d, qids, Q, qnrm in groups
    ]
    kk = int(k)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            ecol = batch.column(names.index("embedding"))
            if isinstance(ecol, pa.ChunkedArray):
                ecol = ecol.combine_chunks()
            lens = pc.fill_null(pc.list_value_length(ecol), -1)
            valid = pc.is_valid(ecol)
            for d, qids, Q, qnrm, allowed in gq:
                keep = pc.and_(valid, pc.equal(lens, d))
                if not pc.all(keep).as_py():
                    sub = batch.filter(keep)
                    if sub.num_rows == 0:
                        continue
                    scol = sub.column(names.index("embedding"))
                    if isinstance(scol, pa.ChunkedArray):
                        scol = scol.combine_chunks()
                else:
                    sub, scol = batch, ecol
                n = sub.num_rows
                ids = np.asarray(
                    sub.column(names.index("vec_id")), dtype="int64"
                )
                cells = np.asarray(
                    sub.column(names.index("cell")), dtype="int64"
                )
                X = np.asarray(scol.flatten(), dtype="float64").reshape(n, d)
                # block by cell so each cell's rows fold ONLY against
                # the queries probing it -- compute equals the
                # relational candidate pair count (an unmasked full
                # rows x queries matrix was measured SLOWER than the
                # relational join at 2/16 probes: the mask must gate
                # compute, not results)
                order = np.argsort(cells, kind="stable")
                sc = cells[order]
                starts = np.flatnonzero(
                    np.r_[True, sc[1:] != sc[:-1]]
                )
                ends = np.r_[starts[1:], sc.size]
                for s, e in zip(starts, ends):
                    # rows are pre-filtered to union cells, so the
                    # sorted lookup is exact
                    qsel = allowed[np.searchsorted(lut_cells, sc[s]), :]
                    qsel = np.flatnonzero(qsel)
                    if qsel.size == 0:
                        continue
                    rows = order[s:e]
                    Xc = X[rows]
                    idsc = ids[rows]
                    Qc = Q[qsel]
                    qnrmc = qnrm[qsel]
                    qidsc = qids[qsel]
                    with np.errstate(all="ignore"):
                        # sequential-fold norm; BLAS + boundary-fixup
                        # dot, bit-equal after round6 (the shared
                        # _gemm_seqfold_cos contract)
                        nrm = np.zeros(rows.size)
                        for j in range(d):
                            xj = Xc[:, j]
                            nrm += xj * xj
                        nrm = np.sqrt(nrm)
                        denom = nrm[:, None] * qnrmc[None, :]
                        x = _gemm_seqfold_cos(Xc, Qc, denom)
                        cos = _spark_round6_signed(x) + 0.0
                        ok = (
                            (denom != 0.0)
                            & ~np.isnan(cos)
                            & (idsc[:, None] != qidsc[None, :])
                        )
                    arrays = _batch_topk_rows(idsc, cos, ok, qidsc, kk)
                    if arrays is None:
                        continue
                    yield pa.RecordBatch.from_arrays(
                        arrays, names=["qid", "vec_id", "cos"]
                    )

    src = (
        assign.filter(F.col("cell").isin([int(c) for c in union_cells]))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cell").cast("long").alias("cell"),
        )
        .join(
            emb.select(
                F.col("vec_id").cast("long").alias("vec_id"), "embedding"
            ),
            on="vec_id",
        )
    )
    cand = widen_partitions(src, "vec_id").mapInArrow(
        kernel, schema="qid long, vec_id long, cos double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("rank") - 1).cast("long").alias("rank"),
            "vec_id",
            "cos",
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 4,
    n_probe: int = 2,
    cents: DataFrame | None = None,
    assign: DataFrame | None = None,
    impl: str = "auto",
) -> DataFrame:
    """IVF-bucketed approximate top-k: search only the ``n_probe``
    cells whose centroids are nearest each query (the scale path --
    candidate generation touches ~n_probe/n_cells of the corpus
    instead of all of it).  Output (qid, rank, vec_id, cos), ranked by
    exact cosine among candidates, ties -> smaller vec_id.  Broadcast
    hints only on the query / centroid / probe sides; candidate
    arrays and norms ride the candidate rows -- no explode anywhere
    (in-row zip_with dot products, like cosine_topk).  ``cents``
    swaps the stub codebook for a trained one (see ``_codebook``);
    it feeds both the assignment and the probe ranking.

    ``assign`` supplies a PRECOMPUTED (vec_id, cell) index (the output
    of ``ivf_assign`` for the same cents, typically persisted).  This
    is how a production IVF index runs -- vectors are assigned ONCE at
    ingest and queries pay only probe selection + the candidate scan;
    recomputing the assignment per query costs a full corpus pass of
    n_cells distance folds, which can exceed the brute-force scan it
    is supposed to avoid (n_cells > |queries|).  Persist it with
    ``ivf_write_index`` (cell-partitioned) and read it back with
    ``ivf_read_index``: the probe restriction then PARTITION-prunes
    the scan to ~n_probe/n_cells of the index bytes (round 13,
    plan-pinned + measured in SCALE.md).

    Choosing n_probe (measured, SCALE.md round 11, 600k corpus /
    256-query batch): cost is linear in probes and recall is
    near-linear in the probe FRACTION with a modest clustering lift
    (1-of-16 recovered 29% recall, 8-of-16 88%, full probe exactly
    1.0) -- there is no knee, so n_probe is a real speed/recall dial;
    calibrate on your corpus with ``ann_recall``.  On weakly
    clustered data, ``pq_topk(rerank="auto")`` dominated every
    mid-recall ivf setting (0.994 recall at 228 ms/query vs 0.968 at
    386), so reach for IVF when you need raw throughput or your
    corpus actually clusters.

    ``impl``: like ``cosine_topk`` -- ``"auto"`` (default) routes on
    estimated pair work SCALED BY THE PROBE FRACTION (corpus size
    estimate x |query_ids| x n_probe/n_cells vs the shared
    ``_ARROW_AUTO_MIN_WORK_BYTES``): small work stays on the lazy
    relational candidate join; large work runs the cell-masked arrow
    kernel (``_ivf_topk_arrow``, bit-identical, fuzz-pinned), which
    round-12 forensics showed is REQUIRED for the index to keep its
    advantage once brute itself went vectorized (SCALE.md)."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    cents = _codebook(emb, n_cells, cents)
    if assign is None:
        assign = ivf_assign(emb, n_cells, cents)
    if impl == "auto":
        sz = _plan_stats_bytes(emb)
        est = (
            None
            if sz is None
            else sz
            * max(1, len(query_ids))
            * max(1, int(n_probe))
            / max(1, int(n_cells))
        )
        impl = (
            "sql"
            if est is not None and est < _ARROW_AUTO_MIN_WORK_BYTES
            else "arrow"
        )
    if impl == "arrow":
        qp = emb.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qemb"),
            _norm_col().alias("qnrm"),
        )
        probes = _probe_cells(
            qp, cents, n_probe
        ).collect()  # bounded-model-collect: |query_ids| x n_probe rows
        out = _ivf_topk_arrow(emb, query_ids, k, assign, probes)
        if out is not None:
            return out
        # no resolvable query/probe: both forms are empty -- serve
        # the lazy relational one (same note as cosine_topk)
    corpus = emb.select("vec_id", "embedding", _norm_col().alias("nrm"))
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        _norm_col().alias("qnrm"),
    )
    # candidates: corpus vectors living in a probed cell
    cand = assign.join(
        F.broadcast(_probe_cells(q, cents, n_probe)), on="cell"
    ).select("qid", "vec_id")
    qdot = F.aggregate(
        F.zip_with(
            "embedding", "qemb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = (
        corpus.join(cand, on="vec_id")
        .join(F.broadcast(q), on="qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            # rounded before ranking (cross-engine near-tie guard)
            (F.round(qdot / (F.col("nrm") * F.col("qnrm")), 6) + F.lit(0.0)).alias(
                "cos"
            ),
        )
        # zero-norm exclusion: x / 0.0 is NULL under ANSI-off Spark (see
        # cosine_topk) -- probed candidate pools are SMALL, so without
        # this guard a zero-norm vector lands inside top-k with cos NULL
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("rank") - 1).cast("long").alias("rank"),
            "vec_id",
            "cos",
        )
    )


def ann_recall(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 4,
    n_probe: int = 2,
    cents: DataFrame | None = None,
    exact: DataFrame | None = None,
    approx: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the IVF probe-pruned search against the exact
    brute-force top-k -- the standard ANN quality diagnostic a
    pipeline runs when tuning (n_cells, n_probe) or validating a
    trained codebook.  Returns one row per REQUESTED qid:
    (qid, n_hits, recall) where n_hits = |exact top-k ∩ IVF top-k|
    and recall = n_hits / |exact top-k| (standard recall@k divides
    by the achievable count, so a corpus smaller than k+1 can still
    score 1.0; 6-decimal rounded for oracle parity).  A qid absent
    from ``emb`` gets n_hits = 0 and a NULL recall rather than
    silently vanishing, so an average over the recall column cannot
    over-report quality.

    When ``exact`` / ``approx`` are given they must be the outputs of
    ``cosine_topk`` / ``ivf_topk`` for the same (query_ids, k); the
    suite passes its already-built frames so the two most expensive
    subtrees are not evaluated twice.

    Scale shape: both inputs are query-bounded outputs
    (|query_ids| x k rows), so the hit join and the per-query count
    are trivially tiny no matter the corpus size; the cost is the two
    searches themselves (and in production the exact side runs on a
    SAMPLE of queries, which is exactly what ``query_ids`` is)."""
    if exact is None:
        exact = cosine_topk(emb, query_ids, k)
    if approx is None:
        approx = ivf_topk(emb, query_ids, k, n_cells, n_probe, cents)
    ap = approx.select("qid", "vec_id").withColumn("__hit", F.lit(1))
    per = (
        exact.select("qid", "vec_id")
        .join(ap, on=["qid", "vec_id"], how="left")
        .groupBy("qid")
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
            F.count(F.lit(1)).cast("long").alias("__n_exact"),
        )
    )
    qs = emb.sparkSession.createDataFrame(
        [(int(q),) for q in query_ids], "qid long"
    )
    return (
        qs.join(F.broadcast(per), on="qid", how="left")
        .select(
            "qid",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.round(F.col("n_hits") / F.col("__n_exact"), 6) + F.lit(0.0)
            ).alias("recall"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    n_cells: int = 4,
    eps: float = 0.95,
    max_cell: int | None = DEFAULT_MAX_BUCKET,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    embeddings with the IVF codebook, then inside each cluster drop
    every vector whose cosine to an EARLIER-RANKED cluster member is
    >= ``eps``.  Rank order follows the paper's keep-diverse policy:
    members FARTHEST from their centroid rank first (kept
    preferentially), ties -> smaller vec_id.  Returns one row per
    vector: (vec_id, cell, ccos, is_dup) where ccos is the
    centroid cosine and is_dup marks the semantic duplicates a
    pipeline filters out.

    Scale shape (the 100 TB story): the codebook is tiny and
    broadcast (in production n_cells grows ~sqrt(corpus), keeping
    per-cluster membership bounded); centroid cosines fold IN-ROW
    (zip_with + aggregate -- the corpus is never exploded for
    assignment); the intra-cluster pair join runs per (cell, pos) on
    the exploded form exactly like cosine_pairs_bucketed, quadratic
    only within a cluster; ``max_cell`` skips dedup inside clusters
    larger than the threshold (the hot-bucket guard -- their members
    are kept, flagged is_dup = false, and a degenerate cluster never
    goes quadratic).  Comparisons use 6-decimal-rounded cosines so
    the DuckDB oracle replays rank order and the eps boundary
    bit-for-bit.  ``cents`` swaps the stub codebook for a trained
    (cell, cemb) one -- e.g. ``kmeans_fit`` output -- used for both
    the assignment and the keep-diverse centroid-cosine ranking.
    """
    cents = _codebook(emb, n_cells, cents)
    assign = ivf_assign(emb, n_cells, cents)
    cdot = F.aggregate(
        F.zip_with(
            "embedding", "cemb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    base = (
        emb.select("vec_id", "embedding", _norm_col().alias("nrm"))
        .join(assign, on="vec_id")
        .join(F.broadcast(cents), on="cell")
        .select(
            "vec_id",
            "cell",
            (F.round(cdot / (F.col("nrm") * F.col("cnrm")), 6) + F.lit(0.0)).alias(
                "ccos"
            ),
        )
    )
    wr = Window.partitionBy("cell").orderBy(F.col("ccos").asc(), F.col("vec_id").asc())
    # persist-at-fan-out: ranked feeds BOTH the pair join below and
    # the final output join -- without this the corpus-scale
    # assignment + centroid-cosine + rank-window lineage runs twice
    ranked = base.withColumn("rnk", F.row_number().over(wr)).persist()
    dedupable = ranked
    if max_cell is not None:
        small = (
            ranked.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("__csz"))
            .filter(F.col("__csz") <= max_cell)
            .drop("__csz")
        )
        dedupable = ranked.join(small, on="cell")
    # persist-at-fan-out: the pair join consumes the exploded ranked
    # table on both sides (SURVEY.md section 4.4)
    ex = _exploded(emb).join(
        dedupable.select("vec_id", "cell", "rnk"), on="vec_id"
    ).persist()
    a = ex.select(
        F.col("rnk").alias("rnk_a"), F.col("nrm").alias("na"),
        "cell", "pos", F.col("e").alias("ea"),
    )
    b = ex.select(
        F.col("vec_id").alias("vec_b"), F.col("rnk").alias("rnk_b"),
        F.col("nrm").alias("nb"), "cell", "pos", F.col("e").alias("eb"),
    )
    dropped = (
        a.join(b, on=["cell", "pos"])
        .filter(F.col("rnk_a") < F.col("rnk_b"))
        .groupBy("vec_b", "rnk_a")
        .agg(
            (
                F.round(
                    F.sum(F.col("ea") * F.col("eb"))
                    / (F.first("na") * F.first("nb")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cos")
        )
        .filter(F.col("cos") >= eps)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return (
        ranked.join(dropped.withColumn("__d", F.lit(True)), on="vec_id", how="left")
        .select(
            "vec_id",
            "cell",
            "ccos",
            F.coalesce(F.col("__d"), F.lit(False)).alias("is_dup"),
        )
    )


# -- guarded hash-aggregatable argmin (optimization round 14, verdict
# ask 6) -------------------------------------------------------------------
# min_by(struct(cell, dist), struct(dist, cell)) is not hash-
# aggregatable (struct min falls to SortAggregate: per-group sort
# machinery on every argmin shuffle).  For the engine's distance
# contract -- dist = round(x, 6) + 0.0, i.e. non-negative or NULL or
# NaN, never -0.0 -- the ordering packs EXACTLY into one BIGINT:
#   cell outside [0, 2^20)           -> raise_error (loud, not wrong)
#   dist IS NULL  -> -2^20 + cell       (NULL sorts FIRST, ties by cell
#                                        -- probed min_by semantics)
#   isnan(dist)   ->  2^62 + cell       (NaN sorts LAST, above every
#                                        finite packed value)
#   dl >= 2^42    -> raise_error        (would overflow into the NaN
#                                        band; dl = round(dist * 1e6))
#   else          ->  dl * 2^20 + cell  (dist asc, then cell asc)
# min(packed) is then an ordinary long min -> HashAggregate, partial-
# aggregated.  The round-13 unguarded form was REJECTED for silently
# corrupting hostile distances; these guards turn that class into a
# loud error instead (hostile-distance parity + guard tests pinned).
# Decode is exact: dist was already 6-decimal-rounded, so
# (dl DIV 2^20) / 1e6 reproduces the same nearest double bit-for-bit.
_ARGMIN_CELL_CAP = 1 << 20
_ARGMIN_DL_CAP = 1 << 42
_ARGMIN_NAN_BASE = 1 << 62


def _argmin_packed_sql(cell: str, dist: str) -> str:
    """SQL fragment: the order-preserving BIGINT packing above."""
    return (
        f"CASE WHEN {cell} < 0 OR {cell} >= {_ARGMIN_CELL_CAP} THEN "
        f"CAST(raise_error('argmin cell id out of [0, 2^20)') AS BIGINT) "
        f"WHEN {dist} IS NULL THEN CAST({-(1 << 20)} AS BIGINT) + {cell} "
        f"WHEN isnan({dist}) THEN CAST({_ARGMIN_NAN_BASE} AS BIGINT) + {cell} "
        f"WHEN CAST(round({dist} * 1000000.0) AS BIGINT) >= {_ARGMIN_DL_CAP} "
        f"THEN CAST(raise_error("
        f"'argmin dist too large to pack (>= 2^42/1e6)') AS BIGINT) "
        f"ELSE CAST(round({dist} * 1000000.0) AS BIGINT) * {_ARGMIN_CELL_CAP}"
        f" + {cell} END"
    )


def _argmin_cell_sql(p: str) -> str:
    return f"CAST(pmod({p}, {_ARGMIN_CELL_CAP}) AS BIGINT)"


def _argmax_cos_packed_sql(cell: str, c: str) -> str:
    """The MAX-side twin for the cosine argmax (ivf_assign):
    max_by(cell, struct(c, -cell)) with c = round(cos, 6) -- finite in
    [-1e6, 1e6] after scaling, or NULL / NaN / +-Inf for zero-norm
    rows (double division by zero is Inf/NaN in the non-ANSI session).
    Engine-probed ascending order: NULL < -Inf < finite < +Inf < NaN,
    ties to the SMALLER cell -- packed so max(packed) replicates it:
    inverted cell in the low 20 bits (smaller cell = larger inv),
    +-2^61 bands for +-Inf, +-2^62 for NaN/NULL, c6 * 2^20 for finite
    (|c6 * 2^20| <= ~2^40, strictly inside the bands).  Out-of-range
    cells or |c6| > 2^40 raise loudly."""
    inv = f"({_ARGMIN_CELL_CAP - 1} - {cell})"
    c6 = f"CAST(round({c} * 1000000.0) AS BIGINT)"
    return (
        f"CASE WHEN {cell} < 0 OR {cell} >= {_ARGMIN_CELL_CAP} THEN "
        f"CAST(raise_error('argmax cell id out of [0, 2^20)') AS BIGINT) "
        f"WHEN {c} IS NULL THEN CAST({-(1 << 62)} AS BIGINT) + {inv} "
        f"WHEN isnan({c}) THEN CAST({1 << 62} AS BIGINT) + {inv} "
        f"WHEN {c} = double('Infinity') THEN CAST({1 << 61} AS BIGINT) + {inv} "
        f"WHEN {c} = double('-Infinity') THEN CAST({-(1 << 61)} AS BIGINT) + {inv} "
        f"WHEN abs({c6}) > {1 << 40} THEN "
        f"CAST(raise_error('argmax cosine too large to pack') AS BIGINT) "
        f"ELSE {c6} * {_ARGMIN_CELL_CAP} + {inv} END"
    )


def _argmax_cell_sql(p: str) -> str:
    return (
        f"CAST({_ARGMIN_CELL_CAP - 1} - pmod({p}, {_ARGMIN_CELL_CAP}) AS BIGINT)"
    )


def _argmin_dist_sql(p: str) -> str:
    return (
        f"CASE WHEN {p} < 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN {p} >= CAST({_ARGMIN_NAN_BASE} AS BIGINT) THEN "
        f"CAST('NaN' AS DOUBLE) "
        f"ELSE CAST({p} DIV {_ARGMIN_CELL_CAP} AS DOUBLE) / 1000000.0 END"
    )


def _double_sql(v) -> str:
    """One double as an exact SQL literal: ``repr`` is the shortest
    string that round-trips, and the parser's correctly rounded
    ``D`` literal reads it back to the same bits; NaN, +-Inf and NULL
    have no literal spelling and are written as casts."""
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _cemb_sql(cemb) -> str:
    """A centroid (list of doubles, or None) as an array<double> literal."""
    if cemb is None:
        return "CAST(NULL AS ARRAY<DOUBLE>)"
    return f"CAST(array({', '.join(map(_double_sql, cemb))}) AS ARRAY<DOUBLE>)"


def _codebook_frame(spark, cells: list) -> DataFrame:
    """The driver-held codebook ``cells`` = [(cell, cemb)] as a local
    (cell, cemb) relation: reading it back runs no Spark job."""
    if not cells:
        return spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS cell, "
            "CAST(NULL AS ARRAY<DOUBLE>) AS cemb WHERE false"
        )
    rows = ", ".join(f"(CAST({c} AS BIGINT), {_cemb_sql(v)})" for c, v in cells)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(cell, cemb)")


def _nearest_cell(src: DataFrame, cells: list, keep: str) -> DataFrame:
    """(keep, __p): each row's packed nearest-cell key against the
    driver-held codebook ``cells`` (non-empty), computed in-row.  The
    lower projection folds each cell's ``round(sqdist, 6) + 0.0``
    exactly once, flat (one zip_with + aggregate per cell against a
    literal centroid); the upper ``least`` over the packed keys is the
    argmin with min()'s ties, NULL/NaN order and caps.  The optimizer
    keeps the two projections apart because every distance is read
    more than once by its packed key."""
    folds = src.selectExpr(
        keep,
        *[
            f"round({_sqdist_sql('embedding', _cemb_sql(v))}, 6) + 0.0D AS __d{i}"
            for i, (_, v) in enumerate(cells)
        ],
    )
    keys = [_argmin_packed_sql(str(int(c)), f"__d{i}") for i, (c, _) in enumerate(cells)]
    best = keys[0] if len(keys) == 1 else f"least({', '.join(keys)})"
    return folds.selectExpr(keep, f"{best} AS __p")


def kmeans_assign(
    emb: DataFrame, cents: DataFrame, impl: str = "auto"
) -> DataFrame:
    """Assign each vector to its nearest centroid by squared L2
    distance: (vec_id, cell, dist), one row per input row.  ``cents``
    is (cell, cemb) with cemb an array<double>.  Ties break to the
    smaller cell id; a NULL distance (NULL or ragged embedding) sorts
    first and a NaN one last.

    The codebook is model-sized, so it is collected once: that one
    bounded collect both picks the leg and supplies the model (free
    when ``cents`` is a ``kmeans_fit`` result, a local relation).
    ``impl``: ``"sql"`` is the relational form below (the oracled
    surface); ``"arrow"`` reuses the PQ encode kernel with one
    subspace (k-means IS product quantization with m=1), which wins
    once the per-row fold count is large; ``"auto"`` (default)
    switches at the shared >= 32-candidate threshold.  The
    cosine-ranked ``ivf_assign`` deliberately has NO arrow form: its
    zero-norm rows produce NULL cosines whose argmax semantics a
    NumPy kernel would have to re-implement exactly -- the round-9
    NULL-vs-NaN bug class -- and nothing at the current scale needs
    it.

    Scale shape (``"sql"``): one narrow projection over the widened
    corpus (``widen_partitions``: a small file scans as one task
    otherwise).  The codebook enters as literal centroids, one flat
    in-row distance fold per cell, and the argmin is a per-row
    ``least`` over the packed keys -- no crossJoin fan-out, no
    broadcast, no vec_id shuffle.  Distances round to 6 decimals
    BEFORE the argmin so a DuckDB oracle (whose sum order differs)
    replays assignment boundaries bit-for-bit.  Flat is the point: a
    round-7 rewrite that nested the distance fold inside an
    ``aggregate`` over a codebook ARRAY fell out of codegen and
    measured ~7x slower than the then crossJoin form.

    Measured on the sf0.1 embeddings (2,000 x 64, k=4, 4-core
    container, warm median of 5): 0.59 s with the former crossJoin +
    vec_id-shuffle argmin, 0.38 s in this form."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    cells = [(r["cell"], r["cemb"]) for r in cents.collect()]  # bounded-model-collect
    if impl == "auto":
        impl = _resolve_train_impl("auto", len(cells))
    if impl == "arrow":
        as_pq = _codebook_frame(emb.sparkSession, cells).select(
            F.lit(0).cast("long").alias("s"), F.col("cell").alias("code"), "cemb"
        )
        return _pq_assign_arrow(emb, as_pq, dim=None, m=1).select(
            "vec_id", F.col("code").alias("cell"), "dist"
        )
    if not cells:
        return emb.selectExpr(
            "vec_id", "CAST(NULL AS BIGINT) AS cell", "CAST(NULL AS DOUBLE) AS dist"
        ).limit(0)
    from ..sources.ingest import widen_partitions

    return _nearest_cell(widen_partitions(emb, "vec_id"), cells, "vec_id").selectExpr(
        "vec_id",
        f"{_argmin_cell_sql('__p')} AS cell",
        f"{_argmin_dist_sql('__p')} AS dist",
    )


def _lloyd_round(src: DataFrame, cells: list) -> DataFrame:
    """One relational Lloyd round as one query: (cell, pos, c), the
    6-decimal mean of coordinate ``pos`` over the rows whose nearest
    cell is ``cell``.  Assignment is ``_nearest_cell``'s in-row
    argmin; the members' embeddings posexplode in the same stage and
    a partial-aggregated (cell, pos) avg crosses the round's only
    exchange -- model-sized partials, never the corpus."""
    return (
        _nearest_cell(src, cells, "embedding")
        .selectExpr(
            f"{_argmin_cell_sql('__p')} AS cell", "posexplode(embedding) AS (pos, e)"
        )
        .groupBy("cell", "pos")
        .agg(
            (F.round(F.avg(F.col("e").cast("double")), 6) + F.lit(0.0)).alias("c")
        )
    )


def kmeans_fit(
    emb: DataFrame, k: int = 4, iters: int = 2, assign_impl: str = "auto"
) -> DataFrame:
    """Distributed Lloyd k-means over the embedding column: trains the
    IVF/SemDeDup codebook that ``ivf_assign`` stubs with the first k
    vectors.  Deterministic: init centroids = vectors 0..k-1, squared
    L2 assignment with ties to the smaller cell, centroid coordinates
    rounded to 6 decimals each round (so an SQL oracle replays every
    iteration exactly).  Returns the final (cell, cemb) codebook; a
    cell that loses all members drops out (production pipelines
    re-seed; at k << n this never happens in practice).

    Scale shape (``"sql"``): the driver holds the codebook -- at most
    31 x dim doubles below the ``"auto"`` switch, the same bounded
    model collect ``_train_round_arrow`` makes (and MLlib's KMeans
    broadcasts every round).  Each round is then ONE query
    (``_lloyd_round``): a single pass over the widened corpus
    folds every distance in-row against the literal codebook, picks
    the cell per row, posexplodes the members and partial-aggregates
    the (cell, pos) means, so the round's one exchange carries
    model-sized partials and a collect brings the new codebook back.
    Nothing corpus-sized is joined, broadcast, checkpointed or
    collected, and the plan of every round is O(k x dim) literals
    regardless of ``iters``.  The result is a local relation, so a
    following ``kmeans_assign`` reads it without a job.

    Measured with the repository benchmark (``training_sf01``, 4-core
    container, ten runs per side): the ``kmeans_codebook`` slot (k=4,
    2 rounds + assign) went from a warm median of 2.34 s with the
    former per-round broadcast + vec_id argmin shuffle +
    ``collect_list`` reassembly + ``localCheckpoint`` to 1.73 s, and
    the traced pass starts 7 Spark jobs while building its queries
    instead of 13.  A fit that stays lazy (the former plan without
    checkpoints) measured 1.55 s against 1.51 s for the collected
    codebook.

    ``assign_impl="arrow"`` runs each Lloyd round through the shared
    batched-NumPy kernel (``_train_round_arrow`` with m=1 -- k-means
    IS product quantization with one subspace): assignment argmin AND
    per-(cell, pos) partial sums in one corpus pass.  Bit-identical
    to the relational ``"sql"`` form on finite data (same round-6
    HALF_UP pre-argmin, same ties, fuzz-pinned); ``"auto"`` (default)
    picks by k -- see ``_resolve_train_impl`` for the measured
    crossover."""
    assign_impl = _resolve_train_impl(assign_impl, k)
    init = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("long").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cemb"),
    )
    if assign_impl == "arrow":
        cents = init.localCheckpoint()
        for _ in range(iters):
            as_pq = cents.select(
                F.lit(0).cast("long").alias("s"),
                F.col("cell").cast("long").alias("code"),
                "cemb",
            )
            cents = (
                _train_round_arrow(emb, as_pq, m=1)
                .select(F.col("code").alias("cell"), "cemb")
                .localCheckpoint()
            )
        return cents
    from ..sources.ingest import widen_partitions

    src = widen_partitions(emb, "vec_id")
    cells = [(r["cell"], r["cemb"]) for r in init.collect()]  # bounded-model-collect
    for _ in range(iters):
        if not cells:
            break
        by_cell: dict = {}
        for r in _lloyd_round(src, cells).collect():  # bounded-model-collect
            by_cell.setdefault(r["cell"], []).append((r["pos"], r["c"]))
        cells = [(c, [v for _, v in sorted(pv)]) for c, pv in sorted(by_cell.items())]
    return _codebook_frame(emb.sparkSession, cells)


# -- product quantization (Jegou, Douze, Schmid 2011: "Product
# Quantization for Nearest Neighbor Search") --------------------------------
#
# The memory leg of the ANN story: IVF prunes WHICH vectors a query
# scans (ivf_topk); PQ shrinks WHAT each scanned vector costs -- a
# dim-float embedding becomes m small codes, and query-vs-vector
# distance becomes m table lookups (ADC).  At 100 TB the encoded
# corpus is ~dim*4/m bytes-per-vector smaller than the raw embeddings
# and the scan never touches the original arrays.


def _pq_subspaces(
    emb: DataFrame, dim: int, m: int, id_col: str = "vec_id"
) -> DataFrame:
    """(id, s, semb): each vector split into its m contiguous
    subvectors IN-ROW (array slices + one posexplode -- a bounded
    m-fold fan-out, no shuffle, no join)."""
    if m <= 0 or dim % m:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    from ..sources.ingest import widen_partitions

    dsub = dim // m
    subs = F.array(
        *[F.slice(F.col("embedding"), s * dsub + 1, dsub) for s in range(m)]
    )
    # widen BEFORE the fan-out: the downstream assign join is a
    # broadcast (narrow), so the m x n_codes interpreted distance
    # folds inherit THIS partitioning -- a small parquet scan's 1-2
    # input splits would serialize the whole training pass onto 1-2
    # cores (measured 84 s -> 9 s per Lloyd round at sf1 with 256
    # codes); at real scale the input is already wide and this no-ops
    return widen_partitions(emb, id_col).select(
        F.col(id_col), F.posexplode(subs).alias("s", "semb")
    ).select(
        id_col,
        F.col("s").cast("long").alias("s"),
        F.transform("semb", lambda x: x.cast("double")).alias("semb"),
    )


def _sqdist_sql(a: str, b: str) -> str:
    """SQL fragment: in-row squared L2 between two array expressions
    -- zip_with the coordinate differences, fold the squares left to
    right.  The single shared definition behind every k-means/PQ
    distance (kmeans_assign/kmeans_fit, _pq_assign, the ADC lookup
    table, the re-rank, stream_pq_encode), so the cast/fold contract
    cannot drift between them."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, (acc, x) -> acc + x)"
    )


def _sqdist(a_col: str, b_col: str):
    """``_sqdist_sql`` between two named array columns, as a Column."""
    return F.expr(_sqdist_sql(a_col, b_col))


def _pq_assign(sub: DataFrame, cents: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Nearest code per (vector, subspace) by squared L2: (id, s,
    code, dist).  Same discipline as kmeans_assign: the (s, code)
    codebook is tiny and broadcast with whole centroid arrays, each
    distance folds in-row, distances round to 6 decimals BEFORE the
    argmin (cross-engine tie stability), ties break to the smaller
    code, and the argmin is a partial-aggregated min_by."""
    sq = _sqdist("semb", "cemb")
    scored = sub.join(F.broadcast(cents), on="s").select(
        id_col, "s", "code", (F.round(sq, 6) + F.lit(0.0)).alias("dist")
    )
    return (
        scored.selectExpr(
            id_col, "s", f"{_argmin_packed_sql('code', 'dist')} AS __pp"
        )
        .groupBy(id_col, "s")
        .agg(F.expr("min(__pp) AS __p"))
        .selectExpr(
            id_col,
            "s",
            f"{_argmin_cell_sql('__p')} AS code",
            f"{_argmin_dist_sql('__p')} AS dist",
        )
    )


def _spark_round6_np(a: "np.ndarray") -> "np.ndarray":
    """Vectorized replica of Spark's round(x, 6) for NON-NEGATIVE
    doubles: BigDecimal HALF_UP over the double's SHORTEST-DECIMAL
    repr (the contract tests/conftest.spark_round6 pins; NOT NumPy's
    banker's rounding).  Fast path: floor(x*1e6 + 0.5) -- exact
    whenever x*1e6 is more than a few ulps away from a .5 boundary.
    Values inside the guard band (where the double product and the
    shortest-decimal repr can disagree about which side of .5 the
    value sits on) fall back to the exact Decimal computation; for
    real distance data that is a measure-~zero sliver, so the
    fallback cost is negligible."""
    import numpy as np

    y = a * 1e6
    fl = np.floor(y)
    frac = y - fl
    out = np.where(frac >= 0.5, fl + 1.0, fl) / 1e6
    band = 4.0 * np.spacing(np.maximum(np.abs(y), 1.0))
    risky = np.abs(frac - 0.5) <= band
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        flat, src = out.reshape(-1), a.reshape(-1)
        for i in np.flatnonzero(risky.reshape(-1)):
            flat[i] = float(
                Decimal(repr(float(src[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def _codebook_mats(rows) -> tuple[dict, int]:
    """Collected (s, code, cemb) codebook rows -> per-subspace
    (codes, centroid-matrix) NumPy pairs, code-ASCENDING so that
    ``np.argmin``'s first-hit IS the smaller-code tie-break the
    relational ``min_by(struct(dist, code))`` applies.  Shared by the
    training-round and encode Arrow kernels so the layout contract
    cannot drift between them."""
    import numpy as np

    dsub = len(rows[0]["cemb"])
    by_s: dict[int, list] = {}
    for r in rows:
        by_s.setdefault(int(r["s"]), []).append((int(r["code"]), list(r["cemb"])))
    mats = {
        s: (
            np.asarray([c for c, _ in sorted(pairs)], dtype="int64"),
            np.asarray([v for _, v in sorted(pairs)], dtype="float64"),
        )
        for s, pairs in by_s.items()
    }
    return mats, dsub


def _train_round_arrow(emb: DataFrame, cents: DataFrame, m: int) -> DataFrame:
    """One FULL Lloyd round (assign + centroid update) as one
    Arrow-batched NumPy pass: returns the new (s, code, cemb)
    codebook under the relational round's exact contract (squared L2
    rounded to 6 decimals with Spark's HALF_UP-on-shortest-repr scheme
    BEFORE the argmin, ties to the smaller code, mean coordinates
    rounded to 6 decimals, memberless codes dropping out).
    Equality with the ``"sql"`` form is fuzz-pinned; the one residual
    divergence class is a distance within ~1 ulp of a 1e-6 rounding
    boundary AND within 1e-6 of a competing candidate (summation
    order differs between NumPy and Catalyst folds) -- the same
    accepted class the round-6-before-argmin contract exists to
    absorb for the DuckDB oracles, with per-argmin probability
    ~1e-11 on continuous data.

    Why this exists (round-8 verdict): the relational assign's
    m x n_codes distance folds are Catalyst ``aggregate`` lambdas --
    interpreted, not codegen'd -- which dominates codebook training at
    256 codes (~10 s per Lloyd round at sf1).  Training is the one
    place a batched NumPy kernel is strictly better: the codebook is
    MODEL PARAMETERS (m x n_codes rows, bounded by construction, the
    same thing MLlib's KMeans collects and broadcasts every round), so
    materializing it driver-side is O(model), never O(data).  The
    SERVING paths (pq_encode / pq_topk / kmeans_assign) stay fully
    relational and plan-pinned -- they are the oracled, composable
    surface.  Reference analog: per-block NumPy kernels are exactly
    how the reference executes its compute (_chunk.py wrappers).

    Scale shape: ONE mapInArrow pass over the (widened) corpus; each
    task computes all m subspace argmins for its batch in C-speed
    NumPy and emits per-(s, code, spos) PARTIAL SUMS (the map-side
    combine -- m x n_codes x dsub rows per batch, model-sized), so the
    only shuffle in a training round carries model-sized partials, not
    the corpus; the final mean + 6-decimal round stays relational on
    that tiny table.  Nothing corpus-sized is collected, shuffled, or
    broadcast."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    rows = cents.collect()  # bounded-model-collect: m x n_codes codebook rows
    mats, dsub = _codebook_mats(rows)
    dim = dsub * m
    spos = np.arange(dsub, dtype="int64")

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            nvec = batch.num_rows
            col = batch.column(1)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            X = np.asarray(col.flatten(), dtype="float64").reshape(nvec, dim)
            cols = {k: [] for k in ("s", "code", "spos", "se", "cnt")}
            for s, (codes, C) in mats.items():
                Xs = X[:, s * dsub : (s + 1) * dsub]
                best = np.empty(nvec, dtype="int64")
                # chunk the (rows x codes x dsub) diff tensor so the
                # kernel's working set stays a few MB per task
                step = max(1, 4_000_000 // max(1, C.shape[0] * dsub))
                for lo in range(0, nvec, step):
                    d = Xs[lo : lo + step, None, :] - C[None, :, :]
                    dist = _spark_round6_np(np.einsum("ijk,ijk->ij", d, d))
                    best[lo : lo + step] = np.argmin(dist, axis=1)
                sums = np.zeros((C.shape[0], dsub))
                np.add.at(sums, best, Xs)
                cnts = np.bincount(best, minlength=C.shape[0])
                used = np.flatnonzero(cnts)
                cols["s"].append(np.full(len(used) * dsub, s, dtype="int64"))
                cols["code"].append(np.repeat(codes[used], dsub))
                cols["spos"].append(np.tile(spos, len(used)))
                cols["se"].append(sums[used].reshape(-1))
                cols["cnt"].append(np.repeat(cnts[used].astype("int64"), dsub))
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(cols[k])) for k in cols],
                names=list(cols),
            )

    src = widen_partitions(emb, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    parts = src.mapInArrow(
        kernel, schema="s long, code long, spos long, se double, cnt long"
    )
    newc = parts.groupBy("s", "code", "spos").agg(
        (F.round(F.sum("se") / F.sum("cnt"), 6) + F.lit(0.0)).alias("c")
    )
    return newc.groupBy("s", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("spos", "c"))), lambda t: t["c"]
        ).alias("cemb")
    )


def _resolve_train_impl(assign_impl: str, n_candidates: int) -> str:
    """Pick the Lloyd-round implementation.  ``"auto"`` chooses the
    batched-NumPy Arrow kernel once the per-vector candidate count
    (codes per subspace / cells) reaches 32: below that the
    relational form wins (its cost is n_rows x candidates interpreted
    in-row folds, one query per round; the kernel's is a fixed
    Python-worker round-trip + a per-round model collect -- measured
    crossover ~32 at both 2k and 20k vectors against the former
    crossJoin rounds, with the kernel 12x ahead by 256 candidates).
    Re-measured for kmeans_fit + kmeans_assign with one-query rounds
    (sf0.1, 2,000 x 64, 2 rounds, 4-core container, median of 6): k=4
    sql 1.38 s vs arrow 2.18 s, k=16 2.21 vs 2.14 s, k=32 3.09 vs
    2.09 s -- the crossover now sits between 16 and 32.  The two
    forms are bit-identical on finite data (fuzz-pinned), so this is
    purely a cost choice; callers can force either."""
    if assign_impl == "auto":
        return "arrow" if n_candidates >= 32 else "sql"
    if assign_impl not in ("arrow", "sql"):
        raise ValueError(
            f"assign_impl must be 'auto', 'arrow' or 'sql', got {assign_impl!r}"
        )
    return assign_impl


def pq_train(
    emb: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 4,
    iters: int = 2,
    assign_impl: str = "auto",
) -> DataFrame:
    """Train a product-quantization codebook: an independent
    ``n_codes``-centroid Lloyd k-means per subspace, all m subspaces
    advancing inside the SAME jobs.  Deterministic like kmeans_fit:
    init code c of every subspace = vector c's subvector, squared-L2
    assignment with 6-decimal pre-argmin rounding and ties to the
    smaller code, centroid coordinates rounded to 6 decimals per
    round.  Returns the (s, code, cemb) codebook (m x n_codes rows --
    always broadcastable).  ``dim`` is the embedding length (schema
    metadata every real pipeline knows); it must divide by ``m``.

    Scale shape: identical to kmeans_fit per round -- one assignment
    pass (``assign_impl``: ``"arrow"`` runs the whole Lloyd round as a
    batched NumPy mapInArrow kernel, see ``_train_round_arrow``;
    ``"sql"`` keeps the relational broadcast-join + interpreted-fold
    form; ``"auto"``, the default, picks by candidate count -- see
    ``_resolve_train_impl``), then for the sql form one posexplode +
    groupBy(s, code, spos) mean (map-side partial sums);
    localCheckpoint keeps the iterated plan O(1) either way."""
    assign_impl = _resolve_train_impl(assign_impl, n_codes)
    sub = _pq_subspaces(emb, dim, m)
    cents = (
        sub.filter(F.col("vec_id") < n_codes)
        .select("s", F.col("vec_id").cast("long").alias("code"), F.col("semb").alias("cemb"))
        .localCheckpoint()
    )
    for _ in range(iters):
        if assign_impl == "arrow":
            cents = _train_round_arrow(emb, cents, m).localCheckpoint()
            continue
        asg = _pq_assign(sub, cents).select("vec_id", "s", "code")
        ex = sub.select("vec_id", "s", F.posexplode("semb").alias("spos", "e"))
        newc = (
            ex.join(asg, on=["vec_id", "s"])
            .groupBy("s", "code", "spos")
            .agg((F.round(F.avg(F.col("e")), 6) + F.lit(0.0)).alias("c"))
        )
        arr = newc.groupBy("s", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("spos", "c"))),
                lambda t: t["c"],
            ).alias("cemb")
        )
        cents = arr.localCheckpoint()
    return cents


def _auto_rerank(n: int) -> int:
    """The rerank="auto" shortlist rule: r = clamp(ceil(n / 600), 8,
    1024), calibrated in SCALE.md's decade series -- n is the pool
    the ADC scan actually ranks (the corpus for pq_topk, the probed
    fraction for ivf_pq_topk).  Floor 8 covers tiny pools; the 1024
    ceiling is the round-10 bound (the 256 ceiling measurably lost
    recall at 600k; 1024 passed its saturation test at 1.8M --
    forensics/r10_sf{30,90}_ann.json)."""
    return max(8, min(1024, -(-n // 600)))


def _pq_assign_arrow(
    emb: DataFrame, cents: DataFrame, dim: int | None, m: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """The encode counterpart of ``_train_round_arrow``: nearest code
    per (vector, subspace) computed in ONE mapInArrow pass -- batched
    NumPy argmin under the exact relational contract (squared L2
    rounded to 6 decimals with Spark's HALF_UP-on-shortest-repr
    scheme BEFORE the argmin, ties to the smaller code).  Output
    (id, s, code, dist), identical to ``_pq_assign``; equality is
    fuzz-pinned, with the same accepted ~1e-11 divergence class as
    training (a distance within ~1 ulp of a 1e-6 rounding boundary
    AND within 1e-6 of a competing candidate).

    Why this exists (round-10 scale finding): the relational assign
    explodes to corpus x m x n_codes rows of interpreted ``aggregate``
    folds -- at 256 codes that is a 256x row blowup per subspace
    (1.2e9 fold rows for a 600k corpus, ~700 s measured), and encode
    is HALF the index build the training fix left behind.  The kernel
    emits exactly corpus x m rows, nothing corpus-sized is collected
    or broadcast, and the codebook it reads is model parameters (the
    same bounded collect the training round makes)."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    rows = cents.collect()  # bounded-model-collect: m x n_codes codebook rows
    mats, dsub = _codebook_mats(rows)
    if dim is None:
        dim = dsub * m
    if dsub * m != dim:
        raise ValueError(
            f"codebook subvector length {dsub} x m={m} != dim {dim}"
        )

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            nvec = batch.num_rows
            ids = np.asarray(batch.column(0), dtype="int64")
            col = batch.column(1)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            X = np.asarray(col.flatten(), dtype="float64").reshape(nvec, dim)
            out_s, out_code, out_dist = [], [], []
            for s, (codes, C) in mats.items():
                Xs = X[:, s * dsub : (s + 1) * dsub]
                best = np.empty(nvec, dtype="int64")
                dmin = np.empty(nvec, dtype="float64")
                # chunk the (rows x codes x dsub) diff tensor so the
                # working set stays a few MB per task
                step = max(1, 4_000_000 // max(1, C.shape[0] * dsub))
                for lo in range(0, nvec, step):
                    d = Xs[lo : lo + step, None, :] - C[None, :, :]
                    dist = _spark_round6_np(np.einsum("ijk,ijk->ij", d, d))
                    am = np.argmin(dist, axis=1)
                    best[lo : lo + step] = am
                    dmin[lo : lo + step] = dist[np.arange(dist.shape[0]), am]
                out_s.append(np.full(nvec, s, dtype="int64"))
                out_code.append(codes[best])
                out_dist.append(dmin)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.tile(ids, len(mats))),
                    pa.array(np.concatenate(out_s)),
                    pa.array(np.concatenate(out_code)),
                    pa.array(np.concatenate(out_dist)),
                ],
                names=[id_col, "s", "code", "dist"],
            )

    src = widen_partitions(emb, id_col).select(
        F.col(id_col).cast("long").alias(id_col),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    return src.mapInArrow(
        kernel, schema=f"{id_col} long, s long, code long, dist double"
    )


def pq_encode(
    emb: DataFrame, cents: DataFrame, dim: int, m: int = 4,
    impl: str = "auto",
) -> DataFrame:
    """Quantize every vector against a trained PQ codebook: (vec_id,
    s, code, dist) -- the long-form index ``pq_topk`` scans (persist
    it once at ingest, like ``ivf_topk``'s ``assign``), with ``dist``
    the per-subspace quantization error (the reconstruction-quality
    diagnostic).

    ``impl``: ``"sql"`` is the relational form (bounded m-fold
    fan-out + broadcast join + partial-aggregated argmin -- the
    oracled, plan-pinned surface); ``"arrow"`` runs the argmin as a
    batched NumPy mapInArrow kernel (``_pq_assign_arrow``) -- at 256
    codes the relational form's corpus x m x n_codes interpreted fold
    rows dominate the whole index build, the same economics that
    moved training to Arrow in round 9; ``"auto"`` (default) picks by
    codebook size with the training threshold (arrow at >= 32
    codes)."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    if impl == "sql":
        return _pq_assign(_pq_subspaces(emb, dim, m), cents)
    if impl == "auto":
        # the codebook is model-sized; counting it is O(model).
        # m rows per code -> n_codes = rows / m
        n_codes = cents.count() // max(1, m)
        impl = _resolve_train_impl("auto", n_codes)
    if impl == "sql":
        return _pq_assign(_pq_subspaces(emb, dim, m), cents)
    return _pq_assign_arrow(emb, cents, dim, m)


def pq_pack(codes: DataFrame) -> DataFrame:
    """Pack the long-form PQ index into one (vec_id, codes) row per
    vector (codes[s] = code), the storage layout a serving sink
    writes: m small ints replacing dim floats."""
    return codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))), lambda t: t["code"]
        ).alias("codes")
    )


def _code_index(code_vals, cs):
    """Map an int64 array of CORPUS codes onto LUT rows by VALUE:
    ``code_vals`` is the codebook's sorted distinct codes (the axis
    ``_adc_lut`` laid its table out on), and the return is (inr, idx)
    where ``inr`` marks codes present in the codebook -- exactly the
    rows the relational inner join would match, negatives included --
    and ``idx`` is their LUT row (0 where absent; callers gate on
    ``inr``).  A contiguous 0..n-1 codebook (every ``pq_encode``
    output) takes the direct-index fast path, so the remap costs
    nothing on the production shape and the searchsorted probe runs
    only for hostile/user-supplied sparse or negative code tables
    (round-13 ADVICE: the direct ``0 <= code`` gate silently dropped
    codes the relational join scores)."""
    import numpy as np

    n_codes = int(code_vals.size)
    if n_codes == 0:
        z = np.zeros(np.shape(cs), dtype="int64")
        return z.astype(bool), z
    if code_vals[0] == 0 and code_vals[-1] == n_codes - 1:
        inr = (cs >= 0) & (cs < n_codes)
        return inr, np.where(inr, cs, 0)
    pos = np.searchsorted(code_vals, cs)
    posc = np.clip(pos, 0, max(0, n_codes - 1))
    inr = (pos < n_codes) & (code_vals[posc] == cs)
    return inr, np.where(inr, posc, 0)


def _adc_lut(emb: DataFrame, query_ids, cents: DataFrame, dim: int, m: int):
    """Driver-side ADC layout shared by the PQ arrow kernels:
    (qids, lut[s, ci, q], lutv[s, ci, q], seen[s, ci], code_vals),
    or None when no query resolves.  ``ci`` is the code's row in
    ``code_vals`` (the codebook's sorted distinct code VALUES):
    laying the table out on values rather than raw ints keeps bit
    parity with the relational join on negative/sparse codes and
    bounds the allocation by the codebook's true cardinality, never
    by one hostile huge code (round-13 ADVICE).  Corpus codes remap
    through ``_code_index``.

    Entry semantics replicate the relational pipeline ENTRY FOR
    ENTRY: d(q, s, code) is ``_sqdist``'s sequential element fold
    over zip_with(query subspace SLICE, centroid) then round6 + 0.0.
    zip_with pads the shorter side with NULL, so a length mismatch
    (including a NULL query embedding, whose slices are all NULL)
    folds to NULL -- ``lutv`` False, contribution skipped by the sum
    exactly like Spark's SUM skips NULL d rows.  A NULL ELEMENT
    inside either array poisons its fold the same way (the product
    is NULL, then acc + NULL stays NULL), so a query slice or
    centroid carrying one is an invalid entry too, never a driver
    crash (round-13 ADVICE: float(None) raised here while the
    relational form served the NULL-fold semantics).  A corpus
    narrower than the declared ``dim`` degrades consistently: its
    codebook's upper subspaces are EMPTY slices, and empty-vs-empty
    folds to a real 0.0 (valid), never NULL.  ``seen`` marks (s,
    code) pairs present in the codebook at all (the relational inner
    join emits nothing for absent pairs)."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    dsub = dim // m
    qrows = (
        emb.filter(F.col("vec_id").isin(list(query_ids)))
        .select(F.col("vec_id").cast("long").alias("qid"), "embedding")
        .collect()  # bounded-model-collect: |query_ids| query vectors
    )
    qs = [(int(r["qid"]), r["embedding"]) for r in qrows]
    if not qs:
        return None
    qids = np.array([q[0] for q in qs], dtype="int64")
    # ragged/NULL queries ride as python lists, None ELEMENTS kept
    # (they mark NULL folds below); slicing mirrors F.slice's
    # truncation past the end
    qemb = [[] if q[1] is None else list(q[1]) for q in qs]
    qnull = np.array([q[1] is None for q in qs])
    nq = len(qids)
    crows = cents.select(
        "s", "code", "cemb"
    ).collect()  # bounded-model-collect: m x n_codes codebook rows
    code_vals = np.unique(
        np.array([int(r["code"]) for r in crows], dtype="int64")
    )
    n_codes = int(code_vals.size)
    if n_codes == 0:
        return None
    lut = np.zeros((m, n_codes, nq))
    lutv = np.zeros((m, n_codes, nq), dtype=bool)
    seen = np.zeros((m, n_codes), dtype=bool)
    uniform = (
        not qnull.any()
        and all(len(e) == dim for e in qemb)
        and not any(x is None for e in qemb for x in e)
    )
    Qm = np.array(qemb, dtype="float64") if uniform else None
    with np.errstate(all="ignore"):
        for r in crows:
            s, code, cemb = int(r["s"]), int(r["code"]), r["cemb"]
            if not (0 <= s < m):
                continue  # the relational join on s never matches
            ci = int(np.searchsorted(code_vals, code))
            seen[s, ci] = True
            if cemb is None:
                continue  # zip_with(x, NULL) -> NULL: invalid entry
            if any(x is None for x in cemb):
                continue  # NULL centroid element -> NULL fold, all q
            ce = np.asarray(list(cemb), dtype="float64")
            if uniform and ce.size == dsub:
                # the production shape: one vectorized fold across
                # queries per (s, code), same sequential element order
                acc = np.zeros(nq)
                for e in range(dsub):
                    diff = Qm[:, s * dsub + e] - ce[e]
                    acc += diff * diff
                lut[s, ci, :] = _spark_round6_signed(acc) + 0.0
                lutv[s, ci, :] = True
                continue
            for j in range(nq):
                if qnull[j]:
                    continue  # NULL query slice -> NULL fold
                qs_j = qemb[j][s * dsub : s * dsub + dsub]
                if len(qs_j) != ce.size:
                    continue  # zip_with pads -> NULL fold
                if any(x is None for x in qs_j):
                    continue  # NULL query element -> NULL fold
                acc1 = 0.0
                for e in range(ce.size):
                    diff = float(qs_j[e]) - ce[e]
                    acc1 += diff * diff
                lut[s, ci, j] = float(
                    _spark_round6_signed(np.array([acc1]))[0]
                ) + 0.0
                lutv[s, ci, j] = True
    return qids, lut, lutv, seen, code_vals


def _adc_score_batch(batch, m, code_vals, lut, lutv, seen, qids):
    """THE shared ADC scoring body for one arrow batch of packed
    (vec_id, codes) rows: returns (ids, dist, ok) -- dist the round-6
    subspace-sum replica, ok the full relational exclusion mask
    (self, NaN, no matching codebook entry, all-NULL fold) -- or None
    when nothing scoreable survives.  Shared by the serving kernel
    and the large-shortlist threshold kernel so the fold/exclusion
    contract cannot drift between the pass that PICKS the pruning
    threshold and the pass that APPLIES it."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if batch.num_rows == 0:
        return None
    names = batch.schema.names
    ccol = batch.column(names.index("codes"))
    if isinstance(ccol, pa.ChunkedArray):
        ccol = ccol.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(ccol), -1)
    keep_rows = pc.and_(pc.is_valid(ccol), pc.equal(lens, m))
    if not pc.all(keep_rows).as_py():
        batch = batch.filter(keep_rows)
        if batch.num_rows == 0:
            return None
        ccol = batch.column(names.index("codes"))
        if isinstance(ccol, pa.ChunkedArray):
            ccol = ccol.combine_chunks()
    n = batch.num_rows
    ids = np.asarray(batch.column(names.index("vec_id")), dtype="int64")
    C = np.asarray(ccol.flatten(), dtype="int64").reshape(n, m)
    nq = len(qids)
    D = np.empty((n, nq))
    matched = np.zeros(n, dtype="int64")
    valid_any = np.empty((n, nq), dtype=bool)
    with np.errstate(all="ignore"):
        # row-blocked accumulation: the (block, nq) working set stays
        # cache-resident across the m subspace passes instead of m
        # full DRAM round-trips over an (n, nq) accumulator -- the
        # per-element op sequence (ascending s, where/add) is
        # unchanged, so the fold stays bit-identical
        for r0 in range(0, n, _ADC_ROW_BLOCK):
            r1 = min(n, r0 + _ADC_ROW_BLOCK)
            Db = np.zeros((r1 - r0, nq))
            vb = np.zeros((r1 - r0, nq), dtype=bool)
            for s in range(m):
                inr, idx = _code_index(code_vals, C[r0:r1, s])
                hit = inr & seen[s, idx]
                v = lutv[s, idx, :] & hit[:, None]
                Db += np.where(v, lut[s, idx, :], 0.0)
                vb |= v
                matched[r0:r1] += hit
            D[r0:r1] = Db
            valid_any[r0:r1] = vb
        dist = _spark_round6_signed(D) + 0.0
        # matched>0: the relational group exists (>=1 join row);
        # valid_any: dist is not the all-NULL SUM
        ok = (
            (ids[:, None] != qids[None, :])
            & ~np.isnan(dist)
            & (matched > 0)[:, None]
            & valid_any
        )
    return ids, dist, ok


def _adc_score_cell_blocks(
    batch, m, code_vals, lut, lutv, seen, qids, lut_cells, allowed
):
    """Cell-blocked variant of ``_adc_score_batch`` for the composed
    IVF x PQ path: yields (ids, dist, ok, qsel) per probed-cell block
    of one arrow batch of (vec_id, cell, codes) rows, where ``qsel``
    indexes the queries probing that block's cell -- the blocking
    that keeps compute equal to the relational candidate pair count.
    Shared by the composed serving kernel and the composed threshold
    kernel so the two passes score on one contract."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if batch.num_rows == 0:
        return
    names = batch.schema.names
    ccol = batch.column(names.index("codes"))
    if isinstance(ccol, pa.ChunkedArray):
        ccol = ccol.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(ccol), -1)
    keep_rows = pc.and_(pc.is_valid(ccol), pc.equal(lens, m))
    if not pc.all(keep_rows).as_py():
        batch = batch.filter(keep_rows)
        if batch.num_rows == 0:
            return
        ccol = batch.column(names.index("codes"))
        if isinstance(ccol, pa.ChunkedArray):
            ccol = ccol.combine_chunks()
    n = batch.num_rows
    ids = np.asarray(batch.column(names.index("vec_id")), dtype="int64")
    cellv = np.asarray(batch.column(names.index("cell")), dtype="int64")
    C = np.asarray(ccol.flatten(), dtype="int64").reshape(n, m)
    order = np.argsort(cellv, kind="stable")
    sc = cellv[order]
    starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
    ends = np.r_[starts[1:], sc.size]
    for s0, e0 in zip(starts, ends):
        qsel = allowed[np.searchsorted(lut_cells, sc[s0]), :]
        qsel = np.flatnonzero(qsel)
        if qsel.size == 0:
            continue
        rows = order[s0:e0]
        idsb = ids[rows]
        Db = np.zeros((rows.size, qsel.size))
        matched = np.zeros(rows.size, dtype="int64")
        valid_any = np.zeros((rows.size, qsel.size), dtype=bool)
        with np.errstate(all="ignore"):
            qcols = qsel[None, :]
            for s in range(m):
                inr, idx = _code_index(code_vals, C[rows, s])
                hit = inr & seen[s, idx]
                # direct (rows, |qsel|) gather -- the chained
                # [idx][:, qsel] form materializes the full (rows,
                # |q|) slab first, paying the unprobed columns
                v = lutv[s][idx[:, None], qcols] & hit[:, None]
                Db += np.where(v, lut[s][idx[:, None], qcols], 0.0)
                valid_any |= v
                matched += hit
            dist = _spark_round6_signed(Db) + 0.0
            ok = (
                (idsb[:, None] != qids[qsel][None, :])
                & ~np.isnan(dist)
                & (matched > 0)[:, None]
                & valid_any
            )
        yield idsb, dist, ok, qsel


def _adc_thresholds(src, score_blocks, qids, keep):
    """EXACT per-query ``keep``-th smallest valid ADC distance over
    ``src`` -- the pruning bound for large-shortlist serving (round
    13).  ``score_blocks(batch)`` yields (ids, dist, ok, qsel) blocks
    (the flat scorer wraps ``_adc_score_batch`` with qsel = all; the
    composed path passes ``_adc_score_cell_blocks``), so the
    threshold pass prices EXACTLY the candidate pairs its serving
    kernel will score.  Returns t[len(qids)] float64 (+inf when a
    query has fewer than ``keep`` valid rows: no pruning, still
    exact).

    Why: a keep of k x rerank ~ 10^4 is ABOVE Spark's window
    group-limit pushdown threshold, so the relational shortlist
    window total-sorts the full corpus x queries candidate relation
    (measured 600k x 256q: the sort alone dominated the whole +R
    pipeline).  With the exact keep-th distance in hand, the serving
    scan emits only rows <= t (>= keep of them, ties included -- a
    provable superset of the bottom-keep) and the exact window ranks
    a ~|q| x keep relation instead.

    Shape (one eager Spark job at plan-build, the arrow route's
    documented exception): stage 1 -- the shared scorer streams each
    partition and keeps, per query, its bottom-min(keep, rows)
    distances (bounded buffers, compacted at 4x keep); stage 2 -- the
    (qid, partial) rows shuffle BY QUERY and one arrow task per query
    merges its <= partitions x keep values to the keep-th smallest.
    Nothing corpus-sized ever reaches the driver: the collect is
    |q| rows of one double.  Shuffle volume is bounded by |q| x keep
    x partitions doubles -- at production partition counts a few
    percent of the codes relation it prices, and linear in it."""
    import numpy as np

    kk = int(keep)
    nq = len(qids)

    def partial_kernel(batches):
        import pyarrow as pa

        bufs = [[] for _ in range(nq)]
        sizes = np.zeros(nq, dtype="int64")
        for batch in batches:
            for ids, dist, ok, qsel in score_blocks(batch):
                for jj in range(qsel.size):
                    j = int(qsel[jj])
                    dj = dist[ok[:, jj], jj]
                    if dj.size == 0:
                        continue
                    bufs[j].append(dj)
                    sizes[j] += dj.size
                    if sizes[j] > 4 * kk:
                        merged = np.concatenate(bufs[j])
                        merged = np.partition(merged, kk - 1)[:kk]
                        bufs[j] = [merged]
                        sizes[j] = merged.size
        out_q, out_d = [], []
        for j in range(nq):
            if not bufs[j]:
                continue
            dj = np.concatenate(bufs[j])
            if dj.size > kk:
                dj = np.partition(dj, kk - 1)[:kk]
            out_q.append(int(qids[j]))
            out_d.append(dj)
        if not out_q:
            return
        # zero-copy list column: |q| x keep doubles per partition is
        # real data -- boxing it through python lists measured ~8 s
        # of the whole pass at 600k x 256q
        lens = np.asarray([d.size for d in out_d], dtype="int64")
        offs = np.zeros(lens.size + 1, dtype="int32")
        np.cumsum(lens, out=offs[1:])
        dvals = pa.ListArray.from_arrays(
            pa.array(offs), pa.array(np.concatenate(out_d))
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.asarray(out_q, dtype="int64")), dvals],
            names=["qid", "dvals"],
        )

    def merge_kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        by_q: dict[int, list] = {}
        for batch in batches:
            names = batch.schema.names
            qv = np.asarray(batch.column(names.index("qid")), dtype="int64")
            dcol = batch.column(names.index("dvals"))
            if isinstance(dcol, pa.ChunkedArray):
                dcol = dcol.combine_chunks()
            lens = np.asarray(pc.list_value_length(dcol), dtype="int64")
            flat = np.asarray(dcol.flatten(), dtype="float64")
            offs = np.zeros(lens.size + 1, dtype="int64")
            np.cumsum(lens, out=offs[1:])
            for i in range(batch.num_rows):
                by_q.setdefault(int(qv[i]), []).append(
                    flat[offs[i]:offs[i + 1]]
                )
        if not by_q:
            return
        out_q, out_t = [], []
        for q, parts in by_q.items():
            merged = np.concatenate(parts)
            if merged.size < kk:
                # fewer than keep valid rows anywhere: no pruning
                out_q.append(q)
                out_t.append(float("inf"))
                continue
            out_q.append(q)
            out_t.append(float(np.partition(merged, kk - 1)[kk - 1]))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(out_q, dtype="int64")),
                pa.array(np.asarray(out_t, dtype="float64")),
            ],
            names=["qid", "t"],
        )

    # partial size is |q| x min(keep, partition rows) doubles PER
    # PARTITION: rerank-grade keep usually exceeds a scan partition's
    # row count, so the bottom-keep truncation never bites and the
    # merge shuffle grows linearly in partition count (measured
    # ~1.2 GB at 600k x 256q x 64 partitions).  Coalesce the
    # threshold scan to a handful of keep-sized partitions -- the
    # fold is vectorized NumPy, so a few fat tasks lose little
    # compute parallelism and cut the merge shuffle ~partitions-fold.
    par = max(1, src.sparkSession.sparkContext.defaultParallelism)
    partials = src.coalesce(min(8, par)).mapInArrow(
        partial_kernel, schema="qid long, dvals array<double>"
    )
    trows = (
        partials.repartition("qid")
        .mapInArrow(merge_kernel, schema="qid long, t double")
        .collect()  # bounded-model-collect: |query_ids| threshold rows
    )
    tmap = {int(r["qid"]): float(r["t"]) for r in trows}
    return np.array(
        [tmap.get(int(q), np.inf) for q in qids], dtype="float64"
    )


def _pq_topk_arrow(
    packed: DataFrame,
    emb: DataFrame,
    query_ids,
    cents: DataFrame,
    dim: int,
    m: int,
    keep: int,
) -> DataFrame | None:
    """Arrow scan for ``pq_topk``'s ADC pass (packed codes, no
    candidates): the per-query (s, code) -> distance lookup table is
    built ON THE DRIVER from the collected query vectors and the
    collected codebook (both model-sized -- |q| x m x n_codes floats;
    the same bounded class as every other model collect), then one
    mapInArrow pass folds dist[row, q] = sum_s lut[q, s, code_row_s]
    with per-batch bottom-k threshold pruning.  A rerank-grade keep
    (> ``_ARROW_ADC_MAX_KEEP``) first runs the ``_adc_thresholds``
    eager scan and additionally gates on the exact per-query keep-th
    distance, keeping the emission ~|q| x keep rows (round 13).

    Bit-parity with the relational form: per-(s, code) distances
    replicate ``_sqdist``'s sequential element fold then round6 +
    0.0 (``_adc_lut``, including the NULL-fold validity mask for
    ragged/NULL queries and sub-``dim`` corpora); the subspace sum
    accumulates in ascending s (the relational scan's arrival
    order), skipping NULL entries exactly like Spark's SUM; the
    total re-rounds like the relational ``round6(sum(d))``;
    exclusions match (self, NaN dist, all-NULL dist, rows with no
    matching codebook entry).  Returns None when no query
    resolves."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    layout = _adc_lut(emb, query_ids, cents, dim, m)
    if layout is None:
        return None
    qids, lut, lutv, seen, code_vals = layout
    kk = int(keep)

    src = widen_partitions(packed, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"), "codes"
    )
    # large shortlists (rerank-grade keep) are where the per-batch
    # bottom-keep stops pruning (keep ~ batch rows -> the kernel
    # emits ~corpus x queries rows) AND where the relational window
    # total-sorts (keep above Spark's group-limit pushdown bound):
    # prune with the EXACT per-query keep-th distance instead -- one
    # eager scan, then the serving emission is ~|q| x keep rows
    def score_blocks(batch):
        scored = _adc_score_batch(batch, m, code_vals, lut, lutv, seen, qids)
        if scored is not None:
            ids, dist, ok = scored
            yield ids, dist, ok, np.arange(len(qids))

    thr = (
        _adc_thresholds(src, score_blocks, qids, kk)
        if kk > _ARROW_ADC_MAX_KEEP
        else None
    )

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            scored = _adc_score_batch(
                batch, m, code_vals, lut, lutv, seen, qids
            )
            if scored is None:
                continue
            ids, dist, ok = scored
            if thr is not None:
                # rows above the exact global keep-th distance cannot
                # be in the bottom-keep (>= keep rows sort strictly
                # below them on dist alone); <= keeps boundary ties,
                # the window's (dist, vec_id) order then cuts exactly
                ok = ok & (dist <= thr[None, :])
            arrays = _batch_bottomk_rows(ids, dist, ok, qids, kk)
            if arrays is None:
                continue
            yield pa.RecordBatch.from_arrays(
                arrays, names=["qid", "vec_id", "dist"]
            )

    cand = src.mapInArrow(kernel, schema="qid long, vec_id long, dist double")
    w = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= keep)
        .select(
            "qid",
            (F.col("rank") - 1).cast("long").alias("rank"),
            "vec_id",
            "dist",
        )
    )


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    cents: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 5,
    codes: DataFrame | None = None,
    rerank: int | str | None = None,
    candidates: DataFrame | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus:
    queries stay raw, corpus vectors are their m codes, and each
    query x vector distance is the sum of m per-subspace lookups in a
    (qid, s, code) -> distance table built once per query.  Output
    (qid, rank, vec_id, dist) ranked by ADC distance ascending, ties
    to the smaller vec_id -- rank is 0-BASED and the query vector is
    EXCLUDED from its own result, the same convention as cosine_topk
    and sq8_topk (round-8 ADVICE: the tiers must be swappable without
    silently losing a neighbor).

    Scale shape: the lookup table is |queries| * m * n_codes rows --
    tiny -- and broadcast; the encoded corpus (``codes``, from
    ``pq_encode``, typically persisted -- recomputing it per query
    re-pays the assignment pass, the same amortization lesson
    SCALE.md records for ivf_topk) flows through ONE broadcast-hash
    join and a partial-aggregated (qid, vec_id) sum; the raw
    embedding column is never read for the scan.  Composes with IVF:
    feed ``codes`` pre-filtered to the probed cells.

    ``rerank=r`` adds the standard ADC refinement step (the "IVFADC+R"
    shape): the ADC pass keeps a k*r shortlist per query, then ONLY
    those |queries| * k * r vectors are re-scored with the exact
    squared L2 on their raw embeddings and re-ranked to k.  Coarse
    quantization collapses nearby vectors onto few distinct ADC
    values (ties), which caps recall at small k; re-ranking restores
    it while still never scanning raw embeddings corpus-wide -- the
    tiny shortlist broadcasts and hash-probes the corpus scan.

    ``rerank="auto"`` picks r from the corpus size: coarse
    quantization collapses ~n / (n_codes^m distinct ADC values)
    vectors onto each tied distance, so the shortlist that covers the
    true top-k must GROW with n -- the SCALE.md measurement (recall
    0.89 at 20k vectors with r=32, falling to 0.79 at 60k with r
    held fixed) calibrates the rule r = clamp(ceil(n / 600), 8, 1024),
    which reproduces the r=32 operating point at 20k and triples the
    shortlist by 60k.  The corpus size comes from one count() of the
    id column (a metadata-cheap scan; pass an int ``rerank`` to skip
    it when the size is already known).  The ceiling was 256 through
    round 9; the 600k-vector decade (forensics/r10_sf30_ann.json)
    measured the saturated clamp LOSING recall for the first time
    (0.95 clamped vs 1.00 at the rule's unclamped r=1000, +1.0 s on a
    17 s brute baseline), so the bound moved up a scale decade --
    rerank cost stays query-bounded (r exact distances per query),
    never corpus-shaped.

    ``candidates`` restricts the ADC scan per query: a (qid, vec_id)
    relation -- e.g. IVF probe membership from ``ivf_pq_topk`` -- and
    only those pairs are scored (the lookup join keys on qid too, so
    query A's shortlist never pays for query B's cells).

    ``codes`` accepts either the long form from ``pq_encode`` or the
    PACKED (vec_id, codes) layout from ``pq_pack`` -- pass the packed
    relation in production: it is the ~dim*4/m-times-smaller table
    (8 small ints per 64-float vector at m=8) and unpacks in-row with
    one bounded posexplode, so the ADC scan reads only it.

    ``impl``: like ``cosine_topk`` -- ``"auto"`` (default) routes the
    packed no-candidates ADC scan on estimated pair work (packed size
    estimate x |query_ids| vs ``_ARROW_AUTO_MIN_WORK_BYTES``): large
    work runs the driver-LUT mapInArrow kernel (``_pq_topk_arrow``,
    bit-identical, fuzz-pinned), small work stays on the lazy
    relational join.  A rerank-grade shortlist (k*rerank >
    ``_ARROW_ADC_MAX_KEEP``) adds one eager threshold scan
    (``_adc_thresholds``: the exact per-query keep-th ADC distance)
    so the serving emission stays ~|q| x keep rows -- per-batch
    pruning alone cannot shrink it there, and the relational window
    total-sorts corpus x queries rows (both measured, SCALE.md
    rounds 12-13).
    Long-form codes and ``candidates`` scans always run relationally
    (explicit ``impl="arrow"`` raises on BOTH rather than silently
    switching -- round-13 ADVICE).  The exact re-rank stage is
    query-bounded; its scoring fold has its own arrow kernel
    (``_exact_rerank``, routed on shortlist size)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rerank == "auto":
        n = emb.select("vec_id").count()
        rerank = _auto_rerank(n)
    if rerank is not None and (
        not isinstance(rerank, int) or isinstance(rerank, bool) or rerank < 1
    ):
        raise ValueError(
            f"rerank must be >= 1, 'auto', or None for pure ADC, got {rerank!r}"
        )
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    if impl == "arrow" and candidates is not None:
        # same rule as long-form codes: a caller forcing the kernel
        # path gets a loud error, never a silent plan change
        # (round-13 ADVICE) -- candidate scans run relationally
        raise ValueError(
            "pq_topk impl='arrow' does not support candidates; "
            "candidate-restricted scans run relationally (impl='sql'/'auto')"
        )
    if codes is None:
        codes = pq_encode(emb, cents, dim, m)
    packed = codes if "codes" in codes.columns else None
    keep = k if rerank is None else k * rerank
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    adc = None
    if candidates is None and impl != "sql":
        if packed is None:
            if impl == "arrow":
                raise ValueError(
                    "pq_topk impl='arrow' needs the PACKED codes layout "
                    "(pq_pack output); long-form codes run relationally"
                )
        else:
            use = impl == "arrow"
            if impl == "auto":
                sz = _plan_stats_bytes(packed)
                use = not (
                    sz is not None
                    and sz * max(1, len(query_ids))
                    < _ARROW_AUTO_MIN_WORK_BYTES
                )
            if use:
                adc = _pq_topk_arrow(
                    packed, emb, query_ids, cents, dim, m, keep
                )
    if adc is None:
        if "codes" in codes.columns:  # packed layout: unpack in-row
            codes = codes.select(
                "vec_id", F.posexplode("codes").alias("s", "code")
            ).select("vec_id", F.col("s").cast("long").alias("s"), "code")
        qsub = _pq_subspaces(
            emb.filter(F.col("vec_id").isin(query_ids)), dim, m
        ).withColumnRenamed("vec_id", "qid")
        sq = _sqdist("semb", "cemb")
        dtab = qsub.join(F.broadcast(cents), on="s").select(
            "qid", "s", "code", (F.round(sq, 6) + F.lit(0.0)).alias("d")
        )
        base = codes.select("vec_id", "s", "code")
        keys = ["s", "code"]
        if candidates is not None:
            # per-query restriction (the IVF x PQ composition): attach
            # each candidate's qid to its code rows, then key the
            # lookup join on qid too so a vector probed only by query
            # A never scores for query B.  The candidate relation is
            # (probe fraction x corpus) per query -- joined, never
            # broadcast.
            base = base.join(candidates.select("qid", "vec_id"), on="vec_id")
            keys = ["qid", "s", "code"]
        scored = (
            base.join(F.broadcast(dtab), on=keys)
            .filter(F.col("vec_id") != F.col("qid"))
            .groupBy("qid", "vec_id")
            .agg((F.round(F.sum("d"), 6) + F.lit(0.0)).alias("dist"))
            # round-12 exclusions, mirrored by the arrow kernels: a
            # NULL dist (every subspace lookup folded NULL -- e.g. a
            # NULL query embedding) previously ranked FIRST under asc;
            # NaN payloads fold to NaN distances, which sort LAST but
            # could still fill an underfull top-k.  Exclude both like
            # the cosine/sq8 tiers.  Note sub-`dim` vectors are NOT
            # malformed here: a corpus whose true width is below the
            # declared `dim` degrades consistently (the codebook's
            # upper subspaces are empty slices too, folding to 0.0),
            # and a partially-NULL lookup sum skips only the NULL
            # subspaces -- both replicated entry-for-entry by
            # ``_adc_lut``'s validity mask.
            .filter(F.col("dist").isNotNull() & ~F.isnan("dist"))
        )
        adc = (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= keep)
            .select(
                "qid",
                (F.col("rank") - 1).cast("long").alias("rank"),
                "vec_id",
                "dist",
            )
        )
    if rerank is None:
        return adc
    return _exact_rerank(
        emb, query_ids, adc, k, keep=keep, dim=dim, impl=impl
    )


def _exact_rerank_arrow(
    emb: DataFrame, query_ids, adc: DataFrame, k: int
) -> DataFrame | None:
    """Vectorized scoring pass for ``_exact_rerank``: the SAME
    broadcast-shortlist candidates join (the join was never the
    problem), but the per-pair squared-L2 fold runs as one mapInArrow
    NumPy pass instead of the interpreted ``zip_with``/``aggregate``
    lambda -- the last interpreted hot loop in the serving tier
    (round-12 crossover measured that expression class 2.4-110x
    slower than the kernel form; at rerank shortlists of |q| x 10^4
    rows the fold dominated the whole query).

    Bit-parity with the relational form (the shared round-6
    contract): per pair, (x_j - q_j)^2 accumulates SEQUENTIALLY over
    j=0..d-1 in float64 -- ``_sqdist``'s exact left-fold order --
    then round6 + 0.0.  Exclusions replicate the SQL filter: a NULL
    or wrong-length corpus embedding (zip_with pads -> NULL fold), a
    NULL element on either side (NULL product poisons the fold; rides
    as NaN here, excluded like the NULL it replicates), NaN payloads.
    A NULL query embedding serves no rows (its inner-join rows all
    fold NULL); an EMPTY query scores only empty corpus rows (zero
    elements fold to the init 0.0 -- a real distance), which the d=0
    group preserves.  No self-exclusion, exactly like the relational
    form: the ADC pass already excluded self, so the shortlist never
    carries it.  Returns None when no query resolves (the relational
    form then serves the provably-empty plan)."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    qrows = (
        emb.filter(F.col("vec_id").isin(list(query_ids)))
        .select(F.col("vec_id").cast("long").alias("qid"), "embedding")
        .collect()  # bounded-model-collect: |query_ids| query vectors
    )
    if len({int(r["qid"]) for r in qrows}) < len(qrows):
        # duplicate query vec_ids: the relational join scores every
        # duplicate row; serve that exact multi-row semantics there
        return None
    by_len: dict[int, list] = {}
    for r in qrows:
        e = r["embedding"]
        if e is None:
            continue  # zip_with(x, NULL) -> NULL fold: serves no rows
        by_len.setdefault(len(e), []).append((int(r["qid"]), list(e)))
    if not by_len:
        return None
    groups = []
    for d, pairs in sorted(by_len.items()):
        pairs.sort()  # qid-ascending for searchsorted membership
        qg = np.array([p[0] for p in pairs], dtype="int64")
        # None ELEMENTS ride as NaN: the SQL NULL product poisons the
        # whole fold exactly like NaN does, and both forms exclude
        Qg = np.array(
            [[np.nan if x is None else float(x) for x in p[1]] for p in pairs],
            dtype="float64",
        ).reshape(len(pairs), d)
        groups.append((d, qg, Qg))
    kk = int(k)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            ecol = batch.column(names.index("embedding"))
            if isinstance(ecol, pa.ChunkedArray):
                ecol = ecol.combine_chunks()
            lens = np.asarray(
                pc.fill_null(pc.list_value_length(ecol), -1), dtype="int64"
            )
            evalid = np.asarray(pc.is_valid(ecol), dtype=bool)
            qv_all = np.asarray(batch.column(names.index("qid")), dtype="int64")
            for d, qg, Qg in groups:
                pos = np.searchsorted(qg, qv_all)
                posc = np.clip(pos, 0, qg.size - 1)
                inq = (pos < qg.size) & (qg[posc] == qv_all)
                mask = evalid & (lens == d) & inq
                if not mask.any():
                    continue
                sub = batch.filter(pa.array(mask))
                scol = sub.column(names.index("embedding"))
                if isinstance(scol, pa.ChunkedArray):
                    scol = scol.combine_chunks()
                n = sub.num_rows
                ids = np.asarray(
                    sub.column(names.index("vec_id")), dtype="int64"
                )
                qv = qv_all[mask]
                Qr = Qg[np.clip(np.searchsorted(qg, qv), 0, qg.size - 1)]
                X = np.asarray(scol.flatten(), dtype="float64").reshape(n, d)
                with np.errstate(all="ignore"):
                    # sequential left-fold accumulation, SQL fold order
                    acc = np.zeros(n)
                    for j in range(d):
                        diff = X[:, j] - Qr[:, j]
                        acc += diff * diff
                    dist = _spark_round6_signed(acc) + 0.0
                ok = ~np.isnan(dist)
                if not ok.any():
                    continue
                # per-batch per-query bottom-k prune (ties included):
                # a dropped row has >= k batch rows strictly below it
                # on dist alone -- the kept set is a provable superset
                # of the global top-k, same argument as the scan
                # kernels' _batch_bottomk_rows
                rows = np.flatnonzero(ok)
                order = rows[np.argsort(qv[rows], kind="stable")]
                sq = qv[order]
                starts = np.flatnonzero(np.r_[True, sq[1:] != sq[:-1]])
                ends = np.r_[starts[1:], sq.size]
                out_q, out_v, out_d = [], [], []
                for s0, e0 in zip(starts, ends):
                    g = order[s0:e0]
                    dd = dist[g]
                    if g.size > kk:
                        thr = np.partition(dd, kk - 1)[kk - 1]
                        g = g[dd <= thr]
                    out_q.append(qv[g])
                    out_v.append(ids[g])
                    out_d.append(dist[g])
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q)),
                        pa.array(np.concatenate(out_v)),
                        pa.array(np.concatenate(out_d)),
                    ],
                    names=["qid", "vec_id", "dist"],
                )

    short = adc.select("qid", "vec_id")
    cand = (
        widen_partitions(emb, "vec_id")
        .select(F.col("vec_id").cast("long").alias("vec_id"), "embedding")
        .join(F.broadcast(short.select(F.col("qid").cast("long").alias("qid"),
                                       F.col("vec_id").cast("long").alias("vec_id"))),
              on="vec_id")
        .select("qid", "vec_id", "embedding")
    )
    rescored = cand.mapInArrow(
        kernel, schema="qid long, vec_id long, dist double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", (F.col("rank") - 1).cast("long").alias("rank"), "vec_id", "dist")
    )


def _exact_rerank(
    emb: DataFrame, query_ids, adc: DataFrame, k: int,
    keep: int | None = None, dim: int | None = None, impl: str = "sql",
) -> DataFrame:
    """Exact re-rank of an ADC shortlist (the "+R" of IVFADC+R):
    broadcast the (|q| * k * rerank)-row shortlist, hash-probe the
    corpus for those vectors only, fold the exact squared L2 in-row
    against the raw query vectors.  Shared by pq_topk and the
    composed arrow route so the re-rank contract cannot drift.

    ``impl`` routes the SCORING FOLD only (the candidates join is
    identical either way): ``"sql"`` keeps the interpreted
    ``_sqdist`` expression (the fully-lazy form the plan pins
    assert); ``"arrow"`` runs the vectorized ``_exact_rerank_arrow``
    pass; ``"auto"`` estimates the rescore work driver-side with NO
    job -- |query_ids| * keep pairs x dim * 8 bytes, the same
    pair-work currency as ``_ARROW_AUTO_MIN_WORK_BYTES`` -- and takes
    the kernel above the shared threshold.  This routing is
    deliberately INDEPENDENT of how the ADC pass ran: a candidates-
    restricted or long-form ADC scan stays relational by rule, but
    its rerank-grade shortlist is exactly where the rescore fold
    dominates (round-12 batch table: rerank=auto at 600k x 256q
    spent 59 s vs brute 34 s), and the rerank kernel's emission IS
    pruned to ~k
    rows per query per batch."""
    if impl == "auto":
        est = (
            None
            if keep is None or dim is None
            else len(list(query_ids)) * int(keep) * int(dim) * 8
        )
        impl = (
            "sql"
            if est is not None and est < _ARROW_AUTO_MIN_WORK_BYTES
            else "arrow"
        )
    if impl == "arrow":
        out = _exact_rerank_arrow(emb, query_ids, adc, k)
        if out is not None:
            return out
        # no resolved query vectors: both forms are provably empty --
        # serve the lazy relational one (same note as cosine_topk)
    short = adc.select("qid", "vec_id")
    qraw = F.broadcast(
        emb.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
        )
    )
    cand = emb.select("vec_id", "embedding").join(F.broadcast(short), on="vec_id")
    exact = _sqdist("embedding", "qemb")
    rescored = cand.join(qraw, on="qid").select(
        "qid", "vec_id", (F.round(exact, 6) + F.lit(0.0)).alias("dist")
    ).filter(
        # a shortlist vector whose RAW embedding is NULL/ragged/NaN has
        # no exact distance: exclude it (NULL would sort FIRST under
        # asc and silently top the re-rank) -- round 12, matching the
        # ADC pass's own exclusions
        F.col("dist").isNotNull() & ~F.isnan("dist")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", (F.col("rank") - 1).cast("long").alias("rank"), "vec_id", "dist")
    )


def _ivf_pq_topk_arrow(
    packed: DataFrame,
    emb: DataFrame,
    query_ids,
    cents: DataFrame,
    dim: int,
    m: int,
    keep: int,
    assign: DataFrame,
    probes,
) -> DataFrame | None:
    """Cell-blocked arrow scan for ``ivf_pq_topk``'s ADC pass:
    ``_pq_topk_arrow``'s driver-LUT fold restricted per cell to the
    queries probing it (``_ivf_topk_arrow``'s blocking), over the
    probed fraction of the packed codes relation -- bit-identical to
    the relational ``pq_topk(candidates=...)`` composition.  A
    rerank-grade keep (> ``_ARROW_ADC_MAX_KEEP``) runs the same
    exact-threshold pruning as the flat path (round 13), priced over
    exactly the probed candidate pairs via the shared cell-blocked
    scorer."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    layout = _adc_lut(emb, query_ids, cents, dim, m)
    if layout is None:
        return None
    qids, lut, lutv, seen, code_vals = layout
    cells_by_qid, union_cells = _probe_layout(probes)
    if not union_cells:
        return None
    lut_cells = np.array(union_cells, dtype="int64")
    allowed = _allowed_matrix(cells_by_qid, union_cells, qids)
    kk = int(keep)

    if "cell" in packed.columns:
        # cell-partitioned packed index (pq_write_index layout): the
        # probed restriction is a PARTITION filter on the codes scan
        # itself and the assign join disappears -- the index embeds it
        src = widen_partitions(
            packed.filter(
                F.col("cell").isin([int(c) for c in union_cells])
            ).select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("cell").cast("long").alias("cell"),
                "codes",
            ),
            "vec_id",
        )
    else:
        src = widen_partitions(
            assign.filter(F.col("cell").isin([int(c) for c in union_cells]))
            .select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("cell").cast("long").alias("cell"),
            )
            .join(
                packed.select(
                    F.col("vec_id").cast("long").alias("vec_id"), "codes"
                ),
                on="vec_id",
            ),
            "vec_id",
        )

    def score_blocks(batch):
        yield from _adc_score_cell_blocks(
            batch, m, code_vals, lut, lutv, seen, qids, lut_cells, allowed
        )

    thr = (
        _adc_thresholds(src, score_blocks, qids, kk)
        if kk > _ARROW_ADC_MAX_KEEP
        else None
    )

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            for idsb, dist, ok, qsel in score_blocks(batch):
                if thr is not None:
                    ok = ok & (dist <= thr[qsel][None, :])
                arrays = _batch_bottomk_rows(idsb, dist, ok, qids[qsel], kk)
                if arrays is None:
                    continue
                yield pa.RecordBatch.from_arrays(
                    arrays, names=["qid", "vec_id", "dist"]
                )

    cand = src.mapInArrow(
        kernel, schema="qid long, vec_id long, dist double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= keep)
        .select(
            "qid",
            (F.col("rank") - 1).cast("long").alias("rank"),
            "vec_id",
            "dist",
        )
    )


def ivf_pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    pq_cents: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 5,
    n_cells: int = 4,
    n_probe: int = 2,
    ivf_cents: DataFrame | None = None,
    assign: DataFrame | None = None,
    codes: DataFrame | None = None,
    rerank: int | str | None = None,
    impl: str = "auto",
) -> DataFrame:
    """The composed IVFADC(+R) serving path (Jegou et al. 2011, the
    architecture the reference's ANN tier serves): IVF probe selection
    -> ADC scan over ONLY the probed cells' PQ codes -> optional exact
    re-rank of the shortlist.  Output (qid, rank, vec_id, dist), rank
    0-based, self excluded, ties to the smaller vec_id -- ``pq_topk``'s
    contract with candidate generation bolted on.

    ``assign`` / ``codes`` are the two persisted index relations a
    production deployment builds once at ingest (``ivf_assign`` +
    ``pq_pack(pq_encode(...))``; land the assignment through
    ``ivf_write_index`` so the probe restriction partition-prunes);
    recomputing either per query re-pays the full corpus pass (the
    amortization trap SCALE.md measures for ivf_topk).  ``ivf_cents`` swaps the stub coarse codebook for a
    trained one, independently of the PQ codebook.  ``rerank="auto"``
    here calibrates on the PROBED pool (n * n_probe / n_cells), not
    the full corpus -- ADC tie collapse scales with what each query
    actually scans.

    Scale shape: probe ranking touches |q| x n_cells broadcast rows;
    the candidate join keys the (tiny, broadcast) probe list against
    the assignment index; the ADC scan then reads the probed fraction
    of the packed codes relation (qid-keyed lookup join, partial-agg
    sum); the re-rank touches |q| x k x r raw vectors.  Nothing
    corpus-sized is ever broadcast or collected.

    ``impl``: like ``ivf_topk`` -- with a PACKED ``codes`` relation,
    ``"auto"`` routes on pair work scaled by the probe fraction: the
    arrow form is ``_ivf_pq_topk_arrow`` (cell-blocked driver-LUT
    ADC, bit-identical, fuzz-pinned; rerank-grade keeps add the
    round-13 exact-threshold pruning scan) followed by the shared
    ``_exact_rerank`` (itself impl-routed on rescore work).  Explicit
    ``impl="arrow"`` without packed codes raises (same rule as
    ``pq_topk``).

    The production layout is a ``pq_read_index`` relation for
    ``codes`` (packed codes persisted CELL-PARTITIONED): the probed
    restriction then partition-prunes the codes scan itself, serving
    reads ~n_probe/n_cells of the codes bytes with NO assign join,
    and ``assign`` may be omitted -- the index's (vec_id, cell)
    columns ARE the assignment."""
    cents = _codebook(emb, n_cells, ivf_cents)
    if assign is None:
        if codes is not None and "cell" in codes.columns:
            # cell-partitioned index: the assignment rides in it --
            # never re-pay the corpus assignment pass
            assign = codes.select("vec_id", "cell")
        else:
            assign = ivf_assign(emb, n_cells, cents)
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        _norm_col().alias("qnrm"),
    )
    if rerank == "auto":
        # calibrate on the pool each query actually scans -- the
        # probed fraction, not the whole corpus: the auto rule sizes
        # the shortlist against ADC tie collapse in the scanned pool,
        # and full-n here would over-rerank by ~n_cells/n_probe
        # (round-9 review)
        n = emb.select("vec_id").count() * n_probe // max(1, n_cells)
        rerank = _auto_rerank(n)
    # the composed arrow route needs the PACKED index relation (the
    # production layout); long-form/derived codes run relationally
    packed = (
        codes if codes is not None and "codes" in codes.columns else None
    )
    if impl == "arrow" and packed is None:
        raise ValueError(
            "ivf_pq_topk impl='arrow' needs the PACKED codes relation "
            "(pq_pack output); long-form codes run relationally"
        )
    if impl != "sql" and packed is not None:
        keep = k if rerank is None else k * int(rerank)
        use = impl == "arrow"
        if impl == "auto":
            sz = _plan_stats_bytes(packed)
            est = (
                None
                if sz is None
                else sz
                * max(1, len(query_ids))
                * max(1, int(n_probe))
                / max(1, int(n_cells))
            )
            use = est is None or est >= _ARROW_AUTO_MIN_WORK_BYTES
        if use:
            probes = _probe_cells(
                q, cents, n_probe
            ).collect()  # bounded-model-collect: |q| x n_probe rows
            adc = _ivf_pq_topk_arrow(
                packed, emb, query_ids, pq_cents, dim, m, keep,
                assign, probes,
            )
            if adc is not None:
                if rerank is None:
                    return adc
                return _exact_rerank(
                    emb, query_ids, adc, k, keep=keep, dim=dim, impl=impl
                )
    cand = assign.join(
        F.broadcast(_probe_cells(q, cents, n_probe)), on="cell"
    ).select("qid", "vec_id")
    if rerank is None or impl == "sql":
        return pq_topk(
            emb, query_ids, pq_cents, dim, m=m, k=k,
            codes=codes, rerank=rerank, candidates=cand, impl="sql",
        )
    # relational ADC scan (candidates always run there) but the
    # rescore fold still routes on its own pair work: large
    # shortlists keep the scan relational by design, yet their
    # rescore is exactly the fold the kernel wins (round 13)
    keep = k * int(rerank)
    adc = pq_topk(
        emb, query_ids, pq_cents, dim, m=m, k=keep,
        codes=codes, rerank=None, candidates=cand, impl="sql",
    )
    return _exact_rerank(
        emb, query_ids, adc, k, keep=keep, dim=dim,
        impl="auto" if impl == "auto" else "arrow",
    )


# -- int8 scalar quantization ------------------------------------------------
#
# The other ubiquitous embedding-compression scheme next to PQ: keep
# the geometry, shrink each float32 coordinate to one signed byte with
# a per-vector scale (4x memory; no codebook to train).  Search stays
# asymmetric -- raw query against dequantized corpus -- which is how
# vector stores serve int8 indexes.


def _sq8_nrm():
    """Dequantized norm sqrt(sum((q*scale)^2)) over the int8 codes --
    the ONE definition shared by sq8_encode (index-stored) and
    sq8_topk's pre-round-9-layout fallback, so the two can never
    drift (and both stay expression-identical to the oracle's
    sqrt(SUM(d*d)) with d = c*scale)."""
    return F.sqrt(
        F.aggregate(
            "q",
            F.lit(0.0),
            lambda acc, c: acc
            + (c.cast("double") * F.col("scale"))
            * (c.cast("double") * F.col("scale")),
        )
    )


def sq8_encode(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|e| / 127
    (1.0 for an all-zero vector so nothing divides by zero), code =
    round(e / scale) in [-127, 127].  Returns (vec_id, scale, q, nrm)
    -- one int8-ranged code per coordinate plus the DEQUANTIZED norm
    sqrt(sum((q*scale)^2)), all computed IN-ROW (three array folds +
    one transform, zero shuffle, zero explode).

    The norm is stored IN THE INDEX (round 9): computing it at query
    time forces a dequantize + norm fold per (vector, query) pair
    (Catalyst collapses the projection into the join), which made the
    first bench cut of sq8_topk SLOWER than the brute scan it
    compresses.  Storing it is also how production int8 indexes ship
    (norm alongside codes) and costs 8 bytes against the 4x win."""
    # the zero-guard folds into the aggregate's finish lambda
    # (optimization round 13): a CaseWhen over the fold's result
    # embedded the whole max-|e| fold twice per vector (condition +
    # ELSE branch) in the interpreted projection.  Same fold, same
    # guard, same scale; a NULL embedding still yields NULL (the
    # aggregate short-circuits before finish).
    scale = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
        lambda mx: F.when(mx == 0.0, F.lit(1.0)).otherwise(mx / F.lit(127.0)),
    )
    return emb.select(
        "vec_id",
        scale.alias("scale"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") / F.col("scale"), 0).cast("int"),
        ).alias("q"),
    ).withColumn("nrm", _sq8_nrm())


def _sq8_topk_arrow(codes: DataFrame, emb: DataFrame, query_ids, k: int):
    """Arrow scan for ``sq8_topk`` (no-candidates form): one
    mapInArrow pass over the 4x-smaller (vec_id, scale, q, nrm)
    relation, replicating the SQL expression bit-for-bit -- the
    integer-code dot runs as a BLAS GEMM proven round-6-equal to the
    SQL sequential fold (boundary-flagged entries recomputed through
    the exact left-fold, ``_gemm_seqfold_cos``), then
    round6((scale * dot) / (nrm * qnrm)) + 0.0 with the same
    exclusion set (zero denominator, NaN, self, NULL/ragged codes).  Query resolution, per-length grouping, and threshold
    pruning follow ``_cosine_topk_arrow`` exactly (shared helpers).
    Returns None only when no query id resolves to a usable vector
    (both forms are then empty)."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    groups = _resolve_query_groups(emb, query_ids)
    if groups is None:
        return None
    kk = int(k)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            qcol = batch.column(names.index("q"))
            if isinstance(qcol, pa.ChunkedArray):
                qcol = qcol.combine_chunks()
            lens = pc.fill_null(pc.list_value_length(qcol), -1)
            valid = pc.is_valid(qcol)
            for d, qids, Q, qnrm in groups:
                keep = pc.and_(valid, pc.equal(lens, d))
                if not pc.all(keep).as_py():
                    sub = batch.filter(keep)
                    if sub.num_rows == 0:
                        continue
                    scol = sub.column(names.index("q"))
                    if isinstance(scol, pa.ChunkedArray):
                        scol = scol.combine_chunks()
                else:
                    sub, scol = batch, qcol
                n = sub.num_rows
                nq = len(qids)
                ids = np.asarray(
                    sub.column(names.index("vec_id")), dtype="int64"
                )
                scale = np.asarray(
                    sub.column(names.index("scale")), dtype="float64"
                )
                nrm = np.asarray(
                    sub.column(names.index("nrm")), dtype="float64"
                )
                C = np.asarray(scol.flatten(), dtype="float64").reshape(n, d)
                with np.errstate(all="ignore"):
                    denom = nrm[:, None] * qnrm[None, :]
                    # BLAS dot + provable boundary fixup: bit-equal
                    # to the sequential fold after round6 (see
                    # _gemm_seqfold_cos), ~d x less memory traffic
                    x = _gemm_seqfold_cos(C, Q, denom, scale=scale)
                    cos = _spark_round6_signed(x) + 0.0
                    ok = (
                        (denom != 0.0)
                        & ~np.isnan(cos)
                        & (ids[:, None] != qids[None, :])
                    )
                arrays = _batch_topk_rows(ids, cos, ok, qids, kk)
                if arrays is None:
                    continue
                yield pa.RecordBatch.from_arrays(
                    arrays, names=["qid", "vec_id", "cos"]
                )

    src = widen_partitions(codes, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"), "scale", "q", "nrm"
    )
    cand = src.mapInArrow(kernel, schema="qid long, vec_id long, cos double")
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("rank") - 1).cast("long").alias("rank"),
            "vec_id",
            "cos",
        )
    )


def sq8_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    codes: DataFrame | None = None,
    candidates: DataFrame | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Asymmetric cosine top-k over an int8-quantized corpus: raw
    query vectors against the dequantized (q * scale) corpus --
    cosine_topk's exact shape (broadcast query side, in-row folds,
    per-query rank window, self excluded, ties to the smaller vec_id)
    with the corpus side reading only the 4x-smaller (vec_id, scale,
    q, nrm) relation from ``sq8_encode`` (typically persisted at
    ingest).  Output (qid, rank, vec_id, cos) with rank 0-based like
    cosine_topk.

    Per-pair work is ONE integer-code dot fold (round 9): the cosine
    is computed as scale * sum(q_i * query_i) / (nrm * qnrm) with the
    dequantized norm read from the index, so neither the dequantize
    transform nor the norm fold runs per (vector, query) pair -- the
    shape that made the first bench cut slower than brute.  A ``codes``
    relation without the ``nrm`` column (pre-round-9 layout) gets it
    derived in a projection.

    ``candidates`` restricts the scan per query: a (qid, vec_id)
    relation -- e.g. IVF probe membership from ``ivf_sq8_topk`` --
    and only those pairs are scored (the corpus joins the candidate
    list on vec_id, then the broadcast query side on qid, so query
    A's cells never pay for query B's).

    ``impl``: like ``cosine_topk`` -- ``"auto"`` (default) routes the
    full-scan form on estimated pair work, Catalyst's size estimate
    of the CODES relation x |query_ids| (no job; shared threshold
    ``_ARROW_AUTO_MIN_WORK_BYTES``; measured sq8 ratios 4.3x at
    2k x 64q rising to 32x at 30k x 64q): small work stays on the
    lazy relational scan, large work takes the arrow kernel
    (``_sq8_topk_arrow``, bit-identical, pinned by
    test_fuzz_similarity) because the zip_with/aggregate fold is
    interpreted and re-evaluates inside the pushed-down BNLJ
    condition; ``"sql"`` keeps the relational scan.  A ``candidates``
    scan is probe-bounded per query and always runs relationally
    (explicit ``impl="arrow"`` with candidates raises rather than
    silently switching -- round-13 ADVICE)."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    if impl == "arrow" and candidates is not None:
        # a caller forcing the kernel path gets a loud error, never a
        # silent plan change (round-13 ADVICE; same rule as pq_topk)
        raise ValueError(
            "sq8_topk impl='arrow' does not support candidates; "
            "candidate-restricted scans run relationally (impl='sql'/'auto')"
        )
    if codes is None:
        codes = sq8_encode(emb)
    if "nrm" not in codes.columns:
        codes = codes.withColumn("nrm", _sq8_nrm())
    if impl == "auto" and candidates is None:
        sz = _plan_stats_bytes(codes)
        impl = (
            "sql"
            if sz is not None
            and sz * max(1, len(query_ids)) < _ARROW_AUTO_MIN_WORK_BYTES
            else "arrow"
        )
    if impl == "arrow" and candidates is None:
        out = _sq8_topk_arrow(codes, emb, query_ids, k)
        if out is not None:
            return out
        # no resolved query vectors: both forms are empty -- serve
        # the lazy relational one (same note as cosine_topk)
    corpus = codes.select("vec_id", "scale", "q", "nrm")
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        _norm_col().alias("qnrm"),
    )
    dot_int = F.aggregate(
        F.zip_with("q", "qemb", lambda c, y: c.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if candidates is None:
        paired = corpus.crossJoin(F.broadcast(q))
    else:
        paired = corpus.join(
            candidates.select("qid", "vec_id"), on="vec_id"
        ).join(F.broadcast(q), on="qid")
    cos = (
        paired
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                F.round(
                    (F.col("scale") * dot_int) / (F.col("nrm") * F.col("qnrm")), 6
                )
                + F.lit(0.0)
            ).alias("cos"),
        )
        # a zero-norm side has no defined cosine.  Spark (ANSI off)
        # evaluates x / 0.0 as NULL -- NOT NaN -- and isnan(NULL) is
        # false, so the isNotNull guard is the one that excludes
        # zero-norm rows (the round-9 bug: the bare isnan filter was a
        # no-op and a zero-norm vector ranked into ivf_sq8_topk's top-k
        # with cos NULL); isnan still covers NaN embedding payloads,
        # which DO sort largest under desc.  Pinned in test_zero_norm.py.
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        cos.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", (F.col("rank") - 1).cast("long").alias("rank"), "vec_id", "cos")
    )


def _ivf_sq8_topk_arrow(
    codes: DataFrame, emb: DataFrame, query_ids, k: int,
    assign: DataFrame, probes,
) -> DataFrame | None:
    """Cell-blocked arrow scan for ``ivf_sq8_topk``: ``_ivf_topk_arrow``'s
    shape (probed-cell IN filter on the assignment index + per-cell
    folds against only the probing queries) over the 4x-smaller
    (vec_id, scale, q, nrm) relation with ``_sq8_topk_arrow``'s
    dequantized-cosine arithmetic -- bit-identical to the relational
    ``sq8_topk(candidates=...)`` composition, fuzz-pinned."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    groups = _resolve_query_groups(emb, query_ids)
    if groups is None:
        return None
    cells_by_qid, union_cells = _probe_layout(probes)
    if not union_cells:
        return None
    lut_cells = np.array(union_cells, dtype="int64")
    gq = [
        (d, qids, Q, qnrm, _allowed_matrix(cells_by_qid, union_cells, qids))
        for d, qids, Q, qnrm in groups
    ]
    kk = int(k)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            qcol = batch.column(names.index("q"))
            if isinstance(qcol, pa.ChunkedArray):
                qcol = qcol.combine_chunks()
            lens = pc.fill_null(pc.list_value_length(qcol), -1)
            valid = pc.is_valid(qcol)
            for d, qids, Q, qnrm, allowed in gq:
                keep = pc.and_(valid, pc.equal(lens, d))
                if not pc.all(keep).as_py():
                    sub = batch.filter(keep)
                    if sub.num_rows == 0:
                        continue
                    scol = sub.column(names.index("q"))
                    if isinstance(scol, pa.ChunkedArray):
                        scol = scol.combine_chunks()
                else:
                    sub, scol = batch, qcol
                n = sub.num_rows
                ids = np.asarray(
                    sub.column(names.index("vec_id")), dtype="int64"
                )
                cellv = np.asarray(
                    sub.column(names.index("cell")), dtype="int64"
                )
                scale = np.asarray(
                    sub.column(names.index("scale")), dtype="float64"
                )
                nrm = np.asarray(
                    sub.column(names.index("nrm")), dtype="float64"
                )
                C = np.asarray(scol.flatten(), dtype="float64").reshape(n, d)
                order = np.argsort(cellv, kind="stable")
                sc = cellv[order]
                starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
                ends = np.r_[starts[1:], sc.size]
                for s, e in zip(starts, ends):
                    qsel = allowed[np.searchsorted(lut_cells, sc[s]), :]
                    qsel = np.flatnonzero(qsel)
                    if qsel.size == 0:
                        continue
                    rows = order[s:e]
                    Cc = C[rows]
                    idsc = ids[rows]
                    Qc = Q[qsel]
                    qnrmc = qnrm[qsel]
                    qidsc = qids[qsel]
                    with np.errstate(all="ignore"):
                        # BLAS + boundary-fixup dot, bit-equal after
                        # round6 (the shared _gemm_seqfold_cos
                        # contract)
                        denom = nrm[rows][:, None] * qnrmc[None, :]
                        x = _gemm_seqfold_cos(
                            Cc, Qc, denom, scale=scale[rows]
                        )
                        cos = _spark_round6_signed(x) + 0.0
                        ok = (
                            (denom != 0.0)
                            & ~np.isnan(cos)
                            & (idsc[:, None] != qidsc[None, :])
                        )
                    arrays = _batch_topk_rows(idsc, cos, ok, qidsc, kk)
                    if arrays is None:
                        continue
                    yield pa.RecordBatch.from_arrays(
                        arrays, names=["qid", "vec_id", "cos"]
                    )

    if "cell" in codes.columns:
        # cell-partitioned SQ8 index (sq8_write_index layout): probed
        # restriction = PARTITION filter on the codes scan, no join
        src = codes.filter(
            F.col("cell").isin([int(c) for c in union_cells])
        ).select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cell").cast("long").alias("cell"),
            "scale", "q", "nrm",
        )
    else:
        src = (
            assign.filter(F.col("cell").isin([int(c) for c in union_cells]))
            .select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.col("cell").cast("long").alias("cell"),
            )
            .join(
                codes.select(
                    F.col("vec_id").cast("long").alias("vec_id"),
                    "scale", "q", "nrm",
                ),
                on="vec_id",
            )
        )
    cand = widen_partitions(src, "vec_id").mapInArrow(
        kernel, schema="qid long, vec_id long, cos double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            (F.col("rank") - 1).cast("long").alias("rank"),
            "vec_id",
            "cos",
        )
    )


def ivf_sq8_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 4,
    n_probe: int = 2,
    ivf_cents: DataFrame | None = None,
    assign: DataFrame | None = None,
    codes: DataFrame | None = None,
    impl: str = "auto",
) -> DataFrame:
    """The composed IVF x SQ8 serving path (the other standard FAISS
    index family next to IVFADC, e.g. "IVF...,SQ8"): IVF probe
    selection -> asymmetric int8 cosine over ONLY the probed cells'
    codes.  Output (qid, rank, vec_id, cos), rank 0-based, self
    excluded, ties to the smaller vec_id -- ``sq8_topk``'s contract
    with candidate generation bolted on, sharing ``_probe_cells`` with
    ivf_topk/ivf_pq_topk so the probe contract cannot drift.

    ``assign`` / ``codes`` are the persisted index relations
    (``ivf_assign`` + ``sq8_encode``, built once at ingest).  Scale
    shape: probes broadcast; the candidate join keys the broadcast
    probe list against the assignment index; the cosine scan reads the
    probed fraction of the 4x-smaller (vec_id, scale, q, nrm)
    relation.  Nothing corpus-sized is broadcast or collected.

    ``impl``: like ``ivf_topk`` -- ``"auto"`` routes on estimated
    pair work scaled by the probe fraction (CODES size estimate x
    |query_ids| x n_probe/n_cells vs the shared threshold); the arrow
    form is ``_ivf_sq8_topk_arrow`` (cell-blocked dequantized-cosine
    kernel, bit-identical, fuzz-pinned).

    The production layout is an ``sq8_read_index`` relation for
    ``codes`` (the int8 codes persisted CELL-PARTITIONED): the probed
    restriction then partition-prunes the codes scan itself and the
    assign join disappears; ``assign`` may be omitted -- the index's
    (vec_id, cell) columns ARE the assignment."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    cents = _codebook(emb, n_cells, ivf_cents)
    if assign is None:
        if codes is not None and "cell" in codes.columns:
            # cell-partitioned index: the assignment rides in it
            assign = codes.select("vec_id", "cell")
        else:
            assign = ivf_assign(emb, n_cells, cents)
    if codes is None:
        codes = sq8_encode(emb)
    if "nrm" not in codes.columns:
        codes = codes.withColumn("nrm", _sq8_nrm())
    if impl == "auto":
        sz = _plan_stats_bytes(codes)
        est = (
            None
            if sz is None
            else sz
            * max(1, len(query_ids))
            * max(1, int(n_probe))
            / max(1, int(n_cells))
        )
        impl = (
            "sql"
            if est is not None and est < _ARROW_AUTO_MIN_WORK_BYTES
            else "arrow"
        )
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        _norm_col().alias("qnrm"),
    )
    if impl == "arrow":
        probes = _probe_cells(
            q, cents, n_probe
        ).collect()  # bounded-model-collect: |query_ids| x n_probe rows
        out = _ivf_sq8_topk_arrow(codes, emb, query_ids, k, assign, probes)
        if out is not None:
            return out
        # no resolvable query/probe: both forms are empty -- serve
        # the lazy relational one (same note as cosine_topk)
    cand = assign.join(
        F.broadcast(_probe_cells(q, cents, n_probe)), on="cell"
    ).select("qid", "vec_id")
    return sq8_topk(
        emb, query_ids, k=k, codes=codes, candidates=cand, impl="sql"
    )
