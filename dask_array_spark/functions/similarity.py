"""Similarity search over embedding columns (array<float>).

Serving paths (SURVEY.md section 7 M6):
- brute-force cosine top-k: correctness baseline, two bit-identical
  forms behind ``impl=`` -- a fully-lazy relational scan (in-row
  zip_with/aggregate dot against the broadcast query side, per-query
  rank window) and a batched NumPy ``mapInArrow`` kernel that
  threshold-prunes per batch and feeds the same window.  ``"auto"``
  picks by measured pair work (SCALE.md round 12; ``_route``).
  Either way the corpus streams through one scan and never moves at
  100 TB.
- every arrow top-k leg -- cosine, IVF, SQ8, IVF x SQ8, PQ (ADC),
  IVF x PQ and the exact rerank -- is one skeleton, ``_arrow_topk``:
  the ``_row_blocks`` batch walk (length/valid mask per query group,
  optional blocking by cell or qid), a leg-supplied NumPy scorer
  (``_cos_score``, ``_adc_score``, ``_l2_score``), the ties-included
  per-batch keep (``_batch_keep``) and the one exact rank window
  (``_rank``, shared with the relational legs).
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
from collections import namedtuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame
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


def _route(impl, sized=None, n_queries=1, n_probe=1, n_cells=1, work=None):
    """Validate a serving ``impl`` and resolve ``"auto"`` on estimated
    pair work: ``work`` bytes when given, else Catalyst's size
    estimate of ``sized`` x n_queries x n_probe / n_cells (driver-side
    planning, no job).  ``"auto"`` takes the lazy relational form
    (``"sql"``) when the estimate is known and below
    ``_ARROW_AUTO_MIN_WORK_BYTES``, the arrow kernel otherwise -- an
    unknown size is assumed at-scale."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"impl must be 'auto', 'arrow' or 'sql', got {impl!r}")
    if impl != "auto":
        return impl
    if sized is not None:
        sz = _plan_stats_bytes(sized)
        work = (
            None
            if sz is None
            else sz * max(1, n_queries) * max(1, int(n_probe)) / max(1, int(n_cells))
        )
    return "sql" if work is not None and work < _ARROW_AUTO_MIN_WORK_BYTES else "arrow"


def _rank(df: DataFrame, score: str, k: int, descending: bool) -> DataFrame:
    """The exact per-query rank every top-k leg ends in, relational or
    arrow: row_number per qid over (``score``, vec_id asc), the first
    ``k`` rows, as (qid, rank, vec_id, score) with rank 0-based."""
    order = F.col(score).desc() if descending else F.col(score).asc()
    w = Window.partitionBy("qid").orderBy(order, F.col("vec_id").asc())
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", (F.col("rank") - 1).cast("long").alias("rank"), "vec_id", score)
    )


# One query group of ``_row_blocks``: the queries ``qids`` that score
# rows whose list column has length ``d``; ``allowed`` = (keys, mask)
# when rows block by a key column (query j scores the rows of key
# keys[i] iff mask[i, j]; keys sorted), else None; ``p`` the leg
# scorer's payload.
_QGroup = namedtuple("_QGroup", "d qids allowed p")


def _resolve_query_groups(emb: DataFrame, query_ids, probes=None):
    """Resolve the query vectors of the cosine-family arrow legs into
    ``_QGroup``s by vector length.  The collect here is the ONE
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
      skeleton's per-group ``len == d`` filter.

    ``probes`` (the collected (qid, cell) probe rows of an IVF leg)
    gives every group its ``_probe_mask``.  Payload: (Q, qnrm).
    Returns None when no query resolves to a usable vector or no cell
    is probed (both forms then return an empty relation)."""
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
            qnrm = np.sqrt(qnrm)
        allowed = None if probes is None else _probe_mask(probes, qids)
        if allowed is not None and allowed[0].size == 0:
            return None
        groups.append(_QGroup(d, qids, allowed, (Q, qnrm)))
    return groups


def _row_blocks(vec_col, groups, score, key=None, cols=(), dtype="float64"):
    """The batch walk every arrow top-k leg shares: a function of one
    Arrow batch yielding (ids, score, ok, qids, qsel) blocks.

    Per ``_QGroup`` it keeps the rows whose ``vec_col`` list is
    non-NULL with length ``d`` (the SQL forms' zip_with pads a length
    mismatch to a NULL fold, so those rows never score) and
    flattens them into an (n, d) ``dtype`` matrix X.  With ``key``
    None every query of the group scores every row (qsel =
    slice(None)); otherwise the rows block by their ``key`` column
    and each block scores only the queries ``allowed`` lets in --
    compute equals the relational candidate pair count (the IVF legs
    block by probed cell; the rerank by qid with an identity mask).
    ``score(g, qsel, ids, X, extra)`` -> (score, ok), both
    (rows, |qsel|), where ``extra`` holds the block's ``cols`` as
    float64 vectors."""
    import numpy as np

    def walk(batch):
        import pyarrow as pa
        import pyarrow.compute as pc

        if batch.num_rows == 0:
            return
        names = batch.schema.names

        def lists(b):
            c = b.column(names.index(vec_col))
            return c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c

        col = lists(batch)
        lens = pc.fill_null(pc.list_value_length(col), -1)
        valid = pc.is_valid(col)
        for g in groups:
            keep = pc.and_(valid, pc.equal(lens, g.d))
            if pc.all(keep).as_py():
                sub, scol = batch, col
            else:
                sub = batch.filter(keep)
                if sub.num_rows == 0:
                    continue
                scol = lists(sub)
            n = sub.num_rows
            ids = np.asarray(sub.column(names.index("vec_id")), dtype="int64")
            X = np.asarray(scol.flatten(), dtype=dtype).reshape(n, g.d)
            extra = {
                c: np.asarray(sub.column(names.index(c)), dtype="float64")
                for c in cols
            }
            if key is None:
                s, ok = score(g, slice(None), ids, X, extra)
                yield ids, s, ok, g.qids, slice(None)
                continue
            kv = np.asarray(sub.column(names.index(key)), dtype="int64")
            order = np.argsort(kv, kind="stable")
            sk = kv[order]
            starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
            keys, mask = g.allowed
            for s0, e0 in zip(starts, np.r_[starts[1:], sk.size]):
                i = np.searchsorted(keys, sk[s0])
                if i == keys.size or keys[i] != sk[s0]:
                    continue
                qsel = np.flatnonzero(mask[i])
                if qsel.size == 0:
                    continue
                rows = order[s0:e0]
                s, ok = score(
                    g, qsel, ids[rows], X[rows], {c: v[rows] for c, v in extra.items()}
                )
                yield ids[rows], s, ok, g.qids, qsel

    return walk


def _batch_keep(ids, score, ok, qids, kk, descending):
    """Per-batch candidate pruning: keep, per query, every surviving
    row whose score reaches the batch's kk-th best (ties INCLUDED).
    Any dropped row has >= kk rows in its own batch ranked strictly
    above it on score alone, so it cannot enter the global top-kk --
    the kept set is a provable superset and the final window's
    (score, vec_id asc) order decides the exact ranks: no id packing,
    hence no id-range bound and no duplicate-vec_id caveat.  Tie rows
    at the threshold cost only a handful of extra candidate rows
    (scores are round-6 quantized, so exact ties are common but
    k-bounded in practice).  Returns [qid, vec_id, score] pyarrow
    arrays or None when no row survives."""
    import numpy as np
    import pyarrow as pa

    out_q, out_v, out_s = [], [], []
    for c in range(len(qids)):
        idx = np.flatnonzero(ok[:, c])
        if idx.size == 0:
            continue
        sc = score[idx, c]
        if idx.size > kk:
            if descending:
                idx = idx[sc >= np.partition(sc, idx.size - kk)[idx.size - kk]]
            else:
                idx = idx[sc <= np.partition(sc, kk - 1)[kk - 1]]
        out_q.append(np.full(idx.size, qids[c], dtype="int64"))
        out_v.append(ids[idx])
        out_s.append(score[idx, c])
    if not out_q:
        return None
    return [pa.array(np.concatenate(a)) for a in (out_q, out_v, out_s)]


def _arrow_topk(src: DataFrame, walk, k: int, descending: bool, name: str, thr=None):
    """THE arrow top-k skeleton (SURVEY.md section 2.5: per-chunk
    top-k, then a merge): one mapInArrow pass over ``src`` walks each
    batch through ``walk`` (``_row_blocks``), prunes every block to
    its per-query ties-included top-``k`` (``_batch_keep``; best =
    largest when ``descending``) and the exact rank window
    (``_rank``) orders the metadata-sized union into (qid, rank,
    vec_id, ``name``).  ``thr`` (aligned with the one query group's
    qids) additionally gates an ascending score on an exact
    per-query bound (``_adc_thresholds``): a row above the global
    k-th score cannot rank, and ``<=`` keeps the boundary ties."""
    kk = int(k)

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            for ids, s, ok, qids, qsel in walk(batch):
                if thr is not None:
                    ok = ok & (s <= thr[qsel][None, :])
                arrays = _batch_keep(ids, s, ok, qids[qsel], kk, descending)
                if arrays is not None:
                    yield pa.RecordBatch.from_arrays(
                        arrays, names=["qid", "vec_id", name]
                    )

    cand = src.mapInArrow(kernel, schema=f"qid long, vec_id long, {name} double")
    return _rank(cand, name, k, descending)


def _cos_score(g, qsel, ids, X, extra):
    """The cosine scorer of the cosine / IVF / SQ8 legs: the pre-round
    (rows x queries) cosine runs as a BLAS GEMM with the
    ``_gemm_seqfold_cos`` boundary fixup (provably round-6-equal to
    the SQL left-fold element order), then round6 + 0.0.  A raw
    embedding row folds its norm SEQUENTIALLY over j=0..d-1 in
    float64 (the SQL aggregate's order); an SQ8 row (``extra`` holds
    its ``scale`` and index-stored dequantized ``nrm``) scales the
    integer-code dot instead.  ``ok`` replicates the SQL guard: zero
    denominator (SQL x/0.0 -> NULL), NaN cosine (NaN payloads),
    self-match."""
    import numpy as np

    Q, qnrm = g.p
    with np.errstate(all="ignore"):  # NaN/Inf masked below
        if extra:
            nrm, scale = extra["nrm"], extra["scale"]
        else:
            nrm, scale = np.zeros(X.shape[0]), None
            for j in range(X.shape[1]):
                xj = X[:, j]
                nrm += xj * xj
            nrm = np.sqrt(nrm)
        denom = nrm[:, None] * qnrm[qsel][None, :]
        cos = _spark_round6_signed(_gemm_seqfold_cos(X, Q[qsel], denom, scale)) + 0.0
        ok = (
            (denom != 0.0)
            & ~np.isnan(cos)
            & (ids[:, None] != g.qids[qsel][None, :])
        )
    return cos, ok


def _cosine_topk_arrow(emb: DataFrame, query_ids: list[int], k: int):
    """Arrow leg of ``cosine_topk``: ``_arrow_topk`` over the widened
    (vec_id, embedding) corpus with the ``_cos_score`` scorer.
    Returns None only when NO query id resolves to a usable vector
    (both forms are then empty)."""
    from ..sources.ingest import widen_partitions

    groups = _resolve_query_groups(emb, query_ids)
    if groups is None:
        return None
    src = widen_partitions(emb, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    return _arrow_topk(src, _row_blocks("embedding", groups, _cos_score), k, True, "cos")


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
    if _route(impl, emb, len(query_ids)) == "arrow":
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
    return _rank(cos, "cos", k, True)


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
    centroid by cosine (ties -> smaller cell id): (vec_id, cell), one
    row per input row.  The default codebook is the first ``n_cells``
    vectors (a deterministic stand-in the oracles replay); pass
    ``cents`` -- a trained (cell, cemb) codebook, e.g. from
    ``kmeans_fit`` -- to cluster on it instead.  Any BIGINT cell id
    works: nothing is packed or capped.

    The codebook is model-sized and collected once (<= n_cells rows,
    the same bounded collect ``kmeans_assign`` makes); the pick is
    ``_nearest_sql``'s in-row shape mirrored for the argmax --
    ``greatest`` over one named_struct('c', round(cos, 6) + 0.0D,
    'n', ~cell) per literal centroid.  Spark orders structs field by
    field with NULL < -Inf < finite < +Inf < NaN (engine-checked over
    every pair of NULL, NaN, +-Inf, +-1, +-0), so a NULL cosine (a
    zero-norm side: x / 0.0 is NULL) loses to every other, and
    ``~cell`` (bitwise NOT: reverses the BIGINT order with no
    overflow) sends ties to the smaller cell -- ``max_by(cell,
    struct(c, -cell))`` exactly.  Cosines round to 6 decimals BEFORE
    the pick so assignment boundaries replay bit-for-bit
    cross-engine (fold-order ulps would otherwise flip near-ties
    between centroids; same policy as kmeans_assign).

    Scale shape: one narrow projection over the corpus -- each dot
    product folds in-row with zip_with + aggregate against a literal
    centroid and the vector's norm folds once: no join, no
    aggregate, no exchange, no broadcast; the plan holds O(codebook)
    literals."""
    book = _codebook(emb, n_cells, cents).collect()  # bounded-model-collect
    if not book:
        return emb.selectExpr("vec_id", "CAST(NULL AS BIGINT) AS cell").where("false")
    picks = [
        "named_struct('c', round(aggregate(zip_with(embedding, "
        f"{_cemb_sql(r['cemb'])}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x) / (nrm * {_double_sql(r['cnrm'])}), 6) + 0.0D, "
        f"'n', CAST({~int(r['cell'])} AS BIGINT))"
        for r in book
    ]
    pick = picks[0] if len(picks) == 1 else f"greatest({', '.join(picks)})"
    return (
        emb.select("vec_id", "embedding", _norm_col().alias("nrm"))
        .selectExpr("vec_id", f"{pick} AS __b")
        .selectExpr("vec_id", "~__b.n AS cell")
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


def _probe_mask(probes, qids):
    """The IVF legs' ``allowed`` for ``_row_blocks``: (cells, mask)
    with ``cells`` the sorted union of the collected (qid, cell)
    ``probes`` and mask[i, j] true iff query qids[j] probes cells[i]
    -- the kernel-side gate that keeps per-cell folds restricted to
    exactly the relational candidate pairs (an unmasked full rows x
    queries matrix measured SLOWER than the relational join at 2/16
    probes: the mask must gate compute, not results)."""
    import numpy as np

    by_q: dict[int, list] = {}
    for r in probes:
        by_q.setdefault(int(r["qid"]), []).append(int(r["cell"]))
    cells = np.array(sorted({c for cs in by_q.values() for c in cs}), dtype="int64")
    mask = np.zeros((cells.size, len(qids)), dtype=bool)
    for j, q in enumerate(qids):
        mask[np.searchsorted(cells, by_q.get(int(q), [])), j] = True
    return cells, mask


def _probed_rows(rel: DataFrame, cols, assign: DataFrame, cells) -> DataFrame:
    """The IVF arrow legs' source: (vec_id, cell, *cols) for the rows
    of ``rel`` in the probed ``cells``, widened.  A cell-partitioned
    index that carries its cell (``pq_write_index`` /
    ``sq8_write_index`` layout) takes the probe restriction as a
    PARTITION filter on its own scan, with no join; otherwise the
    ``cell IN (...)`` filter prunes the assignment index (partition-
    prunable at scale) and one hash join attaches ``cols``."""
    from ..sources.ingest import widen_partitions

    cells = [int(c) for c in cells]
    vid = F.col("vec_id").cast("long").alias("vec_id")
    if "cell" in rel.columns:
        src = rel.filter(F.col("cell").isin(cells)).select(
            vid, F.col("cell").cast("long").alias("cell"), *cols
        )
    else:
        src = (
            assign.filter(F.col("cell").isin(cells))
            .select(vid, F.col("cell").cast("long").alias("cell"))
            .join(rel.select(vid, *cols), on="vec_id")
        )
    return widen_partitions(src, "vec_id")


def _ivf_topk_arrow(
    emb: DataFrame, query_ids, k: int, assign: DataFrame, probes
) -> DataFrame | None:
    """Arrow leg of ``ivf_topk``: ``_arrow_topk`` with the cosine
    scorer over the probed rows (``_probed_rows``), blocked by cell so
    each cell's rows score only against the queries probing it.
    ``probes`` is the collected (qid, cell) probe list (|queries| x
    n_probe rows, the same bounded class as the query-vector
    collect).  Returns None when no query or no probe resolves."""
    groups = _resolve_query_groups(emb, query_ids, probes)
    if groups is None:
        return None
    src = _probed_rows(
        emb.select("vec_id", "embedding"), ["embedding"], assign, groups[0].allowed[0]
    )
    walk = _row_blocks("embedding", groups, _cos_score, key="cell")
    return _arrow_topk(src, walk, k, True, "cos")


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
    impl = _route(impl, emb, len(query_ids), n_probe, n_cells)
    cents = _codebook(emb, n_cells, cents)
    if assign is None:
        assign = ivf_assign(emb, n_cells, cents)
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
    return _rank(cos, "cos", k, True)


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
    qs = local_frame(emb.sparkSession, [(int(q),) for q in query_ids], "qid long")
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
    """A centroid (list of doubles, or None) as an array<double> literal.

    Measured and rejected: spelling the codebook as one
    ``CAST(split('...', ',') AS ARRAY<DOUBLE>)`` string cuts the parse
    of 256 literals from 26 to 0.3 ms, with bit-identical fits for
    (k, iters) in (4, 3), (7, 2), (31, 1); but the ``kmeans_codebook``
    benchmark slot only went 0.68 -> 0.64 s, inside its 0.11 s IQR, so
    the per-double literals stay."""
    if cemb is None:
        return "CAST(NULL AS ARRAY<DOUBLE>)"
    return f"CAST(array({', '.join(map(_double_sql, cemb))}) AS ARRAY<DOUBLE>)"


def _codebook_frame(spark, rows: list, keys: tuple = ("cell",)) -> DataFrame:
    """The driver-held codebook ``rows`` = [(*keys, cemb)] as a local
    (*keys, cemb) relation: reading it back runs no Spark job."""
    if not rows:
        nulls = "".join(f"CAST(NULL AS BIGINT) AS {k}, " for k in keys)
        return spark.sql(f"SELECT {nulls}CAST(NULL AS ARRAY<DOUBLE>) AS cemb WHERE false")
    vals = ", ".join(
        "(" + "".join(f"CAST({int(x)} AS BIGINT), " for x in r[:-1]) + f"{_cemb_sql(r[-1])})"
        for r in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({', '.join(keys)}, cemb)")


def _book(cents: DataFrame, code: str = "code", s: str | None = "s") -> dict:
    """Collect a codebook -- PQ's (s, code, cemb), or k-means' (cell,
    cemb) with ``s=None`` as the one subspace 0 -- into the
    driver-held {s: [(code, cemb)]} form every nearest-code pick and
    Lloyd round reads."""
    book: dict = {}
    for r in cents.collect():  # bounded-model-collect
        book.setdefault(r[s] if s else 0, []).append((r[code], r["cemb"]))
    return book


def _pq_dsub(dim: int, m: int) -> int:
    """The PQ subvector length; ``dim`` must divide into ``m`` parts."""
    if m <= 0 or dim % m:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    return dim // m


def _subvec_sql(s, dsub: int | None) -> str:
    """SQL fragment: subspace ``s`` (an int or a SQL int expression)
    of the ``embedding`` column -- the ``dsub``-long slice starting at
    s x dsub, or the whole vector when ``dsub`` is None (k-means: one
    subspace)."""
    if dsub is None:
        return "embedding"
    return f"slice(embedding, {s} * {dsub} + 1, {dsub})"


def _nearest_sql(vec: str, cands: list) -> str:
    """SQL fragment: the nearest of the driver-held candidates
    ``cands`` = [(id, cemb)] (non-empty) to the array expression
    ``vec`` by squared L2, as a struct<d: double, c: bigint>.  The one
    definition of the k-means/PQ argmin, batch and stream.

    Each candidate's ``round(sqdist, 6) + 0.0`` folds once, flat (one
    zip_with + aggregate against a literal centroid), and ``least``
    over the (d, c) structs picks in-row.  Spark orders structs field
    by field, NULL first and NaN last, so the pick is the smallest
    distance with ties to the smaller id, a NULL distance (NULL or
    ragged vector) before every other and NaN after every other --
    with no cap on the distance or the id and no aggregate to plan.
    Distances round to 6 decimals BEFORE the pick so a DuckDB oracle
    (whose sum order differs) replays assignment boundaries
    bit-for-bit.  Flat is the point: a round-7 rewrite that nested the
    fold inside an ``aggregate`` over a codebook ARRAY fell out of
    codegen and measured ~7x slower than the then crossJoin form."""
    picks = [
        f"named_struct('d', round({_sqdist_sql(vec, _cemb_sql(v))}, 6) + 0.0D, "
        f"'c', CAST({int(c)} AS BIGINT))"
        for c, v in cands
    ]
    return picks[0] if len(picks) == 1 else f"least({', '.join(picks)})"


def _nearest_codes(
    src: DataFrame, keep: str, book: dict, dsub: int | None = None
) -> DataFrame:
    """(keep, s, code, dist): the nearest code of every subspace of
    the driver-held codebook ``book`` = {s: [(code, cemb)]}, one row
    per (row, subspace) -- one ``_nearest_sql`` pick per subspace of
    ``_subvec_sql(s, dsub)``, inlined in-row into one row per
    subspace.  No join, no aggregate, no exchange; the plan holds
    O(codebook) literals."""
    if not book:
        return src.selectExpr(
            keep, "CAST(NULL AS BIGINT) AS s", "CAST(NULL AS BIGINT) AS code",
            "CAST(NULL AS DOUBLE) AS dist",
        ).where("false")
    picks = ", ".join(
        f"named_struct('s', CAST({s} AS BIGINT), "
        f"'b', {_nearest_sql(_subvec_sql(s, dsub), cands)})"
        for s, cands in sorted(book.items())
    )
    return src.selectExpr(keep, f"inline(array({picks}))").selectExpr(
        keep, "s", "b.c AS code", "b.d AS dist"
    )


def _nearest_codes_arrow(
    src: DataFrame, keep: str, book: dict, dsub: int | None = None
) -> DataFrame:
    """``_nearest_codes`` as one batched-NumPy mapInArrow pass: the
    same (keep, s, code, dist) rows, under ``_nearest_sql``'s order.

    A (row, candidate) distance is NULL exactly where ``_sqdist_sql``
    gives NULL: a NULL row or centroid, a NULL element, or a length
    mismatch (``dsub`` slices like ``_subvec_sql``, so a longer row
    still scores its slices).  Each length group of clean rows and
    centroids folds as one chunked (rows x codes x len) einsum,
    rounds with ``_spark_round6_np`` and picks a NULL distance first,
    NaN last and ties to the smaller code.  The kernel emits one
    array<struct<s, code, dist>> per row next to the untouched
    ``keep`` column, and the ``inline`` fans it out in the JVM.

    Equality with the relational pick is fuzz-pinned.  The one
    accepted divergence is summation order: a distance within ~1 ulp
    of a 1e-6 rounding boundary AND within 1e-6 of a competing
    candidate may round apart (~1e-11 per pick on continuous data).
    The codebook is model parameters, so holding it in the kernel is
    O(model), never O(data)."""
    if not book:
        return _nearest_codes(src, keep, book)
    import numpy as np

    subs = []  # (s, codes ascending, [(width, candidate columns, matrix)])
    for s, cands in sorted(book.items()):
        cands = sorted(cands, key=lambda p: int(p[0]))
        groups: dict = {}
        for j, (_, v) in enumerate(cands):
            if v is not None and None not in v:
                groups.setdefault(len(v), []).append(j)
        subs.append((
            int(s),
            np.asarray([int(c) for c, _ in cands], dtype="int64"),
            [
                (w, np.asarray(ix), np.asarray(
                    [cands[j][1] for j in ix], dtype="float64").reshape(len(ix), w))
                for w, ix in groups.items()
            ],
        ))
    # chunk rows so the (rows x codes x width) diff tensor stays near
    # 2 MB: on a 4-core host the 8 x 256-code kernel over 20,000 rows
    # took 2.8 s at 32 MB chunks and 1.7 s at 2 MB ones
    step = max(1, (1 << 18) // max(
        len(codes) * max([w for w, _, _ in blocks] + [1]) for _, codes, blocks in subs
    ))
    s_keys = np.asarray([s for s, _, _ in subs], dtype="int64")

    def fold(vals, st, ln, ok, k, blocks):
        """One row chunk's rounded (rows x k) distances, NaN where the
        pair is NULL, and the (rows x k) NULL mask."""
        def sqd(r, w, C):
            d = vals[st[r, None] + np.arange(w)][:, None, :] - C[None, :, :]
            return _spark_round6_np(np.einsum("ijk,ijk->ij", d, d))

        w, ix, C = blocks[0] if blocks else (-1, (), None)
        if len(ix) == k and ok.all() and (ln == w).all():  # one clean block
            return sqd(slice(None), w, C), np.zeros((len(st), k), dtype=bool)
        D = np.full((len(st), k), np.nan)
        N = np.ones((len(st), k), dtype=bool)
        for w, ix, C in blocks:
            r = np.flatnonzero(ok & (ln == w))
            if r.size:
                D[r[:, None], ix] = sqd(r, w, C)
                N[r[:, None], ix] = False
        return D, N

    def pick(D, N):
        """Per row: the first NULL column, else the smallest distance
        with NaN after +Inf, else (all NaN) column 0."""
        nan = np.isnan(D)
        if not nan.any():
            return D.argmin(axis=1), False
        key = np.where(nan, np.inf, D)
        hit = (key == key.min(axis=1, keepdims=True)) & ~nan
        best = np.where(hit.any(axis=1), hit.argmax(axis=1), 0)
        anynull = N.any(axis=1)
        return np.where(anynull, N.argmax(axis=1), best), anynull

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            vec = batch.column("embedding")
            lens = pc.list_value_length(vec).fill_null(-1).to_numpy()
            flat = vec.flatten()
            vals = flat.cast(pa.float64(), safe=False).to_numpy(zero_copy_only=False)
            nulls = np.concatenate(
                [[0], np.cumsum(flat.is_null().to_numpy(zero_copy_only=False))]
            )
            offs = np.concatenate([[0], np.cumsum(np.maximum(lens, 0))])[:-1]
            code = np.empty((n, len(subs)), dtype="int64")
            dist = np.empty((n, len(subs)))
            null = np.empty((n, len(subs)), dtype=bool)
            for t, (s, codes, blocks) in enumerate(subs):
                ln = lens if dsub is None else np.where(
                    lens < 0, -1, np.clip(lens - s * dsub, 0, dsub))
                st = np.where(ln > 0, offs + (0 if dsub is None else s * dsub), 0)
                ok = (ln >= 0) & (nulls[st + np.maximum(ln, 0)] == nulls[st])
                for lo in range(0, n, step):
                    hi = min(n, lo + step)
                    D, N = fold(vals, st[lo:hi], ln[lo:hi], ok[lo:hi], len(codes), blocks)
                    best, null[lo:hi, t] = pick(D, N)
                    code[lo:hi, t] = codes[best]
                    dist[lo:hi, t] = D[np.arange(hi - lo), best]
            items = pa.StructArray.from_arrays(
                [
                    pa.array(np.tile(s_keys, n)),
                    pa.array(code.reshape(-1)),
                    pa.array(dist.reshape(-1), mask=null.reshape(-1)),
                ],
                names=["s", "code", "dist"],
            )
            offsets = pa.array(np.arange(0, n * len(subs) + 1, len(subs), dtype="int32"))
            yield pa.RecordBatch.from_arrays(
                [batch.column(keep), pa.ListArray.from_arrays(offsets, items)],
                names=[keep, "b"],
            )

    schema = (
        f"{keep} {src.schema[keep].dataType.simpleString()}, "
        "b array<struct<s: bigint, code: bigint, dist: double>>"
    )
    cols = [keep] if keep == "embedding" else [keep, "embedding"]
    return src.select(*cols).mapInArrow(kernel, schema).selectExpr(keep, "inline(b)")


def _pick(impl: str, n_candidates: int, arg: str = "impl"):
    """The nearest-code pick behind ``impl``: ``_nearest_codes_arrow``
    for ``"arrow"``, ``_nearest_codes`` for ``"sql"``.  ``"auto"``
    takes the Arrow pick once the per-vector candidate count (cells,
    or codes per subspace) reaches 32: below that the relational
    form's n_rows x candidates interpreted in-row folds cost less than
    the kernel's fixed Python-worker round trip.  Measured crossover
    ~32 at both 2k and 20k vectors against the former crossJoin
    rounds, with the kernel 12x ahead by 256 candidates.  Re-measured
    for kmeans_fit + kmeans_assign with one-query rounds (sf0.1,
    2,000 x 64, 2 rounds, 4-core container, median of 6): k=4 sql
    1.38 s vs arrow 2.18 s, k=16 2.21 vs 2.14 s, k=32 3.09 vs 2.09 s
    -- the crossover now sits between 16 and 32.  Both picks give the
    same rows on every input, so this is purely a cost choice."""
    if impl not in ("auto", "arrow", "sql"):
        raise ValueError(f"{arg} must be 'auto', 'arrow' or 'sql', got {impl!r}")
    if impl == "arrow" or (impl == "auto" and n_candidates >= 32):
        return _nearest_codes_arrow
    return _nearest_codes


def kmeans_assign(
    emb: DataFrame, cents: DataFrame, impl: str = "auto"
) -> DataFrame:
    """Assign each vector to its nearest centroid by squared L2
    distance: (vec_id, cell, dist), one row per input row.  ``cents``
    is (cell, cemb) with cemb an array<double>.  Ties break to the
    smaller cell id; a NULL distance (NULL, NULL-element or ragged
    embedding) sorts first and a NaN one last.  Any BIGINT cell id and
    any distance work: nothing is packed or capped.

    The codebook is model-sized, so it is collected once: that one
    bounded collect both picks the leg and supplies the model (free
    when ``cents`` is a ``kmeans_fit`` result, a local relation).
    The assignment is ONE nearest-code pick with one subspace (k-means
    IS product quantization with m=1) in one of two forms that give
    the same rows on every input: ``"sql"``, the relational
    ``_nearest_codes`` (the oracled surface), or ``"arrow"``, the
    batched-NumPy ``_nearest_codes_arrow``, which wins once the
    per-row fold count is large; ``"auto"`` (default) switches at the
    shared >= 32-candidate threshold (``_pick``).

    Scale shape (``"sql"``): one narrow projection over the widened
    corpus (``widen_partitions``: a small file scans as one task
    otherwise) that folds every distance in-row against the literal
    codebook and picks the cell per row: no crossJoin fan-out, no
    broadcast, no vec_id shuffle.

    Measured on the sf0.1 embeddings (2,000 x 64, k=4, 4-core
    container, warm median of 5): 0.59 s with the former crossJoin +
    vec_id-shuffle argmin, 0.38 s in the in-row form."""
    from ..sources.ingest import widen_partitions

    book = _book(cents, "cell", None)
    pick = _pick(impl, len(book.get(0, [])))
    asg = pick(widen_partitions(emb, "vec_id"), "vec_id", book)
    return asg.select("vec_id", F.col("code").alias("cell"), "dist")


def _lloyd_round(
    src: DataFrame, book: dict, dsub: int | None = None, pick=_nearest_codes
) -> DataFrame:
    """One Lloyd round as one query: (s, code, pos, c), the 6-decimal
    mean of coordinate ``pos`` of subspace ``s`` over the rows whose
    nearest code there is ``code``.  Assignment is ``pick``
    (``_nearest_codes`` or ``_nearest_codes_arrow``) keeping the
    embedding; the members' subvectors posexplode in the same stage
    and a partial-aggregated (s, code, pos) avg crosses the round's
    only exchange -- model-sized partials, never the corpus.  Spark's
    avg skips NULL elements, and a ragged member adds to the
    positions it has."""
    return (
        pick(src, "embedding", book, dsub)
        .selectExpr(
            "s", "code", f"posexplode({_subvec_sql('CAST(s AS INT)', dsub)}) AS (pos, e)"
        )
        .groupBy("s", "code", "pos")
        .agg(
            (F.round(F.avg(F.col("e").cast("double")), 6) + F.lit(0.0)).alias("c")
        )
    )


def _lloyd(
    emb: DataFrame, n_codes: int, iters: int, pick, m: int = 1,
    dsub: int | None = None,
) -> dict:
    """The Lloyd loop behind ``kmeans_fit`` (m = 1, ``dsub`` None) and
    ``pq_train``: init code c of every subspace = vector c's
    ``_subvec_sql`` slice, then ``iters`` rounds; returns the
    driver-held codebook {s: [(code, cemb)]}.

    The driver holds the model -- m x n_codes centroids, the same
    bounded model MLlib's KMeans broadcasts every round.  Each round
    is ONE query over the widened corpus (``_lloyd_round`` through
    ``pick``) whose only exchange carries model-sized (s, code, pos)
    partials, and one collect brings the new means back; a code that
    loses all members drops out.  Nothing corpus-sized is joined,
    broadcast, checkpointed or collected, and every round's plan is
    O(codebook) regardless of ``iters``."""
    from ..sources.ingest import widen_partitions

    init = emb.filter(F.col("vec_id") < n_codes).selectExpr(
        "CAST(vec_id AS BIGINT) AS code",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb",
    )
    vecs = _book(init, "code", None).get(0, [])
    book = {
        s: [(c, v if v is None or dsub is None else v[s * dsub : (s + 1) * dsub])
            for c, v in vecs]
        for s in range(m)
    } if vecs else {}
    src = widen_partitions(emb, "vec_id")
    for _ in range(iters):
        if not book:
            break
        means: dict = {}
        for r in _lloyd_round(src, book, dsub, pick).collect():  # bounded-model-collect
            means.setdefault((r["s"], r["code"]), []).append((r["pos"], r["c"]))
        book = {}
        for (s, code), pc in sorted(means.items()):
            book.setdefault(s, []).append((code, [c for _, c in sorted(pc)]))
    return book


def kmeans_fit(
    emb: DataFrame, k: int = 4, iters: int = 2, assign_impl: str = "auto"
) -> DataFrame:
    """Distributed Lloyd k-means over the embedding column: trains the
    IVF/SemDeDup codebook that ``ivf_assign`` stubs with the first k
    vectors.  Deterministic: init centroids = vectors 0..k-1, squared
    L2 assignment with ties to the smaller cell, centroid coordinates
    rounded to 6 decimals each round (so an SQL oracle replays every
    iteration exactly).  Returns the final (cell, cemb) codebook as a
    local relation, so a following ``kmeans_assign`` reads it without
    a job; a cell that loses all members drops out (production
    pipelines re-seed; at k << n this never happens in practice).

    Scale shape: ``_lloyd`` with one subspace -- k-means IS product
    quantization with m=1, so it shares ``pq_train``'s loop and
    rounds.  Measured with the repository benchmark
    (``training_sf01``, 4-core container, ten runs per side): the
    ``kmeans_codebook`` slot (k=4, 2 rounds + assign) went from a warm
    median of 2.34 s with the former per-round broadcast + vec_id
    argmin shuffle + ``collect_list`` reassembly + ``localCheckpoint``
    to 1.73 s with one-query rounds, and the traced pass starts 7
    Spark jobs while building its queries instead of 13.

    ``assign_impl`` picks the form of the round's one nearest-code
    pick, as in ``kmeans_assign``: ``"sql"`` (``_nearest_codes``),
    ``"arrow"`` (``_nearest_codes_arrow``), or ``"auto"`` (default) by
    k -- see ``_pick`` for the measured crossover.  Both give the same
    codebook on every input."""
    book = _lloyd(emb, k, iters, _pick(assign_impl, k, "assign_impl"))
    return _codebook_frame(emb.sparkSession, book.get(0, []))


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
    from ..sources.ingest import widen_partitions

    dsub = _pq_dsub(dim, m)
    subs = F.array(
        *[F.slice(F.col("embedding"), s * dsub + 1, dsub) for s in range(m)]
    )
    # widen BEFORE the fan-out: the downstream codebook join is a
    # broadcast (narrow), so the m x n_codes interpreted distance
    # folds inherit THIS partitioning; at real scale the input is
    # already wide and this no-ops
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
    distance (``_nearest_sql``'s k-means/PQ picks, the ADC lookup
    table, the re-rank), so the cast/fold contract
    cannot drift between them.

    Measured and rejected (4-core host, ``kmeans_codebook`` benchmark
    slot): unrolling the fold into a per-coordinate sum against the
    literal centroid gives bit-identical results but took the slot
    from 0.96 to 4.19 s.  Janino fails to compile the generated
    ``hashAgg_doAggregateWithKeys_0`` and whole-stage codegen falls
    back; ``ZipWith``/``ArrayAggregate`` are ``CodegenFallback`` in
    Spark 4.1.2, so this form keeps the aggregate compilable."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, (acc, x) -> acc + x)"
    )


def _sqdist(a_col: str, b_col: str):
    """``_sqdist_sql`` between two named array columns, as a Column."""
    return F.expr(_sqdist_sql(a_col, b_col))


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

    with np.errstate(invalid="ignore", over="ignore"):  # NaN / +-Inf pass through
        y = a * 1e6
        fl = np.floor(y)
        frac = y - fl
    # from |x| >= 1e11 the shortest repr has at most 5 decimals: the
    # round is the identity (x*1e6 may overflow); NaN, +-Inf pass too
    keep = ~(np.abs(a) < 1e11)
    out = np.where(keep, a, np.where(frac >= 0.5, fl + 1.0, fl) / 1e6)
    band = 4.0 * np.spacing(np.maximum(np.abs(y), 1.0))
    risky = ~keep & (np.abs(frac - 0.5) <= band)
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        flat, src = out.reshape(-1), a.reshape(-1)
        for i in np.flatnonzero(risky.reshape(-1)):
            flat[i] = float(
                Decimal(repr(float(src[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


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
    always broadcastable) as a local relation.  ``dim`` is the
    embedding length (schema metadata every real pipeline knows); it
    must divide by ``m``.

    Scale shape: ``kmeans_fit``'s loop (``_lloyd``) over m slices --
    one query per round with one (s, code, pos) aggregate exchange
    and a model-sized collect.  ``assign_impl`` picks the form of the
    round's one nearest-code pick, as in ``pq_encode``: ``"sql"``
    (``_nearest_codes``), ``"arrow"`` (``_nearest_codes_arrow``), or
    ``"auto"`` (default) by candidate count -- see ``_pick``.  Both
    give the same codebook on every input."""
    pick = _pick(assign_impl, n_codes, "assign_impl")
    book = _lloyd(emb, n_codes, iters, pick, m, _pq_dsub(dim, m))
    return _codebook_frame(
        emb.sparkSession,
        [(s, c, v) for s, cands in sorted(book.items()) for c, v in cands],
        ("s", "code"),
    )


def _auto_rerank(n: int) -> int:
    """The rerank="auto" shortlist rule: r = clamp(ceil(n / 600), 8,
    1024), calibrated in SCALE.md's decade series -- n is the pool
    the ADC scan actually ranks (the corpus for pq_topk, the probed
    fraction for ivf_pq_topk).  Floor 8 covers tiny pools; the 1024
    ceiling is the round-10 bound (the 256 ceiling measurably lost
    recall at 600k; 1024 passed its saturation test at 1.8M --
    forensics/r10_sf{30,90}_ann.json)."""
    return max(8, min(1024, -(-n // 600)))


def pq_encode(
    emb: DataFrame, cents: DataFrame, dim: int, m: int = 4,
    impl: str = "auto",
) -> DataFrame:
    """Quantize every vector against a trained PQ codebook: (vec_id,
    s, code, dist) -- the long-form index ``pq_topk`` scans (persist
    it once at ingest, like ``ivf_topk``'s ``assign``), with ``dist``
    the per-subspace quantization error (the reconstruction-quality
    diagnostic).

    The codebook is model-sized and collected once (the same bounded
    collect ``kmeans_assign`` makes).  The encode is ONE nearest-code
    pick per subspace (m slices) in one of two forms that give the
    same rows on every input: ``"sql"``, the relational
    ``_nearest_codes`` (one in-row pick per subspace against the
    literal codebook, no join, no aggregate -- the oracled,
    plan-pinned surface), or ``"arrow"``, the batched-NumPy
    ``_nearest_codes_arrow`` -- at 256 codes the relational form's
    corpus x m x n_codes interpreted folds dominate the whole index
    build.  ``"auto"`` (default) picks by codebook size with the
    training threshold (arrow at >= 32 codes, ``_pick``)."""
    from ..sources.ingest import widen_partitions

    book = _book(cents)
    # m rows per code -> n_codes = rows / m
    pick = _pick(impl, sum(map(len, book.values())) // max(1, m))
    return pick(widen_partitions(emb, "vec_id"), "vec_id", book, _pq_dsub(dim, m))


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


def _adc_score(g, qsel, ids, C, extra):
    """The ADC scorer of the PQ legs, over an (n, m) block of int64
    codes: returns (dist, ok) -- dist the round-6 subspace-sum
    replica, ok the full relational exclusion mask (self, NaN, no
    matching codebook entry, all-NULL fold).  ``g.p`` is the
    ``_adc_lut`` layout; the threshold pass (``_adc_thresholds``) and
    the serving pass score through this one function over the same
    ``_row_blocks`` walk, so the pass that PICKS the pruning
    threshold and the pass that APPLIES it price exactly the same
    pairs on one contract."""
    import numpy as np

    lut, lutv, seen, code_vals = g.p[1:]
    n, m = C.shape
    qs = g.qids[qsel]
    flat = isinstance(qsel, slice)
    D = np.empty((n, qs.size))
    valid_any = np.empty((n, qs.size), dtype=bool)
    matched = np.zeros(n, dtype="int64")
    with np.errstate(all="ignore"):
        # row-blocked accumulation: the (block, |q|) working set stays
        # cache-resident across the m subspace passes instead of m
        # full DRAM round-trips over an (n, |q|) accumulator -- the
        # per-element op sequence (ascending s, where/add) is
        # unchanged, so the fold stays bit-identical
        for r0 in range(0, n, _ADC_ROW_BLOCK):
            r1 = min(n, r0 + _ADC_ROW_BLOCK)
            Db = np.zeros((r1 - r0, qs.size))
            vb = np.zeros((r1 - r0, qs.size), dtype=bool)
            for s in range(m):
                inr, idx = _code_index(code_vals, C[r0:r1, s])
                hit = inr & seen[s, idx]
                # one direct (rows, |qsel|) gather -- the chained
                # [idx][:, qsel] form materializes the full (rows,
                # |q|) slab first, paying the unprobed columns
                at = (idx, qsel) if flat else (idx[:, None], qsel[None, :])
                v = lutv[s][at] & hit[:, None]
                Db += np.where(v, lut[s][at], 0.0)
                vb |= v
                matched[r0:r1] += hit
            D[r0:r1] = Db
            valid_any[r0:r1] = vb
        dist = _spark_round6_signed(D) + 0.0
        # matched>0: the relational group exists (>=1 join row);
        # valid_any: dist is not the all-NULL SUM
        ok = (
            (ids[:, None] != qs[None, :])
            & ~np.isnan(dist)
            & (matched > 0)[:, None]
            & valid_any
        )
    return dist, ok


def _adc_thresholds(src, walk, qids, keep):
    """EXACT per-query ``keep``-th smallest valid ADC distance over
    ``src`` -- the pruning bound for large-shortlist serving (round
    13).  ``walk`` is the serving scan's own ``_row_blocks`` walk
    (one query group, ``qids``), so the threshold pass prices
    EXACTLY the candidate pairs its serving kernel will score.  Returns t[len(qids)] float64 (+inf when a
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
            for _, dist, ok, _, qsel in walk(batch):
                for jj, j in enumerate(np.arange(nq)[qsel]):
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


def _adc_topk(src: DataFrame, layout, m: int, keep: int, allowed=None) -> DataFrame:
    """The PQ legs' arrow ADC scan: ``_arrow_topk`` with the
    ``_adc_score`` scorer over ``src``'s (vec_id, [cell,] codes) rows
    -- one query group of every resolved query over rows with m codes,
    blocked by cell when ``allowed`` (the IVF x PQ probe mask) is
    given.

    Large shortlists (rerank-grade keep > ``_ARROW_ADC_MAX_KEEP``) are
    where the per-batch bottom-keep stops pruning (keep ~ batch rows
    -> the kernel emits ~corpus x queries rows) AND where the
    relational window total-sorts (keep above Spark's group-limit
    pushdown bound): there the scan first prices the EXACT per-query
    keep-th distance over the same walk (``_adc_thresholds``, one
    eager scan) and gates on it, so the serving emission is ~|q| x
    keep rows (round 13)."""
    groups = [_QGroup(m, layout[0], allowed, layout)]
    key = None if allowed is None else "cell"
    walk = _row_blocks("codes", groups, _adc_score, key=key, dtype="int64")
    thr = (
        _adc_thresholds(src, walk, layout[0], keep)
        if int(keep) > _ARROW_ADC_MAX_KEEP
        else None
    )
    return _arrow_topk(src, walk, keep, False, "dist", thr)


def _pq_topk_arrow(
    packed: DataFrame,
    emb: DataFrame,
    query_ids,
    cents: DataFrame,
    dim: int,
    m: int,
    keep: int,
) -> DataFrame | None:
    """Arrow leg of ``pq_topk``'s ADC pass (packed codes, no
    candidates): the per-query (s, code) -> distance lookup table is
    built ON THE DRIVER from the collected query vectors and the
    collected codebook (both model-sized -- |q| x m x n_codes floats;
    the same bounded class as every other model collect), then
    ``_adc_topk`` folds dist[row, q] = sum_s lut[q, s, code_row_s]
    over the widened packed relation.

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
    from ..sources.ingest import widen_partitions

    layout = _adc_lut(emb, query_ids, cents, dim, m)
    if layout is None:
        return None
    src = widen_partitions(packed, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"), "codes"
    )
    return _adc_topk(src, layout, m, keep)


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
    if impl == "arrow" and packed is None:
        raise ValueError(
            "pq_topk impl='arrow' needs the PACKED codes layout "
            "(pq_pack output); long-form codes run relationally"
        )
    keep = k if rerank is None else k * rerank
    adc = None
    scan = packed if candidates is None else None  # the arrow-served scan
    if _route(impl, scan, len(query_ids)) == "arrow" and scan is not None:
        adc = _pq_topk_arrow(packed, emb, query_ids, cents, dim, m, keep)
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
        adc = _rank(scored, "dist", keep, False)
    if rerank is None:
        return adc
    return _exact_rerank(
        emb, query_ids, adc, k, keep=keep, dim=dim, impl=impl
    )


def _l2_score(g, qsel, ids, X, extra):
    """The exact squared-L2 scorer of the rerank leg: per pair,
    (x_j - q_j)^2 accumulates SEQUENTIALLY over j=0..d-1 in float64
    -- ``_sqdist``'s left-fold order (``np.cumsum`` is a strict left
    fold) -- then round6 + 0.0.  ``ok`` drops NaN distances: NaN
    payloads, and NULL elements on either side (NULL poisons the SQL
    fold; they ride as NaN here).  No self-exclusion, exactly like
    the relational form: the ADC pass already excluded self."""
    import numpy as np

    with np.errstate(all="ignore"):
        diff = X[:, None, :] - g.p[qsel][None, :, :]
        sq = diff * diff
        acc = np.cumsum(sq, axis=2)[:, :, -1] if X.shape[1] else np.zeros(sq.shape[:2])
        dist = _spark_round6_signed(acc) + 0.0
    return dist, ~np.isnan(dist)


def _exact_rerank_arrow(
    emb: DataFrame, query_ids, adc: DataFrame, k: int
) -> DataFrame | None:
    """Vectorized scoring pass for ``_exact_rerank``: the SAME
    broadcast-shortlist candidates join (the join was never the
    problem), but the per-pair squared-L2 fold runs through
    ``_arrow_topk`` with the ``_l2_score`` scorer instead of the
    interpreted ``zip_with``/``aggregate`` lambda (round-12 crossover
    measured that expression class 2.4-110x slower than the kernel
    form; at rerank shortlists of |q| x 10^4 rows the fold dominated
    the whole query).  The candidate rows block by qid with an
    identity mask, so each row scores only against its own query.

    Query resolution keeps the relational semantics: a NULL query
    embedding serves no rows (its inner-join rows all fold NULL); an
    EMPTY query scores only empty corpus rows (zero elements fold to
    the init 0.0 -- a real distance), which its d=0 group preserves;
    NULL query elements ride as NaN.  Duplicate query vec_ids return
    None (the relational join scores every duplicate row; that
    multi-row semantics is served there), as does a query set with
    no resolvable vector (the relational form then serves the
    provably-empty plan)."""
    import numpy as np

    from ..sources.ingest import widen_partitions

    qrows = (
        emb.filter(F.col("vec_id").isin(list(query_ids)))
        .select(F.col("vec_id").cast("long").alias("qid"), "embedding")
        .collect()  # bounded-model-collect: |query_ids| query vectors
    )
    if len({int(r["qid"]) for r in qrows}) < len(qrows):
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
        pairs.sort()  # qid-ascending: the identity mask's sorted keys
        qg = np.array([p[0] for p in pairs], dtype="int64")
        Qg = np.array(
            [[np.nan if x is None else float(x) for x in p[1]] for p in pairs],
            dtype="float64",
        ).reshape(len(pairs), d)
        groups.append(_QGroup(d, qg, (qg, np.eye(qg.size, dtype=bool)), Qg))
    short = adc.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("vec_id").cast("long").alias("vec_id"),
    )
    src = (
        widen_partitions(emb, "vec_id")
        .select(F.col("vec_id").cast("long").alias("vec_id"), "embedding")
        .join(F.broadcast(short), on="vec_id")
        .select("qid", "vec_id", "embedding")
    )
    walk = _row_blocks("embedding", groups, _l2_score, key="qid")
    return _arrow_topk(src, walk, k, False, "dist")


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
    work = None if keep is None or dim is None else len(list(query_ids)) * int(keep) * int(dim) * 8
    if _route(impl, work=work) == "arrow":
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
    return _rank(rescored, "dist", k, False)


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
    """Cell-blocked arrow leg of ``ivf_pq_topk``'s ADC pass:
    ``_pq_topk_arrow``'s driver-LUT fold over the probed fraction of
    the packed codes relation (``_probed_rows``), each cell scoring
    only the queries probing it -- bit-identical to the relational
    ``pq_topk(candidates=...)`` composition.  A rerank-grade keep
    runs the same exact-threshold pruning as the flat path, priced
    over exactly the probed candidate pairs (``_adc_topk``)."""
    layout = _adc_lut(emb, query_ids, cents, dim, m)
    if layout is None:
        return None
    allowed = _probe_mask(probes, layout[0])
    if allowed[0].size == 0:
        return None
    src = _probed_rows(packed, ["codes"], assign, allowed[0])
    return _adc_topk(src, layout, m, keep, allowed)


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
    use_arrow = (
        _route(impl, packed, len(query_ids), n_probe, n_cells) == "arrow"
        and packed is not None
    )
    cents = _codebook(emb, n_cells, ivf_cents)
    if assign is None:
        if codes is not None and "cell" in codes.columns:
            # cell-partitioned index: the assignment rides in it --
            # never re-pay the corpus assignment pass
            assign = codes.select("vec_id", "cell")
        else:
            assign = ivf_assign(emb, n_cells, cents)
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
    if use_arrow:
        keep = k if rerank is None else k * int(rerank)
        probes = _probe_cells(
            q, cents, n_probe
        ).collect()  # bounded-model-collect: |q| x n_probe rows
        adc = _ivf_pq_topk_arrow(
            packed, emb, query_ids, pq_cents, dim, m, keep, assign, probes,
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
    """Arrow leg of ``sq8_topk`` (no-candidates form): ``_arrow_topk``
    over the 4x-smaller (vec_id, scale, q, nrm) relation with the
    ``_cos_score`` scorer's SQ8 arithmetic --
    round6((scale * dot) / (nrm * qnrm)) + 0.0, the integer-code dot
    a BLAS GEMM proven round-6-equal to the SQL sequential fold.
    Returns None only when no query id resolves to a usable vector
    (both forms are then empty)."""
    from ..sources.ingest import widen_partitions

    groups = _resolve_query_groups(emb, query_ids)
    if groups is None:
        return None
    src = widen_partitions(codes, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"), "scale", "q", "nrm"
    )
    walk = _row_blocks("q", groups, _cos_score, cols=("scale", "nrm"))
    return _arrow_topk(src, walk, k, True, "cos")


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
    scan = codes if candidates is None else None  # the arrow-served scan
    if _route(impl, scan, len(query_ids)) == "arrow" and scan is not None:
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
    return _rank(cos, "cos", k, True)


def _ivf_sq8_topk_arrow(
    codes: DataFrame, emb: DataFrame, query_ids, k: int,
    assign: DataFrame, probes,
) -> DataFrame | None:
    """Cell-blocked arrow leg of ``ivf_sq8_topk``: ``_sq8_topk_arrow``'s
    scorer over the probed rows of the codes relation
    (``_probed_rows``), each cell scoring only the queries probing it
    -- bit-identical to the relational ``sq8_topk(candidates=...)``
    composition, fuzz-pinned."""
    groups = _resolve_query_groups(emb, query_ids, probes)
    if groups is None:
        return None
    src = _probed_rows(codes, ["scale", "q", "nrm"], assign, groups[0].allowed[0])
    walk = _row_blocks("q", groups, _cos_score, key="cell", cols=("scale", "nrm"))
    return _arrow_topk(src, walk, k, True, "cos")


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
    if codes is None:
        codes = sq8_encode(emb)
    if "nrm" not in codes.columns:
        codes = codes.withColumn("nrm", _sq8_nrm())
    impl = _route(impl, codes, len(query_ids), n_probe, n_cells)
    cents = _codebook(emb, n_cells, ivf_cents)
    if assign is None:
        if "cell" in codes.columns:
            # cell-partitioned index: the assignment rides in it
            assign = codes.select("vec_id", "cell")
        else:
            assign = ivf_assign(emb, n_cells, cents)
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
