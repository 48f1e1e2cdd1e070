"""Property-based fuzz of the ANN similarity tier -- cosine_topk,
ivf_assign, ivf_topk, ann_recall -- against a plain-Python model on
random small-integer embeddings.  Integer components keep every dot
product and squared norm exact in float64, so the engine's in-row
zip_with/aggregate folds and the model's arithmetic agree bit-for-bit
and the shared 6-decimal pre-rank rounding replays identically; the
model re-implements the documented tie policies (higher cosine first,
then smaller vec_id / smaller cell) rather than calling the engine.

Also pins two structural invariants of the committed ann_recall
semantics: a FULL probe makes IVF == exact (recall exactly 1.0 with
the per-query achievable denominator), and every requested qid gets a
row."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st


def _r6(v: float) -> float:
    """The shared Spark-round(6) model (conftest.spark_round6:
    HALF_UP over the double's shortest decimal representation -- the
    floor(v*1e6+0.5) approximation this suite used previously can
    cross a half-boundary via FP error where the decimal
    representation does not)."""
    from tests.conftest import spark_round6

    return spark_round6(v)


VEC = st.lists(
    st.integers(min_value=0, max_value=3), min_size=3, max_size=3
).filter(lambda v: any(v))
CORPUS = st.lists(VEC, min_size=5, max_size=9)


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return _r6(dot / (na * nb))


def py_topk(vecs, qids, k):
    out = {}
    for q in qids:
        scored = sorted(
            (( -_cos(v, vecs[q]), i) for i, v in enumerate(vecs) if i != q),
        )[:k]
        out[q] = [(r, i, -nc) for r, (nc, i) in enumerate(scored)]
    return out


def py_assign(vecs, n_cells):
    # stub codebook: first n_cells vectors, ties -> smaller cell
    out = {}
    for i, v in enumerate(vecs):
        out[i] = max(
            range(n_cells), key=lambda c: (_cos(v, vecs[c]), -c)
        )
    return out


def py_ivf_topk(vecs, qids, k, n_cells, n_probe):
    assign = py_assign(vecs, n_cells)
    out = {}
    for q in qids:
        probes = sorted(
            range(n_cells), key=lambda c: (-_cos(vecs[q], vecs[c]), c)
        )[:n_probe]
        cand = [i for i in range(len(vecs)) if assign[i] in probes and i != q]
        scored = sorted(((-_cos(vecs[i], vecs[q]), i) for i in cand))[:k]
        out[q] = [(r, i, -nc) for r, (nc, i) in enumerate(scored)]
    return out


@settings(max_examples=3, deadline=None)
@given(CORPUS)
def test_similarity_tier_matches_python(spark, vecs):
    from dask_array_spark.functions import similarity as SIM

    emb = _emb(spark, vecs)
    qids, k, n_cells, n_probe = [0, 2], 3, 2, 1

    got = {}
    for r in SIM.cosine_topk(emb, qids, k=k).collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"], r["cos"]))
    model = py_topk(vecs, qids, k)
    assert {q: sorted(v) for q, v in got.items()} == {
        q: sorted(v) for q, v in model.items()
    }

    got_asg = {
        r["vec_id"]: r["cell"]
        for r in SIM.ivf_assign(emb, n_cells=n_cells).collect()
    }
    assert got_asg == py_assign(vecs, n_cells)

    got_iv = {}
    for r in SIM.ivf_topk(
        emb, qids, k=k, n_cells=n_cells, n_probe=n_probe
    ).collect():
        got_iv.setdefault(r["qid"], []).append((r["rank"], r["vec_id"], r["cos"]))
    model_iv = py_ivf_topk(vecs, qids, k, n_cells, n_probe)
    assert {q: sorted(v) for q, v in got_iv.items()} == {
        q: sorted(v) for q, v in model_iv.items() if v
    }

    # recall vs the model's intersection, with the achievable-count
    # denominator; every requested qid present (999 never is)
    rc = {
        r["qid"]: (r["n_hits"], r["recall"])
        for r in SIM.ann_recall(
            emb, qids + [999], k=k, n_cells=n_cells, n_probe=n_probe
        ).collect()
    }
    assert set(rc) == set(qids) | {999}
    assert rc[999] == (0, None)
    for q in qids:
        ex = {i for _, i, _ in model[q]}
        ap = {i for _, i, _ in model_iv[q]}
        hits = len(ex & ap)
        assert rc[q][0] == hits
        assert abs(rc[q][1] - _r6(hits / len(ex))) <= 1e-9

    # structural: a full probe makes IVF exhaustive == exact top-k
    full = {}
    for r in SIM.ivf_topk(
        emb, qids, k=k, n_cells=n_cells, n_probe=n_cells
    ).collect():
        full.setdefault(r["qid"], []).append((r["rank"], r["vec_id"], r["cos"]))
    assert {q: sorted(v) for q, v in full.items()} == {
        q: sorted(v) for q, v in model.items()
    }


# ----------------------------------------------------------- int8 SQ


def _round_int_half_up(v: float) -> int:
    """Spark round(col, 0): HALF_UP over the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(float(v))).quantize(Decimal(1), ROUND_HALF_UP))


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-8, 8), min_size=4, max_size=4),
        min_size=3,
        max_size=10,
    ),
    st.integers(1, 4),
)
def test_sq8_encode_topk_model(spark, rows, k):
    """sq8_encode / sq8_topk vs a plain-Python replay of the exact
    contract: scale = max|e|/127 (1.0 for the zero vector), code =
    HALF_UP integer rounding, asymmetric cosine with 6-decimal
    pre-rank rounding, self excluded, ties to the smaller vec_id."""
    import pandas as pd

    from dask_array_spark.functions import similarity as SIM

    X = [np.asarray(r, dtype="float64") / 4.0 for r in rows]
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(len(X)), "embedding": [r.astype("float32") for r in X]}
        )
    )
    enc = {
        r["vec_id"]: (r["scale"], list(r["q"]), r["nrm"])
        for r in SIM.sq8_encode(emb).collect()
    }
    codes_by_i, scale_by_i = {}, {}
    for i, x in enumerate(X):
        mx = float(np.max(np.abs(x)))
        scale = 1.0 if mx == 0.0 else mx / 127.0
        codes = [_round_int_half_up(v / scale) for v in x]
        assert enc[i][0] == pytest.approx(scale, abs=1e-12)
        assert enc[i][1] == codes
        deq = np.asarray(codes, dtype="float64") * scale
        # the norm rides the index (round 9): dequantized norm
        assert enc[i][2] == pytest.approx(float(np.sqrt(np.sum(deq**2))), abs=1e-9)
        codes_by_i[i] = np.asarray(codes, dtype="float64")
        scale_by_i[i] = scale

    qids = [0, 1]
    rows_out = SIM.sq8_topk(emb, qids, k=k).collect()
    for q in qids:
        if np.all(X[q] == 0):  # zero query: NaN cosines drop in ranking
            continue
        cos = {}
        for i in range(len(X)):
            if i == q:
                continue
            deq_i = codes_by_i[i] * scale_by_i[i]
            nrm = float(np.sqrt(np.sum(deq_i**2)))
            qn = float(np.sqrt(np.sum(X[q] ** 2)))
            if nrm == 0.0:
                continue  # zero corpus vector: NaN cosine, dropped
            # round-9 engine form: scale * (integer-code dot)
            cos[i] = _r6(scale_by_i[i] * float(codes_by_i[i] @ X[q]) / (nrm * qn))
        order = sorted(cos, key=lambda i: (-cos[i], i))[:k]
        got = sorted(
            ((r["rank"], r["vec_id"], r["cos"]) for r in rows_out if r["qid"] == q)
        )
        assert [v for _, v, _ in got] == order
        for rk, v, c in got:
            assert c == pytest.approx(cos[v], abs=1e-9)
            assert rk == order.index(v)


# ---------------------------------------------------------------------------
# sql <-> arrow parity (round 11): the arrow kernel must agree with
# the relational form BIT-FOR-BIT, not just approximately -- the
# kernel replicates the SQL left-fold accumulation order, the shared
# round-6 contract, and the packed (cos desc, vec_id asc) tie order.
# Hostile floats exercise the exclusion parity (zero norms, NaN
# payloads, NULL/ragged embeddings) the fuzz corpus above cannot.
# ---------------------------------------------------------------------------

FVEC = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, width=32
    ),
    min_size=4, max_size=4,
)


@settings(max_examples=4, deadline=None)
@given(st.lists(FVEC, min_size=6, max_size=24), st.integers(1, 6))
def test_cosine_topk_arrow_matches_sql(spark, vecs, k):
    from dask_array_spark.functions import similarity as SIM

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    qids = [0, len(vecs) // 2, len(vecs) - 1]
    a = SIM.cosine_topk(emb, qids, k=k, impl="sql").orderBy("qid", "rank")
    b = SIM.cosine_topk(emb, qids, k=k, impl="arrow").orderBy("qid", "rank")
    ta, tb = [tuple(r) for r in a.collect()], [tuple(r) for r in b.collect()]
    assert ta == tb, f"sql/arrow divergence: {ta} != {tb}"


def test_cosine_topk_arrow_matches_sql_hostile(spark):
    from dask_array_spark.functions import similarity as SIM

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [0.0, 0.0, 0.0]),            # zero norm -> excluded
        (2, [float("nan"), 1.0, 2.0]),   # NaN payload -> excluded
        (3, [4.0, -1.0, 0.5]),
        (4, None),                       # NULL embedding -> excluded
        (5, [1.0, 2.0]),                 # ragged -> excluded
        (6, [-1.0, -2.0, -3.0]),
        (7, [1e200, 1e200, 1e200]),      # huge finite
        (8, [5e-324, 0.0, 0.0]),         # denormal norm
        (9, [0.5, 0.5, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for qids in ([0], [0, 1, 2, 4, 5], [6, 7, 8]):
        a = SIM.cosine_topk(emb, qids, k=5, impl="sql").orderBy("qid", "rank")
        b = SIM.cosine_topk(emb, qids, k=5, impl="arrow").orderBy("qid", "rank")
        ta = [tuple(r) for r in a.collect()]
        tb = [tuple(r) for r in b.collect()]
        assert ta == tb, f"qids={qids}: {ta} != {tb}"


def test_sq8_topk_arrow_matches_sql(spark):
    """The sq8 arrow scan must agree with the relational form
    bit-for-bit under the same contract as cosine_topk's kernel."""
    import numpy as np

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 6)) * 3
    vecs[7] = 0.0  # zero vector -> zero scale/norm
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    # NULL and ragged embeddings: NULL / short codes, which the SQL
    # zip_with folds to NULL and the kernel's length mask drops
    rows += [(40, None), (41, [1.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes = SIM.sq8_encode(emb).persist()
    codes.count()
    for qids, k in ([[0, 7, 19, 40, 41], 5], [[3], 1], [list(range(12)), 9]):
        a = SIM.sq8_topk(emb, qids, k=k, codes=codes, impl="sql").orderBy(
            "qid", "rank"
        )
        b = SIM.sq8_topk(emb, qids, k=k, codes=codes, impl="arrow").orderBy(
            "qid", "rank"
        )
        ta = [tuple(r) for r in a.collect()]
        tb = [tuple(r) for r in b.collect()]
        assert ta == tb, f"qids={qids}: {ta} != {tb}"
    codes.unpersist()


@settings(max_examples=4, deadline=None)
@given(st.lists(FVEC, min_size=10, max_size=24), st.integers(1, 5),
       st.integers(2, 4))
def test_ivf_topk_arrow_matches_sql(spark, vecs, k, n_probe):
    """The cell-masked IVF arrow kernel (round 12) must agree with the
    relational candidate-join form bit-for-bit: same probe contract,
    same cosine values, same exclusions, same tie order."""
    from dask_array_spark.functions import similarity as SIM

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    qids = [0, len(vecs) // 2, len(vecs) - 1]
    a = SIM.ivf_topk(emb, qids, k=k, n_cells=4, n_probe=n_probe,
                     impl="sql").orderBy("qid", "rank")
    b = SIM.ivf_topk(emb, qids, k=k, n_cells=4, n_probe=n_probe,
                     impl="arrow").orderBy("qid", "rank")
    ta, tb = [tuple(r) for r in a.collect()], [tuple(r) for r in b.collect()]
    assert ta == tb, f"ivf sql/arrow divergence: {ta} != {tb}"


def test_ivf_topk_arrow_matches_sql_hostile(spark):
    """Hostile rows (zero norm, NaN payload, NULL, ragged) plus a
    TRAINED codebook and a persisted assignment index -- the
    production posture -- must agree across forms."""
    from dask_array_spark.functions import similarity as SIM

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [0.0, 0.0, 0.0]),
        (2, [float("nan"), 1.0, 2.0]),
        (3, [4.0, -1.0, 0.5]),
        (4, None),
        (5, [1.0, 2.0]),
        (6, [-1.0, -2.0, -3.0]),
        (7, [0.5, 0.5, 0.5]),
        (8, [3.0, 0.1, -2.0]),
        (9, [-0.5, 2.5, 1.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    trained = SIM.kmeans_fit(emb, k=3, iters=1)
    assign = SIM.ivf_assign(emb, 3, trained).persist()
    assign.count()
    for qids in ([0], [0, 4, 5], [6, 7, 8]):
        a = SIM.ivf_topk(emb, qids, k=4, n_cells=3, n_probe=2,
                         cents=trained, assign=assign,
                         impl="sql").orderBy("qid", "rank")
        b = SIM.ivf_topk(emb, qids, k=4, n_cells=3, n_probe=2,
                         cents=trained, assign=assign,
                         impl="arrow").orderBy("qid", "rank")
        ta = [tuple(r) for r in a.collect()]
        tb = [tuple(r) for r in b.collect()]
        assert ta == tb, f"qids={qids}: {ta} != {tb}"
    assign.unpersist()


def test_sq8_topk_arrow_candidates_raises(spark):
    """Explicit impl='arrow' with candidates raises (candidate scans
    run relationally); auto still serves the restricted scan."""
    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(131)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng.normal(size=(24, 8)) * 2)],
        "vec_id long, embedding array<double>",
    )
    codes = SIM.sq8_encode(emb)
    cand = emb.selectExpr("0 as qid", "vec_id")
    with pytest.raises(ValueError, match="candidates"):
        SIM.sq8_topk(emb, [0], k=3, codes=codes, candidates=cand,
                     impl="arrow")
    assert SIM.sq8_topk(emb, [0], k=3, codes=codes, candidates=cand,
                        impl="auto").count() == 3


def test_explicit_arrow_serves_null_and_ragged_queries(spark):
    """Explicit impl='arrow' with a query set containing a NULL
    embedding and a ragged (different-length) vector must still run
    the kernel and agree with the SQL form exactly."""
    from dask_array_spark.functions import similarity as SIM

    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [4.0, -1.0, 0.5]),
        (2, None),
        (3, [1.0, 2.0]),
        (4, [-1.0, -2.0, -3.0]),
        (5, [2.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qids = [0, 2, 3]
    a = SIM.cosine_topk(emb, qids, k=3, impl="arrow").orderBy("qid", "rank")
    s = SIM.cosine_topk(emb, qids, k=3, impl="sql").orderBy("qid", "rank")
    ta, ts = [tuple(r) for r in a.collect()], [tuple(r) for r in s.collect()]
    assert ta == ts
    # the ragged query (id 3, len 2) matches ONLY the other len-2 row
    assert [t for t in ta if t[0] == 3] == [
        t for t in ts if t[0] == 3
    ] and any(t[0] == 3 and t[2] == 5 for t in ta)
    # the NULL query (id 2) emits no rows in either form
    assert not any(t[0] == 2 for t in ta)
    # the arrow plan is honored: a mapInArrow scan is present
    assert "mapinarrow" in a._jdf.queryExecution().executedPlan().toString().lower()


def test_arrow_kernel_accepts_huge_vec_ids(spark):
    """vec_id >= 2**40 no longer refuses: threshold pruning carries
    ids verbatim (the round-11 packed key could not)."""
    from dask_array_spark.functions import similarity as SIM

    big = 1 << 50
    rows = [(big + i, [float(i + 1), 1.0, -float(i)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qids = [big, big + 3]
    a = SIM.cosine_topk(emb, qids, k=4, impl="arrow").orderBy("qid", "rank")
    s = SIM.cosine_topk(emb, qids, k=4, impl="sql").orderBy("qid", "rank")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in s.collect()]
