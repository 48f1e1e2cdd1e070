"""Product quantization (pq_train / pq_encode / pq_pack / pq_topk) vs
an exact plain-Python model.

The model replays the engine's full determinism contract: init code c
= vector c's subvector, squared-L2 distances rounded to 6 decimals
BEFORE every argmin, ties to the smaller code / vec_id, centroid
coordinates rounded to 6 decimals per Lloyd round, ADC distance =
round(sum of rounded per-subspace lookups, 6).  Any drift in slicing,
assignment, update, packing, or ranking shows up as an exact
mismatch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st


def _emb_df(spark, X):
    return spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(len(X)), "embedding": [row.astype("float32") for row in X]}
        )
    )


def _r6(x):
    """Vectorized wrapper over the shared Spark-round(6) model
    (tests/conftest.spark_round6: HALF_UP over the double's shortest
    decimal representation -- NOT NumPy's banker's rounding)."""
    from tests.conftest import spark_round6

    arr = np.asarray(x, dtype="float64")
    if arr.ndim == 0:
        return spark_round6(float(arr))
    return np.asarray([spark_round6(v) for v in arr.ravel()]).reshape(arr.shape)


def _model_train(X, m, n_codes, iters):
    """{(s, code): centroid ndarray} after `iters` Lloyd rounds."""
    n, dim = X.shape
    dsub = dim // m
    subs = {(i, s): X[i, s * dsub : (s + 1) * dsub].astype("float64") for i in range(n) for s in range(m)}
    cents = {(s, c): subs[(c, s)].copy() for s in range(m) for c in range(n_codes)}
    for _ in range(iters):
        asg = _model_assign(subs, cents, n, m)
        new = {}
        for (s, c) in set(cents):
            members = [subs[(i, s)] for i in range(n) if asg[(i, s)][0] == c]
            if members:
                new[(s, c)] = _r6(np.mean(members, axis=0))
        cents = new
    return cents


def _model_assign(subs, cents, n, m):
    """{(i, s): (code, dist)} with the engine's rounding/tie contract."""
    out = {}
    for i in range(n):
        for s in range(m):
            best = None
            for (cs, c), cent in sorted(cents.items()):
                if cs != s:
                    continue
                d = _r6(np.sum((subs[(i, s)] - cent) ** 2))
                if best is None or (d, c) < best[1]:
                    best = ((c, d), (d, c))
            out[(i, s)] = best[0]
    return out


@settings(max_examples=4, deadline=None)
@given(
    st.integers(5, 12),
    st.sampled_from([2, 4]),
    st.integers(2, 4),
    st.integers(1, 3),
    st.integers(0, 10_000),
)
def test_pq_train_encode_model(spark, n, m, n_codes, iters, seed):
    from dask_array_spark.functions import similarity as SIM

    dim = 8
    rng = np.random.default_rng(seed)
    # half-precision grid values: FP-exact through slicing and the
    # float32 ingest column, so the model comparison is bit-for-bit
    X = rng.integers(-8, 9, size=(n, dim)).astype("float64") / 4.0
    emb = _emb_df(spark, X)

    cents = SIM.pq_train(emb, dim=dim, m=m, n_codes=n_codes, iters=iters)
    got_cents = {
        (r["s"], r["code"]): np.asarray(r["cemb"]) for r in cents.collect()
    }
    want_cents = _model_train(X, m, n_codes, iters)
    assert set(got_cents) == set(want_cents)
    for key in want_cents:
        np.testing.assert_allclose(got_cents[key], want_cents[key], atol=1e-9)

    enc = SIM.pq_encode(emb, cents, dim=dim, m=m)
    got_enc = {(r["vec_id"], r["s"]): (r["code"], r["dist"]) for r in enc.collect()}
    dsub = dim // m
    subs = {
        (i, s): X[i, s * dsub : (s + 1) * dsub] for i in range(n) for s in range(m)
    }
    want_enc = _model_assign(subs, want_cents, n, m)
    assert set(got_enc) == set(want_enc)
    for key, (c, d) in want_enc.items():
        assert got_enc[key][0] == c
        assert got_enc[key][1] == pytest.approx(d, abs=1e-9)

    packed = {r["vec_id"]: list(r["codes"]) for r in SIM.pq_pack(enc).collect()}
    assert packed == {
        i: [want_enc[(i, s)][0] for s in range(m)] for i in range(n)
    }


@settings(max_examples=4, deadline=None)
@given(
    st.integers(6, 14),
    st.sampled_from([2, 4]),
    st.integers(2, 4),
    st.integers(1, 5),
    st.integers(0, 10_000),
)
def test_pq_topk_adc_model(spark, n, m, n_codes, k, seed):
    from dask_array_spark.functions import similarity as SIM

    dim = 8
    rng = np.random.default_rng(seed)
    X = rng.integers(-8, 9, size=(n, dim)).astype("float64") / 4.0
    emb = _emb_df(spark, X)
    qids = [0, 2]

    cents = SIM.pq_train(emb, dim=dim, m=m, n_codes=n_codes, iters=2)
    enc = SIM.pq_encode(emb, cents, dim=dim, m=m)
    rows = SIM.pq_topk(emb, qids, cents, dim=dim, m=m, k=k, codes=enc).collect()

    want_cents = _model_train(X, m, n_codes, 2)
    dsub = dim // m
    subs = {
        (i, s): X[i, s * dsub : (s + 1) * dsub] for i in range(n) for s in range(m)
    }
    asg = _model_assign(subs, want_cents, n, m)
    for q in qids:
        dt = {
            (s, c): _r6(np.sum((subs[(q, s)] - cent) ** 2))
            for (s, c), cent in want_cents.items()
        }
        # self is excluded (cosine_topk/sq8_topk convention)
        adc = {
            i: _r6(sum(dt[(s, asg[(i, s)][0])] for s in range(m)))
            for i in range(n)
            if i != q
        }
        order = sorted(adc, key=lambda i: (adc[i], i))[:k]
        got = sorted(
            ((r["rank"], r["vec_id"], r["dist"]) for r in rows if r["qid"] == q)
        )
        assert [v for _, v, _ in got] == order
        for rk, v, d in got:
            assert d == pytest.approx(adc[v], abs=1e-9)
            assert rk == order.index(v)  # 0-based


@settings(max_examples=4, deadline=None)
@given(
    st.integers(6, 14),
    st.sampled_from([2, 4]),
    st.integers(2, 4),
    st.integers(1, 2),
    st.integers(0, 10_000),
)
def test_pq_train_arrow_equals_sql(spark, n, m, n_codes, iters, seed):
    """The Arrow train path (Lloyd rounds through _nearest_codes_arrow)
    must produce BIT-IDENTICAL codebooks to the
    relational form on hostile continuous data -- not just the FP-exact
    grid the model tests use -- exercising the Spark-round-6 guard-band
    fallback on real double noise."""
    from dask_array_spark.functions import similarity as SIM

    dim = 8
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, dim)) * rng.choice([1e-3, 1.0, 50.0])
    emb = _emb_df(spark, X)
    a = SIM.pq_train(emb, dim=dim, m=m, n_codes=n_codes, iters=iters,
                     assign_impl="arrow")
    s = SIM.pq_train(emb, dim=dim, m=m, n_codes=n_codes, iters=iters,
                     assign_impl="sql")
    got = {(r["s"], r["code"]): tuple(r["cemb"]) for r in a.collect()}
    want = {(r["s"], r["code"]): tuple(r["cemb"]) for r in s.collect()}
    assert got == want and got


def _hostile_emb(spark, X):
    """X's rows, then a NULL row, a NULL-element row, a NaN row, and a
    short and a long ragged row."""
    dim = X.shape[1]
    extra = [
        None, [None] + [1.0] * (dim - 1), [float("nan")] * dim,
        [1.0] * (dim - 3), [0.5] * (dim + 3),
    ]
    rows = [(i, [float(x) for x in r]) for i, r in enumerate(X.astype("float32"))]
    rows += [(len(X) + j, v) for j, v in enumerate(extra)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@settings(max_examples=4, deadline=None)
@given(
    st.integers(6, 16),
    st.sampled_from([2, 4]),
    st.integers(2, 5),
    st.integers(0, 10_000),
)
def test_pq_encode_arrow_equals_sql(spark, n, m, n_codes, seed):
    """The Arrow pick (_nearest_codes_arrow) must produce IDENTICAL
    (vec_id, s, code, dist) rows to the relational _nearest_codes on
    hostile continuous data, on an integer grid that forces exact
    distance ties (the smaller-code tie-break), on NULL, NULL-element,
    NaN and ragged rows, and against a codebook with a NULL and a NaN
    centroid."""
    from dask_array_spark.functions import similarity as SIM

    dim = 8
    rng = np.random.default_rng(seed)
    X = (
        rng.integers(0, 3, size=(n, dim)).astype("float64")
        if seed % 3 == 0
        else rng.normal(size=(n, dim)) * rng.choice([1e-3, 1.0, 50.0])
    )
    emb = _hostile_emb(spark, X)
    cents = SIM.pq_train(_emb_df(spark, X), dim=dim, m=m, n_codes=n_codes, iters=1)
    # a NULL centroid in subspace 0, a NaN one in every subspace
    book = [tuple(r) for r in cents.collect()] + [(0, n_codes, None)] + [
        (s, n_codes + 1, [float("nan")] * (dim // m)) for s in range(m)
    ]
    cents = spark.createDataFrame(book, "s long, code long, cemb array<double>")
    a = SIM.pq_encode(emb, cents, dim=dim, m=m, impl="arrow")
    s = SIM.pq_encode(emb, cents, dim=dim, m=m, impl="sql")
    got = {(r["vec_id"], r["s"]): (r["code"], _nan_tag(r["dist"])) for r in a.collect()}
    want = {(r["vec_id"], r["s"]): (r["code"], _nan_tag(r["dist"])) for r in s.collect()}
    assert got == want and len(got) == (n + 5) * m


def _nan_tag(d):
    return "nan" if d is not None and np.isnan(d) else d


@settings(max_examples=4, deadline=None)
@given(st.integers(6, 16), st.integers(2, 5), st.integers(0, 10_000))
def test_kmeans_assign_arrow_equals_sql(spark, n, k, seed):
    """kmeans_assign through the Arrow pick must produce IDENTICAL
    (vec_id, cell, dist) rows to the relational pick, including
    forced exact-distance ties, NULL, NULL-element, NaN and ragged
    rows, and a codebook holding a NaN centroid or a NULL one."""
    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(seed)
    X = (
        rng.integers(0, 3, size=(n, 8)).astype("float64")
        if seed % 3 == 0
        else rng.normal(size=(n, 8)) * rng.choice([1e-3, 1.0, 50.0])
    )
    emb = _hostile_emb(spark, X)
    trained = [tuple(r) for r in SIM.kmeans_fit(_emb_df(spark, X), k=k, iters=1).collect()]
    for extra in ([(k, [float("nan")] * 8)], [(k, None)]):
        cents = spark.createDataFrame(trained + extra, "cell long, cemb array<double>")
        a = SIM.kmeans_assign(emb, cents, impl="arrow")
        s = SIM.kmeans_assign(emb, cents, impl="sql")
        got = {r["vec_id"]: (r["cell"], _nan_tag(r["dist"])) for r in a.collect()}
        want = {r["vec_id"]: (r["cell"], _nan_tag(r["dist"])) for r in s.collect()}
        assert got == want and len(got) == n + 5


def test_auto_rerank_rule():
    """Pin the auto-rerank formula across its three regimes: floor 8,
    the linear ceil(n/600) middle, and the 1024 ceiling (raised from
    256 in round 10 on the sf30 decade's measured recall loss)."""
    from dask_array_spark.functions.similarity import _auto_rerank

    assert _auto_rerank(1) == 8
    assert _auto_rerank(4_800) == 8
    assert _auto_rerank(4_801) == 9
    assert _auto_rerank(20_000) == 34      # the calibrated sf1 point
    assert _auto_rerank(200_000) == 334    # sf10: above the OLD clamp
    assert _auto_rerank(600_000) == 1000   # sf30: the decade that moved it
    assert _auto_rerank(614_400) == 1024   # saturation boundary
    assert _auto_rerank(1_800_000) == 1024 # sf90: clamped, recall held 1.0
    assert _auto_rerank(10**9) == 1024


def test_pq_encode_impl_validation(spark):
    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(0)
    emb = _emb_df(spark, rng.normal(size=(6, 8)))
    cents = SIM.pq_train(emb, dim=8, m=2, n_codes=2, iters=1)
    with pytest.raises(ValueError):
        SIM.pq_encode(emb, cents, dim=8, m=2, impl="vectorized")


@settings(max_examples=4, deadline=None)
@given(st.integers(6, 20), st.integers(2, 4), st.integers(1, 3),
       st.integers(0, 10_000))
def test_kmeans_fit_arrow_equals_sql(spark, n, k, iters, seed):
    """kmeans_fit through the shared m=1 Arrow kernel must be
    bit-identical to the relational Lloyd rounds on hostile
    continuous data."""
    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 8)) * rng.choice([1e-3, 1.0, 50.0])
    emb = _emb_df(spark, X)
    a = SIM.kmeans_fit(emb, k=k, iters=iters, assign_impl="arrow")
    s = SIM.kmeans_fit(emb, k=k, iters=iters, assign_impl="sql")
    got = {r["cell"]: tuple(r["cemb"]) for r in a.collect()}
    want = {r["cell"]: tuple(r["cemb"]) for r in s.collect()}
    assert got == want and got


def test_spark_round6_np_matches_decimal_model():
    """The vectorized Spark-round replica must agree with the exact
    Decimal HALF_UP-on-repr model everywhere, including manufactured
    .5-boundary values that force the guard-band fallback."""
    from dask_array_spark.functions.similarity import _spark_round6_np
    from tests.conftest import spark_round6

    rng = np.random.default_rng(3)
    hostile = np.concatenate([
        rng.random(500) * rng.choice([1e-6, 1.0, 1e3, 1e8], size=500),
        # exact and near .5-at-the-6th-decimal boundaries
        (np.arange(200) * 2 + 1) / 2e6,
        (np.arange(100) * 2 + 1) / 2e6 + 1e-13,
        (np.arange(100) * 2 + 1) / 2e6 - 1e-13,
        np.array([0.0, 0.0000005, 0.0000015, 1.0000005, 123.4567895]),
    ])
    got = _spark_round6_np(hostile)
    for x, g in zip(hostile, got):
        assert g == spark_round6(float(x)), (x, g, spark_round6(float(x)))
    # from 1e11 up the shortest repr has at most 5 decimals: the round
    # is the identity, also where x * 1e6 overflows
    big = np.array([1e11 + 0.5, 3.0e15 + 0.5, 1e22, 1e300, np.inf])
    assert list(_spark_round6_np(big)) == list(big)
    assert [spark_round6(float(x)) for x in big[:2]] == list(big[:2])


def test_pq_validates_dim(spark):
    from dask_array_spark.functions import similarity as SIM

    emb = _emb_df(spark, np.ones((4, 6)))
    with pytest.raises(ValueError, match="divide"):
        SIM.pq_train(emb, dim=6, m=4)


def test_ivf_pq_composition(spark):
    """The FAISS-style IVF-PQ index: IVF probes pick WHICH cells a
    query scans, PQ codes make the scan cheap -- composed here by
    feeding pq_topk the codes of the probed cells only.  The ranking
    must equal ADC over exactly that candidate set."""
    from pyspark.sql import functions as F

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(7)
    X = rng.integers(-8, 9, size=(24, 8)).astype("float64") / 4.0
    emb = _emb_df(spark, X)
    qids = [0, 3]

    ivf_cents = SIM.kmeans_fit(emb, k=3, iters=1)
    assign = SIM.ivf_assign(emb, n_cells=3, cents=ivf_cents)
    pq_cents = SIM.pq_train(emb, dim=8, m=2, n_codes=3, iters=1)
    codes = SIM.pq_encode(emb, pq_cents, dim=8, m=2)

    # probe = the query's own cell (n_probe=1 over the trained IVF)
    probed = assign.join(
        assign.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("qid"), "cell"
        ),
        on="cell",
    ).select("qid", "vec_id")
    got_all = []
    for q in qids:
        cand_ids = [r["vec_id"] for r in probed.filter(F.col("qid") == q).collect()]
        sub = codes.filter(F.col("vec_id").isin(cand_ids))
        rows = SIM.pq_topk(emb, [q], pq_cents, dim=8, m=2, k=4, codes=sub).collect()
        got = [(r["rank"], r["vec_id"]) for r in sorted(rows, key=lambda r: r["rank"])]
        # oracle: full ADC restricted to the candidate set
        full = SIM.pq_topk(
            emb, [q], pq_cents, dim=8, m=2, k=len(X), codes=codes
        ).collect()
        want_order = [
            r["vec_id"]
            for r in sorted(full, key=lambda r: r["rank"])
            if r["vec_id"] in set(cand_ids)
        ][:4]
        assert [v for _, v in got] == want_order
        got_all.extend(got)
    assert got_all


@settings(max_examples=4, deadline=None)
@given(
    st.integers(8, 16),
    st.integers(2, 3),
    st.integers(1, 4),
    st.integers(2, 3),
    st.integers(0, 10_000),
)
def test_pq_topk_rerank_model(spark, n, n_codes, k, rr, seed):
    """rerank=r: ADC keeps a k*r shortlist, then exact squared-L2
    re-ranks it -- modeled by re-scoring the model's own shortlist."""
    from dask_array_spark.functions import similarity as SIM

    dim, m = 8, 2
    rng = np.random.default_rng(seed)
    X = rng.integers(-8, 9, size=(n, dim)).astype("float64") / 4.0
    emb = _emb_df(spark, X)
    qids = [1, 4]

    cents = SIM.pq_train(emb, dim=dim, m=m, n_codes=n_codes, iters=1)
    enc = SIM.pq_encode(emb, cents, dim=dim, m=m)
    rows = SIM.pq_topk(
        emb, qids, cents, dim=dim, m=m, k=k, codes=enc, rerank=rr
    ).collect()

    want_cents = _model_train(X, m, n_codes, 1)
    dsub = dim // m
    subs = {
        (i, s): X[i, s * dsub : (s + 1) * dsub] for i in range(n) for s in range(m)
    }
    asg = _model_assign(subs, want_cents, n, m)
    for q in qids:
        dt = {
            (s, c): _r6(np.sum((subs[(q, s)] - cent) ** 2))
            for (s, c), cent in want_cents.items()
        }
        adc = {
            i: _r6(sum(dt[(s, asg[(i, s)][0])] for s in range(m)))
            for i in range(n)
            if i != q
        }
        short = sorted(adc, key=lambda i: (adc[i], i))[: k * rr]
        ex = {i: _r6(np.sum((X[q] - X[i]) ** 2)) for i in short}
        order = sorted(ex, key=lambda i: (ex[i], i))[:k]
        got = sorted((r["rank"], r["vec_id"], r["dist"]) for r in rows if r["qid"] == q)
        assert [v for _, v, _ in got] == order
        for rk, v, d in got:
            assert d == pytest.approx(ex[v], abs=1e-9)


def test_ivf_pq_topk_matches_manual_composition(spark):
    """ivf_pq_topk (the packaged IVFADC+R serving path, round 9) must
    equal the manual composition already verified above: per query,
    ADC over only the probed cells' codes, then exact rerank.  Probes
    here use the trained IVF codebook with n_probe=1."""
    from pyspark.sql import functions as F

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(23)
    X = rng.integers(-8, 9, size=(30, 8)).astype("float64") / 4.0
    emb = _emb_df(spark, X)
    qids = [0, 3, 7]

    ivf_cents = SIM.kmeans_fit(emb, k=3, iters=1)
    assign = SIM.ivf_assign(emb, n_cells=3, cents=ivf_cents)
    pq_cents = SIM.pq_train(emb, dim=8, m=2, n_codes=3, iters=1)
    codes = SIM.pq_encode(emb, pq_cents, dim=8, m=2)

    got = sorted(
        map(
            tuple,
            SIM.ivf_pq_topk(
                emb, qids, pq_cents, dim=8, m=2, k=3, n_cells=3, n_probe=1,
                ivf_cents=ivf_cents, assign=assign, codes=codes, rerank=2,
            ).collect(),
        )
    )
    # manual: n_probe=1 over a trained codebook = each query's own cell
    # (the query is itself assigned to its nearest centroid)
    want = []
    for q in qids:
        cell = assign.filter(F.col("vec_id") == q).collect()[0]["cell"]
        cand_ids = [
            r["vec_id"]
            for r in assign.filter(F.col("cell") == cell).collect()
        ]
        sub = codes.filter(F.col("vec_id").isin(cand_ids))
        want.extend(
            map(
                tuple,
                SIM.pq_topk(
                    emb, [q], pq_cents, dim=8, m=2, k=3, codes=sub, rerank=2
                ).collect(),
            )
        )
    assert got == sorted(want) and got


def test_pq_topk_rerank_auto(spark):
    """rerank='auto' resolves to clamp(ceil(n/600), 8, 1024) -- at this
    corpus size that is the floor 8, so the ranking must be identical
    to an explicit rerank=8; bad values still raise."""
    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(31)
    X = rng.integers(-8, 9, size=(20, 8)).astype("float64") / 4.0
    emb = _emb_df(spark, X)
    cents = SIM.pq_train(emb, dim=8, m=2, n_codes=3, iters=1)
    enc = SIM.pq_encode(emb, cents, dim=8, m=2)
    auto = sorted(map(tuple, SIM.pq_topk(
        emb, [0, 4], cents, dim=8, m=2, k=3, codes=enc, rerank="auto"
    ).collect()))
    explicit = sorted(map(tuple, SIM.pq_topk(
        emb, [0, 4], cents, dim=8, m=2, k=3, codes=enc, rerank=8
    ).collect()))
    assert auto == explicit and auto
    with pytest.raises(ValueError, match="rerank"):
        SIM.pq_topk(emb, [0], cents, dim=8, m=2, k=3, codes=enc, rerank="big")


def test_pq_topk_packed_equals_long(spark):
    """pq_topk must rank identically from the packed (vec_id, codes)
    layout (the production 32x-smaller scan relation) and the long
    encode form."""
    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(11)
    X = rng.integers(-8, 9, size=(20, 8)).astype("float64") / 4.0
    emb = _emb_df(spark, X)
    cents = SIM.pq_train(emb, dim=8, m=4, n_codes=4, iters=1)
    enc = SIM.pq_encode(emb, cents, dim=8, m=4)
    packed = SIM.pq_pack(enc)
    for rr in (None, 3):
        long_rows = sorted(
            map(tuple, SIM.pq_topk(emb, [0, 5], cents, dim=8, m=4, k=4,
                                   codes=enc, rerank=rr).collect())
        )
        packed_rows = sorted(
            map(tuple, SIM.pq_topk(emb, [0, 5], cents, dim=8, m=4, k=4,
                                   codes=packed, rerank=rr).collect())
        )
        assert long_rows == packed_rows and long_rows


def test_pq_topk_validates_params(spark):
    from dask_array_spark.functions import similarity as SIM

    emb = _emb_df(spark, np.ones((6, 8)))
    cents = SIM.pq_train(emb, dim=8, m=4, n_codes=2, iters=1)
    with pytest.raises(ValueError, match="rerank"):
        SIM.pq_topk(emb, [0], cents, dim=8, m=4, k=2, rerank=0)
    with pytest.raises(ValueError, match="k must"):
        SIM.pq_topk(emb, [0], cents, dim=8, m=4, k=0)


def test_ivf_sq8_topk_matches_manual_composition(spark):
    """ivf_sq8_topk (round 9, the IVF x SQ8 serving composition) must
    equal per-query sq8_topk over the probed cells' candidates."""
    from pyspark.sql import functions as F

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(41)
    X = rng.integers(-8, 9, size=(30, 8)).astype("float64") / 4.0
    emb = _emb_df(spark, X)
    qids = [0, 5, 9]

    ivf_cents = SIM.kmeans_fit(emb, k=3, iters=1)
    assign = SIM.ivf_assign(emb, n_cells=3, cents=ivf_cents)
    codes = SIM.sq8_encode(emb)

    got = sorted(
        map(
            tuple,
            SIM.ivf_sq8_topk(
                emb, qids, k=3, n_cells=3, n_probe=1,
                ivf_cents=ivf_cents, assign=assign, codes=codes,
            ).collect(),
        )
    )
    want = []
    for q in qids:
        cell = assign.filter(F.col("vec_id") == q).collect()[0]["cell"]
        cand_ids = [
            r["vec_id"] for r in assign.filter(F.col("cell") == cell).collect()
        ]
        sub = codes.filter(F.col("vec_id").isin(cand_ids))
        want.extend(
            map(tuple, SIM.sq8_topk(emb, [q], k=3, codes=sub).collect())
        )
    assert got == sorted(want) and got


def test_pq_topk_arrow_matches_sql(spark):
    """The driver-LUT ADC arrow kernel (round 12) must agree with the
    relational lookup-join form bit-for-bit across k / rerank
    settings, on packed codes (the production layout)."""
    import numpy as np

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(21)
    vecs = rng.normal(size=(60, 8)) * 2
    vecs[11] = 0.0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cents = SIM.pq_train(emb, dim=8, m=2, n_codes=4, iters=2).persist()
    cents.count()
    packed = SIM.pq_pack(SIM.pq_encode(emb, cents, dim=8, m=2)).persist()
    packed.count()
    for qids, k, rr in ([[0, 11, 30], 5, None], [[7], 3, 4],
                        [list(range(10)), 4, None]):
        a = SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=k, codes=packed,
                        rerank=rr, impl="arrow").orderBy("qid", "rank")
        s = SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=k, codes=packed,
                        rerank=rr, impl="sql").orderBy("qid", "rank")
        ta = [tuple(r) for r in a.collect()]
        ts = [tuple(r) for r in s.collect()]
        assert ta == ts, f"qids={qids} k={k} rr={rr}: {ta} != {ts}"
    cents.unpersist(); packed.unpersist()


def test_pq_topk_arrow_hostile_queries(spark):
    """NULL and ragged queries are excluded in BOTH forms (round 12:
    previously a short query ranked by a partial subspace sum); the
    arrow kernel on the rest stays bit-identical."""
    from dask_array_spark.functions import similarity as SIM

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(20)]
    rows += [(20, None), (21, [1.0, 2.0, 3.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = SIM.pq_train(
        emb.filter("vec_id < 20"), dim=8, m=2, n_codes=4, iters=1
    ).persist()
    cents.count()
    packed = SIM.pq_pack(
        SIM.pq_encode(emb.filter("vec_id < 20"), cents, dim=8, m=2)
    ).persist()
    packed.count()
    qids = [0, 20, 21, 5]
    a = SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=4, codes=packed,
                    impl="arrow").orderBy("qid", "rank")
    s = SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=4, codes=packed,
                    impl="sql").orderBy("qid", "rank")
    ta = [tuple(r) for r in a.collect()]
    ts = [tuple(r) for r in s.collect()]
    assert ta == ts
    assert not any(t[0] in (20, 21) for t in ta)  # malformed excluded
    import pytest

    with pytest.raises(ValueError, match="PACKED"):
        SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=4,
                    codes=SIM.pq_encode(emb, cents, dim=8, m=2),
                    impl="arrow")
    cents.unpersist(); packed.unpersist()


def test_ivf_pq_topk_arrow_matches_sql(spark):
    """The composed cell-blocked ADC kernel (round 12) must agree with
    the relational pq_topk(candidates=...) composition bit-for-bit,
    with and without re-rank, on persisted production indexes."""
    import numpy as np

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(33)
    vecs = rng.normal(size=(80, 8)) * 2
    vecs[9] = 0.0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    trained = SIM.kmeans_fit(emb, k=4, iters=1)
    assign = SIM.ivf_assign(emb, 4, trained).persist(); assign.count()
    cents = SIM.pq_train(emb, dim=8, m=2, n_codes=4, iters=2).persist()
    cents.count()
    packed = SIM.pq_pack(SIM.pq_encode(emb, cents, dim=8, m=2)).persist()
    packed.count()
    for qids, k, rr in ([[0, 9, 40], 5, None], [[3, 77], 3, 4]):
        a = SIM.ivf_pq_topk(
            emb, qids, cents, dim=8, m=2, k=k, n_cells=4, n_probe=2,
            ivf_cents=trained, assign=assign, codes=packed, rerank=rr,
            impl="arrow",
        ).orderBy("qid", "rank")
        s = SIM.ivf_pq_topk(
            emb, qids, cents, dim=8, m=2, k=k, n_cells=4, n_probe=2,
            ivf_cents=trained, assign=assign, codes=packed, rerank=rr,
            impl="sql",
        ).orderBy("qid", "rank")
        ta = [tuple(r) for r in a.collect()]
        ts = [tuple(r) for r in s.collect()]
        assert ta == ts, f"qids={qids} k={k} rr={rr}: {ta} != {ts}"
    import pytest

    with pytest.raises(ValueError, match="PACKED"):
        SIM.ivf_pq_topk(emb, [0], cents, dim=8, m=2, k=3, n_cells=4,
                        n_probe=2, ivf_cents=trained, assign=assign,
                        impl="arrow")
    assign.unpersist(); cents.unpersist(); packed.unpersist()


def test_ivf_sq8_topk_arrow_matches_sql(spark):
    """The composed cell-blocked sq8 kernel (round 12) must agree with
    the relational sq8_topk(candidates=...) composition bit-for-bit,
    including hostile rows."""
    import numpy as np

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(44)
    vecs = rng.normal(size=(50, 6)) * 3
    vecs[5] = 0.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows += [(50, None), (51, [1.0, 2.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    clean = emb.filter("vec_id < 50")
    trained = SIM.kmeans_fit(clean, k=3, iters=1)
    assign = SIM.ivf_assign(clean, 3, trained).persist(); assign.count()
    codes = SIM.sq8_encode(clean).persist(); codes.count()
    for qids, k in ([[0, 5, 20], 4], [[50, 51, 7], 3]):
        a = SIM.ivf_sq8_topk(
            emb, qids, k=k, n_cells=3, n_probe=2, ivf_cents=trained,
            assign=assign, codes=codes, impl="arrow",
        ).orderBy("qid", "rank")
        s = SIM.ivf_sq8_topk(
            emb, qids, k=k, n_cells=3, n_probe=2, ivf_cents=trained,
            assign=assign, codes=codes, impl="sql",
        ).orderBy("qid", "rank")
        ta = [tuple(r) for r in a.collect()]
        ts = [tuple(r) for r in s.collect()]
        assert ta == ts, f"qids={qids} k={k}: {ta} != {ts}"
    assign.unpersist(); codes.unpersist()


def test_pq_rerank_arrow_matches_sql_hostile(spark):
    """The vectorized re-rank scoring pass (round 13: _exact_rerank's
    interpreted zip_with fold was the last serving leg slower than
    brute) must agree with the relational fold bit-for-bit on a
    corpus whose SHORTLIST rows are hostile at rescore time: the
    packed index still carries codes for vectors whose raw embedding
    has since gone NULL / ragged / NaN / element-holed, the SQL
    filter excludes each from the exact re-rank, and the kernel must
    drop exactly the same rows.  Queries with a NULL element serve
    (NULL poisons only the fold it touches -- here the whole rescore
    per pair, so that query keeps its un-rescorable candidates
    excluded identically)."""
    import numpy as np

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(1313)
    vecs = rng.normal(size=(40, 8)) * 2
    clean = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = SIM.pq_train(clean, dim=8, m=2, n_codes=4, iters=1).persist()
    cents.count()
    packed = SIM.pq_pack(SIM.pq_encode(clean, cents, dim=8, m=2)).persist()
    packed.count()
    # the serving-time corpus: vec 1 NULL, vec 2 ragged, vec 3 NaN
    # payload, vec 4 holed element -- all still in the packed index
    rows = []
    for i, v in enumerate(vecs):
        e = [float(x) for x in v]
        if i == 1:
            e = None
        elif i == 2:
            e = e[:5]
        elif i == 3:
            e[0] = float("nan")
        elif i == 4:
            e[3] = None
        rows.append((i, e))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for qids, k, rr in ([[0, 4, 9], 3, 5], [[7, 30], 6, 3]):
        a = SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=k, codes=packed,
                        rerank=rr, impl="arrow").orderBy("qid", "rank")
        s = SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=k, codes=packed,
                        rerank=rr, impl="sql").orderBy("qid", "rank")
        ta = [tuple(r) for r in a.collect()]
        ts = [tuple(r) for r in s.collect()]
        assert ta == ts, f"qids={qids} k={k} rr={rr}: {ta} != {ts}"
        # hostile vectors never survive the exact re-rank
        assert not any(t[2] in (1, 2, 3) for t in ta)
    cents.unpersist(); packed.unpersist()


def test_pq_rerank_empty_query_scores_empty_rows(spark):
    """Degenerate d=0 contract: an EMPTY query embedding's exact fold
    against an EMPTY corpus row is the init 0.0 (a real distance, not
    NULL) -- the arrow rescore's d=0 group must preserve it.  Driven
    through _exact_rerank directly (no ADC tier reaches this shape:
    dim=0 cannot train), parity against the relational form."""
    from dask_array_spark.functions.similarity import _exact_rerank

    emb = spark.createDataFrame(
        [(0, []), (1, []), (2, [1.0, 2.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    short = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "qid long, rank long"
    ).selectExpr("qid", "rank as vec_id", "0.0 as dist")
    a = _exact_rerank(emb, [0], short, 2, impl="arrow").orderBy("rank")
    s = _exact_rerank(emb, [0], short, 2, impl="sql").orderBy("rank")
    ta = [tuple(r) for r in a.collect()]
    ts = [tuple(r) for r in s.collect()]
    assert ta == ts == [(0, 0, 1, 0.0)]


def test_pq_rerank_duplicate_query_rows_fall_back(spark):
    """A corpus with DUPLICATE query vec_ids scores every duplicate
    row in the relational join; the arrow resolver declines (returns
    the relational form) so the multi-row semantics are preserved."""
    from dask_array_spark.functions.similarity import _exact_rerank

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (0, [10.0, 10.0]), (1, [1.0, 1.0]),
         (2, [3.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    short = spark.createDataFrame(
        [(0, 1), (0, 2)], "qid long, vec_id long"
    ).selectExpr("qid", "vec_id", "0.0 as dist")
    a = _exact_rerank(emb, [0], short, 4, impl="arrow").orderBy(
        "rank", "vec_id")
    s = _exact_rerank(emb, [0], short, 4, impl="sql").orderBy(
        "rank", "vec_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in s.collect()]


def test_pq_topk_arrow_threshold_route_matches_sql(spark):
    """Rerank-grade shortlists (keep > _ARROW_ADC_MAX_KEEP) route
    through the exact-threshold pruning scan (round 13): parity with
    the relational form on a corpus LARGER than keep (real pruning),
    on tie-heavy data (boundary ties must survive the <= gate), and
    on a corpus SMALLER than keep (threshold +inf, no pruning)."""
    import numpy as np

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(313)
    # tie-heavy: coordinates from a 3-value alphabet so many vectors
    # collapse onto identical ADC distances around the keep boundary
    vecs = rng.choice([0.0, 1.0, 2.0], size=(2000, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = SIM.pq_train(emb, dim=8, m=2, n_codes=4, iters=1).persist()
    cents.count()
    packed = SIM.pq_pack(SIM.pq_encode(emb, cents, dim=8, m=2)).persist()
    packed.count()
    assert SIM._ARROW_ADC_MAX_KEEP == 1024  # the routing bound pinned
    for qids, k, rr in ([[0, 7], 2, 700],      # keep=1400 < n: prunes
                        [[3], 2, 1200]):       # keep=2400 > n: t=inf
        a = SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=k, codes=packed,
                        rerank=rr, impl="arrow").orderBy("qid", "rank")
        s = SIM.pq_topk(emb, qids, cents, dim=8, m=2, k=k, codes=packed,
                        rerank=rr, impl="sql").orderBy("qid", "rank")
        ta = [tuple(r) for r in a.collect()]
        ts = [tuple(r) for r in s.collect()]
        assert ta == ts, f"qids={qids} k={k} rr={rr}"
        assert len(ta) == len(qids) * k
    # and the pure-ADC large-k form (no rerank, keep=k) prunes too
    a = SIM.pq_topk(emb, [0], cents, dim=8, m=2, k=1100, codes=packed,
                    impl="arrow").orderBy("rank")
    s = SIM.pq_topk(emb, [0], cents, dim=8, m=2, k=1100, codes=packed,
                    impl="sql").orderBy("rank")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in s.collect()]
    cents.unpersist(); packed.unpersist()


def test_adc_thresholds_exact(spark):
    """_adc_thresholds returns the exact per-query keep-th smallest
    VALID ADC distance (multiplicity included, self excluded), +inf
    when fewer than keep valid rows exist -- checked against a
    driver-side replay of the same LUT."""
    import numpy as np

    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources.ingest import widen_partitions
    from pyspark.sql import functions as F

    rng = np.random.default_rng(99)
    vecs = rng.normal(size=(300, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = SIM.pq_train(emb, dim=8, m=2, n_codes=4, iters=1)
    packed = SIM.pq_pack(SIM.pq_encode(emb, cents, dim=8, m=2))
    qids_in = [0, 5]
    layout = SIM._adc_lut(emb, qids_in, cents, 8, 2)
    qids = layout[0]
    src = widen_partitions(packed, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"), "codes"
    )

    walk = SIM._row_blocks("codes", [SIM._QGroup(2, qids, None, layout)],
                           SIM._adc_score, dtype="int64")

    for keep in (7, 250, 400):
        t = SIM._adc_thresholds(src, walk, qids, keep)
        # replay: full ADC distances via the relational form at k=n
        full = SIM.pq_topk(emb, qids_in, cents, dim=8, m=2, k=10**6,
                           codes=packed, impl="sql").collect()
        by_q = {}
        for r in full:
            by_q.setdefault(int(r["qid"]), []).append(float(r["dist"]))
        for j, q in enumerate(qids):
            ds = sorted(by_q.get(int(q), []))
            want = ds[keep - 1] if len(ds) >= keep else float("inf")
            assert t[j] == want, (keep, q, t[j], want)


def test_ivf_pq_topk_arrow_threshold_route_matches_sql(spark):
    """The composed path's rerank-grade keep also routes through the
    exact-threshold pruning (round 13), priced over exactly the
    probed candidate pairs: parity with the relational
    pq_topk(candidates=...) composition with keep above and below the
    probed pools' sizes."""
    import numpy as np

    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(1717)
    vecs = rng.choice([0.0, 1.0, 2.0], size=(2400, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    trained = SIM.kmeans_fit(emb, k=4, iters=1)
    assign = SIM.ivf_assign(emb, 4, trained).persist(); assign.count()
    cents = SIM.pq_train(emb, dim=8, m=2, n_codes=4, iters=1).persist()
    cents.count()
    packed = SIM.pq_pack(SIM.pq_encode(emb, cents, dim=8, m=2)).persist()
    packed.count()
    for qids, k, rr in ([[0, 7], 2, 600],     # keep=1200: prunes pools
                        [[3], 2, 1500]):      # keep=3000 > any pool
        a = SIM.ivf_pq_topk(
            emb, qids, cents, dim=8, m=2, k=k, n_cells=4, n_probe=2,
            ivf_cents=trained, assign=assign, codes=packed, rerank=rr,
            impl="arrow",
        ).orderBy("qid", "rank")
        s = SIM.ivf_pq_topk(
            emb, qids, cents, dim=8, m=2, k=k, n_cells=4, n_probe=2,
            ivf_cents=trained, assign=assign, codes=packed, rerank=rr,
            impl="sql",
        ).orderBy("qid", "rank")
        ta = [tuple(r) for r in a.collect()]
        ts = [tuple(r) for r in s.collect()]
        assert ta == ts, f"qids={qids} k={k} rr={rr}"
    assign.unpersist(); cents.unpersist(); packed.unpersist()


# Hostile ADC inputs: the arrow leg must match the relational lookup
# join on NULL elements inside a query or centroid (the affected
# (s, code, q) entries fold to NULL and are skipped by the sum, never
# a driver crash), on negative and sparse code values (the LUT is
# laid out on the codebook's sorted distinct code VALUES,
# ``_code_index``), and explicit impl='arrow' with candidates raises.
# ---------------------------------------------------------------------------


def _pq_fixture(spark, n=24, dim=8, m=2, n_codes=3):
    from dask_array_spark.functions import similarity as SIM

    rng = np.random.default_rng(131)
    vecs = rng.normal(size=(n, dim)) * 2
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = SIM.pq_train(emb, dim=dim, m=m, n_codes=n_codes, iters=1)
    packed = SIM.pq_pack(SIM.pq_encode(emb, cents, dim=dim, m=m))
    return emb, cents, packed


def _parity(spark, emb, cents, packed, qids, dim=8, m=2, k=4, rerank=None):
    from dask_array_spark.functions import similarity as SIM

    a = SIM.pq_topk(emb, qids, cents, dim=dim, m=m, k=k, codes=packed,
                    rerank=rerank, impl="arrow").orderBy("qid", "rank")
    s = SIM.pq_topk(emb, qids, cents, dim=dim, m=m, k=k, codes=packed,
                    rerank=rerank, impl="sql").orderBy("qid", "rank")
    ta = [tuple(r) for r in a.collect()]
    ts = [tuple(r) for r in s.collect()]
    assert ta == ts, f"arrow != sql: {ta} vs {ts}"
    return ta


def test_pq_topk_arrow_null_query_element(spark):
    """A NULL element INSIDE a query embedding poisons only its own
    subspace folds (partial ADC sum over the valid subspaces, the
    relational semantics) -- previously float(None) crashed the
    driver at plan build on the arrow route."""
    from dask_array_spark.functions import similarity as SIM

    emb, cents, packed = _pq_fixture(spark)
    holed = emb.withColumn(
        "embedding",
        # vec_id 0's first coordinate becomes NULL: its s=0 subspace
        # folds to NULL against every code, s=1 stays valid
        SIM.F.when(
            SIM.F.col("vec_id") == 0,
            SIM.F.transform(
                "embedding",
                lambda x, i: SIM.F.when(i == 0, SIM.F.lit(None)).otherwise(x),
            ),
        ).otherwise(SIM.F.col("embedding")),
    )
    got = _parity(spark, holed, cents, packed, [0, 3, 7])
    # the holed query still serves (partial subspace sum), it is not
    # silently dropped
    assert any(t[0] == 0 for t in got)


def test_pq_topk_arrow_null_centroid_element(spark):
    """A NULL element inside a CODEBOOK centroid folds every query's
    entry at that (s, code) to NULL -- invalid, skipped by the sum --
    in both forms."""
    from dask_array_spark.functions import similarity as SIM

    emb, cents, packed = _pq_fixture(spark)
    holed = cents.withColumn(
        "cemb",
        SIM.F.when(
            (SIM.F.col("s") == 0) & (SIM.F.col("code") == 1),
            SIM.F.transform(
                "cemb",
                lambda x, i: SIM.F.when(i == 0, SIM.F.lit(None)).otherwise(x),
            ),
        ).otherwise(SIM.F.col("cemb")),
    )
    _parity(spark, emb, holed, packed, [0, 5])


def test_pq_topk_arrow_negative_codes_parity(spark):
    """The relational join matches a negative corpus code against a
    negative codebook code and scores it; the arrow kernel's value
    remap must agree (the old 0 <= code gate silently dropped it)."""
    from pyspark.sql import functions as F

    emb, cents, packed = _pq_fixture(spark)
    # shift every code negative in BOTH relations (codebook and
    # corpus), the self-consistent hostile layout
    cents_n = cents.withColumn("code", F.col("code") - F.lit(5))
    packed_n = packed.withColumn(
        "codes", F.transform("codes", lambda c: c - F.lit(5))
    )
    got = _parity(spark, emb, cents_n, packed_n, [0, 3, 7], rerank=None)
    assert got  # negative codes are scored, not dropped


def test_pq_topk_arrow_sparse_codes_parity(spark):
    """Sparse / huge code values: the LUT is sized by the codebook's
    CARDINALITY (3 rows here), never by max(code) -- the old layout
    allocated m x (10**9+8) x nq doubles for this table."""
    from pyspark.sql import functions as F

    emb, cents, packed = _pq_fixture(spark)
    remap = F.when(F.col("code") == 1, F.lit(7)).otherwise(
        F.when(F.col("code") == 2, F.lit(1_000_000_007)).otherwise(F.col("code"))
    )
    cents_s = cents.withColumn("code", remap.cast("long"))
    packed_s = packed.withColumn(
        "codes",
        F.transform(
            "codes",
            lambda c: F.when(c == 1, F.lit(7)).otherwise(
                F.when(c == 2, F.lit(1_000_000_007)).otherwise(c)
            ).cast("long"),
        ),
    )
    got = _parity(spark, emb, cents_s, packed_s, [0, 3, 7])
    assert got


def test_code_index_contract():
    """The remap helper: contiguous codebooks take the direct-index
    path; sparse/negative ones probe by value; absent codes gate out
    exactly like the relational inner join."""
    from dask_array_spark.functions.similarity import _code_index

    cs = np.array([-3, 0, 2, 7, 99], dtype="int64")
    # contiguous 0..3
    inr, idx = _code_index(np.arange(4, dtype="int64"), cs)
    assert inr.tolist() == [False, True, True, False, False]
    assert idx[inr].tolist() == [0, 2]
    # sparse with a negative
    inr, idx = _code_index(np.array([-3, 2, 7], dtype="int64"), cs)
    assert inr.tolist() == [True, False, True, True, False]
    assert idx[inr].tolist() == [0, 1, 2]
    # empty codebook matches nothing
    inr, idx = _code_index(np.array([], dtype="int64"), cs)
    assert not inr.any()


def test_pq_topk_arrow_candidates_raises(spark):
    from dask_array_spark.functions import similarity as SIM

    emb, cents, packed = _pq_fixture(spark)
    cand = emb.selectExpr("0 as qid", "vec_id")
    with pytest.raises(ValueError, match="candidates"):
        SIM.pq_topk(emb, [0], cents, dim=8, m=2, k=3, codes=packed,
                    candidates=cand, impl="arrow")
    # auto / sql still serve the candidate-restricted scan
    assert SIM.pq_topk(emb, [0], cents, dim=8, m=2, k=3, codes=packed,
                       candidates=cand, impl="auto").count() == 3
