"""Arg-reductions of the similarity tier.

The squared-L2 nearest-code pick (functions/similarity.py::
_nearest_sql, behind kmeans_assign, pq_encode, the Lloyd rounds and
the stream encoders) must equal a Python min_by over (dist, id) --
dist = round(sqdist, 6) + 0.0, NULL first, NaN last, ties to the
smaller id -- for any distance and any BIGINT id: nothing is packed
or capped.  ivf_assign's cosine argmax is the mirror pick (``greatest``
over (c, ~cell) structs) and must equal a max_by over (c, -cell) --
NULL < -Inf < finite < +Inf < NaN, ties to the smaller cell -- with
no cap on the cell id either."""

import math
import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark_round6

_INF, _NAN = float("inf"), float("nan")


def _dist(vec, cemb):
    """Spark's round(sqdist, 6) + 0.0: a left fold over zip_with, NULL
    for a NULL or ragged vector."""
    if vec is None or cemb is None or len(vec) != len(cemb):
        return None
    acc = 0.0
    for x, y in zip(vec, cemb):
        acc += (x - y) * (x - y)
    return acc if math.isnan(acc) or math.isinf(acc) else spark_round6(acc)


def _nearest(vec, cands):
    """min_by reference: (id, dist) of the nearest candidate."""

    def key(t):
        d = _dist(vec, t[1])
        band = 0 if d is None else 2 if math.isnan(d) else 1
        return band, d if band == 1 else 0.0, t[0]

    cid, cemb = min(cands, key=key)
    return cid, _dist(vec, cemb)


def _tag(d):
    return "nan" if isinstance(d, float) and math.isnan(d) else d


def _kmeans_case(spark, rows, cells, impl):
    from dask_array_spark.functions.similarity import kmeans_assign

    emb = spark.createDataFrame(list(enumerate(rows)), "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(cells, "cell long, cemb array<double>")
    got = {
        r["vec_id"]: (r["cell"], _tag(r["dist"]))
        for r in kmeans_assign(emb, cents, impl=impl).collect()
    }
    want = {}
    for i, v in enumerate(rows):
        c, d = _nearest(v, cells)
        want[i] = (c, _tag(d))
    assert got == want


def _pq_case(spark, rows, codes, impl, dsub=2):
    """``codes`` = {s: [(code, cemb)]}; rows are m x dsub long."""
    from dask_array_spark.functions.similarity import pq_encode

    m = len(codes)
    emb = spark.createDataFrame(list(enumerate(rows)), "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(s, c, v) for s, cs in codes.items() for c, v in cs],
        "s long, code long, cemb array<double>",
    )
    got = {
        (r["vec_id"], r["s"]): (r["code"], _tag(r["dist"]))
        for r in pq_encode(emb, cents, dim=m * dsub, m=m, impl=impl).collect()
    }
    want = {}
    for i, v in enumerate(rows):
        for s, cs in codes.items():
            sub = None if v is None else v[s * dsub : (s + 1) * dsub]
            c, d = _nearest(sub, cs)
            want[(i, s)] = (c, _tag(d))
    assert got == want


def _rows(seed, n, dim, scale):
    rng = random.Random(seed)
    return [[rng.uniform(-scale, scale) for _ in range(dim)] for _ in range(n)]


# case -> (coordinate scale, candidate ids); the former packed argmin
# key raised on each: a distance of 2^42 / 1e6 or more, an id of 2^20
# or more, a negative id
_CAP_CASES = {
    "magnitude": (1e4, [0, 1, 2, 3]),
    "id_2_21": (1.0, [1 << 21, (1 << 40) + 3, 5, 6]),
    "negative_id": (1.0, [-1, -(1 << 50), 3, 4]),
}


@pytest.mark.parametrize("case", sorted(_CAP_CASES))
def test_nearest_code_has_no_cap(spark, case):
    """|x| ~ 1e4 (distances ~2e8), ids 2^21 / 2^40 + 3 and negative
    ids, through kmeans_assign and pq_encode on both legs."""
    scale, ids = _CAP_CASES[case]
    for impl in ("sql", "arrow"):
        rows = _rows(14, 60, 2, scale) + [[scale, -scale], [-scale, scale]]
        _kmeans_case(spark, rows, list(zip(ids, _rows(41, 4, 2, scale))), impl)
        codes = {s: list(zip(ids, _rows(50 + s, 4, 2, scale))) for s in range(2)}
        _pq_case(spark, _rows(15, 60, 4, scale), codes, impl)


# NULL, ragged and NaN rows, a +Inf distance next to a finite one,
# exact ties and all-equal rows; the codebook holds a huge centroid so
# most distances to it overflow to +Inf
_HOSTILE_CELLS = [(5, [0.0, 0.0]), (3, [2.0, 0.0]), (1 << 21, [1e200, 0.0]), (9, [0.0, 0.0])]
_HOSTILE_ROWS = [
    None, [_NAN, 1.0], [1.0], [1.0, 0.0], [1e200, 0.0], [1e300, 1e300],
    [0.0, 0.0], [2.0, 0.0], [_INF, 0.0], [0.5, 0.25], [-1e300, 0.0],
]


def test_kmeans_assign_matches_min_by_on_hostile_rows(spark):
    rng = random.Random(7)
    vals = [_NAN, _INF, 0.0, 1.0, 1e200, 0.123456]
    rows = _HOSTILE_ROWS + [[rng.choice(vals), rng.choice(vals)] for _ in range(40)]
    _kmeans_case(spark, rows, _HOSTILE_CELLS, "sql")
    # a ragged codebook: most distances are NULL and tie to the smaller id
    _kmeans_case(spark, rows, [(4, [1.0]), (2, [0.0, 0.0, 0.0])], "sql")


def test_pq_encode_matches_min_by_on_hostile_rows(spark):
    rows = [
        None if r is None else (r + [0.0, 0.0])[:2] + list(reversed((r + [0.0, 0.0])[:2]))
        for r in _HOSTILE_ROWS
    ] + [[1.0, 0.0, _NAN, _NAN], [1.0, 0.0, 1.0]]
    codes = {0: _HOSTILE_CELLS, 1: [(c, list(reversed(v))) for c, v in _HOSTILE_CELLS]}
    _pq_case(spark, rows, codes, "sql")


def test_nearest_code_plans_have_no_join_aggregate_or_raise(spark, sf_dir):
    """kmeans_assign and pq_encode (sql) pick in-row: no Join, no
    Aggregate, and no raise_error guard anywhere in their plans or in
    a Lloyd round's."""
    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = SIM.kmeans_fit(emb, k=4, iters=1)
    pqc = SIM.pq_train(emb, dim=64, m=4, n_codes=4, iters=1)
    for df in (
        SIM.kmeans_assign(emb, cents, impl="sql"),
        SIM.pq_encode(emb, pqc, dim=64, m=4, impl="sql"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Aggregate" not in plan
        assert "raise_error" not in plan
    book = SIM._book(pqc)
    rnd = SIM._lloyd_round(emb, book, 16)._jdf.queryExecution().executedPlan()
    assert "raise_error" not in rnd.toString()


def _old_argmax(df):
    return df.groupBy("vec_id").agg(
        F.max_by("cell", F.struct(F.col("c"), (-F.col("cell")).alias("nc")))
        .cast("long")
        .alias("cell")
    )


def _cos_rows(emb, cents):
    """(vec_id, cell, c) for every vector x centroid: the rounded
    cosine ivf_assign ranks, scored by the crossJoin form."""
    from dask_array_spark.functions import similarity as SIM

    dot = F.aggregate(
        F.zip_with("embedding", "cemb",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.select("vec_id", "embedding", SIM._norm_col().alias("nrm"))
        .crossJoin(SIM._codebook(emb, 4, cents))
        .select("vec_id", "cell",
                F.round(dot / (F.col("nrm") * F.col("cnrm")), 6).alias("c"))
    )


def test_ivf_assign_matches_max_by_on_hostile_cosines(spark):
    """ivf_assign equals max_by(cell, struct(c, -cell)) over every
    centroid on zero-norm rows and centroids (NULL cosines), NaN
    payloads, NULL and ragged rows, tied centroids, and trained
    codebooks whose cell ids reach 2^21, 2^40 and below zero (the
    former packed BIGINT key raised outside [0, 2^20)).  Its plan
    holds no join, no aggregate and no raise_error."""
    from dask_array_spark.functions import similarity as SIM

    nan = float("nan")
    rng = random.Random(41)
    rows = [(i, [float(rng.randint(-3, 3)) for _ in range(4)])
            for i in range(120)]
    rows += [(200, [0.0] * 4), (201, [nan, 1.0, 2.0, 3.0]), (202, None),
             (203, [1.0, 2.0]), (204, [1e200] * 4), (205, [1.0, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    book = [(3, [1.0, 1.0, 0.0, 0.0]), (1, [2.0, 2.0, 0.0, 0.0]),  # tied
            (1 << 21, [0.0, 0.0, 1.0, -1.0]), (-5, [0.0] * 4),
            (1 << 40, [-1.0, 0.0, 2.0, 0.0])]
    trained = SIM.kmeans_fit(emb.filter("vec_id < 120"), k=4, iters=1)
    books = {
        "stub": None,
        "hostile": spark.createDataFrame(book, "cell long, cemb array<double>"),
        "nan_centroid": spark.createDataFrame(
            book + [(7, [nan, 0.0, 0.0, 0.0])], "cell long, cemb array<double>"),
        "trained_2_21": trained.selectExpr("cell + 2097152 AS cell", "cemb"),
    }
    for name, cents in books.items():
        got = SIM.ivf_assign(emb, 4, cents)
        want = _old_argmax(_cos_rows(emb, cents))
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name
        assert got.count() == len(rows), name
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Aggregate" not in plan, name
        assert "raise_error" not in plan, name
    served = SIM.ivf_topk(emb, [0, 1], k=3, cents=books["trained_2_21"], impl="sql")
    assert "raise_error" not in served._jdf.queryExecution().executedPlan().toString()
