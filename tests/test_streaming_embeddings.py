"""Streaming codebook assignment (streaming/embeddings.py): the
stateless in-row argmin on a drained file stream matches batch
kmeans_assign exactly, and the plan carries no stateful operator."""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def emb_path(sf_dir):
    return f"{sf_dir}/embeddings.parquet"


def _drain(sdf, name):
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        return sdf.sparkSession.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def test_stream_assign_matches_batch(spark, emb_path):
    from dask_array_spark.functions.similarity import kmeans_assign, kmeans_fit
    from dask_array_spark.streaming.embeddings import stream_codebook_assign

    emb = spark.read.parquet(emb_path)
    cents = kmeans_fit(emb, k=4, iters=2)
    batch = {
        r["vec_id"]: (r["cell"], r["dist"])
        for r in kmeans_assign(emb, cents).collect()
    }
    streamed = {
        r["vec_id"]: (r["cell"], r["dist"])
        for r in _drain(
            stream_codebook_assign(spark, emb_path, cents), "emb_assign"
        )
    }
    assert streamed == batch


def test_stream_assign_plan_is_stateless(spark, emb_path):
    """The assignment is one stateless projection per micro-batch
    against the literal codebook: no aggregation, dedup, or state
    store ever enters the stream's plan."""
    from dask_array_spark.functions.similarity import kmeans_fit
    from dask_array_spark.streaming.embeddings import stream_codebook_assign

    emb = spark.read.parquet(emb_path)
    sdf = stream_codebook_assign(spark, emb_path, kmeans_fit(emb, k=4, iters=1))
    plan = sdf._jdf.queryExecution().analyzed().toString()
    for stateful in ("Deduplicate", "FlatMapGroupsWithState", "EventTimeWatermark"):
        assert stateful not in plan, f"unexpected stateful op {stateful}"
    # the stream side (above the join) must not aggregate; the static
    # codebook side below the join may (collect_list of k cells)
    stream_side = plan.split("Join")[0]
    assert "Aggregate" not in stream_side


def test_stream_pq_encode_matches_batch(spark, emb_path):
    from dask_array_spark.functions.similarity import pq_encode, pq_pack, pq_train
    from dask_array_spark.streaming.embeddings import stream_pq_encode

    emb = spark.read.parquet(emb_path)
    cents = pq_train(emb, dim=64, m=4, n_codes=4, iters=2)
    batch = {
        r["vec_id"]: list(r["codes"])
        for r in pq_pack(pq_encode(emb, cents, dim=64, m=4)).collect()
    }
    streamed = {
        r["vec_id"]: list(r["codes"])
        for r in _drain(
            stream_pq_encode(spark, emb_path, cents, dim=64, m=4), "pq_encode_s"
        )
    }
    assert streamed == batch


def test_stream_pq_encode_plan_is_stateless(spark, emb_path):
    from dask_array_spark.functions.similarity import pq_train
    from dask_array_spark.streaming.embeddings import stream_pq_encode

    emb = spark.read.parquet(emb_path)
    sdf = stream_pq_encode(
        spark, emb_path, pq_train(emb, dim=64, m=4, n_codes=4, iters=1),
        dim=64, m=4,
    )
    plan = sdf._jdf.queryExecution().analyzed().toString()
    for stateful in ("Deduplicate", "FlatMapGroupsWithState", "EventTimeWatermark"):
        assert stateful not in plan, f"unexpected stateful op {stateful}"
    stream_side = plan.split("Join")[0]
    assert "Aggregate" not in stream_side


def test_stream_sq8_encode_matches_batch(spark, emb_path):
    """stream_sq8_encode (round 9): the int8 index rows (scale, codes,
    stored norm) per micro-batch are bit-identical to batch
    sq8_encode."""
    from dask_array_spark.functions.similarity import sq8_encode
    from dask_array_spark.streaming.embeddings import stream_sq8_encode

    emb = spark.read.parquet(emb_path)
    batch = {
        r["vec_id"]: (r["scale"], list(r["q"]), r["nrm"])
        for r in sq8_encode(emb).collect()
    }
    streamed = {
        r["vec_id"]: (r["scale"], list(r["q"]), r["nrm"])
        for r in _drain(stream_sq8_encode(spark, emb_path), "sq8_encode_s")
    }
    assert streamed == batch


def test_stream_sq8_encode_plan_is_stateless(spark, emb_path):
    """sq8 has no model side at all, so the streaming plan must be a
    join-free stateless projection -- no join, no aggregate, no state
    store anywhere."""
    from dask_array_spark.streaming.embeddings import stream_sq8_encode

    sdf = stream_sq8_encode(spark, emb_path)
    plan = sdf._jdf.queryExecution().analyzed().toString()
    for op in ("Deduplicate", "FlatMapGroupsWithState", "EventTimeWatermark",
               "Join", "Aggregate"):
        assert op not in plan, f"unexpected op {op}"


def test_stream_encoders_match_batch_on_hostile_rows(spark, tmp_path):
    """NULL and NaN embeddings get batch's answer on the stream: the
    smallest id with a NULL (resp. NaN) distance, not a (-1, +Inf)
    fold seed."""
    from dask_array_spark.functions.similarity import (
        kmeans_assign,
        pq_encode,
        pq_pack,
    )
    from dask_array_spark.streaming.embeddings import (
        stream_codebook_assign,
        stream_pq_encode,
    )

    nan = float("nan")
    rows = [(0, [0.0, 0.0]), (1, None), (2, [nan, 1.0]), (3, [4.0, 4.0]),
            (4, [1.0, nan])]
    path = str(tmp_path / "hostile_emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(path)
    emb = spark.read.parquet(path)
    cents = spark.createDataFrame(
        [(3, [4.0, 4.0]), (1, [0.0, 0.0])], "cell long, cemb array<double>"
    )
    tag = lambda d: "nan" if d is not None and math.isnan(d) else d
    batch = {
        r["vec_id"]: (r["cell"], tag(r["dist"]))
        for r in kmeans_assign(emb, cents, impl="sql").collect()
    }
    streamed = {
        r["vec_id"]: (r["cell"], tag(r["dist"]))
        for r in _drain(stream_codebook_assign(spark, path, cents), "emb_hostile")
    }
    assert streamed == batch
    assert batch[1] == (1, None) and batch[2] == (1, "nan")

    pqc = spark.createDataFrame(
        [(s, c, [float(c)]) for s in range(2) for c in (2, 0)],
        "s long, code long, cemb array<double>",
    )
    batch = {
        r["vec_id"]: list(r["codes"])
        for r in pq_pack(pq_encode(emb, pqc, dim=2, m=2, impl="sql")).collect()
    }
    streamed = {
        r["vec_id"]: list(r["codes"])
        for r in _drain(stream_pq_encode(spark, path, pqc, dim=2, m=2), "pq_hostile")
    }
    assert streamed == batch
    assert batch[1] == [0, 0] and batch[4] == [0, 0]
