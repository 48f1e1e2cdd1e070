"""Streaming embedding intake: assign each arriving vector to its
IVF/k-means codebook cell ON the stream (additive scope, same
rationale as streaming/governance.py) -- an ingestion pipeline that
shards its ANN index or runs SemDeDup wants cell routing decided
before vectors land in the lake.

Scale/stream shape: the trained codebook (functions/similarity.py::
kmeans_fit, or any (cell, cemb) table) collapses to ONE row holding a
cell-sorted array of (cell, cemb) structs and joins the stream as a
broadcast stream-static cross join -- stateless, no watermark, no
state store.  The nearest-cell argmin then folds IN-ROW: an
F.aggregate over the codebook array whose step computes the squared
L2 distance with a nested zip_with fold, keeping the first
(= smallest) cell on ties.  The stream is never exploded, never
shuffled, and the per-row cost is k x dim multiply-adds exactly like
the batch path.  Distances round to 6 decimals BEFORE the argmin so
the result matches batch ``kmeans_assign`` bit-for-bit
(test_streaming_embeddings pins batch parity and statelessness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "stream_codebook_assign",
    "codebook_row",
    "stream_pq_encode",
    "pq_codebook_row",
    "stream_sq8_encode",
]


def _read_embeddings_stream(spark: SparkSession, emb_path: str) -> DataFrame:
    from .dedup import _read_parquet_stream

    return _read_parquet_stream(spark, emb_path)


def codebook_row(cents: DataFrame) -> DataFrame:
    """Collapse a (cell, cemb) codebook to ONE row carrying the
    cell-sorted struct array (the broadcastable stream-static side).
    collect_list order is nondeterministic, so the array sorts by its
    leading struct field (cell) -- ties in the fold then resolve to
    the smallest cell by keeping the first strict improvement."""
    return cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cell"), F.col("cemb")))
        ).alias("__cb")
    )


def stream_codebook_assign(
    spark: SparkSession,
    emb_path: str,
    cents: DataFrame,
) -> DataFrame:
    """(vec_id, cell, dist) for every vector arriving on the stream:
    nearest codebook cell by squared L2, ties to the smaller cell --
    batch ``kmeans_assign`` semantics, computed as one stateless
    projection per micro-batch."""
    stream = _read_embeddings_stream(spark, emb_path)
    cb = codebook_row(cents)

    from ..functions.similarity import _sqdist_sql

    cand = (
        "named_struct('cell', CAST(c.cell AS BIGINT), 'dist', "
        f"round({_sqdist_sql('embedding', 'c.cemb')}, 6) + 0.0D)"
    )
    best = F.expr(
        "aggregate(__cb, named_struct('cell', CAST(-1 AS BIGINT), "
        "'dist', CAST('Infinity' AS DOUBLE)), "
        f"(acc, c) -> CASE WHEN {cand}.dist < acc.dist THEN {cand} ELSE acc END)"
    )
    return (
        stream.crossJoin(F.broadcast(cb))
        .withColumn("__best", best)
        .select(
            "vec_id",
            F.col("__best.cell").alias("cell"),
            F.col("__best.dist").alias("dist"),
        )
    )


def pq_codebook_row(cents: DataFrame) -> DataFrame:
    """Collapse a PQ (s, code, cemb) codebook (functions/similarity.py
    ``pq_train``) to ONE row carrying the (s, code)-sorted struct
    array -- the broadcastable stream-static side for
    ``stream_pq_encode``."""
    return cents.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("s"), F.col("code"), F.col("cemb")))
        ).alias("__pqcb")
    )


def stream_pq_encode(
    spark: SparkSession,
    emb_path: str,
    cents: DataFrame,
    dim: int,
    m: int = 4,
) -> DataFrame:
    """(vec_id, codes) for every vector arriving on the stream: the
    packed PQ index row (codes[s] = nearest code of subspace s by
    squared L2, ties to the smaller code) -- batch
    ``pq_pack(pq_encode(...))`` semantics, computed as one stateless
    projection per micro-batch so an ingestion pipeline can land the
    32x-smaller ANN index next to the raw vectors as they arrive.

    Stream shape: the m x n_codes codebook collapses to one
    broadcast row; each subspace's argmin folds IN-ROW over the
    F.filter'd slice of that array against the vector's own subvector
    (same nested zip_with fold as ``stream_codebook_assign``).  No
    explode, no shuffle, no state store; 6-decimal pre-argmin
    rounding keeps bit parity with the batch path (pinned by
    test_streaming_embeddings)."""
    if m <= 0 or dim % m:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    dsub = dim // m
    stream = _read_embeddings_stream(spark, emb_path)
    cb = pq_codebook_row(cents)

    from ..functions.similarity import _sqdist_sql

    def best_code(s: int) -> str:
        sub = f"slice(embedding, {s * dsub + 1}, {dsub})"
        cand = (
            "named_struct('code', CAST(c.code AS BIGINT), 'dist', "
            f"round({_sqdist_sql(sub, 'c.cemb')}, 6) + 0.0D)"
        )
        return (
            f"aggregate(filter(__pqcb, c -> c.s = {s}), "
            "named_struct('code', CAST(-1 AS BIGINT), "
            "'dist', CAST('Infinity' AS DOUBLE)), "
            f"(acc, c) -> CASE WHEN {cand}.dist < acc.dist THEN {cand} "
            "ELSE acc END).code"
        )

    codes = F.expr(f"array({', '.join(best_code(s) for s in range(m))})")
    return (
        stream.crossJoin(F.broadcast(cb))
        .select("vec_id", codes.alias("codes"))
    )


def stream_sq8_encode(spark: SparkSession, emb_path: str) -> DataFrame:
    """(vec_id, scale, q, nrm) for every vector arriving on the
    stream: the int8 index row (round 9 layout, norm stored), batch
    ``sq8_encode`` semantics to the bit -- sq8 has NO model side at
    all (per-vector scale), so the streaming form IS the batch
    projection applied per micro-batch: stateless, join-free, no
    watermark, no state store.  The cheapest index an ingestion
    pipeline can land next to raw vectors (4x smaller, recall ~0.99
    at the measured scales -- SCALE.md)."""
    from ..functions.similarity import sq8_encode

    return sq8_encode(_read_embeddings_stream(spark, emb_path))
