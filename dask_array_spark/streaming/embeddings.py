"""Streaming embedding intake: assign each arriving vector to its
IVF/k-means codebook cell ON the stream (additive scope, same
rationale as streaming/governance.py) -- an ingestion pipeline that
shards its ANN index or runs SemDeDup wants cell routing decided
before vectors land in the lake.

Scale/stream shape: the trained codebook (functions/similarity.py::
kmeans_fit / pq_train, or any (cell, cemb) / (s, code, cemb) table)
is static and model-sized, so it is collected once when the stream
is built and enters the plan as literal centroids.  The
nearest-code pick is the batch path's own SQL fragment
(``_nearest_sql``): one flat squared-L2 fold per candidate and a
``least`` over (dist, id) structs, in-row.  The stream is never
joined or shuffled, the plan is stateless (no watermark, no state
store), and the per-row cost is k x dim multiply-adds exactly
like the batch path -- so a NULL, NaN or ragged vector gets the same
answer on the stream as in batch (test_streaming_embeddings pins
batch parity, hostile rows and statelessness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _read_parquet_stream

__all__ = [
    "stream_codebook_assign",
    "stream_pq_encode",
    "stream_sq8_encode",
]


def stream_codebook_assign(
    spark: SparkSession,
    emb_path: str,
    cents: DataFrame,
) -> DataFrame:
    """(vec_id, cell, dist) for every vector arriving on the stream:
    nearest codebook cell by squared L2, ties to the smaller cell --
    batch ``kmeans_assign`` semantics (its relational leg's
    ``_nearest_codes`` with one subspace), computed as one stateless
    projection per micro-batch."""
    from ..functions.similarity import _book, _nearest_codes

    stream = _read_parquet_stream(spark, emb_path)
    return _nearest_codes(stream, "vec_id", _book(cents, "cell", None)).select(
        "vec_id", F.col("code").alias("cell"), "dist"
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
    Each subspace's code is ``_nearest_sql``'s pick over that
    subspace's slice, in subspace order."""
    from ..functions.similarity import _book, _nearest_sql, _pq_dsub, _subvec_sql

    dsub = _pq_dsub(dim, m)
    codes = ", ".join(
        f"{_nearest_sql(_subvec_sql(s, dsub), cands)}.c"
        for s, cands in sorted(_book(cents).items())
    )
    return _read_parquet_stream(spark, emb_path).selectExpr(
        "vec_id", f"CAST(array({codes}) AS ARRAY<BIGINT>) AS codes"
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

    return sq8_encode(_read_parquet_stream(spark, emb_path))
