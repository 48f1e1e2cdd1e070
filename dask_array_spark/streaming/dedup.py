"""Streaming deduplication for continuous corpus ingestion (additive
scope, same rationale as streaming/events.py: a 100 TB training-data
pipeline ingests documents continuously, and dedup is the first
stateful operator it needs).

Two tiers, mirroring the batch tier in functions/dedup.py:

- **Exact**: watermarked ``dropDuplicatesWithinWatermark`` on a text
  digest -- Spark's built-in streaming dedup operator; state is one
  digest per distinct document, expired by the watermark, partitioned
  by digest hash.  At scale this is the canonical bounded-state exact
  dedup.
- **Near (SimHash)**: a custom stateful operator
  (``applyInPandasWithState``), keyed by a SimHash band so only
  same-band documents ever meet (the streaming analogue of the batch
  LSH bucketing at functions/dedup.py).  The per-band state holds a
  bounded ring of (doc_id, simhash) pairs; each arriving document is
  emitted with its nearest in-band predecessor within a Hamming
  radius, or as novel.  The SimHash itself folds IN-ROW with one
  Catalyst ``aggregate`` over the token array (64 bit-votes, pure
  JVM) -- no per-document Python until the keyed state step.

The ``documents`` table carries no event time, so ``__ts`` derives
deterministically from ``doc_id`` (one second apart) -- in production
this is the ingest timestamp.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


__all__ = ["stream_exact_dedup", "stream_simhash_near_dedup", "simhash_col"]

_STATE_CAP = 256  # bounded per-band state ring


def _read_parquet_stream(spark: SparkSession, path: str) -> DataFrame:
    """File stream over a parquet file OR directory (schema inferred
    from a static read; single-file paths stream their parent dir
    with a glob filter).  The one file-stream reader of the docs,
    embeddings, events and serving-query intakes."""
    static = spark.read.parquet(path)
    reader = spark.readStream.schema(static.schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        return reader.parquet(os.path.dirname(path))
    return reader.parquet(path)


def _read_docs_stream(spark: SparkSession, docs_path: str) -> DataFrame:
    return _read_parquet_stream(spark, docs_path).withColumn(
        "__ts", F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id"))
    )


def stream_exact_dedup(
    spark: SparkSession, docs_path: str, watermark: str = "1 hour"
) -> DataFrame:
    """First-seen document rows: duplicates of a digest arriving within
    the watermark horizon are dropped by the state store.  Output
    (doc_id, digest) in Append mode."""
    stream = _read_docs_stream(spark, docs_path)
    return (
        stream.withColumn("digest", F.sha2(F.col("text"), 256))
        .withWatermark("__ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
        .select("doc_id", "digest")
    )


SIMHASH_BITS = 24  # token polyhashes carry ~30 uniform low bits (mod P)


def simhash_col(text_col: str = "text", bits: int = SIMHASH_BITS):
    """SimHash Column at the streaming bit width -- the shared in-row
    fold from functions/dedup.py (one definition for batch and
    stream), defaulted to ``SIMHASH_BITS`` for band keying here."""
    from ..functions.dedup import simhash_col as _base

    return _base(text_col, bits)


def stream_simhash_near_dedup(
    spark: SparkSession,
    docs_path: str,
    band_bits: int = 8,
    max_hamming: int = 3,
) -> DataFrame:
    """Streaming near-duplicate detection: key by the top ``band_bits``
    of the SimHash (same-band collision is the LSH candidate
    condition, so only same-band documents ever meet -- the streaming
    analogue of the batch LSH bucketing), keep a bounded ring of
    (doc_id, simhash) per band in the state store, and emit each
    document with the id of its nearest LOWER-ID in-band neighbor
    within ``max_hamming`` bits (or NULL when novel).  Output
    (doc_id, simhash, dup_of, hamming)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _read_docs_stream(spark, docs_path)
    enriched = stream.select(
        "doc_id",
        simhash_col("text").alias("simhash"),
    ).withColumn(
        "band", F.shiftrightunsigned("simhash", SIMHASH_BITS - band_bits)
    )

    def update(key, pdfs, state: GroupState):
        seen: list = list(state.get[0]) if state.exists else []
        sh_seen: list = list(state.get[1]) if state.exists else []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        out_id, out_sh, out_dup, out_h = [], [], [], []
        for did, sh in zip(rows["doc_id"], rows["simhash"]):
            did, sh = int(did), int(sh)
            best, bh = None, max_hamming + 1
            for pid, psh in zip(seen, sh_seen):
                h = bin(psh ^ sh).count("1")
                if h < bh or (h == bh and best is not None and pid < best):
                    best, bh = pid, h
            hit = best is not None
            out_id.append(did)
            out_sh.append(sh)
            out_dup.append(best if hit else None)
            out_h.append(bh if hit else None)
            seen.append(did)
            sh_seen.append(sh)
            if len(seen) > _STATE_CAP:
                seen, sh_seen = seen[-_STATE_CAP:], sh_seen[-_STATE_CAP:]
        state.update((seen, sh_seen))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_id, dtype="int64"),
                "simhash": pd.Series(out_sh, dtype="int64"),
                "dup_of": pd.Series(out_dup, dtype="Int64"),
                "hamming": pd.Series(out_h, dtype="Int64"),
            }
        )

    return enriched.groupBy("band").applyInPandasWithState(
        update,
        "doc_id long, simhash long, dup_of long, hamming long",
        "ids array<long>, shs array<long>",
        "update",
        GroupStateTimeout.NoTimeout,
    )
