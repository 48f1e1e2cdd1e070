"""Streaming corpus intake governance (additive scope, same rationale
as streaming/dedup.py): a pipeline ingesting documents continuously
wants the governance gates -- quality scoring, benchmark
decontamination, split assignment -- applied ON the stream, before
anything lands in the lake.

All three gates are STATELESS per-row projections, which is exactly
why they belong on the stream: no state store, no watermark coupling,
trivially scalable micro-batches.

Decontamination shape: evaluation suites are small (10^5-10^6
n-grams) next to the corpus, so the benchmark n-gram hash set ships
once as a task broadcast (a SORTED int64 numpy array) and membership
tests run fully vectorized inside an Arrow-batched pandas UDF --
one np.isin over the whole batch's flattened grams plus a
cumulative-sum segment reduction back to per-document counts, zero
Python-per-gram work.  The round-4 form looped a Python set probe per
gram -- the only Python-per-row logic left in the package; the
vectorized body measures ~2x faster on a 1k-doc / 225k-gram batch
(54 -> 28 ms) and, more importantly, its cost no longer scales with
Python interpreter dispatch per gram.  This is the streaming
analogue of the batch tier's
broadcast hash join (functions/governance.py::contamination_counts).
The document side computes its n-gram hashes IN-ROW (token polyhashes,
materialized once per document, -> chained combine, one Catalyst
transform) so the stream is never exploded and never shuffled.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.governance import split_col
from ..functions.text import (
    TH,
    TOKS,
    kgram_hashes_sql,
    quality_col,
    sql_ident,
    with_token_hashes,
    with_tokens,
)
from .dedup import _read_docs_stream

__all__ = ["ngram_hash_array", "stream_decontaminate", "stream_clean_corpus"]


def ngram_hash_array(th: str = TH, n: int = 8) -> Column:
    """Distinct hashed word n-grams as an IN-ROW array (the
    explode-free form of functions.dedup.shingle_hashes -- identical
    hash values, no row fan-out, so it composes with streaming).  Below
    ``n`` tokens the gram array is empty.

    ``th``: the name of the materialized per-token hash array
    (``with_token_hashes``), which each gram reads n times."""
    return F.expr(f"array_distinct({kgram_hashes_sql(n, sql_ident(th))})")


def _bench_hash_set(spark: SparkSession, bench_path: str, n: int):
    """Distinct benchmark n-gram hashes as a task broadcast of a
    SORTED int64 numpy array (binary-search membership).  Eval suites
    are small by construction; the collect is bounded by the
    benchmark, never the corpus."""
    from ..functions.dedup import shingle_hashes

    bench = spark.read.parquet(bench_path)
    rows = shingle_hashes(bench, "text", n).select("sh").distinct().collect()
    table = np.sort(np.fromiter((r["sh"] for r in rows), dtype=np.int64))
    return spark.sparkContext.broadcast(table)


def _n_hits_udf(bc):
    """Arrow-batched, fully vectorized contamination counter: flatten
    the batch's gram arrays once, one np.isin against the broadcast
    table, then a cumsum segment reduction back to per-document hit
    counts.  No Python executes per gram (np.isin's merge path beat
    np.searchsorted ~1.5x on the same batch)."""

    @F.pandas_udf("long")
    def n_hits(ngrams: pd.Series) -> pd.Series:
        table = bc.value
        arrs = ngrams.to_numpy()
        m = len(arrs)
        if m == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=m)
        if int(lens.sum()) == 0 or table.size == 0:
            return pd.Series(np.zeros(m, dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in arrs if len(a)]
        )
        hit = np.isin(flat, table)
        csum = np.concatenate(([0], np.cumsum(hit)))
        ends = np.cumsum(lens)
        out = csum[ends] - csum[ends - lens]
        return pd.Series(out.astype(np.int64))

    return n_hits


def stream_decontaminate(
    spark: SparkSession,
    docs_path: str,
    bench_path: str,
    n: int = 8,
    drop: bool = False,
) -> DataFrame:
    """Streaming decontamination: each arriving document is annotated
    with ``n_contam`` (distinct n-grams shared with the benchmark) and
    ``contaminated``; ``drop=True`` filters flagged documents out of
    the stream entirely."""
    bc = _bench_hash_set(spark, bench_path, n)
    n_hits = _n_hits_udf(bc)

    stream = with_token_hashes(_read_docs_stream(spark, docs_path))
    out = stream.withColumn(
        "n_contam", n_hits(ngram_hash_array(TH, n))
    ).withColumn("contaminated", F.col("n_contam") > 0)
    if drop:
        out = out.filter(~F.col("contaminated"))
    return out.select("doc_id", "n_contam", "contaminated")


def stream_clean_corpus(
    spark: SparkSession,
    docs_path: str,
    bench_path: str,
    min_quality: float = 0.5,
    n: int = 8,
) -> DataFrame:
    """The streaming intake pipeline: quality gate -> decontamination
    -> deterministic split assignment, all stateless projections over
    one pass of the stream.  Output (doc_id, quality, n_contam, split)
    for documents that clear both gates -- the rows a production
    intake would append to the training lake."""
    bc = _bench_hash_set(spark, bench_path, n)
    n_hits = _n_hits_udf(bc)

    stream = _read_docs_stream(spark, docs_path)
    # every gate is a Column expression, so the whole pipeline is ONE
    # join-free projection over the stream -- no state, no watermark
    enriched = with_token_hashes(with_tokens(stream), toks=TOKS).select(
        "doc_id",
        quality_col("text", toks=TOKS).alias("quality"),
        n_hits(ngram_hash_array(TH, n)).alias("n_contam"),
        split_col("doc_id").alias("split"),
    )
    return enriched.filter(
        (F.col("quality") >= min_quality) & (F.col("n_contam") == 0)
    )
