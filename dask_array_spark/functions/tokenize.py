"""Tokenization operators for training-data pipelines (additive scope
beyond the reference, SURVEY.md section 7 M6): BPE-style sub-word
token counting, fixed-window token chunking, and sequence packing.

These are the steps between a cleaned corpus and a training run:
estimate the token budget (per-doc sub-word counts), split long
documents into model-context-sized windows, and pack short documents
into full sequences so padding doesn't waste FLOPs.

Scale design (the 100 TB story):
- token counting and chunking are stateless per-row projections
  (regexp / in-row slices) -- zero shuffles, linear in corpus size;
- packing is partition-local: documents hash into independent groups
  and a greedy next-fit runs inside each group via Arrow-batched
  applyInPandas.  Global optimal bin packing is NP-hard and inherently
  sequential; per-group greedy is the standard distributed
  approximation (what T5/GPT data pipelines do per shard) and keeps
  every group independent, so the only shuffle is the group hash.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens_col

__all__ = [
    "BPE_PATTERN",
    "bpe_token_count",
    "chunk_tokens",
    "pack_sequences",
    "vocab_top_k",
    "shuffle_shards",
    "write_shards",
    "oov_rate",
]

# GPT-2-style pre-tokenizer, reduced to the regex subset Java
# (Spark) and RE2 (DuckDB oracle) evaluate identically: letter runs,
# single digits, single punctuation marks.  Real BPE merges would
# follow; the pre-tokenizer split is where the row-level work is.
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def bpe_count_col(text_col: str = "text"):
    """The BPE-ish sub-word count as a standalone Column."""
    return F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0)
    ).cast("long")


def bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document sub-word token count under the BPE-ish
    pre-tokenizer (letters run together, digits and punctuation split
    one-per-token).  Pure JVM regexp projection."""
    return df.select("doc_id", bpe_count_col(text_col).alias("n_bpe_tokens"))


def chunk_tokens(
    df: DataFrame,
    window: int = 16,
    stride: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Split each document's token stream into fixed-size windows
    starting every ``stride`` tokens (``stride < window`` overlaps
    context, LLM-style).  Returns one row per (doc_id, chunk_id) with
    the chunk text and its token count; the final chunks of a document
    may be short.

    In-row index arithmetic + array slices -- the explode multiplies
    rows by ~n_tokens/stride, the same fan-out the downstream trainer
    needs, and no shuffle happens at all."""
    if stride is None:
        stride = window
    if window <= 0 or stride <= 0:
        raise ValueError(f"window and stride must be positive, got {window}, {stride}")
    toks = tokens_col(text_col)
    # no filter on the computed array: Catalyst would push it below
    # this projection with the tokenization inlined, so every document
    # would tokenize twice; a NULL or empty token array gets an empty
    # chunk sequence instead (the gram_starts_sql guard)
    d = df.select("doc_id", toks.alias("__toks"))
    n = F.size("__toks")
    if stride < window:
        # overlapping: stop once a window reaches the last token -- a
        # further start would emit a chunk fully contained in the
        # previous one (wasted training rows)
        n_chunks = (
            F.lit(1)
            + F.ceil(
                F.greatest(n - window, F.lit(0)).cast("double") / F.lit(float(stride))
            ).cast("int")
        )
    else:
        # gapped/adjacent: every start below n yields a fresh chunk,
        # and a start at/after n would be empty
        n_chunks = F.ceil(n.cast("double") / F.lit(float(stride))).cast("int")
    starts = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    d = d.select("doc_id", "__toks", F.explode(starts).alias("chunk_id"))
    piece = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, window
    )
    return d.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 128,
    n_groups: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Greedy next-fit sequence packing: assign documents to training
    sequences ("bins") of at most ``budget`` tokens.  Documents hash
    into ``n_groups`` independent groups (deterministic: doc_id mod
    n_groups); within a group, documents are taken in doc_id order and
    appended to the current bin until the next one would overflow.
    Documents longer than ``budget`` get a bin of their own.

    Returns (doc_id, group_id, bin_id, n_tokens) -- bin_id is local to
    the group.  The reduce is inherently sequential per group (each
    bin boundary depends on every prior length), so it runs as an
    Arrow-batched applyInPandas per group; at real scale n_groups
    scales with the cluster and each group streams one shard.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    toks = tokens_col(text_col)
    d = df.select(
        "doc_id",
        (F.col("doc_id") % n_groups).cast("long").alias("group_id"),
        F.size(toks).cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, cur = [], 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > budget:
                cur += 1
                fill = 0
            bins.append(cur)
            fill += n
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    return d.groupBy("group_id").applyInPandas(
        pack,
        "doc_id long, group_id long, n_tokens long, bin_id long",
    )


def vocab_top_k(
    df: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus token vocabulary: the ``k`` most frequent whitespace
    tokens with counts and a dense frequency rank (rank 1 = most
    frequent; ties -> lexicographically smaller token first, so the
    output is deterministic).  The seed step of building a tokenizer
    vocabulary over a training corpus.

    Scale shape: explode -> partial-aggregated count per token (the
    heavy shuffle carries one row per DISTINCT token, map-side
    combined); the global top-k is orderBy().limit(k), which Spark
    plans as TakeOrderedAndProject -- each partition keeps only its
    own top k, so the distinct-token table is never globally sorted.
    Ranking the surviving k rows is driver-scale work.  Returns
    (rank, token, n).
    """
    from pyspark.sql.window import Window

    from ..sources.ingest import widen_partitions

    counts = (
        widen_partitions(df, "doc_id")
        .select(F.explode(tokens_col(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "token", "n"
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int = 8,
    seed: str = "sh1",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic pseudo-random global shuffle into training
    shards: every training pipeline's last step before writing --
    examples must reach the trainer in an order uncorrelated with
    their source layout, reproducibly.  shard = H mod n_shards and
    pos = rank of H within the shard, where H is the polynomial hash
    of ``seed || id`` passed through an affine mixing step
    (h * 2654435761 mod P): the raw rolling hash is near-MONOTONE in
    the id's trailing digits (the last character contributes +-1
    steps), which would leave each shard largely source-ordered --
    i.e. not a shuffle at all; the multiply-mod wraps the hash space
    and decorrelates the rank order (pinned by test_pipeline_ops).
    Changing ``seed`` reshuffles the corpus and re-running reproduces
    it exactly.  Returns (id, shard, pos).

    Scale shape: one shuffle keyed by shard (exactly the
    repartition(n_shards) a shard writer needs), then an in-shard
    rank.  Each shard orders through one task -- inherent to
    producing one sequentially-ordered output file per shard, so
    size n_shards to the target file size (corpus_bytes / ~2 GB),
    exactly how production shard writers pick their file count.  No
    stage touches the document payload until the final write join."""
    from pyspark.sql.window import Window

    from .text import mixed_hash_col, salted_id_sql

    h = mixed_hash_col(salted_id_sql(seed, id_col))
    w = Window.partitionBy("shard").orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return (
        df.select(id_col, h.alias("__h"))
        .withColumn("shard", (F.col("__h") % n_shards).cast("long"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select(id_col, "shard", "pos")
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    seed: str = "sh1",
    id_col: str = "doc_id",
) -> None:
    """Materialize the deterministic shard shuffle as parquet: one
    ``shard=N`` directory per shard, rows stored in shuffled (pos)
    order -- the training-data sink a loader streams sequentially.

    Plan: the (id, shard, pos) assignment from ``shuffle_shards``
    joins back to the payload on the id (the payload itself never
    enters the rank window), then ONE repartition keyed by shard
    co-locates each output file's rows with its single writer and
    sortWithinPartitions orders them by pos.  partitionBy(shard)
    splits the directory tree without a second shuffle.  At 100 TB
    the per-shard sort is the unavoidable cost of sequentially-
    ordered shard files; size n_shards so corpus_bytes / n_shards is
    a few GB, as production shard writers do."""
    assign = shuffle_shards(df, n_shards=n_shards, seed=seed, id_col=id_col)
    (
        df.join(assign, on=id_col)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )


#: vocab sizes at or below this use the zero-shuffle in-row probe;
#: above it the broadcast-hash-join probe wins (A/B: at k=50k on the
#: sf0.1 documents the in-row scan did not finish a single pass in 10
#: minutes -- 5e10 string compares -- while the join form completes in
#: ~1 s; at k=100 the in-row form is faster by skipping the re-agg
#: shuffle).
OOV_INROW_MAX = 4096


def oov_rate(
    df: DataFrame,
    k: int = 100,
    vocab: DataFrame | None = None,
    text_col: str = "text",
    probe: str = "auto",
) -> DataFrame:
    """Per-document out-of-vocabulary rate under a top-k token
    vocabulary: (doc_id, n_tokens, n_oov, oov_rate) -- the tokenizer-
    coverage signal a pipeline reads before fixing a vocab size
    (documents full of tokens the tokenizer will shatter into bytes
    are flagged by a high rate).  ``vocab`` defaults to
    ``vocab_top_k(df, k)`` (self-vocabulary); pass the production
    vocabulary to score a new corpus against an existing tokenizer.
    ``vocab`` tokens must be distinct (vocab_top_k guarantees this).

    Two probe strategies, because Spark has NO in-row O(1) membership
    structure -- ``array_contains`` is a linear scan and MAP lookup
    (``element_at``/``map_contains_key``) is ALSO a linear scan over
    ArrayBasedMapData, with the added cost that a crossJoined map
    column is copied into every row buffer:

    - ``inrow`` (vocab <= OOV_INROW_MAX): broadcast the vocab as one
      sorted in-row array; each document folds its OOV count inside
      its own row.  Zero shuffle, stream-composable, linear-but-tiny
      scan per token.
    - ``join`` (large vocab): explode tokens, LEFT broadcast-hash-join
      against the vocab (a true O(1) hash probe per token, whole-stage
      codegen), re-aggregate per doc_id.  Map-side partial agg folds
      each document's tokens before the exchange, so the shuffle
      carries one small row per document -- the 100 TB-safe shape for
      a production 50k-250k-entry tokenizer vocabulary.

    ``probe="auto"`` picks by vocabulary size (k when self-built, else
    one vocab-sized count() -- a documented bounded scalar action)."""
    if vocab is None:
        vocab = vocab_top_k(df, k, text_col)
        n_vocab = k
    else:
        n_vocab = None
    if probe == "auto":
        if n_vocab is None:
            n_vocab = vocab.count()  # bounded: vocab is k rows
        probe = "inrow" if n_vocab <= OOV_INROW_MAX else "join"
    if probe == "inrow":
        vrow = vocab.agg(F.array_sort(F.collect_list("token")).alias("__vocab"))
        # materialize the token array and both counts in LOWER
        # projections (optimization round 13): composing the rate from
        # the n_oov/n_tok Column trees re-evaluated tokenization 4x
        # and the per-token vocab scan 2x per document, because the
        # interpreted projection does not share repeated higher-order
        # subtrees (same measured class as text.with_tokens, ~3x on
        # the quality projection).  CollapseProject keeps the levels
        # separate exactly because each alias is non-cheap and
        # multiply referenced; values are identical.
        counts = (
            df.crossJoin(F.broadcast(vrow))
            .withColumn("__toks", tokens_col(text_col))
            .select(
                "doc_id",
                F.size("__toks").cast("long").alias("n_tokens"),
                F.size(
                    F.filter(
                        F.col("__toks"),
                        lambda t: ~F.array_contains(F.col("__vocab"), t),
                    )
                )
                .cast("long")
                .alias("n_oov"),
            )
        )
        return counts.select(
            "doc_id",
            "n_tokens",
            "n_oov",
            _rate(F.col("n_oov"), F.col("n_tokens")),
        )
    if probe != "join":
        raise ValueError(f"probe must be auto|inrow|join, got {probe!r}")
    ex = df.select("doc_id", F.explode_outer(tokens_col(text_col)).alias("__tok"))
    vt = F.broadcast(
        vocab.select(F.col("token").alias("__tok"), F.lit(True).alias("__in"))
    )
    tok = F.col("__tok")
    n_tok = F.count("__tok")  # non-null only: empty docs keep n_tokens=0
    n_oov = F.sum(
        F.when(tok.isNotNull() & F.col("__in").isNull(), 1).otherwise(0)
    )
    return (
        ex.join(vt, "__tok", "left")
        .groupBy("doc_id")
        .agg(
            n_tok.cast("long").alias("n_tokens"),
            n_oov.cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            _rate(F.col("n_oov"), F.col("n_tokens")),
        )
    )


def _rate(n_oov, n_tok):
    return (
        F.when(n_tok > 0, F.round(n_oov.cast("double") / n_tok, 6) + F.lit(0.0))
        .otherwise(F.lit(0.0))
        .alias("oov_rate")
    )
