"""Corpus-governance operators for training-data pipelines (additive
scope beyond the reference, SURVEY.md section 7 M6): benchmark
decontamination, deterministic dataset splits, stratified sampling.

These are the operations an LLM data pipeline runs AFTER cleaning and
dedup: check the corpus against held-out evaluation sets (n-gram
overlap decontamination, the 13-gram procedure from the GPT-3 / PaLM
appendices), carve reproducible train/validation/test splits, and draw
per-stratum samples for audits.

Scale design (the 100 TB story):
- decontamination joins the corpus n-gram side against a BROADCAST of
  the benchmark n-gram set -- eval suites are tiny (10^5-10^6 n-grams)
  next to the corpus, so no corpus shuffle happens at all; the corpus
  side is one explode + a partial-aggregated count per doc;
- split assignment is a stateless per-row hash projection --
  reproducible across runs, engines, and corpus re-orderings, which a
  random() split is not;
- stratified sampling ranks by a deterministic hash within each
  stratum: one shuffle keyed by the (small-cardinality) stratum
  column.

All hashing is the explicit polynomial scheme from functions.text so a
DuckDB oracle replays every assignment bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import shingle_hashes
from .text import mixed_hash_col, polyhash_col, salted_id_sql

__all__ = [
    "contamination_counts",
    "contamination_hits",
    "assign_split",
    "split_col",
    "stratified_sample_flag",
    "mixture_sample_flag",
]


def contamination_counts(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-document count of distinct word ``n``-grams shared with a
    benchmark corpus (decontamination check; GPT-3 appendix C uses
    13-grams -- ``n`` is a parameter because the test corpus has ~50
    token documents).

    Returns (doc_id, n_contam BIGINT, contaminated BOOLEAN) at the
    ``df`` grain.  Documents shorter than ``n`` tokens count 0.

    The benchmark side reduces to DISTINCT n-gram hashes and ships as
    a broadcast -- the corpus never shuffles; its exploded n-gram rows
    meet the broadcast in-place and the per-doc count partial-
    aggregates before the (doc-keyed) final count.
    """
    hits = contamination_hits(df, bench_df, text_col, n)
    return (
        df.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_contam"), F.lit(0).cast("long")).alias("n_contam"),
            (F.coalesce(F.col("n_contam"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_hits(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """The SPARSE form of the decontamination check: (doc_id,
    n_contam) for contaminated documents only -- suites left-join this
    once instead of re-keying the whole corpus through the dense
    doc-grain form."""
    doc_ng = shingle_hashes(df, text_col, n)
    bench_ng = shingle_hashes(bench_df, text_col, n).select("sh").distinct()
    return (
        doc_ng.join(F.broadcast(bench_ng), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contam"))
    )


def split_col(
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (80, 10, 10),
    salt: str = "s1",
):
    """The split assignment as a standalone Column expression
    (streaming pipelines compose it into one join-free projection)."""
    if sum(weights) != 100:
        raise ValueError(f"weights must sum to 100, got {weights}")
    t_end = weights[0]
    v_end = weights[0] + weights[1]

    # decide inside the hash aggregate's finish lambda (optimization
    # round 13): the CaseWhen's two branch conditions each referenced
    # the bucket expression, embedding the whole per-char polyhash
    # fold TWICE per document in the interpreted projection.  The
    # finish step sees the final accumulator once; bucket arithmetic
    # on the bound value is O(1).
    pick = (
        f"h -> CASE WHEN h % 100 < {t_end} THEN 'train' "
        f"WHEN h % 100 < {v_end} THEN 'valid' ELSE 'test' END"
    )
    return polyhash_col(salted_id_sql(salt, id_col), finish=pick)


def assign_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (80, 10, 10),
    salt: str = "s1",
) -> DataFrame:
    """Deterministic train/valid/test assignment by hashing the
    document id: bucket = polyhash(salt || ':' || id) mod 100, split
    boundaries at cumulative ``weights``.

    Returns (doc_id, split STRING).  Stateless per-row projection --
    identical assignment no matter how the corpus is partitioned,
    re-read, or appended to (new docs never move old ones between
    splits, unlike randomSplit / TABLESAMPLE).
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        split_col(id_col, weights, salt).alias("split"),
    )


def stratified_sample_flag(
    df: DataFrame,
    stratum_col: str = "lang",
    k: int = 25,
    id_col: str = "doc_id",
    salt: str = "st",
) -> DataFrame:
    """Deterministic k-per-stratum sample: within each stratum, rank
    documents by polyhash(salt || ':' || id) (ties broken by id) and
    flag the first ``k``.

    Returns (doc_id, in_sample BOOLEAN) at the ``df`` grain -- a flag,
    not a filtered subset, so callers can both select the sample and
    count coverage in one pass.  One shuffle keyed by the stratum
    column; the hash ranking makes the sample reproducible and
    insensitive to input ordering, which ``TABLESAMPLE`` is not.
    """
    h = polyhash_col(salted_id_sql(salt, id_col))
    rn = F.row_number().over(
        Window.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    )
    return df.select(
        F.col(id_col).alias("doc_id"), (rn <= k).alias("in_sample")
    )


def mixture_sample_flag(
    df: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mx",
    default: float = 1.0,
) -> DataFrame:
    """Deterministic domain-mixture downsampling: keep each document
    with its stratum's target rate -- the mixture-weighting step every
    pretraining corpus runs (e.g. upweight books, downsample web) --
    decided by hash, not randomness, so re-runs and incremental
    appends keep exactly the same documents.  A document survives iff
    mixed_hash(salt || ':' || id) mod 1e6 < rate * 1e6 (the MIXED
    hash -- raw polyhash residues are near-monotone in the id's
    trailing digits and would gate whole digit-length classes
    together; see text.mixed_hash_col); strata missing from
    ``weights`` use ``default``.

    Returns (doc_id, mix_keep BOOLEAN) at the ``df`` grain -- a flag,
    not a filtered subset, like stratified_sample_flag.

    Scale shape: the weights ship as a tiny broadcast table joined on
    the stratum column (never a collected literal, so the same code
    path takes a weights DataFrame of any size); the decision itself
    is a pure projection -- no shuffle of the corpus, stream-
    composable."""
    spark = df.sparkSession
    wt = F.broadcast(
        local_frame(
            spark,
            [(k, float(v)) for k, v in sorted(weights.items())],
            f"{stratum_col} string, __rate double",
        )
    )
    h = mixed_hash_col(salted_id_sql(salt, id_col))
    rate = F.coalesce(F.col("__rate"), F.lit(float(default)))
    return (
        df.join(wt, on=stratum_col, how="left")
        .select(
            F.col(id_col).alias("doc_id"),
            ((h % F.lit(1_000_000)).cast("double")
             < rate * F.lit(1_000_000.0)).alias("mix_keep"),
        )
    )
