"""Tokenization tier: BPE-ish sub-word counting, fixed-window token
chunking, greedy sequence packing (functions/tokenize.py)."""

import pytest


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_bpe_counts_subword_splits(spark):
    from dask_array_spark.functions.tokenize import bpe_token_count

    docs = _docs(spark, ["hello world42, x-9 (ok)", "plain words here"])
    out = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_count(docs).collect()}
    # hello|world|4|2|,|x|-|9|(|ok|) -> 11 ; plain|words|here -> 3
    assert out == {0: 11, 1: 3}


def test_chunks_cover_all_tokens_no_overlap(spark):
    from dask_array_spark.functions.tokenize import chunk_tokens

    docs = _docs(spark, [" ".join(f"t{i}" for i in range(37))])
    rows = chunk_tokens(docs, window=16).orderBy("chunk_id").collect()
    assert [r["chunk_id"] for r in rows] == [0, 1, 2]
    assert [r["n_tokens"] for r in rows] == [16, 16, 5]
    joined = " ".join(r["chunk_text"] for r in rows)
    assert joined == " ".join(f"t{i}" for i in range(37))


def test_chunks_overlapping_stride(spark):
    from dask_array_spark.functions.tokenize import chunk_tokens

    docs = _docs(spark, [" ".join(f"t{i}" for i in range(20))])
    rows = chunk_tokens(docs, window=16, stride=8).orderBy("chunk_id").collect()
    # starts at 0 and 8, each 16 wide clipped at 20
    assert [r["n_tokens"] for r in rows] == [16, 12]
    assert rows[1]["chunk_text"].split(" ")[0] == "t8"


def test_chunks_skip_null_and_empty_text(spark):
    from dask_array_spark.functions.tokenize import chunk_tokens

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "a b c")], "doc_id long, text string"
    )
    for stride in (2, 4):
        rows = chunk_tokens(docs, window=3, stride=stride).collect()
        assert [(r["doc_id"], r["chunk_text"]) for r in rows] == [(3, "a b c")]


def test_chunks_tokenize_once(spark, sf_dir):
    """chunk_tokens has no filter on the token array, so Catalyst has
    nothing to push below the tokenizing projection: the optimized
    plan splits each document once."""
    from dask_array_spark.functions.tokenize import chunk_tokens
    from dask_array_spark.sources import read_table

    df = chunk_tokens(read_table(spark, sf_dir, "documents"), window=16, stride=8)
    assert df._jdf.queryExecution().optimizedPlan().toString().count("split(") == 1


def test_chunks_validate_params(spark):
    from dask_array_spark.functions.tokenize import chunk_tokens

    with pytest.raises(ValueError, match="positive"):
        chunk_tokens(_docs(spark, ["x"]), window=0)


def test_pack_matches_python_reference(spark):
    from dask_array_spark.functions.tokenize import pack_sequences

    lengths = [23, 76, 88, 60, 25, 22, 130, 5, 5, 5, 120, 9]
    docs = _docs(spark, [" ".join("w" * 1 for _ in range(n)) for n in lengths])
    out = pack_sequences(docs, budget=128, n_groups=1).orderBy("doc_id").collect()

    bins, fill, cur = [], 0, 0
    for n in lengths:
        if fill > 0 and fill + n > 128:
            cur += 1
            fill = 0
        bins.append(cur)
        fill += n
    assert [r["bin_id"] for r in out] == bins
    assert [r["n_tokens"] for r in out] == lengths


def test_pack_bins_respect_budget(spark):
    from dask_array_spark.functions.tokenize import pack_sequences
    from pyspark.sql import functions as F

    docs = _docs(spark, [" ".join("w" for _ in range(5 + i % 40)) for i in range(200)])
    out = pack_sequences(docs, budget=64, n_groups=4)
    over = (
        out.groupBy("group_id", "bin_id")
        .agg(F.sum("n_tokens").alias("fill"), F.count("*").alias("n"))
        .filter("fill > 64 AND n > 1")
        .count()
    )
    # a bin only exceeds the budget when a single doc is oversized
    assert over == 0


def test_chunking_plan_has_no_shuffle(spark):
    from dask_array_spark.functions.tokenize import chunk_tokens

    docs = _docs(spark, ["a b c d e"])
    plan = chunk_tokens(docs, window=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_vocab_top_k_counts_and_ties(spark):
    """Top-k vocabulary: counts across the corpus, rank 1 = most
    frequent, ties broken lexicographically."""
    from dask_array_spark.functions.tokenize import vocab_top_k

    docs = spark.createDataFrame(
        [(0, "a b b c"), (1, "b c c a"), (2, "d")],
        "doc_id long, text string",
    )
    rows = [(r["rank"], r["token"], r["n"]) for r in vocab_top_k(docs, k=3).collect()]
    # counts: a=2 b=3 c=3 d=1 -> b and c tie at 3, b first
    assert sorted(rows) == [(1, "b", 3), (2, "c", 3), (3, "a", 2)]


def test_vocab_top_k_plans_take_ordered(spark):
    """The global top-k must plan as TakeOrderedAndProject (per-
    partition partial top-k), never a full global Sort of the
    distinct-token table."""
    from dask_array_spark.functions.tokenize import vocab_top_k

    docs = spark.createDataFrame(
        [(i, f"tok{i} common") for i in range(50)], "doc_id long, text string"
    )
    plan = vocab_top_k(docs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
