"""Corpus-governance operators: decontamination, deterministic splits,
stratified sampling, and the Gopher-style repetition signals
(functions/governance.py, functions/text.py::repetition_stats)."""

import pytest
from pyspark.sql import functions as F


def _docs(spark, texts, langs=None):
    langs = langs or ["en"] * len(texts)
    return spark.createDataFrame(
        [(i, t, l) for i, (t, l) in enumerate(zip(texts, langs))],
        "doc_id long, text string, lang string",
    )


# ---------------------------------------------------------------- repetition


def test_repetition_crafted(spark):
    from dask_array_spark.functions.text import repetition_stats

    docs = _docs(
        spark,
        [
            # "a b" appears 3x (6 bigrams total); chars = 11
            "a b a b a b",
            # one long run of the same token
            "x x x x x y",
            # no repetition at all
            "p q r s t u",
        ],
    )
    out = {
        r["doc_id"]: r
        for r in repetition_stats(docs).collect()
    }
    # doc 0: top bigram "a b" count 3, len 3, text len 11
    assert out[0]["top2gram_char_frac"] == round(3 * 3 / 11, 6)
    # trigrams of doc 0: "a b a","b a b","a b a","b a b" -> 4 total 2 distinct
    assert out[0]["dup3gram_frac"] == 0.5
    assert out[0]["max_token_run"] == 1
    assert out[1]["max_token_run"] == 5
    # doc 1 trigrams: "x x x" x3, "x x y" -> 4 total, 2 distinct
    assert out[1]["dup3gram_frac"] == 0.5
    assert out[2]["dup3gram_frac"] == 0.0
    assert out[2]["max_token_run"] == 1


def test_repetition_short_docs(spark):
    """Below the n-gram width nothing divides by zero -- including the
    fully EMPTY text, where n_chars == 0 and Spark's non-ANSI x/0
    would otherwise yield NULL (vs DuckDB's IEEE NaN)."""
    from dask_array_spark.functions.text import repetition_stats

    docs = _docs(spark, ["solo", "two tokens", ""])
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[2]["top2gram_char_frac"] == 0.0
    assert out[2]["dup3gram_frac"] == 0.0
    assert out[0]["top2gram_char_frac"] == 0.0
    assert out[0]["dup3gram_frac"] == 0.0
    assert out[0]["max_token_run"] == 1
    assert out[1]["top2gram_char_frac"] == round(10 / 10, 6)
    assert out[1]["dup3gram_frac"] == 0.0


def test_repetition_tie_breaks_lexicographic(spark):
    from dask_array_spark.functions.text import repetition_stats

    # bigrams "b a" and "a b" both appear twice; the smaller ("a b") wins
    docs = _docs(spark, ["b a b a b"])
    row = repetition_stats(docs).collect()[0]
    # count 2, len("a b") == 3, chars == 9
    assert row["top2gram_char_frac"] == round(2 * 3 / 9, 6)


# ------------------------------------------------------------- contamination


def test_contamination_hits_and_misses(spark):
    from dask_array_spark.functions.governance import contamination_counts

    corpus = _docs(
        spark,
        [
            "one two three four five six seven eight nine ten",
            "totally different words with no overlap at all here now",
            "short doc",
        ],
    )
    bench = _docs(spark, ["one two three four five six seven eight"])
    out = {
        r["doc_id"]: r for r in contamination_counts(corpus, bench, n=8).collect()
    }
    # doc 0 shares exactly the one 8-gram of the bench doc
    assert out[0]["n_contam"] == 1 and out[0]["contaminated"]
    assert out[1]["n_contam"] == 0 and not out[1]["contaminated"]
    # < 8 tokens: no n-grams, never contaminated
    assert out[2]["n_contam"] == 0 and not out[2]["contaminated"]


def test_contamination_counts_distinct_ngrams(spark):
    from dask_array_spark.functions.governance import contamination_counts

    # the shared trigram repeats in the corpus doc but counts ONCE
    corpus = _docs(spark, ["a b c a b c a b c"])
    bench = _docs(spark, ["a b c x y z"])
    row = contamination_counts(corpus, bench, n=3).collect()[0]
    # corpus trigram set: "a b c","b c a","c a b"; bench set includes "a b c"
    assert row["n_contam"] == 1


# -------------------------------------------------------------------- splits


def test_split_deterministic_and_partition_invariant(spark):
    from dask_array_spark.functions.governance import assign_split

    docs = _docs(spark, [f"text {i}" for i in range(200)])
    a = {r["doc_id"]: r["split"] for r in assign_split(docs).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs.repartition(13)).collect()
    }
    assert a == b
    counts = {}
    for v in a.values():
        counts[v] = counts.get(v, 0) + 1
    # rough 80/10/10 proportions, every class present
    assert set(counts) == {"train", "valid", "test"}
    assert counts["train"] > counts["valid"] and counts["train"] > counts["test"]


def test_split_append_stability(spark):
    """Adding documents never reassigns existing ones."""
    from dask_array_spark.functions.governance import assign_split

    small = _docs(spark, [f"text {i}" for i in range(50)])
    big = _docs(spark, [f"text {i}" for i in range(100)])
    a = {r["doc_id"]: r["split"] for r in assign_split(small).collect()}
    b = {r["doc_id"]: r["split"] for r in assign_split(big).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_split_weights_validated(spark):
    from dask_array_spark.functions.governance import assign_split

    docs = _docs(spark, ["x"])
    with pytest.raises(ValueError, match="sum to 100"):
        assign_split(docs, weights=(90, 5, 4))


# ------------------------------------------------------------------ sampling


def test_stratified_sample_exact_k_per_group(spark):
    from dask_array_spark.functions.governance import stratified_sample_flag

    langs = ["en"] * 40 + ["fr"] * 10 + ["de"] * 3
    docs = _docs(spark, [f"text {i}" for i in range(len(langs))], langs)
    out = stratified_sample_flag(docs, "lang", k=5)
    sampled = (
        out.join(docs.select("doc_id", "lang"), "doc_id")
        .filter("in_sample")
        .groupBy("lang")
        .count()
        .collect()
    )
    got = {r["lang"]: r["count"] for r in sampled}
    # min(k, group size) per stratum
    assert got == {"en": 5, "fr": 5, "de": 3}


def test_stratified_sample_order_invariant(spark):
    from dask_array_spark.functions.governance import stratified_sample_flag

    langs = ["en", "fr"] * 25
    docs = _docs(spark, [f"text {i}" for i in range(50)], langs)
    a = {
        r["doc_id"]: r["in_sample"]
        for r in stratified_sample_flag(docs, "lang", k=7).collect()
    }
    shuffled = docs.orderBy(F.rand(7))
    b = {
        r["doc_id"]: r["in_sample"]
        for r in stratified_sample_flag(shuffled, "lang", k=7).collect()
    }
    assert a == b


# ------------------------------------------------------------------- plan


def test_contamination_broadcasts_bench_side(spark):
    """The benchmark n-gram set must reach the join as a broadcast --
    a shuffle there would re-key the whole corpus at 100 TB."""
    from dask_array_spark.functions.governance import contamination_counts

    corpus = _docs(spark, [f"w{i} " * 12 for i in range(100)])
    bench = _docs(spark, ["w1 " * 12])
    plan = contamination_counts(corpus, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_mixture_sample_flag_rates_and_determinism(spark):
    from dask_array_spark.functions.governance import mixture_sample_flag

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)],
        "doc_id long, lang string",
    )
    out = {
        r["doc_id"]: r["mix_keep"]
        for r in mixture_sample_flag(docs, {"en": 1.0, "zh": 0.25}).collect()
    }
    en = [out[i] for i in range(0, 2000, 2)]
    zh = [out[i] for i in range(1, 2000, 2)]
    assert all(en)                      # rate 1.0 keeps everything
    frac = sum(zh) / len(zh)
    assert 0.15 < frac < 0.35           # ~0.25 with hash noise
    # deterministic: re-running yields the identical keep set
    again = {
        r["doc_id"]: r["mix_keep"]
        for r in mixture_sample_flag(docs, {"en": 1.0, "zh": 0.25}).collect()
    }
    assert again == out
    # unknown stratum falls back to default
    docs2 = spark.createDataFrame([(1, "xx")], "doc_id long, lang string")
    assert mixture_sample_flag(docs2, {}, default=1.0).collect()[0]["mix_keep"]


def test_salted_hashes_take_quote_and_backslash_salts(spark):
    """The salt becomes an SQL string literal inside the hash fragment:
    a salt holding quotes and backslashes must still hash as the plain
    string salt || ':' || id, for every salted-id hash."""
    from dask_array_spark.functions import governance as G
    from dask_array_spark.functions.text import A_MIX, P, SEED
    from dask_array_spark.functions.tokenize import shuffle_shards

    salt = "it's \\'a\\\\ \\n trap'"

    def poly(s):
        h = SEED
        for c in s:
            h = (h * 31 + ord(c)) % P
        return h

    def mixed(s):
        return poly(s) * A_MIX % P

    ids = list(range(60))
    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in ids], "doc_id long, lang string"
    )
    h = {i: poly(f"{salt}:{i}") for i in ids}
    split = dict(map(tuple, G.assign_split(docs, salt=salt).collect()))
    assert split == {
        i: "train" if h[i] % 100 < 80 else "valid" if h[i] % 100 < 90 else "test"
        for i in ids
    }
    sample = dict(
        map(tuple, G.stratified_sample_flag(docs, "lang", k=4, salt=salt).collect())
    )
    for lang in ("en", "fr"):
        members = sorted((h[i], i) for i in ids if (i % 3 > 0) == (lang == "en"))
        assert {i for i in ids if sample[i]} >= {i for _, i in members[:4]}
    assert sum(sample.values()) == 8
    keep = dict(
        map(tuple, G.mixture_sample_flag(docs, {"en": 0.5}, salt=salt, default=0.3)
            .collect())
    )
    assert keep == {
        i: mixed(f"{salt}:{i}") % 1_000_000 < (0.5 if i % 3 else 0.3) * 1e6
        for i in ids
    }
    shards = {r["doc_id"]: r["shard"] for r in shuffle_shards(docs, 4, seed=salt).collect()}
    assert shards == {i: mixed(f"{salt}:{i}") % 4 for i in ids}
