"""Round-5 training-pipeline operators on hand-built inputs:
connected-components duplicate clustering (functions/dedup.py::
duplicate_clusters), distributed Lloyd k-means (functions/
similarity.py::kmeans_fit/kmeans_assign), CCNet-style bigram LM
scoring (functions/text.py::bigram_lm_scores), and the deterministic
shard shuffle (functions/tokenize.py::shuffle_shards).  The DuckDB
oracle replicas run in tests/test_oracle.py (dedup_lsh_pairs_verify
kind 1, similarity_suite kind 4, text_suite lm_bits, tokenize_suite
kind 3); these pin operator-level semantics."""

import math

import pytest
from pyspark.sql import functions as F


def _pairs(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )


def test_clusters_components_and_sizes(spark):
    from dask_array_spark.functions.dedup import duplicate_clusters

    # chain 1-2-3 plus isolated pair 10-11: two components
    out = {
        r["doc_id"]: r
        for r in duplicate_clusters(
            _pairs(spark, [(1, 2), (2, 3), (10, 11)])
        ).collect()
    }
    assert {v: r["rep"] for v, r in out.items()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
    }
    assert {v: r["csize"] for v, r in out.items()} == {
        1: 3, 2: 3, 3: 3, 10: 2, 11: 2,
    }


def test_clusters_long_chain_pointer_doubling(spark):
    """A 17-node path needs label propagation across diameter 16;
    pointer doubling must converge well inside the default budget."""
    from dask_array_spark.functions.dedup import duplicate_clusters

    out = duplicate_clusters(
        _pairs(spark, [(i, i + 1) for i in range(100, 116)])
    ).collect()
    assert len(out) == 17
    assert all(r["rep"] == 100 for r in out)
    assert all(r["csize"] == 17 for r in out)


def test_clusters_empty_pairs(spark):
    from dask_array_spark.functions.dedup import duplicate_clusters

    assert duplicate_clusters(_pairs(spark, [])).collect() == []


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_kmeans_separated_groups(spark):
    """Two well-separated groups: the codebook converges onto the
    group means regardless of the (deliberately bad) id-order init,
    and every vector assigns to its own group's cell."""
    from dask_array_spark.functions.similarity import kmeans_assign, kmeans_fit

    left = [[0.0, 0.1], [0.1, 0.0], [0.0, -0.1], [-0.1, 0.0]]
    right = [[10.0, 0.1], [10.1, 0.0], [10.0, -0.1], [9.9, 0.0]]
    emb = _emb(spark, [left[0], right[0]] + left[1:] + right[1:])
    cents = {r["cell"]: r["cemb"] for r in kmeans_fit(emb, k=2, iters=3).collect()}
    assert abs(cents[0][0] - 0.0) < 0.01 and abs(cents[1][0] - 10.0) < 0.01
    asg = {
        r["vec_id"]: r["cell"]
        for r in kmeans_assign(
            emb, kmeans_fit(emb, k=2, iters=3)
        ).collect()
    }
    # vec 0 + vecs 2,3,4 are the left group; vec 1 + 5,6,7 the right
    assert [asg[v] for v in (0, 2, 3, 4)] == [0, 0, 0, 0]
    assert [asg[v] for v in (1, 5, 6, 7)] == [1, 1, 1, 1]


def test_kmeans_assign_tie_smaller_cell(spark):
    from dask_array_spark.functions.similarity import kmeans_assign

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])], "cell long, cemb array<double>"
    )
    emb = _emb(spark, [[0.0, 5.0]])  # equidistant from both centroids
    row = kmeans_assign(emb, cents).collect()[0]
    assert row["cell"] == 0



_NAN = float("nan")
_NULL_EMB_FIT = (
    {0: [0.5, 0.25], 1: [4.5, 4.25]},
    {0: (0, 0.3125), 1: (1, 0.3125), 2: (0, None), 3: (0, 0.3125), 4: (1, 0.3125)},
)
_EMPTIED_FIT = (
    {0: [0.333333, 0.166667], 2: [4.5, 4.25]},
    {0: (0, 0.138889), 1: (0, 0.138889), 2: (2, 0.3125), 3: (0, 0.555556),
     4: (2, 0.3125)},
)
_K_ABOVE_FIT = (
    {0: [0.0, 0.0], 1: [4.0, 4.0], 2: [1.0, 0.5]},
    {0: (0, 0.0), 1: (1, 0.0), 2: (2, 0.0)},
)
# case -> (embeddings, k, want): the (codebook {cell: cemb}, assignment
# {vec_id: (cell, dist)}) both legs produce after 2 Lloyd rounds.  A
# NULL distance (NULL or ragged row, NULL centroid) ranks first and NaN
# last, ties go to the smaller cell, and emptied cells drop out.
_HOSTILE_KMEANS = {
    "null_embedding": (
        [[0.0, 0.0], [4.0, 4.0], None, [1.0, 0.5], [5.0, 4.5]], 2,
        _NULL_EMB_FIT,
    ),
    "null_init_centroid": (
        [None, [4.0, 4.0], [1.0, 0.5], [5.0, 4.5]], 2,
        ({0: [3.333333, 3.0]},
         {0: (0, None), 1: (0, 1.444445), 2: (0, 11.694443), 3: (0, 5.027779)}),
    ),
    "nan_coordinate": (
        [[0.0, 0.0], [4.0, 4.0], [_NAN, 1.0], [1.0, 0.5], [5.0, 4.5]], 2,
        ({0: [_NAN, 1.0], 1: [2.5, 2.25]},
         {0: (1, 11.3125), 1: (1, 5.3125), 2: (0, _NAN), 3: (1, 5.3125),
          4: (1, 11.3125)}),
    ),
    "ragged_row": (
        [[0.0, 0.0], [4.0, 4.0], [1.0, 0.5, 2.0], [1.0, 0.5], [5.0, 4.5]], 2,
        ({0: [2.5, 2.25], 1: [1.0, 0.5, 2.0]},
         {0: (1, None), 1: (1, None), 2: (0, None), 3: (1, None), 4: (1, None)}),
    ),
    "emptied_cell": (
        [[0.0, 0.0], [0.0, 0.0], [4.0, 4.0], [1.0, 0.5], [5.0, 4.5]], 3,
        _EMPTIED_FIT,
    ),
    "k_above_rows": (
        [[0.0, 0.0], [4.0, 4.0], [1.0, 0.5]], 5, _K_ABOVE_FIT,
    ),
    "empty_corpus": ([], 3, ({}, {})),
}


def _nan_tagged(v):
    if isinstance(v, list):
        return [_nan_tagged(x) for x in v]
    return "nan" if isinstance(v, float) and math.isnan(v) else v


@pytest.mark.parametrize("impl", ["sql", "arrow"])
@pytest.mark.parametrize("case", sorted(_HOSTILE_KMEANS))
def test_kmeans_hostile_inputs_pinned(spark, case, impl):
    """NULL / NaN / ragged embeddings, an emptied cell, k above the row
    count and an empty corpus: both legs give exactly the one codebook
    and assignment row set pinned above."""
    from dask_array_spark.functions.similarity import kmeans_assign, kmeans_fit

    rows, k, (cb, asg) = _HOSTILE_KMEANS[case]
    emb = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)], "vec_id long, embedding array<float>"
    )

    cents = kmeans_fit(emb, k=k, iters=2, assign_impl=impl)
    codebook = {r["cell"]: _nan_tagged(r["cemb"]) for r in cents.collect()}
    assign = {
        r["vec_id"]: (r["cell"], _nan_tagged(r["dist"]))
        for r in kmeans_assign(emb, cents, impl=impl).collect()
    }
    assert (codebook, assign) == (
        {c: _nan_tagged(v) for c, v in cb.items()},
        {i: (c, _nan_tagged(d)) for i, (c, d) in asg.items()},
    )


def test_bigram_lm_matches_python_reference(spark):
    """lm_bits replays the add-one-smoothed self-model exactly (up to
    the documented 6-decimal rounding)."""
    from dask_array_spark.functions.text import bigram_lm_scores

    texts = {1: "a b a b c", 2: "a b", 3: "c c c", 4: "z"}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}

    # python reference on token strings (hash is injective here)
    uni, bi = {}, {}
    for t in texts.values():
        toks = t.split()
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    bi = {k: v for k, v in bi.items() if v >= 2}
    V = len(uni)
    for d, t in texts.items():
        toks = t.split()
        if len(toks) < 2:
            assert d not in out
            continue
        bits = [
            -math.log2((bi.get((a, b), 0) + 1) / (uni[a] + V))
            for a, b in zip(toks, toks[1:])
        ]
        assert out[d]["n_lm_bigrams"] == len(bits)
        assert abs(out[d]["lm_bits"] - sum(bits) / len(bits)) < 1e-6


def test_shuffle_shards_deterministic_and_dense(spark):
    from dask_array_spark.functions.tokenize import shuffle_shards

    docs = spark.createDataFrame(
        [(i, "x") for i in range(200)], "doc_id long, text string"
    )
    a = sorted(shuffle_shards(docs, n_shards=4).collect())
    b = sorted(shuffle_shards(docs, n_shards=4).collect())
    assert a == b  # reproducible
    c = sorted(shuffle_shards(docs, n_shards=4, seed="sh2").collect())
    assert a != c  # seed changes the permutation
    # positions are dense 0..n_s-1 within every shard
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # the shuffle decorrelates from doc_id order: the first shard's
    # pos-ordered doc ids are not simply ascending
    s0 = [r["doc_id"] for r in sorted(a, key=lambda r: (r["shard"], r["pos"])) if r["shard"] == 0]
    assert s0 != sorted(s0)


def test_write_shards_roundtrip(spark, tmp_path):
    """Shard files hold every row exactly once, stored in pos order
    inside each shard directory, reproducibly."""
    from dask_array_spark.functions.tokenize import shuffle_shards, write_shards

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    )
    tgt = str(tmp_path / "shards")
    write_shards(docs, tgt, n_shards=4)
    back = spark.read.parquet(tgt)
    assert back.count() == 100
    assert set(r["doc_id"] for r in back.select("doc_id").collect()) == set(range(100))
    # within each shard file, row order == pos order (sequential read
    # replays the shuffle); parquet preserves writer row order
    import glob
    assign = {
        (r["shard"], r["doc_id"]): r["pos"]
        for r in shuffle_shards(docs, n_shards=4).collect()
    }
    for d in glob.glob(tgt + "/shard=*"):
        shard = int(d.rsplit("=", 1)[1])
        rows = spark.read.parquet(d).select("doc_id", "pos").collect()
        assert [r["pos"] for r in rows] == sorted(r["pos"] for r in rows)
        for r in rows:
            assert assign[(shard, r["doc_id"])] == r["pos"]


from hypothesis import given, settings, strategies as st

_EDGE = st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
    lambda e: e[0] != e[1]
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_EDGE, min_size=0, max_size=20))
def test_clusters_match_union_find(spark, edges):
    """duplicate_clusters == union-find on arbitrary small graphs
    (reps are component minima, csize the true component size)."""
    from dask_array_spark.functions.dedup import duplicate_clusters

    pairs = [(min(a, b), max(a, b)) for a, b in edges]
    out = {
        r["doc_id"]: (r["rep"], r["csize"])
        for r in duplicate_clusters(_pairs(spark, pairs)).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comps = {}
    for v in parent:
        comps.setdefault(find(v), []).append(v)
    want = {}
    for members in comps.values():
        rep, size = min(members), len(members)
        for v in members:
            want[v] = (rep, size)
    assert out == want


def test_bigram_lm_broadcast_gate_fallback_parity(spark):
    """Both join shapes of bigram_lm_scores produce identical rows:
    the default broadcast path and the above-gate sort-merge fallback
    (driven here with broadcast_rows=1 so tiny model tables exceed the
    gate).  Covers the gate's fallback branch (text.py broadcast_rows)
    end-to-end -- round-6 verdict ask 2."""
    from dask_array_spark.functions.text import bigram_lm_scores

    texts = {1: "a b a b c a b", 2: "a b", 3: "c c c c", 4: "z"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    want = sorted(map(tuple, bigram_lm_scores(docs).collect()))
    assert want  # non-degenerate fixture
    got_fallback = sorted(
        map(tuple, bigram_lm_scores(docs, broadcast_rows=1).collect())
    )
    assert got_fallback == want


def test_bigram_lm_cross_corpus_unseen_tokens(spark):
    """Scoring against a DIFFERENT reference corpus: bigrams and even
    unigrams unseen in the reference back off to add-one smoothing
    (cu = 0), matching the Python reference."""
    from dask_array_spark.functions.text import bigram_lm_scores

    ref_texts = {100: "a b a b", 101: "b c"}
    doc_texts = {1: "a b c", 2: "z q"}  # z, q unseen in ref
    ref = spark.createDataFrame(list(ref_texts.items()), "doc_id long, text string")
    docs = spark.createDataFrame(list(doc_texts.items()), "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs, ref=ref).collect()}

    uni, bi = {}, {}
    for t in ref_texts.values():
        toks = t.split()
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    bi = {k: v for k, v in bi.items() if v >= 2}
    V = len(uni)
    for d, t in doc_texts.items():
        toks = t.split()
        bits = [
            -math.log2((bi.get((a, b), 0) + 1) / (uni.get(a, 0) + V))
            for a, b in zip(toks, toks[1:])
        ]
        assert out[d]["n_lm_bigrams"] == len(bits)
        assert abs(out[d]["lm_bits"] - sum(bits) / len(bits)) < 1e-6


def test_oov_rate_self_and_external_vocab(spark):
    from dask_array_spark.functions.tokenize import oov_rate

    docs = spark.createDataFrame(
        [(1, "a a b z"), (2, "q q"), (3, "a b")], "doc_id long, text string"
    )
    # top-2 self-vocab = {a (3x), b (2x)}  (q: 2x but 'b' wins the tie
    # at rank 2? counts: a=3, b=2, q=2, z=1 -> top2 = a, b (tie b<q))
    out = {r["doc_id"]: r for r in oov_rate(docs, k=2).collect()}
    assert (out[1]["n_tokens"], out[1]["n_oov"]) == (4, 1)      # z
    assert (out[2]["n_tokens"], out[2]["n_oov"]) == (2, 2)      # q q
    assert (out[3]["n_tokens"], out[3]["n_oov"]) == (0 + 2, 0)
    assert abs(out[1]["oov_rate"] - 0.25) < 1e-9
    # external vocabulary
    vocab = spark.createDataFrame([("z",), ("q",)], "token string")
    out2 = {r["doc_id"]: r for r in oov_rate(docs, vocab=vocab).collect()}
    assert (out2[1]["n_oov"], out2[2]["n_oov"], out2[3]["n_oov"]) == (3, 0, 2)


def test_oov_rate_probe_equivalence(spark):
    """The zero-shuffle in-row scan and the broadcast-hash-join probe
    are interchangeable: identical rows (incl. empty docs, which the
    join path keeps via explode_outer), and auto picks join above
    OOV_INROW_MAX."""
    from dask_array_spark.functions.tokenize import oov_rate

    docs = spark.createDataFrame(
        [(1, "a a b z"), (2, "q q"), (3, "a b"), (4, ""), (5, "   ")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("a",), ("q",)], "token string")
    rows_in = sorted(
        tuple(r) for r in oov_rate(docs, vocab=vocab, probe="inrow").collect()
    )
    rows_jn = sorted(
        tuple(r) for r in oov_rate(docs, vocab=vocab, probe="join").collect()
    )
    assert rows_in == rows_jn
    assert (4, 0, 0, 0.0) in rows_jn and (5, 0, 0, 0.0) in rows_jn
    # the join probe's plan is a broadcast hash join + pre-exchange
    # partial agg (the 100 TB shape for a large vocabulary)
    plan = oov_rate(docs, vocab=vocab, probe="join")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    import pytest

    with pytest.raises(ValueError):
        oov_rate(docs, vocab=vocab, probe="nope")


import numpy as np
import pytest


def _ref_kmeans(X, k, iters):
    """Faithful replica of kmeans_fit/kmeans_assign semantics: squared
    L2 rounded to 6 before argmin, ties to the smaller cell, means
    rounded to 6 per round, empty cells drop."""
    cents = {c: X[c].astype(np.float64) for c in range(k)}

    def assign(cs):
        cells = sorted(cs)
        out = []
        for x in X:
            d = [round(float(((x.astype(np.float64) - cs[c]) ** 2).sum()), 6)
                 for c in cells]
            out.append((cells[int(np.argmin(d))], min(d)))
        return out

    for _ in range(iters):
        a = assign(cents)
        new = {}
        for c in sorted(cents):
            members = [X[i].astype(np.float64) for i, (ac, _) in enumerate(a)
                       if ac == c]
            if members:
                new[c] = np.round(np.mean(members, axis=0), 6)
        cents = new
    return assign(cents)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_kmeans_matches_numpy_reference(spark, seed):
    from dask_array_spark.functions.similarity import kmeans_assign, kmeans_fit

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(12, 3)).astype(np.float32)
    emb = _emb(spark, X.tolist())
    got = {
        r["vec_id"]: (r["cell"], r["dist"])
        for r in kmeans_assign(emb, kmeans_fit(emb, k=3, iters=2)).collect()
    }
    want = {i: (c, d) for i, (c, d) in enumerate(_ref_kmeans(X, 3, 2))}
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        assert abs(got[i][1] - want[i][1]) < 2e-6


def test_perplexity_buckets_terciles(spark):
    """Discrete-quantile terciles: 9 scored docs split 3/3/3 by
    lm_bits order; boundary docs land in the lower bucket (cut =
    smallest score reaching ceil(q*n) cumulative)."""
    from dask_array_spark.functions.text import perplexity_buckets

    lm = spark.createDataFrame(
        [(i, 10, float(i)) for i in range(9)],
        "doc_id long, n_lm_bigrams long, lm_bits double",
    )
    out = {r["doc_id"]: r["ppl_bucket"] for r in perplexity_buckets(lm).collect()}
    assert [out[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )
    # duplicate scores cross the cut together (value-grain cuts)
    lm2 = spark.createDataFrame(
        [(0, 1, 1.0), (1, 1, 1.0), (2, 1, 1.0), (3, 1, 2.0)],
        "doc_id long, n_lm_bigrams long, lm_bits double",
    )
    out2 = {r["doc_id"]: r["ppl_bucket"] for r in perplexity_buckets(lm2).collect()}
    assert out2 == {0: "head", 1: "head", 2: "head", 3: "tail"}


def test_tfidf_keywords_ranks_rare_terms(spark):
    from dask_array_spark.functions.text import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "common rare1 common common"),
            (2, "common rare2 rare2"),
            (3, "common common"),
        ],
        "doc_id long, text string",
    )
    out = {}
    for r in tfidf_keywords(docs, k=2).collect():
        out.setdefault(r["doc_id"], []).append((r["rank"], r["token"]))
    for d in out:
        out[d].sort()
    # doc 1: 'common' tf=3 x idf(ln(4/4)+1=1) = 3.0 beats 'rare1'
    # (1 x (ln(2)+1) ~ 1.693); doc 2: 'rare2' tf=2 doubles the idf
    # boost and outranks 'common'
    assert out[1] == [(1, "common"), (2, "rare1")]
    assert out[2] == [(1, "rare2"), (2, "common")]
    assert [t for _, t in out[3]] == ["common"]
    import math
    r = {(x["doc_id"], x["token"]): x["tfidf"]
         for x in tfidf_keywords(docs, k=2).collect()}
    assert abs(r[(1, "common")] - 3.0) < 1e-9
    assert abs(r[(2, "rare2")] - 2 * (math.log(4 / 2) + 1)) < 1e-5


def test_duplicate_clusters_nonconvergence_warns(spark):
    """Exhausting max_iters with labels still moving must be loud
    (ADVICE r5: silently under-merged clusters would flow into
    fuzzy-dedup drop lists)."""
    import pytest

    from dask_array_spark.functions.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with pytest.warns(RuntimeWarning, match="did not converge"):
        rows = duplicate_clusters(chain, max_iters=1).collect()
    assert len(rows) == 13  # labels returned even when unconverged


def test_release_caches_frees_text_and_similarity_fanouts(spark):
    """The fan-out caches that the returned plans of the LM scoring,
    perplexity bucketing, TF-IDF and embedding dedup builders read are
    tracked, so ``release_caches()`` brings the session's
    persistent-RDD count back to where it started."""
    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.functions import text as T
    from dask_array_spark.session import release_caches

    release_caches(blocking=True, spark=spark)
    sc = spark.sparkContext._jsc.sc()
    start = sc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(i, f"the cat sat on the mat {i % 3} again and again") for i in range(12)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3), 0.5]) for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    lm = T.bigram_lm_scores(docs)
    outs = [
        lm,
        T.bigram_lm_scores(docs, ref=docs.limit(6)),
        T.perplexity_buckets(lm),
        T.tfidf_keywords(docs),
        SIM.semantic_dedup(emb, 2, 0.99),
        SIM.cosine_pairs_bucketed(emb, 4),
    ]
    for out in outs:
        out.count()
    assert sc.getPersistentRDDs().size() > start
    release_caches(blocking=True, spark=spark)
    assert sc.getPersistentRDDs().size() == start
