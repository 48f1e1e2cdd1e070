"""Property-based fuzz of the full MinHash/LSH dedup chain against an
INDEPENDENT plain-Python model of the published hash spec (affine
family / polynomial token hashes / band buckets, functions/dedup.py).

The chain is oracle-checked against DuckDB SQL on the driver corpora;
this adds implementation diversity (Python sets and dicts instead of
SQL) and input diversity (random corpora with deliberate verbatim and
near-duplicate copies), the same two axes the reference's fuzz suite
covers (SURVEY.md section 5).
"""

from __future__ import annotations

from collections import defaultdict

import pytest
from hypothesis import given, settings, strategies as st

# the published spec constants (functions/text.py, functions/dedup.py)
P = 1_000_000_007
SEED = 7
M_COMB = 1_000_003
A_MUL = 1_664_525
B_ADD = 1_013_904_223
K_SIGS = 8
NGRAM = 3


# ----------------------------------------------------- python model
def py_polyhash(tok: str) -> int:
    acc = SEED
    for ch in tok:
        acc = (acc * 31 + ord(ch)) % P
    return acc


def py_shingles(text: str, n: int = NGRAM) -> set:
    th = [py_polyhash(t) for t in text.split(" ") if t]
    out = set()
    for i in range(len(th) - n + 1):
        h = th[i]
        for k in range(1, n):
            h = (h * M_COMB + th[i + k]) % P
        out.add(h)
    return out


def py_sigs(sh: set, k: int = K_SIGS) -> dict:
    return {
        i: min(((A_MUL * (i + 1) % P) * x + B_ADD * (i + 1)) % P for x in sh)
        for i in range(k)
    }


def py_pairs(sigs_by_doc: dict) -> dict:
    """rows_per_band=1, uncapped: (doc_a, doc_b) -> n shared bands."""
    buckets = defaultdict(list)
    for d, s in sigs_by_doc.items():
        for band, v in s.items():
            buckets[(band, (17 * M_COMB + v % P) % P)].append(d)
    pairs = defaultdict(int)
    for docs in buckets.values():
        docs = sorted(docs)
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                pairs[(docs[i], docs[j])] += 1
    return dict(pairs)


def py_components(vertices, edges) -> dict:
    """Union-find -> {doc: min doc reachable}."""
    parent = {v: v for v in vertices}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


# ------------------------------------------------------- strategies
WORDS = ["alpha", "beta", "g", "dd", "ee", "zq", "the", "of", "x9"]
DOC = st.lists(st.sampled_from(WORDS), min_size=NGRAM, max_size=14)


@st.composite
def corpora(draw):
    """Base docs plus verbatim copies and 1-token mutations -- the
    shapes that actually exercise bucket sharing."""
    base = draw(st.lists(DOC, min_size=2, max_size=5))
    docs = list(base)
    for _ in range(draw(st.integers(0, 3))):
        src = list(draw(st.sampled_from(base)))
        if draw(st.booleans()):
            pos = draw(st.integers(0, len(src) - 1))
            src[pos] = draw(st.sampled_from(WORDS))
        docs.append(src)
    return [" ".join(d) for d in docs]


@settings(max_examples=4, deadline=None)
@given(corpora())
def test_minhash_lsh_chain_matches_python(spark, texts):
    from dask_array_spark.functions import dedup as D

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    model_sh = {i: py_shingles(t) for i, t in enumerate(texts)}

    sh = D.shingle_hashes(df, n=NGRAM)
    got_sh = defaultdict(set)
    for r in sh.collect():
        got_sh[r["doc_id"]].add(r["sh"])
    assert dict(got_sh) == {i: s for i, s in model_sh.items() if s}

    sigs = D.minhash_signatures(sh, K_SIGS)
    got_sigs = defaultdict(dict)
    for r in sigs.collect():
        got_sigs[r["doc_id"]][r["sig_id"]] = r["sig"]
    model_sigs = {i: py_sigs(s) for i, s in model_sh.items() if s}
    assert dict(got_sigs) == model_sigs

    pairs = D.lsh_candidate_pairs(sigs, rows_per_band=1, max_bucket=None)
    got_pairs = {
        (r["doc_a"], r["doc_b"]): r["n_bands"] for r in pairs.collect()
    }
    model_pairs = py_pairs(model_sigs)
    assert got_pairs == model_pairs

    if model_pairs:
        jac = D.jaccard_on_pairs(sh, pairs.drop("n_bands"))
        got_j = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in jac.collect()}
        # every candidate pair must come back with a jaccard row --
        # a join-key regression that drops pairs would otherwise pass
        assert set(got_j) == set(model_pairs)
        for (a, b), jv in got_j.items():
            inter = len(model_sh[a] & model_sh[b])
            exact = inter / (len(model_sh[a]) + len(model_sh[b]) - inter)
            assert abs(jv - exact) <= 1e-6, (a, b, jv, exact)

        rows = D.duplicate_clusters(pairs.select("doc_a", "doc_b")).collect()
        got_rep = {r["doc_id"]: r["rep"] for r in rows}
        verts = {d for p in model_pairs for d in p}
        model_rep = py_components(verts, model_pairs.keys())
        assert got_rep == model_rep
        # csize is consistent with the rep map
        sizes = defaultdict(int)
        for v, r in model_rep.items():
            sizes[r] += 1
        got_sz = {r["doc_id"]: r["csize"] for r in rows}
        assert got_sz == {v: sizes[r] for v, r in model_rep.items()}


@settings(max_examples=4, deadline=None)
@given(corpora())
def test_exact_groups_matches_python(spark, texts):
    from dask_array_spark.functions import dedup as D

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r["rep_id"]: r["n_dups"] for r in D.exact_groups(df).collect()}
    model = defaultdict(list)
    for i, t in enumerate(texts):
        model[t].append(i)
    assert got == {min(ids): len(ids) for ids in model.values()}


def test_cache_lifecycle_and_persist_flag(spark):
    """release_caches() (round 9): the tracked fan-out caches
    unpersist on demand, results are identical with persist=False,
    and repeated release is a no-op returning 0."""
    from dask_array_spark.functions import dedup as D

    texts = [f"alpha beta gamma delta epsilon zeta doc{i % 3}" for i in range(12)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sigs = D.minhash_signatures(D.shingle_hashes(df), 8)

    cached = sorted(map(tuple, D.lsh_candidate_pairs(sigs).collect()))
    n = D.release_caches()
    assert n >= 1  # band table (+ capped table)
    assert D.release_caches() == 0  # idempotent once drained

    uncached = sorted(map(tuple, D.lsh_candidate_pairs(sigs, persist=False).collect()))
    assert uncached == cached
    assert D.release_caches() == 0  # persist=False tracked nothing

    spans_c = sorted(map(tuple, D.duplicated_spans(df, k=4).collect()))
    assert D.release_caches() >= 1
    spans_u = sorted(map(tuple, D.duplicated_spans(df, k=4, persist=False).collect()))
    assert spans_u == spans_c
    assert D.release_caches() == 0

def test_cache_tracking_per_session_and_locked(spark):
    """Round-9 ADVICE: caches are keyed per SparkSession -- releasing
    with an unrelated session handle touches nothing, releasing with
    the owning session drains exactly its entries -- and concurrent
    track/release from threads must not corrupt the registry."""
    import threading

    from dask_array_spark.functions import dedup as D

    texts = [f"one two three four five six doc{i % 2}" for i in range(8)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sigs = D.minhash_signatures(D.shingle_hashes(df), 8)
    D.lsh_candidate_pairs(sigs).collect()

    class _NotASession:  # unrelated handle: different id()
        pass

    assert D.release_caches(spark=_NotASession()) == 0  # wrong session: no-op
    assert D.release_caches(spark=spark) >= 1  # owning session drains
    assert D.release_caches() == 0

    # concurrent tracking: N threads persist through the tracker, the
    # registry must hold every entry afterwards (the unsynchronized
    # list was the ADVICE concern)
    base = spark.range(10)
    errs = []

    def _work():
        try:
            for _ in range(10):
                D._track_persist(base.selectExpr("id * 2 AS x"))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=_work) for _ in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert D.release_caches(spark=spark) == 80


def test_crc32c_strict_modes(monkeypatch):
    """Round-9 ADVICE: above the pure-Python verify cap the policy is
    explicit -- default warns, 'verify' checks anyway (and still
    catches corruption), 'raise' refuses unverified reads."""
    import warnings

    import pytest

    from dask_array_spark.sources import ingest as I

    if I._crc32c_lib() is not None:  # pragma: no cover
        pytest.skip("C crc32c installed: every size verifies, no fallback path")

    body = b"\xab" * 64
    good = I._crc32c(body)
    monkeypatch.setattr(I, "_CRC32C_VERIFY_CAP", 16)  # force the over-cap path

    monkeypatch.delenv("SPARK_GRAFT_CRC32C_STRICT", raising=False)
    with pytest.warns(RuntimeWarning, match="UNVERIFIED"):
        I._crc32c_check(body, good + 1, "test chunk")  # skipped: bad crc passes

    monkeypatch.setenv("SPARK_GRAFT_CRC32C_STRICT", "verify")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no warning in verify mode
        I._crc32c_check(body, good, "test chunk")
    with pytest.raises(ValueError, match="crc32c mismatch"):
        I._crc32c_check(body, good + 1, "test chunk")

    monkeypatch.setenv("SPARK_GRAFT_CRC32C_STRICT", "raise")
    with pytest.raises(RuntimeError, match="forbids unverified"):
        I._crc32c_check(body, good, "test chunk")


def simhash_ref(tokens, bits=16):
    """The SimHash definition: token polyhashes vote +-1 per bit,
    count-weighted; a positive total sets the bit.  NULL array ->
    None, any NULL token -> 0 (the engine's NULL contract)."""
    if tokens is None:
        return None
    if any(t is None for t in tokens):
        return 0
    votes = [0] * bits
    for t in tokens:
        h = py_polyhash(t)
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(bits) if votes[i] > 0)


def test_simhash_null_contract_and_reference_fold(spark):
    """Round-13 pin for the per-bit-majority simhash: (a) NULL token
    array -> NULL, any NULL token hash -> 0 (the r12 vote fold's
    poisoning, replicated as explicit guards); (b) values equal an
    independent per-doc Python replay of the definition (token
    polyhashes vote +-1 per bit, count-weighted, sign sets the bit)."""
    from dask_array_spark.functions.dedup import simhash_col

    raw = spark.createDataFrame(
        [
            (1, None),
            (2, []),
            (3, ["ab", None, "cd"]),
            (4, ["the", "the", "of"]),
            (5, ["x"]),
            (6, ["alpha", "beta", "gamma", "alpha"]),
        ],
        "doc_id long, tk array<string>",
    )
    got = {
        int(r["doc_id"]): r["sh"]
        for r in raw.select(
            "doc_id", simhash_col("x", 16, toks="tk").alias("sh")
        ).collect()
    }
    assert got[1] is None
    assert got[2] == 0
    assert got[3] == 0
    for doc_id, toks in ((4, ["the", "the", "of"]), (5, ["x"]),
                         (6, ["alpha", "beta", "gamma", "alpha"])):
        assert got[doc_id] == simhash_ref(toks), doc_id


def test_simhash_col_matches_python_reference(spark):
    """simhash_col over a token-array column and over raw text equals
    ``simhash_ref`` at bits 8, 16 and 32 on hostile token arrays: NULL
    array, NULL token, empty, duplicates, non-ASCII, 33 repeats."""
    from dask_array_spark.functions.dedup import simhash_col

    arrays = [
        None,
        [],
        ["ab", None, "cd"],
        ["the", "the", "of"],
        ["x"],
        ["alpha", "beta", "gamma", "alpha"],
        ["émoji", "😀", "日本語"],
        ["same"] * 33,
    ]
    raw = spark.createDataFrame(
        list(enumerate(arrays)), "doc_id long, tk array<string>"
    )
    for bits in (8, 16, 32):
        got = dict(
            raw.select("doc_id", simhash_col("x", bits, toks="tk")).collect()
        )
        for i, toks in enumerate(arrays):
            assert got[i] == simhash_ref(toks, bits), (bits, i)
    texts = [None, "", "a b a", "émoji 😀 mixed"]
    txt = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = dict(txt.select("doc_id", simhash_col("text", 16)).collect())
    for i, t in enumerate(texts):
        want = None if t is None else simhash_ref([w for w in t.split(" ") if w])
        assert got[i] == want, i
