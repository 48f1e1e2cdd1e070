"""Structural plan assertions -- the engine-side analogue of the
reference's optimizer tests (SURVEY.md section 5: asserting
simplified-plan equality / task counts; here: asserting on the
physical plan text, .ai-docs/testing.md:108-178).

These pin the scale-critical plan properties:
- slice predicates reach the parquet scan (pushdown),
- elemwise reads only referenced columns (pruning),
- transpose/reshape plan NO exchange (pure projections),
- shared-base elemwise chains plan NO join,
- small-side joins broadcast,
- grouped reductions partial-aggregate map-side.
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    from dask_array_spark.sources import read_table

    return read_table(spark, sf_dir, "lineitem")


def test_slice_pushes_predicate_to_scan(spark, li):
    """x[a:b] must reach the FileScan as a data filter (reference
    slice-pushdown rewrite, _expr.py:431 -> Catalyst built-in)."""
    from dask_array_spark.sources import from_table_column

    x = from_table_column(li, "l_orderkey * 8 + l_linenumber", "l_extendedprice")
    plan = _plan(x[1000:50000].df)
    scan = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan and "DataFilters: [" in scan[0] and "l_orderkey" in scan[0]


def test_elemwise_prunes_columns(spark, li):
    """A 3-column projection over the 16-column table must read only
    what it references (ColumnPruning; reference has no analogue --
    free win of the cell encoding)."""
    from dask_array_spark.sources import from_table_arrays

    a = from_table_arrays(
        li, "l_orderkey * 8 + l_linenumber", {"p": "l_extendedprice", "d": "l_discount"}
    )
    plan = _plan((a["p"] * (1 - a["d"])).df)
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "l_extendedprice" in scan and "l_discount" in scan
    assert "l_comment" not in scan and "l_shipmode" not in scan


def test_transpose_reshape_no_exchange(spark, rng):
    """transpose + reshape are pure index projections: ZERO exchanges
    (the reference must physically re-block,
    manipulation/_reshape.py:414 -- we must not)."""
    import numpy as np

    from dask_array_spark import from_numpy
    from dask_array_spark.operators import manipulation as M

    m = from_numpy(spark, np.arange(24.0).reshape(4, 6))
    base_plan = _plan(m.df)
    out_plan = _plan(M.reshape(M.transpose(m), (24,)).df)
    assert out_plan.count("Exchange") == base_plan.count("Exchange") == 0


def test_shared_base_elemwise_has_no_join(spark, li):
    """x*2 + x/3 - x over one base must stay a single projection
    (FusedBlockwise analogue, _blockwise.py:1574)."""
    from dask_array_spark.sources import from_table_column

    x = from_table_column(li, "l_orderkey * 8 + l_linenumber", "l_quantity")
    plan = _optimized((x * 2 + x / 3 - x).df)
    assert "Join" not in plan


def test_shared_base_mask_is_pure_filter(spark, li):
    """x[x > 45]: shared-base mask compiles to filter, not self-join."""
    from dask_array_spark.sources import from_table_arrays

    a = from_table_arrays(li, "l_orderkey * 8 + l_linenumber", {"q": "l_quantity"})
    x = a["q"]
    plan = _optimized(x[x > 45].df)
    assert "Join" not in plan


def test_small_dim_join_broadcasts(spark, sf_dir, li):
    """elemwise against a tiny vector must plan a broadcast join, not
    a shuffled sort-merge join (reference broadcasting,
    _blockwise.py:1243 == broadcast hash join)."""
    from dask_array_spark import queries as Q

    m = Q._nation_month_matrix(spark, sf_dir)
    from dask_array_spark.operators import manipulation as M
    from dask_array_spark.operators import reductions as R

    mu = R.nansum(m, axis=1).astype("double") / 12.0
    centered = m - M.expand_dims(mu, 1)
    plan = _plan(centered.df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_grouped_reduction_partial_aggregates(spark, li):
    """groupBy sum must show the two-phase partial/final HashAggregate
    (the reference's PartialReduce tree, reductions/_reduction.py:154)."""
    from dask_array_spark.operators import reductions as R
    from dask_array_spark.sources import from_table_matrix

    m = from_table_matrix(li, "l_orderkey", "l_linenumber - 1", "l_quantity")
    plan = _plan(R.nansum(m, axis=1).df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_einsum_same_base_fuses_no_join(spark, li):
    """einsum('ij,ij->i', x, x) on one base must be a single
    projection + grouped sum, not a self-join."""
    from dask_array_spark.operators import linalg
    from dask_array_spark.sources import from_table_matrix

    m = from_table_matrix(li, "l_orderkey", "l_linenumber - 1", "l_quantity")
    out = linalg.einsum("ij,ij->i", m, m)
    plan = _optimized(out.df)
    assert "Join" not in plan


def test_similarity_no_corpus_sized_broadcast(spark, sf_dir):
    """No per-vector (corpus-sized) table may carry a broadcast hint:
    norms are computed inline via F.aggregate in the vector's own row
    (the 100 TB fix for the round-1 scale-killer).  Only genuinely
    tiny sides (query set / centroids / probes / planes) broadcast."""
    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    # the topk serving entries pin their RELATIONAL (impl="sql")
    # forms here -- the in-row lambda aggregate is that form's norm;
    # the arrow default's scan shape has its own pin below
    # (test_similarity_arrow_path_scan_shape)
    for df in (
        SIM.cosine_topk(emb, [0, 1, 2], k=5, impl="sql"),
        SIM.cosine_pairs_bucketed(emb, n_planes=8, min_cos=0.2),
        SIM.ivf_topk(emb, [0, 1, 2], k=5, n_cells=4, n_probe=2),
        SIM.semantic_dedup(emb, n_cells=4, eps=0.5),
        SIM.sq8_topk(emb, [0, 1, 2], k=5, impl="sql"),
    ):
        opt = _optimized(df)
        # the norm must be an in-row lambda aggregate over the array
        # column, never a separate grouped-by-vec_id norms relation
        assert "lambdafunction" in opt.lower()
        # every FORCED broadcast (ResolvedHint in the analyzed plan)
        # must sit on a parameter-bounded side: the query-id IN
        # filter, the centroid (vec_id < n_cells) filter, the probe
        # rank filter, or a tiny Range leaf.  The round-1
        # anti-pattern -- F.broadcast(norms) over an unfiltered
        # per-vector aggregate -- has none of these and an Aggregate
        # child instead.  (Unhinted joins may still broadcast at this
        # tiny test scale; that is AQE's size-based choice, which
        # reverses itself at 100 TB, so only hints are asserted.)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        lines = analyzed.splitlines()
        for i, line in enumerate(lines):
            if "ResolvedHint" not in line:
                continue
            window = "\n".join(lines[i + 1 : i + 5])
            assert "Aggregate" not in window, (
                "broadcast hint on an aggregated (per-vector) table:\n" + window
            )
            assert (
                " IN (" in window
                or "Range (" in window
                or "Filter (vec_id" in window
                or "Filter (__r" in window
            ), "broadcast hint on an unbounded side:\n" + window


def test_similarity_arrow_path_scan_shape(spark, sf_dir):
    """The arrow serving kernels (cosine_topk/sq8_topk impl='arrow',
    the at-scale default) must plan as ONE mapInArrow scan over the
    corpus feeding the metadata-sized exact-rank window: no forced
    broadcast hint anywhere (the query side is collected, bounded by
    |query_ids|, never broadcast-joined) and no
    BroadcastNestedLoopJoin (the relational shape the kernel
    replaces at scale)."""
    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    pqc = SIM.pq_train(emb, dim=64, m=4, n_codes=4, iters=1)
    packed = SIM.pq_pack(SIM.pq_encode(emb, pqc, dim=64, m=4))
    # production posture for the composed tiers: the assignment index
    # is built ONCE and persisted.  localCheckpoint (not persist)
    # because the pin is TEXTUAL: a cached InMemoryRelation still
    # PRINTS its construction plan -- ivf_assign's literal-codebook
    # projection, sq8_encode's folds -- inside the serving plan
    # string, while the checkpoint truncates lineage to an RDD scan,
    # leaving only the true serving shape
    asg = SIM.ivf_assign(emb, n_cells=4).localCheckpoint()
    sq = SIM.sq8_encode(emb).localCheckpoint()
    for df in (
        SIM.cosine_topk(emb, [0, 1, 2], k=5, impl="arrow"),
        SIM.sq8_topk(emb, [0, 1, 2], k=5, codes=sq, impl="arrow"),
        SIM.pq_topk(emb, [0, 1, 2], pqc, dim=64, m=4, k=5,
                    codes=packed, impl="arrow"),
        # the +R form: ADC scan AND the exact-rescore fold both run
        # as mapInArrow kernels (round 13 -- the rescore was the last
        # interpreted serving leg); the shortlist side is the only
        # broadcast and it is |q| x k x r bounded
        SIM.pq_topk(emb, [0, 1, 2], pqc, dim=64, m=4, k=5,
                    codes=packed, rerank=4, impl="arrow"),
        # the composed cell-blocked kernels: the probed-cell
        # restriction is a plain IN filter on the assignment index,
        # never a broadcast of anything corpus-sized
        SIM.ivf_topk(emb, [0, 1, 2], k=5, n_cells=4, n_probe=2,
                     assign=asg, impl="arrow"),
        SIM.ivf_sq8_topk(emb, [0, 1, 2], k=5, n_cells=4, n_probe=2,
                         assign=asg, codes=sq, impl="arrow"),
        SIM.ivf_pq_topk(emb, [0, 1, 2], pqc, dim=64, m=4, k=3,
                        n_cells=4, n_probe=2, assign=asg,
                        codes=packed, impl="arrow"),
    ):
        plan = _plan(df)
        assert "mapinarrow" in plan.lower()
        assert "BroadcastNestedLoopJoin" not in plan
        # the SERVING path itself adds no broadcast hint; any hint in
        # the analyzed lineage comes from index CONSTRUCTION inputs
        # (pq_encode's model-sized codebook side) and must not sit on
        # a corpus-grain aggregate (grouping by vec_id)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        lines = analyzed.splitlines()
        for i, line in enumerate(lines):
            if "ResolvedHint" not in line:
                continue
            head = "\n".join(lines[i + 1 : i + 3])
            assert "Aggregate [vec_id" not in head, (
                "broadcast hint on a corpus-grain aggregate:\n" + head
            )
        assert "Window" in _optimized(df)  # global exact rank


def test_similarity_auto_small_corpus_stays_lazy(spark, sf_dir, monkeypatch):
    """impl='auto' below _ARROW_AUTO_MIN_BYTES must route to the
    relational form WITHOUT running any job at plan-build time (the
    round-11 default ran the query-side collect during DataFrame
    construction, so even explain() paid a Spark job).  Building with
    DataFrame.collect forbidden proves both the size routing and the
    restored laziness; the arrow route's build-time query collect is
    the one documented exception (cosine_topk docstring) and is
    exercised by the explicit-arrow pins above."""
    import pyspark.sql

    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")  # ~2k rows << threshold
    codes = SIM.sq8_encode(emb)

    def _no_collect(self):
        raise AssertionError("plan-build ran a collect on the auto route")

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", _no_collect)
    df = SIM.cosine_topk(emb, [0, 1, 2], k=5)
    df2 = SIM.sq8_topk(emb, [0, 1, 2], k=5, codes=codes)
    monkeypatch.undo()
    # and the small-corpus auto route IS the relational form
    assert "lambdafunction" in _optimized(df).lower()
    assert "mapinarrow" not in _plan(df2).lower()


def test_rerank_impl_routing(spark, sf_dir):
    """The exact re-rank's scoring fold routes INDEPENDENTLY of the
    ADC scan (round 13): impl='sql' keeps the whole +R pipeline
    relational (zero mapInArrow -- the form the sql plan pins and the
    DuckDB oracle replicate), impl='arrow' runs BOTH kernels, and
    'auto' picks by |q| x keep x dim x 8 rescore work -- tiny
    shortlists stay relational, the 600k x 256q x dim shape that
    measured 59 s vs brute 34 s routes to the kernel."""
    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    pqc = SIM.pq_train(emb, dim=64, m=4, n_codes=4, iters=1)
    packed = SIM.pq_pack(SIM.pq_encode(emb, pqc, dim=64, m=4))
    n_arrow = lambda df: _plan(df).lower().count("mapinarrow")
    assert n_arrow(SIM.pq_topk(emb, [0, 1], pqc, dim=64, m=4, k=5,
                               codes=packed, rerank=4, impl="sql")) == 0
    assert n_arrow(SIM.pq_topk(emb, [0, 1], pqc, dim=64, m=4, k=5,
                               codes=packed, rerank=4, impl="arrow")) == 2
    # auto, tiny rescore work (2 queries x 20 keep x 64 dim x 8 =
    # 20 KB << 8 MB): the rescore stays relational even when the ADC
    # scan routed to the kernel
    from dask_array_spark.functions.similarity import _exact_rerank

    short = SIM.pq_topk(emb, [0, 1], pqc, dim=64, m=4, k=20,
                        codes=packed, impl="sql")
    assert n_arrow(_exact_rerank(emb, [0, 1], short, 5, keep=20,
                                 dim=64, impl="auto")) == 0
    # auto, at-scale rescore work (1024 queries x 10k keep x 64 dim
    # x 8 = 5 GB >> 8 MB): kernel
    assert n_arrow(_exact_rerank(emb, [0, 1], short, 5, keep=10_000_000,
                                 dim=64, impl="auto")) == 1


def test_lsh_pair_generation_is_partition_parallel(spark, sf_dir):
    """LSH candidate-pair fan-out must be a partition-parallel equi-
    JOIN on (band, bh), never a per-bucket list aggregate exploded on
    the driver-coalesced bucket table (the round-4 shape: AQE squeezed
    the tiny bucket relation to ~2 partitions, so the quadratic pair
    fan-out ran nearly serial -- a scale-killer at 100x).  Pinned:
    (a) the optimized plan contains an inner Join keyed by band/bh, and
    (b) no collect_list of doc_ids (the bucket member-list aggregate
    that fed the explode) exists anywhere in the plan.  The shingle
    explode upstream is fine -- it is linear, not quadratic."""
    from dask_array_spark.functions import dedup as D
    from dask_array_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").limit(200)
    sh = D.shingle_hashes(docs)
    sigs = D.minhash_signatures(sh, k=8)
    pairs = D.lsh_candidate_pairs(sigs, rows_per_band=1)
    opt = _optimized(pairs)
    assert "Join Inner" in opt and "band" in opt and "bh" in opt
    assert "collect_list(doc_id" not in opt
    # same contract on the opt-out path (max_bucket=None previously
    # built one unbounded in-memory array per hot bucket)
    opt_none = _optimized(D.lsh_candidate_pairs(sigs, max_bucket=None))
    assert "Join Inner" in opt_none and "collect_list(doc_id" not in opt_none


def test_bigram_lm_model_joins_broadcast(spark, sf_dir):
    """The bigram-LM scoring joins (unigram + pruned-bigram model
    tables, text.py::bigram_lm_scores) must stay BROADCAST hash joins
    under the default 2M-row gate, with ZERO SortMergeJoin anywhere in
    the plan: the corpus is never shuffled for scoring, so the
    Zipf-head gram keys ('the ...' bigrams) cannot pile onto one
    sort-merge reducer -- the round-6 headline scale shape, pinned so
    it cannot silently regress past the gate logic."""
    from dask_array_spark.functions.text import bigram_lm_scores
    from dask_array_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").limit(300)
    plan = _plan(bigram_lm_scores(docs))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_lsh_hot_bucket_cap_is_broadcast_anti_join(spark, sf_dir):
    """The LSH hot-bucket cap must be a broadcast LEFT-ANTI join of
    the (usually empty, always bounded) hot-bucket list -- checked
    map-side with no extra shuffle of the band rows -- and the plan
    must contain NO WindowExec (the round-5 count-window form buffered
    every bucket through ExternalAppendOnlyUnsafeRowArray; the
    round-6 A/B retired it).  Pinned per round-6 verdict ask 1."""
    from dask_array_spark.functions import dedup as D
    from dask_array_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").limit(200)
    sigs = D.minhash_signatures(D.shingle_hashes(docs), k=8)
    plan = _plan(D.lsh_candidate_pairs(sigs, rows_per_band=1))
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti, "hot-bucket cap (LeftAnti join) missing from the plan"
    assert all("BroadcastHashJoin" in l for l in anti)
    assert "Window" not in plan


def test_kmeans_assign_join_free_and_fit_round_one_exchange(spark, sf_dir):
    """kmeans_assign's relational leg folds every distance IN-ROW
    (zip_with + aggregate lambda) against the literal codebook and
    takes the argmin per row: no Join (no crossJoin fan-out, no
    broadcast) and no aggregate on vec_id.  Each kmeans_fit or
    pq_train round is one query whose only aggregate exchange is the
    partial-aggregated (s, code, pos) mean's -- no codebook broadcast,
    no argmin shuffle."""
    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources import read_table
    from dask_array_spark.sources.ingest import widen_partitions

    emb = read_table(spark, sf_dir, "embeddings")
    cents = SIM.kmeans_fit(emb, k=4, iters=1)
    df = SIM.kmeans_assign(emb, cents, impl="sql")
    opt, plan = _optimized(df), _plan(df)
    assert "lambdafunction" in opt.lower()  # in-row distance fold
    for p in (opt, plan):
        assert "Join" not in p and "Aggregate" not in p
    assert "BroadcastExchange" not in plan

    src = widen_partitions(emb, "vec_id")
    pqc = SIM.pq_train(emb, dim=64, m=4, n_codes=4, iters=1)
    for book, dsub in ((SIM._book(cents, "cell", None), None), (SIM._book(pqc), 16)):
        rnd = _plan(SIM._lloyd_round(src, book, dsub))
        assert "Join" not in rnd and "BroadcastExchange" not in rnd
        agg_exchanges = [
            l for l in rnd.splitlines()
            if "Exchange hashpartitioning(s#" in l
        ]
        assert len(agg_exchanges) == 1
        assert "partial_avg" in rnd
        assert all(
            "Exchange" not in l or "hashpartitioning(vec_id#" in l
            for l in rnd.splitlines() if l not in agg_exchanges
        )


def test_pq_adc_scan_shape(spark, sf_dir):
    """pq_topk's ADC scan: the encoded corpus flows through ONE
    BroadcastHashJoin against the (|queries| x m x n_codes)-row
    lookup table and a partial-aggregated (qid, vec_id) sum -- no
    SortMergeJoin anywhere (the corpus must never shuffle by pair)
    and no broadcast of the encoded corpus itself (every forced hint
    sits on the codebook or the query-derived lookup table, both
    parameter-bounded)."""
    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = SIM.pq_train(emb, dim=64, m=4, n_codes=4, iters=1)
    codes = SIM.pq_encode(emb, cents, dim=64, m=4)
    df = SIM.pq_topk(emb, [0, 1, 2], cents, dim=64, m=4, k=5, codes=codes)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # dtab probe + cents joins
    # the ADC sum partial-aggregates map-side before the exchange
    assert "partial_sum" in plan
    # in-row distance folds (array lambda), never an exploded join
    assert "lambdafunction" in _optimized(df).lower()


def test_ivf_pq_serving_shape(spark, sf_dir):
    """ivf_pq_topk (the composed IVFADC+R serving path, round 9): the
    probe list and the ADC lookup table broadcast; the packed corpus
    codes are NEVER broadcast (the only big relations may meet in a
    shuffle join, which is the correct plan for candidate x codes);
    the ADC sum still partial-aggregates map-side.  This pins the
    RELATIONAL (impl='sql') composition; the round-12 cell-blocked
    arrow route has its own shape pin
    (test_similarity_arrow_path_scan_shape covers the kernel family's
    no-broadcast/no-BNLJ contract)."""
    from dask_array_spark.functions import similarity as SIM
    from dask_array_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = SIM.pq_train(emb, dim=64, m=4, n_codes=4, iters=1)
    asg = SIM.ivf_assign(emb, n_cells=4)
    codes = SIM.pq_pack(SIM.pq_encode(emb, cents, dim=64, m=4))
    df = SIM.ivf_pq_topk(
        emb, [0, 1, 2], cents, dim=64, m=4, k=3, n_cells=4, n_probe=2,
        assign=asg, codes=codes, rerank=2, impl="sql",
    )
    plan = _plan(df)
    assert "partial_sum" in plan
    # every explicit broadcast hint in the analyzed lineage must sit
    # on a parameter-bounded side (probes / lookup table / query rows
    # / rank-filtered shortlist / checkpointed codebook): inspect each
    # hint's subtree like test_simsearch's pin -- its head must not be
    # a corpus-grain aggregate (grouping by vec_id, i.e. pq_pack /
    # pq_encode output broadcast raw, the 100 TB anti-pattern), and a
    # bounding construct must appear near the top of the subtree
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    hints = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
    assert len(hints) >= 3
    for i in hints:
        head = "\n".join(lines[i + 1 : i + 3])
        assert "Aggregate [vec_id" not in head, (
            "broadcast hint directly on a corpus-grain aggregate:\n" + head
        )
        # the bounding construct can sit a few projections down (the
        # subspace fan-out + widen sit between the hint and the
        # query-id IN filter), so scan a deeper window
        window = "\n".join(lines[i + 1 : i + 16])
        assert (
            " IN (" in window
            or "Filter (__r" in window
            or "Filter (rank" in window
            or "Filter (vec_id" in window
            or "LogicalRDD" in window
        ), "broadcast hint on an unbounded side:\n" + window
    # the ADC distance folds stay in-row
    assert "lambdafunction" in _optimized(df).lower()


def test_quality_filter_pushdown_tokenizes_once(spark, sf_dir):
    """Round-13 bind-once pin: a filter on the quality column gets
    pushed below the tokenize-once projection and Catalyst INLINES the
    token-array alias into the pushed condition.  quality_col binds
    the array via a higher-order lambda, so the inlined condition must
    carry exactly ONE tokenization (the r12 form carried six -- one
    per array reference, re-evaluated per document per filter scan)."""
    from dask_array_spark.functions import text as T
    from dask_array_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    db = T.with_tokens(docs.select("doc_id", "text"))
    df = db.select(
        "doc_id", T.quality_col("text", toks=T.TOKS).alias("quality")
    ).filter(F.col("quality") >= 0.5)
    plan = _plan(df)
    # every physical operator (one per rendered line) may tokenize at
    # most ONCE -- the r12 form put six tokenizations in the pushed
    # Filter line and the un-collapsed projection
    for line in plan.splitlines():
        assert line.count("split(text") <= 1, (
            "an operator re-tokenizes per reference:\n" + line[:500]
        )


def test_split_col_hashes_once(spark, sf_dir):
    """Round-13 bind-once pin: split_col's train/valid/test CaseWhen
    decides inside the polyhash aggregate's finish lambda -- the plan
    must contain exactly one per-char hash fold, not one per branch."""
    from dask_array_spark.functions import governance as G
    from dask_array_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    df = docs.select("doc_id", G.split_col().alias("split"))
    plan = _plan(df)
    assert plan.count("ascii(") == 1, plan[:800]


@pytest.mark.parametrize(
    "build",
    [
        pytest.param(lambda D, d: D.kgram_positions(d, k=8), id="kgram_positions_k8"),
        pytest.param(lambda D, d: D.shingle_hashes(d, n=3), id="shingle_hashes_n3"),
    ],
)
def test_kgram_builders_hash_each_document_once(spark, sf_dir, build):
    """The per-token polyhash array is evaluated once per document: a
    filter on the computed array (the old short-document guard) was
    pushed below the widening exchange with the array inlined into it,
    so every document hashed twice, once in a one-task scan stage."""
    from dask_array_spark.functions import dedup as D
    from dask_array_spark.sources import read_table

    # a plan no other test caches: on a cache hit the optimized plan
    # renders the cached relation's initial and final plans
    docs = read_table(spark, sf_dir, "documents").where("doc_id >= 0")
    plan = _optimized(build(D, docs))
    assert plan.count("ascii(") == 1, plan[:800]


def test_stream_decontaminate_hashes_each_document_once(spark, sf_dir, tmp_path):
    """The gram array fed to the contamination UDF reads one
    materialized hash array; spelled inline it hashed the document
    2 + n times per gram (10 polyhash folds at n = 8)."""
    from dask_array_spark.streaming import governance as SG

    docs_path = f"{sf_dir}/documents.parquet"
    bench_path = str(tmp_path / "bench.parquet")
    docs = spark.read.parquet(docs_path)
    docs.filter(F.col("doc_id") % 97 == 0).write.parquet(bench_path)
    sdf = SG.stream_decontaminate(spark, docs_path, bench_path, n=8)
    # a streaming frame has no optimizedPlan(); explain renders it
    text = spark._jvm.PythonSQLUtils.explainString(
        sdf._jdf.queryExecution(), "extended"
    )
    opt = text[text.index("== Optimized Logical Plan ==") : text.index("== Physical Plan ==")]
    assert opt.count("ascii(") == 1, opt[:800]
    assert "ArrowEvalPython" in opt


def test_take_indexer_is_a_local_table(spark):
    """A driver-held indexer plans as a LocalTableScan; a list-of-rows
    createDataFrame plans a Scan ExistingRDD over a PythonRDD, which
    starts a Python worker on every execution."""
    import numpy as np

    from dask_array_spark import from_numpy
    from dask_array_spark.operators.slicing import take

    t = take(from_numpy(spark, np.arange(12.0).reshape(4, 3)), [2, 0])
    plan = _plan(t.df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    np.testing.assert_array_equal(t.compute(), np.arange(12.0).reshape(4, 3)[[2, 0]])


def test_registry_driver_rows_are_local_table_scans(spark, sf_dir):
    """Registry queries that build rows on the driver hand them to
    Spark through ``session.local_frame``: a ``LocalTableScan`` in the
    JVM, not a ``Scan ExistingRDD`` over a PythonRDD that starts a
    Python worker on every execution."""
    from dask_array_spark import queries as Q

    for q in (Q.q_vindex, Q.q_svd_rows, Q.q_median_scalable):
        plan = _plan(q(spark, sf_dir))
        assert "LocalTableScan" in plan, q.__name__
        assert "ExistingRDD" not in plan, q.__name__


def test_hdf5_driver_rows_are_local_table_scans(spark, tmp_path):
    """A contiguous and a chunked ``from_hdf5`` read hand their
    driver-held slab / chunk tables to Spark as a ``LocalTableScan``,
    not a ``Scan ExistingRDD``."""
    import numpy as np

    from dask_array_spark.sources import from_hdf5, from_numpy, to_hdf5

    x = from_numpy(spark, np.arange(40, dtype="float64").reshape(8, 5))
    for name, kw in (("contiguous", {}), ("chunked", {"chunks": (3, 5)})):
        fn = str(tmp_path / f"{name}.h5")
        to_hdf5(x, fn, "/x", **kw)
        plan = _plan(from_hdf5(spark, fn, "/x").df)
        assert "LocalTableScan" in plan, name
        assert "ExistingRDD" not in plan, name
