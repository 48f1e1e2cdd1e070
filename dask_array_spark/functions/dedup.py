"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard (training-data pipeline scope, SURVEY.md section 7 M6).

Scale design (the 100 TB story):
- exact dedup is a single hash shuffle on the text digest;
- MinHash signatures are one explode + groupBy(doc, sig) -- linear,
  partial-aggregated;
- LSH banding turns the quadratic all-pairs problem into an equi-join
  on (band, band_hash): only same-bucket docs ever meet, so the
  shuffle carries bucket-sized groups instead of N^2 pairs;
- the final Jaccard verification runs only on candidate pairs.

All hashing is the explicit polynomial scheme from functions.text so a
DuckDB oracle replays the whole pipeline bit-for-bit.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import (
    M_COMB,
    P,
    kgram_hashes_sql,
    sql_ident,
    token_hashes_sql,
    tokens_col,
    tokens_sql,
    with_token_hashes,
)

__all__ = [
    "exact_groups",
    "shingle_hashes",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_on_pairs",
    "simhash",
    "simhash_col",
    "kgram_positions",
    "duplicated_spans",
    "duplicate_clusters",
    "clip_duplicated_spans",
    "release_caches",
]

# affine hash family h_i(x) = (a_i * x + b_i) mod P with fixed odd
# multipliers; products stay < 2^63 (a_i < 2^31, x < 2^30)
A_MUL = 1_664_525
B_ADD = 1_013_904_223

# fan-out caches created by lsh_candidate_pairs / duplicated_spans,
# tracked so a long-lived service has an explicit cleanup path
# (round-8 ADVICE: a doc-comment lifecycle is not an API).  Keyed per
# SparkSession and guarded by a lock (round-9 ADVICE): a process
# hosting several sessions -- or several threads driving pipelines on
# one session -- must not have one pipeline's release_caches()
# unpersist caches still backing another session's lazy frames, and
# list mutation from query threads must be synchronized.
_TRACKED_CACHES: dict[int, list[DataFrame]] = {}
_TRACKED_LOCK = threading.Lock()


def _track_persist(df: DataFrame) -> DataFrame:
    cached = df.persist()
    with _TRACKED_LOCK:
        _TRACKED_CACHES.setdefault(id(df.sparkSession), []).append(cached)
    return cached


def release_caches(
    blocking: bool = False, spark: "SparkSession | None" = None
) -> int:
    """Unpersist every fan-out cache this module created (the
    persisted band / k-gram position tables backing
    ``lsh_candidate_pairs`` and ``duplicated_spans`` results) -- for
    one session when ``spark`` is given, else for all sessions this
    process created caches on.

    A long-lived service processing distinct corpus batches calls this
    between batches; one-shot pipelines never need to (the caches die
    with the app).  Caches are tracked PER SESSION, so a multi-tenant
    process releasing one tenant's session leaves the others' caches
    warm; within one session the caller still owns the ordering
    contract: only call AFTER fully consuming the returned frames --
    the caches back those lazy plans, so an un-consumed frame
    recomputes its lineage (correct, just slower).  Returns the number
    of cache entries released."""
    with _TRACKED_LOCK:
        if spark is None:
            drained = [d for lst in _TRACKED_CACHES.values() for d in lst]
            _TRACKED_CACHES.clear()
        else:
            drained = _TRACKED_CACHES.pop(id(spark), [])
    n = 0
    for df in drained:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped -- nothing to release
    return n


def exact_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: hash-groupBy on the text, representative
    = min doc_id.  One shuffle keyed by the (hashed) document body."""
    return (
        df.groupBy(F.col(text_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").cast("long").alias("rep_id"),
        )
        .select("rep_id", "n_dups")
    )


def shingle_hashes(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct hashed token n-gram shingles per document: (doc_id,
    sh).  Each TOKEN is polyhashed once (char-level work is linear in
    corpus size) and a shingle hash combines n consecutive token
    hashes -- ~n x cheaper than hashing every shingle string, and the
    combine products stay < 2^63 (th < 1e9+7, multiplier 1e6+3).

    Constructed as TWO ``F.expr`` parses of the functions/text.py
    fragments (optimization round 14, guide §7.3/§5): a Column-API
    build of the per-token hash transform plus the shingle fold was
    ~100 ms of py4j round-trips of driver time.  Each document hashes
    once, after the widening exchange (``with_token_hashes``; the
    short-document guard is inside ``kgram_hashes_sql``)."""
    from ..sources.ingest import widen_partitions

    # array_distinct already dedups within the row and doc_id makes
    # rows unique across documents, so no post-explode distinct (a
    # redundant full shuffle of the shingle table) is needed
    return with_token_hashes(widen_partitions(df, "doc_id"), text_col).selectExpr(
        "doc_id", f"explode(array_distinct({kgram_hashes_sql(n)})) AS sh"
    )


def minhash_signatures(shingles: DataFrame, k: int = 16) -> DataFrame:
    """(doc_id, sig_id, sig): sig = min over shingles of the affine
    hash family.

    All ``k`` mins compute in ONE partial-aggregated groupBy over the
    shingle rows (one MIN expression per hash function), then unpivot
    with ``stack`` -- the shuffle carries one row of k columns per
    document instead of k times the shingle rows (the round-2 plan
    cross-joined a sig_id range before aggregating: same result, k x
    the aggregation input).  Reference tree-reduction analogue,
    SURVEY.md section 2.5."""
    aggs = []
    for i in range(k):
        # fold the affine constants in PYTHON (arbitrary precision):
        # int32 literals would silently wrap (B_ADD * 16 > 2^31) in the
        # engine's non-ANSI session.  One F.expr parse per hash
        # function instead of ~10 Column-API py4j round-trips each
        # (optimization round 14): the string spells the same tree --
        # CAST(a/b AS BIGINT) literals, int P literal.
        a_i = A_MUL * (i + 1) % P
        b_i = B_ADD * (i + 1)
        aggs.append(F.expr(
            f"min((CAST({a_i} AS BIGINT) * sh + CAST({b_i} AS BIGINT))"
            f" % {P}) AS __s{i}"
        ))
    wide = shingles.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(f"{i}L, __s{i}" for i in range(k))
    return wide.selectExpr(
        "doc_id", f"stack({k}, {stack}) AS (sig_id, sig)"
    )


# Hot-bucket quadratic guard, ACTIVE BY DEFAULT: one degenerate LSH
# bucket of b near-identical boilerplate docs costs O(b^2) rows in the
# pair self-join with no bound.  10k members -> at most ~5e7 in-bucket
# pairs, the largest group a single executor core still chews through
# comfortably; anything hotter is overwhelmingly exact/near-exact
# duplicate mass that the exact-dedup pass catches anyway.  Pass
# ``max_bucket=None`` to disable (small corpora / research runs).
DEFAULT_MAX_BUCKET = 10_000


def lsh_candidate_pairs(
    sigs: DataFrame,
    rows_per_band: int = 1,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    persist: bool = True,
) -> DataFrame:
    """Candidate pairs = documents sharing at least one LSH band
    bucket; returns (doc_a, doc_b, n_bands) with doc_a < doc_b.
    Band hash combines rows_per_band signature rows.

    ``max_bucket`` caps the within-bucket self-join: a degenerate
    bucket of near-identical boilerplate (common in web corpora) makes
    one join group quadratic with no bound, so production MinHash
    pipelines drop buckets above a size threshold -- members of a hot
    bucket are overwhelmingly exact/near-exact duplicates that the
    exact-dedup pass (or another, less-degenerate band) still catches.
    The size count is one partial-aggregated groupBy over the
    already-tiny band table.  Defaults to ``DEFAULT_MAX_BUCKET``
    (10k); pass ``None`` to keep every bucket.

    Plan shape: persisted band table + capped SELF-JOIN on
    (band, bh):
    - ``rows_per_band == 1`` (the default banding) computes the band
      hash as a PURE PROJECTION over the signature rows -- the
      ordered-fold aggregate (collect_list + array_sort, an
      ObjectHashAggregate that blocks whole-stage codegen) only runs
      when a band actually combines multiple rows;
    - the hot-bucket cap is a count-aggregate over the persisted band
      table producing the (usually EMPTY) hot-bucket list, broadcast
      into a LEFT ANTI join -- hot membership is checked map-side
      with no extra shuffle of the band rows and no WindowExec
      buffer.  A round-6 A/B at sf0.1 (min of 6 warm runs) measured
      the three cap forms: this anti-join 1.74 s, the round-5 count
      WINDOW over (band, bh) 1.89 s (the window's shuffle is NOT
      reused by the self-join, and every bucket's rows buffer through
      ExternalAppendOnlyUnsafeRowArray before the filter), a
      non-broadcast count-rejoin 2.08 s.  The broadcast side is
      bounded: buckets with > max_bucket members are, by construction,
      rarer than n_docs x bands / max_bucket.

    A round-4 rewrite tried a single bucket aggregate (collect_list
    of the member set + posexplode/slice fan-out); a controlled A/B
    showed it ~2x slower end-to-end: the list aggregate is heavier
    than a count, the non-literal ``slice(__ds, __i+2, ...)``
    re-materializes the tail per member, AQE coalesces the tiny
    bucket table to ~2 partitions so the quadratic pair fan-out runs
    nearly serial (a genuine scale-killer at 100x), and
    ``max_bucket=None`` would build one unbounded in-memory array per
    hot bucket.  The self-join shuffles the band table (n_docs x
    bands rows -- tiny relative to the corpus) but every stage stays
    partition-parallel."""
    if rows_per_band == 1:
        # one signature row per band: the fold below collapses to a
        # single affine step -- no aggregate, no shuffle (single-parse
        # construction, optimization round 14)
        bh = sigs.selectExpr(
            "doc_id",
            "sig_id AS band",
            f"(CAST(17 AS BIGINT) * {M_COMB} + sig % {P}) % {P} AS bh",
        )
    else:
        banded = sigs.withColumn(
            "band", (F.col("sig_id") / rows_per_band).cast("long")
        )
        bh = banded.groupBy("doc_id", "band").agg(
            (F.aggregate(
                F.array_sort(F.collect_list(F.col("sig") % F.lit(P))),
                F.lit(17).cast("long"),
                lambda a, x: (a * 1_000_003 + x) % F.lit(P),
            )).alias("bh")
        )
    # persist-at-fan-out (SURVEY.md section 4.4): every consumer below
    # (the hot-bucket count, the anti-join probe side, and both
    # self-join branches) reads bh, and Catalyst does not reuse the
    # exchange across the differently-aliased branches -- without this
    # the whole shingle->minhash lineage (the expensive part) runs
    # once per consumer.  The band table is tiny relative to the
    # corpus (n_docs x bands rows).  LIFECYCLE: caches are tracked;
    # a long-lived service calls release_caches() between distinct
    # corpus batches (plan-identical re-calls share one cache entry),
    # or passes persist=False to opt out entirely.
    bh = _track_persist(bh) if persist else bh
    if max_bucket is not None:
        hot = (
            bh.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band", "bh")
        )
        # persist the CAPPED table too: the self-join's two branches
        # would otherwise each re-plan the hot-agg + anti-join subtree
        # above the raw cache (4 InMemoryTableScans, 3 broadcast
        # builds, 13 exchanges at sf0.1), which is pure stage-count
        # overhead on a band-table-sized input.  A round-8 A/B (min of
        # 8 warm runs, quiet machine, sf0.1) measured 1.37 s without
        # this persist vs 0.58 s with it -- and the uncached form's
        # rep noise (the round-7 "first-rep spike") was exactly the
        # duplicated subtree's extra GC + AQE scheduling.  Memory
        # cost: one more band-table-sized cache (n_docs x bands rows,
        # a subset of the raw one) -- negligible against the corpus at
        # any scale; the raw cache above stays only to feed the hot
        # count and the anti probe a single shingle->minhash pass.
        bh = bh.join(F.broadcast(hot), on=["band", "bh"], how="left_anti")
        bh = _track_persist(bh) if persist else bh
    a = bh.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    b = bh.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    return (
        a.join(b, on=["band", "bh"], how="inner")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    )


def jaccard_on_pairs(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only (the verify
    stage after LSH): |A n B| via join on shingle hash, |A u B| from
    per-doc counts."""
    counts = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = shingles.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        pairs.join(sa, on="doc_a")
        .join(sb, on=["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    j = (
        pairs.join(inter, on=["doc_a", "doc_b"], how="left")
        .join(counts.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), on="doc_a")
        .join(counts.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), on="doc_b")
    )
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    return j.select(
        "doc_a",
        "doc_b",
        F.round(ni / (F.col("na") + F.col("nb") - ni), 6).alias("jaccard"),
    )


def simhash_col(text_col: str = "text", bits: int = 16, toks: str | None = None):
    """SimHash of the whitespace tokens as ONE in-row Column: token
    polyhashes compute once into an array, each hash votes +-1 per bit
    (duplicate tokens vote once per occurrence == the count-weighted
    definition), and the sign of each vote total sets the output bit.
    Pure JVM fold -- zero shuffles, composes with streams; ``bits``
    stays within the uniform low bits of the mod-P hash.  ``toks``: the
    name of a pre-materialized token array (text.with_tokens) so suites
    that compose many token signals tokenize once per document.

    Per-bit majority counts over the BOUND hash array (optimization
    round 13): votes_i = ones_i - (n - ones_i), so the sign test
    votes_i > 0 is exactly ones_i * 2 > n, counted by an allocation-
    free filter scan per bit -- 1.63x faster than a fold that kept a
    bits-wide vote vector.  NULL contract: a NULL token array yields
    NULL, and ANY NULL token hash yields 0.

    Construction cost (optimization round 13): one ``F.expr`` parse
    (sub-ms); the Column-API form of the per-bit loop was ~250 py4j
    round-trips, 0.41 s of DRIVER time per construction.

    Execution cost: the per-bit scans are the cost, and they already
    run on every core (``simhash`` widens a small input first).  Two
    cheaper-looking forms were measured on the sf0.1 documents slot
    (4-core container) and rejected: packing the 16 vote lanes into
    8 or 4 wider folds (bit-field counters in one long) went 0.906 ->
    0.948 / 0.944 s, and a ``sequence``/``substr`` polyhash measured
    0.591 s against this form's 0.579 s."""
    th = token_hashes_sql(text_col, toks)
    out = "CAST(0 AS BIGINT)"
    for i in range(bits):
        ones = f"size(filter(h_arr, h -> (shiftright(h, {i}) % 2) = 1))"
        out = (
            f"({out} + CASE WHEN ({ones} * 2) > size(h_arr) "
            f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    body = (
        "CASE WHEN h_arr IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN exists(h_arr, h -> h IS NULL) THEN CAST(0 AS BIGINT) "
        f"ELSE {out} END"
    )
    return F.expr(f"transform(array({th}), h_arr -> {body})[0]")


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """Per-document SimHash fingerprints (same bit values as the
    count-weighted explode/groupBy formulation the DuckDB oracle
    replays, but computed as the in-row fold above -- the explode form
    was a corpus-sized shuffle; this is none).  The per-bit vote folds
    are the expensive part, so the input is widened first
    (``widen_partitions``): a small file would scan as one task."""
    from ..sources.ingest import widen_partitions

    return widen_partitions(df, "doc_id").select(
        "doc_id", simhash_col(text_col, bits).alias("simhash")
    )


def kgram_positions(
    df: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """(doc_id, p, h): hash of the k-token gram starting at 0-based
    token position p -- the positional (non-distinct) variant of
    shingle_hashes that substring matching needs, from the same SQL
    fragments: each document hashes once, after the widening
    exchange."""
    from ..sources.ingest import widen_partitions

    return with_token_hashes(widen_partitions(df, "doc_id"), text_col).selectExpr(
        "doc_id", f"posexplode({kgram_hashes_sql(k)}) AS (p, h)"
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_tokens: int | None = None,
    max_positions: int = 1_000,
    verify: bool = False,
    persist: bool = True,
) -> DataFrame:
    """Exact duplicated substrings across documents (the ExactSubstr
    dedup of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better"): maximal token spans of length >=
    ``min_tokens`` (default ``k``) shared verbatim by two documents.

    Returns (doc_a, doc_b, a_start, b_start, length) with doc_a <
    doc_b -- the spans a pipeline clips out of the lower-id document's
    duplicates.

    Scale shape: seed matches are an equi-join on k-gram hash (only
    positions sharing a hash ever meet -- the suffix-array role), and
    runs of consecutive seeds merge per (pair, diagonal) with a
    gaps-and-islands window, where diagonal = a_start - b_start.  The
    window partitions by (doc_a, doc_b, diagonal), so merging
    parallelizes across pairs.  ``max_positions`` drops k-gram hashes
    occurring more often than the threshold corpus-wide (stopword-like
    boilerplate grams whose seed join would be quadratic), same
    rationale as the LSH hot-bucket cap -- but unlike the LSH cap
    (which bounds a per-bucket LIST, i.e. memory) this one bounds a
    JOIN MULTIPLICITY: a gram surviving at exactly the cap still
    yields up to max_positions^2 / 2 seed rows (~5e5 at the 1k
    default, ~5e7 at the old 10k default -- why the default was
    lowered; web-corpus boilerplate clusters just under any cap).
    Raise it for small clean corpora, lower it further for raw web
    dumps.

    Matching is by polynomial hash: collisions (~n^2/P) are possible
    in principle.  ``verify=True`` re-checks every merged span against
    the actual token text -- a per-span projection joining each side's
    token array and comparing the clipped slices -- and drops spans
    whose text differs (hash-collision artifacts).  Cost: two
    hash-joins of spans against the (doc_id, tokens) projection;
    span count is bounded by the seed output, so this never touches
    non-matching documents.
    """
    if min_tokens is None:
        min_tokens = k
    if min_tokens < k:
        raise ValueError(f"min_tokens ({min_tokens}) must be >= k ({k})")
    # persist-at-fan-out, same policy as lsh_candidate_pairs (round
    # 8): the position table feeds the hot-gram count, the anti probe,
    # and BOTH self-join branches -- unpersisted, Catalyst re-plans
    # the tokenize+posexplode lineage once per consumer (4x the most
    # expensive pass) and duplicates the cap subtree under each join
    # branch.  Both tables are token-position-sized (the operator's
    # own join input, already shuffled at this scale); the default
    # StorageLevel spills to disk, so the trade holds at 100 TB where
    # recomputing the corpus explode 4x is strictly worse.
    # LIFECYCLE: the caches back the returned lazy frame, so nothing
    # here can unpersist them; one-shot pipelines drop them with the
    # app, while a long-lived service calling this per corpus batch
    # calls release_caches() between batches (plan-identical re-calls
    # reuse the same cache entries, so growth only occurs across
    # DIFFERENT inputs) or passes persist=False to opt out.
    pos = kgram_positions(df, text_col, k)
    pos = _track_persist(pos) if persist else pos
    if max_positions is not None:
        hot = (
            pos.groupBy("h")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_positions)
            .select("h")
        )
        pos = pos.join(F.broadcast(hot), on="h", how="left_anti")
        pos = _track_persist(pos) if persist else pos
    a = pos.selectExpr("doc_id AS doc_a", "p AS pa", "h")
    b = pos.selectExpr("doc_id AS doc_b", "p AS pb", "h")
    seeds = a.join(b, on="h").filter(F.col("doc_a") < F.col("doc_b"))
    # the diag projection and the islands window fuse into ONE
    # selectExpr (optimization round 14): partitioning by the
    # expression `pa - pb` is the same deterministic key as the
    # two-step alias-then-partition form (it is also exactly how the
    # DuckDB oracle spells it), and one Dataset op replaces three --
    # each op eagerly analyzes the whole plan on the driver.
    runs = seeds.selectExpr(
        "doc_a", "doc_b", "pa - pb AS diag", "pa", "pb",
        "pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb"
        " ORDER BY pa) AS __grp",
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "__grp").agg(
        F.expr("CAST(min(pa) AS BIGINT) AS a_start"),
        F.expr("CAST(min(pb) AS BIGINT) AS b_start"),
        F.expr(f"CAST(count(1) + {k - 1} AS BIGINT) AS length"),
    )
    out = spans.filter(F.col("length") >= min_tokens).select(
        "doc_a", "doc_b", "a_start", "b_start", "length"
    )
    if verify:
        toks = df.select("doc_id", tokens_col(text_col).alias("__t"))
        ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("__t").alias("__ta"))
        tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("__t").alias("__tb"))
        out = (
            out.join(ta, on="doc_a")
            .join(tb, on="doc_b")
            # a_start/b_start are 0-based token positions; slice is
            # 1-based.  Equal slices == the span text matches verbatim.
            .filter(
                F.slice(F.col("__ta"), F.col("a_start") + 1, F.col("length"))
                == F.slice(F.col("__tb"), F.col("b_start") + 1, F.col("length"))
            )
            .select("doc_a", "doc_b", "a_start", "b_start", "length")
        )
    return out


def duplicate_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
    check_every: int = 2,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: groups the
    verified near-duplicate pairs (doc_a, doc_b) into clusters so a
    pipeline can keep ONE representative per cluster -- the step every
    production MinHash dedup ends with (SlimPajama, FineWeb, BigCode
    all cluster LSH pairs before dropping; pairs alone over-delete
    because duplicate relations are not transitive row-by-row).

    Returns (doc_id, rep, csize): every document that appears in at
    least one pair, its cluster representative (= the smallest doc_id
    reachable through the pair graph), and the cluster's size.  The
    keep-list is ``doc_id == rep`` plus every unpaired document.

    Scale shape: min-label propagation with POINTER DOUBLING.  Each
    round is (a) one equi-join of the symmetrized edge list against
    the current labels + a partial-aggregated min per vertex, and (b)
    one self-join that replaces each vertex's label with its label's
    label -- halving every chain, so rounds needed are O(log diameter)
    rather than O(diameter).  Near-duplicate components are almost
    always shallow cliques (diameter <= 3; one boilerplate template ->
    one star), so this converges in 2-3 rounds at any corpus size.
    Label/edge tables shuffle on doc_id -- both are candidate-pair
    sized, tiny relative to the corpus.  Every ``check_every`` rounds
    the loop runs a convergence probe (a scalar count of changed
    labels -- an action, but no rows ever reach the driver), and
    ``max_iters`` (default 20, i.e. diameter ~2^20 via doubling)
    bounds the driver loop unconditionally.

    Each round ends with an EAGER ``localCheckpoint``, not a persist:
    the doubling step references the previous labels TWICE (directly
    and through the label-of-label lookup), so the LOGICAL plan
    doubles every round -- persist caches data but keeps the full
    lineage tree, and within ~10 rounds merely rendering the plan
    string OOMs the driver (hit by round 5's long-chain test).
    localCheckpoint truncates lineage to the materialized partitions,
    keeping the plan O(1) per round -- the standard Spark idiom for
    iterative graph algorithms.
    """
    e = pairs.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("w"))
    edges = e.unionByName(
        e.select(F.col("w").alias("v"), F.col("v").alias("w"))
    ).persist()
    labels = (
        edges.select("v").distinct().select("v", F.col("v").alias("rep"))
    ).localCheckpoint()
    for it in range(max_iters):
        nbr = (
            edges.join(
                labels.select(F.col("v").alias("w"), F.col("rep").alias("wrep")),
                on="w",
            )
            .groupBy("v")
            .agg(F.min("wrep").alias("nrep"))
        )
        stepped = labels.join(nbr, on="v", how="left").select(
            "v", F.least(F.col("rep"), F.coalesce("nrep", "rep")).alias("rep")
        )
        lut = stepped.select(
            F.col("v").alias("__lv"), F.col("rep").alias("__lrep")
        )
        doubled = (
            stepped.join(lut, stepped["rep"] == lut["__lv"], "left")
            .select("v", F.coalesce("__lrep", "rep").alias("rep"))
            .localCheckpoint()
        )
        done = False
        if it % check_every == check_every - 1 or it == max_iters - 1:
            # convergence probe: one scalar per check -- a changed
            # label exists iff some vertex still sees a smaller rep
            # through an edge (rep stable under doubling by now)
            old = labels.select("v", F.col("rep").alias("__old"))
            done = (
                doubled.join(old, on="v")
                .filter(F.col("rep") != F.col("__old"))
                .limit(1)
                .count()
                == 0
            )
        labels = doubled
        if done:
            break
    else:
        # loop exhausted max_iters and the final probe (it always runs
        # on the last iteration) reported labels still moving --
        # surface it instead of silently returning under-merged
        # clusters into downstream drop lists
        import warnings

        warnings.warn(
            f"duplicate_clusters: min-label propagation did not converge "
            f"within max_iters={max_iters}; returned clusters may be "
            f"under-merged (raise max_iters -- rounds needed is "
            f"O(log graph diameter))",
            RuntimeWarning,
            stacklevel=2,
        )
    sizes = labels.groupBy("rep").agg(F.count(F.lit(1)).alias("csize"))
    out = labels.join(sizes, on="rep").select(
        F.col("v").alias("doc_id"), "rep", F.col("csize").cast("long")
    )
    edges.unpersist()
    return out


def clip_duplicated_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Apply ExactSubstr dedup: REMOVE each duplicated span from the
    higher-id document of its pair (the doc_b side), so exactly one
    copy of every duplicated substring survives corpus-wide -- the
    clipping step of Lee et al. 2021 that ``duplicated_spans`` only
    locates.  A document that is the lower-id side everywhere keeps
    its text; since every higher-id holder clips, the global minimum
    holder is the one surviving copy.  Returns (doc_id, text,
    n_tokens_kept, n_tokens_removed) for EVERY input document
    (unclipped docs pass through with n_tokens_removed = 0).

    Scale shape: overlapping intervals merge with a gaps-and-islands
    WINDOW over (doc, start) -- WindowExec's per-doc buffer spills to
    disk, so a boilerplate document that is the higher-id side of
    millions of pairs (and therefore holds millions of raw spans)
    never builds one in-memory array; only the MERGED intervals
    (bounded by the document's token count, in practice a handful)
    collect into the per-row clip list.  The clip itself is a per-row
    filter over the token array (O(tokens x merged_spans) inside the
    row).  One join of the corpus against the span-holder table
    (span-holder-sized, not corpus-sized).  The corpus is widened
    first (``widen_partitions``): a small file scans as one task, which
    would run the join, the per-token clip and whatever the caller
    hashes of the clipped text on one core.  So a small corpus has one
    widening shuffle of its text; a corpus with at least half as many
    files as cores has none."""
    from pyspark.sql.window import Window

    from ..sources.ingest import widen_partitions

    sp = spans.selectExpr(
        "doc_b AS doc_id", "b_start AS s", "b_start + length AS e"
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pmax = F.max("e").over(w_prev)
    brk = F.when(pmax.isNull() | (F.col("s") > pmax), 1).otherwise(0)
    islands = sp.withColumn("__grp", F.sum(brk).over(w_run))
    mg = islands.groupBy("doc_id", "__grp").agg(
        F.expr("min(s) AS s"), F.expr("max(e) AS e")
    )
    grouped = mg.groupBy("doc_id").agg(
        F.expr("array_sort(collect_list(struct(s, e))) AS __mg")
    )
    tc = sql_ident(text_col)
    # keep token i (0-based) unless a merged interval covers it; the
    # two-arg filter lambda binds (element, index) -- no index array
    # to build, and crucially no F.sequence(0, size-1), which COUNTS
    # DOWN to [0, -1] on an empty token array (a zero-token document
    # previously came back with n_tokens_kept=2, n_tokens_removed=-2).
    # UNCLIPPED docs (no merged interval -- the vast majority of any
    # corpus) short-circuit past the per-token exists() scan: an empty
    # __m keeps every token, so the whole filter is the identity
    # (optimization round 13; CaseWhen evaluates only the taken branch)
    kept = (
        "CASE WHEN size(__m) = 0 THEN __toks ELSE "
        "filter(__toks, (t, i) -> NOT exists(__m,"
        " m -> i >= m.s AND i < m.e)) END"
    )
    # the three projection LEVELS below are load-bearing for execution
    # (each alias is non-cheap and multiply referenced -- tokenize
    # once, clip once; optimization round 13), but each level now
    # builds as ONE selectExpr parse instead of a withColumn chain
    # (optimization round 14: every Dataset op eagerly re-analyzes the
    # whole plan on the driver).  Tokenization materializes AFTER the
    # join so the join exchange carries the raw text, not the wider
    # token array.
    return (
        widen_partitions(df, "doc_id")
        .join(grouped, on="doc_id", how="left")
        .selectExpr(
            "*",
            "coalesce(__mg, CAST(array() AS"
            " ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)) AS __m",
            f"{tokens_sql(tc)} AS __toks",
        )
        .selectExpr("doc_id", "__toks", f"{kept} AS __k")
        .selectExpr(
            "doc_id",
            # a struct-field text column comes back under its field
            # name, as F.col("s.text") would name it
            f"concat_ws(' ', __k) AS {sql_ident(text_col.split('.')[-1])}",
            "CAST(size(__k) AS BIGINT) AS n_tokens_kept",
            "CAST(CAST(size(__toks) AS BIGINT) - size(__k) AS BIGINT)"
            " AS n_tokens_removed",
        )
    )
