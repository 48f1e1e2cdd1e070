"""Text analysis operators for training-data pipelines (additive scope
beyond the reference, SURVEY.md section 7 M6): token statistics,
quality scoring, language-ID heuristic, document fingerprinting.

All JVM-side Catalyst expressions (split / higher-order functions) --
no Python UDFs in the hot path; every op is a per-row projection or a
groupBy, so they scale linearly and shuffle only on aggregation keys.

Determinism: token hashing uses an explicit polynomial rolling hash
(h = (h*31 + ascii(c)) mod 1e9+7) rather than engine-specific hash(),
so a SQL oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import _track_persist

__all__ = [
    "tokens_col",
    "polyhash_col",
    "token_stats",
    "quality_col",
    "quality_score",
    "lang_id",
    "fingerprint",
    "token_count",
    "repetition_stats",
    "repetition_cols",
    "token_stats_cols",
    "lang_id_col",
    "bigram_lm_scores",
    "mixed_hash_col",
    "perplexity_buckets",
    "tfidf_keywords",
]

P = 1_000_000_007
SEED = 7

# tiny function-word marker lists for the lang-ID heuristic
LANG_MARKERS = {
    "en": ["the", "a", "of", "and"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "la", "y", "los"],
    "de": ["der", "die", "und", "das"],
    "zh": ["de", "shi", "he", "zai"],
}
STOPWORDS = ["a", "the", "and", "of"]


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for embedding in an ``F.expr``
    string, one quoted part per dot-separated part: ``"s.text"``
    becomes ``` `s`.`text` ```, the struct field ``F.col("s.text")``
    resolves to."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def sql_string(s: str) -> str:
    """``s`` as a SQL string literal (backslash and quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _is_stopword(w: str) -> str:
    """SQL: the string-valued expression ``w`` is one of ``STOPWORDS``."""
    return f"{w} IN ({', '.join(sql_string(s) for s in STOPWORDS)})"


# The SQL fragments below are the one definition of tokenization and
# of the polynomial hashes; every builder parses them with ``F.expr``
# or ``selectExpr``.  A Column-API build of these folds costs hundreds
# of py4j round-trips of driver time per query construction; one parse
# is sub-ms (tests/test_construction_cost.py bounds the calls).


def tokens_sql(text_expr: str) -> str:
    """Whitespace tokenization (single-space corpus) of the string-
    valued SQL expression ``text_expr`` (a ``sql_ident``-quoted name or
    any SQL expression)."""
    return f"filter(split({text_expr}, ' '), x -> x != '')"


def toks_sql(text_col: str, toks: str | None) -> str:
    """The token array of a builder: the materialized column ``toks``
    (see ``with_tokens``) or, without one, ``text_col`` tokenized."""
    return tokens_sql(sql_ident(text_col)) if toks is None else sql_ident(toks)


def polyhash_sql(s_expr: str, finish: str | None = None) -> str:
    """Deterministic polynomial rolling hash over the characters of the
    string-valued SQL expression ``s_expr`` (document fingerprinting;
    cross-engine reproducible).

    ``finish``: optional SQL lambda applied to the final accumulator
    INSIDE the aggregate (optimization round 13).  A caller that
    branches on the hash (e.g. ``split_col``'s CASE over the bucket)
    would otherwise embed the whole per-char fold once per branch --
    the interpreted projection does not share repeated higher-order
    subtrees -- so the decision folds into the aggregate's finish step
    and the string hashes exactly once."""
    fin = "" if finish is None else f", {finish}"
    return (
        f"aggregate(filter(split({s_expr}, ''), x -> x != ''), "
        f"CAST({SEED} AS BIGINT), (acc, x) -> (acc * 31 + ascii(x)) % {P}{fin})"
    )


def token_hashes_sql(text_col: str, toks: str | None = None) -> str:
    """The per-token polyhash array over the token array of
    ``toks_sql(text_col, toks)``."""
    return f"transform({toks_sql(text_col, toks)}, t -> {polyhash_sql('t')})"


M_COMB = 1_000_003  # k-gram combine multiplier
TH = "__th"


def gram_starts_sql(n: int, arr: str) -> str:
    """The 1-based start positions ``1 .. size - n + 1`` of the
    ``n``-element windows of the array-valued SQL expression ``arr``;
    empty below ``n`` elements or on a NULL array (guarded -- Spark's
    sequence(1, 0) would count DOWN).

    The guard is a CASE inside the projection, never a filter on the
    computed array: Catalyst pushes such a filter below the widening
    exchange and inlines the array into it, so every document would
    hash twice (once in a one-task scan stage)."""
    return (
        f"CASE WHEN size({arr}) >= {n} THEN sequence(1, size({arr}) - {n - 1}) "
        "ELSE CAST(array() AS ARRAY<INT>) END"
    )


def kgram_combine_sql(n: int, th: str = TH) -> str:
    """The rolling combine of ``n`` consecutive token hashes starting
    at 1-based position ``i`` of the hash array ``th``; products stay
    < 2^63 (hashes < P, multiplier ~1e6)."""
    h = f"element_at({th}, i)"
    for k in range(1, n):
        h = f"({h} * {M_COMB} + element_at({th}, i + {k})) % {P}"
    return h


def kgram_hashes_sql(n: int, th: str = TH) -> str:
    """The hashes of the ``n``-token grams of the hash array ``th``
    (a SQL expression, normally the ``with_token_hashes`` column), in
    position order; empty below ``n`` tokens.  ``th`` is read 2 + n
    times, so it must be a materialized column: spelled inline, each
    read would hash the whole document again."""
    return f"transform({gram_starts_sql(n, th)}, i -> {kgram_combine_sql(n, th)})"


def salted_id_sql(salt: str, id_col: str) -> str:
    """``salt || ':' || id`` -- the string the salted-id hashes
    (splits, samples, shards) hash."""
    return f"concat({sql_string(salt + ':')}, CAST({sql_ident(id_col)} AS STRING))"


def tokens_col(text_col: str) -> Column:
    """``tokens_sql`` over the column ``text_col``."""
    return F.expr(tokens_sql(sql_ident(text_col)))


def polyhash_col(s_expr: str, finish: str | None = None) -> Column:
    """``polyhash_sql`` over the SQL expression ``s_expr``."""
    return F.expr(polyhash_sql(s_expr, finish))


TOKS = "__toks"


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize the token array ONCE in a lower projection (column
    ``__toks``).  The composite text expressions below reference the
    token array many times; higher-order functions fall out of
    whole-stage codegen and the interpreted projection does NOT share
    the repeated split+filter subtrees (measured: the 6-reference
    quality projection runs ~3x slower than the same expression over a
    materialized array -- optimization round 13).  CollapseProject
    keeps the two projections separate exactly because the alias is
    non-cheap and multiply referenced, so each document tokenizes once
    regardless of how many signals a suite composes.  Consumers that
    reference the array only once collapse back to a single projection
    -- identical to the historical plan.  Builders take the column
    NAME (``toks=TOKS``)."""
    return df.withColumn(TOKS, tokens_col(text_col))


def with_token_hashes(
    df: DataFrame, text_col: str = "text", toks: str | None = None
) -> DataFrame:
    """Materialize the per-token hash array ONCE in a lower projection
    (column ``__th``), the ``with_tokens`` of the hash consumers: the
    k-gram fragment (``kgram_hashes_sql``) reads the array 2 + n times
    and the interpreted projection does not share repeated higher-order
    subtrees.  ``toks``: hash a materialized token array instead of
    tokenizing ``text_col`` again."""
    return df.withColumn(TH, F.expr(token_hashes_sql(text_col, toks)))


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select(
        "doc_id", F.size(tokens_col(text_col)).cast("long").alias("n_tokens")
    )


def token_stats_cols(
    text_col: str = "text", toks: str | None = None
) -> list[Column]:
    """Token statistics as standalone aliased Columns (single-
    projection suites and streams compose them join-free).  Pass the
    name of a materialized ``toks`` column (see ``with_tokens``) so the
    token array is computed once per document instead of once per
    reference -- the interpreted projection does not share the repeated
    higher-order subtrees."""
    t = toks_sql(text_col, toks)
    n = f"CAST(size({t}) AS DOUBLE)"

    def ratio(x: str, name: str) -> Column:
        # explicit zero-token contract: every ratio is 0.0 (not the
        # engine-specific NULL/NaN a 0/0 division would give -- Spark
        # non-ANSI yields NULL where DuckDB yields NaN, an oracle
        # divergence the adversarial-corpus gate caught)
        return F.expr(
            f"CASE WHEN {n} > 0 THEN round({x} / {n}, 6) ELSE 0.0D END AS {name}"
        )

    return [
        F.expr(f"CAST(length({sql_ident(text_col)}) AS BIGINT) AS n_chars"),
        F.expr(f"CAST(size({t}) AS BIGINT) AS n_tokens"),
        ratio(
            f"aggregate(transform({t}, w -> CAST(length(w) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)",
            "avg_token_len",
        ),
        ratio(f"CAST(size(array_distinct({t})) AS DOUBLE)", "distinct_ratio"),
        ratio(
            f"CAST(size(filter({t}, w -> {_is_stopword('w')})) AS DOUBLE)",
            "stopword_ratio",
        ),
    ]


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics: counts, mean token length,
    distinct-token ratio, stopword ratio.  Tokenizes once per document
    (``with_tokens``)."""
    return with_tokens(df, text_col).select(
        "doc_id", *token_stats_cols(text_col, toks=TOKS)
    )


def quality_col(text_col: str = "text", toks: str | None = None) -> Column:
    """The quality score as a standalone Column expression (streaming
    pipelines compose it into one join-free projection).  Pass the name
    of a materialized ``toks`` column (``with_tokens``) to tokenize
    once per document -- measured ~3x on this projection alone.

    The token array is bound ONCE to the lambda variable ``t``
    (``transform(array(toks), t -> ...)[0]``): the score references the
    array 6x, and when Catalyst pushes a filter on the quality column
    below the tokenize-once projection it INLINES the alias into every
    reference -- the pipeline_clean_corpus quality gate re-tokenized
    every document 6x inside the pushed Filter.  With the array bound
    to a lambda variable, any inlining carries exactly one
    tokenization.  A NULL token array still yields 0.0 through the
    n > 0 gate."""
    n = "CAST(size(t) AS DOUBLE)"
    score = (
        f"least({n} / 100.0D, 1.0D) * 0.4D"
        f" + CAST(size(array_distinct(t)) AS DOUBLE) / {n} * 0.6D"
        f" - CAST(size(filter(t, w -> {_is_stopword('w')})) AS DOUBLE) / {n} * 0.5D"
    )
    return F.expr(
        f"transform(array({toks_sql(text_col, toks)}), t -> CASE WHEN {n} > 0 "
        f"THEN round(greatest(0.0D, least(1.0D, {score})), 6) ELSE 0.0D END)[0]"
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length band + lexical
    diversity - stopword saturation (heuristic; the plumbing is the
    point -- a per-row projection that scales to any corpus).
    Computed from RAW ratios (not the 6-decimal-rounded stats) so the
    only rounding step is the final one.  Tokenizes once per document
    (``with_tokens`` -- measured ~3x on this projection)."""
    return with_tokens(df, text_col).select(
        "doc_id", quality_col(text_col, toks=TOKS).alias("quality")
    )


def lang_id_col(text_col: str = "text", toks: str | None = None) -> Column:
    """Predicted language as a standalone Column (marker-token scores
    with deterministic alphabetical tie-break).  ``toks``: see
    ``with_tokens`` -- each language's marker scan runs once per
    document: the scores evaluate ONCE into an in-row (score, lang)
    struct array and a fold picks the argmax (optimization round 13:
    the former greatest(*scores) + per-language CaseWhen chain
    re-embedded every filter scan, so the interpreted projection --
    higher-order functions fall out of codegen and repeated subtrees
    are not shared -- evaluated the 5 marker scans ~3-6x per document).
    Tie-break: strict > keeps the FIRST struct, and the array is built
    in sorted(lang) order, so the alphabetically smallest max-score
    language wins.  The fold starts at (0, 'und'), so a best score of
    0 is 'und' -- and so is NULL text, whose scores are size(NULL) =
    -1 under legacy sizeOfNull."""
    t = toks_sql(text_col, toks)
    entries = ", ".join(
        "struct(size(filter({t}, t -> t IN ({m}))) AS s, '{lang}' AS l)".format(
            t=t, m=", ".join(sql_string(w) for w in markers), lang=lang
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    )
    return F.expr(
        f"aggregate(array({entries}), struct(0 AS s, 'und' AS l), "
        "(acc, x) -> CASE WHEN x.s > acc.s THEN x ELSE acc END, acc -> acc.l)"
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language scoring with deterministic alphabetical
    tie-break -- n-gram/function-word heuristic shaped like a real
    langid pass (per-row, no shuffle).  Tokenizes once per document
    (``with_tokens``)."""
    return with_tokens(df, text_col).select(
        "doc_id", lang_id_col(text_col, toks=TOKS).alias("pred_lang")
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select("doc_id", polyhash_col(sql_ident(text_col)).alias("fp"))


def _ngram_strings(t: str, n: int) -> str:
    """Word n-grams of the token-array SQL expression ``t`` as
    space-joined strings; empty array below n tokens
    (``gram_starts_sql``)."""
    grams = ", ".join(f"element_at({t}, i + {k})" for k in range(n))
    return f"transform({gram_starts_sql(n, t)}, i -> concat_ws(' ', {grams}))"


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, appendix A1.1)
    adapted to a newline-free corpus:

    - ``top2gram_char_frac`` -- fraction of the document's characters
      covered by its most frequent word bigram (count x len(bigram) /
      n_chars; ties broken toward the lexicographically smallest
      bigram).
    - ``dup3gram_frac`` -- fraction of word trigrams that are repeats
      of an earlier trigram (1 - distinct/total).
    - ``max_token_run`` -- longest run of one token repeated
      consecutively.

    Machine-generated and boilerplate text scores high on all three;
    real pipelines drop documents above thresholds.  Pure per-row
    Catalyst projections (sort + fold over in-row arrays): zero
    shuffles, linear in corpus size.  The in-row mode computation
    (sorted-array run fold) replaces the groupBy a naive per-ngram
    count would need -- at 100 TB that groupBy would shuffle ~n_tokens
    rows per document.

    Tokenizes once per document and materializes the trigram array
    once (``with_tokens`` + a ``__tg3`` projection): the dup3gram
    signal references the trigram array three times and the
    interpreted projection does not share repeated higher-order
    subtrees (optimization round 13)."""
    base = with_tokens(df, text_col)
    base = base.withColumn("__tg3", F.expr(_ngram_strings(sql_ident(TOKS), 3)))
    return base.select(
        "doc_id", *repetition_cols(text_col, toks=TOKS, tg3="__tg3")
    )


def repetition_cols(
    text_col: str = "text",
    toks: str | None = None,
    tg3: str | None = None,
) -> list[Column]:
    """The repetition signals as standalone aliased Columns (single-
    projection suites compose them join-free).  ``toks``/``tg3``: see
    ``with_tokens`` / ``repetition_stats`` -- pass the names of
    materialized token and trigram arrays so neither is rebuilt per
    reference."""
    t = toks_sql(text_col, toks)
    nc = f"CAST(length({sql_ident(text_col)}) AS DOUBLE)"
    # run length of token x after the fold state acc
    run = "CASE WHEN x = acc.prev THEN acc.run + 1 ELSE CAST(1 AS BIGINT) END"
    zero = "CAST(0 AS BIGINT)"
    # most-frequent bigram: sort the in-row bigram array, then a fold
    # tracks the current and best run (strict > keeps the first = the
    # lexicographically smallest max-count bigram).  The finish lambda
    # collapses the fold to its final scalar so the aggregate is
    # REFERENCED once -- a field access per result would embed the
    # whole fold once per field.
    top_chars = (
        f"aggregate(array_sort({_ngram_strings(t, 2)}), "
        f"struct('' AS prev, {zero} AS run, {zero} AS best, '' AS bestg), "
        f"(acc, x) -> struct(x AS prev, {run} AS run, "
        f"CASE WHEN {run} > acc.best THEN {run} ELSE acc.best END AS best, "
        f"CASE WHEN {run} > acc.best THEN x ELSE acc.bestg END AS bestg), "
        "acc -> CAST(acc.best AS DOUBLE) * length(acc.bestg))"
    )
    tg = _ngram_strings(t, 3) if tg3 is None else sql_ident(tg3)
    m = f"CAST(size({tg}) AS DOUBLE)"
    max_run = (
        f"aggregate({t}, struct('' AS prev, {zero} AS run, {zero} AS best), "
        f"(acc, x) -> struct(x AS prev, {run} AS run, "
        f"greatest({run}, acc.best) AS best)).best"
    )
    return [
        # empty-text guard: Spark's non-ANSI x/0 yields NULL while
        # DuckDB's IEEE division yields NaN -- pin 0.0 like
        # dup3gram_frac does
        F.expr(
            f"CASE WHEN {nc} > 0 THEN round({top_chars} / {nc}, 6) ELSE 0.0D END "
            "AS top2gram_char_frac"
        ),
        F.expr(
            f"CASE WHEN {m} > 0 THEN round(({m} - "
            f"CAST(size(array_distinct({tg})) AS DOUBLE)) / {m}, 6) ELSE 0.0D END "
            "AS dup3gram_frac"
        ),
        F.expr(f"CAST({max_run} AS BIGINT) AS max_token_run"),
    ]


def bigram_lm_scores(
    df: DataFrame,
    ref: DataFrame | None = None,
    min_count: int = 2,
    text_col: str = "text",
    broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """CCNet-style n-gram language-model quality score: mean
    bits-per-bigram -log2 P(w_i | w_{i-1}) under an add-one-smoothed
    bigram model counted over ``ref`` (default: the corpus itself).
    Low bits = fluent/common phrasing, high bits = noise -- the
    perplexity-bucket filter of Wenzek et al. 2020 (CCNet), with the
    explicit polynomial token hashes standing in for the external
    KenLM model so an SQL oracle replays it bit-for-bit.

    Returns (doc_id, n_lm_bigrams, lm_bits) for documents with >= 2
    tokens; callers left-join on the document grain (absent = too
    short to score).  ``min_count`` prunes the bigram table the way
    production LMs prune rare n-grams: a dropped bigram backs off to
    pure add-one smoothing, shrinking the model table without touching
    the common mass.

    Scale shape (the 100 TB story): the model side (unigram + pruned
    bigram counts) is VOCAB-sized, not corpus-sized, built with two
    partial-aggregated explode+groupBy passes over the reference.  The
    model tables are persisted and counted (two
    vocab-sized scalar actions) and, when under ``broadcast_rows``,
    BROADCAST into the scoring joins -- each document's grams then
    probe a hash map map-side, so the corpus is never shuffled and the
    Zipf-head gram keys ("the ..." bigrams) cannot pile onto one
    sort-merge reducer.  The hashed-token projection of a self-scored
    corpus is computed ONCE (persisted at its fan-out into unigram /
    bigram counts and the scoring side); the returned plan pins that
    cache entry and the two model tables (see the functions-tier
    persist policy note in functions/__init__.py).  A model table
    above the gate joins as a sort-merge join instead."""
    if ref is None:
        ref = df
    self_ref = ref is df

    def th_col(d):
        return d.selectExpr("doc_id", f"{token_hashes_sql(text_col)} AS {TH}")

    def bigrams_of(th):
        # (previous token hash, bigram hash) per adjacent token pair
        return th.selectExpr(
            "doc_id",
            f"inline(transform({gram_starts_sql(2, TH)}, i -> struct("
            f"element_at({TH}, i) AS ph, {kgram_combine_sql(2)} AS bh)))",
        )

    def model_tables(th_ref):
        runi = (
            th_ref.select(F.explode("__th").alias("ph"))
            .groupBy("ph")
            .agg(F.count(F.lit(1)).alias("cu"))
        )
        rbi = (
            bigrams_of(th_ref)
            .groupBy("bh")
            .agg(F.count(F.lit(1)).alias("cb"))
            .filter(F.col("cb") >= min_count)
        )
        return runi, rbi

    th_ref = _track_persist(th_col(ref))
    runi, rbi = model_tables(th_ref)
    runi, rbi = _track_persist(runi), _track_persist(rbi)
    nv, nb = runi.count(), rbi.count()
    if not self_ref:
        # both consumers (the model counts) are materialized; the
        # scoring side re-derives from df, so the ref projection
        # cache is dead weight past this point
        th_ref.unpersist()
    runi_j = F.broadcast(runi) if nv <= broadcast_rows else runi
    rbi_j = F.broadcast(rbi) if nb <= broadcast_rows else rbi
    grams = bigrams_of(th_ref if self_ref else th_col(df))
    joined = grams.join(runi_j, on="ph", how="left").join(
        rbi_j, on="bh", how="left"
    )
    bits = -F.log2(
        (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(nv)).cast("double")
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lm_bigrams"),
        (F.round(F.avg(bits), 6) + F.lit(0.0)).alias("lm_bits"),
    )


# affine mixing multiplier (Knuth's 2^32 golden-ratio constant): the
# rolling polyhash is near-monotone in a string's trailing characters
# (the last char contributes +-1 steps), so any DIRECT use of its
# low-order residues -- h % n_shards, h % 1e6 rate gates -- inherits
# source ordering instead of looking uniform.  One multiply-mod wraps
# the hash space and decorrelates residues; products stay < 2^63
# (h < 1e9+7, multiplier < 2^32).
A_MIX = 2_654_435_761


def mixed_hash_col(s_expr: str) -> Column:
    """polyhash of the SQL expression ``s_expr`` followed by the affine
    mixing step -- use this (never raw polyhash_col) whenever low-order
    residues of the hash drive a decision: shard assignment, rate
    gates, reservoir positions."""
    return F.expr(f"({polyhash_sql(s_expr)} * CAST({A_MIX} AS BIGINT)) % {P}")


def perplexity_buckets(
    lm: DataFrame,
    qs: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    score_col: str = "lm_bits",
) -> DataFrame:
    """CCNet's perplexity-bucket assignment (Wenzek et al. 2020):
    split scored documents into head / middle / tail by corpus-wide
    quantiles of the LM score (low bits = fluent = head).  ``lm`` is
    the (doc_id, n_lm_bigrams, lm_bits) output of
    ``bigram_lm_scores``; returns (doc_id, ppl_bucket) with buckets
    'head', 'middle', 'tail' (generally: bucket ``i`` of
    ``len(qs)+1``, labeled b0..bn for other cut lists).

    Cuts are DISCRETE (type-1) quantiles -- the smallest score whose
    cumulative count reaches ceil(q * n) -- so there is no float
    interpolation and an SQL oracle replays the boundary decisions
    bit-for-bit on the 6-decimal-rounded scores.

    Scale shape: scores first collapse to a (value, count) table (one
    partial-aggregated shuffle).  Distinct 6-decimal score values are
    ~corpus-sized in practice (lm_bits is a per-doc mean), so the
    running total is computed WITHOUT any global single-task window:
    values coarse-bin by floor(score*100) (monotone, so (bin, score)
    order == score order), the within-bin cumulative runs as a window
    PARTITIONED by bin (distributed across executors), and the
    bin-start offsets come from one window over the tiny per-bin
    totals table (rows bounded by 100x the score range, ~4k for
    lm_bits).  Full cumulative = offset + within-bin -- identical to
    the single-window result, with no corpus-sized sort through one
    task.  The cut rows are a len(qs)-row broadcast crossJoin.

    ``lm`` is scanned several times (the count, the value table, the
    final assignment); it is persisted here if the caller has not
    already cached it, and the returned plan pins that entry (see the
    functions-tier persist policy note in functions/__init__.py)."""
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    if lm.storageLevel == StorageLevel.NONE:
        lm = _track_persist(lm)
    n = lm.count()  # scalar action; documented driver-side bound
    sc = F.col(score_col)
    counts = lm.groupBy(score_col).agg(F.count(F.lit(1)).alias("__c")).withColumn(
        "__bin", F.floor(sc * 100).cast("long")
    )
    w_in = (
        Window.partitionBy("__bin")
        .orderBy(sc.asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bins = (
        Window.orderBy(F.col("__bin").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    boff = (
        counts.groupBy("__bin")
        .agg(F.sum("__c").alias("__bc"))
        .withColumn("__boff", F.sum("__bc").over(w_bins) - F.col("__bc"))
        .select("__bin", "__boff")
    )
    cum = _track_persist(
        counts.withColumn("__cumin", F.sum("__c").over(w_in))
        .join(F.broadcast(boff), on="__bin")
        .withColumn("__cum", F.col("__boff") + F.col("__cumin"))
    )
    labels = (
        ["head", "middle", "tail"] if len(qs) == 2
        else [f"b{i}" for i in range(len(qs) + 1)]
    )
    import math as _math

    cuts = None
    for i, q in enumerate(qs):
        need = _math.ceil(q * n)
        c = cum.filter(F.col("__cum") >= need).agg(
            F.min(score_col).alias(f"__cut{i}")
        )
        cuts = c if cuts is None else cuts.crossJoin(c)
    bucket = F.lit(labels[-1])
    for i in range(len(qs) - 1, -1, -1):
        bucket = F.when(
            F.col(score_col) <= F.col(f"__cut{i}"), F.lit(labels[i])
        ).otherwise(bucket)
    return lm.crossJoin(F.broadcast(cuts)).select(
        "doc_id", bucket.alias("ppl_bucket")
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Per-document keyword extraction: the top ``k`` tokens by
    TF-IDF (tf = in-doc count, idf = ln((N+1)/(df+1)) + 1 with N =
    corpus size and df = documents containing the token -- the
    smoothed scikit-learn formulation).  Returns (doc_id, rank,
    token, tfidf) with rank 1 = strongest; ties break toward the
    lexicographically smaller token.  Scores round to 6 decimals
    BEFORE ranking so an SQL oracle replays the order bit-for-bit.

    Scale shape: term counts are one explode + partial-aggregated
    groupBy(doc, token); document frequencies aggregate the SAME
    table again by token (vocab-sized result, no second corpus
    pass); N joins as a one-row broadcast crossJoin; the final
    per-doc top-k is a rank window partitioned by doc_id -- no
    global sort, no corpus-sized broadcast.

    The term-count table persists at its fan-out (tf scores + document
    frequencies) and the returned plan pins that cache entry -- see
    the persist policy note in functions/__init__.py."""
    from pyspark.sql.window import Window

    tf = _track_persist(
        df.select("doc_id", F.explode(tokens_col(text_col)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    idf = F.log((F.col("__n") + 1).cast("double") / (F.col("__df") + 1)) + 1
    scored = (
        tf.join(dfreq, on="token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (F.round(F.col("__tf") * idf, 6) + F.lit(0.0)).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", F.col("rank").cast("long"), "token", "tfidf")
    )
