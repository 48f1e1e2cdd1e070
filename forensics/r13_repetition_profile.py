"""Component profile of repetition_stats at sf0.1 (round 13).

After the simhash rewrite (change 8), repetition_stats is the heaviest
remaining per-document text signal (0.91 s in the change-8 component
profile).  Before touching it, decompose the cost: which of its three
signals — top-bigram run fold, dup3gram distinct, max-token-run fold —
and which sub-expression (ngram construction, array_sort, the fold)
actually dominates.  Each probe is noop-timed in ONE session, min-of-N,
interleaved with a repeated anchor probe so ambient drift is visible.

Usage: python forensics/r13_repetition_profile.py
"""
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from dask_array_spark import queries as Q  # noqa: E402
from dask_array_spark.functions import text as T  # noqa: E402
from dask_array_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("AB_REPS", "4"))

spark = get_spark("r13-rep-profile")
spark.sparkContext.setLogLevel("ERROR")

docs = Q._docs(spark, SF).select("doc_id", "text")
base = T.with_tokens(docs)
toks = F.col(T.TOKS)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timeit(name, df):
    noop(df)  # warm
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        noop(df)
        ts.append(time.perf_counter() - t0)
    return {"name": name, "min": round(min(ts), 3), "reps": [round(t, 3) for t in ts]}


bg = F.expr(T._ngram_strings(T.sql_ident(T.TOKS), 2))
tg = F.expr(T._ngram_strings(T.sql_ident(T.TOKS), 3))
# mirror repetition_stats exactly: the trigram array MATERIALIZES once
# (a probe passing the raw tg Column would rebuild trigrams per
# reference and overstate dup3 ~3x)
base3 = base.withColumn("__tg3", tg)
tg3 = F.col("__tg3")

probes = [
    # anchor: tokenization alone (repeated last too)
    ("tokenize_only", base.select("doc_id", F.size(toks).alias("n"))),
    ("bigram_build", base.select("doc_id", F.size(bg).alias("n"))),
    ("bigram_sort", base.select("doc_id", F.size(F.array_sort(bg)).alias("n"))),
    (
        "full_top2gram",
        base3.select("doc_id", T.repetition_cols("text", toks=T.TOKS, tg3="__tg3")[0]),
    ),
    ("trigram_build", base.select("doc_id", F.size(tg).alias("n"))),
    (
        "trigram_distinct",
        base3.select("doc_id", F.size(F.array_distinct(tg3)).alias("n")),
    ),
    (
        "full_dup3",
        base3.select("doc_id", T.repetition_cols("text", toks=T.TOKS, tg3="__tg3")[1]),
    ),
    (
        "full_maxrun",
        base3.select("doc_id", T.repetition_cols("text", toks=T.TOKS, tg3="__tg3")[2]),
    ),
    (
        "full_repetition_stats",
        base3.select("doc_id", *T.repetition_cols("text", toks=T.TOKS, tg3="__tg3")),
    ),
    ("tokenize_only_again", base.select("doc_id", F.size(toks).alias("n"))),
]

out = [timeit(n, df) for n, df in probes]
for r in out:
    print(f"{r['name']:24s} min={r['min']:6.3f} reps={r['reps']}")

path = os.path.join(os.path.dirname(__file__), "r13_repetition_profile.json")
with open(path, "w") as f:
    json.dump(out, f, indent=1)
print("wrote", path)
