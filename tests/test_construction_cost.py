"""Driver-side construction cost of the text builders: each returned
Column parses its SQL fragments once (functions/text.py), so building
it takes a handful of py4j calls.  A Column-API fold of the same
expression takes tens to hundreds (the per-bit simhash loop about
250, the quality score about 300), so a bound of a few calls per
returned Column catches one coming back."""

import threading

import pytest
from pyspark.sql import functions as F

from dask_array_spark.functions import dedup as D
from dask_array_spark.functions import governance as G
from dask_array_spark.functions import text as T
from dask_array_spark.streaming.governance import ngram_hash_array

MAX_CALLS = 5

BUILDERS = {
    "simhash_col": lambda: D.simhash_col("text", 32),
    "lang_id_col": lambda: T.lang_id_col("text"),
    "tokens_col": lambda: T.tokens_col("text"),
    "ngram_hash_array": lambda: ngram_hash_array(n=8),
    "split_col": lambda: G.split_col("doc_id"),
    "quality_col": lambda: T.quality_col("text"),
    "token_stats_cols": lambda: T.token_stats_cols("text"),
    "repetition_cols": lambda: T.repetition_cols("text"),
}


@pytest.fixture
def py4j_calls(spark):
    """Counts the py4j commands the test's thread sends, by wrapping
    the gateway client's ``send_command``."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = [0]
    me = threading.get_ident()

    def counting_send(*args, **kwargs):
        if threading.get_ident() == me:
            count[0] += 1
        return send(*args, **kwargs)

    client.send_command = counting_send
    try:
        yield count
    finally:
        client.send_command = send


@pytest.mark.parametrize("name", list(BUILDERS))
def test_builder_is_one_parse(spark, py4j_calls, name):
    BUILDERS[name]()  # the first call may resolve JVM classes
    py4j_calls[0] = 0
    built = BUILDERS[name]()
    n_cols = len(built) if isinstance(built, list) else 1
    assert py4j_calls[0] <= MAX_CALLS * n_cols, (name, py4j_calls[0], n_cols)


def test_column_api_build_skips_call_site_capture(spark, py4j_calls):
    """A Column-API build costs about two py4j calls per operation: 20
    for the 10-operation build below.  With PySpark's DataFrame
    debugging on, every functions/Column call also records its Python
    call site in the JVM (session lookup, conf read, origin set and
    clear), and the same build took 90; ``get_spark`` turns it off."""

    def build():
        a, b = F.col("a"), F.col("b")
        return F.when(a > 2, (a + F.lit(1)) * b).otherwise(F.lit(0)).alias("c")

    build()
    py4j_calls[0] = 0
    build()
    assert py4j_calls[0] <= 30, py4j_calls[0]
