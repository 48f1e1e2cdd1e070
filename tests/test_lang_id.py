"""Marker-token language ID (functions/text.py::lang_id_col) on
hostile rows: NULL, empty and blank text, count ties broken
alphabetically, markers shared between languages, and the 0-score
'und' rule.  Corpus-wide values are checked against DuckDB by the
``text_lang_id`` oracle."""

from dask_array_spark.functions.text import TOKS, lang_id, lang_id_col, with_tokens

HOSTILE = [
    (1, None, "und"),  # size(NULL) = -1 scores below the 0 init
    (2, "", "und"),
    (3, "   ", "und"),
    (4, "the a of and", "en"),
    (5, "le la et les der die und das", "de"),  # de/fr tie at 4
    (6, "de shi he zai", "zh"),  # 'de' also a zh marker: zh 4 > 1
    (7, "la la la", "es"),  # 'la' is an es and a fr marker
    (8, "nothing matches here at all", "und"),
    (9, "the le el der de", "de"),  # five-way tie at 1
    (10, "x " * 500 + "the", "en"),
]


def test_lang_id_hostile_rows_pinned(spark):
    df = spark.createDataFrame(
        [r[:2] for r in HOSTILE], "doc_id long, text string"
    )
    want = {i: lang for i, _, lang in HOSTILE}
    assert dict(map(tuple, lang_id(df).collect())) == want
    got = with_tokens(df).select(
        "doc_id",
        lang_id_col("text", toks=TOKS).alias("shared"),
        lang_id_col("text").alias("own"),
    ).collect()
    for r in got:
        assert r["shared"] == r["own"] == want[r["doc_id"]], r["doc_id"]
