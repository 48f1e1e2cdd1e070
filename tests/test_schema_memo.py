"""read_table's schema memo must never serve a stale schema, and it
must stay bounded."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from dask_array_spark.sources import ingest


def test_schema_memo_sees_in_place_part_rewrite(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert ingest.read_table(spark, str(tmp_path), "t").columns == ["a"]
    # rewrite the same part file in place: the directory entry and its
    # mtime stay as they were, only the file's size and mtime change
    dir_mtime = table.stat().st_mtime_ns
    pq.write_table(pa.table({"a": [1], "b": [2.0]}), part)
    os.utime(table, ns=(dir_mtime, dir_mtime))
    df = ingest.read_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(1, 2.0)]


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(ingest, "_SCHEMA_MEMO", ingest.OrderedDict())
    monkeypatch.setattr(ingest, "_SCHEMA_MEMO_MAX", 2)
    for name in ("t0", "t1", "t2"):
        pq.write_table(pa.table({name: [1]}), tmp_path / f"{name}.parquet")
        assert ingest.read_table(spark, str(tmp_path), name).columns == [name]
    assert len(ingest._SCHEMA_MEMO) == 2
    # the oldest table fell out; the newest two are still memoized
    assert [k[0].rsplit("/", 1)[-1] for k in ingest._SCHEMA_MEMO] == [
        "t1.parquet",
        "t2.parquet",
    ]
