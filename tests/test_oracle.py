"""Replicates the driver's correctness gate locally: run every
registered query on the engine AND its DuckDB oracle, canonicalize
(sort rows, round doubles to 9 decimals) and compare exactly.

Set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the driver-scale
check (default sf0.001 for speed).
"""

from __future__ import annotations

import math

import duckdb
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            x = row[i]
            if isinstance(x, bool):
                vals.append(("b", x))
            elif isinstance(x, float):
                if math.isnan(x):
                    vals.append(("f", "nan"))
                else:
                    vals.append(("f", round(x, 9)))
            elif x is None:
                vals.append(("n", None))
            else:
                vals.append(("o", x))
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def _query_names():
    from dask_array_spark import queries as Q

    return sorted(Q.QUERIES)


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(name, spark, sf_dir, ddb):
    from dask_array_spark import queries as Q

    sdf = Q.QUERIES[name](spark, sf_dir)
    engine_cols = [c.lower() for c in sdf.columns]
    engine_rows = [tuple(r) for r in sdf.collect()]

    if name not in Q.ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert len(engine_rows) >= 0
        return
    res = ddb.execute(Q.ORACLES[name])
    oracle_cols = [d[0].lower() for d in res.description]
    oracle_rows = res.fetchall()

    assert sorted(engine_cols) == sorted(oracle_cols), (
        f"{name}: columns {engine_cols} != {oracle_cols}"
    )
    assert len(engine_rows) == len(oracle_rows), (
        f"{name}: rowcount {len(engine_rows)} != {len(oracle_rows)}"
    )
    ce = _canon(engine_rows, engine_cols)
    co = _canon([tuple(r) for r in oracle_rows], oracle_cols)
    mismatches = [(a, b) for a, b in zip(ce, co) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"


def test_registry_is_exactly_the_final_order():
    from dask_array_spark import queries as Q

    assert len(Q.QUERIES) == 58
    assert list(Q.QUERIES) == Q._FINAL_ORDER
    assert set(Q.ORACLES) <= set(Q.QUERIES)
    assert list(Q.ORACLES) == [n for n in Q._FINAL_ORDER if n in Q.ORACLES]
    with pytest.raises(ValueError):
        Q.query("not_in_final_order", "SELECT 1")
    with pytest.raises(ValueError):
        Q.query("matmul_gram")
