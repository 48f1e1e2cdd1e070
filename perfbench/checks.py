"""Input and output checks, run outside the timed passes.

The input tables (``data/<scale>/*.parquet``) are compared with the row
counts and SHA-256 checksums pinned in ``pinned.json`` before anything
is timed, so a stale or partial copy cannot silently change a workload.

A query with a DuckDB oracle in ``queries.ORACLES`` is compared row by
row with it, using the oracle gate's canonical form: columns in name
order, floats rounded to 9 decimals, rows sorted.  Every other query is
compared with a fingerprint pinned from a known-good commit
(``pinned.json``).  A fingerprint is exact on every non-float column
and compares float columns through two sums with a relative tolerance,
so a different summation order in a parallel aggregate cannot fail it
while a wrong value or a value attached to the wrong row does.  Spark
computes it, so large outputs are never collected.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

FLOAT_RTOL = 1e-7


def tables(data_dir: str) -> list[str]:
    return sorted(f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet"))


def manifest(data_dir: str) -> dict[str, dict]:
    """Row count and SHA-256 of every table file under ``data_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = {}
    for t in tables(data_dir):
        f = os.path.join(data_dir, f"{t}.parquet")
        with open(f, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        try:
            rows = pq.ParquetFile(f).metadata.num_rows
        except pa.ArrowException:  # a partial or damaged file
            rows = None
        out[t] = {"rows": rows, "sha256": digest}
    return out


def stale_tables(data_dir: str, expected: dict[str, dict]) -> list[str]:
    """Tables that are missing, unexpected, or whose row count or
    checksum differs from ``expected``."""
    got = manifest(data_dir) if os.path.isdir(data_dir) else {}
    return sorted(t for t in set(got) | set(expected) if got.get(t) != expected.get(t))


def oracle_results(data_dir: str, sqls: dict[str, str]) -> dict[str, tuple[list, list]]:
    """name -> (lower-cased columns, rows) of each DuckDB oracle query,
    run over views of the tables under ``data_dir``."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in tables(data_dir):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            out[name] = ([d[0].lower() for d in res.description], [tuple(r) for r in res.fetchall()])
        return out
    finally:
        con.close()


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            x = row[i]
            if isinstance(x, bool):
                vals.append(("b", x))
            elif isinstance(x, float):
                vals.append(("f", "nan" if math.isnan(x) else round(x, 9)))
            elif x is None:
                vals.append(("n", None))
            else:
                vals.append(("o", x))
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def oracle_sql(name: str, fn) -> str | None:
    """The DuckDB oracle of ``fn`` when it is the registry entry ``name``."""
    from dask_array_spark import queries as Q

    return Q.ORACLES.get(name) if Q.QUERIES.get(name) is fn else None


def oracle_mismatch(oracle: tuple[list, list], cols: list[str], rows: list[tuple]) -> str | None:
    """None when the engine rows equal the oracle's, else a reason."""
    ocols, orows = oracle
    if sorted(cols) != sorted(ocols):
        return f"columns {cols} != {ocols}"
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} != {len(orows)}"
    bad = sum(a != b for a, b in zip(_canon(rows, cols), _canon(orows, ocols)))
    return f"{bad} mismatched rows" if bad else None


def fingerprint(df) -> dict:
    """Order-free digest of a DataFrame's rows, computed by Spark: the
    row count, the wrapping sum of a 64-bit hash of each row's non-float
    columns, and for every float column its sum, its sum weighted by
    that row hash, and its NULL and NaN counts."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    fields = sorted(df.schema.fields, key=lambda f: f.name.lower())
    floats = [f.name for f in fields if isinstance(f.dataType, (DoubleType, FloatType))]
    keys = [F.col(f.name) for f in fields if f.name not in floats]
    h = F.xxhash64(*keys) if keys else F.lit(0).cast("long")
    w = 1 + F.pmod(h, F.lit(1000)) / 1000
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(h).alias("keys")]
    for i, c in enumerate(floats):
        x = F.col(c).cast("double")
        ok = F.when(~F.isnan(x), x)
        aggs += [
            F.sum(ok).alias(f"s1_{i}"),
            F.sum(ok * w).alias(f"s2_{i}"),
            F.sum(x.isNull().cast("long")).alias(f"null_{i}"),
            F.sum(F.isnan(x).cast("long")).alias(f"nan_{i}"),
        ]
    r = df.agg(*aggs).first()
    return {
        "rows": r["rows"],
        "columns": [f.name.lower() for f in fields],
        "keys": r["keys"],
        "floats": {
            c.lower(): [r[f"s1_{i}"] or 0.0, r[f"s2_{i}"] or 0.0, r[f"null_{i}"], r[f"nan_{i}"]]
            for i, c in enumerate(floats)
        },
    }


def fingerprint_mismatch(got: dict, want: dict | None) -> str | None:
    if want is None:
        return "no pinned fingerprint"
    for field in ("rows", "columns", "keys"):
        if got[field] != want[field]:
            return f"{field} differs"
    if sorted(got["floats"]) != sorted(want["floats"]):
        return "float columns differ"
    for c, (a1, a2, an, anan) in got["floats"].items():
        b1, b2, bn, bnan = want["floats"][c]
        if (an, anan) != (bn, bnan):
            return f"{c}: null/nan counts differ"
        for a, b in ((a1, b1), (a2, b2)):
            if not math.isclose(a, b, rel_tol=FLOAT_RTOL, abs_tol=1e-9):
                return f"{c}: sum {a!r} != {b!r}"
    return None
