"""Array-aware diagnostics (reference _diagnostics.py:43-285):
chunk_report / explain must describe a 3-op chain without computing
anything."""

import numpy as np


def test_explain_three_op_chain(spark, rng):
    from dask_array_spark import chunk_report, explain, from_numpy
    from dask_array_spark.operators import reductions as R

    x = from_numpy(spark, rng.normal(size=(40, 5)))
    y = ((x * 2.0) + 1.0)
    z = R.nansum(y, axis=0)

    report = explain(z)
    assert "Array<shape=(5,)" in report
    assert "logical nodes:" in report
    assert "physical census:" in report
    assert "HashAggregate" in report

    cr = chunk_report(x, y, z)
    assert "chunk report: 3 arrays" in cr
    assert "shape=(40, 5)" in cr and "shape=(5,)" in cr


def test_explain_shows_scan_pushdown(spark, sf_dir):
    from dask_array_spark import explain, from_table_column, read_table

    li = read_table(spark, sf_dir, "lineitem").filter("l_orderkey < 100")
    arr = from_table_column(
        li, "l_orderkey * 8 + l_linenumber", "l_extendedprice"
    )
    report = explain(arr)
    assert "scan pushdown:" in report
    assert "ReadSchema" in report


def test_plan_census_counts_exchange(spark, rng):
    from dask_array_spark import from_numpy, plan_census
    from dask_array_spark.operators import reductions as R

    x = from_numpy(spark, rng.normal(size=(100,)))
    s = R.nansum(x, axis=None)
    census = plan_census(s.df)
    assert census.get("HashAggregate", 0) >= 1


def test_diagnostics_never_compute(spark, rng):
    """explain/chunk_report are metadata-only: a poisoned kernel in
    the plan must not run."""
    from dask_array_spark import chunk_report, explain, from_numpy
    from dask_array_spark.core.array import Array

    x = from_numpy(spark, np.arange(10.0))

    def boom(it):
        raise AssertionError("diagnostics must not execute the plan")

    bad = Array(
        x.df.mapInPandas(boom, schema="i0 long, v double"), (10,)
    )
    explain(bad)
    chunk_report(bad)


def test_trace_rewrites_captures_catalyst_rules(spark):
    """The rewrite trace reports real optimizer rules that fired for
    a plan the optimizer must collapse (projection fusion)."""
    import numpy as np

    import dask_array_spark.api as da

    x = da.from_numpy(spark, np.arange(50.0))
    with da.trace_rewrites(spark) as t:
        float(da.sum((x * 2) + 1).compute())
    assert "CollapseProject" in t.report
    assert len(t.rules) > 0
    assert "rules fired" in repr(t)


def test_expr_flow_and_table(spark):
    import numpy as np

    import dask_array_spark.api as da

    x = da.from_numpy(spark, np.arange(10.0))
    flow = da.expr_flow(x + 1)
    assert "Project" in flow or "LocalRelation" in flow
    table = da.expr_table(x + 1)
    assert "(1) " in table  # numbered operator listing


def test_plan_census_counts_final_plan(spark):
    """Before execution only the initial adaptive plan exists and the
    codegen count is omitted; after ``collect`` the census reads the
    final plan, whose two aggregation levels run as codegen stages."""
    from dask_array_spark import plan_census

    df = (
        spark.range(1000)
        .selectExpr("id % 10 AS a", "id")
        .groupBy("a")
        .sum("id")
        .groupBy()
        .count()
    )
    before = plan_census(df)
    assert before["HashAggregate"] == 4
    assert "WholeStageCodegen" not in before
    df.collect()
    after = plan_census(df)
    assert after["HashAggregate"] == 4
    assert after["Exchange"] == 2
    assert after["WholeStageCodegen"] >= 2
