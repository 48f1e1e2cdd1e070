"""Array-aware diagnostics (reference
/root/reference/dask_array/_diagnostics.py:43 ``chunk_report``, :285
``explain``).

The reference reports how its simplify -> lower -> fuse pipeline
rewrites the expression graph and how chunks are laid out.  Here the
expression graph IS the Catalyst plan, so the analogues are:

- ``chunk_report``: per-array metadata -- shape/dtype, the optimizer's
  size estimate, leaf scans, and exchange (shuffle) count.  Metadata
  only; nothing computes.
- ``explain``: per-phase view of one array's query: logical vs
  optimized node counts (Catalyst's simplify), a physical-operator
  census (exchanges, joins, aggregates, windows, generates, Python
  evals), whole-stage-codegen span count (Catalyst's fuse), and the
  pushed-filter / read-schema lines proving scan pushdown.
"""

from __future__ import annotations

from contextlib import contextmanager

import re
from collections import Counter

from .array import Array

__all__ = [
    "chunk_report",
    "explain",
    "expr_flow",
    "expr_table",
    "plan_census",
    "trace_rewrites",
    "Trace",
]

_PHYS_OPS = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "Sort",
    "Generate",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "Scan parquet",
)


def _count_nodes(plan_str: str) -> int:
    return sum(1 for line in plan_str.splitlines() if line.strip())


def plan_census(df) -> dict:
    """Operator census of the physical plan (metadata only).

    Adaptive execution re-plans a query as it runs.  Once ``df`` has
    executed (``collect``/``toPandas``), the census counts that final
    plan, ``WholeStageCodegen`` stages included.  Before that only the
    initial plan exists; it holds no codegen stages, so the
    ``WholeStageCodegen`` key is omitted rather than reported as 0."""
    plan = df._jdf.queryExecution().executedPlan()
    phys = plan.toString()
    final = not phys.startswith("AdaptiveSparkPlan")
    if phys.startswith("AdaptiveSparkPlan isFinalPlan=true"):
        final, phys = True, plan.executedPlan().toString()
    counts = Counter()
    for line in phys.splitlines():
        for op in _PHYS_OPS:
            # operator name at the start of the node label
            if re.search(rf"(\+\-|\:\-|^)\s*\*?\(?\d*\)?\s*{re.escape(op)}", line):
                counts[op] += 1
                break
    if final:
        counts["WholeStageCodegen"] = len(set(re.findall(r"\*\((\d+)\)", phys)))
    return dict(counts)


def chunk_report(*arrays: Array, limit: int = 8) -> str:
    """Layout summary across arrays (reference chunk_report,
    _diagnostics.py:43): shape, dtype, the Catalyst size estimate of
    the optimized plan, leaf-scan and exchange counts.  Sorted by
    estimated size, largest first."""
    rows = []
    for a in arrays:
        qe = a.df._jdf.queryExecution()
        opt = qe.optimizedPlan()
        try:
            size = int(opt.stats().sizeInBytes())
        except Exception:
            size = -1
        census = plan_census(a.df)
        rows.append(
            (
                size,
                a.shape,
                a.dtype.simpleString(),
                census.get("Scan parquet", 0),
                census.get("Exchange", 0) + census.get("BroadcastExchange", 0),
            )
        )
    rows.sort(key=lambda r: -r[0])
    lines = [f"chunk report: {len(rows)} arrays"]
    for size, shape, dtype, scans, exchanges in rows[:limit]:
        sz = f"{size:,} B(est)" if size >= 0 else "unknown"
        lines.append(
            f"  shape={shape} dtype={dtype} ~{sz} scans={scans} exchanges={exchanges}"
        )
    return "\n".join(lines)


def explain(a: Array) -> str:
    """Phase report for one array (reference explain,
    _diagnostics.py:285): Catalyst's analyzed -> optimized node delta
    (its simplify), the physical operator census, codegen span count
    (its fuse), and the scan pushdown evidence.  Metadata only."""
    qe = a.df._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    optimized = qe.optimizedPlan().toString()
    formatted = a.df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    phys = qe.explainString(formatted)
    census = plan_census(a.df)

    lines = [
        f"Array<shape={a.shape}, dtype={a.dtype.simpleString()}>",
        f"logical nodes: analyzed={_count_nodes(analyzed)} "
        f"optimized={_count_nodes(optimized)} "
        f"(delta={_count_nodes(analyzed) - _count_nodes(optimized)})",
        "physical census: "
        + ", ".join(f"{k}={v}" for k, v in sorted(census.items()) if v),
    ]
    pushed = [
        l.strip() for l in phys.splitlines()
        if "PushedFilters" in l or "ReadSchema" in l
    ]
    if pushed:
        lines.append("scan pushdown:")
        lines.extend(f"  {p}" for p in pushed[:8])
    return "\n".join(lines)


class Trace:
    """Result of :func:`trace_rewrites`: which optimizer rules fired
    inside the block (reference Trace, _diagnostics.py:140)."""

    def __init__(self) -> None:
        self.report: str = ""

    @property
    def rules(self) -> list[str]:
        """Rule names that ran at least once, busiest first.  Parsed
        from ``dumpTimeSpent``'s documented table layout: everything
        after the ``Rule ... Effective Time / Total Time ...`` header
        line is one rule row whose first whitespace-delimited token is
        the fully-qualified rule name."""
        out = []
        in_table = False
        for line in self.report.splitlines():
            stripped = line.strip()
            if not in_table:
                if stripped.startswith("Rule") and "Effective Time" in stripped:
                    in_table = True
                continue
            if stripped:
                out.append(stripped.split()[0])
        return out

    def __repr__(self) -> str:
        return f"trace: {len(self.rules)} rules fired"


@contextmanager
def trace_rewrites(spark):
    """Record every Catalyst rule that fires inside the block
    (reference trace_rewrites, _diagnostics.py:177, which wraps the
    expression-rewrite hooks; here the optimizer IS Catalyst, so the
    JVM ``RuleExecutor`` metrics are the ground truth).  Resets the
    rule metrics on entry and captures the per-rule invocation/effect
    dump on exit.

    Caveat: the ``RuleExecutor`` metrics registry is JVM-GLOBAL --
    rules fired by ANY concurrently-planning query on the shared
    SparkSession (another thread, a streaming micro-batch trigger)
    land in the same counters and will appear in the report.  Use on
    a quiet session when attribution matters; this mirrors the
    reference, whose rewrite hooks are process-global too.

    >>> with trace_rewrites(spark) as t:       # doctest: +SKIP
    ...     df.filter("x > 0").select("x").collect()
    >>> "PushDownPredicates" in t.report       # doctest: +SKIP
    True
    """
    executor = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    executor.resetMetrics()
    t = Trace()
    try:
        yield t
    finally:
        t.report = executor.dumpTimeSpent()


def expr_flow(a: Array) -> str:
    """The operator dataflow of an array's plan as an indented tree
    (reference expr_flow, _expr_flow.py:554, renders the expression
    graph; the optimized logical plan is that graph here)."""
    return a.df._jdf.queryExecution().optimizedPlan().toString()


def expr_table(a: Array) -> str:
    """Numbered operator table with per-operator detail (reference
    expr_table, _visualize.py:162; Spark's formatted explain is
    exactly this form: an indexed tree plus a keyed detail section)."""
    formatted = a.df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return a.df._jdf.queryExecution().explainString(formatted)
