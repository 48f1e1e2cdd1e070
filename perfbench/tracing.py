"""Outside-in tracing of one query: spans around the calls into each
layer, plus Spark's own records of what the action did.

Layers and where their numbers come from:

- construct: the builder call (``core``/``operators``/``functions``/
  ``sources`` Python plus py4j).  Timed around the call; py4j calls made
  by the building thread are counted by wrapping the gateway client's
  ``send_command`` (listener callbacks run on other threads); Spark jobs
  started while it runs (eager jobs, e.g. a kmeans fit) are found by job
  group in the status tracker.
- sources: every ``read_table`` call, timed by wrapping the function
  wherever the package imported it.
- catalyst: analysis/optimization/planning phase times of the action's
  ``QueryExecution`` (``tracker().phases()``), delivered by a
  ``QueryExecutionListener``; plan-shape counts from the SQL status
  store's ``planGraph(executionId)``, which holds the final plan after
  adaptive re-planning.  ``core.diagnostics.plan_census`` is not used:
  it reads the initial adaptive plan, which never shows codegen stages.
- exec: the noop-sink action, timed around the call; jobs, stages,
  tasks, CPU, GC, shuffle, input and spill from the ``AppStatusStore``
  stage data of the action's job group.
- arrow: the Python-worker SQL metrics (data sent to / returned from
  Python workers, time to start / run them) of the action's plan.
- cache: bytes held by persisted tables after the action.

Spans are kept in memory and written out by the caller.
"""

from __future__ import annotations

import re
import sys
import threading
import time

PHASES = ("analysis", "optimization", "planning")

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

_PY_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to run Python workers": "arrow.python_run_s",
    "time to start Python workers": "arrow.python_start_s",
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric, e.g. ``"total (min, med,
    max ...)\\n16.9 KiB (3.9 KiB, ...)"`` -> bytes, ``"1.6 s"`` -> s."""
    line = text.split("\n", 1)[-1]
    m = _METRIC_VALUE.search(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _is_python(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def plan_counts(names: list[str]) -> dict[str, int]:
    return {
        "catalyst.exchanges": sum(n == "Exchange" for n in names),
        "catalyst.broadcasts": sum(n == "BroadcastExchange" for n in names),
        "catalyst.codegen_stages": sum(n.startswith("WholeStageCodegen") for n in names),
        "catalyst.sort_aggregates": sum(n == "SortAggregate" for n in names),
        "catalyst.python_nodes": sum(map(_is_python, names)),
        "catalyst.cached_scans": sum(n == "InMemoryTableScan" for n in names),
    }


class _PhaseListener:
    """QueryExecutionListener implemented through the py4j callback
    server; keeps the phase times of every successful execution."""

    def __init__(self):
        self.events: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):
        ph = qe.tracker().phases()
        self.events.append(
            {p: ph.apply(p).durationMs() / 1e3 for p in PHASES if ph.contains(p)}
        )

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Installs the counting wrappers on a live session, and the phase
    listener between ``attach`` and ``detach``; ``query`` runs one
    builder + action under spans and returns that query's per-layer
    numbers."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.read_table_calls = 0
        self.read_table_s = 0.0
        self._construct = None  # the open construct span, if any
        self._builder = None  # ident of the thread that runs the builder
        self._rt_depth = 0
        self._seq = 0
        self._group = 0

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if self._construct is not None and threading.get_ident() == self._builder:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._wrap_read_table()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _PhaseListener()
        self._listeners = spark._jsparkSession.listenerManager()

    def attach(self):
        """Start receiving phase times; the counting wrappers count only
        inside ``query``."""
        self._listeners.register(self.listener)

    def detach(self):
        self._listeners.unregister(self.listener)

    def _wrap_read_table(self):
        from dask_array_spark import sources

        orig = sources.read_table

        def timed_read_table(*args, **kwargs):
            if self._rt_depth or self._construct is None:
                return orig(*args, **kwargs)
            self._rt_depth += 1
            rec = self.open_span("sources.read_table", self._construct["id"])
            try:
                return orig(*args, **kwargs)
            finally:
                self._rt_depth -= 1
                self.read_table_calls += 1
                self.read_table_s += self.close_span(rec)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if (name.startswith("dask_array_spark") or name == "bench") and getattr(
                mod, "read_table", None
            ) is orig:
                mod.read_table = timed_read_table

    # -- spans ---------------------------------------------------------
    def open_span(self, name, parent=None) -> dict:
        self._seq += 1
        rec = {"id": self._seq, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        return rec

    @staticmethod
    def close_span(rec) -> float:
        rec["end"] = time.perf_counter()
        return rec["end"] - rec["start"]

    # -- Spark's records -------------------------------------------------
    def _drain(self):
        self.jsc.listenerBus().waitUntilEmpty()

    def _job_seconds(self, job_ids) -> float:
        total = 0.0
        for j in job_ids:
            jd = self.store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                total += (
                    jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
                ) / 1e3
        return total

    def _stage_metrics(self, job_ids) -> dict[str, float]:
        stage_ids = set()
        for j in job_ids:
            ids = self.store.job(j).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        m = dict.fromkeys(
            (
                "exec.stages", "exec.tasks", "exec.task_cpu_s", "exec.gc_s",
                "exec.run_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                "exec.input_bytes", "exec.spill_bytes",
            ),
            0.0,
        )
        for sid in stage_ids:
            s = self.store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            m["exec.stages"] += 1
            m["exec.tasks"] += s.numCompleteTasks()
            m["exec.task_cpu_s"] += s.executorCpuTime() / 1e9
            m["exec.gc_s"] += s.jvmGcTime() / 1e3
            m["exec.run_s"] += s.executorRunTime() / 1e3
            m["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
            m["exec.input_bytes"] += s.inputBytes()
            m["exec.spill_bytes"] += s.diskBytesSpilled()
        return m

    def _execution_metrics(self, first: int, count: int) -> dict[str, float]:
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        out.update(plan_counts([]))
        if count <= 0:
            return out
        execs = self.sql.executionsList(first, count)
        for k in range(execs.size()):
            eid = execs.apply(k).executionId()
            nodes = self.sql.planGraph(eid).allNodes()
            values = self.sql.executionMetrics(eid)
            names = []
            for i in range(nodes.size()):
                node = nodes.apply(i)
                names.append(node.name())
                if not _is_python(names[-1]):
                    continue
                metrics = node.metrics()
                for j in range(metrics.size()):
                    metric = metrics.apply(j)
                    key = _PY_METRICS.get(metric.name())
                    if key is None:
                        continue
                    text = values.get(metric.accumulatorId())
                    if text.isDefined():
                        out[key] += parse_metric(text.get())
            for key, v in plan_counts(names).items():
                out[key] += v
        return out

    def _cache_bytes(self) -> float:
        infos = self.jsc.getRDDStorageInfo()
        return float(sum(i.memSize() + i.diskSize() for i in infos))

    # -- one query ---------------------------------------------------------
    def query(self, name, build, run, parent=None) -> dict[str, float]:
        """Build and run one query under spans; return its layer numbers.
        Reading Spark's records happens in ``trace.read`` spans outside
        the construct and exec spans."""
        self._group += 1
        group = f"perfbench-{self._group}"
        q = self.open_span(f"query:{name}", parent)
        calls0, rt_calls0, rt_s0 = self.py4j_calls, self.read_table_calls, self.read_table_s
        self.sc.setJobGroup(f"{group}-construct", name)
        self._builder = threading.get_ident()
        self._construct = self.open_span("construct", q["id"])
        try:
            df = build()
        finally:
            construct_s = self.close_span(self._construct)
            self._construct = None

        out: dict[str, float] = {}
        read = self.open_span("trace.read", q["id"])
        self._drain()
        self.listener.events.clear()
        eager = self.sc.statusTracker().getJobIdsForGroup(f"{group}-construct")
        out["construct.eager_jobs"] = len(eager)
        out["construct.eager_job_s"] = self._job_seconds(eager)
        n_exec = self.sql.executionsCount()
        self.sc.setJobGroup(f"{group}-exec", name)
        self.close_span(read)

        act = self.open_span("exec", q["id"])
        try:
            run(df)
        finally:
            exec_s = self.close_span(act)

        read = self.open_span("trace.read", q["id"])
        self._drain()
        for event in self.listener.events:
            for p, v in event.items():
                out[f"catalyst.{p}_s"] = out.get(f"catalyst.{p}_s", 0.0) + v
        self.listener.events.clear()
        jobs = self.sc.statusTracker().getJobIdsForGroup(f"{group}-exec")
        out["exec.jobs"] = len(jobs)
        out.update(self._stage_metrics(jobs))
        out.update(self._execution_metrics(n_exec, self.sql.executionsCount() - n_exec))
        out["cache.bytes"] = self._cache_bytes()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.close_span(read)
        self.close_span(q)

        out["construct.s"] = construct_s
        out["construct.py4j_calls"] = self.py4j_calls - calls0
        out["sources.read_table_calls"] = self.read_table_calls - rt_calls0
        out["sources.read_table_s"] = self.read_table_s - rt_s0
        out["exec.s"] = exec_s
        for p in PHASES:
            out.setdefault(f"catalyst.{p}_s", 0.0)
        return out
