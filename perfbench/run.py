"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload training_sf01 --seed 1 --seconds 4 --trace 0

Run from the repository root.  One driver process on ``local[nproc]``
runs the workload's queries as a closed loop with one client: each
query is built through
the package's public builders, then run through the noop sink, and the
next starts when it ends.  A pass is one run of every query of the
workload, in an order drawn from ``--seed``.

Untraced run (``--trace 0``), in order:

0. the input tables under ``data/`` are checked against ``pinned.json``;
1. set-up: session start, a parquet read and a Python-worker start;
2. the output check (untimed), the first pass of the fresh session: every
   query collected and compared with its DuckDB oracle or pinned
   fingerprint (``checks.py``);
3. the workload's untimed warm-up passes (``workloads.Workload.warmup``);
4. warm passes for ``--seconds``, at least ``MIN_PASSES``;
5. two more set-ups, each after stopping the session, so that
   ``setup_s`` is the median of three.

Metrics: ``setup_s``, ``warm_pass_s`` (median pass), ``warm_geomean_s``
(geometric mean over queries of each query's median warm time) and
``peak_rss_mb`` (driver JVM plus this process, with the JVM's heap
counted by its peak use).  Queries that raise or fail their check are
counted in ``failed``, against ``attempted`` query executions.

Traced run (``--trace 1``): steps 0-1, the cold pass (the first pass of
the fresh session, timed: ``cold.pass_s``), step 2, then for
``--seconds`` (at least two pairs) an untraced warm pass and a pass
under ``tracing.Tracer``, in the order untraced, traced, traced,
untraced, ...; prints the per-layer metrics (median over traced passes
of each pass's total) and the tracing overhead (traced minus untraced
median pass, both wall time).

Every file the run writes stays under ``perfbench/.state``: Spark's
scratch space and a JSON report per run, holding the environment,
per-query times and, when traced, the spans.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import resource
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
SETUPS = 3
MIN_PASSES = 3
DRIVER_MEM = "2g"
YOUNG_MEM = "256m"  # fixed, so the young pools' peak use is the same in every run
# The JIT compiles a method after a fifth of its default invocation
# counts.  With the defaults, a registry pass was still getting faster
# at the session's eighth pass (7.3 s down to 3.4 s); with this, passes
# settle by about the fourth.  A twentieth made passes slower and more
# scattered.
JIT_SCALING = 0.2
MIN_PAIRS = 2  # of untraced and traced passes in a traced run
ACCOUNTED_MIN = 0.9  # construct.s + exec.s over the traced warm pass
STOLEN_MAX = 0.05  # share of CPU time the host may steal before a run counts as loaded


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _summary(values):
    """Median, the highest percentile with at least ten samples above
    it (left out when there are too few), and the sample count."""
    vs = sorted(values)
    n = len(vs)
    out = {"median": statistics.median(vs), "n": n}
    if n > 10:
        q = math.floor(100 * (n - 10) / n)
        out[f"p{q}"] = vs[min(n - 1, math.ceil(q / 100 * n) - 1)]
    return out


def _cpu_ticks():
    """Machine-wide CPU ticks so far: (total, idle + iowait, stolen by the host)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return sum(t), t[3] + t[4], t[7]


def _cpu_use(before, after):
    """Cores kept busy by every process in the guest, and the share of
    CPU time the host stole, between two ``_cpu_ticks`` samples."""
    total = max(after[0] - before[0], 1)
    idle, stolen = after[1] - before[1], after[2] - before[2]
    return (os.cpu_count() or 1) * (total - idle - stolen) / total, stolen / total


def _environment(seed):
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    nproc = os.cpu_count() or 1
    ticks = _cpu_ticks()
    time.sleep(0.5)
    busy, stolen = _cpu_use(ticks, _cpu_ticks())
    return {
        "nproc": nproc,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        # the load average still counts a run that just ended; the last
        # half second shows what this run competes with: other processes,
        # and a host that gives the machine's CPUs to other guests
        "busy_cores_at_start": round(busy, 2),
        "stolen_at_start": round(stolen, 3),
        "loaded_at_start": busy > nproc / 4 or stolen > STOLEN_MAX,
        "python": platform.python_version(),
        "git_sha": sha,
        "seed": seed,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def _prepare_process_env():
    """Point every scratch path of Spark, the JVM and Python workers into
    ``.state`` and make the package importable in Python workers."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    tempfile.tempdir = tmp
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # every JVM, the launcher's too: temp files under .state, no hsperfdata
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the driver's heap is fixed and touched at start, so that its
        # resident size does not depend on when the collector chose to
        # grow it; peak_rss_mb counts the heap by its peak use instead
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Xms{DRIVER_MEM} -Xmn{YOUNG_MEM} -XX:+AlwaysPreTouch'
            f' -XX:+UseG1GC -XX:CompileThresholdScaling={JIT_SCALING}"'
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    # local[nproc] whatever the caller's environment says
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)


def data_dir(w):
    return os.path.join(HERE, "data", w.data)


def _start_session(path):
    from dask_array_spark.session import get_spark
    from dask_array_spark.sources import read_table

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    read_table(spark, path, "documents").count()
    _noop(spark.range(0, 1000, 1, 4).mapInPandas(_identity, schema="id long"))
    return spark, time.perf_counter() - t0


def _shutdown(spark):
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _heap_pools(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def _reset_heap_peak(spark):
    """Collect the heap and restart the pools' peak-use counters, so that
    the peak is that of the timed passes."""
    spark._jvm.java.lang.System.gc()
    for p in _heap_pools(spark):
        p.resetPeakUsage()


def _memory_mb(spark):
    """The parts of ``peak_rss_mb``, in MB: the peak use of each heap
    pool since ``_reset_heap_peak``, the driver JVM's peak resident
    memory outside its heap, and this process's peak resident memory.
    The pre-touched heap is resident whole, so the JVM's own peak RSS
    would not show what the queries kept in it."""
    jvm = spark._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    out = {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in _heap_pools(spark)}
    out["jvm_outside_heap"] = max(jvm_kb - heap.getCommitted() // 1024, 0) / 1024
    out["python"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return out


class Runner:
    def __init__(self, spark, data_dir, fns, seed):
        self.spark = spark
        self.data_dir = data_dir
        self.fns = fns
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []

    def one_pass(self, tracer=None, parent=None):
        """Run every query once in a seeded order; return the pass's wall
        time, per-query wall times and, when traced, per-query layer
        numbers.  A traced pass's times include the tracer's reads."""
        order = sorted(self.fns)
        self.rng.shuffle(order)
        times, layers = {}, {}
        start = time.perf_counter()
        for name in order:
            fn = self.fns[name]
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                if tracer is None:
                    _noop(fn(self.spark, self.data_dir))
                else:
                    layers[name] = tracer.query(
                        name, lambda: fn(self.spark, self.data_dir), _noop, parent
                    )
            except Exception:
                self.failures.append((name, traceback.format_exc(limit=3)))
                traceback.print_exc()
            times[name] = time.perf_counter() - t0
        return time.perf_counter() - start, times, layers

    def passes(self, seconds, min_passes):
        out = []
        end = time.perf_counter() + seconds
        while len(out) < min_passes or time.perf_counter() < end:
            out.append(self.one_pass())
        return out

    def traced_pass(self, tracer):
        tracer.attach()
        span = tracer.open_span("pass")
        try:
            return self.one_pass(tracer, span["id"])
        finally:
            tracer.close_span(span)
            tracer.detach()

    def paired_passes(self, seconds, min_pairs, tracer):
        """Pairs of an untraced and a traced pass, in the order untraced,
        traced, traced, untraced, ..., so that a session that is still
        getting faster does not show as tracing overhead; returns
        (untraced, traced)."""
        untraced, traced = [], []
        end = time.perf_counter() + seconds
        while len(traced) < min_pairs or time.perf_counter() < end:
            if len(traced) % 2:
                traced.append(self.traced_pass(tracer))
                untraced.append(self.one_pass())
            else:
                untraced.append(self.one_pass())
                traced.append(self.traced_pass(tracer))
        return untraced, traced

    def check(self, workload, pinned):
        """Compare every query's output with its DuckDB oracle or pinned
        fingerprint; mismatches go into ``failures``.  Returns the time
        each query's check took."""
        import checks

        want = pinned["fingerprints"].get(workload, {})
        sqls = {n: checks.oracle_sql(n, fn) for n, fn in self.fns.items()}
        sqls = {n: sql for n, sql in sqls.items() if sql}
        times = {}
        # DuckDB answers the oracles on another thread while Spark runs
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(checks.oracle_results, self.data_dir, sqls)
            for name in sorted(self.fns):
                fn = self.fns[name]
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    df = fn(self.spark, self.data_dir)
                    if name in sqls:
                        cols = [c.lower() for c in df.columns]
                        rows = [tuple(r) for r in df.collect()]
                        why = checks.oracle_mismatch(oracles.result()[name], cols, rows)
                    else:
                        why = checks.fingerprint_mismatch(checks.fingerprint(df), want.get(name))
                except Exception:
                    why = traceback.format_exc(limit=3)
                if why:
                    self.failures.append((name, f"check: {why}"))
                times[name] = time.perf_counter() - t0
        return times


def _geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def _per_query_medians(passes):
    names = passes[0][1]
    return {n: statistics.median(p[1][n] for p in passes) for n in names}


def _layer_metrics(traced, untraced, cores):
    """Median over traced passes of each pass's per-layer totals; the
    traced pass is wall time, the tracer's own reads included."""
    per_pass = []
    for total, _times, layers in traced:
        agg: dict[str, float] = {}
        for q in layers.values():
            for k, v in q.items():
                # persisted tables outlive the query: the pass holds the largest total
                agg[k] = max(agg.get(k, 0.0), v) if k == "cache.bytes" else agg.get(k, 0.0) + v
        agg["exec.core_util"] = agg.pop("exec.run_s", 0.0) / max(agg.get("exec.s", 0.0) * cores, 1e-9)
        agg["trace.warm_pass_s"] = total
        agg["trace.accounted_frac"] = (agg.get("construct.s", 0.0) + agg.get("exec.s", 0.0)) / total
        per_pass.append(agg)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    out["trace.overhead_s"] = out["trace.warm_pass_s"] - statistics.median(p[0] for p in untraced)
    return out


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, HERE]
    import checks
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import dask_array_spark  # noqa: F401  -- the program under test
        import bench  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    with open(os.path.join(HERE, "pinned.json")) as f:
        pinned = json.load(f)
    w = WORKLOADS[args.workload]
    marks = {"start": time.perf_counter()}
    path = data_dir(w)
    stale = checks.stale_tables(path, pinned["data"][w.data])
    if stale:
        print(f"perfbench: tables under {path} differ from pinned.json: {stale}", file=sys.stderr)
        return 3
    _prepare_process_env()
    env = _environment(args.seed)
    ticks = _cpu_ticks()

    from workloads import builders

    from tracing import Tracer

    report = {"workload": args.workload, "trace": args.trace, "env": env}
    marks["data"] = time.perf_counter()
    setups = []
    spark, s = _start_session(path)
    setups.append(s)
    env["spark"] = spark.version
    env["java"] = spark._jvm.java.lang.System.getProperty("java.version")
    runner = Runner(spark, path, builders(w), args.seed)
    if args.trace:
        cold, report["cold_query_s"], _ = runner.one_pass()
        marks["cold"] = time.perf_counter()
    report["check_query_s"] = runner.check(args.workload, pinned)
    marks["check"] = time.perf_counter()

    if args.trace:
        tracer = Tracer(spark)
        untraced, traced = runner.paired_passes(args.seconds, MIN_PAIRS, tracer)
        metrics = _layer_metrics(traced, untraced, tracer.cores)
        metrics["cold.pass_s"] = cold
        if metrics["trace.accounted_frac"] < ACCOUNTED_MIN:
            runner.failures.append(
                ("trace", f"construct.s + exec.s cover {metrics['trace.accounted_frac']:.3f}"
                 f" of the traced pass, under {ACCOUNTED_MIN}")
            )
        report["untraced_pass_s"] = [p[0] for p in untraced]
        report["traced_pass_s"] = [p[0] for p in traced]
        report["spans"] = tracer.spans
    else:
        report["warmup_pass_s"] = [p[0] for p in runner.passes(0, w.warmup)]
        marks["warmup"] = time.perf_counter()
        _reset_heap_peak(spark)
        warm = runner.passes(args.seconds, MIN_PASSES)
        per_query = _per_query_medians(warm)
        metrics = {
            "warm_pass_s": statistics.median(p[0] for p in warm),
            "warm_geomean_s": _geomean(per_query.values()),
        }
        report["warm_pass_s"] = [p[0] for p in warm]
        report["warm_pass"] = _summary([p[0] for p in warm])
        report["warm_query"] = _summary([t for p in warm for t in p[1].values()])
        report["warm_query_median_s"] = per_query
        report["warm_query_s"] = [p[1] for p in warm]

    marks["warm"] = time.perf_counter()
    if not args.trace:
        report["peak_rss_mb_parts"] = _memory_mb(spark)
        metrics["peak_rss_mb"] = sum(report["peak_rss_mb_parts"].values())
    for _ in range(0 if args.trace else SETUPS - 1):
        spark.stop()
        spark, s = _start_session(path)
        setups.append(s)
    marks["setups"] = time.perf_counter()
    _shutdown(spark)
    marks["shutdown"] = time.perf_counter()
    report["phase_end_s"] = {k: v - marks["start"] for k, v in marks.items()}
    if not args.trace:
        metrics["setup_s"] = statistics.median(setups)
    report["setup_s"] = setups
    env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    env["stolen_during_run"] = round(_cpu_use(ticks, _cpu_ticks())[1], 3)
    report["failures"] = runner.failures

    units = _units(args.trace)
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)
    path = os.path.join(
        STATE, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump({**report, "result": result}, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in report.items() if k != "spans"}, default=str))
    print(json.dumps(result))
    return 0


def _units(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
