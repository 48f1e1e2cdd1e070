"""SparkSession helpers.

The engine itself never creates a session implicitly -- every public
entry point takes an existing ``SparkSession`` (mirroring how the
reference delegates execution to whatever dask scheduler is active,
/root/reference/dask_array/_collection.py:282).  ``get_spark`` is a
convenience for tests / bench only; ``local_frame`` turns small
driver-held rows into a frame; ``release_caches`` frees the fan-out
caches the package persisted.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

# directory of the worker daemon shim (a top-level module, see below)
_WORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker")


def get_spark(
    app_name: str = "dask-array-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local session tuned like a scaled-down cluster.

    Defaults follow the driver contract: ``local[$SPARK_GRAFT_CPUS]``
    (default 32) with ``spark.sql.shuffle.partitions`` matched to core
    count.  AQE stays on so plans re-shape at runtime the way they
    would on a real cluster (partition coalescing, skew joins, dynamic
    broadcast) -- the reference's rechunk/unify planners are subsumed
    by exactly these features (SURVEY.md section 4.2).

    The Python worker daemon runs ``_worker/dask_array_spark_daemon.py``
    instead of ``pyspark.daemon``.  Spark puts ``pyspark.zip``, the py4j
    zip and the spark-core jar on the worker path, and every task's
    ``importlib.invalidate_caches()`` then re-reads each zip importer's
    archive directory (120-145 ms per task on a 4-core host).  The shim
    drops those archives so workers import the installed, byte-compiled
    pyspark the driver uses; when no installed pyspark is found, or its
    version differs from the archive's, it keeps Spark's path as is.

    PySpark's DataFrame debugging is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``).  With it
    on, every ``pyspark.sql.functions``/Column call records its Python
    call site in the JVM: an active-session lookup, a conf read, a
    reflective ``PySparkCurrentOrigin`` set and clear, and a stack walk
    that tries to import ``ipykernel`` (a failed import costs about
    25 us per call where it is not installed).  That is most of the
    py4j traffic of a Column-API build (a traced ``registry_sf001``
    pass: 5,763 -> 2,253 py4j calls).  What is lost is the Python file
    and line in the DataFrame context of a runtime error; the Catalyst
    error itself is unchanged.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas boundary (block-form
        # kernels, compute()); row-at-a-time transfer is never used.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The engine encodes NaN as NULL and does its own propagation
        # (NumPy semantics, SURVEY.md section 7 "hard parts"); ANSI
        # error-on-overflow/div-zero would diverge from both NumPy and
        # the DuckDB oracle, so run in permissive mode.
        .config("spark.sql.ansi.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as BIGINT nanoseconds and convert in
        # sources.ingest.events_with_ts (driver-owned testdata, TESTDATA.md).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers import the installed pyspark, not
        # $SPARK_HOME/python/lib/pyspark.zip (see the docstring)
        .config("spark.python.daemon.module", "dask_array_spark_daemon")
        .config("spark.executorEnv.PYTHONPATH", _WORKER_DIR)
        # no per-call Python call-site capture (see the docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """The driver-held ``rows`` (tuples in the order of the DDL
    ``schema``) as a DataFrame that plans as a ``LocalTableScan``.

    ``spark.createDataFrame(rows, schema)`` over a Python list plans a
    ``Scan ExistingRDD`` over a PythonRDD, so every execution of the
    frame starts a Python worker to unpickle the rows (a 12-row frame
    on a 4-core host: 86 ms per noop execution, against 15 ms for this
    form).  Here the rows go over as one Arrow table and stay in the
    JVM."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


# Fan-out caches the package persisted (the scalable scans' sorted
# copy and the functions tier's fan-out tables, listed in the persist
# policy note of functions/__init__.py), tracked so a
# long-lived service has an explicit cleanup path.  Keyed per
# SparkSession and guarded by a lock: a process hosting several
# sessions -- or several threads driving pipelines on one session --
# must not have one pipeline's release_caches() unpersist caches still
# backing another session's lazy frames.
_TRACKED_CACHES: dict[int, list[DataFrame]] = {}
_TRACKED_LOCK = threading.Lock()


def _track_persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered for ``release_caches``."""
    cached = df.persist()
    with _TRACKED_LOCK:
        _TRACKED_CACHES.setdefault(id(df.sparkSession), []).append(cached)
    return cached


def release_caches(
    blocking: bool = False, spark: SparkSession | None = None
) -> int:
    """Unpersist every fan-out cache the package created (the sorted
    axis copy behind a scalable ``cumsum``/``push`` and the dedup,
    text and similarity fan-out tables that returned plans read) --
    for one session when ``spark`` is given,
    else for all sessions this process created caches on.

    A long-lived service processing distinct batches calls this
    between batches; one-shot pipelines never need to (the caches die
    with the app).  Caches are tracked PER SESSION, so a multi-tenant
    process releasing one tenant's session leaves the others' caches
    warm; within one session the caller still owns the ordering
    contract: only call AFTER fully consuming the returned frames --
    the caches back those lazy plans, so an un-consumed frame
    recomputes its lineage (correct, just slower).  Returns the number
    of cache entries released."""
    with _TRACKED_LOCK:
        if spark is None:
            drained = [d for lst in _TRACKED_CACHES.values() for d in lst]
            _TRACKED_CACHES.clear()
        else:
            drained = _TRACKED_CACHES.pop(id(spark), [])
    n = 0
    for df in drained:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped -- nothing to release
    return n
