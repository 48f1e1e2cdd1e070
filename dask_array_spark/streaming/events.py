"""Event-stream operators over the ``events`` table.

Additive scope beyond the reference (which is strictly batch --
SURVEY.md section 2.12): tumbling / sliding / session windows and
stateful-style sessionization, each in two forms:

- a BATCH form on exact nanosecond epochs (``ts_ns``), expressible in
  ANSI SQL for the DuckDB oracle, and
- a STRUCTURED STREAMING form (``readStream`` + ``window()`` /
  ``session_window()`` + ``withWatermark``) exercised in tests via the
  file source -> memory sink, proving the same logic runs incrementally
  with late-data handling.

Batch windows use integer MICROSECOND arithmetic (``ts_ns DIV 1000``,
exact integer floor-div -- no double rounding on epoch-scale int64)
because the DuckDB oracle sees the parquet timestamps at microsecond
precision (``epoch_us(ts)``); event values aggregate through integer
cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _read_parquet_stream

__all__ = [
    "tumbling_agg",
    "sliding_agg",
    "sessionize",
    "stream_tumbling_counts",
    "stream_sliding_counts",
    "stream_session_counts",
    "stream_user_running_totals",
]

US = 1_000_000


def _ts_us():
    # built lazily: constructing a Column at import time crashes
    # before a SparkContext exists
    return F.expr("ts_ns DIV 1000")


def tumbling_agg(events: DataFrame, width_sec: int) -> DataFrame:
    """Tumbling window per event_type: count + value cents sum.
    win = epoch-second of the window start.  One hash aggregation --
    the 100 TB plan is a partial/final agg with no extra exchange."""
    wus = width_sec * US
    win = F.expr(f"((ts_ns DIV 1000) DIV {wus}) * {width_sec}")
    return (
        events.groupBy(win.cast("long").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def sliding_agg(events: DataFrame, width_sec: int, slide_sec: int) -> DataFrame:
    """Sliding windows (width, slide): each event lands in width/slide
    windows -- realized by exploding the window-start sequence per event
    (a generator, no join), then one aggregation.  win = epoch-second of
    the window start."""
    wus, sus = width_sec * US, slide_sec * US
    first = f"greatest((((ts_ns DIV 1000) - {wus}) DIV {sus}) * {sus} + {sus}, 0)"
    last = f"((ts_ns DIV 1000) DIV {sus}) * {sus}"
    starts = F.expr(f"sequence({first}, {last}, {sus})")
    d = events.select(F.explode(starts).alias("ws"))
    return d.groupBy(F.expr(f"ws DIV {US}").cast("long").alias("win")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def sessionize(events: DataFrame, gap_sec: int) -> DataFrame:
    """Gaps-and-islands sessionization per user: a new session starts
    when the gap from the previous event exceeds ``gap_sec``.  Windows
    partitioned by user -> fully parallel across users (the 100 TB
    path: no global ordering anywhere)."""
    from pyspark.sql import Window

    gus = gap_sec * US
    w = Window.partitionBy("user_id").orderBy("tu", "event_id")
    d = events.select("user_id", "event_id", _ts_us().alias("tu"))
    prev = F.lag("tu").over(w)
    new_sess = F.when(prev.isNull() | ((F.col("tu") - prev) > gus), 1).otherwise(0)
    d = d.withColumn("__new", new_sess)
    sess_id = F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    d = d.withColumn("session_id", sess_id.cast("long"))
    return d.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr(f"min(tu) DIV {US}").cast("long").alias("start_s"),
        F.expr(f"max(tu) DIV {US}").cast("long").alias("end_s"),
    )


# -- Structured Streaming forms (tested with file source/memory sink) ----

def _read_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """The events file stream (``_read_parquet_stream``: a parquet file
    or directory) with nanosecond ``ts`` read as BIGINT nanos."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    return _read_parquet_stream(spark, events_path)


def _event_time(stream: DataFrame):
    """Exact-epoch event-time column for any ``ts`` storage: BIGINT
    nanoseconds (nanosAsLong), TIMESTAMP_NTZ (read as naive UTC via a
    timezone-independent timestampdiff from the NTZ epoch literal), or
    TIMESTAMP.  Always yields a session-zone TIMESTAMP whose underlying
    epoch micros are exact, so window()/watermark/unix_timestamp behave
    identically across storage variants."""
    t = dict(stream.dtypes).get("ts")
    if t == "bigint":
        # integer division: BIGINT `/` routes through double, and epoch
        # nanos (~1.7e18) exceed double's 53-bit mantissa, so the
        # truncated microsecond could be off by 1us near a window or
        # watermark boundary (same fix as ingest.read_table)
        return F.timestamp_micros(F.expr("ts div 1000"))
    if t == "timestamp_ntz":
        return F.timestamp_micros(
            F.expr(
                "timestampdiff(MICROSECOND,"
                " timestamp_ntz'1970-01-01 00:00:00', ts)"
            )
        )
    return F.col("ts")


def stream_tumbling_counts(
    spark: SparkSession, events_path: str, width: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """readStream + watermark + tumbling window counts per event_type.
    Returns the streaming DataFrame; caller attaches a sink."""
    stream = _read_stream(spark, events_path)
    ts = _event_time(stream)
    return (
        stream.withColumn("__ts", ts)
        .withWatermark("__ts", watermark)
        .groupBy(F.window("__ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win"),
            "event_type",
            F.col("n").cast("long"),
        )
    )


def stream_sliding_counts(
    spark: SparkSession, events_path: str, width: str = "15 minutes",
    slide: str = "5 minutes", watermark: str = "30 minutes",
) -> DataFrame:
    """readStream sliding windows: window(width, slide) counts -- the
    incremental form of sliding_agg."""
    stream = _read_stream(spark, events_path)
    ts = _event_time(stream)
    return (
        stream.withColumn("__ts", ts)
        .withWatermark("__ts", watermark)
        .groupBy(F.window("__ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.unix_timestamp(F.col("w.start")).alias("win"), "n")
    )


def stream_session_counts(
    spark: SparkSession, events_path: str, gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """readStream session windows (native session_window operator)."""
    stream = _read_stream(spark, events_path)
    ts = _event_time(stream)
    return (
        stream.withColumn("__ts", ts)
        .withWatermark("__ts", watermark)
        .groupBy(F.session_window("__ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select("user_id", "n_events")
    )


def stream_user_running_totals(spark: SparkSession, events_path: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the brief's
    custom-stateful-streaming tier): per-user running event count +
    exact cents total, state = (n, cents), Update output mode.  The
    same shape serves any keyed accumulator (rate limiting, CDC fold,
    feature freshness) -- state lives in the state store, partitioned
    by key, nothing on the driver."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _read_stream(spark, events_path)

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pd.to_numeric(pdf["value"]).mul(100).round().sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
        )

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            "user_id long, n_events long, value_cents long",
            "n long, cents long",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
