"""Structured Streaming operators (SURVEY.md §2.12).

The reference is a scheduled micro-batch loop (cron slots, T1/T2); the
crawl engine keeps batch rounds because frontier feedback is cyclic.
But the *analytics* side — event/metrics streams a crawler emits — is
a textbook streaming workload, so the engine provides it:

* tumbling/sliding window aggregates with watermarked late-data
  handling (T1's daily window generalized),
* sessionization in the batch window-function form (lag + cumulative
  gap-count), the exact equivalent of ``session_window``, whose
  results a SQL oracle can verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def windowed_event_aggs(events: DataFrame, window: str = "1 hour",
                        slide: str | None = None,
                        watermark: str = "2 hours") -> DataFrame:
    """Watermarked windowed aggregate; works on both a static DF and a
    stream (same plan — that's the point of Structured Streaming)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "total")
    )


def streaming_event_counts(spark: SparkSession, parquet_dir: str,
                           window: str = "1 hour",
                           slide: str | None = None) -> DataFrame:
    """readStream → windowed agg (tumbling, or sliding when ``slide``
    is given); drive with memory sink + processAllAvailable in tests
    (no long-running query needed)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).format("parquet")
        .load(parquet_dir)
    )
    return windowed_event_aggs(stream, window=window, slide=slide)


def streaming_dedup(events: DataFrame, keys: list[str] | None = None,
                    watermark: str = "2 hours") -> DataFrame:
    """D2's streaming form: exactly-once event delivery by key with
    BOUNDED state — ``dropDuplicatesWithinWatermark`` expires each
    key's dedup state once the watermark passes it, so state is
    O(events per watermark window), not O(all events ever) — the only
    shape that survives an unbounded stream. On a static DataFrame it
    degrades to plain dropDuplicates (the batch twin the test uses)."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark) \
            .dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization, batch form: a session breaks when the gap to the
    previous event of the same user exceeds ``gap_minutes``. Pure
    window functions (lag + running count of breaks) — SQL-oracle
    checkable, and the exact batch equivalent of
    ``session_window(ts, gap)`` in streaming mode."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # timestampdiff handles both TIMESTAMP and TIMESTAMP_NTZ (parquet
    # without isAdjustedToUTC reads as NTZ in Spark 4, which can't cast
    # to long directly)
    with_prev = events.withColumn("_prev", F.lag("ts").over(w))
    is_break = (
        F.col("_prev").isNull()
        # microsecond grain: SECOND would truncate sub-second gaps and
        # disagree with fractional-second oracles at the boundary
        | (F.expr("timestampdiff(MICROSECOND, _prev, ts)")
           > gap_minutes * 60 * 1_000_000)
    ).cast("int")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        with_prev.withColumn("session_no", F.sum(is_break).over(w_run))
        .select("user_id", "event_id", "ts", "session_no")
    )


def correlate_events(views: DataFrame, actions: DataFrame,
                     gap_minutes: int = 60,
                     watermark: str = "2 hours") -> DataFrame:
    """Stream-stream inner join: for each view-type event, the
    same-user action events that follow within ``gap_minutes`` —
    funnel correlation (view → purchase) as one equi-join with an
    event-time band.

    The SAME function serves batch and streaming (the point of
    Structured Streaming): on streams both sides get watermarks, and
    the time-band condition is what lets Spark expire join state —
    an unbounded stream-stream join without a time bound would hold
    every row forever. Output columns are engine-exact (microsecond
    integer gap), so the batch twin is SQL-oracle-checkable.
    """
    v = views.select(F.col("user_id").alias("v_user"),
                     F.col("ts").alias("v_ts"),
                     F.col("event_id").alias("v_id"))
    a = actions.select(F.col("user_id").alias("a_user"),
                       F.col("ts").alias("a_ts"),
                       F.col("event_id").alias("a_id"))
    if views.isStreaming:
        v = v.withWatermark("v_ts", watermark)
    if actions.isStreaming:
        a = a.withWatermark("a_ts", watermark)
    cond = (
        (v["v_user"] == a["a_user"])
        & (a["a_ts"] > v["v_ts"])
        & (a["a_ts"] <= F.expr(f"v_ts + interval {gap_minutes} minutes"))
    )
    return (
        v.join(a, cond)
        .select(F.col("v_user").alias("user_id"), "v_id", "a_id",
                F.expr("timestampdiff(MICROSECOND, v_ts, a_ts)")
                .alias("gap_us"))
    )
