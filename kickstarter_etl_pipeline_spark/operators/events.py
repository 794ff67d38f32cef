"""Event-stream analytics (batch form): windows, sessions, JSON extraction.

These are the batch twins of the streaming module — same semantics, so
the streaming results can be verified against them. All time arithmetic
is integer microseconds (``unix_micros``), so comparisons are exact and
engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kickstarter_etl_pipeline_spark.operators.rounding import round_det


def with_unix_micros(df: DataFrame, out: str = "_us") -> DataFrame:
    # ts is TimestampNTZ; unix_micros needs an instant — with the UTC
    # session timezone the cast is wall-clock-identity and exact.
    return df.withColumn(out, F.unix_micros(F.col("ts").cast("timestamp")))


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Tumbling-window counts/sums per event_type.

    Bucket start is emitted as a formatted string so results compare
    cleanly across engines (no tz-annotation mismatches).
    """
    bucket = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (
        events.groupBy(bucket.alias("bucket_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        # avg derived from the ROUNDED sum: engines may disagree on the
        # raw double sum by an ulp, which flips a 6-dp rounding exactly at
        # half boundaries (seen at sf0.1: 1391.13/32 = 43.4728125).
        # Dividing the identical rounded numerator is deterministic.
        .withColumn("avg_value", round_det(F.col("sum_value") / F.col("n_events"), 6))
    )


def with_session_ids(events: DataFrame) -> DataFrame:
    """Event-level gap sessionization: every event row gains ``_us``
    and a per-user ``session_id`` (a new session starts when the time
    since the user's previous event exceeds 1800 s). Classic
    lag + cumulative-sum construction; one shuffle on user_id; integer
    microseconds → exact.

    THE single definition of the 30-min-gap session — sessionize(),
    session paths, bounce rate, and the interval-overlap join all
    build on this one frame (r7 self-review: three verbatim copies had
    accreted and had to stay in lockstep with four SQL twins).
    """
    with_us = with_unix_micros(events)
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    gap_us = 1800 * 1_000_000
    new_session = (
        F.when(
            F.lag("_us").over(w).isNull()
            | ((F.col("_us") - F.lag("_us").over(w)) > gap_us),
            1,
        )
        .otherwise(0)
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return with_us.withColumn("_new", new_session).withColumn(
        "session_id", F.sum("_new").over(cum).cast("long")
    ).drop("_new")


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization rollup: one row per (user, session)
    with count / duration / value aggregates (see with_session_ids for
    the session-id construction)."""
    sessions = with_session_ids(events)
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("_us") - F.min("_us")).alias("duration_us"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """Sliding (hopping) windows: each event lands in window/slide buckets.

    Spark's window() generates the overlapping buckets natively; start is
    emitted as a formatted string for engine-neutral comparison.
    """
    win = F.window(F.col("ts").cast("timestamp"), "1 hour", "30 minutes")
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def distinct_user_event_pairs(events: DataFrame) -> DataFrame:
    """A3 analog on events: multi-column distinct."""
    return events.select("user_id", "event_type").dropDuplicates()


def json_field_agg(events: DataFrame) -> DataFrame:
    """Extract an int field from the JSON props column, aggregate by it."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.groupBy(k.alias("k"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("_sum"),
        )
        .withColumn("avg_value", round_det(F.col("_sum") / F.col("n_events"), 6))
        .drop("_sum")
    )
