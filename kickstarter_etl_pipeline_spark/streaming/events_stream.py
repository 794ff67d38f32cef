"""Structured Streaming analogs over the events table.

The reference is strictly batch (one CSV → one DB); this module is the
engine's streaming extension (SURVEY.md §7 step 9): file-source streams
with watermarks, tumbling-window aggregation, and within-watermark
dedup. ``Trigger.AvailableNow`` turns the fixture parquet into a finite
stream so results are comparable 1:1 with the batch twins in
operators.events.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from kickstarter_etl_pipeline_spark import schemas
from kickstarter_etl_pipeline_spark.operators.partitioning import (
    STATE_PARTITIONS,
    isolated_session,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
from kickstarter_etl_pipeline_spark.session import ensure_runtime_confs

#: Event-time watermark delay of the memory-sink streaming queries.
WATERMARK = "2 hours"


def run_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Run the finite stream ``df`` to completion into a memory sink and
    return the sink's table: the one way this package runs a stream
    against its batch twin.

    ``Trigger.AvailableNow`` processes what the source holds at start,
    then stops; the checkpoint lives under the run scratch root and the
    query name is a fresh uuid, so repeat calls in one session never
    collide. Memory-sink tables are per-session, so the table is read
    back through the session ``df`` was planned on: a stream planned on
    an ``isolated_session`` child returns through that child.

    FIXTURE-VERIFICATION TIER ONLY: the memory sink holds the whole
    result on the driver. Production = the parquet and foreachBatch
    sinks below (:func:`stream_tumbling_append_parquet`,
    :func:`stream_upsert_rollup`).
    """
    name = f"stream_{uuid.uuid4().hex}"
    query = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", run_scratch_dir("ks_stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return df.sparkSession.table(name)


def _probe_events_ts_dtype(spark: SparkSession, src_dir: str, glob: str) -> str:
    """One driver-side footer read: the dtype Spark's batch reader infers
    for ``ts`` (``bigint`` for the legacy int64-ns layout, ``timestamp`` /
    ``timestamp_ntz`` for the current TIMESTAMP(µs) layout)."""
    batch = spark.read.option("pathGlobFilter", glob).parquet(src_dir)
    return dict(batch.dtypes).get("ts", "timestamp_ntz")


def read_events_raw_stream(
    spark: SparkSession,
    src_dir: str,
    glob: str = "*.parquet",
    max_files_per_trigger: int = 0,
) -> DataFrame:
    """Layout-aware file-source stream over an events directory.

    A streaming source requires a declared schema, and a schema that
    disagrees with the parquet footer silently reinterprets the bytes —
    so probe the footer once (driver-side batch read, no data scan) and
    declare the matching schema, then normalize ``ts`` to a µs-precision
    TimestampType (watermarks require an instant, not NTZ; with the UTC
    session timezone the wall clock is identical):

    - TIMESTAMP(µs) on disk (current fixtures): read natively, cast.
    - int64 nanoseconds (legacy layout, surfaced via nanosAsLong):
      ``ts div 1000`` → ``timestamp_micros``.

    Same contract as the batch reader's guard (sources/readers.py
    load_table), shared by every streaming entry point.
    """
    ensure_runtime_confs(spark)
    ts_dtype = _probe_events_ts_dtype(spark, src_dir, glob)
    reader = (
        spark.readStream.schema(schemas.events_schema(ts_dtype))
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(src_dir)
    if ts_dtype == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (ts normalized to µs
    TimestampType, same layout guard as the batch reader)."""
    # The file stream source requires a directory; glob-filter down to the
    # events table within the sf dir.
    return read_events_raw_stream(spark, sf_dir, glob="events.parquet")


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, run to completion with
    AvailableNow against the fixture, returning the final batch result.

    Semantics match operators.events.tumbling_agg, so the batch oracle
    verifies the streaming path.

    FIXTURE-VERIFICATION TIER ONLY: ``complete`` output mode + the
    ``memory`` sink materialize the whole result on the driver — fine
    for oracle comparison at fixture scale, never the production
    pattern. Production = :func:`stream_tumbling_append_parquet`
    (append mode, bounded state, exactly-once file sink) or
    :func:`stream_events_to_parquet` for raw ingestion.
    """
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
            # derived from the rounded sum — see operators.events.tumbling_agg
            round_det(F.col("sum_value") / F.col("n_events"), 6).alias("avg_value"),
        )
    )
    return run_to_memory(agg, "complete")


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding-window aggregation (AvailableNow); semantics
    match operators.events.sliding_window_agg so the batch oracle
    verifies the streaming path.

    FIXTURE-VERIFICATION TIER ONLY (complete+memory materializes on the
    driver) — see :func:`stream_tumbling_append_parquet` for the
    production append-mode pattern."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
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
    return run_to_memory(agg, "complete")


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (gap-merged) per user — the custom-stateful
    streaming operator the reference has no analog for. AvailableNow +
    memory sink; approximate-by-watermark, so checked rows-only.

    FIXTURE-VERIFICATION TIER ONLY (complete+memory materializes on the
    driver) — see :func:`stream_tumbling_append_parquet` for the
    production append-mode pattern."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, "complete")


def stream_events_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Exactly-once file sink: stream the events table into parquet.

    The checkpoint records committed source offsets + sink file manifest,
    so re-running with the same checkpoint reprocesses nothing — the
    streaming analog of the idempotent S4 sink. Returns the sink contents.
    """
    stream = read_events_stream(spark, sf_dir)
    query = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_tumbling_append_parquet(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """PRODUCTION TIER: watermarked tumbling aggregation in APPEND mode
    to an exactly-once parquet sink.

    Append mode is the 100 TB-stream shape: a window is emitted exactly
    once — after the watermark passes its end — then its state is
    evicted, so state size stays bounded by open windows and nothing
    materializes on the driver. Events arriving later than the
    watermark allows are DROPPED (the late-data contract; assert-tested
    in tests). One file per trigger splits a file-source backlog
    into multiple micro-batches so watermark progression between
    batches is observable with AvailableNow.

    Returns the sink contents read back as a batch frame.
    """
    events = read_events_raw_stream(
        spark, src_dir, glob="*.parquet", max_files_per_trigger=1
    )
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    query = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(out_dir)


def streaming_static_enrich(
    spark: SparkSession,
    sf_dir: str,
    dim: DataFrame,
) -> DataFrame:
    """Stream-static join: enrich the event stream with a static
    dimension (broadcast per micro-batch — the static side never
    becomes state), then aggregate per enriched attribute. The pattern
    for joining a 100 TB/day stream against reference data without any
    stateful join machinery.

    FIXTURE-VERIFICATION TIER (complete+memory); equals the batch join
    by construction, asserted in tests."""
    stream = read_events_stream(spark, sf_dir)
    enriched = stream.join(F.broadcast(dim), on="event_type")
    agg = enriched.groupBy("category").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return run_to_memory(agg, "complete")


def streaming_purchase_click_join(
    spark: SparkSession,
    sf_dir: str,
    how: str = "inner",
    unmatched_only: bool = False,
) -> DataFrame:
    """Stream-stream self-join: each purchase matched to the same
    user's clicks within the preceding hour — the attribution
    join, expressed as Structured Streaming's watermarked interval
    join. Both sides buffer only ``WATERMARK`` + 1 hour of state; the
    time-range condition is what lets Spark evict — an unconstrained
    stream-stream join would buffer forever.

    ``how="left_outer"`` is the unattributed-conversion variant: a
    purchase with no in-window click emits once with a NULL click_id —
    but only after the watermark passes its event time (before that a
    matching click could still arrive); purchases inside the final
    watermark window at end-of-replay stay buffered, unemitted. That
    eviction arithmetic is replayed in the SQL oracle.

    ``unmatched_only=True`` (with ``how="left_outer"``) is the
    stream-stream ANTI-join pattern: Structured Streaming has no
    native left_anti between two streams, and the documented lift is
    exactly this — outer join, then filter the null-matched rows IN
    THE STREAM (before the sink), so only abandonment rows ever reach
    it. Emission timing is inherited from the outer join: an
    unmatched purchase surfaces once the global watermark passes its
    event time, never before.

    FIXTURE-VERIFICATION TIER (memory sink); equality with the batch
    interval join is asserted in tests."""
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
        how,
    ).select(
        # full_outer adds right-only rows whose purchase side is NULL —
        # take the user from whichever side is present.
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
        "purchase_id",
        "click_id",
    )
    if unmatched_only:
        joined = joined.filter(F.col("click_id").isNull()).select(
            "user_id", "purchase_id"
        )
    return run_to_memory(joined, "append")


def stream_upsert_rollup(
    spark: SparkSession,
    src_dir: str,
    table_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 0,
    path_glob: str = "*.parquet",
) -> DataFrame:
    """PRODUCTION TIER: streaming materialized-view maintenance — an
    update-mode windowed aggregation whose changed rows are MERGEd into
    a queryable warehouse table every micro-batch via ``foreachBatch``
    + :func:`~kickstarter_etl_pipeline_spark.sources.sinks.merge_upsert`.

    This is the third point in the streaming-sink design space, next to
    the complete-mode memory sink (fixture verification) and the
    append-mode parquet sink (emit-once-after-watermark): the rollup
    table always holds the CURRENT value of every window — open windows
    are visible and refined in place as events arrive, late events
    within the watermark update their window's row, and events later
    than the watermark are dropped exactly as in append mode. On a
    transactional format the inner merge is one native MERGE; state
    stays bounded by open windows, and the merge touches only changed
    rows per batch.

    Returns the final rollup table read back as a batch frame.
    """
    from kickstarter_etl_pipeline_spark.sources.sinks import merge_upsert

    events = read_events_raw_stream(
        spark, src_dir, glob=path_glob, max_files_per_trigger=max_files_per_trigger
    )
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession, batch_df, table_path, keys=["bucket_start", "event_type"]
        )

    query = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(table_path)


def streaming_hourly_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark ≥ 3.5
    multiple-stateful-operator support): a watermarked hourly tumbling
    aggregation feeds a SECOND windowed aggregation that rolls the
    hourly buckets up to per-day statistics — the streaming analog of a
    two-level rollup cube, all inside one exactly-once pipeline.

    The hand-off uses ``window_time(w)`` (= w.end − 1 µs, the event
    time of an aggregated row) as the second aggregation's time column,
    the documented chaining pattern. Append mode is REQUIRED for
    chained aggs: a day row emits only once the global watermark
    (ms-truncated max event time minus the delay) passes the day's
    window end, so with a finite AvailableNow replay the final
    partial day stays in state, unemitted — the oracle replays exactly
    that bookkeeping.

    Scale posture: both aggregation states are bounded by the watermark
    (hours and days evict once closed); shuffles are keyed by
    (window, event_type) — uniform. The memory sink is the
    fixture-verification tier, as everywhere in this module.

    The stateful shuffles run at ``STATE_PARTITIONS`` (pinned by
    ``spark.sql.shuffle.partitions`` at checkpoint creation, applied
    on an ISOLATED child session — ``isolated_session`` /
    ``newSession()`` — so the caller's shared session conf is never
    touched and no concurrent batch query can inherit the override).
    The state is bounded by open (window, event_type) groups — dozens,
    regardless of input scale; see the constant for how to size it.
    """
    # Streaming pins its state partitioning from the session conf at
    # query start (fresh checkpoint every call, so it always applies).
    # Plan the ENTIRE query — source to sink — on an isolated child
    # session so the shared session's conf is never mutated.
    child = isolated_session(spark, {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)})
    stream = read_events_stream(child, sf_dir)
    hourly = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("w"), "1 day").alias("d"), "event_type")
        .agg(
            F.max("n_events").alias("max_hourly_events"),
            F.count("*").cast("long").alias("n_hours"),
            F.sum("n_events").alias("total_events"),
            F.round(F.sum("sum_value"), 4).alias("total_value"),
        )
        .select(
            F.date_format("d.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "max_hourly_events",
            "n_hours",
            "total_events",
            "total_value",
        )
    )
    return run_to_memory(daily, "append")


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay collapse: dropDuplicatesWithinWatermark on
    the (user_id, event_type, minute-bucket) key, then a BATCH rollup of
    the deduplicated stream — per event_type, how many distinct keys
    survived. Duplicate keys only arise within one minute bucket, so any
    watermark delay ≥ the fixture's disorder makes the within-watermark
    dedup EXACT here, and the batch-DISTINCT oracle verifies it. State
    is bounded by the watermark horizon (the reason to prefer this over
    plain dropDuplicates, whose state grows forever at 100 TB/day).

    FIXTURE-VERIFICATION TIER for the rollup (memory sink); the dedup
    stage itself is the production pattern.
    """
    stream = read_events_stream(spark, sf_dir)
    deduped = (
        stream.withColumn("minute_bucket", F.date_trunc("minute", F.col("ts")))
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_bucket"])
        .select("user_id", "event_type", "minute_bucket")
    )
    return (
        run_to_memory(deduped, "append")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_distinct_keys"))
    )
