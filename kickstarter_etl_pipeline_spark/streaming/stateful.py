"""Custom stateful streaming operator: applyInPandasWithState sessionizer.

Where native ``session_window`` covers gap-merged aggregation, a custom
state handler covers arbitrary per-key session logic (custom rollups,
emit-on-close). State is one (count, sum, start, last) tuple per user,
so state size is bounded by live keys — the scale contract for stateful
streaming.

Two eviction strategies:

- :func:`stateful_sessionize` (NoTimeout): the finite AvailableNow
  replay emits still-open sessions with closed=False at the end — the
  oracle-comparable variant (ProcessingTimeTimeout crashes the pandas
  state worker under AvailableNow on this Spark build — EOF in
  PythonRunner).
- :func:`stateful_sessionize_with_timeout` (EventTimeTimeout): the
  PRODUCTION eviction pattern for unbounded streams — each group arms a
  timeout at last_event + gap; when the WATERMARK passes it, the open
  session is emitted as timeout-closed and its state removed. State
  size stays bounded by live (in-gap) keys regardless of stream length.
  Sessions still open when a finite replay ends stay in state (they
  would emit on the next batch of a live stream), so this variant is
  checked by invariants, not a row-for-row oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from kickstarter_etl_pipeline_spark.streaming.events_stream import (
    read_events_stream,
    run_to_memory,
)

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)

GAP_US = 30 * 60 * 1_000_000


def _session_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's events into the user's running session; emit a
    closed row whenever a gap larger than GAP_US splits the stream, plus
    one open (closed=False) row for the session still accumulating."""
    (user_id,) = key
    n, s, start_us, last_us = state.get if state.exists else (0, 0.0, None, None)
    rows: list[list] = []
    # Arrow delivers the group as MULTIPLE chunks (maxRecordsPerBatch);
    # sorting each chunk independently would fold events out of global
    # time order for groups that span chunks. Concatenate first, sort
    # once, with event_id as the tie-break (same total order as the SQL
    # oracle's ORDER BY us, event_id).
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for ts, value in zip(pdf["ts"], pdf["value"]):
            us = int(ts.value // 1_000)  # pandas ns → µs
            if last_us is not None and us - last_us > GAP_US:
                rows.append([user_id, n, round(s, 4), last_us - start_us, True])
                n, s, start_us = 0, 0.0, None
            if start_us is None:
                start_us = us
            n += 1
            s += float(value)
            last_us = us
    state.update((n, s, start_us, last_us))
    rows.append([user_id, n, round(s, 4), last_us - start_us, False])
    yield pd.DataFrame(rows, columns=[f.name for f in SESSION_SCHEMA.fields])


TIMEOUT_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("closed_by_timeout", T.BooleanType()),
    ]
)


def _session_timeout_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Gap sessionizer with event-time timeout eviction: gap-splits emit
    closed sessions inline; the still-open session emits when the
    watermark passes last_event + GAP (state removed — bounded memory)."""
    (user_id,) = key
    cols = [f.name for f in TIMEOUT_SESSION_SCHEMA.fields]
    if state.hasTimedOut:
        n, s, start_us, last_us = state.get
        state.remove()
        yield pd.DataFrame([[user_id, n, round(s, 4), True]], columns=cols)
        return
    n, s, start_us, last_us = state.get if state.exists else (0, 0.0, None, None)
    rows: list[list] = []
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for ts, value in zip(pdf["ts"], pdf["value"]):
            us = int(ts.value // 1_000)
            if last_us is not None and us - last_us > GAP_US:
                rows.append([user_id, n, round(s, 4), False])
                n, s, start_us = 0, 0.0, None
            if start_us is None:
                start_us = us
            n += 1
            s += float(value)
            last_us = us
    state.update((n, s, start_us, last_us))
    # Arm the event-time timeout: fires once the watermark passes the
    # session gap after the last event (ms epoch per the state API).
    state.setTimeoutTimestamp(last_us // 1_000 + GAP_US // 1_000)
    if rows:
        yield pd.DataFrame(rows, columns=cols)


def stateful_sessionize_with_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the event-time-timeout sessionizer over the events fixture
    (AvailableNow) and return the emitted rows. Production eviction
    semantics — see module docstring."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _session_timeout_fn,
        outputStructType=TIMEOUT_SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(sessions, "append")


def stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the custom stateful sessionizer over the events fixture with
    AvailableNow and return the emitted session rows."""
    stream = read_events_stream(spark, sf_dir)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(sessions, "append")


CONVERSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("click_us", T.LongType()),
        T.StructField("purchase_us", T.LongType()),
        T.StructField("latency_us", T.LongType()),
    ]
)

CLICK_STATE_SCHEMA = T.StructType([T.StructField("last_click_us", T.LongType())])

#: A purchase converts iff it lands within 2 hours of the user's
#: most recent preceding click. Must stay in lockstep with the DuckDB
#: twin's literal (qdefs_star_events.TWINS["events_stream_conversions"]).
CONVERSION_WINDOW_US = 2 * 3600 * 1_000_000


def _conversion_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Cross-event-type pattern detector (click → purchase within the
    window): state is ONE long per user — the most recent click's µs
    timestamp — so state size is bounded by live keys no matter how
    long the stream runs; a purchase emits a conversion row the moment
    it arrives (append mode, no end-of-window wait). A later click
    simply overwrites the state: each purchase attributes to the
    LATEST preceding click, the last-touch model."""
    (user_id,) = key
    last_click = state.get[0] if state.exists else None
    out = None
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        # Concat-then-sort for the same global (ts, event_id) fold order
        # as the SQL twin (see _session_fn's chunking note). The register
        # fold is VECTORIZED, unlike the sessionizers' accumulator fold:
        # "latest preceding click" is a forward-fill of click timestamps
        # seeded with the carried state — a purchase row contributes NaN
        # to the fill source, so its filled value is exactly the last
        # click strictly before it in the total order. Timestamps stay
        # exact: int64 µs throughout (NaN only as the fill sentinel, and
        # float64 holds µs epochs < 2^53 exactly).
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        us = (pdf["ts"].astype("int64") // 1_000).to_numpy()
        is_click = (pdf["event_type"] == "click").to_numpy()
        click_us = (
            pd.Series(us, dtype="float64")
            .where(pd.Series(is_click))
            .ffill()
            .fillna(float("nan") if last_click is None else float(last_click))
            .to_numpy()
        )
        hit = (
            ~is_click
            & ~pd.isna(click_us)
            & (us - click_us <= CONVERSION_WINDOW_US)
        )
        if hit.any():
            c = click_us[hit].astype("int64")
            p = us[hit]
            out = pd.DataFrame(
                {
                    "user_id": user_id,
                    "click_us": c,
                    "purchase_us": p,
                    "latency_us": p - c,
                }
            )
        if is_click.any():
            last_click = int(us[is_click][-1])
    state.update((last_click,))
    if out is not None:
        yield out


def stateful_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the click→purchase conversion detector over the events
    fixture (AvailableNow) and return the emitted rows.

    This is the second custom-stateful SHAPE next to the sessionizers:
    pattern matching ACROSS event types with single-value state, the
    streaming analog of the as-of join — where the sessionizer's state
    is an accumulator, this state is a watermark-free last-observation
    register. The event-type filter is pushed BELOW the stateful
    operator (plain streaming filter), so only click/purchase rows
    shuffle to the state store.

    Deterministic under the finite replay: the emitted set is exactly
    "every purchase within CONVERSION_WINDOW_US of the user's latest
    preceding click in (ts, event_id) order", which the DuckDB twin
    expresses with an IGNORE NULLS last_value window — no watermark
    bookkeeping involved (NoTimeout; clicks never expire, they are
    overwritten)."""
    stream = read_events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    conv = stream.groupBy("user_id").applyInPandasWithState(
        _conversion_fn,
        outputStructType=CONVERSION_SCHEMA,
        stateStructType=CLICK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(conv, "append")
