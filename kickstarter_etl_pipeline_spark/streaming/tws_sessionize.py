"""transformWithStateInPandas sessionizer — the Spark 4 stateful API.

Twin of streaming.stateful.stateful_sessionize (applyInPandasWithState,
the Spark 3-era API) on transformWithStateInPandas, Spark 4's
StatefulProcessor interface: typed per-key state handles
(ValueState/ListState/MapState), explicit timers, and an init/close
lifecycle. Emitted sessions are IDENTICAL to the old-API operator and
to the batch/SQL sessionizer, so the same full DuckDB oracle grades it
(closed = every session but the user's last under a finite replay).

ENVIRONMENT GATE (now openable): transformWithStateInPandas talks to
the JVM state store over a protobuf protocol
(pyspark/sql/streaming/proto/StateMessage_pb2), so it requires a
``google.protobuf`` runtime — this container does not ship one and has
no network to install it. Round 13 closes the gap with a VENDORED
minimal pure-Python wire-format runtime
(vendor/pure_protobuf/google/protobuf — public protobuf encoding spec
only; see its package docstring for scope): :func:`ensure_protobuf`
activates it when the real package is absent, :func:`tws_available`
probes the import, and the operator raises a clear error only when
neither is importable. The module's operators are THEMSELVES graded
driver surfaces since round 13 (events_tws_sessions,
events_tws_timeout_sessions, events_tws_user_profile,
events_tws_warm_start — same oracles as their applyInPandasWithState
twins where one exists), and the parity tests
(tests/test_tws_sessionize.py) additionally pin the emitted rows
equal to the old API's, exercising the full JVM↔Python state
protocol — ValueState/MapState/ListState, timers, TTL and
initialState over real protobuf wire bytes.

At scale the operator behaves like any keyed stateful stage: state is
one (n, sum, start, last) tuple per live user in the state store,
rows arrive Arrow-batched per key, and the shuffle is the groupBy key —
the same bounded-state contract as the old API, with the new engine's
state-store improvements (RocksDB provider, state rebalancing) applied
by configuration, not code.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from kickstarter_etl_pipeline_spark.operators.partitioning import (
    STATE_PARTITIONS,
    isolated_session,
)
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.streaming.events_stream import (
    read_events_stream,
    run_to_memory,
)
from kickstarter_etl_pipeline_spark.streaming.stateful import (
    GAP_US,
    SESSION_SCHEMA,
    STATE_SCHEMA,
    TIMEOUT_SESSION_SCHEMA,
)


_OUT_COLS = [f.name for f in SESSION_SCHEMA.fields]
_TIMEOUT_COLS = [f.name for f in TIMEOUT_SESSION_SCHEMA.fields]

#: Vendored minimal pure-Python protobuf runtime (public wire format
#: only — see vendor/pure_protobuf/google/protobuf/__init__.py). Used
#: ONLY when the real protobuf package is absent.
_VENDOR_PROTOBUF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "vendor",
    "pure_protobuf",
)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable, activating the vendored
    pure-Python shim when the real package is absent. Returns True when
    an import now succeeds. Side-effect-free beyond sys.path — the
    PYTHONPATH export for Spark's Python workers (which import
    StateMessage_pb2 inside the state-protocol loop) happens only at
    operator execution (_export_worker_pythonpath /
    _export_process_pythonpath), never on an availability probe."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    if not os.path.isdir(_VENDOR_PROTOBUF):
        return False
    if _VENDOR_PROTOBUF not in sys.path:
        sys.path.insert(0, _VENDOR_PROTOBUF)
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def _export_process_pythonpath() -> None:
    """Export the vendored shim path through the PROCESS env so any
    subprocess Spark spawns outside sc.environment (e.g. the Python
    worker daemon) can import google.protobuf. Deliberately NOT done in
    ensure_protobuf: the availability probe must stay side-effect-free
    (sys.path only), or the shim would shadow a real protobuf install
    in every later subprocess (ADVICE r13). Called only on actual
    transformWithState operator execution, and only when the shim is
    the runtime actually in use."""
    try:
        import google.protobuf as gp
    except ImportError:
        return
    if not os.path.abspath(gp.__file__ or "").startswith(_VENDOR_PROTOBUF):
        return  # real protobuf in use — nothing to export
    current = os.environ.get("PYTHONPATH", "")
    if _VENDOR_PROTOBUF not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _VENDOR_PROTOBUF + (os.pathsep + current if current else "")
        )


def _export_worker_pythonpath(spark: SparkSession) -> None:
    """The one gate every transformWithStateInPandas entry point passes:
    raise RuntimeError up front when no protobuf runtime is importable,
    then propagate the shim path into Spark worker processes: PythonRDD /
    UDF envVars come from sc.environment (pyspark.core.rdd.
    _prepare_for_python_RDD), and PythonWorkerFactory merges an
    envVars PYTHONPATH into the worker's own."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark's state-protocol worker imports google.protobuf); "
            "not available in this environment — use "
            "streaming.stateful.stateful_sessionize (applyInPandasWithState), "
            "which has identical emitted sessions."
        )
    _export_process_pythonpath()
    env = spark.sparkContext.environment
    current = env.get("PYTHONPATH", "")
    if _VENDOR_PROTOBUF not in current.split(os.pathsep):
        env["PYTHONPATH"] = (
            _VENDOR_PROTOBUF + (os.pathsep + current if current else "")
        )


def tws_session(
    spark: SparkSession, extra_confs: dict[str, str] | None = None
) -> SparkSession:
    """The session every transformWithStateInPandas query is planned on.

    Passes the protobuf gate (:func:`_export_worker_pythonpath`), then
    returns an ``isolated_session`` child pinning the RocksDB state
    store and ``STATE_PARTITIONS`` state partitions, so the caller's
    session conf is never mutated. transformWithState needs a store with
    column families; the default HDFSBackedStateStoreProvider refuses
    (UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES).
    ``extra_confs`` extends the child (the Avro state encoding that
    state schema evolution requires)."""
    _export_worker_pythonpath(spark)
    return isolated_session(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.shuffle.partitions": str(STATE_PARTITIONS),
            **(extra_confs or {}),
        },
    )


def tws_available() -> bool:
    """True iff the runtime can execute transformWithStateInPandas:
    Spark's state-protocol worker imports google.protobuf.descriptor at
    query start and crashes the stream when it's missing. The vendored
    wire-format shim (ensure_protobuf) satisfies the import when the
    real package is absent."""
    if not ensure_protobuf():
        return False
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class SessionProcessor(StatefulProcessor):
    """Gap sessionizer: fold each user's events in (ts, event_id) order;
    a gap > GAP_US closes the running session (emitted closed=True); the
    still-accumulating session emits once per batch with closed=False —
    under AvailableNow's single batch, exactly once, matching the oracle."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("session", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, s, start_us, last_us = (
            self._state.get() if self._state.exists() else (0, 0.0, None, None)
        )
        out: list[list] = []
        # Same chunking contract as the old API: a key's rows arrive as
        # multiple Arrow batches; concatenate before the single sort so
        # cross-chunk events stay in global (ts, event_id) order.
        chunks = [pdf for pdf in rows if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            for ts, value in zip(pdf["ts"], pdf["value"]):
                us = int(ts.value // 1_000)  # pandas ns → µs
                if last_us is not None and us - last_us > GAP_US:
                    out.append([user_id, n, round(s, 4), last_us - start_us, True])
                    n, s, start_us = 0, 0.0, None
                if start_us is None:
                    start_us = us
                n += 1
                s += float(value)
                last_us = us
        self._state.update((n, s, start_us, last_us))
        out.append([user_id, n, round(s, 4), last_us - start_us, False])
        yield pd.DataFrame(out, columns=_OUT_COLS)

    def close(self) -> None:
        pass


def tws_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the transformWithStateInPandas sessionizer over the events
    fixture (AvailableNow) and return the emitted session rows.

    Raises RuntimeError up front when the runtime lacks protobuf (see
    module docstring) instead of letting the stream crash mid-query.
    """
    child = tws_session(spark)
    stream = read_events_stream(child, sf_dir)
    sessions = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionProcessor(),
        outputStructType=SESSION_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    return run_to_memory(sessions, "append")


class TimeoutSessionProcessor(StatefulProcessor):
    """Gap sessionizer with EVENT-TIME TIMER eviction — the production
    bounded-state path on the StatefulProcessor API, mirroring
    streaming.stateful._session_timeout_fn exactly: gap-splits emit
    closed_by_timeout=False inline; the still-open session emits True
    from :meth:`handleExpiredTimer` once the watermark passes
    last_event + GAP, with state cleared (bounded memory).

    Timer discipline: the old API's setTimeoutTimestamp REPLACES the
    key's single timeout, while TWS timers ACCUMULATE — so each batch
    deletes the previously armed timer (derivable from the carried
    last_us, no extra state) before registering the new one. Every
    register/delete/expiry crosses the JVM state server as protobuf
    wire bytes (the vendored runtime's TimerStateCallCommand /
    ExpiryTimerRequest messages get live coverage here)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("session", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        had_state = self._state.exists()
        n, s, start_us, last_us = (
            self._state.get() if had_state else (0, 0.0, None, None)
        )
        prev_last_us = last_us
        out: list[list] = []
        chunks = [pdf for pdf in rows if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            for ts, value in zip(pdf["ts"], pdf["value"]):
                us = int(ts.value // 1_000)
                if last_us is not None and us - last_us > GAP_US:
                    out.append([user_id, n, round(s, 4), False])
                    n, s, start_us = 0, 0.0, None
                if start_us is None:
                    start_us = us
                n += 1
                s += float(value)
                last_us = us
        self._state.update((n, s, start_us, last_us))
        # last_us is None only when invoked for a key with no prior
        # state and all-empty chunks — nothing to time out; arming a
        # timer from None would TypeError (ADVICE r13).
        if last_us is not None:
            if had_state and prev_last_us is not None and prev_last_us != last_us:
                self._handle.deleteTimer(prev_last_us // 1_000 + GAP_US // 1_000)
            self._handle.registerTimer(last_us // 1_000 + GAP_US // 1_000)
        if out:
            yield pd.DataFrame(out, columns=_TIMEOUT_COLS)

    def handleExpiredTimer(
        self, key, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if not self._state.exists():
            return
        n, s, _start_us, _last_us = self._state.get()
        self._state.clear()
        yield pd.DataFrame(
            [[user_id, n, round(s, 4), True]], columns=_TIMEOUT_COLS
        )

    def close(self) -> None:
        pass


def tws_sessionize_with_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the event-time-timer sessionizer (StatefulProcessor API)
    over the events fixture with AvailableNow; emitted rows equal
    stateful_sessionize_with_timeout's exactly (same oracle)."""
    child = tws_session(spark)
    stream = read_events_stream(child, sf_dir).withWatermark("ts", "1 minute")
    sessions = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TimeoutSessionProcessor(),
        outputStructType=TIMEOUT_SESSION_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
    )
    return run_to_memory(sessions, "append")


PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("top_type", T.StringType()),
        T.StructField("top_type_n", T.LongType()),
        T.StructField("recent3_sum", T.DoubleType()),
    ]
)

_PROFILE_COLS = [f.name for f in PROFILE_SCHEMA.fields]

_COUNT_SCHEMA = T.StructType([T.StructField("n", T.LongType())])
_TYPE_KEY_SCHEMA = T.StructType([T.StructField("t", T.StringType())])
_TOTAL_SCHEMA = T.StructType([T.StructField("n", T.LongType())])
_RECENT_SCHEMA = T.StructType(
    [
        T.StructField("us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


class UserProfileProcessor(StatefulProcessor):
    """MULTIPLE TYPED STATE VARIABLES per key — the capability
    transformWithState adds over applyInPandasWithState's single state
    tuple, and the round's full protocol coverage: a ValueState (total
    events), a MapState (per-event-type counts — GetValue/UpdateValue/
    Iterator wire messages), and a ListState (the 3 most recent events
    by (us, event_id) — ListStateGet/ListStatePut messages), all three
    living side by side in one RocksDB-backed processor.

    Emits one profile row per key per batch: total events, distinct
    types, the modal type (ties to the LEXICALLY LARGEST type — max of
    (count, type), same rule as the SQL twin), and the sum of the 3
    most recent values. Under AvailableNow's single input batch that is
    exactly one row per user, equal to a batch aggregate — which is
    what makes the whole three-state fold fully oracle-able."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._total = handle.getValueState("total", _TOTAL_SCHEMA)
        self._by_type = handle.getMapState("by_type", _TYPE_KEY_SCHEMA, _COUNT_SCHEMA)
        self._recent = handle.getListState("recent", _RECENT_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        total = self._total.get()[0] if self._total.exists() else 0
        recent = list(self._recent.get()) if self._recent.exists() else []
        chunks = [pdf for pdf in rows if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            total += len(pdf)
            for etype, cnt in pdf["event_type"].value_counts().items():
                prev = self._by_type.getValue((etype,))
                self._by_type.updateValue(
                    (etype,), (int(cnt) + (prev[0] if prev else 0),)
                )
            recent.extend(
                (int(ts.value // 1_000), int(eid), float(v))
                for ts, eid, v in zip(pdf["ts"], pdf["event_id"], pdf["value"])
            )
        recent.sort(key=lambda r: (r[0], r[1]), reverse=True)
        recent = recent[:3]
        self._total.update((total,))
        self._recent.put(recent)
        counts = [(t[0], c[0]) for t, c in self._by_type.iterator()]
        top_n, top_t = max(((c, t) for t, c in counts))
        yield pd.DataFrame(
            [[
                user_id,
                total,
                len(counts),
                top_t,
                top_n,
                round(sum(r[2] for r in recent), 4),
            ]],
            columns=_PROFILE_COLS,
        )

    def close(self) -> None:
        pass


def tws_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the three-state profile processor over the events fixture
    (AvailableNow, single batch) and return one profile row per user."""
    child = tws_session(spark)
    stream = read_events_stream(child, sf_dir)
    profiles = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfileProcessor(),
        outputStructType=PROFILE_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    return run_to_memory(profiles, "append")


WARM_START_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("seeded", T.BooleanType()),
    ]
)

_WARM_COLS = [f.name for f in WARM_START_SCHEMA.fields]

_SEED_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


class WarmStartProcessor(StatefulProcessor):
    """Batch-snapshot WARM START — the production pattern
    transformWithState's ``initialState`` exists for: state is
    bootstrapped from a historical batch aggregate via
    :meth:`handleInitialState` (invoked once per seeded key before the
    first batch's input rows), then the stream folds on top. Output per
    key: the seeded base plus streamed events, and whether the key was
    seeded at all — so the oracle separates both paths exactly."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._n = handle.getValueState("n", _SEED_SCHEMA)

    def handleInitialState(self, key, initialState, timerValues) -> None:
        self._n.update((int(initialState["base"].iloc[0]),))

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        seeded = self._n.exists()
        n = self._n.get()[0] if seeded else 0
        for pdf in rows:
            n += len(pdf)
        self._n.update((n,))
        yield pd.DataFrame([[user_id, n, seeded]], columns=_WARM_COLS)

    def close(self) -> None:
        pass


def tws_warm_start_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed per-user state with the BATCH purchase count, then fold the
    event stream on top (AvailableNow, single batch): one row per user,
    n_total = purchases + all streamed events, seeded = had purchases."""
    child = tws_session(spark)
    seed = (
        load_table(child, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("base"))
    )
    stream = read_events_stream(child, sf_dir)
    totals = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=WarmStartProcessor(),
        outputStructType=WARM_START_SCHEMA,
        outputMode="append",
        timeMode="none",
        initialState=seed.groupBy("user_id"),
    )
    return run_to_memory(totals, "append")
