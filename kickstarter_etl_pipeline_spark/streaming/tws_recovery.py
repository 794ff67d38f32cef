"""Stop/resume transformWithState surfaces: RocksDB checkpoint
RESTART RECOVERY (exactly-once across a query restart) and state TTL
EVICTION, both graded against full DuckDB oracles through one
deterministic two-phase replay device.

The device
----------
The events fixture is split at its midpoint timestamp (integer-µs
``(min + max) div 2``, identical arithmetic on both engines) into two
single-file parquet halves. Phase 1 streams ONLY half A through a
``transformWithStateInPandas`` query (AvailableNow) and terminates —
per-key state persists in the RocksDB checkpoint. Half B is then added
to the SAME source directory and a NEW query instance resumes from the
SAME checkpoint:

- the file-source log proves EXACTLY-ONCE: half A is still listed in
  the directory during phase 2 but is NOT reprocessed (a double-read
  would inflate every count and fail the hash);
- the state store proves RECOVERY: phase-1 totals fold into phase-2
  answers (a lost store would undercount and fail the hash);
- a 500 ms ``TTLConfig`` on one of two otherwise-identical ValueStates
  proves EVICTION differentially: the inter-phase gap (query teardown
  + file move + full query startup, reliably seconds) exceeds the TTL
  by an order of magnitude, so the TTL'd state is gone at phase 2
  while its no-TTL twin survives — same processor, same checkpoint,
  the ONLY difference is the TTLConfig wire message at create time.

Phase 2's sink (a foreachBatch parquet dir — the memory sink refuses
checkpoint recovery in append mode) holds exactly one row per user
with events in half B (a key is invoked only when it has input rows),
so the oracle restricts to those users and replays both folds in SQL.

Reference parity note: the reference pipeline (src/etl_pipeline.py) is
a batch script with no streaming surface; these operators extend the
engine along SURVEY §2's streaming axis (driver-graded since round 13).

At 100 TB scale the shape is unchanged: one shuffle on the grouping
key, O(1) state per key, RocksDB-backed store, and restart recovery is
exactly the production property (a re-deployed job resumes from its
checkpoint with no reprocessing and no state loss).
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from kickstarter_etl_pipeline_spark.operators.ranking import collect_control
from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.streaming.events_stream import (
    read_events_raw_stream,
)
from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import tws_session

#: TTL on the fleeting state. The inter-phase wall gap is a full query
#: teardown + startup (reliably multiple seconds); 500 ms keeps a >10×
#: margin on eviction while staying far above any single-batch skew.
TTL_MS = 500

RESTART_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

TTL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_keep", T.LongType()),
        T.StructField("n_ttl", T.LongType()),
    ]
)

_NS_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("s", T.DoubleType())]
)
_N_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


class RestartTotalsProcessor(StatefulProcessor):
    """Per-user (count, value-sum) fold in one no-TTL ValueState; emits
    the running totals each invocation. Across the two-phase replay,
    phase 2's emission per user = totals over BOTH halves iff the
    RocksDB state survived the restart and half A was not re-read."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._ns = handle.getValueState("ns", _NS_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, s = self._ns.get() if self._ns.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            s += float(pdf["value"].sum())
        self._ns.update((n, s))
        yield pd.DataFrame(
            [[user_id, n, round(s, 4)]],
            columns=["user_id", "n_total", "sum_value"],
        )

    def close(self) -> None:
        pass


class TtlCounterProcessor(StatefulProcessor):
    """Two per-user event counters differing ONLY in TTLConfig: ``keep``
    (no TTL) vs ``fleet`` (TTL_MS). Between the replay's phases the
    fleeting state expires, so phase 2 emits n_keep = count over both
    halves but n_ttl = count over half B alone — the differential that
    hash-grades eviction (a broken TTL makes n_ttl == n_keep)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._keep = handle.getValueState("keep", _N_SCHEMA)
        self._fleet = handle.getValueState("fleet", _N_SCHEMA, ttlDurationMs=TTL_MS)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        keep = self._keep.get()[0] if self._keep.exists() else 0
        fleet = self._fleet.get()[0] if self._fleet.exists() else 0
        for pdf in rows:
            keep += len(pdf)
            fleet += len(pdf)
        self._keep.update((keep,))
        self._fleet.update((fleet,))
        yield pd.DataFrame(
            [[user_id, keep, fleet]], columns=["user_id", "n_keep", "n_ttl"]
        )

    def close(self) -> None:
        pass


EVOLVED_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("sum_b_value", T.DoubleType()),
    ]
)

_EVO_V1 = T.StructType([T.StructField("n", T.LongType())])
_EVO_V2 = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("s", T.DoubleType())]
)


class EvolvingTotalsV1(StatefulProcessor):
    """Phase-1 half of the STATE SCHEMA EVOLUTION pair: a per-user
    count in a ONE-field ValueState. Its phase-2 twin re-opens the
    same named state with a WIDENED schema (an added nullable field)
    — the production 'redeploy the job with richer state' path, legal
    under the Avro state encoding."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._v = handle.getValueState("agg", _EVO_V1)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n = self._v.get()[0] if self._v.exists() else 0
        for pdf in rows:
            n += len(pdf)
        self._v.update((n,))
        yield pd.DataFrame(
            [[user_id, n, 0.0]], columns=["user_id", "n_total", "sum_b_value"]
        )

    def close(self) -> None:
        pass


class EvolvingTotalsV2(StatefulProcessor):
    """Phase-2 half: the SAME named state, schema widened (n) → (n, s).
    Avro evolution fills the new field with NULL on first read of
    evolved state, so s accumulates half B only while n carries both
    halves — the differential that hash-grades evolution (state loss
    undercounts n; a re-read of half A inflates both; a non-null
    default corrupts s)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._v = handle.getValueState("agg", _EVO_V2)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if self._v.exists():
            n, s = self._v.get()
            s = 0.0 if s is None else float(s)
        else:
            n, s = 0, 0.0
        for pdf in rows:
            n += len(pdf)
            s += float(pdf["value"].sum())
        self._v.update((n, s))
        yield pd.DataFrame(
            [[user_id, n, round(s, 4)]],
            columns=["user_id", "n_total", "sum_b_value"],
        )

    def close(self) -> None:
        pass


def _split_events_by_midpoint(spark: SparkSession, sf_dir: str):
    """Write the events fixture as two single-file halves split at the
    integer-µs midpoint ``(min + max) div 2`` (half A: us <= cut, half
    B: us > cut — both provably non-empty). Returns (src_dir containing
    only a.parquet, staged path of b.parquet to add for phase 2)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    row = collect_control(ev.select(F.min(us).alias("mn"), F.max(us).alias("mx")))[0]
    cut = (int(row["mn"]) + int(row["mx"])) // 2

    root = run_scratch_dir("ks_tws_split_")
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)

    def _one_file(df: DataFrame, name: str, dest_dir: str) -> str:
        out = os.path.join(root, name)
        df.coalesce(1).write.parquet(out)
        (part,) = _glob.glob(os.path.join(out, "part-*.parquet"))
        final = os.path.join(dest_dir, f"{name}.parquet")
        shutil.copy(part, final)
        return final

    _one_file(ev.filter(us <= F.lit(cut)), "a", src)
    staged_b = _one_file(ev.filter(us > F.lit(cut)), "b", root)
    return src, staged_b


def _two_phase_tws(
    spark: SparkSession,
    sf_dir: str,
    processor_factory,
    out_schema: T.StructType,
    time_mode: str = "none",
    processor_factory_p2=None,
    extra_confs: dict[str, str] | None = None,
) -> DataFrame:
    """Run the two-phase stop/resume replay (module docstring) with a
    fresh processor instance per phase, returning phase 2's emissions.
    ``processor_factory_p2`` lets phase 2 run a DIFFERENT processor
    against the same checkpoint (the schema-evolution redeploy);
    ``extra_confs`` extends :func:`tws_session` (e.g. the Avro state
    encoding evolution requires)."""
    child = tws_session(spark, extra_confs)
    src, staged_b = _split_events_by_midpoint(child, sf_dir)
    root = run_scratch_dir("ks_tws_resume_")
    checkpoint = os.path.join(root, "ckpt")

    def _run_phase(tag: str, factory=None) -> DataFrame:
        stream = read_events_raw_stream(child, src, glob="*.parquet")
        folded = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=(factory or processor_factory)(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode=time_mode,
        )
        # foreachBatch, not the memory sink: Spark refuses checkpoint
        # RECOVERY for the memory sink in append mode, and a restart
        # from the phase-1 checkpoint is the whole point. A per-phase
        # parquet dir also isolates phase 2's emissions exactly.
        out_dir = os.path.join(root, f"out_{tag}")

        def _sink(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out_dir)

        query = (
            folded.writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return child.read.schema(out_schema).parquet(out_dir)

    _run_phase("p1")  # phase 1: half A only; emissions discarded
    shutil.copy(staged_b, os.path.join(src, "b.parquet"))
    # resumes the SAME checkpoint; sees only B (optionally evolved)
    return _run_phase("p2", factory=processor_factory_p2)


def tws_restart_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTART RECOVERY + EXACTLY-ONCE, graded: per-user totals across
    a query stop/resume equal the plain batch aggregate over ALL events
    (restricted to users active in half B — the keys phase 2 invokes)."""
    return _two_phase_tws(
        spark, sf_dir, RestartTotalsProcessor, RESTART_SCHEMA
    )


def tws_evolved_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE SCHEMA EVOLUTION across a restart, graded: phase 1 runs
    the one-field count processor, phase 2 resumes the SAME RocksDB
    checkpoint with the state widened to (n, s) under the Avro state
    encoding (``spark.sql.streaming.stateStore.encodingFormat=avro``
    — evolution is illegal under the default UnsafeRow encoding).
    Per user active in half B: n_total = count over BOTH halves (the
    surviving old field), sum_b_value = value sum over half B alone
    (the added field, Avro-defaulted to NULL at evolution time)."""
    return _two_phase_tws(
        spark,
        sf_dir,
        EvolvingTotalsV1,
        EVOLVED_SCHEMA,
        processor_factory_p2=EvolvingTotalsV2,
        extra_confs={"spark.sql.streaming.stateStore.encodingFormat": "avro"},
    )


def tws_ttl_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL EVICTION, graded differentially: the no-TTL counter carries
    across the restart (n_keep = both halves) while its TTL'd twin is
    evicted between phases (n_ttl = half B only)."""
    # TTLConfig is legal only under processingTime timeMode; no
    # timers are registered, so the fold itself is time-independent.
    # Under processingTime, availableNow keeps firing empty batches to
    # advance the clock and never terminates, and stopping it
    # interrupts a batch mid-write (an aborted sink job, then a
    # StackOverflowError in the stream thread). Without empty batches
    # each phase is one data batch and ends by itself; expired TTL
    # state is already invisible to the phase-2 read.
    return _two_phase_tws(
        spark, sf_dir, TtlCounterProcessor, TTL_SCHEMA,
        time_mode="processingTime",
        extra_confs={"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
    )


def tws_state_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM StatefulProcessor state read AT REST (Spark 4 State Data
    Source + ``stateVarName``): run the restart device's phase 1 only
    (half A through the RestartTotalsProcessor fold), then read the
    typed ``ns`` ValueState DIRECTLY from the RocksDB checkpoint — no
    query running, no emission path. Per user active in half A the
    store must hold exactly the half-A (count, value-sum), which is
    what the batch twin replays: a state row lost, doubled, or
    mis-typed fails the hash. This is the TWS complement of
    events_stream_state_split (which reads a windowed-AGGREGATION
    store): same reader, user-defined typed state."""
    child = tws_session(spark)
    src, _staged_b = _split_events_by_midpoint(child, sf_dir)
    root = run_scratch_dir("ks_tws_atrest_")
    checkpoint = os.path.join(root, "ckpt")
    out_dir = os.path.join(root, "out")
    stream = read_events_raw_stream(child, src, glob="*.parquet")
    folded = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RestartTotalsProcessor(),
        outputStructType=RESTART_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    query = (
        folded.writeStream.foreachBatch(
            lambda batch_df, _bid: batch_df.write.mode("append").parquet(out_dir)
        )
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    st = (
        child.read.format("statestore")
        .option("stateVarName", "ns")
        .load(checkpoint)
    )
    return st.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.n").alias("n_total"),
        F.round(F.col("value.s"), 4).alias("sum_value"),
    )
