"""transformWithStateInPandas sessionizer (Spark 4 StatefulProcessor).

Round 13 un-gated the operator: the vendored pure-Python protobuf
wire-format runtime (vendor/pure_protobuf) satisfies Spark's state
protocol imports, and the query plans on an isolated child session
pinning the RocksDB state store provider (column-family support). The
parity test runs a LIVE streaming query — every ValueState get/update
crosses the JVM state server as wire bytes the shim encoded — and pins
the emitted sessions equal to the applyInPandasWithState twin's. The
fail-fast gate is exercised by forcing the availability probe to False
(no skip either way)."""

from __future__ import annotations

import pytest

from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import (
    tws_available,
    tws_sessionize,
)
from tests.conftest import SF_SMOKE


def test_gate_fails_fast_when_probe_reports_missing(spark, monkeypatch):
    import kickstarter_etl_pipeline_spark.streaming.tws_sessionize as mod

    monkeypatch.setattr(mod, "tws_available", lambda: False)
    with pytest.raises(RuntimeError, match="protobuf"):
        mod.tws_sessionize(spark, SF_SMOKE)


def test_protobuf_runtime_is_importable():
    """The vendored shim (or a real protobuf) must make the state
    protocol importable in this container — the round-13 un-gating."""
    assert tws_available()
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    assert sm.StateRequest(version=2).SerializeToString() == b"\x08\x02"


def test_tws_matches_old_api(spark):
    from kickstarter_etl_pipeline_spark.streaming.stateful import (
        stateful_sessionize,
    )

    new = {tuple(r) for r in tws_sessionize(spark, SF_SMOKE).collect()}
    old = {tuple(r) for r in stateful_sessionize(spark, SF_SMOKE).collect()}
    assert new == old
    assert new  # non-empty: the stream really emitted sessions


def test_tws_timeout_matches_old_api(spark):
    """The event-time-TIMER sessionizer equals the old API's
    EventTimeTimeout operator row-for-row — including the strict
    watermark boundary for timer firing and the state eviction."""
    from kickstarter_etl_pipeline_spark.streaming.stateful import (
        stateful_sessionize_with_timeout,
    )
    from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import (
        tws_sessionize_with_timeout,
    )

    new = sorted(
        map(tuple, tws_sessionize_with_timeout(spark, SF_SMOKE).collect())
    )
    old = sorted(
        map(tuple, stateful_sessionize_with_timeout(spark, SF_SMOKE).collect())
    )
    assert new == old
    assert any(r[3] for r in new)  # at least one timer-evicted session
    assert any(not r[3] for r in new)  # and at least one gap-split


def test_tws_profile_state_carries_across_batches(spark, tmp_path):
    """MapState counts and the ValueState total must ACCUMULATE across
    micro-batches (not reset): replay the smoke events as two files
    with maxFilesPerTrigger=1 → two batches; each key emits one profile
    row per batch (append), and the row with the most events must equal
    the single-batch profile over the full fixture — proving the
    map/value state round-tripped the JVM state store between batches."""
    from pyspark.sql import functions as F2

    from kickstarter_etl_pipeline_spark.streaming.events_stream import run_to_memory
    from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import (
        PROFILE_SCHEMA,
        UserProfileProcessor,
        tws_session,
        tws_user_profile,
    )
    from tests.conftest import SF_SMOKE

    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    half = events.agg(
        F2.expr("percentile_approx(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)")
    ).first()[0]
    d = str(tmp_path / "ev")
    events.filter(F2.unix_micros(F2.col("ts").cast("timestamp")) <= half).coalesce(1).write.parquet(
        d + "/a.parquet"
    )
    events.filter(F2.unix_micros(F2.col("ts").cast("timestamp")) > half).coalesce(1).write.mode(
        "append"
    ).parquet(d + "/a.parquet")

    stream = (
        tws_session(spark)
        .readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/a.parquet")
    )
    profiles = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfileProcessor(),
        outputStructType=PROFILE_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    per_batch = run_to_memory(profiles, "append").collect()
    assert len(per_batch) > len({r["user_id"] for r in per_batch})  # >1 batch
    final = {}
    for r in per_batch:  # the accumulating profile: keep the max-events row
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r
    whole = {r["user_id"]: r for r in tws_user_profile(spark, SF_SMOKE).collect()}
    assert set(final) == set(whole)
    for uid, r in final.items():
        w = whole[uid]
        assert (r["n_events"], r["n_types"], r["top_type"], r["top_type_n"],
                r["recent3_sum"]) == (
            w["n_events"], w["n_types"], w["top_type"], w["top_type_n"],
            w["recent3_sum"]), uid


def test_tws_ttl_state_and_initial_state(spark, tmp_path):
    """initialState seeding gets live coverage (a GroupedData feeding
    handleInitialState before the first batch): the processor counts
    events per user on top of a seeded base — output must equal
    base + batch count.

    TTL note (r14): this test formerly created the seeded state with a
    ttlDurationMs under timeMode="none" and "passed" — vacuously. The
    pyspark state client sets TTLConfig by in-place submessage mutation
    (state_call_command.ttl.durationMs = ...), which the r13 vendored
    protobuf shim silently DISCARDED, so the TTL never reached the JVM;
    with the r14 auto-vivification fix the JVM (correctly) REJECTS TTL
    under NoTime, so the state here is created TTL-free. The REAL TTL
    surface is the GRADED events_tws_ttl_counts query under
    processingTime (tests/test_tws_recovery.py), whose eviction
    differential can only pass if the TTLConfig reaches the JVM."""
    from collections.abc import Iterator as _It

    import pandas as _pd
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2
    from pyspark.sql.streaming import StatefulProcessor as _SP

    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        read_events_stream,
        run_to_memory,
    )
    from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import (
        tws_available,
        tws_session,
    )
    from tests.conftest import SF_SMOKE

    assert tws_available()
    child = tws_session(spark)

    out_schema = T2.StructType(
        [T2.StructField("user_id", T2.LongType()),
         T2.StructField("n_total", T2.LongType())]
    )
    cnt_schema = T2.StructType([T2.StructField("n", T2.LongType())])

    class SeededCounter(_SP):
        def init(self, handle):
            # TTL-free on purpose: TTL is illegal under timeMode="none"
            # now that the shim actually delivers the TTLConfig message
            # (see docstring); the graded events_tws_ttl_counts query
            # carries the positive TTL coverage under processingTime.
            self._n = handle.getValueState("n", cnt_schema)

        def handleInitialState(self, key, initialState, timerValues):
            self._n.update((int(initialState["base"].iloc[0]),))

        def handleInputRows(self, key, rows, timerValues) -> _It[_pd.DataFrame]:
            (user_id,) = key
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield _pd.DataFrame([[user_id, n]],
                                columns=["user_id", "n_total"])

    events = child.read.parquet(f"{SF_SMOKE}/events.parquet")
    base = events.groupBy("user_id").agg(
        (F2.count("*") * 10).alias("base")  # seeded base = 10x count
    )
    stream = read_events_stream(child, SF_SMOKE)
    seeded = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SeededCounter(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="none",
        initialState=base.groupBy("user_id"),
    )
    got = {r["user_id"]: r["n_total"] for r in run_to_memory(seeded, "append").collect()}
    want = {
        r["user_id"]: 11 * r["n"]
        for r in events.groupBy("user_id").agg(F2.count("*").alias("n")).collect()
    }
    assert got == want  # base (10x) + batch (1x) per user
