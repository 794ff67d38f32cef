"""State Data Source observability (streaming/state_inspect.py).

Pins the append-mode partition invariant: the sink (emitted windows)
and the state store (open windows) split the full window set exactly —
nothing lost, nothing duplicated, state bounded by open windows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.streaming.events_stream import (
    stream_tumbling_append_parquet,
)
from kickstarter_etl_pipeline_spark.streaming.state_inspect import open_window_state
from tests.conftest import SF_SMOKE


def test_emitted_plus_state_equals_all_windows(spark):
    out = run_scratch_dir("state_out_")
    ckpt = run_scratch_dir("state_ckpt_")
    emitted = stream_tumbling_append_parquet(spark, SF_SMOKE, out, ckpt)
    emitted_keys = {
        (r.bucket_start, r.event_type, r.n_events) for r in emitted.collect()
    }

    # State rows carry the AGGREGATION BUFFER columns (count, sum), not
    # the query's output aliases — the select list is the buffer schema.
    held = open_window_state(spark, ckpt)
    held_keys = {
        (r.window_start.strftime("%Y-%m-%d %H:%M:%S"), r.event_type, r["count"])
        for r in held.select("window_start", "event_type", "count").collect()
    }

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("b"),
            "event_type",
        )
        .count()
        .collect()
    )
    all_keys = {(r.b, r.event_type, r["count"]) for r in batch}

    assert emitted_keys.isdisjoint(held_keys)
    assert emitted_keys | held_keys == all_keys
    # State is bounded by OPEN windows, not history: far fewer than total.
    assert 0 < len(held_keys) < len(all_keys)
