"""Production-tier surfaces: append-mode streaming with late-data drop,
stream-static joins, upsert rollups, partition pruning, and run-scoped
scratch hygiene; plus the memory-sink device the fixture tier runs
through."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from kickstarter_etl_pipeline_spark.operators.partitioning import isolated_session
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.streaming.events_stream import (
    read_events_stream,
    run_to_memory,
    stream_tumbling_append_parquet,
)

_BASE = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()


def _ns(hour: int, minute: int) -> int:
    return int((_BASE + hour * 3600 + minute * 60) * 1_000_000_000)


def _write_events(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.int64()),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, path)


def test_append_mode_drops_late_events(spark, tmp_path):
    """The production streaming contract: a window is emitted once the
    watermark passes its end, and events arriving later than the
    watermark allows are dropped — not merged, not double-emitted."""
    src = tmp_path / "src"
    src.mkdir()
    # Batch 1: two 10:xx clicks + a 13:30 event that advances the
    # watermark to 12:30 (1h delay), finalizing the [10:00,11:00) window.
    _write_events(
        str(src / "batch1.parquet"),
        [
            (1, _ns(10, 0), 1, "click", 1.0, "{}"),
            (2, _ns(10, 15), 1, "click", 1.0, "{}"),
            (3, _ns(13, 30), 9, "click", 1.0, "{}"),
        ],
    )
    # Batch 2: watermark-neutral — during this batch [10:00,11:00) is
    # emitted (n=2) and its state evicted.
    _write_events(
        str(src / "batch2.parquet"),
        [(4, _ns(13, 45), 9, "click", 1.0, "{}")],
    )
    # Batch 3: a LATE 10:30 click — its window was already emitted and
    # evicted, so the row must be dropped (it may NOT resurrect state
    # and double-emit the window); plus a 15:00 event whose window
    # never finalizes before the stream ends.
    _write_events(
        str(src / "batch3.parquet"),
        [
            (5, _ns(10, 30), 1, "click", 100.0, "{}"),
            (6, _ns(15, 0), 2, "click", 1.0, "{}"),
        ],
    )
    # Force batch order: the file source processes oldest-mtime first.
    t0 = os.path.getmtime(str(src / "batch3.parquet"))
    for i, name in enumerate(["batch1.parquet", "batch2.parquet", "batch3.parquet"]):
        os.utime(str(src / name), (t0 - 300 + i * 120, t0 - 300 + i * 120))

    result = stream_tumbling_append_parquet(
        spark,
        str(src),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    collected = result.collect()
    ten_oclock = [r for r in collected if r["bucket_start"] == "2024-01-01 10:00:00"]
    # Exactly ONE emission of the finalized window, without the late
    # event (value 100.0) — dropped, not merged, not re-emitted.
    assert len(ten_oclock) == 1
    assert ten_oclock[0]["n_events"] == 2
    assert ten_oclock[0]["sum_value"] == 2.0
    # Window [15:00,16:00) never passed the watermark → never emitted.
    assert not any(r["bucket_start"] == "2024-01-01 15:00:00" for r in collected)


def test_run_to_memory_reads_back_through_the_planning_session(spark, sf_dir):
    """A stream planned on an ``isolated_session`` child returns its rows
    through ``run_to_memory`` without the caller naming the child (the
    memory-sink table exists only in the child's catalog), and no query
    is left running on either session."""
    child = isolated_session(spark, {"spark.sql.shuffle.partitions": "2"})
    counts = read_events_stream(child, sf_dir).groupBy("event_type").count()
    got = {r["event_type"]: r["count"] for r in run_to_memory(counts, "complete").collect()}
    want = {
        r["event_type"]: r["count"]
        for r in load_table(spark, sf_dir, "events").groupBy("event_type").count().collect()
    }
    assert got == want and len(got) > 1
    assert spark.streams.active == [] and child.streams.active == []


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static broadcast enrichment over the events fixture must
    equal the identical batch join+aggregate."""
    from kickstarter_etl_pipeline_spark.sources.readers import load_table
    from kickstarter_etl_pipeline_spark.streaming.events_stream import streaming_static_enrich
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue"),
         ("add_to_cart", "revenue"), ("search", "intent")],
        ["event_type", "category"],
    )
    got = {
        r["category"]: (r["n_events"], r["sum_value"])
        for r in streaming_static_enrich(spark, sf_dir, dim).collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(dim), on="event_type")
        .groupBy("category")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    )
    expected = {r["category"]: (r["n"], r["s"]) for r in batch}
    assert got == expected and len(got) > 0


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """The partitioned fact layout must actually prune: a filter on the
    partition column shows up as PartitionFilters and drops the scan to
    the matching directory only."""
    import io
    from contextlib import redirect_stdout

    from kickstarter_etl_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    path = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    orders.write.partitionBy("order_year").parquet(path)
    filtered = spark.read.parquet(path).filter(F.col("order_year") == 1998)
    buf = io.StringIO()
    with redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines and "order_year" in part_lines[0]
    expected = orders.filter(F.col("order_year") == 1998).count()
    assert filtered.count() == expected > 0


def test_scratch_dirs_are_run_scoped():
    """All scratch paths share one per-process root under .scratch, so a
    full test+bench cycle adds exactly one entry there (removed at
    exit) instead of one per streaming query."""
    from kickstarter_etl_pipeline_spark import scratch

    d1 = scratch.run_scratch_dir("a_")
    d2 = scratch.run_scratch_dir("b_")
    assert os.path.dirname(d1) == os.path.dirname(d2)
    assert os.path.dirname(os.path.dirname(d1)) == scratch.SCRATCH_ROOT


def test_upsert_rollup_refines_open_windows_and_drops_late(spark, tmp_path):
    """The foreachBatch-MERGE rollup contract, vs append mode: open
    windows are VISIBLE and refined in place across batches; late
    events within the watermark update their window's row; events later
    than the watermark are dropped; the final table equals the batch
    aggregate over the non-late rows."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import stream_upsert_rollup

    src = tmp_path / "src"
    src.mkdir()
    # Batch 1: two 10:xx clicks; a 13:30 click advances the watermark
    # to 12:30 at the NEXT batch boundary.
    _write_events(
        str(src / "batch1.parquet"),
        [
            (1, _ns(10, 0), 1, "click", 1.0, "{}"),
            (2, _ns(10, 15), 1, "click", 1.0, "{}"),
            (3, _ns(13, 30), 9, "click", 1.0, "{}"),
        ],
    )
    # Batch 2: refines the still-open [13:00,14:00) window in place.
    _write_events(
        str(src / "batch2.parquet"),
        [(4, _ns(13, 45), 9, "click", 2.0, "{}")],
    )
    # Batch 3: a LATE 10:30 click (watermark is 12:30/12:45 — dropped)
    # plus a fresh 15:00 click (open window, must be visible).
    _write_events(
        str(src / "batch3.parquet"),
        [
            (5, _ns(10, 30), 1, "click", 100.0, "{}"),
            (6, _ns(15, 0), 2, "click", 1.0, "{}"),
        ],
    )
    t0 = os.path.getmtime(str(src / "batch3.parquet"))
    for i, name in enumerate(["batch1.parquet", "batch2.parquet", "batch3.parquet"]):
        os.utime(str(src / name), (t0 - 300 + i * 120, t0 - 300 + i * 120))

    result = stream_upsert_rollup(
        spark,
        str(src),
        str(tmp_path / "rollup"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    rows = {r["bucket_start"]: r for r in result.collect()}
    # One row per window — upsert, never duplicate emissions.
    assert result.count() == len(rows)
    # Late event dropped: the 10:00 window keeps its pre-late value.
    assert rows["2024-01-01 10:00:00"]["n_events"] == 2
    assert rows["2024-01-01 10:00:00"]["sum_value"] == 2.0
    # The 13:00 window was refined IN PLACE across two batches.
    assert rows["2024-01-01 13:00:00"]["n_events"] == 2
    assert rows["2024-01-01 13:00:00"]["sum_value"] == 3.0
    # Open windows are visible (the append sink would withhold 15:00).
    assert rows["2024-01-01 15:00:00"]["n_events"] == 1


def test_dpp_join_prunes_partitions_dynamically(spark, sf_dir):
    """The join-driven prune must be DYNAMIC: the fact scan's
    PartitionFilters carry a dynamicpruningexpression fed by the dim
    subquery (not just a static predicate), and the aggregate equals
    the plain-orders computation."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from kickstarter_etl_pipeline_spark.plans.warehouse_queries import (
        q_dpp_join_prune_agg,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    df = q_dpp_join_prune_agg(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruningexpression" in plan, plan[:2000]

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    expected = {
        (r["order_year"], r["o_orderpriority"]): r["n"]
        for r in orders.filter(F.col("order_year") % 2 == 0)
        .groupBy("order_year", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {
        (r["order_year"], r["o_orderpriority"]): r["n_orders"]
        for r in df.collect()
    }
    assert got == expected and len(got) > 0
