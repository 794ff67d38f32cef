"""Similarity search, multimodal plumbing, and streaming analog units."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.multimodal import documents_as_media, extract_features
from kickstarter_etl_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.streaming.events_stream import (
    streaming_tumbling_counts,
)


def _vecs(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),      # identical to 1
            (3, [0.9, 0.1, 0.0]),      # close to 1
            (4, [0.0, 0.0, 1.0]),      # orthogonal
        ],
        ["vec_id", "embedding"],
    )


def test_brute_force_topk_ranks_identical_first(spark):
    vecs = _vecs(spark)
    res = brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 1), k=3)
    rows = sorted(res.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [2, 3, 4]
    assert rows[0]["cosine_sim"] == 1.0
    assert rows[2]["cosine_sim"] == 0.0


def test_lsh_topk_subset_of_exact(spark):
    vecs = _vecs(spark)
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(vecs, vecs, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in lsh_topk(vecs, vecs, dim=3, k=3, num_planes=2).collect()}
    assert approx <= exact or approx  # approximate: no false scoring, may miss
    # identical vectors always share every hyperplane sign
    assert (1, 2) in approx


def test_multimodal_feature_extraction(spark):
    docs = spark.createDataFrame([(7, "héllo wörld")], ["doc_id", "text"])
    feats = extract_features(documents_as_media(docs)).collect()
    assert len(feats) == 1
    row = feats[0]
    payload = "héllo wörld".encode()
    assert row["media_id"] == 7
    assert row["n_bytes"] == len(payload)
    assert row["payload_md5"] == hashlib.md5(payload).hexdigest()


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    from kickstarter_etl_pipeline_spark.operators.events import tumbling_agg

    stream = streaming_tumbling_counts(spark, sf_dir)
    batch = tumbling_agg(load_table(spark, sf_dir, "events"))
    s = {tuple(r) for r in stream.collect()}
    b = {tuple(r) for r in batch.select(*stream.columns).collect()}
    assert s == b


def test_stateful_timeout_sessionizer(spark, sf_dir):
    """EventTimeTimeout eviction: gap-split sessions emit inline, open
    sessions emit (and free their state) once the watermark passes
    last_event + gap. Invariant-checked against the NoTimeout variant:
    the union of both closure paths can never exceed the total session
    count, and timeout closures must actually occur."""
    from kickstarter_etl_pipeline_spark.streaming.stateful import (
        stateful_sessionize,
        stateful_sessionize_with_timeout,
    )

    got = stateful_sessionize_with_timeout(spark, sf_dir)
    rows = got.collect()
    assert len(rows) > 0
    n_timeout = sum(1 for r in rows if r["closed_by_timeout"])
    assert n_timeout > 0  # the eviction path demonstrably fires
    # Consistency with the oracle-checked NoTimeout variant: every
    # emitted session is one of its sessions, so totals are bounded.
    reference = stateful_sessionize(spark, sf_dir)
    assert len(rows) <= reference.count()
    total_events_emitted = sum(r["n_events"] for r in rows)
    total_events_reference = sum(r["n_events"] for r in reference.collect())
    assert total_events_emitted <= total_events_reference


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """The watermarked stream-stream interval join must produce exactly
    the batch interval join's pairs (AvailableNow, all data within
    watermark)."""
    from kickstarter_etl_pipeline_spark.sources.readers import load_table
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        streaming_purchase_click_join,
    )
    from pyspark.sql import functions as F

    got = {
        (r["purchase_id"], r["click_id"])
        for r in streaming_purchase_click_join(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")
    )
    batch = p.join(
        c,
        (F.col("user_id") == F.col("cu"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    expected = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert got == expected and len(got) > 0


def test_stateful_sessions_on_rocksdb_state_store(spark, sf_dir):
    """The stateful sessionizer must produce identical results on the
    RocksDB state store provider — the production backend when state
    outgrows executor heap (large-key-cardinality streams)."""
    from kickstarter_etl_pipeline_spark.streaming.stateful import stateful_sessionize

    default_rows = {tuple(r) for r in stateful_sessionize(spark, sf_dir).collect()}
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks_rows = {tuple(r) for r in stateful_sessionize(spark, sf_dir).collect()}
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert rocks_rows == default_rows and len(rocks_rows) > 0


def test_frame_sampling_fanout(spark, sf_dir):
    """Frame sampling: bounded 1->N fan-out through one mapInPandas
    pass; chunks reassemble to a prefix of the original payload."""
    import hashlib

    from kickstarter_etl_pipeline_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media)
    per_media = frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    assert all(1 <= r["n"] <= 8 for r in per_media)
    assert len(per_media) == media.count()  # every payload produced frames
    # Spot-check one media: chunks are the payload's prefix in order.
    sample = media.orderBy("media_id").first()
    raw = bytes(sample["payload"])
    got = sorted(
        frames.filter(F.col("media_id") == sample["media_id"]).collect(),
        key=lambda r: r["frame_idx"],
    )
    joined = b"".join(bytes(r["frame_payload"]) for r in got)
    assert raw.startswith(joined) and len(joined) > 0
    assert all(
        hashlib.md5(bytes(r["frame_payload"])).hexdigest() == r["frame_md5"] for r in got
    )


def test_stateful_conversions_state_carries_across_batches(spark, tmp_path):
    """The conversion register must survive micro-batch boundaries: a
    click arriving in batch 1 attributes a purchase arriving in batch 2
    (maxFilesPerTrigger=1 forces one file per batch). Pins the
    state-seeding half of the vectorized ffill fold, which a
    single-batch replay never exercises."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kickstarter_etl_pipeline_spark.streaming.stateful import (
        CLICK_STATE_SCHEMA,
        CONVERSION_SCHEMA,
        _conversion_fn,
    )
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        read_events_raw_stream,
        run_to_memory,
    )

    import glob as _glob
    import os
    import shutil

    base = datetime.datetime(2024, 3, 1, 9, 0, 0)
    d = str(tmp_path / "ev")
    os.makedirs(d)

    def _write(name, rows, mtime):
        """One flat parquet FILE directly under d (the stream source
        dir), with a pinned mtime so batch order is deterministic."""
        tmp = str(tmp_path / f"_stage_{name}")
        spark.createDataFrame(
            rows, "ts timestamp, event_id long, user_id long, event_type string, value double"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = _glob.glob(f"{tmp}/part-*.parquet")
        dst = f"{d}/{name}.parquet"
        shutil.copyfile(part, dst)
        os.utime(dst, (mtime, mtime))

    # file 1: user 7 clicks; user 8 purchases with NO preceding click
    _write("e1", [(base, 1, 7, "click", 1.0), (base, 2, 8, "purchase", 2.0)], 1_000_000_000)
    # file 2 (later mtime): user 7 purchases 30 min after the click
    _write(
        "e2",
        [(base + datetime.timedelta(minutes=30), 3, 7, "purchase", 3.0)],
        1_000_000_600,
    )

    stream = read_events_raw_stream(
        spark, d, glob="*.parquet", max_files_per_trigger=1
    ).filter(F.col("event_type").isin("click", "purchase"))
    conv = stream.groupBy("user_id").applyInPandasWithState(
        _conversion_fn,
        outputStructType=CONVERSION_SCHEMA,
        stateStructType=CLICK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = {tuple(r) for r in run_to_memory(conv, "append").collect()}
    us = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    assert rows == {(7, us, us + 30 * 60 * 1_000_000, 30 * 60 * 1_000_000)}
