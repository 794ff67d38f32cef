"""Inline query definitions, part 1: star schema, events (batch +
streaming), dedup tiers, corpus assembly, multimodal plumbing.

Split out of queries.py in round 6 (module-size hygiene); the
registry and driver contract stay in queries.py, which re-exports
every name here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.operators import events as EV  # noqa: F401
from kickstarter_etl_pipeline_spark.operators import text as TX  # noqa: F401
from kickstarter_etl_pipeline_spark.operators.dedup import (  # noqa: F401
    exact_dedup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from kickstarter_etl_pipeline_spark.operators.dims import build_dim_date  # noqa: F401
from kickstarter_etl_pipeline_spark.operators.multimodal import (  # noqa: F401
    documents_as_media,
    extract_features,
)
from kickstarter_etl_pipeline_spark.operators.ranking import grouped_two_phase_rank
from kickstarter_etl_pipeline_spark.operators.rounding import round_det  # noqa: F401
from kickstarter_etl_pipeline_spark.operators.similarity import (  # noqa: F401
    brute_force_topk,
    lsh_topk,
    query_anchors,
)
from kickstarter_etl_pipeline_spark.operators.transform import fractional_days  # noqa: F401
from kickstarter_etl_pipeline_spark.plans.star import (  # noqa: F401
    tpch_dim_category,
    tpch_dim_state,
    tpch_fact,
    tpch_star,
)
from kickstarter_etl_pipeline_spark.session import ensure_runtime_confs  # noqa: F401
from kickstarter_etl_pipeline_spark.sources.readers import load_table  # noqa: F401
from kickstarter_etl_pipeline_spark.streaming.events_stream import (  # noqa: F401
    streaming_tumbling_counts,
)


def q_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + F4-F9: distinct dates with derived attributes (Dim_Date)."""
    return build_dim_date(load_table(spark, sf_dir, "orders"), "o_orderdate")


def q_dim_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + O1 + A6: distinct → sort → dense surrogate keys (Dim_State)."""
    return tpch_dim_state(load_table(spark, sf_dir, "orders"))


def q_dim_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + O2 + A6: composite-key dimension (Dim_Category)."""
    return tpch_dim_category(load_table(spark, sf_dir, "part"))


def q_fact_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-J3 + F2 + F9: fully-keyed fact table (Fact_Campaigns analog)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return tpch_fact(lineitem, orders, part, tpch_dim_state(orders), tpch_dim_category(part))


def q_star_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full star build + analytical rollup by state × year."""
    star = tpch_star(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )
    return (
        star.fact.groupBy(
            "state_key",
            F.expr("CAST(order_date_key DIV 10000 AS INT)").alias("order_year"),
        )
        .agg(
            F.count("*").alias("n_items"),
            # revenue is 4-dp-rounded per row → exact as decimal(18,4);
            # exact sum makes the 2-dp rounding engine-independent even
            # when the true total lands on a .005 boundary
            F.round(F.sum(F.col("revenue").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_revenue"),
            round_det(F.avg("ship_delay_days"), 4).alias("avg_ship_delay_days"),
        )
        .join(F.broadcast(star.dim_state.select("state_key", "state_name")), "state_key")
        .select("state_name", "order_year", "n_items", "total_revenue", "avg_ship_delay_days")
    )


# ---------------------------------------------------------------------------
# Classic relational operators
# ---------------------------------------------------------------------------


def q_group_count_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: value_counts() — group-count, descending (reference :78)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "o_orderstatus")
    )


def q_project_rename_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 + P2 + predicate filter: projection, rename, comparison filter."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(
            "c_custkey",
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
            "c_acctbal",
        )
    )


def q_conditional_flag_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: when/otherwise flag (success_flag analog) + aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    flag = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).cast("int")
    return orders.groupBy(flag.alias("is_finished")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def q_ship_delay_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 via join: fractional-day difference aggregated per priority."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    delay = F.round(fractional_days("l_shipdate", "o_orderdate"), 6)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .select("o_orderpriority", delay.alias("_delay"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            round_det(F.avg("_delay"), 6).alias("avg_delay_days"),
            F.round(F.max("_delay"), 6).alias("max_delay_days"),
        )
    )


def q_window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window row_number: top-3 orders per customer by price."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window running aggregate: cumulative spend per customer over time."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


def q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way broadcast join + ROLLUP grouping sets."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.tumbling_agg(load_table(spark, sf_dir, "events"))


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.sessionize(load_table(spark, sf_dir, "events"))


def q_events_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.json_field_agg(load_table(spark, sf_dir, "events"))


def q_events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via VariantType (Spark 4): parse_json keeps
    the open-schema payload in the binary variant encoding (no
    schema-on-write like from_json) and variant_get does typed path
    extraction at query time. At 100 TB this is the shredding-free
    ingestion path for heterogeneous event payloads — parse once,
    extract lazily, columnar the whole way. try_variant_get covers the
    absent-path case (NULL, not error)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("_v", F.parse_json("props"))
    return (
        v.select(
            F.variant_get("_v", "$.k", "int").alias("k"),
            F.try_variant_get("_v", "$.missing", "int").alias("missing"),
            "value",
        )
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count("missing").alias("n_missing_path"),
        )
    )


def q_events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of q_events_tumbling (AvailableNow)."""
    return streaming_tumbling_counts(spark, sf_dir)


def q_events_stream_hourly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming: hourly windowed agg feeding a daily
    windowed agg in ONE query (multiple-stateful-operator support,
    window_time hand-off, append mode). The oracle replays the
    append-mode emission rule: a day row exists iff the day's window
    end is at or below the global watermark (ms-truncated max event
    time − 2 h), so the final partial day stays withheld."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        streaming_hourly_daily_rollup,
    )

    return streaming_hourly_daily_rollup(spark, sf_dir)


def q_pystream_replay_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector end-to-end (Python Data Source
    streaming API, sources/python_datasource.py): the events log
    replays through `pyeventlog` in 5 offset-tracked micro-batches
    (initialOffset → latestOffset admission control → row-range
    partitions read executor-side), aggregated in complete mode. Over
    the finite fixture the final table must equal the batch aggregate,
    so any dropped/duplicated micro-batch or mis-sliced partition
    flips the oracle hash."""
    import uuid as _uuid

    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.python_datasource import register

    ensure_runtime_confs(spark)
    register(spark)
    stream = (
        spark.readStream.format("pyeventlog")
        .schema("event_id bigint, user_id bigint, event_type string, value double")
        .option("batches", "5")
        .load(f"{sf_dir}/events.parquet")
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    name = f"pystream_{_uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", run_scratch_dir("pyds_stream_ckpt_"))
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return spark.table(name)


def q_events_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance: the update-mode tumbling
    aggregation MERGEd into a warehouse table per micro-batch
    (foreachBatch + merge_upsert) — the rollup always holds the current
    value of every window. Over the finite fixture the final table must
    equal the batch tumbling aggregate, so it shares q_events_tumbling's
    oracle; the multi-batch refine/late-drop contract is covered in
    tests/test_streaming_append_and_jdbc.py."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.streaming.events_stream import stream_upsert_rollup

    root = run_scratch_dir("stream_upsert_")
    rollup = stream_upsert_rollup(
        spark,
        sf_dir,
        root + "/rollup",
        root + "/ckpt",
        path_glob="events.parquet",
    )
    return rollup.select(
        "bucket_start",
        "event_type",
        "n_events",
        "sum_value",
        round_det(F.col("sum_value") / F.col("n_events"), 6).alias("avg_value"),
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.sliding_window_agg(load_table(spark, sf_dir, "events"))


def q_events_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.distinct_user_event_pairs(load_table(spark, sf_dir, "events"))


def q_exact_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed median of o_totalprice per order status, via
    explicit middle-rank selection — rank rows by value per group, keep
    positions floor((n+1)/2) and floor((n+2)/2), median = (min+max)/2
    of those one-or-two rows. No percentile interpolation semantics to
    disagree on across engines: every step is rank arithmetic plus one
    fixed IEEE expression, so the oracle is exact.

    Scale note (upgraded round 10): the per-group rank rides
    grouped_two_phase_rank — one GLOBAL range-exchange rank over the
    composite (status, price, orderkey) order minus a 3-row broadcast
    of per-status offsets — so no status ever funnels into a single
    task (the old Window.partitionBy(status) put each of the 3
    statuses on one task). approx_percentile (q_approx_aggregates)
    remains the sketch path; this operator is what you verify it
    against."""

    orders = load_table(spark, sf_dir, "orders")
    ranked = grouped_two_phase_rank(
        orders.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        ["o_orderstatus"],
        ["o_totalprice", "o_orderkey"],
        n_col="_n",
    ).withColumnRenamed("rank_in_group", "_rn")
    mid = ranked.filter(
        (F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
        | (F.col("_rn") == F.floor((F.col("_n") + 2) / 2))
    )
    return mid.groupBy("o_orderstatus").agg(
        F.max("_n").cast("long").alias("n_orders"),
        ((F.min("o_totalprice") + F.max("o_totalprice")) / 2).alias("median_price"),
    )


def q_user_clustering_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients over the same error co-occurrence
    graph as q_user_triangle_counts: cc = 2T/(d(d-1)) per user with
    degree >= 2, triangle-free vertices reported as 0.0."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        clustering_coefficients,
        cooccurrence_edges,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, bucket_seconds=1800)
    return clustering_coefficients(edges).select(
        F.col("id").alias("user_id"), "degree", "n_triangles", "clustering_coeff"
    )


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 retrieval: int8-quantized scan (exact integer dot products)
    shortlists 20 candidates per query on rounded approximate cosine,
    then exact float rescore re-ranks to top-5 — the production
    scalar-quantization + rescoring pattern, fully oracle'd because the
    quantization grid and both rank orders are engine-deterministic."""
    from kickstarter_etl_pipeline_spark.operators.similarity import quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_topk(emb, query_anchors(emb, 20))


def q_user_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting (degree-ordered orientation — see
    operators.graph) over the error co-occurrence graph: users
    connected iff they both errored within the same 30-minute bucket.
    Per-user triangle participation + degree; bot-ring / correlated-
    failure detection shape."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        triangle_counts,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, bucket_seconds=1800)
    return triangle_counts(edges).select(
        F.col("id").alias("user_id"), "degree", "n_triangles"
    )


def q_events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior click."""
    from kickstarter_etl_pipeline_spark.operators.joins import asof_join_backward

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    clicks = events.filter(F.col("event_type") == "click")
    res = asof_join_backward(purchases, clicks)
    return res.select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("asof_right_id").alias("click_event_id"),
        (F.col("left_ts_us") - F.col("asof_ts_us")).alias("gap_us"),
        F.round("asof_value", 4).alias("click_value"),
    )


def q_events_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): gap
    sessionizer with per-key state. With the finite AvailableNow replay
    its emitted sessions equal the batch sessionizer's, so it gets a full
    SQL oracle (closed = every session but the user's last)."""
    from kickstarter_etl_pipeline_spark.streaming.stateful import stateful_sessionize

    return stateful_sessionize(spark, sf_dir)


def q_events_stateful_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EventTimeTimeout sessionizer (production eviction path) under a
    FULL SQL oracle. With the finite AvailableNow replay the emitted
    rows are exactly: every gap-split session (closed_by_timeout=False)
    plus each user's final session iff the end-of-replay watermark
    (max event-time ms − the 1-minute delay) strictly passed its
    last_event_ms + 30-min gap timer (closed_by_timeout=True); final
    sessions still inside the gap window stay in state, unemitted —
    the bounded-state contract an unbounded 100 TB stream relies on.
    The oracle replays that timer arithmetic in SQL (ms truncation and
    strict <, matching Spark's watermark bookkeeping)."""
    from kickstarter_etl_pipeline_spark.streaming.stateful import (
        stateful_sessionize_with_timeout,
    )

    return stateful_sessionize_with_timeout(spark, sf_dir)


def q_events_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join (attribution
    with unattributed conversions) under a FULL SQL oracle. Matched
    pairs equal the batch interval join; a purchase with no in-window
    click emits once with NULL click_id after the global watermark
    passes its event time. The oracle replays Spark's watermark
    bookkeeping: per watermarked column, max event-time ms (truncated)
    minus the 2h delay; GLOBAL watermark = min over both columns (the
    default multipleWatermarkPolicy) — purchases newer than that stay
    buffered at end-of-replay, unemitted."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        streaming_purchase_click_join,
    )

    return streaming_purchase_click_join(spark, sf_dir, how="left_outer")


def q_events_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join: matched
    attribution pairs, plus unattributed purchases (NULL click) once
    the global watermark passes the purchase's event time, plus
    orphaned clicks (NULL purchase) once it passes the END of the
    click's forward match window (c_ts + lookback) — each side's
    eviction point is where no future match can exist, and the oracle
    replays both."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        streaming_purchase_click_join,
    )

    return streaming_purchase_click_join(spark, sf_dir, how="full_outer")


def q_events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window streaming aggregation.

    Oracled: complete mode + AvailableNow means the one batch sees every
    event (nothing is ever late against the epoch-initialized watermark
    and complete mode never evicts state), so the final table equals
    batch gaps-and-islands sessionization — the DuckDB twin replays the
    strictly-greater-than-gap split rule Spark's session merge uses."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import streaming_session_windows

    return streaming_session_windows(spark, sf_dir)


def q_events_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of q_events_sliding (AvailableNow)."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import streaming_sliding_counts

    return streaming_sliding_counts(spark, sf_dir)


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregates (single + multi column)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_custkey").alias("n_custkeys"),
        F.countDistinct("o_orderstatus", "o_orderpriority").alias("n_status_priority"),
        F.count("*").alias("n_rows"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)


def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via prefix filtering (PPJoin family) at
    J ≥ 7/10 — the deterministic exact scale path next to MinHash-LSH.
    The oracle is the UNfiltered brute-force pair set with the same
    integer keep rule, so the grade empirically proves the prefix
    filter's completeness theorem (any missed pair would hash-mismatch).
    See operators/dedup.py:prefix_filtered_jaccard_pairs for the
    ordering/prefix-length math and the 100 TB posture."""
    from kickstarter_etl_pipeline_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    return prefix_filtered_jaccard_pairs(
        load_table(spark, sf_dir, "documents")
    )


def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard (scale path).

    Graded against the FULL exact oracle (same SQL as
    ngram_jaccard_pairs, minus n_common): because every candidate is
    exact-verified, the output equals the exact ≥0.8 pair set whenever
    banding recall is 1 — and with b=16 bands of r=4 rows the S-curve
    puts P(miss) ≤ (1-0.8^4)^16 ≈ 2.4e-4 per pair even at the 0.8
    threshold boundary (far lower for the higher-Jaccard pairs the
    fixture contains). Verified equal to the exact tier at sf0.001,
    0.01 and 0.1; the equality invariant is also pinned in pytest."""
    return minhash_dedup_pairs(load_table(spark, sf_dir, "documents"))


def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding candidates over xxhash64 token hashes (rows-only:
    xxhash64 has no DuckDB twin). The fully-oracle'd sibling is
    q_simhash_md5_candidates."""
    return simhash_candidates(load_table(spark, sf_dir, "documents"))


def q_simhash_md5_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding candidates over engine-portable 60-bit md5 token
    hashes — FULLY oracle'd: the whole pipeline (tokenize → md5 hash →
    per-bit ±1 sums → sign pack → 4×15-bit band blocking → Hamming
    distance) is deterministic integer arithmetic any engine replays
    bit-for-bit; see _ORACLES['simhash_md5_candidates']. xxhash64
    (q_simhash_candidates) stays the production tier — JVM-native and
    4 more bits — this twin proves the construction itself right."""
    from kickstarter_etl_pipeline_spark.operators.dedup import md5_token_hash

    return simhash_candidates(
        load_table(spark, sf_dir, "documents"), hash_fn=md5_token_hash, bits=60
    )


def q_events_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join, graded (was pytest-only before r8): the
    event stream enriched per micro-batch against a broadcast
    reference dimension (event_type → business category; the static
    side never becomes state — the pattern for joining a 100 TB/day
    stream against reference data), rolled up per category. Over the
    finite AvailableNow replay the result equals the batch join, which
    is exactly what the oracle computes."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        streaming_static_enrich,
    )

    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("add_to_cart", "revenue"),
            ("search", "intent"),
        ],
        ["event_type", "category"],
    )
    return streaming_static_enrich(spark, sf_dir, dim)


def q_events_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with an attribution window: each click
    matched to the user's EARLIEST following purchase within 1 hour
    (ties at the same microsecond → purchase wins; simultaneous
    purchases → smallest event id), nulls when no purchase follows in
    time. The time-mirror of events_asof_purchase_click, via
    operators.joins.asof_join_forward — one union + one per-user
    window pass, never a per-row range probe."""
    from kickstarter_etl_pipeline_spark.operators.joins import asof_join_forward

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    purchases = events.filter(F.col("event_type") == "purchase")
    res = asof_join_forward(clicks, purchases, tolerance_us=3_600_000_000)
    return res.select(
        "user_id",
        F.col("event_id").alias("click_event_id"),
        F.col("asof_right_id").alias("purchase_event_id"),
        F.col("gap_us"),
        F.round("asof_value", 4).alias("purchase_value"),
    )


def q_simhash_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CLUSTER resolution — the step that turns the
    banded candidate pairs into keep/drop groups: md5-tier candidates
    with Hamming ≤ 8 (of 60 bits) become edges, connected components
    assign every document its min-id cluster, singletons keep their
    own id. Composes two individually-verified pipelines
    (simhash_md5_candidates, the dedup_components CC machinery), so
    the recursive-CTE oracle replays both. Per-doc output with the
    cluster size, mirroring dedup_components."""
    from kickstarter_etl_pipeline_spark.operators.dedup import (
        connected_components_star,
        md5_token_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_candidates(docs, hash_fn=md5_token_hash, bits=60).filter(
        F.col("hamming") <= 8
    )
    # r14: the Hamming-≤8 candidate graph carries transitive near-dup
    # CHAINS (measured diameter ≥ 8 at sf0.1 — min-label propagation
    # needed 9 full rounds, ~0.7 s each), which is exactly the regime
    # connected_components' own docstring routes to the large-star/
    # small-star variant: O(log n) rounds regardless of diameter.
    # Probed on the identical checkpointed pair set: 4.5 s → 3.2 s with
    # byte-identical labels (CC output — min member id per component —
    # is algorithm-independent; the recursive-CTE oracle is unchanged).
    comp = connected_components_star(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("n_members"))
    return comp.join(sizes, on="component_id").select(
        "doc_id", "component_id", "n_members"
    )


def q_simhash_twin_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded containment contract for the xxhash64 SimHash tier
    (r7 verdict task 7, corrected): the verdict proposed grading
    "md5-tier pairs ⊆ xxhash-tier pairs", but that relation is
    empirically FALSE — measured on the fixtures, ~95% of md5-band
    collisions are hash-specific noise absent from the xxhash set
    (2589 of 2717 pairs at sf0.01), because band collisions between
    non-near-dup docs depend on the hash function. The relation that
    IS a theorem, and that this query grades end-to-end through the
    production xxhash pipeline (tokenize → xxhash64 → ±1 bit sums →
    sign pack → 4×16-bit banding → pair join → Hamming):

      a whitespace perturbation never changes the token sequence
      (tokens = split(\\s+) of the trimmed text), hence never the
      SimHash under ANY hash — so every (doc, twin) pair, where twin
      is the doc with every space doubled and id offset by 10^6, MUST
      surface as a candidate with Hamming distance exactly 0.

    Output: (n_twin_pairs, n_missing, max_twin_hamming). The oracle's
    n_missing = 0 / max_twin_hamming = 0 are those theorem constants;
    n_twin_pairs is the SQL-computed doc count. Any break anywhere in
    the xxhash tier (hash width, shift math, band mask, join keys)
    drops pairs or lifts the Hamming and flips the grade. The raw
    candidate dump (q_simhash_candidates) stays rows-only — its pair
    set is xxhash-specific by nature; this contract is its graded
    witness on the same code path."""
    from kickstarter_etl_pipeline_spark.operators.dedup import simhash_candidates as _sc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.regexp_replace("text", " ", "  ").alias("text"),
    )
    cands = _sc(docs.unionByName(twins)).filter(
        F.col("id_b") == F.col("id_a") + F.lit(1_000_000)
    )
    expected = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(1_000_000)).alias("id_b"),
    )
    return expected.join(cands, ["id_a", "id_b"], "left").agg(
        F.count("*").cast("long").alias("n_twin_pairs"),
        F.sum(F.when(F.col("hamming").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing"),
        F.coalesce(F.max("hamming"), F.lit(-1)).cast("int").alias("max_twin_hamming"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing into 128-token context windows,
    sharded by source (operators.corpus.pack_sequences)."""
    from kickstarter_etl_pipeline_spark.operators.corpus import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"), context_tokens=128)


def q_source_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (sqrt) source-mixing probabilities + expected
    epochs under a 1M-token budget (operators.corpus.source_mixing_weights)."""
    from kickstarter_etl_pipeline_spark.operators.corpus import source_mixing_weights

    return source_mixing_weights(load_table(spark, sf_dir, "documents"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, stride 48) with
    first/last-token witnesses (operators.corpus.chunk_documents)."""
    from kickstarter_etl_pipeline_spark.operators.corpus import chunk_documents

    return chunk_documents(load_table(spark, sf_dir, "documents"))


def q_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate share per doc: trigrams appearing in
    ≥5 distinct documents count as boilerplate
    (operators.corpus.boilerplate_stats)."""
    from kickstarter_etl_pipeline_spark.operators.corpus import boilerplate_stats

    return boilerplate_stats(
        load_table(spark, sf_dir, "documents"), min_doc_freq=5
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing: mapInPandas feature extraction."""
    return extract_features(documents_as_media(load_table(spark, sf_dir, "documents")))



def q_events_stream_unattributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream ANTI-join: purchases with NO click in
    the preceding hour — the abandonment/attribution-gap stream.
    Structured Streaming has no native stream-stream left_anti; the
    documented pattern (implemented in streaming_purchase_click_join's
    ``unmatched_only``) is the watermarked LEFT OUTER interval join
    with an in-stream IS NULL filter, inheriting the outer join's
    eviction rule: an unmatched purchase emits exactly once, after the
    global watermark passes its event time. The SQL twin replays that
    bookkeeping (the left-join oracle's NULL rows)."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        streaming_purchase_click_join,
    )

    return streaming_purchase_click_join(
        spark, sf_dir, how="left_outer", unmatched_only=True
    )


def q_events_stream_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second custom-stateful streaming SHAPE (round 12, VERDICT r11
    task 7): cross-event-type pattern detection — each purchase within
    2 hours of the user's latest preceding click emits a conversion
    row, last-touch attribution, single-long state per user
    (applyInPandasWithState, NoTimeout). Deterministic under the finite
    AvailableNow replay, so it gets a FULL SQL oracle (IGNORE NULLS
    last_value window over the same (ts, event_id) total order)."""
    from kickstarter_etl_pipeline_spark.streaming.stateful import stateful_conversions

    return stateful_conversions(spark, sf_dir)


def q_events_tws_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionizer on transformWithStateInPandas — Spark 4's
    StatefulProcessor API (typed ValueState handle, init/close
    lifecycle), exercising the JVM↔Python STATE PROTOCOL end-to-end:
    every get/update crosses the state server as protobuf wire bytes
    (see streaming.tws_sessionize; in this container the runtime is the
    vendored pure-Python wire-format shim under vendor/pure_protobuf).
    Emitted sessions are IDENTICAL to the applyInPandasWithState
    operator's under the finite AvailableNow replay, so the SAME full
    SQL oracle grades both (closed = every session but the user's
    last) — a hash MATCH here certifies the protocol encoding, the
    state round-trips, and the sessionization fold in one unit."""
    from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import (
        tws_sessionize,
    )

    return tws_sessionize(spark, sf_dir)


def q_events_tws_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME TIMERS on the StatefulProcessor API: the production
    bounded-state sessionizer re-expressed on transformWithStateInPandas
    — gap-splits emit inline, the open session emits from
    handleExpiredTimer once the watermark passes last_event + gap, and
    state is cleared (eviction). Exercises the timer half of the state
    protocol (RegisterTimer/DeleteTimer/ExpiryTimerRequest wire
    messages through the vendored runtime) that events_tws_sessions'
    NoTimeout fold does not. Emitted rows equal the
    applyInPandasWithState EventTimeTimeout operator's exactly —
    including the strict watermark boundary — so the SAME oracle
    (watermark replay) grades both."""
    from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import (
        tws_sessionize_with_timeout,
    )

    return tws_sessionize_with_timeout(spark, sf_dir)


def q_events_tws_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE typed state variables per key on the StatefulProcessor API
    — the capability transformWithState adds over the old API's single
    state tuple, and the completion of the state-protocol coverage:
    ValueState (running total), MapState (per-event-type counts —
    GetValue/UpdateValue/Iterator wire messages), ListState (3 most
    recent events — ListStateGet/ListStatePut), side by side in one
    RocksDB-backed processor, every access crossing the JVM state
    server through the vendored protobuf runtime. Under AvailableNow's
    single batch the emitted profile equals a batch aggregate, so the
    whole three-state fold is hash-graded (ties on the modal type
    break to the lexically largest type on both engines)."""
    from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import (
        tws_user_profile,
    )

    return tws_user_profile(spark, sf_dir)


def q_events_tws_warm_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """handleInitialState as a GRADED surface: per-user state is
    bootstrapped from a BATCH aggregate (purchase counts) through
    transformWithStateInPandas's initialState plumbing, then the event
    stream folds on top — the warm-start-from-snapshot pattern a
    production migration to the StatefulProcessor API actually uses.
    Under AvailableNow's single batch the output is exactly
    n_total = purchases + all events per user, with the seeded flag
    recording whether initial state existed — both derivable in plain
    SQL, so the seeding path itself is hash-graded."""
    from kickstarter_etl_pipeline_spark.streaming.tws_sessionize import (
        tws_warm_start_totals,
    )

    return tws_warm_start_totals(spark, sf_dir)


def q_events_tws_restart_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTART RECOVERY + EXACTLY-ONCE as a GRADED surface: the events
    fixture is split at its midpoint timestamp, phase 1 streams half A
    through a transformWithStateInPandas fold and terminates, then a
    NEW query instance resumes from the SAME RocksDB checkpoint with
    half B added to the source directory (streaming/tws_recovery.py).
    Phase 2's per-user totals equal the batch aggregate over ALL events
    iff the state store survived the restart (no undercount) AND the
    file-source log kept half A from being re-read (no inflation) —
    the production re-deploy contract, hash-graded."""
    from kickstarter_etl_pipeline_spark.streaming.tws_recovery import (
        tws_restart_totals,
    )

    return tws_restart_totals(spark, sf_dir)


def q_events_tws_ttl_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State TTL EVICTION as a GRADED surface (the one StatefulProcessor
    capability r13 left ungraded): two otherwise-identical per-user
    counters — one with a 500 ms TTLConfig — fold across the two-phase
    stop/resume replay (streaming/tws_recovery.py). The inter-phase gap
    is a full query restart (seconds >> TTL), so phase 2 must see the
    TTL'd state EVICTED (n_ttl = half-B count) while its no-TTL twin
    carries (n_keep = full count): the differential hash-grades
    eviction itself, with the restart as the built-in control. Note the
    r14 shim fix made this gradable at all: pyspark's state client sets
    TTLConfig via in-place submessage mutation, which the r13 vendored
    runtime silently DISCARDED — the TTL never reached the JVM before."""
    from kickstarter_etl_pipeline_spark.streaming.tws_recovery import (
        tws_ttl_counts,
    )

    return tws_ttl_counts(spark, sf_dir)


def q_events_tws_evolved_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State SCHEMA EVOLUTION across a restart as a GRADED surface —
    the production 'redeploy the streaming job with richer state'
    contract: phase 1 folds a per-user count in a ONE-field ValueState
    and terminates; phase 2 resumes the SAME RocksDB checkpoint with
    the state widened to (n, s) under the Avro state encoding
    (streaming/tws_recovery.py — evolution is illegal under the
    default UnsafeRow encoding, so the isolated session pins
    ``spark.sql.streaming.stateStore.encodingFormat=avro``). Per user
    active in half B, the emitted row differentially proves every
    failure mode: n_total spans BOTH halves (evolved state lost →
    undercount), sum_b_value spans half B alone (the Avro NULL default
    for the added field; a re-read of half A inflates it; a non-null
    default corrupts it) — all hash-graded against the batch twin."""
    from kickstarter_etl_pipeline_spark.streaming.tws_recovery import (
        tws_evolved_totals,
    )

    return tws_evolved_totals(spark, sf_dir)


def q_events_stream_state_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store OBSERVABILITY as a GRADED surface (Spark 4 State
    Data Source): run the append-mode watermarked tumbling
    aggregation, then emit every window exactly once tagged by where
    it lives — 'emitted' from the exactly-once parquet sink, 'open'
    read DIRECTLY from the checkpoint's state store
    (streaming/state_inspect.py). The oracle replays the append-mode
    watermark split (window end ≤ ms-truncated max event time − 1 h),
    so a lost state row, a phantom emission, or a watermark drift
    each fails the hash — the production liveness probe (bounded
    state ≈ open windows, inspected without stopping the stream),
    hash-graded."""
    from kickstarter_etl_pipeline_spark.streaming.state_inspect import (
        tumbling_state_split,
    )

    return tumbling_state_split(spark, sf_dir)


def q_events_tws_state_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed CUSTOM state read at rest as a GRADED surface: the
    RestartTotalsProcessor's ValueState, read straight out of the
    RocksDB checkpoint via the State Data Source's ``stateVarName``
    option after a half-A-only run (streaming/tws_recovery.py
    tws_state_at_rest) — per-user (count, value-sum) must equal the
    batch aggregate over half A. Completes the state-observability
    pair: events_stream_state_split reads a windowed-aggregation
    store; this reads user-defined StatefulProcessor state."""
    from kickstarter_etl_pipeline_spark.streaming.tws_recovery import (
        tws_state_at_rest,
    )

    return tws_state_at_rest(spark, sf_dir)
