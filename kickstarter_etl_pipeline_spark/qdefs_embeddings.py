"""Inline query definitions, part 2: embeddings / similarity search,
window functions, connected components, sketches, quantization.

Split out of queries.py in round 6; queries.py re-exports every
name here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.constants import (
    ANN_K,
    EMBED_DIM,
    LSH_NUM_PLANES,
    LSH_NUM_TABLES,
    LSH_N_PROBE,
)
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


# ---------------------------------------------------------------------------
# Embeddings: similarity search
# ---------------------------------------------------------------------------


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_anchors(emb, 20), k=ANN_K)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — FULLY oracle'd: every stage
    (md5-constant hyperplanes, sign bucketing, lowest-|margin|
    multi-probe, exact rounded-cosine re-rank) is deterministic, so
    _ann_lsh_oracle_sql replays the identical pipeline in DuckDB.

    Production recall config: 6 independent 3-plane tables with 2-probe
    multi-probe — measured recall 0.98 vs brute force on the fixture
    (tests/test_scale_paths.py asserts ≥ 0.8). Additional invariants in
    tests/test_ann_partial_oracle.py: emitted pairs ⊆ exact top-2k,
    exact-rescored bit-equal, recall ≥ 0.8 vs exact top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, query_anchors(emb, 20), dim=EMBED_DIM,
        num_planes=LSH_NUM_PLANES, num_tables=LSH_NUM_TABLES, n_probe=LSH_N_PROBE,
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (TRAINED k-means cells + n_probe) approximate top-k — FULLY
    oracle'd since round 8: the Lloyd training runs on an integer grid
    (deterministic md5-anchor init, exact integer distances and
    dimension-wise floor-mean updates — similarity.ivf_lloyd_topk), so
    the DuckDB twin unrolls the 5 assignment/update rounds as CTEs and
    replays the identical index, probe fan-out and rounded-cosine
    re-rank."""
    from kickstarter_etl_pipeline_spark.operators.similarity import ivf_lloyd_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_lloyd_topk(
        emb, query_anchors(emb, 20)
    )


def q_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the trained-IVF tier against exact brute-force
    cosine, per query — the index-quality monitor graded the same way
    PQ's is (q_pq_recall_report): both pipelines are individually
    deterministic and fully oracle'd (ann_ivf_topk since r8,
    embedding_topk's exact scorer), so the composed report carries a
    full oracle too. n_probe=4 of 8 trained cells; misses are the
    cell-boundary neighbors IVF trades for the pruned scan."""
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det
    from kickstarter_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_lloyd_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = query_anchors(emb, 20)
    exact = brute_force_topk(emb, queries, k=ANN_K).select("query_id", "neighbor_id")
    approx = ivf_lloyd_topk(
        emb, queries
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            round_det(F.col("n_hits") / float(ANN_K), 6).alias("recall_at_5"),
        )
    )


def q_embedding_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by
    DETERMINISTIC power iteration (similarity.pca_top_component) — the
    anisotropy / drift / whitening monitor over a vector table, fully
    oracle'd: integer-grid centering, integer matrix-vector
    accumulation (order-independent), fixed-fold normalization on a
    1e-9 grid; the DuckDB twin unrolls the 8 rounds as CTEs. Output:
    per-dimension mean (1e-6 units), unit PC1 weight, and the PC1
    variance in original units."""
    from kickstarter_etl_pipeline_spark.operators.similarity import pca_top_component

    return pca_top_component(load_table(spark, sf_dir, "embeddings"))


def q_ann_ivf_anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic anchor-IVF approximate top-k — FULLY oracle'd: the
    index build (anchors = n_cells corpus vectors with smallest
    md5(id)), the nearest-cell assignment, the n_probe cell fan-out and
    the exact rounded-cosine re-rank are all deterministic, so
    _ann_ivf_anchor_oracle_sql replays the identical pipeline in
    DuckDB. The trained (k-means) variant is q_ann_ivf_topk."""
    from kickstarter_etl_pipeline_spark.operators.similarity import ivf_anchor_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_anchor_topk(
        emb, query_anchors(emb, 20)
    )


def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ 0.9).

    The correctness-tier twin of the LSH-bucketed variant: full pair scan,
    oracle-checkable. The LSH variant is the 100 TB path.

    ADVISOR NOTE: plans.inspect.advise flags this plan CRITICAL (data-
    sized BroadcastNestedLoopJoin) — by design, and kept as the
    advisor's pinned TRUE POSITIVE (tests/test_robustness.py::
    test_advisor_true_positive_stays_flagged): it IS a quadratic pair
    scan, acceptable only at fixture scale, and the advisor's job is to
    say exactly that."""
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions
    from kickstarter_etl_pipeline_spark.operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    a = ensure_min_partitions(
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    ).withColumn("_na", norm(F.col("_va")))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb")).withColumn(
        "_nb", norm(F.col("_vb"))
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.9)
    )


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, approx quantiles) — rows-only:
    sketch implementations are engine-specific by nature."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.approx_count_distinct("o_custkey").alias("approx_custkeys"),
        F.round(F.percentile_approx("o_totalprice", F.lit(0.5)), 2).alias("approx_p50"),
    )


def q_events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window functions: per-user previous/next event and the
    gap to the previous one in exact integer microseconds."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.col("_us") - F.lag("_us").over(w)).alias("gap_from_prev_us"),
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column: per-vector
    L2 norm via F.aggregate fold — JVM-side, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("int").alias("dim"),
        round_det(F.sqrt(sq), 6).alias("l2_norm"),
    )


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: dense hour × event_type grid (sequence +
    explode + broadcast cross join) left-joined to hourly aggregates,
    missing buckets zero-filled. The grid is O(hours × types) regardless
    of event volume, so the pattern holds at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("h0"),
            F.date_trunc("hour", F.max("ts")).alias("h1"),
        )
        .select(F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("bucket"))
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    counts = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type").agg(
        F.count("*").alias("_n"), F.round(F.sum("value"), 4).alias("_s")
    )
    return (
        F.broadcast(grid)
        .join(counts, ["bucket", "event_type"], "left")
        .select(
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("_s", F.lit(0.0)).alias("sum_value"),
        )
    )


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS frame: 3-order moving average of spend per customer.
    The frame sum is exact decimal so the average is engine-independent
    regardless of the engines' sliding-accumulation strategies."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    mov_sum = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("n_in_frame"),
        round_det(mov_sum.cast("double") / F.count("*").over(w), 4).alias("moving_avg_price"),
    )


def q_window_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-distribution windows: ntile/percent_rank/cume_dist per
    order year — deliberately the NATIVE window-function surface
    (§2.7 coverage). Scale note: each year is one task under this
    plan; the distributed equivalents are the rfm_segments /
    grouped_two_phase_rank + ntile_exact composition (SCALE.md,
    Grouped two-phase rank) — this query is the semantic reference
    the scale path is verified against, like the exact-median pair."""
    orders = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate").cast("int").alias("order_year")
    base = orders.select("o_orderkey", year, "o_totalprice")
    w = Window.partitionBy("order_year").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return base.select(
        "o_orderkey",
        "order_year",
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
        round_det(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_det(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension statistics across the embedding corpus via
    posexplode — the feature-distribution profile (drift/normalization
    check) of an embedding pipeline. Sums are exact integer micro-units
    so the averages are engine-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(F.posexplode("embedding").alias("_pos", "_val")).select(
        (F.col("_pos") + 1).cast("int").alias("dim_idx"),
        F.col("_val").cast("double").alias("_v"),
    )
    units = F.floor(F.col("_v") * 1_000_000 + 0.5).cast("long")
    return (
        exploded.groupBy("dim_idx")
        .agg(
            F.count("*").alias("n_values"),
            F.sum(units).alias("_sum_units"),
            round_det(F.min("_v"), 6).alias("min_value"),
            round_det(F.max("_v"), 6).alias("max_value"),
        )
        .select(
            "dim_idx",
            "n_values",
            round_det(F.col("_sum_units") / 1_000_000.0 / F.col("n_values"), 6).alias("avg_value"),
            "min_value",
            "max_value",
        )
    )


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over an unbounded frame: each order row
    carries its customer's first, latest, and second order price (raw
    column values — no float arithmetic, fully deterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-group resolution: near-dup candidate pairs (word-3-gram
    Jaccard ≥ 0.5) clustered into connected components by iterative
    min-label propagation — the step that turns pairwise similarity
    into keep/drop decisions. Singletons keep their own id."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("n_members"))
    return comp.join(sizes, on="component_id").select("doc_id", "component_id", "n_members")


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-group resolution on the SAME candidate graph as
    `dedup_components`, but via alternating large-star/small-star edge
    rewriting — O(log n) rounds vs diameter rounds, the variant for
    similarity graphs with long transitive chains. Must produce
    byte-identical groups (same recursive-CTE oracle)."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components_star(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("n_members"))
    return comp.join(sizes, on="component_id").select("doc_id", "component_id", "n_members")


def q_label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separation analytics: per-label embedding centroids and
    the pairwise L2 distance matrix between them — the check you run on
    labeled embeddings before trusting them for retrieval.

    Two order-dependence traps are closed with the quantized-integer
    trick (NOTES.md rule 5 family): per-dimension centroid sums run
    over exact 1e-6-quantized integers (a raw double sum would vary
    with aggregation order), and the across-dimension sum of squared
    centroid deltas is 1e-12-quantized the same way — so both engines
    sqrt the identical exact ratio. Shuffles: one posexplode aggregate
    keyed by (label, dim); the 10×10 centroid matrix is driver-scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim_idx", "v")
    )
    cent = dims.groupBy("label", "dim_idx").agg(
        (
            F.sum(F.floor(F.col("v") * 1_000_000 + 0.5).cast("long")) / 1_000_000.0
            / F.count("*")
        ).alias("c")
    )
    a = cent.select(F.col("label").alias("label_a"), "dim_idx", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim_idx", F.col("c").alias("cb"))
    sq = F.floor(
        (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")) * 1e12 + 0.5
    ).cast("long")
    return (
        a.join(b, on="dim_idx")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(round_det(F.sqrt(F.sum(sq).cast("double") / 1e12), 6).alias("l2_dist"))
    )


def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OUTPUT artifact: per near-dup component (same candidate
    graph as `dedup_components`), the canonical survivor — longest
    document, doc_id ascending on ties — with how many near-dups it
    absorbs. The left-anti of the corpus against these survivors is the
    drop list; `clean_corpus` composes the equivalent filter inline."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    sized = comp.join(docs.select("doc_id", "n_chars"), on="doc_id")
    w = Window.partitionBy("component_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        sized.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("component_id")))
        .filter(F.col("_rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_chars").cast("long").alias("canonical_n_chars"),
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("n_members") - 1).cast("long").alias("n_absorbed"),
        )
    )


def q_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained distinct-user counts per event type:
    three batch folds of mergeable HLL sketch partials
    (sources.sinks.incremental_distinct_rollup) read off as estimates.
    ROWS-ONLY by design: the estimate is DataSketches-specific (DuckDB's
    HLL differs); exact merge-order invariance and a 2% accuracy bound
    are asserted in tests/test_sinks_and_dedup.py."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import (
        distinct_rollup_estimates,
        incremental_distinct_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    path = run_scratch_dir("hll_rollup_") + "/t"
    for i in range(3):
        rollup = incremental_distinct_rollup(
            spark,
            path,
            events.filter(F.col("event_id") % 3 == i),
        )
    return distinct_rollup_estimates(rollup)


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization profile: scale, quantized checksum,
    max reconstruction error (see operators.similarity.quantization_profile)."""
    from kickstarter_etl_pipeline_spark.operators.similarity import quantization_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return quantization_profile(emb)




def q_matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: recall@5 of exact cosine search on
    the FIRST 16 of 64 embedding dimensions against full-dimension
    exact search — the measurement behind the
    truncate-the-embedding-table storage play (Kusupati et al. 2022,
    arXiv:2205.13147): if prefix-dim recall holds, the 100 TB ANN tier
    can run on a 4× smaller table. Composes two runs of the verified
    exact scorer (brute_force_topk) — full vectors and F.slice(·,1,16)
    prefixes — into the per-query hit table, the ivf_recall_report
    device, so the whole report carries a full oracle.

    Scale: both sides are the brute-force tier (query set broadcast,
    corpus scanned once each); the production path would swap in the
    IVF tier per dimension budget — the report's job is to justify
    that swap with a graded number."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, query_anchors(emb, 20), k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    t16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    trunc = brute_force_topk(t16, query_anchors(t16, 20), k=ANN_K).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(trunc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            round_det(F.col("n_hits") / float(ANN_K), 6).alias("recall_at_5"),
        )
    )


def q_window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function surface completion: percent_rank + cume_dist +
    nth_value(3) per (priority, order-month) partition, ordered by
    (price, orderkey) — a TOTAL order, so ties never make the two
    ratio functions ambiguous. Both functions are exact-integer-count
    ratios ((rank−1)/(n−1), pos/n) — bit-identical IEEE divisions on
    both engines — snapped to the 6-dp display grid.

    Scale: partitions are (priority × month) — bounded count but
    data-sized members; the scale posture for global/near-global ranks
    is two_phase_rank (SCALE.md, Windows) — this query is the SURFACE
    parity member of the family."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.month("o_orderdate").cast("int").alias("order_month"),
        "o_totalprice",
    )
    wo = Window.partitionBy("o_orderpriority", "order_month").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return base.select(
        "o_orderkey",
        "o_orderpriority",
        "order_month",
        round_det(F.percent_rank().over(wo), 6).alias("pct_rank"),
        round_det(F.cume_dist().over(wo), 6).alias("cum_dist"),
        F.nth_value("o_totalprice", 3).over(wf).alias("third_lowest_price"),
    )


def q_embedding_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of cosine similarities between deterministically
    paired vectors (vec i ↔ vec i + N/2) — the embedding-space
    anisotropy diagnostic: a healthy space has random-pair similarity
    concentrated near 0, a collapsed space piles up near 1 (Ethayarajh
    2019's observation, reduced to a one-pass audit) (round 10).

    Exactness: cosine uses the oracle-proven sequential dot/norm tree
    (operators.similarity) rounded to 6 dp; the 6-dp value is lifted
    to an exact MICRO integer, so the 20-bin assignment
    ((micro + 10⁶) DIV 10⁵, capped at 19) is pure integer arithmetic —
    no float ever decides a bin boundary. Shares are single IEEE
    divisions of exact counts.

    Scale: the pairing is one equi-join on vec_id + N/2 (no cross
    join); the histogram is a ≤20-group aggregate with map-side
    combine; all 20 bins materialize via a constant range frame."""
    from kickstarter_etl_pipeline_spark.operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    half = F.broadcast(
        emb.agg((F.count("*").cast("long") / F.lit(2)).cast("long").alias("_half"))
    )
    a = emb.select(F.col("vec_id").alias("_ida"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("_idb"), F.col("embedding").alias("_vb"))
    pairs = (
        a.crossJoin(half)
        .filter(F.col("_ida") < F.col("_half"))
        .join(b, F.col("_idb") == F.col("_ida") + F.col("_half"))
    )
    cos6 = F.round(
        F.try_divide(dot(F.col("_va"), F.col("_vb")), norm(F.col("_va")) * norm(F.col("_vb"))),
        6,
    )
    micro = F.floor(cos6 * 1000000 + F.lit(0.5)).cast("long")
    staged = pairs.select(micro.alias("_micro")).select(
        F.least(F.expr("(_micro + 1000000) DIV 100000"), F.lit(19)).alias("bin_id")
    )
    counts = staged.groupBy("bin_id").agg(F.count("*").cast("long").alias("_n"))
    bins = spark.range(20).select(F.col("id").cast("long").alias("bin_id"))
    tot = F.broadcast(staged.agg(F.count("*").cast("long").alias("_t")))
    return (
        bins.join(counts, "bin_id", "left")
        .crossJoin(tot)
        .select(
            "bin_id",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_pairs"),
            round_det(
                F.coalesce("_n", F.lit(0)).cast("double") / F.col("_t").cast("double"), 6
            ).alias("share"),
        )
    )
