"""Product-analytics / join-shape query wrappers (funnels, cohorts, anomaly scoring, skew and null-safe join shapes). Moved verbatim from queries.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark import qdefs_embeddings
from kickstarter_etl_pipeline_spark.constants import (
    ANN_K,
    EMBED_DIM,
    LSH_NUM_PLANES,
    LSH_NUM_TABLES,
    LSH_N_PROBE,
)
from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators.partitioning import materialize
from kickstarter_etl_pipeline_spark.operators.ranking import (
    control_frame,
    ntile_exact,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    query_anchors,
)
from kickstarter_etl_pipeline_spark.sources.readers import load_table


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered, time-bounded funnel analysis (view → click within 1 h →
    purchase within 1 h): per-stage surviving user counts plus
    conversion from the top of the funnel — the product-analytics
    sequential-pattern query. Each stage is one filtered min-aggregate
    joined to the prior stage's frame; time stays in integer
    microseconds (rule 4) so the window bounds are exact, and
    conversion derives from exact counts in one IEEE division."""
    hour_us = 3_600_000_000
    events = EV.with_unix_micros(load_table(spark, sf_dir, "events"), out="us")
    e = events.select("user_id", "event_type", "us")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("us").alias("t1"))
    c = (
        e.join(v, on="user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("us") >= F.col("t1"))
            & (F.col("us") <= F.col("t1") + hour_us)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        e.join(c, on="user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("us") >= F.col("t2"))
            & (F.col("us") <= F.col("t2") + hour_us)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    counts = (
        e.agg(F.count_distinct("user_id").alias("n_users"))
        .crossJoin(F.broadcast(v.agg(F.count("*").alias("n_viewed"))))
        .crossJoin(F.broadcast(c.agg(F.count("*").alias("n_clicked"))))
        .crossJoin(F.broadcast(p.agg(F.count("*").alias("n_purchased"))))
    )
    return counts.select(
        "n_users",
        "n_viewed",
        "n_clicked",
        "n_purchased",
        round_det(F.col("n_clicked") / F.col("n_viewed"), 6).alias("view_to_click"),
        round_det(F.col("n_purchased") / F.col("n_viewed"), 6).alias("view_to_purchase"),
    )


TWINS["events_funnel"] = """
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        v AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN v USING (user_id)
              WHERE event_type = 'click' AND us >= t1 AND us <= t1 + 3600000000 GROUP BY 1),
        p AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN c USING (user_id)
              WHERE event_type = 'purchase' AND us >= t2 AND us <= t2 + 3600000000 GROUP BY 1)
        SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
               (SELECT count(*) FROM v) AS n_viewed,
               (SELECT count(*) FROM c) AS n_clicked,
               (SELECT count(*) FROM p) AS n_purchased,
               floor(CAST((SELECT count(*) FROM c) AS BIGINT) / (SELECT count(*) FROM v)
                     * 1000000 + 0.5) / 1000000.0 AS view_to_click,
               floor(CAST((SELECT count(*) FROM p) AS BIGINT) / (SELECT count(*) FROM v)
                     * 1000000 + 0.5) / 1000000.0 AS view_to_purchase
    """


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by the week of their first
    'signup' event; for each (cohort_week, weeks_since) cell, how many
    cohort members were active that week and the retention rate vs the
    cohort size. Weeks are integer microsecond arithmetic from a fixed
    epoch (rule 4 — no date-truncation timezone traps); rates derive
    from exact counts in one IEEE division. Two uniform-key shuffles
    (first-signup per user, cell distinct) — linear at any scale."""
    wk_us = 7 * 24 * 3_600_000_000
    events = EV.with_unix_micros(load_table(spark, sf_dir, "events"), out="us")
    e = events.select("user_id", "event_type", (F.col("us") / wk_us).cast("long").alias("wk"))
    cohorts = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("wk").alias("cohort_wk"))
    )
    sizes = cohorts.groupBy("cohort_wk").agg(F.count("*").alias("cohort_size"))
    active = (
        e.join(cohorts, on="user_id")
        .filter(F.col("wk") >= F.col("cohort_wk"))
        .select("user_id", "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("weeks_since"))
        .distinct()
        .groupBy("cohort_wk", "weeks_since")
        .agg(F.count("*").alias("n_active"))
    )
    return (
        active.join(F.broadcast(sizes), on="cohort_wk")
        .select(
            "cohort_wk",
            "weeks_since",
            "n_active",
            "cohort_size",
            round_det(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


TWINS["cohort_retention"] = """
        WITH e AS (SELECT user_id, event_type,
                          CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS wk
                   FROM events),
        cohorts AS (SELECT user_id, min(wk) AS cohort_wk FROM e
                    WHERE event_type = 'signup' GROUP BY 1),
        sizes AS (SELECT cohort_wk, count(*) AS cohort_size FROM cohorts GROUP BY 1),
        active AS (
          SELECT cohort_wk, weeks_since, count(*) AS n_active FROM (
            SELECT DISTINCT e.user_id, cohort_wk, wk - cohort_wk AS weeks_since
            FROM e JOIN cohorts USING (user_id)
            WHERE wk >= cohort_wk)
          GROUP BY 1, 2)
        SELECT cohort_wk, weeks_since, n_active, cohort_size,
               floor(CAST(n_active AS BIGINT) / cohort_size * 1000000 + 0.5) / 1000000.0 AS retention
        FROM active JOIN sizes USING (cohort_wk)
    """


def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against that type's own hourly distribution, flagged at |z| > 2.
    The mean/stddev come from exact integer sufficient statistics
    (counts of counts — rule 5), so the z-score is one IEEE expression;
    sqrt of an exact ratio is bit-identical across engines. Output is
    only the anomalous buckets — the alerting shape, not a full dump."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("_n"),
        F.sum("n_events").alias("_s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("_s2"),
    )
    # (x − mean) and stddev_samp from exact integers; z is then a fixed
    # tree of correctly-rounded IEEE ops mirrored verbatim in the oracle.
    num = (F.col("n_events") * F.col("_n") - F.col("_s1")).cast("double") / F.col("_n")
    den = F.sqrt(
        (F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1")).cast("double")
        / (F.col("_n") * (F.col("_n") - 1)).cast("double")
    )
    z = num / den
    return (
        hourly.join(F.broadcast(stats), on="event_type")
        .filter(F.col("_n") > 1)
        .withColumn("zscore", round_det(z, 4))
        .filter(F.abs(F.col("zscore")) > 2.0)
        .select("event_type", "bucket_start", "n_events", "zscore")
    )


TWINS["events_anomaly_zscore"] = """
        WITH hourly AS (
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
                 event_type, count(*) AS n_events
          FROM events GROUP BY 1, 2),
        stats AS (
          SELECT event_type, count(*) AS n, sum(n_events) AS s1,
                 sum(n_events * n_events) AS s2
          FROM hourly GROUP BY 1)
        SELECT event_type, bucket_start, n_events,
               floor((CAST(n_events * n - s1 AS DOUBLE) / n)
                     / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
                     * 10000 + 0.5) / 10000.0 AS zscore
        FROM hourly JOIN stats USING (event_type)
        WHERE n > 1
          AND abs(floor((CAST(n_events * n - s1 AS DOUBLE) / n)
                        / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
                        * 10000 + 0.5) / 10000.0) > 2.0
    """


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer the last-order date
    (recency), order count (frequency), and exact-decimal spend
    (monetary), each quartiled over a fully deterministic order
    (metric, then custkey — unique tie-break, so bucket boundaries
    can't flip between engines), plus the concatenated segment code.

    Scale path (r7 verdict's `weak`): the straightforward three global
    ``ntile(4)`` windows funnel the whole per-customer aggregate — at
    100 TB hundreds of millions of rows — through ONE task, three
    times. Instead each metric's global rank comes from
    :func:`~kickstarter_etl_pipeline_spark.operators.ranking.two_phase_rank`
    (range-partition, rank locally, add broadcast per-partition
    offsets — no task ever holds more than its range), and the
    quartile is recovered arithmetically from (rank, n) by
    :func:`~kickstarter_etl_pipeline_spark.operators.ranking.ntile_exact`,
    bit-identical to the oracle's ``ntile(4)``.
    n rides a one-row broadcast (max rank of the already-checkpointed
    first pass — no second scan of orders). One shuffle for the
    per-customer aggregate + three balanced range exchanges."""

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_order_date"),
        F.count("*").alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("monetary"),
    )
    ranked = two_phase_rank(
        per_cust, [F.desc("last_order_date"), F.asc("o_custkey")]
    ).withColumnRenamed("rank", "_r_rank")
    n_row = F.broadcast(ranked.agg(F.max("_r_rank").alias("_n_cust")))
    ranked = two_phase_rank(
        ranked, [F.desc("frequency"), F.asc("o_custkey")]
    ).withColumnRenamed("rank", "_f_rank")
    ranked = two_phase_rank(
        ranked, [F.desc("monetary"), F.asc("o_custkey")]
    ).withColumnRenamed("rank", "_m_rank")
    return (
        ranked.crossJoin(n_row)
        .select(
            "o_custkey",
            "last_order_date",
            "frequency",
            "monetary",
            ntile_exact(F.col("_r_rank"), F.col("_n_cust"), 4).alias("r_quartile"),
            ntile_exact(F.col("_f_rank"), F.col("_n_cust"), 4).alias("f_quartile"),
            ntile_exact(F.col("_m_rank"), F.col("_n_cust"), 4).alias("m_quartile"),
        )
        .withColumn(
            "segment",
            F.concat(
                F.col("r_quartile").cast("string"),
                F.col("f_quartile").cast("string"),
                F.col("m_quartile").cast("string"),
            ),
        )
    )


TWINS["rfm_segments"] = """
        WITH per_cust AS (
          SELECT o_custkey,
                 max(strftime(o_orderdate, '%Y-%m-%d')) AS last_order_date,
                 count(*) AS frequency,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS monetary
          FROM orders GROUP BY 1),
        q AS (
          SELECT *,
                 CAST(ntile(4) OVER (ORDER BY last_order_date DESC, o_custkey) AS INTEGER) AS r_quartile,
                 CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_quartile,
                 CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m_quartile
          FROM per_cust)
        SELECT o_custkey, last_order_date, frequency, monetary,
               r_quartile, f_quartile, m_quartile,
               CAST(r_quartile AS VARCHAR) || CAST(f_quartile AS VARCHAR) || CAST(m_quartile AS VARCHAR) AS segment
        FROM q
    """


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model input: counts of consecutive
    (prev_type → next_type) transitions within each user's event
    sequence (lag over the per-user microsecond order), with the
    per-prev-type transition probability from exact counts — the
    Markov-chain estimation query. One window shuffle on user_id, one
    count aggregate."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"), out="us")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (
        ev.select("user_id", "event_id", "us", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_transitions")
    )
    totals = counts.groupBy("prev_type").agg(F.sum("n_transitions").alias("_row_total"))
    return counts.join(F.broadcast(totals), on="prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        round_det(F.col("n_transitions") / F.col("_row_total"), 6).alias("p_next"),
    )


TWINS["event_transition_matrix"] = """
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_type
          FROM events),
        counts AS (
          SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
          FROM seq WHERE prev_type IS NOT NULL
          GROUP BY 1, 2),
        totals AS (SELECT prev_type, sum(n_transitions) AS row_total FROM counts GROUP BY 1)
        SELECT prev_type, next_type, n_transitions,
               floor(CAST(n_transitions AS BIGINT) / row_total * 1000000 + 0.5) / 1000000.0 AS p_next
        FROM counts JOIN totals USING (prev_type)
    """


def q_error_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join at scale: for every error event, how many of
    the SAME user's events fall within ±5 minutes. The naive form is a
    quadratic per-user theta join; the scalable shape banding-buckets
    time into 5-minute cells and equi-joins on (user, cell) with each
    error probing its own and both neighbor cells (exploded) — shuffle
    volume O(events × 3), never user² — then applies the exact ±5 min
    predicate as a residual filter. Same trick as LSH banding, applied
    to time. Counts are exact integers."""
    win_us = 300_000_000
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"), out="us").select(
        "event_id", "user_id", "event_type", "us"
    )
    others = ev.select(
        "user_id",
        F.col("event_id").alias("other_id"),
        F.col("us").alias("other_us"),
        (F.col("us") / win_us).cast("long").alias("cell"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        "us",
        F.explode(
            F.array(
                (F.col("us") / win_us).cast("long") - 1,
                (F.col("us") / win_us).cast("long"),
                (F.col("us") / win_us).cast("long") + 1,
            )
        ).alias("cell"),
    )
    near = errors.join(others, on=["user_id", "cell"]).filter(
        (F.col("other_id") != F.col("event_id"))
        & (F.abs(F.col("other_us") - F.col("us")) <= win_us)
    )
    # distinct: an other-event in an overlapping neighbor cell can match twice
    return (
        near.select("event_id", "user_id", "other_id")
        .distinct()
        .groupBy("event_id", "user_id")
        .agg(F.count("*").alias("n_nearby"))
    )


TWINS["error_blast_radius"] = """
        WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
        SELECT a.event_id, a.user_id, count(*) AS n_nearby
        FROM e a JOIN e b
          ON a.user_id = b.user_id
         AND b.event_id <> a.event_id
         AND abs(b.us - a.us) <= 300000000
        WHERE a.event_type = 'error'
        GROUP BY 1, 2
    """


def q_priority_mode_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent order priority per status) with a
    deterministic tie-break (count desc, then priority asc) — the
    argmax-of-count aggregation shape, resolved with one count
    aggregate plus a row_number window over the (small) group×value
    lattice, never a collect."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


TWINS["priority_mode_by_status"] = """
        SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
        FROM (
          SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY count(*) DESC, o_orderpriority) AS rn
          FROM orders GROUP BY 1, 2)
        WHERE rn = 1
    """


def q_nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup: each nation's customer-balance total as
    a share of its region's total — the two-level BI ratio shape, done
    as one aggregate plus a window SUM over the (tiny) nation-level
    result; the share is one IEEE division over exact decimal sums cast
    down at the same 2-dp boundary on both engines."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_nation = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("_bal"))
    )
    region_total = F.sum("_bal").over(Window.partitionBy("r_name"))
    return per_nation.select(
        "r_name",
        "n_name",
        F.round(F.col("_bal"), 2).cast("double").alias("nation_balance"),
        round_det(
            F.col("_bal").cast("double") * 100.0 / region_total.cast("double"), 6
        ).alias("pct_of_region"),
    )


TWINS["nation_share_of_region"] = """
        WITH per_nation AS (
          SELECT r_name, n_name, sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2)
        SELECT r_name, n_name,
               CAST(round(bal, 2) AS DOUBLE) AS nation_balance,
               floor(CAST(bal AS DOUBLE) * 100.0
                     / CAST(sum(bal) OVER (PARTITION BY r_name) AS DOUBLE)
                     * 1000000 + 0.5) / 1000000.0 AS pct_of_region
        FROM per_nation
    """


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, date predicates, grouped revenue top-k."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-06-30 00:00:00").cast("timestamp_ntz")
    joined = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
    )
    return (
        joined.groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


TWINS["shipping_priority"] = """
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, o_orderkey LIMIT 10
    """


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through the region hierarchy; revenue
    from lineitems where supplier and customer share a nation."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .filter(customer.c_nationkey == supplier.s_nationkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


TWINS["local_supplier_volume"] = """
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        GROUP BY n_name
    """


def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape: orders above their customer's average.

    Expressed as a window (the decorrelated form Catalyst produces for
    the equivalent correlated subquery). The per-customer average is
    derived from the ROUNDED sum so row membership at the comparison
    boundary is engine-independent.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_spend = F.round(F.sum("o_totalprice").over(w), 2) / F.count("*").over(w)
    # floor(x·10^4 + 0.5)/10^4 instead of round(x, 4): exact rationals like
    # sum/16 produce representational ties where Spark's string-based
    # HALF_UP and a numeric rounding disagree; floor-of-identical-doubles
    # is bit-deterministic across engines.
    display = F.floor(F.col("_avg") * 10000 + 0.5) / F.lit(10000.0)
    return (
        orders.withColumn("_avg", avg_spend)
        .filter(F.col("o_totalprice") > F.col("_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", display.alias("cust_avg_price"))
    )


TWINS["above_avg_orders"] = """
        SELECT o_orderkey, o_custkey, o_totalprice,
               floor(a * 10000 + 0.5) / 10000.0 AS cust_avg_price
        FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
                 round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2)
                   / count(*) OVER (PARTITION BY o_custkey) AS a
          FROM orders
        ) WHERE o_totalprice > a
    """


def q_yoy_customer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (the one join type the registry lacked):
    year-over-year customer activity with retained/churned/new
    classification. Both sides aggregate BEFORE joining (two shuffles
    on o_custkey over pre-shrunk per-customer rows, then one full-outer
    merge — never a fact×fact join), so the shape scales as two
    groupBys, and at 100 TB AQE plans the outer merge on the already
    co-partitioned aggregates."""
    orders = load_table(spark, sf_dir, "orders")

    def year_counts(year: int, alias: str) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.count("*").alias(alias))
        )

    j = year_counts(1996, "n_1996").join(
        year_counts(1997, "n_1997"), on="o_custkey", how="full_outer"
    )
    status = (
        F.when(F.col("n_1996").isNotNull() & F.col("n_1997").isNotNull(), "retained")
        .when(F.col("n_1996").isNotNull(), "churned")
        .otherwise("new")
    )
    return (
        j.select(status.alias("status"), "n_1996", "n_1997")
        .groupBy("status")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.coalesce("n_1996", F.lit(0))).alias("orders_1996"),
            F.sum(F.coalesce("n_1997", F.lit(0))).alias("orders_1997"),
        )
    )


TWINS["yoy_customer_activity"] = """
        WITH y96 AS (
          SELECT o_custkey, count(*) AS n_1996 FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1996 GROUP BY o_custkey
        ),
        y97 AS (
          SELECT o_custkey, count(*) AS n_1997 FROM orders
          WHERE EXTRACT(year FROM o_orderdate) = 1997 GROUP BY o_custkey
        ),
        j AS (
          SELECT CASE WHEN n_1996 IS NOT NULL AND n_1997 IS NOT NULL THEN 'retained'
                      WHEN n_1996 IS NOT NULL THEN 'churned'
                      ELSE 'new' END AS status,
                 n_1996, n_1997
          FROM y96 FULL OUTER JOIN y97 USING (o_custkey)
        )
        SELECT status, count(*) AS n_customers,
               CAST(sum(coalesce(n_1996, 0)) AS BIGINT) AS orders_1996,
               CAST(sum(coalesce(n_1997, 0)) AS BIGINT) AS orders_1997
        FROM j GROUP BY status
    """


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (the S4 idempotent-insert primitive)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey", how="left_anti"
    ).select("c_custkey", "c_name")


TWINS["customers_without_orders"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """


def q_customers_with_orders_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join + count."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey", how="left_semi")
        .agg(F.count("*").alias("n_customers"))
    )


TWINS["customers_with_orders_count"] = """
        SELECT count(*) AS n_customers FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """


def q_custkeys_1998_not_1999(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT (distinct)."""
    orders = load_table(spark, sf_dir, "orders")
    y98 = orders.filter(F.year("o_orderdate") == 1998).select("o_custkey")
    y99 = orders.filter(F.year("o_orderdate") == 1999).select("o_custkey")
    return y98.subtract(y99)


TWINS["custkeys_1998_not_1999"] = """
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
    """


def q_custkeys_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: INTERSECT (distinct)."""
    orders = load_table(spark, sf_dir, "orders")
    y98 = orders.filter(F.year("o_orderdate") == 1998).select("o_custkey")
    y99 = orders.filter(F.year("o_orderdate") == 1999).select("o_custkey")
    return y98.intersect(y99)


TWINS["custkeys_both_years"] = """
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
    """


def q_price_stats_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: exact interpolated percentiles + stddev.

    stddev is computed from exact-decimal sufficient statistics, not
    ``stddev_samp``: a streaming double variance is summation-order-
    dependent, so its low bits differ run-to-run and engine-to-engine.
    o_totalprice is a 2-dp quantity — sum(x) and sum(x^2) are exact in
    decimal, and sqrt((n*s2 - s1^2) / (n*(n-1))) is then a single
    deterministic IEEE expression on identical inputs in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.count("*").alias("_n"),
            F.sum(x).alias("_s1"),
            F.sum(x * x).alias("_s2"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .withColumn(
            "price_stddev",
            F.round(
                F.sqrt(
                    (F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1")).cast("double")
                    / (F.col("_n") * (F.col("_n") - F.lit(1))).cast("double")
                ),
                4,
            ),
        )
        .select("o_orderstatus", "p50", "p90", "price_stddev", "min_price", "max_price")
    )


TWINS["price_stats_by_status"] = """
        SELECT o_orderstatus, p50, p90,
               round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                          / CAST(n * (n - 1) AS DOUBLE)), 4) AS price_stddev,
               min_price, max_price
        FROM (
          SELECT o_orderstatus,
                 round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                 round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                 count(*) AS n,
                 sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s1,
                 sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS s2,
                 round(min(o_totalprice), 2) AS min_price,
                 round(max(o_totalprice), 2) AS max_price
          FROM orders GROUP BY o_orderstatus
        )
    """


_PRICE_BANDS = [
    ("A_budget", 0.0, 50_000.0),
    ("B_mid", 50_000.0, 150_000.0),
    ("C_high", 150_000.0, 300_000.0),
    ("D_jumbo", 300_000.0, 1e12),
]


def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi interval) join: orders banded by a tiny broadcast
    band table on lo <= price < hi. At scale the band side is constant-
    size, so BroadcastNestedLoopJoin costs one pass over the fact with a
    4-entry probe — no shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    bands = control_frame(spark, _PRICE_BANDS, "band string, lo double, hi double")
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            # 2-dp prices summed exactly in decimal → cast of the same
            # rational to double is identical in both engines
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


TWINS["range_join_price_bands"] = """
        SELECT band, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders
        JOIN (VALUES ('A_budget', 0.0, 50000.0),
                     ('B_mid', 50000.0, 150000.0),
                     ('C_high', 150000.0, 300000.0),
                     ('D_jumbo', 300000.0, 1e12)) bands(band, lo, hi)
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigating salted join, demonstrated on a deliberately skewed
    key: 90% of lineitem rows collapse onto skew_key=0. Unsalted, that
    key's entire volume lands on ONE reducer — the classic 100 TB
    stall; salting spreads it across 16 buckets while staying
    row-identical to the plain join (asserted in tests/test_scale_paths)."""
    from kickstarter_etl_pipeline_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    skew_key = F.when(F.col("l_orderkey") % 10 != 0, F.lit(0)).otherwise(F.col("l_orderkey"))
    large = li.withColumn("skew_key", skew_key.cast("long"))
    small = (
        large.select("skew_key")
        .distinct()
        .withColumn("key_class", F.when(F.col("skew_key") == 0, F.lit("hot")).otherwise(F.lit("cold")))
    )
    joined = salted_join(large, small, on=["skew_key"], how="inner", salt_buckets=16)
    return joined.groupBy("key_class").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


TWINS["skew_salted_join"] = """
        WITH tagged AS (
          SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 0 ELSE l_orderkey END AS skew_key,
                 l_extendedprice
          FROM lineitem
        ),
        dim AS (SELECT DISTINCT skew_key,
                       CASE WHEN skew_key = 0 THEN 'hot' ELSE 'cold' END AS key_class
                FROM tagged)
        SELECT key_class, count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM tagged JOIN dim USING (skew_key)
        GROUP BY key_class
    """


def q_null_safe_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): customer
    nation keys are deterministically nulled (custkey ≡0 mod 9) and a
    matching NULL-keyed row is added to the dim side, so NULL keys MATCH
    each other — the semantic a plain equi join silently drops. Grouped
    counts + balance sums prove both the null-bucket join and the
    non-null passthrough."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cust = customer.select(
        "c_custkey",
        "c_acctbal",
        F.when(F.col("c_custkey") % 9 == 0, F.lit(None).cast("bigint"))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    dim = nation.select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation_name")
    ).unionByName(
        control_frame(spark, [(None, "UNKNOWN")], "nk bigint, nation_name string")
    )
    joined = cust.join(F.broadcast(dim), cust.nk.eqNullSafe(dim.nk), "left").select(
        "c_custkey", "c_acctbal", "nation_name"
    )
    return joined.groupBy("nation_name").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("balance_sum"),
    )


TWINS["null_safe_join_agg"] = """
        WITH cust AS (
          SELECT c_custkey, c_acctbal,
                 CASE WHEN c_custkey % 9 = 0 THEN NULL ELSE c_nationkey END AS nk
          FROM customer),
        dim AS (
          SELECT n_nationkey AS nk, n_name AS nation_name FROM nation
          UNION ALL SELECT NULL, 'UNKNOWN')
        SELECT nation_name, count(*) AS n_customers,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS balance_sum
        FROM cust LEFT JOIN dim ON cust.nk IS NOT DISTINCT FROM dim.nk
        GROUP BY 1
    """


def q_grouping_sets_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube) + grouping() flags."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_totalprice",
    )
    return (
        base.groupingSets([["o_orderstatus"], ["order_year"], []], "o_orderstatus", "order_year")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("order_year").cast("int").alias("g_year"),
        )
    )


TWINS["grouping_sets_status_year"] = """
        SELECT o_orderstatus, order_year, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
               CAST(GROUPING(order_year) AS INTEGER) AS g_year
        FROM (SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS order_year,
                     o_totalprice
              FROM orders)
        GROUP BY GROUPING SETS ((o_orderstatus), (order_year), ())
    """


def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


TWINS["cube_status_priority"] = """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """


def q_pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority × status."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
    )


TWINS["pivot_status_priority"] = """
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders GROUP BY o_orderpriority
    """


# ---------------------------------------------------------------------------
# Events: windows, sessions, JSON
# ---------------------------------------------------------------------------


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt) + per-metric aggregate — the inverse of
    the pivot operator, exact decimal totals."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
    )
    long = wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount"],
        "metric",
        "value",
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n_values"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
    )


TWINS["unpivot_metrics"] = """
        WITH long AS (
          SELECT 'quantity' AS metric, l_quantity AS value FROM lineitem
          UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
          UNION ALL SELECT 'discount', l_discount FROM lineitem
        )
        SELECT metric, count(*) AS n_values,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM long GROUP BY metric
    """


def q_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via bucket arithmetic (no window, one
    shuffle): 25k-wide price buckets with per-bucket count and range."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25_000).cast("long")
    return (
        orders.groupBy(bucket.alias("price_bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


TWINS["histogram_price"] = """
        SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS price_bucket,
               count(*) AS n_orders,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM orders GROUP BY 1
    """


def q_except_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set op: EXCEPT ALL keeps multiplicity (1998 priorities
    minus 1999 priorities, bag semantics) — complements the distinct
    EXCEPT/INTERSECT pair."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1998).select("o_orderpriority")
    b = orders.filter(F.year("o_orderdate") == 1999).select("o_orderpriority")
    return a.exceptAll(b)


TWINS["except_all_priorities"] = """
        SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1998
        EXCEPT ALL
        SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1999
    """


def q_part_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface: case, substring, length, LIKE, concat."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%widget%"))
        .select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.substring("p_name", 1, 3).alias("name_prefix"),
            F.length("p_name").cast("int").alias("name_len"),
            F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        )
    )


TWINS["part_string_ops"] = """
        SELECT p_partkey, upper(p_name) AS name_upper,
               substring(p_name, 1, 3) AS name_prefix,
               CAST(length(p_name) AS INTEGER) AS name_len,
               concat_ws('/', p_brand, p_type) AS brand_type
        FROM part WHERE p_name LIKE '%widget%'
    """


def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: top-k by aggregate, deterministic tie-break, + broadcast join.

    The limit(10) runs BEFORE the customer name join (TakeOrdered on the
    aggregate, then enrich): the joined frame is 10 rows, so the name
    lookup broadcasts the k-bounded side at ANY scale. The old shape
    broadcast the full customer projection — linear in sf, an executor
    OOM at the 100-TB posture."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    top = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"), F.count("*").alias("n_orders"))
        .orderBy(F.desc("total_spend"), "o_custkey")
        .limit(10)
    )
    return (
        F.broadcast(top)
        .join(customer.select("c_custkey", "c_name"), top.o_custkey == F.col("c_custkey"))
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), "c_custkey")
    )


TWINS["topk_customers"] = """
        SELECT c_custkey, c_name, total_spend, n_orders
        FROM (
          SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend, count(*) AS n_orders
          FROM orders GROUP BY o_custkey
        ) JOIN customer ON o_custkey = c_custkey
        ORDER BY total_spend DESC, c_custkey LIMIT 10
    """


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (weekly DAU/WAU): for every calendar
    day with events, the count of DISTINCT users active in [d−6, d],
    next to that day's own distinct actives.

    Distinct-over-a-sliding-window does NOT decompose into a window
    frame over daily aggregates (users repeat across days), so the
    correct distributed shape is: distinct (day, user) pairs, EXPLODED
    onto each of the ≤7 grid days the pair contributes to (a constant
    fan-out, turning the range predicate into an EQUI-join — no
    BroadcastNestedLoopJoin anywhere), then a distinct count per grid
    day restricted to OBSERVED days. Shuffles are keyed by day —
    uniform. The sketch path at extreme scale is HLL partials per day
    merged over the window (distinct_users_rollup shows that merge).
    """
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    day_user = ev.select(
        F.floor(F.col("_us") / 86_400_000_000).alias("day"), "user_id"
    ).distinct()
    days = day_user.select("day").distinct()
    contrib = day_user.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("g_day"),
        "user_id",
    )
    rolling = (
        contrib.join(days, contrib.g_day == days.day)
        .groupBy("g_day")
        .agg(F.countDistinct("user_id").cast("long").alias("active_7d"))
        .select(F.col("g_day").alias("day"), "active_7d")
    )
    daily = day_user.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("active_1d")
    )
    return (
        rolling.join(daily, on="day")
        .select(
            F.col("day").cast("long").alias("day_idx"),
            "active_1d",
            "active_7d",
        )
    )


# FULL twin of q_rolling_active_users: distinct (day, user) pairs, the
# same 7-day range self-join onto the day grid, distinct counts.
TWINS["rolling_active_users"] = """
    WITH du AS (SELECT DISTINCT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                                user_id
                FROM events),
    days AS (SELECT DISTINCT day FROM du),
    hits AS (SELECT g.day AS gday, a.user_id
             FROM days g JOIN du a ON a.day <= g.day AND a.day >= g.day - 6),
    rolling AS (SELECT gday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
                FROM hits GROUP BY gday),
    daily AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_1d
              FROM du GROUP BY day)
    SELECT rolling.day AS day_idx, daily.active_1d, rolling.active_7d
    FROM rolling JOIN daily ON rolling.day = daily.day
"""


def q_events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars over the event value series, per event type: the
    time-series candlestick aggregation (open = first value in event
    order, high/low = extremes, close = last, volume = count).

    first/last are defined on the exact-µs (ts, event_id) total order —
    engine-deterministic — and computed with max_by/min_by rather than
    a window sort, so the whole bar table is ONE map-side-combining
    aggregate keyed by (day, type): no per-group sort, no row_number,
    one uniform shuffle. The order key is a zero-padded string (µs then
    event_id) because DuckDB's arg_min/arg_max lack struct-key
    overloads — string order == numeric order under the padding.
    """
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    key = F.concat_ws(
        ":",
        F.lpad(F.col("_us").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        ev.select(
            F.floor(F.col("_us") / 86_400_000_000).cast("long").alias("day_idx"),
            "event_type",
            "value",
            key.alias("_k"),
        )
        .groupBy("day_idx", "event_type")
        .agg(
            F.min_by("value", F.col("_k")).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.max_by("value", F.col("_k")).alias("close"),
            F.count("*").cast("long").alias("volume"),
        )
        .select(
            "day_idx",
            "event_type",
            F.round("open", 4).alias("open"),
            "high",
            "low",
            F.round("close", 4).alias("close"),
            "volume",
        )
    )


# FULL twin of q_events_ohlc_bars: arg_min/arg_max on the same
# zero-padded (us, event_id) string key; rounding applied in the same places.
TWINS["events_ohlc_bars"] = """
    WITH e AS (SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_idx,
                      event_type, value, epoch_us(ts) AS us, event_id
               FROM events)
    SELECT day_idx, event_type,
           round(arg_min(value, lpad(CAST(us AS VARCHAR), 20, '0') || ':' || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(arg_max(value, lpad(CAST(us AS VARCHAR), 20, '0') || ':' || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4) AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM e GROUP BY day_idx, event_type
"""


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per (event_type, day): each
    observation is weighted by its holding interval — the exact-µs gap
    to the NEXT event of the same type that day (the day's last
    observation carries no interval). The financial/TS aggregation that
    a plain avg() silently gets wrong when sampling is irregular.

    Weights are exact integer microseconds (lead over the (us,
    event_id) total order); the weighted sum is rounded to 4 dp, the
    same engine-tolerance discipline as every sum(value) oracle in the
    registry. One window partitioned by (type, day) + one aggregate —
    both keyed uniformly.
    """
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    day = F.floor(F.col("_us") / 86_400_000_000).cast("long")
    w = Window.partitionBy("event_type", "_day").orderBy("_us", "event_id")
    staged = (
        ev.withColumn("_day", day)
        .withColumn("_dt", (F.lead("_us").over(w) - F.col("_us")).cast("long"))
        .filter(F.col("_dt").isNotNull())
    )
    return staged.groupBy(F.col("_day").alias("day_idx"), "event_type").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum("_dt").cast("long").alias("total_us"),
        F.round(F.sum(F.col("value") * F.col("_dt")) / F.sum("_dt"), 4).alias("twap"),
    )


# FULL twin of q_events_twap: identical lead-gap weights over the
# (us, event_id) order; identical weighted-sum / total-gap tree.
TWINS["events_twap"] = """
    WITH e AS (SELECT event_type, value, epoch_us(ts) AS us, event_id,
                      CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_idx
               FROM events),
    g AS (SELECT *, lead(us) OVER (PARTITION BY event_type, day_idx
                                   ORDER BY us, event_id) - us AS dt
          FROM e)
    SELECT day_idx, event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dt) AS BIGINT) AS total_us,
           round(sum(value * dt) / sum(dt), 4) AS twap
    FROM g WHERE dt IS NOT NULL
    GROUP BY day_idx, event_type
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session entry paths: the first three event types of every
    user session (30-min gap rule, same lag+cumsum construction as
    sessionize), joined with '>' — the product-analytics "how do
    sessions start" path-mining table.

    The per-session path builds inside one aggregate via
    array_sort(collect_list(struct)) over the exact (µs, event_id)
    order — no second window pass; top-k is a TakeOrdered on the
    unique (count, path) order.
    """
    sess = EV.with_session_ids(load_table(spark, sf_dir, "events"))
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_us", "event_id", "event_type"))),
                    lambda s: s.event_type,
                ),
                1,
                3,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


# FULL twin of q_session_paths: same 30-min gap sessionization (the
# events_sessionize CTE chain), first-3 path via ORDER BY inside
# list(), same top-k order.
TWINS["session_paths"] = """
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
    flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lagd),
    sess AS (SELECT *, CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM flagged),
    paths AS (SELECT user_id, session_id,
                     array_to_string(list_slice(list(event_type ORDER BY us, event_id), 1, 3), '>') AS path
              FROM sess GROUP BY user_id, session_id)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
"""


def q_session_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types at SESSION granularity:
    for each unordered type pair, P(both in one session) /
    (P(a)·P(b)) — "users who view also purchase?" expressed exactly
    like retail basket analysis, over the 30-min-gap sessions.

    Counts are exact integers (sessions containing a type / a pair);
    lift is one fixed division tree on them (round 6); the session
    total rides a one-row broadcast, never a driver-side count. The pair
    generation explodes each session's DISTINCT type set (≤ 5 types →
    ≤ 10 pairs per session — bounded fan-out, no self-join).
    """
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    gap_us = 1800 * 1_000_000
    new_session = F.when(
        F.lag("_us").over(w).isNull() | ((F.col("_us") - F.lag("_us").over(w)) > gap_us), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Materialized: the session, type and per-session aggregates all read it.
    sess_types = materialize(
        ev.withColumn("_new", new_session)
        .withColumn("_sid", F.sum("_new").over(cum).cast("long"))
        .select("user_id", "_sid", "event_type")
        .distinct()
    )
    totals = F.broadcast(
        sess_types.select("user_id", "_sid").distinct().agg(
            F.count("*").cast("long").alias("_ns")
        )
    )
    type_counts = sess_types.groupBy("event_type").agg(
        F.count("*").cast("long").alias("_tn")
    )
    per_session = sess_types.groupBy("user_id", "_sid").agg(
        F.array_sort(F.collect_list("event_type")).alias("_types")
    )
    pairs = per_session.select(
        F.explode(
            F.expr(
                "flatten(transform(_types, (a, i) -> "
                "transform(slice(_types, i + 2, size(_types)), b -> "
                "named_struct('type_a', a, 'type_b', b))))"
            )
        ).alias("_p")
    ).select("_p.type_a", "_p.type_b")
    pair_counts = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n_both")
    )
    return (
        pair_counts.join(
            F.broadcast(type_counts.select(F.col("event_type").alias("type_a"), F.col("_tn").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(type_counts.select(F.col("event_type").alias("type_b"), F.col("_tn").alias("n_b"))),
            "type_b",
        )
        .crossJoin(totals)
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            round_det(
                (F.col("n_both") / F.col("_ns"))
                / ((F.col("n_a") / F.col("_ns")) * (F.col("n_b") / F.col("_ns"))),
                6,
            ).alias("lift"),
        )
    )


# FULL twin of q_session_basket_lift: same sessionization CTE chain,
# per-session distinct type sets, in-list pair generation, identical
# lift tree over the one-row session total.
TWINS["session_basket_lift"] = """
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
    flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lagd),
    sess AS (SELECT *, CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM flagged),
    st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (SELECT DISTINCT user_id, sid FROM st)),
    tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS tn FROM st GROUP BY event_type),
    ps AS (SELECT user_id, sid, list_sort(list(event_type)) AS types FROM st GROUP BY user_id, sid),
    pr AS (SELECT unnest(flatten(list_transform(types, (a, i) ->
             list_transform(list_slice(types, i + 1, len(types)), b ->
               {'type_a': a, 'type_b': b})))) AS p
           FROM ps),
    pc AS (SELECT p.type_a AS type_a, p.type_b AS type_b, CAST(count(*) AS BIGINT) AS n_both
           FROM pr GROUP BY 1, 2)
    SELECT pc.type_a, pc.type_b, pc.n_both, ta.tn AS n_a, tb.tn AS n_b,
           floor((pc.n_both / ns.n) / ((ta.tn / ns.n) * (tb.tn / ns.n))
                 * 1000000 + 0.5) / 1000000.0 AS lift
    FROM pc JOIN tc ta ON ta.event_type = pc.type_a
            JOIN tc tb ON tb.event_type = pc.type_b
            CROSS JOIN ns
"""


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification eval over the embeddings: every vector with
    vec_id < 50 is classified by the majority label of its 5 exact
    cosine nearest neighbors (vote ties broken by smaller label), next
    to its true label and a hit flag — the standard embedding-quality
    probe (a good space ⇒ high leave-one-out kNN accuracy).

    Composes the oracle'd brute-force top-k with a label join; the
    vote is one (query, label) count + a row_number over the (count
    desc, label asc) total order.
    """
    from kickstarter_etl_pipeline_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # The label table is the FULL corpus (linear in sf) — never hint
    # it. The broadcastable side is the kNN result: n_queries × k rows
    # (here 50 × 5), k-bounded at any scale, so IT carries the hint
    # and the label lookups stay shuffle-free without risking an OOM.
    labels = emb.select("vec_id", "label")
    nn = brute_force_topk(emb, query_anchors(emb, 50), k=ANN_K)
    votes = (
        F.broadcast(nn)
        .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").cast("long").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    pred = (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )
    return (
        F.broadcast(pred)
        .join(
            labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")),
            "query_id",
        )
        .select(
            "query_id",
            "true_label",
            "pred_label",
            "n_votes",
            (F.col("pred_label") == F.col("true_label")).cast("int").alias("is_correct"),
        )
    )


# FULL twin of q_knn_label_vote: the embedding_topk oracle pipeline at
# vec_id < 50, label-joined, identical (votes desc, label asc) vote.
TWINS["knn_label_vote"] = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
    scored AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
               FROM q, c WHERE neighbor_id <> query_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
               FROM scored),
    nn AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
    votes AS (SELECT nn.query_id, c.label, CAST(count(*) AS BIGINT) AS n_votes
              FROM nn JOIN c ON c.neighbor_id = nn.neighbor_id
              GROUP BY 1, 2),
    pred AS (SELECT query_id, label AS pred_label, n_votes FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY n_votes DESC, label) AS r
               FROM votes) WHERE r = 1)
    SELECT p.query_id, t.label AS true_label, p.pred_label, p.n_votes,
           CAST(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END AS INTEGER) AS is_correct
    FROM pred p JOIN (SELECT vec_id AS query_id, label FROM embeddings) t USING (query_id)
"""


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN tier against exact brute force, PER
    QUERY — the index-quality report a retrieval deployment watches.
    Both pipelines are individually oracle'd (ann_lsh_topk,
    embedding_topk), so their composition is too: the oracle joins the
    two verified SQL pipelines and computes the identical hit ratio.
    """
    from kickstarter_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        query_anchors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = query_anchors(emb, 20)
    exact = brute_force_topk(emb, queries, k=ANN_K).select("query_id", "neighbor_id")
    approx = lsh_topk(
        emb, queries, dim=EMBED_DIM, num_planes=LSH_NUM_PLANES,
        num_tables=LSH_NUM_TABLES, n_probe=LSH_N_PROBE,
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


# FULL twin of q_ann_recall_report: the two verified pipelines
# (embedding_topk exact, ann_lsh_topk approximate — identical query
# set and k) composed; recall@5 = hits / 5 per query.
TWINS["ann_recall_report"] = f"""
    SELECT ex.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           floor(count(l.neighbor_id) / {float(ANN_K)} * 1000000 + 0.5) / 1000000.0 AS recall_at_5
    FROM ({qdefs_embeddings.TWINS['embedding_topk']}) ex
    LEFT JOIN ({qdefs_embeddings.TWINS['ann_lsh_topk']}) l
      ON ex.query_id = l.query_id AND ex.neighbor_id = l.neighbor_id
    GROUP BY ex.query_id
"""


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of the event
    value stream (α = 0.25) — the streaming-flavored smoother, computed
    as a SEQUENTIAL fold over each user's exact (µs, event_id)-ordered
    values. Oracle-able by the same deterministic-by-rounding device as
    PageRank: every fold step lands on a 1e-9 grid, so engine-side
    fold implementations (Spark `aggregate`, DuckDB `list_reduce`)
    produce bit-identical results.

    One shuffle (the per-user collect); the fold is per-row JVM
    expression work. At extreme per-user history lengths the collected
    list is the bound — window the stream (EWMA over the last N days)
    before folding.
    """
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    grouped = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_us", "event_id", "value"))),
            lambda s: s.value.cast("double"),
        ).alias("_vals")
    )
    step = lambda acc, x: F.floor((acc * 0.75 + x * 0.25) * 1_000_000_000 + 0.5) / F.lit(
        1_000_000_000.0
    )
    ewma = F.aggregate(
        F.expr("slice(_vals, 2, size(_vals) - 1)"),
        F.element_at(F.col("_vals"), 1),
        step,
    )
    return grouped.select(
        "user_id",
        F.size("_vals").cast("long").alias("n_events"),
        round_det(ewma, 6).alias("ewma_value"),
    )


# FULL twin of q_events_ewma: same ordered value list, same rounded
# fold (DuckDB list_reduce seeds with the first element, matching the
# Spark aggregate's explicit seed + tail slice).
TWINS["events_ewma"] = """
    WITH l AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id) AS vals
      FROM events GROUP BY user_id)
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
           floor(list_reduce(vals, (acc, x) ->
                   floor((acc * 0.75 + x * 0.25) * 1000000000 + 0.5) / 1000000000.0)
                 * 1000000 + 0.5) / 1000000.0 AS ewma_value
    FROM l
"""


def q_traffic_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality heatmap: event counts per (day-of-week,
    hour-of-day) cell with each cell's share of total traffic — the
    capacity-planning profile. dow/hour derived from integer epoch
    arithmetic (no calendar functions), exact counts, one fixed
    division tree."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    cells = (
        ev.select(
            ((F.floor(F.col("_us") / 86_400_000_000) + 4) % 7).cast("int").alias("dow"),
            (F.floor(F.col("_us") / 3_600_000_000) % 24).cast("int").alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    total = F.broadcast(cells.agg(F.sum("n_events").alias("_t")))
    return cells.crossJoin(total).select(
        "dow", "hour", "n_events", round_det(F.col("n_events") / F.col("_t"), 6).alias("share")
    )


# FULL twin of q_traffic_seasonality: integer epoch dow/hour.
TWINS["traffic_seasonality"] = """
    WITH cells AS (
      SELECT CAST((floor(epoch_us(ts) / 86400000000) + 4) % 7 AS INTEGER) AS dow,
             CAST(floor(epoch_us(ts) / 3600000000) % 24 AS INTEGER) AS hour,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    t AS (SELECT sum(n_events) AS t FROM cells)
    SELECT dow, hour, n_events,
           floor(n_events / t.t * 1000000 + 0.5) / 1000000.0 AS share
    FROM cells, t
"""


def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier concentration per nation: the Herfindahl-Hirschman
    index over suppliers' revenue shares (HHI = Σ shareᵢ², share in
    percent → 0..10000), plus the top-supplier share — the market-
    concentration metric, computed from exact decimal revenue sums
    with a fixed squared-share tree."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_rev"))
        .join(supplier.select("s_suppkey", "s_nationkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.col("_rev").cast("double").alias("rev"))
    )
    nat_tot = rev.groupBy("n_name").agg(F.sum("rev").alias("_nt"))
    shares = rev.join(nat_tot, "n_name").select(
        "n_name", (F.col("rev") / F.col("_nt") * 100).alias("_sh")
    )
    return shares.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        round_det(F.sum(F.col("_sh") * F.col("_sh")), 4).alias("hhi"),
        round_det(F.max("_sh"), 4).alias("top_share_pct"),
    )


# FULL twin of q_supplier_hhi: identical decimal revenue sums, share
# and squared-share trees (sum-order noise ~1e-13 relative, rounded at
# 4 dp — the TWAP/Gini tolerance class, sf0.1-proven).
TWINS["supplier_hhi"] = """
    WITH rev AS (
      SELECT n.n_name,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name, l.l_suppkey),
    nt AS (SELECT n_name, sum(rev) AS nt FROM rev GROUP BY n_name),
    sh AS (SELECT rev.n_name, rev.rev / nt.nt * 100 AS sh
           FROM rev JOIN nt ON rev.n_name = nt.n_name)
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           floor(sum(sh * sh) * 10000 + 0.5) / 10000.0 AS hhi,
           floor(max(sh) * 10000 + 0.5) / 10000.0 AS top_share_pct
    FROM sh GROUP BY n_name
"""


def q_intersect_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set-op surface completion: INTERSECT ALL keeps
    multiplicity (each 1998 priority row pairs off against one 1999
    row, bag semantics) — the missing member next to EXCEPT ALL
    (q_except_all_priorities) and the distinct INTERSECT
    (q_custkeys_both_years)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1998).select("o_orderpriority")
    b = orders.filter(F.year("o_orderdate") == 1999).select("o_orderpriority")
    return a.intersectAll(b)


TWINS["intersect_all_priorities"] = """
        SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1998
        INTERSECT ALL
        SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1999
    """
