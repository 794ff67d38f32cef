"""Retail/warehouse analytics query wrappers (SCD2, co-occurrence, fuzzy matching, LTV, ABC, WAU, sessionization). Split out of analytics_queries.py (round 10)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.constants import FS_PATTERN_SCORES
from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators.ranking import (
    grouped_two_phase_rank,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


def q_scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build from history: each
    customer's order-priority timeline collapses into validity episodes
    (valid_from / valid_to / is_current), one row per consecutive run
    of the same priority in (order date, order key) order — the
    classic warehouse dimension-versioning pattern, built set-based
    from the raw history (no per-row MERGE loop; the CDC sibling is
    cdc_apply_agg).

    Exactness: pure integer/date column logic — a run boundary is
    lag(priority) ≠ priority (null-safe), episode ids are a cumulative
    sum of boundary flags, and the episode rollup takes min/max dates
    and count. valid_to is the NEXT episode's valid_from (half-open
    intervals, the standard SCD2 convention); NULL marks the current
    row.

    Scale: two customer-keyed windows + one keyed aggregate — per-
    customer frames, never global."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("_d"),
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
    )
    w = Window.partitionBy("o_custkey").orderBy("_d", "o_orderkey")
    flagged = orders.withColumn(
        "_new",
        F.when(
            F.lag("priority").over(w).isNull()
            | (F.lag("priority").over(w) != F.col("priority")),
            1,
        ).otherwise(0),
    ).withColumn(
        "_ep",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    eps = flagged.groupBy("o_custkey", "_ep").agg(
        F.max("priority").alias("priority"),
        F.min("_d").alias("valid_from"),
        F.count("*").cast("long").alias("n_orders"),
    )
    w_ep = Window.partitionBy("o_custkey").orderBy("_ep")
    # dates emitted as formatted strings (engine-neutral comparison —
    # the tumbling_agg convention)
    return eps.select(
        "o_custkey",
        F.col("_ep").alias("version"),
        "priority",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(F.lead("valid_from").over(w_ep), "yyyy-MM-dd").alias("valid_to"),
        F.lead("valid_from").over(w_ep).isNull().alias("is_current"),
        "n_orders",
    )


# FULL twin of q_scd2_customer_priority: identical gaps-and-islands
# episode construction and half-open validity intervals.
TWINS["scd2_customer_priority"] = """
    WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
                      o_orderpriority AS priority
               FROM orders),
    flagged AS (SELECT *,
                       CASE WHEN lag(priority) OVER w IS NULL
                             OR lag(priority) OVER w <> priority
                            THEN 1 ELSE 0 END AS new_ep
                FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)),
    eps0 AS (SELECT *, CAST(sum(new_ep) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ep
             FROM flagged),
    eps AS (SELECT o_custkey, ep AS version, max(priority) AS priority,
                   min(d) AS valid_from, CAST(count(*) AS BIGINT) AS n_orders
            FROM eps0 GROUP BY 1, 2)
    SELECT o_custkey, version, priority,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(lead(valid_from) OVER w2, '%Y-%m-%d') AS valid_to,
           lead(valid_from) OVER w2 IS NULL AS is_current,
           n_orders
    FROM eps WINDOW w2 AS (PARTITION BY o_custkey ORDER BY version)
"""


def q_item_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence over the ORDER basket (the
    collaborative-filtering neighbor table: parts bought together),
    top-50 pairs by support — the item-granularity sibling of
    q_session_basket_lift (which works on the 5 event types). Support,
    each item's order frequency, and lift n_ab·N/(n_a·n_b).

    Exactness: counts are exact longs; lift is one fixed IEEE division
    tree over exact integers (decimal products against 2^53 growth),
    snapped to 6dp; the top-50 cut orders by (support desc, id_a,
    id_b) — a total order, so the LIMIT boundary is deterministic.

    Scale: the pair explode is a self-join keyed by order with
    per-order fan-out bounded by basket size (≤ 7 lines in TPC-H shape
    — lines², not orders²); the aggregate is keyed by part pair
    (uniform); the top-50 is a TakeOrdered, not a global sort."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("id_a"))
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("id_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    freq = li.groupBy(F.col("l_partkey")).agg(
        F.count("*").cast("long").alias("_n")
    )
    n_orders = F.broadcast(
        li.select("l_orderkey").distinct().agg(F.count("*").cast("long").alias("_N"))
    )
    # per-part frequency tables grow linearly with sf — no hint; the
    # pair-keyed equi-joins are uniform and AQE picks the strategy.
    fa = freq.select(F.col("l_partkey").alias("id_a"), F.col("_n").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("id_b"), F.col("_n").alias("n_b"))
    lift = (
        F.col("n_both").cast("decimal(38,0)") * F.col("_N")
    ).cast("double") / (
        F.col("n_a").cast("decimal(38,0)") * F.col("n_b")
    ).cast("double")
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .crossJoin(n_orders)
        .select(
            "id_a",
            "id_b",
            "n_both",
            "n_a",
            "n_b",
            round_det(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("n_both"), F.asc("id_a"), F.asc("id_b"))
        .limit(50)
    )


# FULL twin of q_item_cooccurrence_topk: exact counts, HUGEINT lift
# products, total-order LIMIT boundary.
TWINS["item_cooccurrence_topk"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS id_a, b.l_partkey AS id_b,
                     CAST(count(*) AS BIGINT) AS n_both
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2),
    freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_ord FROM li)
    SELECT id_a, id_b, n_both, fa.n AS n_a, fb.n AS n_b,
           floor(CAST(CAST(n_both AS HUGEINT) * n_ord AS DOUBLE)
                 / CAST(CAST(fa.n AS HUGEINT) * fb.n AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS lift
    FROM pairs
    JOIN freq fa ON fa.l_partkey = id_a
    JOIN freq fb ON fb.l_partkey = id_b, tot
    ORDER BY n_both DESC, id_a, id_b
    LIMIT 50
"""


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching over the part-name vocabulary — the
    EDIT-distance member of the similarity family (set overlap =
    Jaccard tiers, bitwise = SimHash, vector = cosine tiers; this adds
    the typo/variant matcher every entity-resolution stack carries).
    Pairs of distinct names sharing their final token (the blocking
    key) within Levenshtein distance 5, with each name's part count.

    Exactness: levenshtein() is a pure integer DP with one standard
    definition (unit insert/delete/substitute) — Spark and DuckDB agree
    exactly, no grid needed; everything else is counts.

    Scale: the name VOCABULARY (not the part table) is the pair space —
    names dedupe first, then block on the last token, so the quadratic
    term is per-block vocabulary density, not data size. The length
    filter |len_a − len_b| ≤ 5 (a Levenshtein lower bound) prunes
    before the DP runs. Hot blocks are the standard ER mitigation
    point (swap the blocking key for a q-gram prefix if a token runs
    hot)."""
    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count("*").cast("long").alias("_n_parts"))
        .withColumn("_block", F.element_at(F.split("p_name", " "), -1))
        .withColumn("_len", F.length("p_name"))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("_n_parts").alias("n_parts_a"),
        "_block",
        F.col("_len").alias("_la"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("_n_parts").alias("n_parts_b"),
        "_block",
        F.col("_len").alias("_lb"),
    )
    return (
        a.join(b, "_block")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.abs(F.col("_la") - F.col("_lb")) <= 5)
        .withColumn("lev_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("lev_dist") <= 5)
        .select("name_a", "name_b", "lev_dist", "n_parts_a", "n_parts_b")
    )


# FULL twin of q_fuzzy_name_pairs: levenshtein() is the same integer DP
# on both engines — no rounding device needed anywhere.
TWINS["fuzzy_name_pairs"] = """
    WITH names AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
                          split_part(p_name, ' ', -1) AS block,
                          length(p_name) AS len
                   FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE abs(a.len - b.len) <= 5
      AND levenshtein(a.p_name, b.p_name) <= 5
"""


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-activity
    week, cumulative event value per cohort as the cohort ages (in
    weeks) — the revenue companion to q_cohort_retention's activity
    view; the table behind every LTV-payback chart.

    Exactness: value snaps to micro-unit longs; weekly cells are exact
    integer sums; the cumulative ride is a prefix sum over the
    calendar-bounded (cohort × age) grid; cum LTV per active user =
    exact integer floor division.

    Scale: one user-keyed first-week aggregate, one (cohort, age)
    cell aggregate, prefix windows over the week grid (bounded)."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    wk = F.floor(F.col("_us") / F.lit(604800000000)).cast("long")
    base = ev.select("user_id", wk.alias("_wk"),
                     F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long").alias("_vm"))
    first = base.groupBy("user_id").agg(F.min("_wk").alias("_cohort"))
    cells = (
        base.join(first, "user_id")
        .groupBy("_cohort", (F.col("_wk") - F.col("_cohort")).alias("age_weeks"))
        .agg(
            F.sum("_vm").cast("decimal(38,0)").alias("_v"),
            F.countDistinct("user_id").cast("long").alias("n_active_users"),
        )
    )
    sizes = F.broadcast(
        first.groupBy(F.col("_cohort")).agg(
            F.count("*").cast("long").alias("cohort_size")
        )
    )
    w = Window.partitionBy("_cohort").orderBy("age_weeks").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.withColumn("_cum", F.sum("_v").over(w).cast("decimal(38,0)"))
    # per-user LTV in exact micro-units: floor(_cum / size), then one
    # display division
    per_user_micro = (
        (F.col("_cum") - F.col("_cum") % F.col("cohort_size")) / F.col("cohort_size")
    ).cast("long")
    return cum.join(sizes, "_cohort").select(
        F.col("_cohort").alias("cohort_week"),
        "age_weeks",
        "cohort_size",
        "n_active_users",
        (F.col("_cum").cast("double") / F.lit(1e6)).alias("cum_value"),
        (per_user_micro / F.lit(1e6)).alias("cum_value_per_user"),
    )


# FULL twin of q_cohort_ltv_curve: exact micro-unit cells, prefix sums
# over the (cohort x age) week grid, exact floor-division per-user LTV.
TWINS["cohort_ltv_curve"] = """
    WITH base AS (SELECT user_id,
                         CAST(floor(epoch_us(ts) / 604800000000.0) AS BIGINT) AS wk,
                         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
                  FROM events),
    first AS (SELECT user_id, min(wk) AS cohort FROM base GROUP BY user_id),
    cells AS (SELECT cohort, wk - cohort AS age_weeks,
                     CAST(sum(vm) AS HUGEINT) AS v,
                     CAST(count(DISTINCT base.user_id) AS BIGINT) AS n_active_users
              FROM base JOIN first USING (user_id)
              GROUP BY 1, 2),
    sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY cohort),
    cum AS (SELECT cohort, age_weeks, n_active_users,
                   CAST(sum(v) OVER (PARTITION BY cohort ORDER BY age_weeks
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS c
            FROM cells)
    SELECT cohort AS cohort_week, age_weeks, cohort_size, n_active_users,
           CAST(c AS DOUBLE) / 1000000.0 AS cum_value,
           CAST(c // cohort_size AS BIGINT) / 1000000.0 AS cum_value_per_user
    FROM cum JOIN sizes USING (cohort)
"""


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification of parts by revenue: rank
    parts by revenue descending, classify A while the cumulative share
    is ≤ 80%, B ≤ 95%, C otherwise — the classification twin of the
    Lorenz-curve view (lorenz_curve_events plots the curve; this
    assigns the classes).

    Exactness: revenue is exact cents; rank AND the cumulative sum
    ride two_phase_rank's range exchange (never a single-partition
    window); the class boundaries are decided on integers —
    5·cum ≤ 4·total and 20·cum ≤ 19·total — so no float places a part.

    Scale: one uniform part-keyed aggregate + the two-phase global
    rank; the grand total is a one-row broadcast."""

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("_r")
    )
    ranked = two_phase_rank(rev, [F.desc("_r"), "l_partkey"], cum_col="_r")
    total = F.broadcast(rev.agg(F.sum("_r").cast("long").alias("_tot")))
    j = ranked.crossJoin(total)
    abc = (
        F.when(F.col("cum") * 5 <= F.col("_tot") * 4, F.lit("A"))
        .when(F.col("cum") * 20 <= F.col("_tot") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return j.select(
        F.col("l_partkey").alias("p_partkey"),
        (F.col("_r") / F.lit(100.0)).alias("revenue"),
        F.col("rank"),
        abc.alias("abc_class"),
    )


# FULL twin of q_abc_classification: exact cents, window rank + cum,
# integer class boundaries.
TWINS["abc_classification"] = """
    WITH rev AS (SELECT l_partkey,
                        CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS r
                 FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM rev),
    ranked AS (SELECT l_partkey, r,
                      CAST(row_number() OVER (ORDER BY r DESC, l_partkey) AS BIGINT) AS rank,
                      CAST(sum(r) OVER (ORDER BY r DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM rev)
    SELECT l_partkey AS p_partkey,
           r / 100.0 AS revenue,
           rank,
           CASE WHEN cum * 5 <= t * 4 THEN 'A'
                WHEN cum * 20 <= t * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked, tot
"""


def q_rolling_wau_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / rolling 7-day WAU / stickiness per day — the product-
    analytics staple. Exact distinct counts (no sketch): each active
    (user, day) pair is exploded into the 7 window-end days it
    supports, then one distinct + one count per (window-end) day —
    turning the sliding DISTINCT (which no window function computes)
    into two uniform aggregates. Only days with any activity are
    emitted, and windows are clipped to the observed span on both
    engines.

    Exactness: pure integer day arithmetic and counts; stickiness =
    one IEEE division snapped at 6dp.

    Scale: the ×7 explode rides above a distinct whose keys are
    (user, day) — uniform; at 100 TB the explode factor is the window
    length, the standard cost of exact sliding distincts (the sketchy
    alternative is the HLL tier)."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    ud = ev.select(
        "user_id", F.floor(F.col("_us") / F.lit(86400000000)).cast("long").alias("_day")
    ).distinct()
    dau = ud.groupBy("_day").agg(F.countDistinct("user_id").cast("long").alias("dau"))
    span = F.broadcast(ud.agg(F.max("_day").alias("_dmax")))
    expl = (
        ud.crossJoin(span)
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("_day"), F.least(F.col("_day") + 6, F.col("_dmax"))
                )
            ).alias("_wend"),
        )
        .distinct()
    )
    wau = expl.groupBy(F.col("_wend").alias("_day")).agg(
        F.count("*").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "_day")
        .select(
            F.col("_day").alias("epoch_day"),
            "dau",
            "wau",
            round_det(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


# FULL twin of q_rolling_wau_report: identical explode-to-window-end
# construction; only observed-activity days emitted.
TWINS["rolling_wau_report"] = """
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day
                FROM events),
    dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM ud GROUP BY day),
    span AS (SELECT max(day) AS dmax FROM ud),
    expl AS (SELECT DISTINCT user_id, wend FROM (
               SELECT user_id, unnest(range(day, least(day + 6, dmax) + 1)) AS wend
               FROM ud, span)),
    wau AS (SELECT wend AS day, CAST(count(*) AS BIGINT) AS wau
            FROM expl GROUP BY wend)
    SELECT dau.day AS epoch_day, dau.dau, wau.wau,
           floor(dau.dau / CAST(wau.wau AS DOUBLE) * 1000000 + 0.5) / 1000000.0
             AS stickiness
    FROM dau JOIN wau ON wau.day = dau.day
"""


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window() aggregation (the built-in the
    hand-rolled gaps-and-islands construction replaces at 100 TB
    streaming scale), graded against a gaps-and-islands SQL replay —
    the grade is an equivalence proof between the built-in operator
    and the manual construction, with one documented boundary
    difference: the native window closes when the next event is >= gap
    away (the lag-based rule in events.with_session_ids uses > gap), so
    the twin replays the NATIVE >= rule.

    Output: per (user, session) start time, event count, value sum —
    session start is the window's min event time on both sides."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window(F.col("ts").cast("timestamp"), "30 minutes").alias("_w"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("_w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# FULL twin of q_session_window_native: gaps-and-islands replay of the
# NATIVE session_window semantics (a new session when the gap is >= 30
# minutes — note >=, the built-in's rule; the repo's lag-based
# sessionizer uses strict >).
TWINS["session_window_native"] = """
    WITH e AS (SELECT user_id, event_id, value, ts, epoch_us(ts) AS us FROM events),
    lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
             FROM e),
    flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000
                               THEN 1 ELSE 0 END AS new_s
                FROM lagd),
    sess AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
             FROM flagged)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM sess GROUP BY user_id, sid
"""


def q_interpurchase_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50 / p90 / p99 of the time between a user's consecutive
    purchases — the purchase-latency distribution behind replenishment
    and re-engagement models. percentile_disc semantics: the gap at
    rank ⌈q·n⌉ in ascending (gap, user, ts) order — a total order, so
    the selected element is deterministic; gaps are exact integer
    seconds.

    Scale: gaps come from one user-keyed lag window; the global rank
    rides two_phase_rank's range exchange; each percentile is one
    rank-equality pick against a broadcast count — no global sort ever
    lands on a single task."""

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "_us", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    gaps = (
        p.withColumn("_prev", F.lag("_us").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            F.floor((F.col("_us") - F.col("_prev")) / F.lit(1000000)).cast("long").alias("_gap_s"),
            "user_id",
            "_us",
        )
    )
    ranked = two_phase_rank(gaps, ["_gap_s", "user_id", "_us"])
    n_df = F.broadcast(gaps.agg(F.count("*").cast("long").alias("_n")))
    j = ranked.crossJoin(n_df)
    picks = None
    for label, num, den in (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)):
        # rank == ceil(q*n) = (num*n + den - 1) DIV den, exact integers
        target = F.floor((F.col("_n") * num + (den - 1)) / den).cast("long")
        row = j.filter(F.col("rank") == target).select(
            F.lit(label).alias("quantile"),
            F.col("_n").alias("n_gaps"),
            F.col("_gap_s").alias("gap_seconds"),
        )
        picks = row if picks is None else picks.unionByName(row)
    return picks


# FULL twin of q_interpurchase_gap_percentiles: same total order and
# ceil-rank percentile_disc picks.
TWINS["interpurchase_gap_percentiles"] = """
    WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'purchase'),
    gaps AS (SELECT CAST(floor((us - prev) / 1000000.0) AS BIGINT) AS gap_s,
                    user_id, us
             FROM (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
                   FROM p)
             WHERE prev IS NOT NULL),
    ranked AS (SELECT gap_s, CAST(row_number() OVER (ORDER BY gap_s, user_id, us) AS BIGINT) AS r
               FROM gaps),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gaps)
    SELECT 'p50' AS quantile, n AS n_gaps, gap_s AS gap_seconds
    FROM ranked, n WHERE r = (n * 1 + 1) // 2
    UNION ALL
    SELECT 'p90', n, gap_s FROM ranked, n WHERE r = (n * 9 + 9) // 10
    UNION ALL
    SELECT 'p99', n, gap_s FROM ranked, n WHERE r = (n * 99 + 99) // 100
"""


def q_fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969) over
    blocked part-name pairs — the scoring layer that turns the repo's
    candidate generators (SNM / last-token blocking) into
    match/possible/non-match decisions (round 10). Four comparison
    fields per pair (name edit distance ≤ 2, brand equal, type equal,
    |size diff| ≤ 1); the pair's agreement PATTERN looks up a
    precomputed log-likelihood-ratio score (constants.FS_PATTERN_SCORES
    — identical literals on both engines, so no transcendental is
    evaluated at query time), and thresholds classify.

    Output: one row per observed agreement pattern with its pair
    count, score, and decision — the audit table a linkage deployment
    reviews to set thresholds.

    Scale: the pair space is the deduplicated NAME vocabulary blocked
    on the last name token (the fuzzy_name_pairs posture — quadratic
    only in per-block vocabulary density); attributes reduce to one
    deterministic representative per name (min brand/type/size);
    pattern aggregation is a ≤16-group map-side-combined rollup."""
    from kickstarter_etl_pipeline_spark.constants import FS_PATTERN_SCORES

    part = load_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(
            F.min("p_brand").alias("_brand"),
            F.min("p_type").alias("_type"),
            F.min("p_size").cast("long").alias("_size"),
        )
        .withColumn("_block", F.element_at(F.split("p_name", " "), -1))
    )
    a = names.select(
        F.col("p_name").alias("_na"), F.col("_brand").alias("_ba"),
        F.col("_type").alias("_ta"), F.col("_size").alias("_sa"), "_block",
    )
    b = names.select(
        F.col("p_name").alias("_nb"), F.col("_brand").alias("_bb"),
        F.col("_type").alias("_tb"), F.col("_size").alias("_sb"), "_block",
    )
    pairs = a.join(b, "_block").filter(F.col("_na") < F.col("_nb"))
    pattern = F.concat(
        (F.levenshtein("_na", "_nb") <= 2).cast("int").cast("string"),
        (F.col("_ba") == F.col("_bb")).cast("int").cast("string"),
        (F.col("_ta") == F.col("_tb")).cast("int").cast("string"),
        (F.abs(F.col("_sa") - F.col("_sb")) <= 1).cast("int").cast("string"),
    )
    score = F.lit(None).cast("double")
    for pat, s in FS_PATTERN_SCORES.items():
        score = F.when(F.col("pattern") == pat, F.lit(s)).otherwise(score)
    return (
        pairs.select(pattern.alias("pattern"))
        .groupBy("pattern")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .withColumn("score", score)
        .withColumn(
            "decision",
            F.when(F.col("score") >= 4.0, "MATCH")
            .when(F.col("score") >= 0.0, "POSSIBLE")
            .otherwise("NON_MATCH"),
        )
    )


# FULL twin of q_fellegi_sunter_linkage: identical blocking, pattern
# bits, and the SAME precomputed score literals (constants module —
# single definition site, no query-time transcendental either side).
_FS_CASES = " ".join(
    f"WHEN '{p}' THEN {s!r}" for p, s in FS_PATTERN_SCORES.items()
)


TWINS["fellegi_sunter_linkage"] = f"""
    WITH names AS (SELECT p_name, min(p_brand) AS brand, min(p_type) AS typ,
                          CAST(min(p_size) AS BIGINT) AS sz
                   FROM part GROUP BY p_name),
    blocked AS (SELECT *, string_split(p_name, ' ')[-1] AS block FROM names),
    pairs AS (SELECT
        (CASE WHEN levenshtein(a.p_name, b.p_name) <= 2 THEN '1' ELSE '0' END ||
         CASE WHEN a.brand = b.brand THEN '1' ELSE '0' END ||
         CASE WHEN a.typ = b.typ THEN '1' ELSE '0' END ||
         CASE WHEN abs(a.sz - b.sz) <= 1 THEN '1' ELSE '0' END) AS pattern
      FROM blocked a JOIN blocked b ON a.block = b.block AND a.p_name < b.p_name),
    agg AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n_pairs,
                   CASE pattern {_FS_CASES} END AS score
            FROM pairs GROUP BY pattern)
    SELECT pattern, n_pairs, score,
           CASE WHEN score >= 4.0 THEN 'MATCH'
                WHEN score >= 0.0 THEN 'POSSIBLE'
                ELSE 'NON_MATCH' END AS decision
    FROM agg
"""


def q_association_rules_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules a→b over order baskets: confidence
    n_ab/n_a, support, and lift — the rule-mining layer on top of the
    symmetric co-occurrence table (a high-confidence a→b with low
    b→a is the asymmetry a recommender exploits) (round 10). Top-50
    rules with support ≥ 2 by (confidence, id_a, id_b).

    Exactness: all counts are exact longs; confidence and lift are
    fixed IEEE trees over exact operands snapped to 6 dp; the top-50
    cut orders by the SNAPPED confidence with id tie-breaks — a total
    order.

    Scale: per-order fan-out is bounded by basket size (lines², not
    orders²); the rule aggregate is pair-keyed and uniform; frequency
    lookups are unhinted equi-joins (AQE decides); the report is a
    TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select("l_orderkey", F.col("l_partkey").alias("id_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("id_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    freq = li.groupBy("l_partkey").agg(F.count("*").cast("long").alias("_f"))
    n_orders = F.broadcast(
        li.select("l_orderkey").distinct().agg(F.count("*").cast("long").alias("_N"))
    )
    scored = (
        pairs.join(freq.select(F.col("l_partkey").alias("id_a"), F.col("_f").alias("n_a")), "id_a")
        .join(freq.select(F.col("l_partkey").alias("id_b"), F.col("_f").alias("n_b")), "id_b")
        .crossJoin(n_orders)
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "n_ab",
            round_det(F.col("n_ab").cast("double") / F.col("n_a").cast("double"), 6).alias(
                "confidence"
            ),
            round_det(
                (F.col("n_ab").cast("decimal(38,0)") * F.col("_N")).cast("double")
                / (F.col("n_a").cast("decimal(38,0)") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    return (
        scored.orderBy(F.desc("confidence"), F.asc("id_a"), F.asc("id_b"))
        .limit(50)
    )


# FULL twin of q_association_rules_topk: directed basket rules,
# identical confidence/lift trees and the snapped-confidence total
# order for the top-50 cut.
TWINS["association_rules_topk"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS id_a, b.l_partkey AS id_b,
                     CAST(count(*) AS BIGINT) AS n_ab
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 2),
    freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS f FROM li GROUP BY 1),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS N FROM li),
    scored AS (SELECT id_a, id_b, fa.f AS n_a, fb.f AS n_b, n_ab,
                      floor(CAST(n_ab AS DOUBLE) / CAST(fa.f AS DOUBLE)
                            * 1000000 + 0.5) / 1000000.0 AS confidence,
                      floor(CAST(CAST(n_ab AS HUGEINT) * N AS DOUBLE)
                            / CAST(CAST(fa.f AS HUGEINT) * fb.f AS DOUBLE)
                            * 1000000 + 0.5) / 1000000.0 AS lift
               FROM pairs
               JOIN freq fa ON fa.l_partkey = id_a
               JOIN freq fb ON fb.l_partkey = id_b, n)
    SELECT id_a, id_b, n_a, n_b, n_ab, confidence, lift
    FROM scored
    ORDER BY confidence DESC, id_a, id_b
    LIMIT 50
"""


def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: every part classified by revenue
    contribution (A/B/C — the Pareto cut q_abc_classification assigns)
    AND by demand variability (X/Y/Z — the coefficient of variation of
    weekly shipped quantity over the part's ACTIVE weeks; see the
    Exactness paragraph), rolled up to the 9-cell planning matrix with part
    counts and revenue — the stock-policy table (AX = automate,
    CZ = make-to-order) (round 10).

    Exactness: revenue is exact cents and the ABC boundaries are the
    integer rules (5·cum ≤ 4·total, 20·cum ≤ 19·total) on the
    two_phase_rank cumulative; quantities and week ids are exact
    longs; variability is the CV over the part's ACTIVE weeks
    (demand-SIZE variability, the Syntetos-Boylan axis — intermittency
    would be a separate ADI axis), one fixed IEEE tree over exact
    sufficient statistics snapped to an integer MICRO grid so the
    X/Y/Z thresholds (0.5, 1.0) are integer comparisons.

    Scale: two part-keyed aggregates + the two-phase global rank for
    the ABC cum; the final rollup has ≤9 groups."""

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("_cents"),
        F.col("l_quantity").cast("long").alias("_q"),
        # ts is TimestampNTZ; UTC session makes the cast an exact identity
        F.expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000000 DIV 7"
        ).alias("_wk"),
    )
    rev = li.groupBy("l_partkey").agg(F.sum("_cents").cast("long").alias("_r"))
    ranked = two_phase_rank(rev, [F.desc("_r"), "l_partkey"], cum_col="_r")
    total = F.broadcast(rev.agg(F.sum("_r").cast("long").alias("_tot")))
    abc = (
        ranked.crossJoin(total)
        .select(
            "l_partkey",
            "_r",
            F.when(F.col("cum") * 5 <= F.col("_tot") * 4, F.lit("A"))
            .when(F.col("cum") * 20 <= F.col("_tot") * 19, F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
    )
    weekly = li.groupBy("l_partkey", "_wk").agg(F.sum("_q").cast("long").alias("_qw"))
    d38 = "decimal(38,0)"
    stats = weekly.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("_W"),
        F.sum(F.col("_qw").cast(d38)).alias("_sq"),
        F.sum(F.col("_qw").cast(d38) * F.col("_qw")).alias("_sq2"),
    )
    mean = F.col("_sq").cast("double") / F.col("_W").cast("double")
    # greatest(·, 0): a constant series can land a float-epsilon below
    # zero (W·mean² vs Σq² ulp), and sqrt of that is NaN on both engines
    var = F.greatest(
        (F.col("_sq2").cast("double") - F.col("_W").cast("double") * mean * mean)
        / F.col("_W").cast("double"),
        F.lit(0.0),
    )
    cv_micro = F.floor(F.sqrt(var) / mean * 1000000 + 0.5).cast("long")
    xyz = stats.select(
        "l_partkey",
        F.when(cv_micro < 500000, F.lit("X"))
        .when(cv_micro < 1000000, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            (F.sum("_r").cast("double") / 100.0).alias("total_revenue"),
        )
    )


# FULL twin of q_abc_xyz_matrix: identical integer ABC boundaries on
# the cumulative revenue, identical CV tree micro-snapped before the
# X/Y/Z thresholds, 9-cell rollup.
TWINS["abc_xyz_matrix"] = """
    WITH li AS (SELECT l_partkey,
                       CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
                       CAST(l_quantity AS BIGINT) AS q,
                       epoch_us(l_shipdate) // 86400000000 // 7 AS wk
                FROM lineitem),
    rev AS (SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS r FROM li GROUP BY 1),
    ranked AS (SELECT l_partkey, r,
                      CAST(sum(r) OVER (ORDER BY r DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM rev),
    total AS (SELECT CAST(sum(r) AS BIGINT) AS tot FROM rev),
    abc AS (SELECT l_partkey, r,
                   CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                        WHEN cum * 20 <= tot * 19 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked, total),
    weekly AS (SELECT l_partkey, wk, CAST(sum(q) AS BIGINT) AS qw
               FROM li GROUP BY 1, 2),
    stats AS (SELECT l_partkey,
                     CAST(count(*) AS BIGINT) AS W,
                     sum(CAST(qw AS HUGEINT)) AS sq,
                     sum(CAST(qw AS HUGEINT) * qw) AS sq2
              FROM weekly GROUP BY 1),
    xyz AS (SELECT l_partkey,
                   CASE WHEN cvm < 500000 THEN 'X'
                        WHEN cvm < 1000000 THEN 'Y'
                        ELSE 'Z' END AS xyz_class
            FROM (SELECT l_partkey,
                         CAST(floor(sqrt(greatest((CAST(sq2 AS DOUBLE)
                                          - CAST(W AS DOUBLE)
                                            * (CAST(sq AS DOUBLE) / CAST(W AS DOUBLE))
                                            * (CAST(sq AS DOUBLE) / CAST(W AS DOUBLE)))
                                         / CAST(W AS DOUBLE), 0.0))
                                    / (CAST(sq AS DOUBLE) / CAST(W AS DOUBLE))
                                    * 1000000 + 0.5) AS BIGINT) AS cvm
                  FROM stats))
    SELECT a.abc_class, x.xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(a.r) AS DOUBLE) / 100.0 AS total_revenue
    FROM abc a JOIN xyz x USING (l_partkey)
    GROUP BY a.abc_class, x.xyz_class
"""


def q_price_quartiles_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-brand price quartiles of shipped line items under the
    NEAREST-RANK convention (value at rank ceil(q·n) in the
    (l_extendedprice, l_orderkey, l_linenumber) total order) — the
    per-brand pricing-band report, and the round-10 NOTES lead
    ("group-scoped percentile families via grouped_two_phase_rank")
    cashed in (round 11).

    Exactness: nearest-rank picks are MEMBERS of the data (no
    interpolation), the order is a total order (orderkey, linenumber
    break price ties), and the IQR subtracts two exact picks — so the
    result is engine-deterministic by construction; the twin replays
    the identical rank picks with a window.

    Scale: the lineitem⋈part brand lookup is a uniform-key equi-join
    (partkey); p_brand has 25 values with corpus-sized groups — the
    grouped_two_phase_rank contract exactly (a per-brand rank window
    would funnel each brand through ONE task; the composite-key range
    exchange splits every brand across partitions); the final rollup
    has 25 groups. Provenance: extends the reference's
    value-distribution reporting surface (src/etl_pipeline.py's
    groupby aggregates) to exact distributional statistics."""

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "p_brand", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = grouped_two_phase_rank(
        joined,
        ["p_brand"],
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        n_col="_n",
    ).withColumnRenamed("rank_in_group", "_rn")
    picks = [("p25", 0.25), ("p50", 0.50), ("p75", 0.75)]
    conds = [
        F.max(
            F.when(
                F.col("_rn") == F.ceil(F.lit(q) * F.col("_n")),
                F.col("l_extendedprice"),
            )
        ).alias(name)
        for name, q in picks
    ]
    return (
        ranked.groupBy("p_brand")
        .agg(F.max("_n").alias("n_items"), *conds)
        .select(
            "p_brand",
            "n_items",
            "p25",
            "p50",
            "p75",
            # round_det, not F.round: iqr is a DERIVED double (p75−p25),
            # so the repo's floor(x*10^k+0.5)/10^k convention applies —
            # Spark's BigDecimal HALF_UP vs DuckDB round() could desync
            # on a difference landing near a .005 boundary (ADVICE r11).
            round_det(F.col("p75") - F.col("p25"), 2).alias("iqr"),
        )
    )


# FULL twin of q_price_quartiles_by_brand: nearest-rank quantiles
# (rank == ceil(q*n)) over the identical (price, orderkey, linenumber)
# per-brand total order; the oracle uses a window rank (correctness
# only — the Spark side uses the composite-key range exchange).
TWINS["price_quartiles_by_brand"] = """
    WITH j AS (SELECT p.p_brand, l.l_extendedprice, l.l_orderkey, l.l_linenumber
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    ranked AS (
      SELECT p_brand, l_extendedprice,
             CAST(row_number() OVER (PARTITION BY p_brand
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY p_brand) AS BIGINT) AS n
      FROM j)
    SELECT p_brand, max(n) AS n_items,
           max(CASE WHEN rn = ceil(0.25 * n) THEN l_extendedprice END) AS p25,
           max(CASE WHEN rn = ceil(0.5 * n) THEN l_extendedprice END) AS p50,
           max(CASE WHEN rn = ceil(0.75 * n) THEN l_extendedprice END) AS p75,
           floor((max(CASE WHEN rn = ceil(0.75 * n) THEN l_extendedprice END)
                  - max(CASE WHEN rn = ceil(0.25 * n) THEN l_extendedprice END))
                 * 100 + 0.5) / 100.0 AS iqr
    FROM ranked GROUP BY p_brand
"""


def q_price_index_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices, 1997 → 1998, over
    parts sold in BOTH years — the econometric price-level summary a
    retail warehouse reports (Fisher = the "ideal" geometric mean).
    Unit values (revenue/quantity per part-year) replace list prices,
    the standard unit-value-index construction.

    Exactness: the cross terms (unit value × other-year quantity)
    cannot be exact rationals, so each rides the per-term-floor
    integer device (markov/Brandes): term_L = rev98¢·q97 · 10⁴ DIV
    q98 and term_P = rev97¢·q98 · 10⁴ DIV q97 are exact integers
    (error < 10⁻⁴ cent per part BY DEFINITION of the contract), the
    sums are order-free exact integers, and each index is ONE IEEE
    division, snapped to 6 dp. Fisher's sqrt is irrational — exact
    ties have measure zero (rounding.py's stated policy).

    Scale: one (part, year)-keyed aggregate with map-side combine, a
    part-keyed self-join of the two year slices (uniform key), one
    one-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    py = (
        li.select(
            "l_partkey",
            F.year(F.to_date("l_shipdate")).alias("_yr"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("_rev"),
            F.col("l_quantity").cast("decimal(15,2)").alias("_qty"),
        )
        .filter(F.col("_yr").isin(1997, 1998))
        .groupBy("l_partkey", "_yr")
        .agg(
            (F.sum("_rev") * 100).cast("long").alias("_revc"),
            (F.sum("_qty") * 100).cast("long").alias("_qcu"),
        )
    )
    y0 = py.filter(F.col("_yr") == 1997).select(
        "l_partkey", F.col("_revc").alias("_r0"), F.col("_qcu").alias("_q0")
    )
    y1 = py.filter(F.col("_yr") == 1998).select(
        "l_partkey", F.col("_revc").alias("_r1"), F.col("_qcu").alias("_q1")
    )
    both = y0.join(y1, "l_partkey").select(
        "_r0",
        "_q0",
        "_r1",
        "_q1",
        F.expr("(_r1 * _q0 * 10000) DIV _q1").alias("_tl"),
        F.expr("(_r0 * _q1 * 10000) DIV _q0").alias("_tp"),
    )
    agg = both.agg(
        F.count("*").cast("long").alias("n_parts_matched"),
        F.sum("_r0").cast("long").alias("_sr0"),
        F.sum("_r1").cast("long").alias("_sr1"),
        F.sum("_tl").cast("long").alias("_stl"),
        F.sum("_tp").cast("long").alias("_stp"),
    )
    lasp = F.col("_stl").cast("double") / (F.col("_sr0") * F.lit(10000)).cast("double")
    paas = (F.col("_sr1") * F.lit(10000)).cast("double") / F.col("_stp").cast("double")
    return agg.select(
        "n_parts_matched",
        round_det(lasp, 6).alias("laspeyres"),
        round_det(paas, 6).alias("paasche"),
        round_det(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


# FULL twin of q_price_index_report: identical (part, year) exact
# cent/centi-unit aggregates, the same per-term-floor integer cross
# terms (`//` vs Spark DIV — all operands non-negative), and one IEEE
# division per index; Fisher's sqrt is irrational (measure-zero tie
# policy, rounding.py).
TWINS["price_index_report"] = """
    WITH py AS (
      SELECT l_partkey, year(CAST(l_shipdate AS DATE)) AS yr,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS revc,
             CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) * 100 AS BIGINT)
               AS qcu
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) IN (1997, 1998)
      GROUP BY 1, 2),
    both_y AS (
      SELECT a.revc AS r0, a.qcu AS q0, b.revc AS r1, b.qcu AS q1,
             (b.revc * a.qcu * 10000) // b.qcu AS tl,
             (a.revc * b.qcu * 10000) // a.qcu AS tp
      FROM (SELECT * FROM py WHERE yr = 1997) a
      JOIN (SELECT * FROM py WHERE yr = 1998) b USING (l_partkey)),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts_matched,
             CAST(sum(r0) AS BIGINT) AS sr0, CAST(sum(r1) AS BIGINT) AS sr1,
             CAST(sum(tl) AS BIGINT) AS stl, CAST(sum(tp) AS BIGINT) AS stp
      FROM both_y)
    SELECT n_parts_matched,
           floor(CAST(stl AS DOUBLE) / CAST(sr0 * 10000 AS DOUBLE) * 1000000
                 + 0.5) / 1000000.0 AS laspeyres,
           floor(CAST(sr1 * 10000 AS DOUBLE) / CAST(stp AS DOUBLE) * 1000000
                 + 0.5) / 1000000.0 AS paasche,
           floor(sqrt((CAST(stl AS DOUBLE) / CAST(sr0 * 10000 AS DOUBLE))
                      * (CAST(sr1 * 10000 AS DOUBLE) / CAST(stp AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS fisher
    FROM agg
"""
