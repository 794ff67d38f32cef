"""Statistics-tier query wrappers (bootstrap CIs, survival, DiD, chi-square, Gini, exact quartiles, attribution). Split out of analytics_queries.py (round 10); determinism contracts unchanged."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators.ranking import (
    grouped_two_phase_rank,
    ntile_exact,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


def q_bootstrap_ci_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence intervals for the mean order value
    per priority class — THE bootstrap for data that doesn't fit on one
    machine (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012): instead of drawing B resamples (B full
    shuffles of the fact table), each row independently receives a
    Poisson(1) multiplicity per replicate, so all 32 replicates ride
    ONE scan + ONE tiny aggregate (partial map-side combine collapses
    to priorities×32 groups per partition before the exchange).

    Determinism (no RNG anywhere): replicate b's weight for an order is
    the Poisson(1) inverse CDF evaluated at u = first 15 md5 hex digits
    of "orderkey:b" — a pure function of the data, reproducible across
    engines, runs, and cluster sizes. The CDF thresholds are HARDCODED
    integer literals on the 2^60 grid (floor(CDF(k)·16^15), k=0..5,
    weights capped at 6 — P(W>6|u) < 6e-4); deriving them at runtime
    on each engine would be a cross-libm bet (the mmr derived-constant
    lesson), so the literals themselves are the contract.

    Exactness: replicate means are decided by exact integer floor
    division — mean6 = (Σw·cents · 10000) DIV Σw on decimal(38,0)
    (cents = floor(price·100+0.5), the IEEE-exact 2-dp snap) — and the
    CI bounds are the rank-2 / rank-31 replicate means (percentile
    method, ≈[3.1%, 96.9%] with B=32), ranked on (mean6, b): integers
    end to end, no float ever decides a bound. The per-priority rank
    window orders 32 rows per group — control-sized, not data-sized."""
    # floor(CDF_Poisson(1)(k) * 16^15), k = 0..5 — identical literals in
    # the DuckDB twin (TWINS, below).
    T = [
        424136118829305344,
        848272237658610688,
        1060340297073263360,
        1131029650211480960,
        1148701988496035328,
        1152236456152946176,
    ]
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    orders = load_table(spark, sf_dir, "orders")
    # r14 (guide §2.5 input skew): the single-file orders scan arrives as
    # ONE partition, and the 32-replicate explode + per-(row,b) md5 ran
    # on one core — profiled as a single 5.1 s task at sf0.1. Spreading
    # the scan before the explode parallelizes the md5 grind; at real
    # scale the input already has many partitions and this no-ops.
    base = ensure_min_partitions(
        orders.select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("_cents"),
        )
    )
    rep = base.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(31))))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("o_orderkey").cast("string"), F.col("b").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = (
        F.when(u < T[0], 0)
        .when(u < T[1], 1)
        .when(u < T[2], 2)
        .when(u < T[3], 3)
        .when(u < T[4], 4)
        .when(u < T[5], 5)
        .otherwise(6)
    ).cast("long")
    reps = (
        rep.withColumn("_w", w)
        .groupBy("priority", "b")
        .agg(
            F.sum(F.col("_w") * F.col("_cents")).cast("decimal(38,0)").alias("_s"),
            F.sum("_w").cast("long").alias("_wsum"),
        )
    )
    # exact integer floor division: subtract the remainder first, so the
    # decimal divide is of an exactly-divisible numerator (no rounding
    # mode in play). _wsum = 0 has probability e^-n (never at any real
    # n) but must not ERROR under ANSI mode -> NULL via the when-guard.
    wsafe = F.when(F.col("_wsum") > 0, F.col("_wsum"))
    s10k = F.col("_s") * 10000
    mean6 = ((s10k - s10k % wsafe) / wsafe).cast("long")
    ranked = reps.select("priority", "b", mean6.alias("_m6")).withColumn(
        "_rk",
        F.row_number().over(Window.partitionBy("priority").orderBy("_m6", "b")),
    )
    ci = ranked.groupBy("priority").agg(
        F.max(F.when(F.col("_rk") == 2, F.col("_m6"))).alias("_lo6"),
        F.max(F.when(F.col("_rk") == 31, F.col("_m6"))).alias("_hi6"),
    )
    pt = base.groupBy("priority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("_cents").cast("decimal(38,0)").alias("_sc"),
    )
    p10k = F.col("_sc") * 10000
    point6 = ((p10k - p10k % F.col("n_orders")) / F.col("n_orders")).cast("long")
    return (
        pt.join(ci, "priority")
        .select(
            F.col("priority").alias("o_orderpriority"),
            "n_orders",
            (point6 / F.lit(1e6)).alias("point_mean"),
            (F.col("_lo6") / F.lit(1e6)).alias("ci_lo"),
            (F.col("_hi6") / F.lit(1e6)).alias("ci_hi"),
        )
    )


# FULL twin of q_bootstrap_ci_report: Poisson(1) weights from the same
# hardcoded 2^60-grid CDF thresholds over md5("orderkey:b"); replicate
# means by exact HUGEINT floor division; CI = rank-2/rank-31 replicate
# means ranked on (mean6, b).
TWINS["bootstrap_ci_report"] = """
    WITH base AS (SELECT o_orderkey, o_orderpriority AS priority,
                         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                  FROM orders),
    rep AS (SELECT o_orderkey, priority, cents, unnest(range(0, 32)) AS b FROM base),
    wt AS (SELECT priority, b, cents,
                  CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS VARCHAR), ':',
                                                      CAST(b AS VARCHAR))), 1, 15))
                       AS BIGINT) AS u
           FROM rep),
    ww AS (SELECT priority, b, cents,
                  CASE WHEN u < 424136118829305344 THEN 0
                       WHEN u < 848272237658610688 THEN 1
                       WHEN u < 1060340297073263360 THEN 2
                       WHEN u < 1131029650211480960 THEN 3
                       WHEN u < 1148701988496035328 THEN 4
                       WHEN u < 1152236456152946176 THEN 5
                       ELSE 6 END AS w
           FROM wt),
    reps AS (SELECT priority, b,
                    CAST(sum(CAST(w AS HUGEINT) * cents) AS HUGEINT) AS s,
                    CAST(sum(w) AS BIGINT) AS wsum
             FROM ww GROUP BY 1, 2),
    m AS (SELECT priority, b,
                 CAST((s * 10000) // nullif(wsum, 0) AS BIGINT) AS m6,
                 row_number() OVER (PARTITION BY priority
                     ORDER BY CAST((s * 10000) // nullif(wsum, 0) AS BIGINT), b) AS rk
          FROM reps),
    ci AS (SELECT priority,
                  max(CASE WHEN rk = 2 THEN m6 END) AS lo6,
                  max(CASE WHEN rk = 31 THEN m6 END) AS hi6
           FROM m GROUP BY priority),
    pt AS (SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
                  CAST((CAST(sum(cents) AS HUGEINT) * 10000) // count(*) AS BIGINT) AS p6
           FROM base GROUP BY priority)
    SELECT pt.priority AS o_orderpriority, n_orders,
           p6 / 1000000.0 AS point_mean,
           lo6 / 1000000.0 AS ci_lo,
           hi6 / 1000000.0 AS ci_hi
    FROM pt JOIN ci USING (priority)
"""


def q_pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of the part catalog — the points where
    no other part is simultaneously cheaper AND larger (minimize
    p_retailprice, maximize p_size): the classic multi-objective
    dominance operator (Börzsönyi et al., "The Skyline Operator",
    ICDE 2001).

    Scale path: the naive formulation is a quadratic NOT-EXISTS
    anti-join (which is exactly what the DuckDB twin runs — the grade
    proves the reduction). Spark instead (1) collapses to one candidate
    per distinct price (only the max size can survive), then (2) runs
    the EXCLUSIVE prefix max of size in price order through
    two_phase_rank's range-exchange device (``max_col``) — a point is
    on the frontier iff no strictly-cheaper point reaches its size.
    O(n log n) by sort, no single-partition window, no pair blow-up.

    Exactness: prices ride the floor(·100+0.5) cents snap; everything
    downstream is integer comparison. ``price`` is emitted as
    cents/100.0 — an exact IEEE division by a power-of-two-free
    constant of an integer < 2^53, identical on both engines."""

    part = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    pts = (
        part.select(cents.alias("_price_c"), F.col("p_size").cast("long").alias("p_size"))
        .groupBy("_price_c")
        .agg(F.max("p_size").alias("_best"))
    )
    r = two_phase_rank(pts, ["_price_c"], max_col="_best")
    frontier = r.filter(
        F.col("cum_max_excl").isNull() | (F.col("_best") > F.col("cum_max_excl"))
    ).select("_price_c", F.col("_best").alias("p_size"))
    counts = part.groupBy(
        cents.alias("_price_c"), F.col("p_size").cast("long").alias("p_size")
    ).agg(F.count("*").cast("long").alias("n_parts"))
    return (
        frontier.join(counts, ["_price_c", "p_size"])
        .select(
            (F.col("_price_c") / F.lit(100.0)).alias("price"),
            "p_size",
            "n_parts",
        )
    )


# FULL twin of q_pareto_frontier_parts: the LITERAL quadratic dominance
# definition (NOT EXISTS a strictly-better point) — Spark's prefix-max
# reduction must reproduce it exactly, so the grade proves the skyline
# reduction, not just the arithmetic.
TWINS["pareto_frontier_parts"] = """
    WITH pts AS (SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
                        CAST(max(p_size) AS BIGINT) AS best
                 FROM part GROUP BY 1),
    sky AS (SELECT price_c, best FROM pts x
            WHERE NOT EXISTS (SELECT 1 FROM pts o
                              WHERE o.price_c < x.price_c AND o.best >= x.best)),
    counts AS (SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
                      CAST(p_size AS BIGINT) AS p_size,
                      CAST(count(*) AS BIGINT) AS n_parts
               FROM part GROUP BY 1, 2)
    SELECT sky.price_c / 100.0 AS price, sky.best AS p_size, n_parts
    FROM sky JOIN counts ON counts.price_c = sky.price_c AND counts.p_size = sky.best
"""


def q_kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: each
    user enters at their first 'view' event; the event is their first
    subsequent 'purchase'; users with no purchase are right-censored at
    the global observation end — the canonical censored
    time-to-conversion analysis (Kaplan & Meier 1958).

    Exactness: durations are exact integer day counts; at each event
    day the risk set n and event count d are exact longs; the curve is
    carried in LOG space — ln S(t) = Σ ln((n_i−d_i)/n_i) with each term
    ln of an exact integer ratio snapped to the nano-nat grid BEFORE
    the prefix sum (the JSD device), so the cumulative is an exact
    integer sum and no float summation order exists. S itself would
    need exp (the perplexity_proxy rows-only lesson), so the emitted
    column IS the log-survival. A day where d = n sends the true curve
    to 0 (ln → −inf): from that day on log_survival is NULL by an
    integer flag both engines compute identically.

    Scale: two keyed aggregates over users, then a day-grid table —
    the prefix windows run over distinct DAYS, a calendar-bounded
    frame (thousands of rows at any corpus size), not a data-sized
    exchange."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    day_us = 86400000000
    entry = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("_us").alias("_t0"))
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("_us").alias("_tp_raw"))
        .join(entry, "user_id")
        .filter(F.col("_tp_raw") >= F.col("_t0"))
        .groupBy("user_id")
        .agg(F.min("_tp_raw").alias("_tp"))
    )
    tend = F.broadcast(ev.agg(F.max("_us").alias("_te")))
    subj = (
        entry.join(purch, "user_id", "left")
        .crossJoin(tend)
        .select(
            F.floor(
                (F.coalesce("_tp", "_te") - F.col("_t0")) / F.lit(day_us)
            ).cast("long").alias("_day"),
            F.col("_tp").isNotNull().cast("long").alias("_is_event"),
        )
    )
    days = subj.groupBy("_day").agg(
        F.sum("_is_event").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("_c_all"),
    )
    total = F.broadcast(subj.agg(F.count("*").cast("long").alias("_n_total")))
    # r15 (VERDICT r14 item 7): both day-grid prefix sweeps move off
    # global no-partition windows (SinglePartition funnels) onto
    # two_phase_rank's range-partitioned running aggregates — exact
    # integer cumulatives either way (exclusive prefix = inclusive cum
    # minus the row's own value; inclusive max = greatest of the
    # exclusive prefix max and the row's own flag).
    at_risk = (
        two_phase_rank(days, ["_day"], cum_col="_c_all")
        .crossJoin(total)
        .withColumn(
            "n_at_risk",
            F.col("_n_total") - (F.col("cum") - F.col("_c_all")),
        )
        .drop("rank", "cum")
    )
    evd = at_risk.filter(F.col("n_events") > 0)
    term9 = F.when(
        F.col("n_events") < F.col("n_at_risk"),
        F.floor(
            F.log(
                (F.col("n_at_risk") - F.col("n_events")) / F.col("n_at_risk")
            )
            * 1e9
            + F.lit(0.5)
        ).cast("long"),
    )
    staged = evd.withColumn("_term9", term9).withColumn(
        "_h", (F.col("n_events") >= F.col("n_at_risk")).cast("int")
    )
    curve = (
        two_phase_rank(staged, ["_day"], cum_col="_term9", max_col="_h")
        .withColumn("_hit0", F.greatest(F.col("cum_max_excl"), F.col("_h")))
        .withColumn(
            # inclusive running sum skipping NULLs: cum already folds
            # the row's own _term9 (F.sum skips a NULL own-row term)
            "_ln9",
            F.col("cum"),
        )
    )
    return curve.select(
        F.col("_day").alias("event_day"),
        "n_at_risk",
        "n_events",
        F.when(
            F.col("_hit0") == 0,
            F.floor(F.col("_ln9") / F.lit(1e9) * 1e6 + F.lit(0.5)) / F.lit(1e6),
        ).alias("log_survival"),
    )


# FULL twin of q_kaplan_meier_survival: same cohort rules (entry =
# first view, event = first subsequent purchase, censor at global max
# event time), day-grid risk sets by exclusive prefix subtraction,
# per-event-day ln((n-d)/n) snapped to the nano-nat grid before the
# prefix sum; d = n poisons the curve to NULL from that day on.
TWINS["kaplan_meier_survival"] = """
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    entry AS (SELECT user_id, min(us) AS t0 FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
    purch AS (SELECT e.user_id, min(us) AS tp
              FROM ev e JOIN entry USING (user_id)
              WHERE event_type = 'purchase' AND us >= t0
              GROUP BY e.user_id),
    tend AS (SELECT max(us) AS te FROM ev),
    subj AS (SELECT CAST(floor((coalesce(tp, te) - t0) / 86400000000.0) AS BIGINT) AS day,
                    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS is_event
             FROM entry LEFT JOIN purch USING (user_id), tend),
    days AS (SELECT day, CAST(sum(is_event) AS BIGINT) AS n_events,
                    CAST(count(*) AS BIGINT) AS c_all
             FROM subj GROUP BY day),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM subj),
    risk AS (SELECT day, n_events,
                    CAST(n_total - coalesce(sum(c_all) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS n_at_risk
             FROM days, tot),
    evd AS (SELECT day, n_events, n_at_risk,
                   CASE WHEN n_events < n_at_risk
                        THEN CAST(floor(ln((n_at_risk - n_events) / CAST(n_at_risk AS DOUBLE))
                                        * 1000000000 + 0.5) AS BIGINT)
                   END AS term9
            FROM risk WHERE n_events > 0),
    curve AS (SELECT day, n_at_risk, n_events,
                     max(CASE WHEN n_events >= n_at_risk THEN 1 ELSE 0 END)
                       OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit0,
                     sum(term9) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln9
              FROM evd)
    SELECT day AS event_day, n_at_risk, n_events,
           CASE WHEN hit0 = 0
                THEN floor(ln9 / 1000000000.0 * 1000000 + 0.5) / 1000000.0
           END AS log_survival
    FROM curve
"""


def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the
    generalization of the last-touch view (events_asof_next_purchase):
    every purchase distributes 10000 basis points of credit across the
    user's touchpoints (click/view/signup) in the 7 days strictly
    before it: 40% to the first touch, 40% to the last, 20% split
    across the middles. Credit is summed per touch event_type.

    Exactness: NO floats anywhere — the split is integer basis points
    with the front-loaded remainder rule (the ntile_exact device):
    n=1 → 10000; n=2 → 5000/5000; n≥3 → first/last 4000 each, middles
    get 2000 DIV (n−2) with the remainder going to the EARLIEST
    middles, so every conversion's credits sum to exactly 10000 and
    both engines agree bit for bit by integer arithmetic alone.

    Scale: the purchase⋈touch range join is keyed by user_id (uniform;
    the 7-day window bounds the per-purchase fan-out) and the position
    windows partition by purchase — per-conversion groups, never a
    global exchange."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    week_us = 7 * 86400000000
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_u"),
        F.col("event_id").alias("_pid"),
        F.col("_us").alias("_pts"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("user_id").alias("_u"),
        F.col("event_id").alias("_tid"),
        F.col("event_type").alias("touch_type"),
        F.col("_us").alias("_tts"),
    )
    j = purch.join(touch, "_u").filter(
        (F.col("_tts") < F.col("_pts")) & (F.col("_tts") >= F.col("_pts") - week_us)
    )
    w_asc = Window.partitionBy("_pid").orderBy("_tts", "_tid")
    w_cnt = Window.partitionBy("_pid")
    pos = (
        j.withColumn("_r", F.row_number().over(w_asc))
        .withColumn("_n", F.count("*").over(w_cnt))
    )
    n, r = F.col("_n"), F.col("_r")
    mid_n = n - 2
    # middle share: 2000 DIV (n-2) each, remainder 2000 MOD (n-2) goes
    # +1 to the earliest middles (positions 2 .. 1+rem)
    mid_q = (F.lit(2000) - (F.lit(2000) % mid_n)) / mid_n
    mid_rem = F.lit(2000) % mid_n
    credit = (
        F.when(n == 1, F.lit(10000))
        .when(n == 2, F.lit(5000))
        .when((r == 1) | (r == n), F.lit(4000))
        .otherwise(
            mid_q.cast("long") + F.when(r - 1 <= mid_rem, 1).otherwise(0)
        )
    ).cast("long")
    return (
        pos.select("touch_type", credit.alias("_credit"), "_pid")
        .groupBy("touch_type")
        .agg(
            F.sum("_credit").cast("long").alias("credit_bp"),
            F.countDistinct("_pid").cast("long").alias("n_conversions_touched"),
            F.count("*").cast("long").alias("n_touches"),
        )
    )


# FULL twin of q_multitouch_attribution: same 7-day strict-before
# window, same integer U-shaped split (front-loaded middle remainder);
# no float exists on either side.
TWINS["multitouch_attribution"] = """
    WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
    p AS (SELECT user_id AS u, event_id AS pid, us AS pts FROM ev
          WHERE event_type = 'purchase'),
    t AS (SELECT user_id AS u, event_id AS tid, event_type AS touch_type, us AS tts
          FROM ev WHERE event_type IN ('click', 'view', 'signup')),
    j AS (SELECT pid, tid, touch_type, tts
          FROM p JOIN t USING (u)
          WHERE tts < pts AND tts >= pts - 604800000000),
    pos AS (SELECT pid, touch_type,
                   row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS r,
                   count(*) OVER (PARTITION BY pid) AS n
            FROM j),
    c AS (SELECT pid, touch_type,
                 CASE WHEN n = 1 THEN 10000
                      WHEN n = 2 THEN 5000
                      WHEN r = 1 OR r = n THEN 4000
                      ELSE 2000 // (n - 2)
                           + CASE WHEN r - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END
                 END AS credit
          FROM pos)
    SELECT touch_type, CAST(sum(credit) AS BIGINT) AS credit_bp,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_conversions_touched,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM c GROUP BY touch_type
"""


def q_did_estimate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of mean order value —
    treatment = odd customer keys, post-period = orders from 1997-01-01
    — the classic quasi-experimental estimator, ENTIRELY in exact
    integers: the four cell means come from the exact floor-division
    device (cents·10000 DIV n), and DiD = (T_post − T_pre) −
    (C_post − C_pre) is integer subtraction of those exact means (no
    float decides anything; the only doubles are the /1e6 display
    casts).

    Scale: one scan, four partial-aggregated cells."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.select(
        (F.col("o_custkey") % 2 == 1).alias("treat"),
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")).alias("post"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("_c"),
    ).groupBy("treat", "post").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(F.col("_c").cast("decimal(38,0)")).alias("_s"),
    )
    s10k = F.col("_s") * 10000
    m6 = ((s10k - s10k % F.col("_n")) / F.col("_n")).cast("long")
    w = cells.select("treat", "post", F.col("_n").alias("n_orders"), m6.alias("_m6"))

    def cell(tr, po, name):
        return F.max(
            F.when((F.col("treat") == tr) & (F.col("post") == po), F.col("_m6"))
        ).alias(name)

    g = w.agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        cell(True, True, "_tp"),
        cell(True, False, "_tb"),
        cell(False, True, "_cp"),
        cell(False, False, "_cb"),
    )
    return g.select(
        "n_orders",
        (F.col("_tb") / F.lit(1e6)).alias("treat_pre_mean"),
        (F.col("_tp") / F.lit(1e6)).alias("treat_post_mean"),
        (F.col("_cb") / F.lit(1e6)).alias("control_pre_mean"),
        (F.col("_cp") / F.lit(1e6)).alias("control_post_mean"),
        (
            ((F.col("_tp") - F.col("_tb")) - (F.col("_cp") - F.col("_cb")))
            / F.lit(1e6)
        ).alias("did_estimate"),
    )


# FULL twin of q_did_estimate_report: four exact floor-division cell
# means, integer DiD.
TWINS["did_estimate_report"] = """
    WITH cells AS (SELECT (o_custkey % 2 = 1) AS treat,
                          (CAST(o_orderdate AS DATE) >= DATE '1997-01-01') AS post,
                          CAST(count(*) AS BIGINT) AS n,
                          CAST((CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS HUGEINT)
                                * 10000) // count(*) AS BIGINT) AS m6
                   FROM orders GROUP BY 1, 2),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS n_orders,
                 max(CASE WHEN treat AND post THEN m6 END) AS tp,
                 max(CASE WHEN treat AND NOT post THEN m6 END) AS tb,
                 max(CASE WHEN NOT treat AND post THEN m6 END) AS cp,
                 max(CASE WHEN NOT treat AND NOT post THEN m6 END) AS cb
          FROM cells)
    SELECT n_orders,
           tb / 1000000.0 AS treat_pre_mean,
           tp / 1000000.0 AS treat_post_mean,
           cb / 1000000.0 AS control_pre_mean,
           cp / 1000000.0 AS control_post_mean,
           ((tp - tb) - (cp - cb)) / 1000000.0 AS did_estimate
    FROM g
"""


def q_chi2_type_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence table for event_type × day-of-week:
    observed counts, expected counts under independence
    (row_total·col_total/N) and each cell's χ² contribution
    ((o−e)²/e) — the guardrail test behind "is traffic mix shifting by
    weekday". All inputs are exact integer counts; expected and the
    contribution are one fixed IEEE expression tree each (round 6), so
    the whole table is engine-deterministic. Σ contribution = the χ²
    statistic (34 df here), left to the reader so every graded cell is
    raw.

    One (type, dow) aggregate plus two broadcast marginal joins — the
    contingency table is tiny at any corpus scale.
    """
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    cells = (
        ev.select(
            "event_type",
            # epoch day 0 = 1970-01-01 (Thursday = dow 4 under ISO-ish
            # numbering below); derive dow purely from the integer day
            # index so no timezone/calendar function is involved.
            ((F.floor(F.col("_us") / 86_400_000_000) + 4) % 7).cast("int").alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("long").alias("observed"))
    )
    row_tot = cells.groupBy("event_type").agg(F.sum("observed").alias("_rt"))
    col_tot = cells.groupBy("dow").agg(F.sum("observed").alias("_ct"))
    n = cells.agg(F.sum("observed").alias("_n"))
    expected = F.col("_rt") * F.col("_ct") / F.col("_n")
    return (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "dow",
            "observed",
            F.round(expected, 6).alias("expected"),
            F.round((F.col("observed") - expected) * (F.col("observed") - expected) / expected, 6).alias(
                "chi2_contrib"
            ),
        )
    )


# FULL twin of q_chi2_type_by_dow: same integer dow derivation
# ((epoch_day + 4) % 7), same marginal/expected/contribution trees.
TWINS["chi2_type_by_dow"] = """
    WITH cells AS (
      SELECT event_type,
             CAST((floor(epoch_us(ts) / 86400000000) + 4) % 7 AS INTEGER) AS dow,
             CAST(count(*) AS BIGINT) AS observed
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(observed) AS r FROM cells GROUP BY event_type),
    ct AS (SELECT dow, sum(observed) AS c FROM cells GROUP BY dow),
    n AS (SELECT sum(observed) AS n FROM cells)
    SELECT cells.event_type, cells.dow, cells.observed,
           round(r * c / n, 6) AS expected,
           round((observed - r * c / n) * (observed - r * c / n) / (r * c / n), 6)
             AS chi2_contrib
    FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
"""


def q_ab_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experimentation readout: users deterministically bucketed by
    the last md5 hex digit of user_id (0-7 → A, 8-f → B), then per
    (bucket, event_type): distinct users, events, value sum and
    events-per-user — the reproducible traffic-split + guardrail table
    (same assignment on every engine/run/cluster, no RNG).
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 32, 1) < "8", "A"
    ).otherwise("B")
    return (
        ev.withColumn("bucket", bucket)
        .groupBy("bucket", "event_type")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .withColumn(
            "events_per_user", round_det(F.col("n_events") / F.col("n_users"), 6)
        )
    )


# FULL twin of q_ab_experiment_report: identical md5 traffic split.
TWINS["ab_experiment_report"] = """
    SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) < '8'
                THEN 'A' ELSE 'B' END AS bucket,
           event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value,
           floor(count(*) / count(DISTINCT user_id) * 1000000 + 0.5) / 1000000.0
             AS events_per_user
    FROM events GROUP BY 1, 2
"""


def q_gini_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per status — the inequality /
    concentration metric (0 = equal spend, →1 = one order dominates):
    ``G = 2·Σ(i·xᵢ) / (n·Σxᵢ) − (n+1)/n`` over ascending-sorted values
    (orderkey tie-break; ties in x make the rank choice irrelevant to
    the sum). Per-group ranks ride grouped_two_phase_rank (round-10
    upgrade — no status funnels into one task) + one aggregate;
    round 6 on the final fixed expression tree.
    """

    orders = load_table(spark, sf_dir, "orders")
    ranked = grouped_two_phase_rank(
        orders.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        ["o_orderstatus"],
        ["o_totalprice", "o_orderkey"],
    ).select(
        "o_orderstatus",
        "o_totalprice",
        F.col("rank_in_group").alias("_i"),
    )
    return ranked.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(
            2 * F.sum(F.col("_i") * F.col("o_totalprice"))
            / (F.count("*") * F.sum("o_totalprice"))
            - (F.count("*") + 1) / F.count("*"),
            6,
        ).alias("gini"),
    )


# FULL twin of q_gini_by_status: ascending rank with orderkey
# tie-break, identical Gini expression tree.
TWINS["gini_by_status"] = """
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS i
      FROM orders)
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(2 * sum(i * o_totalprice) / (count(*) * sum(o_totalprice))
                 - (count(*) + 1) / count(*), 6) AS gini
    FROM ranked GROUP BY o_orderstatus
"""


def q_exact_quartiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed quartiles per order status under the
    NEAREST-RANK convention (p_q = value at rank ceil(q·n) in ascending
    order, orderkey tie-break) — no interpolation, so the result is a
    member of the data and engine-deterministic by construction.
    Complements q_exact_median_by_group (which uses the averaged-middle
    convention) and approx_aggregates (the sketch path at scale).
    """

    orders = load_table(spark, sf_dir, "orders")
    # round-10 upgrade: composite-key rank, no per-status fat partition
    ranked = grouped_two_phase_rank(
        orders.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        ["o_orderstatus"],
        ["o_totalprice", "o_orderkey"],
        n_col="_n",
    ).withColumnRenamed("rank_in_group", "_rn")
    picks = [("p25", 0.25), ("p50", 0.50), ("p75", 0.75)]
    conds = [
        F.max(
            F.when(F.col("_rn") == F.ceil(F.lit(q) * F.col("_n")), F.col("o_totalprice"))
        ).alias(name)
        for name, q in picks
    ]
    return (
        ranked.groupBy("o_orderstatus")
        .agg(F.max("_n").alias("n_orders"), *conds)
        .select(
            "o_orderstatus",
            "n_orders",
            "p25",
            "p50",
            "p75",
            F.round(F.col("p75") - F.col("p25"), 2).alias("iqr"),
        )
    )


# FULL twin of q_exact_quartiles_by_status: nearest-rank quantiles
# (rank == ceil(q*n)) over the same (price, orderkey) order.
TWINS["exact_quartiles_by_status"] = """
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
      FROM orders)
    SELECT o_orderstatus, max(n) AS n_orders,
           max(CASE WHEN rn = ceil(0.25 * n) THEN o_totalprice END) AS p25,
           max(CASE WHEN rn = ceil(0.5 * n) THEN o_totalprice END) AS p50,
           max(CASE WHEN rn = ceil(0.75 * n) THEN o_totalprice END) AS p75,
           round(max(CASE WHEN rn = ceil(0.75 * n) THEN o_totalprice END)
                 - max(CASE WHEN rn = ceil(0.25 * n) THEN o_totalprice END), 2) AS iqr
    FROM ranked GROUP BY o_orderstatus
"""


def q_corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact-decimal sufficient statistics (the
    same engine-independence technique as price_stats_by_status: a
    streaming double corr is summation-order-dependent; exact decimal
    sums cast to double feed ONE deterministic IEEE expression)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(15,2)")
    y = F.col("l_extendedprice").cast("decimal(15,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy, sxy = (
        F.col("_sxx").cast("double"),
        F.col("_syy").cast("double"),
        F.col("_sxy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select("l_returnflag", "n", round_det(corr, 6).alias("corr_qty_price"))


TWINS["corr_price_quantity"] = """
        SELECT l_returnflag, n,
               floor((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                     * 1000000 + 0.5) / 1000000.0 AS corr_qty_price
        FROM (
          SELECT l_returnflag, count(*) AS n,
                 CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS syy,
                 CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sxy
          FROM lineitem GROUP BY l_returnflag
        )
    """


def q_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running balance floored at zero — the inventory /
    prepaid-credit recurrence b_t = max(0, b_{t-1} + δ_t) (purchases
    SPEND value, every other event earns it). The floor makes the fold
    NON-associative, so no window or prefix-sum can express it — this
    is the canonical case for the sequential-fold device the EWMA query
    introduced, here in PURE INTEGERS (micro-unit deltas; no rounding
    grid needed at all, stronger than the ewma contract). The fold also
    carries the running MAX through a struct accumulator, proving the
    device extends beyond scalar state.

    Scale: one user-keyed collect + per-row JVM expression fold (same
    posture and caveat as events_ewma: window the stream before
    folding at extreme per-user lengths)."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    delta = F.when(
        F.col("event_type") == "purchase",
        -F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long"),
    ).otherwise(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long"))
    grouped = ev.select("user_id", "_us", "event_id", delta.alias("_d")).groupBy(
        "user_id"
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_us", "event_id", "_d"))),
            lambda s: s._d,
        ).alias("_deltas")
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("b"), F.lit(0).cast("long").alias("m")
    )

    def step(acc, x):
        nb = F.greatest(F.lit(0).cast("long"), acc.b + x)
        return F.struct(nb.alias("b"), F.greatest(acc.m, nb).alias("m"))

    folded = F.aggregate(F.col("_deltas"), zero, step)
    return grouped.select(
        "user_id",
        F.size("_deltas").cast("long").alias("n_events"),
        (folded.b / F.lit(1e6)).alias("final_balance"),
        (folded.m / F.lit(1e6)).alias("max_balance"),
    )


# FULL twin of q_capped_running_balance: the same pure-integer
# non-associative fold, with the (balance, max) pair PACKED into one
# HUGEINT accumulator (acc = m*2^62 + b). DuckDB 1.0's struct_pack
# inside a list_reduce lambda mis-evaluates a field that references a
# subexpression shared with an earlier field (observed live: m picked
# up the post-update balance), so the struct-accumulator formulation
# is NOT usable here — the packed scalar sidesteps it and stays exact
# (b, m < 2^62 micro-units by construction).
TWINS["capped_running_balance"] = """
    WITH ev AS (SELECT user_id, epoch_us(ts) AS uss, event_id AS eid,
                       CASE WHEN event_type = 'purchase'
                            THEN -CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                            ELSE CAST(floor(value * 1000000 + 0.5) AS BIGINT)
                       END AS dd
                FROM events),
    g AS (SELECT user_id,
                 list_transform(list_sort(list(struct_pack(us := uss, event_id := eid, d := dd))),
                                s -> s.d) AS deltas
          FROM ev GROUP BY user_id),
    f AS (SELECT user_id, CAST(len(deltas) AS BIGINT) AS n_events,
                 list_reduce(
                   list_prepend(CAST(0 AS HUGEINT), deltas::HUGEINT[]),
                   (acc, x) -> greatest(acc // 4611686018427387904,
                                        greatest(CAST(0 AS HUGEINT),
                                                 acc % 4611686018427387904 + x))
                               * 4611686018427387904
                               + greatest(CAST(0 AS HUGEINT),
                                          acc % 4611686018427387904 + x)
                 ) AS st
          FROM g)
    SELECT user_id, n_events,
           CAST(st % 4611686018427387904 AS BIGINT) / 1000000.0 AS final_balance,
           CAST(st // 4611686018427387904 AS BIGINT) / 1000000.0 AS max_balance
    FROM f
"""


def q_funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50 / p90 / p99 of a user's first-view → first-subsequent-
    purchase latency — the time-to-convert distribution behind funnel
    SLAs (round 10). percentile_disc semantics: the latency at rank
    ⌈q·n⌉ in ascending (latency, user) order — a total order, so the
    pick is deterministic; latencies are exact integer seconds from
    integer-microsecond arithmetic.

    Scale: two user-keyed min-aggregates (uniform shuffles), the
    global rank rides two_phase_rank's range exchange, and each
    percentile is one rank-equality pick against a broadcast one-row
    count — no global sort ever lands on a single task."""

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("_us").alias("_t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("_us") >= F.col("_t1"))
        .groupBy("user_id", "_t1")
        .agg(F.min("_us").alias("_tp"))
    )
    lat = p.select(
        F.floor((F.col("_tp") - F.col("_t1")) / F.lit(1000000)).cast("long").alias("_lat_s"),
        "user_id",
    )
    ranked = two_phase_rank(lat, ["_lat_s", "user_id"])
    n_df = F.broadcast(lat.agg(F.count("*").cast("long").alias("_n")))
    j = ranked.crossJoin(n_df)
    picks = None
    for label, num, den in (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)):
        target = F.expr(f"(_n * {num} + {den - 1}) DIV {den}")
        row = j.filter(F.col("rank") == target).select(
            F.lit(label).alias("quantile"),
            F.col("_n").alias("n_users"),
            F.col("_lat_s").alias("latency_seconds"),
        )
        picks = row if picks is None else picks.unionByName(row)
    return picks


# FULL twin of q_funnel_latency_percentiles: first view → first
# subsequent purchase per user, percentile_disc picks at ceil-rank
# ((num·n + den−1) DIV den) over the (latency, user) total order.
TWINS["funnel_latency_percentiles"] = """
    WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id, v.t1, min(epoch_us(e.ts)) AS tp
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.t1
          GROUP BY e.user_id, v.t1),
    lat AS (SELECT CAST(floor((tp - t1) / 1000000.0) AS BIGINT) AS lat_s, user_id
            FROM p),
    ranked AS (SELECT lat_s,
                      CAST(row_number() OVER (ORDER BY lat_s, user_id) AS BIGINT) AS r
               FROM lat),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lat)
    SELECT 'p50' AS quantile, n AS n_users, lat_s AS latency_seconds
    FROM ranked, n WHERE r = (n * 1 + 1) // 2
    UNION ALL
    SELECT 'p90', n, lat_s FROM ranked, n WHERE r = (n * 9 + 9) // 10
    UNION ALL
    SELECT 'p99', n, lat_s FROM ranked, n WHERE r = (n * 99 + 99) // 100
"""


def q_kendall_tau_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b rank correlation between per-nation order revenue in
    1998 and in 1999 — "did the nation league table reorder year over
    year?" (round 10). Revenues are exact decimal cent sums, so
    concordant/discordant/tie pair counts are exact integers; τ-b =
    (C − D) / sqrt((n₀ − t_x)(n₀ − t_y)) is one fixed IEEE tree over
    those integers, snapped to 6 dp.

    Scale: the pair enumeration is a self-join of the PER-NATION
    aggregate — a ≤25-row frame at any sf (nation is enumeration-
    bounded), so the quadratic step is constant-size; everything
    data-sized is the one (nation, year)-keyed revenue aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.withColumn("_yr", F.year("o_orderdate"))
        .filter(F.col("_yr").isin(1998, 1999))
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "_yr")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("_cents")
        )
    )
    # .limit(100): a no-op on data (nation is enumeration-bounded at
    # 25) that stamps a plan-provable hard cap on both sides of the
    # pair product below — the advisor proves the quadratic step is
    # constant-size instead of trusting the docstring.
    xy = (
        rev.filter(F.col("_yr") == 1998)
        .select("n_name", F.col("_cents").alias("_x"))
        .join(
            rev.filter(F.col("_yr") == 1999).select("n_name", F.col("_cents").alias("_y")),
            "n_name",
        )
        .limit(100)
    )
    a = xy.select(F.col("n_name").alias("_na"), F.col("_x").alias("_xa"), F.col("_y").alias("_ya"))
    b = xy.select(F.col("n_name").alias("_nb"), F.col("_x").alias("_xb"), F.col("_y").alias("_yb"))
    pairs = a.join(b, F.col("_na") < F.col("_nb"))
    dx = F.col("_xa") - F.col("_xb")
    dy = F.col("_ya") - F.col("_yb")
    agg = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(((dx > 0) & (dy > 0) | (dx < 0) & (dy < 0)).cast("long")).alias("concordant"),
        F.sum(((dx > 0) & (dy < 0) | (dx < 0) & (dy > 0)).cast("long")).alias("discordant"),
        F.sum((dx == 0).cast("long")).alias("ties_x"),
        F.sum((dy == 0).cast("long")).alias("ties_y"),
    )
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        (F.col("n_pairs") - F.col("ties_x")).cast("double")
        * (F.col("n_pairs") - F.col("ties_y")).cast("double")
    )
    return agg.select(
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        round_det(tau, 6).alias("tau_b"),
    )


# FULL twin of q_kendall_tau_nations: exact cent sums per (nation,
# year), bounded 25-row pair self-join, τ-b from exact pair counts.
TWINS["kendall_tau_nations"] = """
    WITH rev AS (
      SELECT n.n_name, year(o.o_orderdate) AS yr,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE year(o.o_orderdate) IN (1998, 1999)
      GROUP BY n.n_name, year(o.o_orderdate)),
    xy AS (SELECT a.n_name, a.cents AS x, b.cents AS y
           FROM rev a JOIN rev b ON a.n_name = b.n_name
           WHERE a.yr = 1998 AND b.yr = 1999),
    pairs AS (SELECT p.x AS xa, p.y AS ya, q.x AS xb, q.y AS yb
              FROM xy p JOIN xy q ON p.n_name < q.n_name),
    agg AS (SELECT
      CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(CASE WHEN (xa - xb > 0 AND ya - yb > 0)
                      OR (xa - xb < 0 AND ya - yb < 0) THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      CAST(sum(CASE WHEN (xa - xb > 0 AND ya - yb < 0)
                      OR (xa - xb < 0 AND ya - yb > 0) THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
      CAST(sum(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
      CAST(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
    FROM pairs)
    SELECT n_pairs, concordant, discordant, ties_x, ties_y,
           floor((CAST(concordant - discordant AS DOUBLE)
                  / sqrt(CAST(n_pairs - ties_x AS DOUBLE)
                         * CAST(n_pairs - ties_y AS DOUBLE))) * 1000000 + 0.5)
             / 1000000.0 AS tau_b
    FROM agg
"""


def q_psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the 1998 (base) and 1999
    (current) order-price distributions — the standard model-input
    drift monitor, complementing the KS tier with the binned metric
    risk teams actually alert on (round 10). Ten fixed 50k-wide price
    bins (top bin open); add-one Laplace smoothing so empty bins stay
    finite; per-bin contribution (p−q)·ln(p/q) plus a TOTAL row.

    Exactness: bin counts are exact longs; p and q are single IEEE
    divisions; ln(p/q) is one call on the divided ratio (NOT
    ln p − ln q — a different float tree); each contribution is
    snapped to an integer nano grid so the TOTAL row is an exact long
    sum, not an order-dependent float sum.

    Scale: one scan per period, ≤10 groups — map-side combine
    collapses everything before the exchange."""
    orders = load_table(spark, sf_dir, "orders")
    binned = (
        orders.withColumn("_yr", F.year("o_orderdate"))
        .filter(F.col("_yr").isin(1998, 1999))
        .withColumn(
            "_cents", (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        )
        # exact: cents are a BIGINT, the 50k-wide bin is integer DIV
        .select("_yr", F.expr("least(_cents DIV 5000000, 9)").alias("bin_id"))
    )
    counts = (
        binned.groupBy("bin_id")
        .agg(
            F.sum((F.col("_yr") == 1998).cast("long")).alias("_nb"),
            F.sum((F.col("_yr") == 1999).cast("long")).alias("_nc"),
        )
    )
    # materialize all 10 bins (empty ones still get the Laplace mass)
    bins = spark.range(10).select(F.col("id").cast("long").alias("bin_id"))
    full = bins.join(counts, "bin_id", "left").select(
        "bin_id",
        F.coalesce("_nb", F.lit(0)).cast("long").alias("n_base"),
        F.coalesce("_nc", F.lit(0)).cast("long").alias("n_curr"),
    )
    tot = F.broadcast(
        full.agg(
            F.sum("n_base").cast("long").alias("_tb"),
            F.sum("n_curr").cast("long").alias("_tc"),
        )
    )
    p = (F.col("n_base") + 1).cast("double") / (F.col("_tb") + 10).cast("double")
    q = (F.col("n_curr") + 1).cast("double") / (F.col("_tc") + 10).cast("double")
    term_nano = F.floor((p - q) * F.log(p / q) * 1000000000 + 0.5).cast("long")
    per_bin = full.crossJoin(tot).select(
        F.col("bin_id").cast("long").alias("bin_id"),
        "n_base",
        "n_curr",
        term_nano.alias("_nano"),
    )
    rows = per_bin.select(
        F.concat(F.lit("bin_"), F.col("bin_id")).alias("bucket"),
        "n_base",
        "n_curr",
        (F.col("_nano").cast("double") / 1e9).alias("psi_term"),
    )
    total = per_bin.agg(
        F.lit("TOTAL").alias("bucket"),
        F.sum("n_base").cast("long").alias("n_base"),
        F.sum("n_curr").cast("long").alias("n_curr"),
        (F.sum("_nano").cast("double") / 1e9).alias("psi_term"),
    )
    return rows.unionByName(total)


# FULL twin of q_psi_drift_report: identical integer-DIV bins, add-one
# Laplace shares as single divisions, ln on the divided ratio, nano-
# snapped contributions so the TOTAL row is an exact integer sum.
TWINS["psi_drift_report"] = """
    WITH binned AS (
      SELECT year(o_orderdate) AS yr,
             least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000, 9) AS bin_id
      FROM orders WHERE year(o_orderdate) IN (1998, 1999)),
    counts AS (SELECT bin_id,
                      CAST(sum(CASE WHEN yr = 1998 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                      CAST(sum(CASE WHEN yr = 1999 THEN 1 ELSE 0 END) AS BIGINT) AS nc
               FROM binned GROUP BY bin_id),
    bins AS (SELECT CAST(range AS BIGINT) AS bin_id FROM range(10)),
    full_b AS (SELECT b.bin_id,
                      CAST(coalesce(nb, 0) AS BIGINT) AS n_base,
                      CAST(coalesce(nc, 0) AS BIGINT) AS n_curr
               FROM bins b LEFT JOIN counts c ON b.bin_id = c.bin_id),
    tot AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb, CAST(sum(n_curr) AS BIGINT) AS tc
            FROM full_b),
    per AS (SELECT bin_id, n_base, n_curr,
                   CAST(floor(((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))
                               - (CAST(n_curr + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE)))
                              * ln((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))
                                   / (CAST(n_curr + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE)))
                              * 1000000000 + 0.5) AS BIGINT) AS nano
            FROM full_b, tot)
    SELECT 'bin_' || bin_id AS bucket, n_base, n_curr,
           CAST(nano AS DOUBLE) / 1000000000.0 AS psi_term
    FROM per
    UNION ALL
    SELECT 'TOTAL', CAST(sum(n_base) AS BIGINT), CAST(sum(n_curr) AS BIGINT),
           CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1000000000.0
    FROM per
"""


def q_mann_whitney_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test comparing 1-URGENT vs 5-LOW order prices —
    the nonparametric two-sample location test (rank-based, so it
    complements the Welch tier's mean test) with tie-corrected normal
    approximation and rank-biserial effect size (round 10).

    Exactness: prices live on the exact cent grid; tied ranks are
    handled by grouping BY VALUE — per value, the average rank is
    (2·cum_before + t + 1)/2, so 2·R_A = Σ n_Av·(2·cum_before + t + 1)
    is an exact decimal sum and U = (2R_A − n_A(n_A+1))/2 is exact;
    the tie term Σ(t³−t) is an exact decimal sum; z and the effect
    size are one fixed IEEE tree over those exact operands.

    Scale: group-by-value bounds the ranked frame by the price grid;
    the global prefix sum rides two_phase_rank's range exchange; the
    final statistics are a one-row aggregate."""

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    vals = orders.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("_v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("_is_a"),
    )
    by_val = vals.groupBy("_v").agg(
        F.sum("_is_a").cast("long").alias("_na"),
        F.sum(1 - F.col("_is_a")).cast("long").alias("_nb"),
    ).withColumn("_t", F.col("_na") + F.col("_nb"))
    ranked = two_phase_rank(by_val, ["_v"], cum_col="_t")
    d38 = "decimal(38,0)"
    agg = ranked.agg(
        F.sum("_na").cast("long").alias("n_a"),
        F.sum("_nb").cast("long").alias("n_b"),
        F.sum(
            F.col("_na").cast(d38)
            * (2 * (F.col("cum") - F.col("_t")) + F.col("_t") + 1)
        ).alias("_twice_ra"),
        F.sum(
            F.col("_t").cast(d38) * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie_term"),
    )
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    u = (
        F.col("_twice_ra").cast("double")
        - (F.col("n_a").cast(d38) * (F.col("n_a") + 1)).cast("double")
    ) / F.lit(2.0)
    mu = (F.col("n_a").cast(d38) * F.col("n_b")).cast("double") / F.lit(2.0)
    var = (
        (F.col("n_a").cast(d38) * F.col("n_b")).cast("double")
        / F.lit(12.0)
        * ((n + 1) - F.col("_tie_term").cast("double") / (n * (n - 1)))
    )
    z = (u - mu) / F.sqrt(var)
    return agg.select(
        "n_a",
        "n_b",
        u.alias("u_stat"),
        round_det(z, 6).alias("z_score"),
        round_det(F.lit(1.0) - F.lit(2.0) * u / (F.col("n_a").cast(d38) * F.col("n_b")).cast("double"), 6).alias(
            "rank_biserial"
        ),
    )


# FULL twin of q_mann_whitney_report: group-by-cent-value average
# ranks (2·R_A kept integer), exact tie term, identical z tree.
TWINS["mann_whitney_report"] = """
    WITH vals AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
                         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a
                  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    by_val AS (SELECT v,
                      CAST(sum(is_a) AS BIGINT) AS na,
                      CAST(sum(1 - is_a) AS BIGINT) AS nb,
                      CAST(count(*) AS BIGINT) AS t
               FROM vals GROUP BY v),
    ranked AS (SELECT *, CAST(sum(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM by_val),
    agg AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                   CAST(sum(nb) AS BIGINT) AS n_b,
                   sum(CAST(na AS HUGEINT) * (2 * (cum - t) + t + 1)) AS twice_ra,
                   sum(CAST(t AS HUGEINT) * t * t - t) AS tie_term
            FROM ranked),
    s AS (SELECT *,
                 (CAST(twice_ra AS DOUBLE)
                  - CAST(CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE)) / 2.0 AS u,
                 CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) AS nanb,
                 CAST(n_a + n_b AS DOUBLE) AS n
          FROM agg)
    SELECT n_a, n_b, u AS u_stat,
           floor(((u - nanb / 2.0)
                  / sqrt(nanb / 12.0
                         * ((n + 1) - CAST(tie_term AS DOUBLE) / (n * (n - 1)))))
                 * 1000000 + 0.5) / 1000000.0 AS z_score,
           floor((1.0 - 2.0 * u / nanb) * 1000000 + 0.5) / 1000000.0 AS rank_biserial
    FROM s
"""


def q_theil_index_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of order prices per order status —
    the decomposable inequality measure that complements the Gini
    tier; T = (1/n)·Σ (x_i/μ)·ln(x_i/μ) (round 10).

    Exactness: prices are exact cents; μ is one IEEE division of the
    exact decimal status sum by the count; each row's contribution is
    one fixed IEEE tree snapped to an integer NANO grid, so the group
    sum is an exact long sum (never an order-dependent float sum) —
    the zipf_slope / perplexity_proxy micro-nat device.

    Scale: two status-keyed aggregates (≤3 groups, map-side combine)
    and one broadcast join of the 3-row stats frame."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("_c"),
    )
    stats = F.broadcast(
        cents.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(F.col("_c").cast("decimal(38,0)")).alias("_s"),
        )
    )
    mu = F.col("_s").cast("double") / F.col("_n").cast("double")
    ratio = F.col("_c").cast("double") / mu
    nano = F.floor(ratio * F.log(ratio) * 1000000000 + 0.5).cast("long")
    per_row = cents.join(stats, "o_orderstatus").select(
        "o_orderstatus", "_n", nano.alias("_nano")
    )
    return (
        per_row.groupBy("o_orderstatus", "_n")
        .agg(F.sum("_nano").cast("long").alias("_nano_sum"))
        .select(
            "o_orderstatus",
            F.col("_n").alias("n_orders"),
            round_det(
                (F.col("_nano_sum").cast("double") / 1e9) / F.col("_n").cast("double"), 6
            ).alias("theil_t"),
        )
    )


# FULL twin of q_theil_index_by_status: per-row (x/μ)·ln(x/μ) snapped
# to the nano grid BEFORE aggregation (the zipf/perplexity device), so
# the status sum is exact integer arithmetic.
TWINS["theil_index_by_status"] = """
    WITH cents AS (SELECT o_orderstatus,
                          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                   FROM orders),
    stats AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(c AS HUGEINT)) AS s
              FROM cents GROUP BY 1),
    per AS (SELECT c.o_orderstatus, s.n,
                   CAST(floor((CAST(c.c AS DOUBLE)
                               / (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)))
                              * ln(CAST(c.c AS DOUBLE)
                                   / (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)))
                              * 1000000000 + 0.5) AS BIGINT) AS nano
            FROM cents c JOIN stats s USING (o_orderstatus))
    SELECT o_orderstatus, n AS n_orders,
           floor(((CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1000000000.0)
                  / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS theil_t
    FROM per GROUP BY o_orderstatus, n
"""


def q_winsorized_mean_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean order price per status — clamp every price to
    the status's exact [p05, p95] (nearest-rank) before averaging:
    the outlier-robust location estimate that, unlike the trimmed
    mean, keeps n constant (round 10).

    Exactness: prices ride the cent grid; the p05/p95 cuts are
    ceil-rank picks ((n·q + 99) DIV 100) over the (cents, orderkey)
    total order; the clamped sum is an exact decimal sum, and the
    mean is one IEEE division snapped to 4 dp.

    Scale: per-group ranks ride grouped_two_phase_rank — one GLOBAL
    range-exchange rank over the composite (status, cents, orderkey)
    order minus a 3-row broadcast of per-status offsets — so no
    status ever funnels into a single task (the fat-partition plan a
    Window.partitionBy(status) rank would produce). Cuts ride a 3-row
    broadcast back onto the cent scan."""

    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderstatus",
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("_c"),
    )
    ranked = grouped_two_phase_rank(
        cents, ["o_orderstatus"], ["_c", "o_orderkey"], n_col="_n"
    ).withColumnRenamed("rank_in_group", "_rn")
    cuts = F.broadcast(
        ranked.groupBy("o_orderstatus").agg(
            F.max("_n").alias("n_orders"),
            F.max(
                F.when(F.col("_rn") == F.expr("(_n * 5 + 99) DIV 100"), F.col("_c"))
            ).alias("_lo"),
            F.max(
                F.when(F.col("_rn") == F.expr("(_n * 95 + 99) DIV 100"), F.col("_c"))
            ).alias("_hi"),
        )
    )
    clamped = F.greatest(F.least(F.col("_c"), F.col("_hi")), F.col("_lo"))
    return (
        cents.join(cuts, "o_orderstatus")
        .groupBy("o_orderstatus", "n_orders", "_lo", "_hi")
        .agg(F.sum(clamped.cast("decimal(38,0)")).alias("_ws"))
        .select(
            "o_orderstatus",
            "n_orders",
            (F.col("_lo").cast("double") / 100.0).alias("p05_price"),
            (F.col("_hi").cast("double") / 100.0).alias("p95_price"),
            round_det(
                F.col("_ws").cast("double") / F.col("n_orders").cast("double") / 100.0, 4
            ).alias("winsorized_mean"),
        )
    )


# FULL twin of q_winsorized_mean_by_status: ceil-rank p05/p95 cuts
# over the (cents, orderkey) total order, exact clamped decimal sum.
TWINS["winsorized_mean_by_status"] = """
    WITH cents AS (SELECT o_orderstatus, o_orderkey,
                          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                   FROM orders),
    ranked AS (SELECT o_orderstatus, c,
                      CAST(row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY c, o_orderkey) AS BIGINT) AS rn,
                      CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
               FROM cents),
    cuts AS (SELECT o_orderstatus, max(n) AS n_orders,
                    max(CASE WHEN rn = (n * 5 + 99) // 100 THEN c END) AS lo,
                    max(CASE WHEN rn = (n * 95 + 99) // 100 THEN c END) AS hi
             FROM ranked GROUP BY o_orderstatus),
    agg AS (SELECT c.o_orderstatus, t.n_orders, t.lo, t.hi,
                   sum(CAST(greatest(least(c.c, t.hi), t.lo) AS HUGEINT)) AS ws
            FROM cents c JOIN cuts t USING (o_orderstatus)
            GROUP BY c.o_orderstatus, t.n_orders, t.lo, t.hi)
    SELECT o_orderstatus, n_orders,
           CAST(lo AS DOUBLE) / 100.0 AS p05_price,
           CAST(hi AS DOUBLE) / 100.0 AS p95_price,
           floor(CAST(ws AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0 * 10000 + 0.5)
             / 10000.0 AS winsorized_mean
    FROM agg
"""


def q_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log demand-curve slope per brand — OLS of ln(quantity) on
    ln(catalog price) over lineitems, the price-elasticity proxy a
    pricing team reads per category (round 10).

    Exactness: both logs are snapped to exact integer MICRO grids
    (floor(ln·10⁶ + 0.5) — the zipf_slope device) so all OLS moments
    are exact decimal sums; the slope is one guarded IEEE division
    (NULL when a brand has no price variation, identically on both
    engines), snapped to 6 dp.

    Scale: one lineitem⋈part equi-join (part UNhinted — linear table,
    AQE decides), then a ≤25-group map-side-combined aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pts = li.join(
        part.select(
            "p_partkey",
            "p_brand",
            (F.col("p_retailprice").cast("decimal(18,2)") * 100).cast("long").alias("_pc"),
        ),
        li.l_partkey == F.col("p_partkey"),
    ).select(
        "p_brand",
        F.floor(F.log(F.col("_pc").cast("double")) * 1000000 + 0.5).cast("long").alias("_x6"),
        F.floor(F.log(F.col("l_quantity").cast("double")) * 1000000 + 0.5)
        .cast("long")
        .alias("_y6"),
    )
    d38 = "decimal(38,0)"
    agg = pts.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("_x6").cast(d38)).alias("_sx"),
        F.sum(F.col("_y6").cast(d38)).alias("_sy"),
        F.sum(F.col("_x6").cast(d38) * F.col("_y6")).alias("_sxy"),
        F.sum(F.col("_x6").cast(d38) * F.col("_x6")).alias("_sxx"),
    )
    den = (
        F.col("n_lines") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    ).cast("double")
    num = (
        F.col("n_lines") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    ).cast("double")
    return agg.select(
        "p_brand",
        "n_lines",
        F.when(den != 0.0, round_det(num / den, 6)).alias("elasticity_slope"),
    )


# FULL twin of q_elasticity_by_brand: micro-nat log grids, exact
# HUGEINT OLS moments, zero-variance guard identical on both engines.
TWINS["elasticity_by_brand"] = """
    WITH pts AS (SELECT p.p_brand,
        CAST(floor(ln(CAST(CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                           AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x6,
        CAST(floor(ln(CAST(l.l_quantity AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y6
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    agg AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
                   sum(CAST(x6 AS HUGEINT)) AS sx, sum(CAST(y6 AS HUGEINT)) AS sy,
                   sum(CAST(x6 AS HUGEINT) * y6) AS sxy,
                   sum(CAST(x6 AS HUGEINT) * x6) AS sxx
            FROM pts GROUP BY p_brand)
    SELECT p_brand, n_lines,
           CASE WHEN CAST(n_lines * sxx - sx * sx AS DOUBLE) <> 0.0
                THEN floor((CAST(n_lines * sxy - sx * sy AS DOUBLE)
                            / CAST(n_lines * sxx - sx * sx AS DOUBLE))
                           * 1000000 + 0.5) / 1000000.0 END AS elasticity_slope
    FROM agg
"""


def q_tail_index_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (Hill 1975) over the top-200 order
    values — the extreme-value-theory diagnostic behind "how heavy is
    the revenue tail" (α ≈ Pareto exponent; α ≤ 2 ⇒ infinite
    variance): H = (1/k)·Σ_{i≤k} ln(x_(i)/x_(k+1)), α̂ = 1/H.

    Determinism: the top-(k+1) order statistics are a TOTAL order
    ((price DESC, orderkey) — TakeOrderedAndProject, never a global
    sort); each log excess rides the established nano-nat grid
    (floor(ln·10⁹ + 0.5) as BIGINT), so the sum is an exact integer
    and H / α̂ are single IEEE divisions, snapped to 6 dp. The ranking
    window runs on the CONSTANT 201-row frame (binseg/markov
    precedent). α̂ is NULL if every top value ties the threshold
    (NULLIF-guarded identically on both engines).

    Scale: one TakeOrdered of k+1 rows — O(k) driver memory, k fixed;
    everything after runs on a constant-size frame."""
    k = 200
    orders = load_table(spark, sf_dir, "orders")
    top = (
        orders.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k + 1)
    )
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    ranked = top.select(
        "o_totalprice", F.row_number().over(w).alias("_rn")
    )
    thr = F.broadcast(
        ranked.filter(F.col("_rn") == k + 1).select(
            F.col("o_totalprice").alias("_tp")
        )
    )
    terms = (
        ranked.filter(F.col("_rn") <= k)
        .crossJoin(thr)
        .select(
            F.floor(F.log(F.col("o_totalprice") / F.col("_tp")) * 1e9 + F.lit(0.5))
            .cast("long")
            .alias("_l"),
            "_tp",
        )
    )
    agg = terms.groupBy("_tp").agg(F.sum("_l").cast("long").alias("_s"))
    denom = float(k) * 1e9
    return agg.select(
        F.lit(k).cast("long").alias("k_top"),
        F.col("_tp").alias("threshold_price"),
        round_det(F.col("_s").cast("double") / F.lit(denom), 6).alias(
            "hill_mean_log_excess"
        ),
        round_det(
            F.when(
                F.col("_s") != 0, F.lit(denom) / F.col("_s").cast("double")
            ),
            6,
        ).alias("tail_alpha"),
    )


# FULL twin of q_tail_index_report: identical (price DESC, orderkey)
# total order for the top-201 statistics, the nano-nat log-excess
# grid per term, exact integer sum, single divisions. The CASE guard
# mirrors the Spark when(): NULL alpha iff every top value ties the
# threshold.
TWINS["tail_index_report"] = """
    WITH topv AS (
      SELECT o_totalprice, o_orderkey FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 201),
    r AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM topv),
    thr AS (SELECT o_totalprice AS tp FROM r WHERE rn = 201),
    agg AS (
      SELECT thr.tp,
             CAST(sum(CAST(floor(ln(r.o_totalprice / thr.tp) * 1000000000
                                 + 0.5) AS BIGINT)) AS BIGINT) AS s
      FROM r CROSS JOIN thr WHERE rn <= 200 GROUP BY thr.tp)
    SELECT CAST(200 AS BIGINT) AS k_top,
           tp AS threshold_price,
           floor(CAST(s AS DOUBLE) / 200000000000.0 * 1000000 + 0.5)
             / 1000000.0 AS hill_mean_log_excess,
           CASE WHEN s <> 0 THEN
             floor(200000000000.0 / CAST(s AS DOUBLE) * 1000000 + 0.5)
               / 1000000.0 END AS tail_alpha
    FROM agg
"""


def q_order_backlog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line order-backlog profile: how many orders are OPEN
    (placed, not yet fully shipped) on each calendar day, summarized
    as the peak count, its first peak day, and the time-weighted mean
    backlog — the warehouse WIP metric. An order is open from
    o_orderdate through its LAST lineitem ship date (inclusive).

    Device: the classic +1/−1 sweep — one delta row per order start
    (+1) and one per day-after-last-ship (−1), aggregated per calendar
    day, then an exact integer prefix sum over the DAY-ordered delta
    frame (calendar-bounded: ~2.4k rows at any corpus size, so the
    cumulative window is constant-size like the distance
    distribution's). Peak/argmax ride integer max + min-day
    tie-break; the mean weights each backlog level by the days it
    persists (diff to the next delta day), exact integers with ONE
    final division.

    Scale: one order-keyed max-shipdate aggregate, one day-keyed
    delta aggregate, then constant-size calendar frames."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    closed = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("_ship")
    )
    spans = orders.select(
        "o_orderkey", F.to_date("o_orderdate").alias("_start")
    ).join(closed, F.col("o_orderkey") == F.col("l_orderkey"))
    deltas = (
        spans.select(F.col("_start").alias("_day"), F.lit(1).alias("_d"))
        .unionByName(
            spans.select(
                F.date_add("_ship", 1).alias("_day"), F.lit(-1).alias("_d")
            )
        )
        .groupBy("_day")
        .agg(F.sum("_d").cast("long").alias("_delta"))
    )
    # r15 (VERDICT r14 item 7): the sweep's prefix sum and the lead()
    # both rode global no-partition windows (SinglePartition funnels
    # over the delta frame); the prefix now rides two_phase_rank's
    # range-partitioned cum and the lead is a rank self-join over the
    # same checkpointed ranked frame (rank k joins rank k+1's day) —
    # exact integers either way.
    ranked = two_phase_rank(deltas, ["_day"], cum_col="_delta")
    nxt = ranked.select((F.col("rank") - 1).alias("rank"), F.col("_day").alias("_next"))
    cum = ranked.join(nxt, "rank", "left").select(
        "_day",
        F.col("cum").cast("long").alias("_open"),
        F.coalesce(
            F.datediff(F.col("_next"), F.col("_day")), F.lit(1)
        ).cast("long").alias("_span_days"),
    )
    stats = F.broadcast(
        cum.agg(
            F.max("_open").alias("_mx"),
            F.sum(F.col("_open") * F.col("_span_days")).cast("long").alias("_area"),
            F.sum("_span_days").cast("long").alias("_days"),
        )
    )
    pick = (
        cum.crossJoin(stats)
        .filter(F.col("_open") == F.col("_mx"))
        .groupBy("_mx", "_area", "_days")
        .agg(F.min("_day").alias("_peak_day"))
    )
    return pick.select(
        F.col("_mx").alias("peak_open_orders"),
        F.date_format("_peak_day", "yyyy-MM-dd").alias("peak_day"),
        F.col("_days").alias("n_profile_days"),
        round_det(
            F.col("_area").cast("double") / F.col("_days").cast("double"), 6
        ).alias("mean_open_orders"),
    )


# FULL twin of q_order_backlog_profile: identical +1/−1 sweep —
# per-day delta aggregate, cumulative sum over the day order, spans
# to the next delta day (last span = 1), peak via max + min-day
# tie-break, time-weighted mean as exact integer area / days.
TWINS["order_backlog_profile"] = """
    WITH closed AS (
      SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS ship
      FROM lineitem GROUP BY l_orderkey),
    spans AS (
      SELECT CAST(o_orderdate AS DATE) AS s, ship
      FROM orders JOIN closed ON o_orderkey = l_orderkey),
    deltas AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS delta FROM (
        SELECT s AS day, 1 AS d FROM spans
        UNION ALL SELECT ship + CAST(1 AS INTEGER), -1 FROM spans)
      GROUP BY day),
    cum AS (
      SELECT day,
             CAST(sum(delta) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open_n,
             CAST(COALESCE(lead(day) OVER (ORDER BY day) - day, 1) AS BIGINT)
               AS span_days
      FROM deltas),
    stats AS (
      SELECT max(open_n) AS mx,
             CAST(sum(open_n * span_days) AS BIGINT) AS area,
             CAST(sum(span_days) AS BIGINT) AS days
      FROM cum)
    SELECT stats.mx AS peak_open_orders,
           strftime(min(cum.day), '%Y-%m-%d') AS peak_day,
           stats.days AS n_profile_days,
           floor(CAST(stats.area AS DOUBLE) / CAST(stats.days AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS mean_open_orders
    FROM cum CROSS JOIN stats
    WHERE cum.open_n = stats.mx
    GROUP BY stats.mx, stats.area, stats.days
"""


def q_mean_excess_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-excess function at the p90/p95/p99 thresholds of order
    value — the peaks-over-threshold diagnostic companioning the Hill
    estimator (a linear mean-excess curve ⇒ generalized-Pareto tail;
    its slope's sign separates heavy from light tails). For each
    threshold u: n_exceed and E[X − u | X > u].

    Exactness: thresholds are percentile_disc-style rank picks over
    the (value, orderkey) total order (the funnel-latency device, on
    two_phase_rank's range exchange); excesses are exact cent
    differences summed as exact integers; each mean is ONE IEEE
    division snapped to 6 dp.

    Scale: one ranked pass + three rank-equality picks against a
    broadcast count; the excess aggregate is one scan with map-side
    combine per threshold."""

    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("_c"),
        "o_orderkey",
    )
    ranked = two_phase_rank(vals, ["_c", "o_orderkey"])
    n_df = F.broadcast(vals.agg(F.count("*").cast("long").alias("_n")))
    j = ranked.crossJoin(n_df)
    out = None
    for label, num, den in (("p90", 9, 10), ("p95", 19, 20), ("p99", 99, 100)):
        target = F.expr(f"(_n * {num} + {den - 1}) DIV {den}")
        # rank is a total-order position (unique), so the equality pick
        # is exactly one row; .limit(1) stamps that fact into the plan
        # so the advisor proves the crossJoin's broadcast side bounded.
        thr = F.broadcast(
            j.filter(F.col("rank") == target).select(F.col("_c").alias("_u")).limit(1)
        )
        row = (
            vals.crossJoin(thr)
            .filter(F.col("_c") > F.col("_u"))
            .groupBy("_u")
            .agg(
                F.count("*").cast("long").alias("n_exceed"),
                F.sum(F.col("_c") - F.col("_u")).cast("long").alias("_sx"),
            )
            .select(
                F.lit(label).alias("quantile"),
                (F.col("_u").cast("double") / F.lit(100.0)).alias("threshold"),
                "n_exceed",
                round_det(
                    F.col("_sx").cast("double")
                    / F.col("n_exceed").cast("double")
                    / F.lit(100.0),
                    6,
                ).alias("mean_excess"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# FULL twin of q_mean_excess_report: the funnel-latency percentile
# pick (rank = ceil(q·n) over the (cents, orderkey) total order) per
# threshold, then exact integer excess sums and one IEEE division
# per mean.
TWINS["mean_excess_report"] = """
    WITH vals AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             o_orderkey
      FROM orders),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS rank,
             count(*) OVER () AS n
      FROM vals),
    thr AS (
      SELECT q.label, r.c AS u
      FROM (VALUES ('p90', 9, 10), ('p95', 19, 20), ('p99', 99, 100))
        q(label, num, den)
      JOIN ranked r ON r.rank = (r.n * q.num + q.den - 1) // q.den)
    SELECT thr.label AS quantile,
           CAST(thr.u AS DOUBLE) / 100.0 AS threshold,
           CAST(count(*) AS BIGINT) AS n_exceed,
           floor(CAST(sum(vals.c - thr.u) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 100.0 * 1000000 + 0.5)
             / 1000000.0 AS mean_excess
    FROM vals JOIN thr ON vals.c > thr.u
    GROUP BY thr.label, thr.u
"""


def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (ε = 1) of order values per status —
    A = 1 − geomean/mean, the third member of the inequality family
    next to Gini and Theil (ε = 1 weights transfers at the bottom of
    the distribution most heavily).

    Exactness: the mean rides exact cent sums; the geometric mean
    rides the nano-nat log grid (Σ floor(ln·10⁹ + 0.5) as exact
    BIGINT), with exp's output snapped to the 1e-6 grid before use
    (the temperature_resample device — exp/ln engine deltas live
    ~10 orders below the snap). A itself is one fixed IEEE tree,
    6 dp.

    Scale: one status-keyed aggregate with map-side combine — a
    handful of groups at any corpus size."""
    orders = load_table(spark, sf_dir, "orders")
    lnano = F.floor(F.log("o_totalprice") * 1e9 + F.lit(0.5)).cast("long")
    agg = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("_n"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("_sc"),
        F.sum(lnano).cast("long").alias("_sl"),
    )
    g6 = (
        F.floor(
            F.exp(
                F.col("_sl").cast("double")
                / F.col("_n").cast("double")
                / F.lit(1e9)
            )
            * 1e6
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    mean = F.col("_sc").cast("double") / (F.col("_n") * F.lit(100)).cast("double")
    return agg.select(
        "o_orderstatus",
        F.col("_n").alias("n_orders"),
        round_det(mean, 6).alias("mean_price"),
        round_det(g6, 6).alias("geomean_price"),
        round_det(F.lit(1.0) - g6 / mean, 6).alias("atkinson_e1"),
    )


# FULL twin of q_atkinson_index: identical nano-nat log sums, the
# exp output snapped to 1e-6 BEFORE use (temperature_resample
# device), exact cent means, one IEEE tree.
TWINS["atkinson_index"] = """
    WITH agg AS (
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS sc,
             CAST(sum(CAST(floor(ln(o_totalprice) * 1000000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sl
      FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus,
           n AS n_orders,
           floor(CAST(sc AS DOUBLE) / CAST(n * 100 AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS mean_price,
           floor((floor(exp(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)
                            / 1000000000.0) * 1000000.0 + 0.5) / 1000000.0)
                 * 1000000 + 0.5) / 1000000.0 AS geomean_price,
           floor((1.0 - (floor(exp(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)
                                   / 1000000000.0) * 1000000.0 + 0.5)
                         / 1000000.0)
                       / (CAST(sc AS DOUBLE) / CAST(n * 100 AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS atkinson_e1
    FROM agg
"""


def q_activity_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table of purchase conversion by user activity — the
    classic targeting-model report (rank users by event volume, split
    into SQL-standard deciles, compare each decile's converter rate to
    the base rate): "does activity predict purchasing, and how
    concentrated is the lift?".

    Exactness: deciles come from ntile_exact over two_phase_rank's
    (−n_events, user_id) total order (bit-equal to ntile(10) OVER the
    same order — the pinned device); counts are exact; rate is one
    division and lift is the cross-ratio of INTEGER products
    (resp·g_users)/(users·g_resp) — a single IEEE division over exact
    operands, 6 dp.

    Scale: one user-keyed aggregate, the range-exchange rank, a
    ≤10-group rollup against a broadcast one-row global."""

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("_ne"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("_resp"),
    )
    ranked = two_phase_rank(
        per_user.select((-F.col("_ne")).alias("_neg"), "user_id", "_resp"),
        ["_neg", "user_id"],
    )
    g = F.broadcast(
        per_user.agg(
            F.count("*").cast("long").alias("_gu"),
            F.sum("_resp").cast("long").alias("_gr"),
        )
    )
    tiled = ranked.crossJoin(g).select(
        ntile_exact(F.col("rank"), F.col("_gu"), 10).alias("decile"),
        "_resp",
        "_gu",
        "_gr",
    )
    per_decile = tiled.groupBy("decile", "_gu", "_gr").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("_resp").cast("long").alias("n_responders"),
    )
    return per_decile.select(
        F.col("decile").cast("long").alias("decile"),
        "n_users",
        "n_responders",
        round_det(
            F.col("n_responders").cast("double") / F.col("n_users").cast("double"),
            6,
        ).alias("response_rate"),
        round_det(
            (F.col("n_responders") * F.col("_gu")).cast("double")
            / (F.col("n_users") * F.col("_gr")).cast("double"),
            6,
        ).alias("lift"),
    )


# FULL twin of q_activity_decile_lift: native ntile(10) over the
# (−n_events, user_id) total order equals ntile_exact by the pinned
# device; the lift is the integer cross-ratio with one division.
TWINS["activity_decile_lift"] = """
    WITH pu AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS ne,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS resp
      FROM events GROUP BY user_id),
    g AS (SELECT CAST(count(*) AS BIGINT) AS gu,
                 CAST(sum(resp) AS BIGINT) AS gr FROM pu),
    tiled AS (
      SELECT CAST(ntile(10) OVER (ORDER BY -ne, user_id) AS BIGINT) AS decile,
             resp
      FROM pu)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(resp) AS BIGINT) AS n_responders,
           floor(CAST(sum(resp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS response_rate,
           floor(CAST(sum(resp) * g.gu AS DOUBLE)
                 / CAST(count(*) * g.gr AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS lift
    FROM tiled CROSS JOIN g
    GROUP BY decile, g.gu, g.gr
"""
