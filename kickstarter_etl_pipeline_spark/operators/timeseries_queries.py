"""Time-series analytics query wrappers (autocorrelation, change-point
detection, Markov dynamics, forecast-error baselines, long-range
dependence). Split from stats_queries.py in round 10; determinism
contracts unchanged (exact integer/decimal sufficient statistics,
transcendentals snapped to integer nano grids before aggregation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators.ranking import (
    bigint,
    collect_control,
    control_frame,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily order-revenue series at lags 1–7 —
    the weekly-seasonality diagnostic a forecasting pipeline inspects
    before choosing model terms (round 10). Classical ACF: r_k =
    Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)², pairing by CALENDAR day (a gap
    day simply contributes no pair at that offset).

    Exactness: daily revenues are exact decimal cent sums; every
    sufficient statistic (per-lag Σxy, Σx, Σy, n; global Σx, Σx², n)
    is an exact decimal(38,0) sum; x̄ and each r_k are one fixed IEEE
    tree over those exact operands, mirrored verbatim in the twin.

    Scale: one day-keyed aggregate, a 7-way explode joined day-to-day
    (uniform key), ≤7 output groups with map-side combine; the global
    stats ride one broadcast one-row frame."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("_day"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("_cents")
        )
    )
    d38 = "decimal(38,0)"
    g = F.broadcast(
        daily.agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(F.col("_cents").cast(d38)).alias("_s1"),
            F.sum(F.col("_cents").cast(d38) * F.col("_cents")).alias("_s2"),
        )
    )
    lags = daily.select(
        "_day", F.col("_cents").alias("_x"), F.explode(F.array(*[F.lit(k) for k in range(1, 8)])).alias("lag")
    ).withColumn("_tday", F.date_add(F.col("_day"), F.col("lag")))
    paired = lags.join(
        daily.select(F.col("_day").alias("_tday"), F.col("_cents").alias("_y")),
        "_tday",
    )
    per_lag = paired.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.col("_x").cast(d38)).alias("_sx"),
        F.sum(F.col("_y").cast(d38)).alias("_sy"),
        F.sum(F.col("_x").cast(d38) * F.col("_y")).alias("_sxy"),
    )
    xbar = F.col("_s1").cast("double") / F.col("_n").cast("double")
    num = (
        F.col("_sxy").cast("double")
        - xbar * (F.col("_sx") + F.col("_sy")).cast("double")
        + F.col("n_pairs").cast("double") * xbar * xbar
    )
    den = F.col("_s2").cast("double") - F.col("_n").cast("double") * xbar * xbar
    return (
        per_lag.crossJoin(g)
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_pairs",
            round_det(num / den, 6).alias("acf"),
        )
    )


# FULL twin of q_acf_daily_revenue: exact HUGEINT sufficient stats per
# lag + global, the identical IEEE tree for x̄ and r_k.
TWINS["acf_daily_revenue"] = """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(cents AS HUGEINT)) AS s1,
                 sum(CAST(cents AS HUGEINT) * cents) AS s2
          FROM daily),
    ks AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (SELECT ks.lag, d.cents AS x, e.cents AS y
              FROM daily d JOIN ks ON TRUE
              JOIN daily e ON e.day = d.day + CAST(ks.lag AS INTEGER)),
    per AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy
            FROM pairs GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           floor(((CAST(sxy AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sx + sy AS DOUBLE)
                   + CAST(n_pairs AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / (CAST(s2 AS DOUBLE)
                     - CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
                 * 1000000 + 0.5) / 1000000.0 AS acf
    FROM per, g
"""


def q_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection on the daily event-count series by
    the max-|CUSUM| rule (the first split of binary segmentation /
    the Pettitt-style statistic): S_t = Σ_{i≤t} x_i − t·x̄ and the
    change point is the day maximizing |S_t| (round 10). Reports the
    day, the statistic, and the mean daily volume before/after.

    Exactness: x_i are exact longs; the running sum rides
    two_phase_rank's exact ``cum``; S_t is one fixed IEEE tree per
    row snapped to an integer nano grid, so the argmax (and its
    smallest-day tie-break) is a total order over integers.

    Scale: the rank/prefix-sum is the range-exchange two-phase rank
    (never a single-task sort); the argmax is one one-row broadcast
    equality pick."""

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("_day")).agg(
        F.count("*").cast("long").alias("_x")
    )
    ranked = two_phase_rank(daily, ["_day"], cum_col="_x")
    g = F.broadcast(
        daily.agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_x").cast("long").alias("_total"),
        )
    )
    xbar = F.col("_total").cast("double") / F.col("_n").cast("double")
    s_t = F.col("cum").cast("double") - F.col("rank").cast("double") * xbar
    staged = (
        ranked.crossJoin(g)
        .select(
            "_day",
            "rank",
            "cum",
            "_n",
            "_total",
            F.floor(F.abs(s_t) * 1000000000 + 0.5).cast("long").alias("_nano"),
        )
        # the last day's S_t is ~0 by construction and a split there is
        # degenerate (empty "after" side)
        .filter(F.col("rank") < F.col("_n"))
    )
    best = F.broadcast(staged.agg(F.max("_nano").alias("_best")))
    pick = (
        staged.crossJoin(best)
        .filter(F.col("_nano") == F.col("_best"))
        .groupBy("_n", "_total", "_best")
        .agg(
            F.min("_day").alias("_cday"),
            F.min_by("rank", "_day").alias("_t"),
            F.min_by("cum", "_day").alias("_cum"),
        )
    )
    return pick.select(
        F.date_format("_cday", "yyyy-MM-dd").alias("changepoint_day"),
        F.col("_n").alias("n_days"),
        (F.col("_best").cast("double") / 1e9).alias("cusum_stat"),
        round_det(F.col("_cum").cast("double") / F.col("_t").cast("double"), 6).alias(
            "mean_before"
        ),
        round_det(
            (F.col("_total") - F.col("_cum")).cast("double")
            / (F.col("_n") - F.col("_t")).cast("double"),
            6,
        ).alias("mean_after"),
    )


# FULL twin of q_binseg_changepoint: same nano-snapped |CUSUM| total
# order, argmax with smallest-day tie-break, identical mean trees.
TWINS["binseg_changepoint"] = """
    WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
                   FROM events GROUP BY 1),
    ranked AS (SELECT day, x,
                      CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS r,
                      CAST(sum(x) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM daily),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS total FROM daily),
    staged AS (SELECT day, r, cum, n, total,
                      CAST(floor(abs(CAST(cum AS DOUBLE)
                                     - CAST(r AS DOUBLE)
                                       * (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))
                                 * 1000000000 + 0.5) AS BIGINT) AS nano
               FROM ranked, g
               WHERE r < n),
    best AS (SELECT max(nano) AS b FROM staged),
    pick AS (SELECT min(day) AS cday FROM staged, best WHERE nano = b)
    SELECT strftime(s.day, '%Y-%m-%d') AS changepoint_day,
           s.n AS n_days,
           CAST(s.nano AS DOUBLE) / 1000000000.0 AS cusum_stat,
           floor((CAST(s.cum AS DOUBLE) / CAST(s.r AS DOUBLE)) * 1000000 + 0.5)
             / 1000000.0 AS mean_before,
           floor((CAST(s.total - s.cum AS DOUBLE) / CAST(s.n - s.r AS DOUBLE)) * 1000000 + 0.5)
             / 1000000.0 AS mean_after
    FROM staged s, best, pick
    WHERE s.nano = best.b AND s.day = pick.cday
"""


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    (8 power-iteration rounds on the transition counts) — "where does
    a user's session settle?", the long-run engagement mix (round 10).

    Exactness: the state vector lives in integer NANO units (longs,
    start = 10⁹ DIV n_states per state — derived from the data on
    BOTH engines, the same exact integer, not a hard-coded 5-state
    assumption; r10 ADVICE) and each iterate is v'_j =
    Σ_i (v_i·n_ij) DIV n_i — per-term integer floor division then an
    exact integer sum, so the whole iteration is order-free integer
    arithmetic (the HITS nano-spine device, without even a float
    normalize). The twin replays the identical 8 unrolled rounds.

    Assumption (documented, mirrored by the twin): states are those
    WITH outgoing transitions; a sink state (an event type that only
    ever appears last in every user's stream) would receive mass that
    then leaves the system, so stationary_share sums to slightly
    under 1 per round of leakage, identically on both engines. The
    fixture chain has no sink states; per-round DIV flooring already
    leaks ≤ n_states nano-units per round by design.

    Scale: the transition matrix build is the data-sized work (one
    user-keyed lag window + a ≤25-group aggregate). The ≤25 counts are
    then collected once (bounded by ``collect_control``) and the row
    totals, the state count and the 8 rounds run on the driver with
    Python ints — a vector of ≤5 numbers needs no plan, optimize and
    schedule cycle per round. Every product and sum is checked against
    the BIGINT range (``bigint``), so an overflow still raises as the
    ANSI Spark arithmetic did."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    steps = (
        ev.select("user_id", "event_type", "_us", "event_id")
        .withColumn("_next", F.lead("event_type").over(w))
        .filter(F.col("_next").isNotNull())
    )
    trans = steps.groupBy(
        F.col("event_type").alias("_i"), F.col("_next").alias("_j")
    ).agg(F.count("*").cast("long").alias("_nij"))
    # a NULL current state never joins its row total (the twin's USING join)
    tm = [r for r in collect_control(trans) if r["_i"] is not None]
    ni = {}
    for i, _, nij in tm:
        ni[i] = bigint(ni.get(i, 0) + nij)
    v = dict.fromkeys(ni, 1_000_000_000 // len(ni)) if ni else {}
    for _ in range(8):
        nxt = {}
        for i, j, nij in tm:  # // is DIV on these non-negative ints
            if i in v:  # the join on the previous round's states
                nxt[j] = bigint(nxt.get(j, 0) + bigint(v[i] * nij) // ni[i])
        v = nxt
    return control_frame(
        spark,
        [(state, float(x) / 1e9) for state, x in v.items()],
        "event_type string, stationary_share double",
    )


# FULL twin of q_markov_stationary: identical transition counts and 8
# unrolled integer power-iteration rounds — per-term floor division
# then exact integer sums (order-free).
_MARKOV_STEP = """
    SELECT t.j AS state, CAST(sum(({v}.v * t.nij) // t.ni) AS BIGINT) AS v
    FROM t JOIN {v} ON t.i = {v}.state GROUP BY t.j
"""


TWINS["markov_stationary"] = (
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
    steps AS (SELECT event_type AS i,
                     lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS j
              FROM e),
    tm AS (SELECT i, j, CAST(count(*) AS BIGINT) AS nij
           FROM steps WHERE j IS NOT NULL GROUP BY i, j),
    rt AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni FROM tm GROUP BY i),
    t AS (SELECT tm.i, tm.j, tm.nij, rt.ni FROM tm JOIN rt USING (i)),
    ns AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n FROM t),
    v0 AS (SELECT DISTINCT i AS state, CAST(1000000000 AS BIGINT) // ns.n AS v
           FROM t, ns),
"""
    + ",\n".join(
        f"    v{k} AS ({_MARKOV_STEP.format(v=f'v{k - 1}')})" for k in range(1, 9)
    )
    + """
    SELECT state AS event_type, CAST(v AS DOUBLE) / 1000000000.0 AS stationary_share
    FROM v8
"""
)


def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy per current event type —
    H(next | current=i) = −Σ_j p_ij·ln p_ij in nats: how predictable
    each state's continuation is, the information-theoretic companion
    to the transition matrix and the Markov stationary mix (round 10).

    Exactness: p_ij is one IEEE division of exact transition counts;
    each p·ln p term is snapped to an integer NANO grid before the
    per-state sum (the theil/zipf device), so aggregation order can
    never move the result; the negated sum divides by 10⁹ and snaps
    to 6 dp.

    Scale: one user-keyed lag window (uniform), a ≤25-group
    transition aggregate with map-side combine, and a ≤5-group final
    rollup."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    steps = (
        ev.select("user_id", "event_type", "_us", "event_id")
        .withColumn("_next", F.lead("event_type").over(w))
        .filter(F.col("_next").isNotNull())
    )
    trans = steps.groupBy(
        F.col("event_type").alias("_i"), F.col("_next").alias("_j")
    ).agg(F.count("*").cast("long").alias("_nij"))
    row_tot = trans.groupBy("_i").agg(F.sum("_nij").cast("long").alias("_ni"))
    p = F.col("_nij").cast("double") / F.col("_ni").cast("double")
    nano = F.floor(p * F.log(p) * 1000000000 + 0.5).cast("long")
    return (
        trans.join(row_tot, "_i")
        .select("_i", "_ni", nano.alias("_nano"))
        .groupBy(F.col("_i").alias("event_type"), F.col("_ni").alias("n_transitions"))
        .agg(F.sum("_nano").cast("long").alias("_s"))
        .select(
            "event_type",
            "n_transitions",
            round_det(-(F.col("_s").cast("double") / 1e9), 6).alias("next_entropy_nats"),
        )
    )


# FULL twin of q_transition_entropy: p·ln p nano-snapped per cell
# before the per-state sum.
TWINS["transition_entropy"] = """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
    steps AS (SELECT event_type AS i,
                     lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS j
              FROM e),
    tm AS (SELECT i, j, CAST(count(*) AS BIGINT) AS nij
           FROM steps WHERE j IS NOT NULL GROUP BY i, j),
    rt AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni FROM tm GROUP BY i),
    per AS (SELECT tm.i, rt.ni,
                   CAST(floor((CAST(nij AS DOUBLE) / CAST(ni AS DOUBLE))
                              * ln(CAST(nij AS DOUBLE) / CAST(ni AS DOUBLE))
                              * 1000000000 + 0.5) AS BIGINT) AS nano
            FROM tm JOIN rt USING (i))
    SELECT i AS event_type, ni AS n_transitions,
           floor((-(CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1000000000.0))
                 * 1000000 + 0.5) / 1000000.0 AS next_entropy_nats
    FROM per GROUP BY i, ni
"""


def q_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline error audit on daily order revenue: the mean
    absolute error of the lag-1 naive forecast, the lag-7 seasonal
    naive, and their ratio (the MASE denominator/numerator pair,
    Hyndman & Koehler 2006) — the sanity floor every forecasting
    model must beat (round 10). Pairing is by CALENDAR day (a gap
    day contributes no pair).

    Exactness: daily revenues are exact cent sums; every |x_t − x_{t−k}|
    is an exact long; the MAEs and the ratio are fixed IEEE trees over
    exact decimal sums, snapped to 4/6 dp.

    Scale: one day-keyed aggregate and two day-to-day equi-joins on a
    uniform calendar key; final stats are a one-row reduce."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("_day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("_cents")
    )
    d38 = "decimal(38,0)"

    def _lag_mae(k: int):
        paired = daily.select(
            F.date_add("_day", k).alias("_tday"), F.col("_cents").alias("_prev")
        ).join(
            daily.select(F.col("_day").alias("_tday"), F.col("_cents").alias("_x")),
            "_tday",
        )
        return paired.agg(
            F.count("*").cast("long").alias(f"n_pairs_lag{k}"),
            F.sum(F.abs(F.col("_x") - F.col("_prev")).cast(d38)).alias(f"_sa{k}"),
        )
    one = _lag_mae(1).crossJoin(_lag_mae(7))
    mae1 = F.col("_sa1").cast("double") / F.col("n_pairs_lag1").cast("double") / 100.0
    mae7 = F.col("_sa7").cast("double") / F.col("n_pairs_lag7").cast("double") / 100.0
    return one.select(
        "n_pairs_lag1",
        "n_pairs_lag7",
        round_det(mae1, 4).alias("mae_naive1"),
        round_det(mae7, 4).alias("mae_naive7"),
        round_det(mae7 / mae1, 6).alias("seasonal_to_naive_ratio"),
    )


# FULL twin of q_mase_seasonal_naive: exact |cent| diffs by calendar
# pairing, identical MAE/ratio trees.
TWINS["mase_seasonal_naive"] = """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
    l1 AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_lag1,
                  sum(CAST(abs(b.cents - a.cents) AS HUGEINT)) AS sa1
           FROM daily a JOIN daily b ON b.day = a.day + 1),
    l7 AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_lag7,
                  sum(CAST(abs(b.cents - a.cents) AS HUGEINT)) AS sa7
           FROM daily a JOIN daily b ON b.day = a.day + 7)
    SELECT n_pairs_lag1, n_pairs_lag7,
           floor((CAST(sa1 AS DOUBLE) / CAST(n_pairs_lag1 AS DOUBLE) / 100.0)
                 * 10000 + 0.5) / 10000.0 AS mae_naive1,
           floor((CAST(sa7 AS DOUBLE) / CAST(n_pairs_lag7 AS DOUBLE) / 100.0)
                 * 10000 + 0.5) / 10000.0 AS mae_naive7,
           floor(((CAST(sa7 AS DOUBLE) / CAST(n_pairs_lag7 AS DOUBLE) / 100.0)
                  / (CAST(sa1 AS DOUBLE) / CAST(n_pairs_lag1 AS DOUBLE) / 100.0))
                 * 1000000 + 0.5) / 1000000.0 AS seasonal_to_naive_ratio
    FROM l1, l7
"""


def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily order revenue by rescaled-range (R/S)
    analysis at block scales 8/16/32/64 days — the long-range-
    dependence diagnostic (H ≈ 0.5 random walk, > 0.5 persistent)
    behind capacity planning on bursty series (round 10).

    Per scale s: split the day-indexed series into complete s-day
    blocks; per block, R = range of the demeaned prefix sums and
    S = the population standard deviation; average ln(R/S) over
    blocks; H is the OLS slope of that average against ln(s). Because
    the four ln(s) values are equally spaced in ln 2, the slope
    collapses to (−1.5·y₈ − 0.5·y₁₆ + 0.5·y₃₂ + 1.5·y₆₄)/(5·ln 2) —
    a fixed tree with one shared ln 2 literal, no per-engine
    transcendental on x.

    Exactness: day ranks and block prefix sums are exact integers
    (two_phase_rank + per-block ≤64-row windows); demeaned prefix
    values snap to a nano grid so R is an exact long range; per-block
    ln(R/S) snaps to nano before the per-scale sum. Degenerate blocks
    (zero range or zero variance) are excluded on both engines.

    Scale: the global day rank is the range exchange; block windows
    are ≤64 rows each (uniformly keyed by (scale, block)); per-scale
    sums are a 4-group aggregate; the final slope is a one-row
    pivot."""

    LN2 = 0.6931471805599453  # shared literal, mirrored in the twin
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("_day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("_x")
    )
    ranked = two_phase_rank(daily, ["_day"]).select(
        F.col("rank").alias("_t"), "_x"
    )
    n_days = F.broadcast(daily.agg(F.count("*").cast("long").alias("n_days")))
    scaled = ranked.select(
        "_t", "_x", F.explode(F.array(*[F.lit(s) for s in (8, 16, 32, 64)])).alias("_s")
    ).select(
        "_s",
        "_x",
        F.expr("(_t - 1) DIV _s").alias("_b"),
        ((F.col("_t") - 1) % F.col("_s") + 1).alias("_i"),
    )
    d38 = "decimal(38,0)"
    bstat = scaled.groupBy("_s", "_b").agg(
        F.count("*").cast("long").alias("_bn"),
        F.sum(F.col("_x").cast(d38)).alias("_bs"),
        F.sum(F.col("_x").cast(d38) * F.col("_x")).alias("_bs2"),
    )
    wb = Window.partitionBy("_s", "_b").orderBy("_i")
    pref = scaled.withColumn(
        "_cum", F.sum("_x").over(wb.rowsBetween(Window.unboundedPreceding, 0)).cast("long")
    )
    joined = pref.join(bstat, ["_s", "_b"]).filter(F.col("_bn") == F.col("_s"))
    mean = F.col("_bs").cast("double") / F.col("_s").cast("double")
    dev_nano = F.floor(
        (F.col("_cum").cast("double") - F.col("_i").cast("double") * mean)
        * 1000000000
        + 0.5
    ).cast("long")
    per_block = joined.select(
        "_s", "_b", "_bs", "_bs2", dev_nano.alias("_dev")
    ).groupBy("_s", "_b", "_bs", "_bs2").agg(
        (F.max("_dev") - F.min("_dev")).alias("_r_nano")
    )
    # greatest(·, 0.0) clamps a float-epsilon-negative variance on a
    # near-constant block: without it sqrt yields NaN, NaN > 0 is TRUE
    # under Spark comparison semantics, and the NaN would flow through
    # log/floor into an ANSI cast error instead of being dropped by
    # the _sd > 0 guard (same pattern as q_abc_xyz_matrix; r10 ADVICE).
    var = F.greatest(
        (
            F.col("_bs2").cast("double")
            - F.col("_s").cast("double")
            * (F.col("_bs").cast("double") / F.col("_s").cast("double"))
            * (F.col("_bs").cast("double") / F.col("_s").cast("double"))
        ) / F.col("_s").cast("double"),
        F.lit(0.0),
    )
    rs = (F.col("_r_nano").cast("double") / 1e9) / F.col("_sd")
    lrs_nano = F.floor(F.log(rs) * 1000000000 + 0.5).cast("long")
    per_scale = (
        per_block.filter(F.col("_r_nano") > 0)
        .select("_s", "_r_nano", F.sqrt(var).alias("_sd"))
        .filter(F.col("_sd") > 0)
        .select("_s", lrs_nano.alias("_l"))
        .groupBy("_s")
        .agg(F.count("*").cast("long").alias("_m"), F.sum("_l").cast("long").alias("_ls"))
        .select(
            "_s",
            (F.col("_ls").cast("double") / 1e9 / F.col("_m").cast("double")).alias("_y"),
        )
    )
    pivoted = per_scale.agg(
        *[
            F.max(F.when(F.col("_s") == s, F.col("_y"))).alias(f"_y{s}")
            for s in (8, 16, 32, 64)
        ]
    )
    hurst = (
        F.lit(-1.5) * F.col("_y8")
        - F.lit(0.5) * F.col("_y16")
        + F.lit(0.5) * F.col("_y32")
        + F.lit(1.5) * F.col("_y64")
    ) / (F.lit(5.0) * F.lit(LN2))
    return pivoted.crossJoin(n_days).select(
        "n_days",
        round_det(F.col("_y8"), 6).alias("mean_log_rs_8"),
        round_det(F.col("_y64"), 6).alias("mean_log_rs_64"),
        round_det(hurst, 6).alias("hurst_exponent"),
    )


# FULL twin of q_hurst_exponent: identical block decomposition, exact
# integer prefix sums, nano-snapped demeaned deviations and ln(R/S),
# the shared ln2 literal in the collapsed equal-spacing slope.
TWINS["hurst_exponent"] = """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
                   FROM orders GROUP BY 1),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
    ranked AS (SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM daily),
    scaled AS (SELECT sc.s, x, (t - 1) // sc.s AS b, (t - 1) % sc.s + 1 AS i
               FROM ranked, (VALUES (8), (16), (32), (64)) sc(s)),
    bstat AS (SELECT s, b, CAST(count(*) AS BIGINT) AS bn,
                     sum(CAST(x AS HUGEINT)) AS bs,
                     sum(CAST(x AS HUGEINT) * x) AS bs2
              FROM scaled GROUP BY s, b),
    pref AS (SELECT s, b, i,
                    CAST(sum(x) OVER (PARTITION BY s, b ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM scaled),
    dev AS (SELECT p.s, p.b, t.bs, t.bs2,
                   CAST(floor((CAST(p.cum AS DOUBLE)
                               - CAST(p.i AS DOUBLE)
                                 * (CAST(t.bs AS DOUBLE) / CAST(p.s AS DOUBLE)))
                              * 1000000000 + 0.5) AS BIGINT) AS d
            FROM pref p JOIN bstat t ON p.s = t.s AND p.b = t.b AND t.bn = p.s),
    per_block AS (SELECT s, b, bs, bs2, max(d) - min(d) AS r_nano
                  FROM dev GROUP BY s, b, bs, bs2),
    vb AS (SELECT s, r_nano,
                  greatest((CAST(bs2 AS DOUBLE)
                   - CAST(s AS DOUBLE) * (CAST(bs AS DOUBLE) / CAST(s AS DOUBLE))
                     * (CAST(bs AS DOUBLE) / CAST(s AS DOUBLE))) / CAST(s AS DOUBLE),
                   0.0) AS var
           FROM per_block
           WHERE r_nano > 0),
    lrs AS (SELECT s,
                   CAST(floor(ln((CAST(r_nano AS DOUBLE) / 1000000000.0) / sqrt(var))
                              * 1000000000 + 0.5) AS BIGINT) AS l
            FROM vb WHERE sqrt(var) > 0),
    per_scale AS (SELECT s, CAST(count(*) AS BIGINT) AS m, CAST(sum(l) AS BIGINT) AS ls
                  FROM lrs GROUP BY s),
    ys AS (SELECT s, CAST(ls AS DOUBLE) / 1000000000.0 / CAST(m AS DOUBLE) AS y
           FROM per_scale),
    piv AS (SELECT max(CASE WHEN s = 8 THEN y END) AS y8,
                   max(CASE WHEN s = 16 THEN y END) AS y16,
                   max(CASE WHEN s = 32 THEN y END) AS y32,
                   max(CASE WHEN s = 64 THEN y END) AS y64
            FROM ys)
    SELECT n_days,
           floor(y8 * 1000000 + 0.5) / 1000000.0 AS mean_log_rs_8,
           floor(y64 * 1000000 + 0.5) / 1000000.0 AS mean_log_rs_64,
           floor(((-1.5 * y8 - 0.5 * y16 + 0.5 * y32 + 1.5 * y64)
                  / (5.0 * 0.6931471805599453)) * 1000000 + 0.5) / 1000000.0
             AS hurst_exponent
    FROM piv, nd
"""


def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend, α = 0.3,
    β = 0.1) over each order priority's daily revenue series, with a
    7-step-ahead linear forecast and the in-sample one-step MAE — the
    trend-aware upgrade of the EWMA smoother (round 12; closes the
    blocker recorded at the round-9 close).

    The recurrence is DEFINED in pure integer micro-dollars with
    truncating division (α = 3/10, β = 1/10 exactly):
        pred_t = l_{t−1} + b_{t−1}
        l_t    = (3·y_t + 7·pred_t) div 10
        b_t    = ((l_t − l_{t−1}) + 9·b_{t−1}) div 10
        sae_t  = sae_{t−1} + |y_t − pred_t|
    seeded l_1 = y_1, b_1 = 0. Every state is an exact integer, so the
    sequential fold needs NO rounding grid at all — stronger than the
    EWMA/pagerank 1e-9-grid contract. What un-blocked the oracle is the
    twin's shape: the two-float state that DuckDB's struct-lambda
    ``list_reduce`` cannot carry is just two BIGINT columns of a
    recursive CTE (WITH RECURSIVE over the per-series row_number
    spine) — no lambda anywhere. Truncating division is written
    ``(a − a % 10) / 10`` through an exact decimal(38,0) divide on
    Spark and ``//`` on DuckDB; both truncate toward zero (verified:
    −7 // 2 = −3) and the subtraction makes the quotient exact either
    way. The final level/trend/forecast/MAE are single fixed IEEE
    trees over those integers, snapped to 6 dp.

    Scale: one priority-keyed aggregate (5 groups) collects each
    series in sorted order; the fold is per-row JVM expression work —
    O(days) per group, the same posture as events_ewma (window the
    series before folding at extreme lengths). No all-pairs, no
    Python."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority"), F.to_date("o_orderdate").alias("_day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 1_000_000)
        .cast("long")
        .alias("_y")
    )
    grouped = daily.groupBy("o_orderpriority").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_day", "_y"))), lambda s: s._y
        ).alias("_ys")
    )

    def _td10(a):
        # truncating integer division by 10, exact at any magnitude:
        # (a − a % 10) is divisible by 10, and the decimal(38,0)
        # divide of a divisible value is exact before the long cast.
        return ((a - a % 10).cast("decimal(38,0)") / F.lit(10)).cast("long")

    zero = F.struct(
        F.element_at(F.col("_ys"), 1).alias("l"),
        F.lit(0).cast("long").alias("b"),
        F.lit(0).cast("long").alias("sae"),
    )

    def step(acc, y):
        pred = acc.l + acc.b
        l2 = _td10(F.lit(3) * y + F.lit(7) * pred)
        b2 = _td10(l2 - acc.l + F.lit(9) * acc.b)
        return F.struct(
            l2.alias("l"), b2.alias("b"), (acc.sae + F.abs(y - pred)).alias("sae")
        )

    folded = F.aggregate(F.expr("slice(_ys, 2, size(_ys) - 1)"), zero, step)
    n = F.size("_ys").cast("long")
    # Two-stage select: materialize the fold struct ONCE. CollapseProject
    # refuses to merge the stages because _st is referenced four times
    # and the fold is non-cheap — without the barrier each output column
    # re-inlined (and re-executed) the entire O(days) fold.
    staged = grouped.select(
        "o_orderpriority", n.alias("n_days"), folded.alias("_st")
    )
    st = F.col("_st")
    return staged.select(
        "o_orderpriority",
        "n_days",
        round_det(st.l.cast("double") / F.lit(1_000_000.0), 6).alias("level"),
        round_det(st.b.cast("double") / F.lit(1_000_000.0), 6).alias("trend"),
        round_det(
            (st.l + F.lit(7) * st.b).cast("double") / F.lit(1_000_000.0), 6
        ).alias("forecast_7d"),
        round_det(
            st.sae.cast("double")
            # NULLIF-guard: a single-day series has no one-step errors;
            # bare /0.0 is NULL on Spark but NaN under DuckDB's IEEE
            # doubles — the nullif makes both engines emit NULL.
            / F.nullif(
                (F.col("n_days") - F.lit(1)).cast("double"), F.lit(0.0)
            )
            / F.lit(1_000_000.0),
            6,
        ).alias("mae_one_step"),
    )


# FULL twin of q_holt_linear_forecast: the two-BIGINT Holt state
# (level, trend) that list_reduce's struct lambda could not carry
# (the round-9 blocker) rides a recursive CTE over the per-priority
# row_number spine instead — no lambda anywhere. Pure integer
# micro-dollar arithmetic with truncating division: DuckDB `//`
# truncates toward zero exactly like the Spark side's
# (a − a % 10) / 10 decimal divide, and the subtraction makes the
# quotient exact under either rounding. l₂'s expression is repeated
# inside b₂ (a recursive SELECT cannot reference its own aliases);
# both occurrences are the same integer expression, so the repeat is
# value-identical, mirroring the Spark fold reusing the l2 Column.
TWINS["holt_linear_forecast"] = """
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000) AS BIGINT)
               AS y
      FROM orders GROUP BY 1, 2),
    ord AS MATERIALIZED (
      SELECT pri, y,
             CAST(row_number() OVER (PARTITION BY pri ORDER BY d) AS BIGINT) AS t
      FROM daily),
    nd AS MATERIALIZED (SELECT pri, max(t) AS n_days FROM ord GROUP BY pri),
    holt AS (
      SELECT pri, t, y AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
      FROM ord WHERE t = 1
      UNION ALL
      SELECT o.pri, o.t,
             (3 * o.y + 7 * (h.l + h.b)) // 10,
             ((3 * o.y + 7 * (h.l + h.b)) // 10 - h.l + 9 * h.b) // 10,
             h.sae + abs(o.y - (h.l + h.b))
      FROM holt h JOIN ord o ON o.pri = h.pri AND o.t = h.t + 1)
    SELECT h.pri AS o_orderpriority,
           nd.n_days,
           floor(CAST(h.l AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS level,
           floor(CAST(h.b AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS trend,
           floor(CAST(h.l + 7 * h.b AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS forecast_7d,
           floor(CAST(h.sae AS DOUBLE) / NULLIF(CAST(nd.n_days - 1 AS DOUBLE), 0)
                 / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS mae_one_step
    FROM holt h JOIN nd ON nd.pri = h.pri AND h.t = nd.n_days
"""


def q_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive smoothing (level + trend + weekly
    seasonality; α = 3/10, β = 1/10, γ = 1/5) over each order
    priority's daily revenue — the seasonal completion of the
    forecasting tier (naive/seasonal-naive MASE floor → EWMA → Holt →
    Holt-Winters), and the proof the recursive-CTE oracle device
    extends beyond scalar state: the DuckDB twin carries level, trend,
    SAE and SEVEN per-weekday seasonal registers as ten BIGINT columns
    of one recursive CTE, while the Spark side carries the seasonal
    vector as an array<long> field inside the aggregate() fold struct.

    Pure integer micro-dollars with truncating division throughout
    (α, β, γ are exact rationals 3/10, 1/10, 1/5):
        s      = seas[dow_t]
        pred_t = l + b + s
        l'     = (3·(y_t − s) + 7·(l + b)) div 10
        b'     = ((l' − l) + 9·b) div 10
        seas'[dow_t] = ((y_t − l') + 4·s) div 5      (others unchanged)
        sae'   = sae + |y_t − pred_t|
    seeded l₁ = y₁, b₁ = 0, seas ≡ 0. dow is pure integer epoch
    arithmetic ((epoch_days + 4) mod 7 — the traffic_seasonality
    device), NOT a calendar function. The seasonal update closes over
    the array INDEX via a two-argument transform lambda (index is the
    second argument — the r5 MinHash lesson, used deliberately here).

    Scale: identical posture to holt_linear_forecast — one 5-group
    collect, O(days) JVM fold per series, fold struct materialized
    once behind the CollapseProject barrier."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority"), F.to_date("o_orderdate").alias("_day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 1_000_000)
        .cast("long")
        .alias("_y")
    )
    grouped = daily.groupBy("o_orderpriority").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_date("_day").cast("long").alias("_d"), F.col("_y")
                    )
                )
            ),
            lambda s: F.struct(
                s._y.alias("y"), ((s._d + 4) % 7).cast("int").alias("dow")
            ),
        ).alias("_xs")
    )

    def _tdiv(a, k: int):
        # truncating integer division, exact at any magnitude (see
        # q_holt_linear_forecast).
        return ((a - a % k).cast("decimal(38,0)") / F.lit(k)).cast("long")

    zeros7 = F.array(*[F.lit(0).cast("long") for _ in range(7)])
    zero = F.struct(
        F.element_at(F.col("_xs"), 1).y.alias("l"),
        F.lit(0).cast("long").alias("b"),
        F.lit(0).cast("long").alias("sae"),
        zeros7.alias("s"),
    )

    def step(acc, x):
        sd = F.element_at(acc.s, x.dow + F.lit(1))
        pred = acc.l + acc.b + sd
        l2 = _tdiv(F.lit(3) * (x.y - sd) + F.lit(7) * (acc.l + acc.b), 10)
        b2 = _tdiv(l2 - acc.l + F.lit(9) * acc.b, 10)
        snew = F.transform(
            acc.s,
            lambda v, i: F.when(
                i == x.dow, _tdiv(x.y - l2 + F.lit(4) * v, 5)
            ).otherwise(v),
        )
        return F.struct(
            l2.alias("l"),
            b2.alias("b"),
            (acc.sae + F.abs(x.y - pred)).alias("sae"),
            snew.alias("s"),
        )

    folded = F.aggregate(F.expr("slice(_xs, 2, size(_xs) - 1)"), zero, step)
    n = F.size("_xs").cast("long")
    staged = grouped.select(
        "o_orderpriority", n.alias("n_days"), folded.alias("_st")
    )
    st = F.col("_st")
    return staged.select(
        "o_orderpriority",
        "n_days",
        round_det(st.l.cast("double") / F.lit(1_000_000.0), 6).alias("level"),
        round_det(st.b.cast("double") / F.lit(1_000_000.0), 6).alias("trend"),
        round_det(
            F.array_max(st.s).cast("double") / F.lit(1_000_000.0), 6
        ).alias("season_peak"),
        round_det(
            F.array_min(st.s).cast("double") / F.lit(1_000_000.0), 6
        ).alias("season_trough"),
        round_det(
            st.sae.cast("double")
            # NULLIF-guard: a single-day series has no one-step errors;
            # bare /0.0 is NULL on Spark but NaN under DuckDB's IEEE
            # doubles — the nullif makes both engines emit NULL.
            / F.nullif(
                (F.col("n_days") - F.lit(1)).cast("double"), F.lit(0.0)
            )
            / F.lit(1_000_000.0),
            6,
        ).alias("mae_one_step"),
    )


# FULL twin of q_holt_winters_forecast: the recursive-CTE state spine
# generalized to VECTOR state — level, trend, SAE and the seven
# per-weekday seasonal registers ride as ten BIGINT columns. Every
# occurrence of s_active / l2 below is the same integer expression
# repeated (a recursive SELECT cannot reference its own aliases), so
# the repeats are value-identical to the Spark fold reusing the
# Columns. dow is pure epoch arithmetic ((days-since-1970 + 4) % 7,
# the traffic_seasonality device). Truncating `//` mirrors the Spark
# side's (a − a % k) decimal divide exactly (both toward zero; exact
# either way after the remainder subtraction).
def _holt_winters_oracle_sql() -> str:
    s_active = "CASE " + " ".join(
        f"WHEN o.dow = {k} THEN h.s{k}" for k in range(7)
    ) + " END"
    l2 = f"(3 * (o.y - ({s_active})) + 7 * (h.l + h.b)) // 10"
    b2 = f"(({l2}) - h.l + 9 * h.b) // 10"
    sae2 = f"h.sae + abs(o.y - (h.l + h.b + ({s_active})))"
    seas = ",\n             ".join(
        f"CASE WHEN o.dow = {k} THEN (o.y - ({l2}) + 4 * h.s{k}) // 5 "
        f"ELSE h.s{k} END"
        for k in range(7)
    )
    zeros = ", ".join(f"CAST(0 AS BIGINT) AS s{k}" for k in range(7))
    s_cols = ", ".join(f"s{k}" for k in range(7))
    peak = "greatest(" + ", ".join(f"h.s{k}" for k in range(7)) + ")"
    trough = "least(" + ", ".join(f"h.s{k}" for k in range(7)) + ")"
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000) AS BIGINT)
               AS y
      FROM orders GROUP BY 1, 2),
    ord AS MATERIALIZED (
      SELECT pri, y,
             (CAST(d - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow,
             CAST(row_number() OVER (PARTITION BY pri ORDER BY d) AS BIGINT) AS t
      FROM daily),
    nd AS MATERIALIZED (SELECT pri, max(t) AS n_days FROM ord GROUP BY pri),
    hw AS (
      SELECT pri, t, y AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae,
             {zeros}
      FROM ord WHERE t = 1
      UNION ALL
      SELECT o.pri, o.t,
             {l2},
             {b2},
             {sae2},
             {seas}
      FROM hw h JOIN ord o ON o.pri = h.pri AND o.t = h.t + 1)
    SELECT h.pri AS o_orderpriority,
           nd.n_days,
           floor(CAST(h.l AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS level,
           floor(CAST(h.b AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS trend,
           floor(CAST({peak} AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS season_peak,
           floor(CAST({trough} AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS season_trough,
           floor(CAST(h.sae AS DOUBLE) / NULLIF(CAST(nd.n_days - 1 AS DOUBLE), 0)
                 / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS mae_one_step
    FROM hw h JOIN nd ON nd.pri = h.pri AND h.t = nd.n_days
"""


TWINS["holt_winters_forecast"] = _holt_winters_oracle_sql()


def q_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (Croston 1972; α = 1/5) for INTERMITTENT demand
    — the sparse-series companion to Holt: per part, two exponential
    registers over the demand-day sequence only (smoothed demand size
    z and smoothed inter-demand interval p, in days), with the demand
    rate ẑ/p̂ as the per-period forecast. Five parts are chosen by the
    engine-portable (md5(key-as-string), key) order — TPC-H part
    demand is genuinely intermittent (~30 demand days over ~2,400
    days at sf0.01).

    Pure integer micro-units with truncating division (α = 1/5
    exactly): z' = (y + 4z) div 5, p' = (gap·10⁶ + 4p) div 5, seeded
    z₁ = y₁, p₁ = 10⁶ (one day), with the previous demand day carried
    in the fold state for the gap. The DuckDB twin is the device-9
    recursive CTE with (z, p, dprev) as BIGINT columns. The final
    size/interval/rate are single IEEE divisions, snapped to 6 dp.

    Scale: the pivot filter broadcasts 5 keys into the lineitem scan;
    one (part, day)-keyed aggregate; one 5-group collect of
    calendar-bounded demand-day lists; O(demand days) JVM fold."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    piv = F.broadcast(
        part.select(F.col("p_partkey"))
        .orderBy(F.md5(F.col("p_partkey").cast("string")), F.col("p_partkey"))
        .limit(5)
    )
    daily = (
        li.join(piv, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", F.to_date("l_shipdate").alias("_day"))
        .agg(
            (F.sum(F.col("l_quantity").cast("decimal(15,2)")) * 1_000_000)
            .cast("long")
            .alias("_y")
        )
    )
    grouped = daily.groupBy("l_partkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.unix_date("_day").cast("long").alias("d"), F.col("_y").alias("y"))
            )
        ).alias("_xs")
    )

    def _td5(a):
        return ((a - a % 5).cast("decimal(38,0)") / F.lit(5)).cast("long")

    first = F.element_at(F.col("_xs"), 1)
    zero = F.struct(
        first.y.alias("z"),
        F.lit(1_000_000).cast("long").alias("p"),
        first.d.alias("dprev"),
    )

    def step(acc, x):
        return F.struct(
            _td5(x.y + F.lit(4) * acc.z).alias("z"),
            _td5((x.d - acc.dprev) * F.lit(1_000_000) + F.lit(4) * acc.p).alias("p"),
            x.d.alias("dprev"),
        )

    folded = F.aggregate(F.expr("slice(_xs, 2, size(_xs) - 1)"), zero, step)
    staged = grouped.select(
        F.col("l_partkey").alias("p_partkey"),
        F.size("_xs").cast("long").alias("n_demand_days"),
        folded.alias("_st"),
    )
    st = F.col("_st")
    return staged.select(
        "p_partkey",
        "n_demand_days",
        round_det(st.z.cast("double") / F.lit(1_000_000.0), 6).alias("smoothed_demand"),
        round_det(st.p.cast("double") / F.lit(1_000_000.0), 6).alias(
            "smoothed_interval_days"
        ),
        round_det(st.z.cast("double") / st.p.cast("double"), 6).alias(
            "demand_rate_per_day"
        ),
    )


# FULL twin of q_croston_forecast: device-9 recursive CTE with the
# (z, p, dprev) Croston state as BIGINT columns over the per-part
# demand-day row_number spine; the pivot parts are the 5 smallest by
# (md5(key-as-string), key). α = 1/5 exactly; `//` truncation mirrors
# the Spark decimal divide; gaps are integer epoch-day differences.
TWINS["croston_forecast"] = """
    WITH RECURSIVE piv AS MATERIALIZED (
      SELECT p_partkey FROM part
      ORDER BY md5(CAST(p_partkey AS VARCHAR)), p_partkey LIMIT 5),
    daily AS MATERIALIZED (
      SELECT l_partkey AS k,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) * 1000000) AS BIGINT)
               AS y
      FROM lineitem JOIN piv ON l_partkey = p_partkey
      GROUP BY 1, 2),
    ord AS MATERIALIZED (
      SELECT k, d, y,
             CAST(row_number() OVER (PARTITION BY k ORDER BY d) AS BIGINT) AS t
      FROM daily),
    nd AS MATERIALIZED (SELECT k, max(t) AS n FROM ord GROUP BY k),
    cr AS (
      SELECT k, t, y AS z, CAST(1000000 AS BIGINT) AS p, d AS dprev
      FROM ord WHERE t = 1
      UNION ALL
      SELECT o.k, o.t,
             (o.y + 4 * h.z) // 5,
             ((o.d - h.dprev) * 1000000 + 4 * h.p) // 5,
             o.d
      FROM cr h JOIN ord o ON o.k = h.k AND o.t = h.t + 1)
    SELECT h.k AS p_partkey,
           nd.n AS n_demand_days,
           floor(CAST(h.z AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS smoothed_demand,
           floor(CAST(h.p AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS smoothed_interval_days,
           floor(CAST(h.z AS DOUBLE) / CAST(h.p AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS demand_rate_per_day
    FROM cr h JOIN nd ON nd.k = h.k AND h.t = nd.n
"""


def q_weekday_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition, weekday component —
    the descriptive counterpart of Holt-Winters' recursive registers:
    detrend daily order revenue with the CENTERED 7-day moving average
    (only complete windows — all 7 calendar neighbors present), then
    average the detrended series per weekday. The textbook first stage
    of STL (Cleveland et al. 1990) restricted to the seasonal index.

    Exactness: daily revenues are exact cent sums; the detrended value
    rides as the INTEGER 7·x_t − Σ_{−3..+3} x (no division inside the
    aggregate), so the per-weekday mean is ONE fixed IEEE tree over an
    exact integer sum: Σ detr7 / (n·700) dollars, snapped to 6 dp.
    dow is epoch arithmetic ((epoch_days + 4) mod 7), not a calendar
    function.

    Scale: one day-keyed aggregate, a 7-way explode joined
    day-to-day on the uniform calendar key (the acf_daily_revenue
    pattern), ≤ 7 output groups with map-side combine."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("_day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("_cents")
    )
    offs = daily.select(
        "_day",
        F.explode(F.array(*[F.lit(k) for k in range(-3, 4)])).alias("_off"),
    ).withColumn("_nday", F.expr("date_add(_day, _off)"))
    windows = (
        offs.join(
            daily.select(F.col("_day").alias("_nday"), F.col("_cents").alias("_x")),
            "_nday",
        )
        .groupBy("_day")
        .agg(F.count("*").cast("long").alias("_k"), F.sum("_x").cast("long").alias("_s7"))
        .filter(F.col("_k") == 7)
    )
    centered = windows.join(daily, "_day").select(
        ((F.unix_date("_day").cast("long") + 4) % 7).cast("int").alias("dow"),
        (F.lit(7) * F.col("_cents") - F.col("_s7")).alias("_detr7"),
    )
    return centered.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_windows"),
        round_det(
            F.sum("_detr7").cast("double") / (F.count("*") * F.lit(700)).cast("double"),
            6,
        ).alias("seasonal_effect"),
    )


# FULL twin of q_weekday_seasonal_decomposition: calendar-paired
# centered 7-day windows (complete windows only), detrended values
# carried as the INTEGER 7·x − Σ7, one IEEE division per weekday.
# DATE + BIGINT is not a DuckDB function — the offset is cast to
# INTEGER (the acf_daily_revenue lesson).
TWINS["weekday_seasonal_decomposition"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    offs AS (
      SELECT d, d + CAST(r.o AS INTEGER) AS nd
      FROM daily, unnest(range(-3, 4)) AS r(o)),
    win AS (
      SELECT offs.d, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n.cents) AS BIGINT) AS s7
      FROM offs JOIN daily n ON n.d = offs.nd
      GROUP BY offs.d HAVING count(*) = 7),
    centered AS (
      SELECT (CAST(w.d - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow,
             7 * daily.cents - w.s7 AS detr7
      FROM win w JOIN daily ON daily.d = w.d)
    SELECT CAST(dow AS INTEGER) AS dow,
           CAST(count(*) AS BIGINT) AS n_windows,
           floor(CAST(sum(detr7) AS DOUBLE) / CAST(count(*) * 700 AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS seasonal_effect
    FROM centered GROUP BY dow
"""
