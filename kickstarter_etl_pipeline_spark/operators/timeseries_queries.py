"""Time-series analytics query wrappers (autocorrelation, change-point
detection, Markov dynamics, forecast-error baselines, long-range
dependence). Split from stats_queries.py in round 10; determinism
contracts unchanged (exact integer/decimal sufficient statistics,
transcendentals snapped to integer nano grids before aggregation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators.ranking import two_phase_rank
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table


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
    user-keyed lag window + a ≤25-group aggregate); the iteration
    runs on the ≤25-row matrix and a ≤5-row vector — constant-size
    frames at any sf."""
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
    tm = trans.join(row_tot, "_i").localCheckpoint(eager=True)
    n_states = F.broadcast(
        tm.select("_i").distinct().agg(F.count("*").cast("long").alias("_ns"))
    )
    v = (
        tm.select(F.col("_i").alias("_state"))
        .distinct()
        .crossJoin(n_states)
        .select("_state", F.expr("CAST(1000000000 AS BIGINT) DIV _ns").alias("_v"))
        .localCheckpoint(eager=True)
    )
    for _ in range(8):
        v = (
            tm.join(v, tm["_i"] == v["_state"])
            .select(
                F.col("_j"),
                F.expr("(_v * _nij) DIV _ni").alias("_term"),
            )
            .groupBy(F.col("_j").alias("_state"))
            .agg(F.sum("_term").cast("long").alias("_v"))
            .localCheckpoint(eager=True)
        )
    return v.select(
        F.col("_state").alias("event_type"),
        (F.col("_v").cast("double") / 1e9).alias("stationary_share"),
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
