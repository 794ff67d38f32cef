"""Unit checks for the round-10 query tier, beyond the oracle parity
suite: known-answer micro-fixtures and invariants that a hash-match
against DuckDB cannot express (because both engines would share the
same bug)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.ranking import grouped_two_phase_rank, two_phase_rank


def test_fs_pattern_scores_match_their_derivation():
    """constants.FS_PATTERN_SCORES are precomputed literals; re-derive
    them from the documented (m, u) spec so a silent edit to either
    side (spec comment vs dict) fails loudly."""
    from kickstarter_etl_pipeline_spark.constants import FS_PATTERN_SCORES

    fields = [(0.9, 0.05), (0.95, 0.04), (0.9, 0.013), (0.85, 0.06)]
    ws = [(math.log2(m / u), math.log2((1 - m) / (1 - u))) for m, u in fields]
    assert len(FS_PATTERN_SCORES) == 16
    for pattern, score in FS_PATTERN_SCORES.items():
        expect = round(
            sum(ws[i][0] if b == "1" else ws[i][1] for i, b in enumerate(pattern)), 6
        )
        assert score == expect, (pattern, score, expect)
    # monotonicity sanity: full agreement beats full disagreement
    assert FS_PATTERN_SCORES["1111"] > 0 > FS_PATTERN_SCORES["0000"]


def test_kendall_tau_known_answer(spark):
    """τ-b on a hand-checked 4-point set: x = (1,2,3,4) cents,
    y = (1,2,4,3) — one discordant pair out of six, no ties →
    τ = (5 − 1)/6."""
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det

    # replicate the pair-count + tau tree on a local frame
    xy = spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 2), ("c", 3, 4), ("d", 4, 3)],
        "n_name string, _x long, _y long",
    )
    a = xy.select(F.col("n_name").alias("_na"), F.col("_x").alias("_xa"), F.col("_y").alias("_ya"))
    b = xy.select(F.col("n_name").alias("_nb"), F.col("_x").alias("_xb"), F.col("_y").alias("_yb"))
    pairs = a.join(b, F.col("_na") < F.col("_nb"))
    dx, dy = F.col("_xa") - F.col("_xb"), F.col("_ya") - F.col("_yb")
    row = pairs.agg(
        F.count("*").alias("n"),
        F.sum(((dx > 0) & (dy > 0) | (dx < 0) & (dy < 0)).cast("long")).alias("c"),
        F.sum(((dx > 0) & (dy < 0) | (dx < 0) & (dy > 0)).cast("long")).alias("d"),
    ).collect()[0]
    assert (row["n"], row["c"], row["d"]) == (6, 5, 1)


def test_markov_stationary_shares_sum_to_one(spark, sf_dir):
    """The nano-spine loses at most 1 nano-unit per (state, term) per
    iteration to floor division — shares must still sum to ~1 and all
    be positive on the fixture chain (irreducible: every event type
    follows every other somewhere)."""
    from kickstarter_etl_pipeline_spark.operators.timeseries_queries import (
        q_markov_stationary,
    )

    rows = q_markov_stationary(spark, sf_dir).collect()
    assert len(rows) == 5
    total = sum(r["stationary_share"] for r in rows)
    assert 0.999 < total <= 1.0  # floor loss only ever shrinks the mass
    assert all(r["stationary_share"] > 0 for r in rows)


def test_markov_stationary_is_a_fixpoint(spark, sf_dir):
    """The reported distribution must be (approximately) invariant
    under one more exact-probability transition step — the property
    that DEFINES stationarity, which the oracle twin (same iteration)
    cannot itself certify."""
    from kickstarter_etl_pipeline_spark.operators import events as EV
    from kickstarter_etl_pipeline_spark.operators.timeseries_queries import (
        q_markov_stationary,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table
    from pyspark.sql import Window

    v = {r["event_type"]: r["stationary_share"] for r in q_markov_stationary(spark, sf_dir).collect()}
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    steps = (
        ev.select("user_id", "event_type", "_us", "event_id")
        .withColumn("_next", F.lead("event_type").over(w))
        .filter(F.col("_next").isNotNull())
        .groupBy("event_type", "_next")
        .count()
        .collect()
    )
    from collections import defaultdict

    nij, ni = defaultdict(int), defaultdict(int)
    for r in steps:
        nij[(r["event_type"], r["_next"])] = r["count"]
        ni[r["event_type"]] += r["count"]
    stepped = defaultdict(float)
    for (i, j), n in nij.items():
        stepped[j] += v[i] * n / ni[i]
    for t in v:
        assert abs(stepped[t] - v[t]) < 1e-3, (t, stepped[t], v[t])


def test_winnowing_known_document(spark):
    """Winnowing on a hand-checked token stream: 9 tokens → 5 grams →
    2 full windows; fingerprints are window minima, deduped per doc."""
    from kickstarter_etl_pipeline_spark.operators.dedup import md5_token_hash
    from kickstarter_etl_pipeline_spark.operators import text as TX

    doc = spark.createDataFrame(
        [(1, "a b c d e f g h i")], "doc_id long, text string"
    ).withColumn("_toks", TX.tokens())
    grams = doc.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_toks) - 4), "
                "i -> named_struct('i', i, 'g', array_join(slice(_toks, i, 5), ' ')))"
            )
        ).alias("_s"),
    ).select("doc_id", F.col("_s.i").alias("_i"), md5_token_hash(F.col("_s.g")).alias("_h"))
    rows = sorted((r["_i"], r["_h"]) for r in grams.collect())
    assert [i for i, _ in rows] == [1, 2, 3, 4, 5]  # 9 tokens → 5 grams
    hashes = [h for _, h in rows]
    # full 4-windows start at positions 1 and 2
    expect = {min(hashes[0:4]), min(hashes[1:5])}
    from pyspark.sql import Window

    w4 = Window.partitionBy("doc_id").orderBy("_i").rowsBetween(0, 3)
    wins = grams.select(
        "doc_id", F.min("_h").over(w4).alias("fp"), F.count("*").over(w4).alias("c")
    ).filter(F.col("c") == 4)
    got = {r["fp"] for r in wins.collect()}
    assert got == expect


def test_psi_zero_for_identical_distributions(spark, sf_dir):
    """PSI of a distribution against itself must be exactly 0 in every
    bin (p = q ⇒ (p−q)·ln(p/q) = 0, no float subtlety survives the
    nano snap) — the calibration property drift monitors rely on."""
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "_cents", (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    ).select(F.expr("least(_cents DIV 5000000, 9)").alias("bin_id"))
    counts = orders.groupBy("bin_id").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    p = (F.col("n") + 1).cast("double") / (F.col("t") + 10).cast("double")
    term = F.floor((p - p) * F.log(p / p) * 1e9 + 0.5)
    vals = counts.crossJoin(tot).select(term.alias("z")).collect()
    assert all(r["z"] == 0 for r in vals)


def test_assortativity_bounds(spark, sf_dir):
    """Degree assortativity is a Pearson correlation — must land in
    [−1, 1]; and the endpoint-pair count must be exactly twice the
    edge count (symmetrization)."""
    from kickstarter_etl_pipeline_spark.operators.graph import cooccurrence_edges
    from kickstarter_etl_pipeline_spark.operators import events as EV
    from kickstarter_etl_pipeline_spark.operators.graph_queries import (
        q_graph_assortativity,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    row = q_graph_assortativity(spark, sf_dir).collect()[0]
    assert -1.0 <= row["assortativity"] <= 1.0
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    m = cooccurrence_edges(ev, bucket_seconds=1800).count()
    assert row["n_endpoint_pairs"] == 2 * m


def test_mann_whitney_symmetric_groups_z_zero(spark):
    """U statistic on two identical samples: U must equal n_a·n_b/2
    exactly (so z = 0, effect size 0) — replicated through the same
    group-by-value + prefix-sum tree the query uses."""

    vals = spark.createDataFrame(
        [(v, g) for v in (100, 200, 300) for g in (1, 0)], "_v long, _is_a long"
    )
    by_val = vals.groupBy("_v").agg(
        F.sum("_is_a").alias("_na"), F.sum(1 - F.col("_is_a")).alias("_nb")
    ).withColumn("_t", F.col("_na") + F.col("_nb"))
    ranked = two_phase_rank(by_val, ["_v"], cum_col="_t")
    row = ranked.agg(
        F.sum("_na").alias("na"),
        F.sum("_nb").alias("nb"),
        F.sum(F.col("_na") * (2 * (F.col("cum") - F.col("_t")) + F.col("_t") + 1)).alias("t2ra"),
    ).collect()[0]
    u = (row["t2ra"] - row["na"] * (row["na"] + 1)) / 2.0
    assert u == row["na"] * row["nb"] / 2.0


def test_transition_entropy_bounds(spark, sf_dir):
    """H(next|current) must land in [0, ln 5] (5 event types) for
    every state — the defining bound of Shannon entropy."""
    import math as _math

    from kickstarter_etl_pipeline_spark.operators.timeseries_queries import (
        q_transition_entropy,
    )

    rows = q_transition_entropy(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r["next_entropy_nats"] <= _math.log(5) + 1e-9, r


def test_hurst_exponent_plausible_range(spark, sf_dir):
    """R/S analysis on a real (finite, noisy) series must produce a
    finite H in the (0, 1) open interval — the estimator's domain;
    values outside it would mean a broken block decomposition."""
    from kickstarter_etl_pipeline_spark.operators.timeseries_queries import (
        q_hurst_exponent,
    )

    row = q_hurst_exponent(spark, sf_dir).collect()[0]
    assert 0.0 < row["hurst_exponent"] < 1.0, row


def test_winsorized_mean_between_cuts(spark, sf_dir):
    """The winsorized mean must lie within [p05, p95] for every
    status — clamping guarantees it; a mean outside the cut interval
    would mean the clamp never applied."""
    from kickstarter_etl_pipeline_spark.operators.stats_queries import (
        q_winsorized_mean_by_status,
    )

    for r in q_winsorized_mean_by_status(spark, sf_dir).collect():
        assert r["p05_price"] <= r["winsorized_mean"] <= r["p95_price"], r


def test_grouped_two_phase_rank_matches_window_rank(spark, sf_dir):
    """grouped_two_phase_rank must be bit-equal to the plain
    Window.partitionBy(group) row_number it replaces, and invariant to
    the input's partitioning (the range partitioner samples
    boundaries, so this is the property the checkpoint inside
    two_phase_rank guarantees). A NULL status is a group of its own,
    as in partitionBy — its rows must not be dropped by the offsets
    join."""
    from pyspark.sql import Window

    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderkey", "o_totalprice"
    )
    null_status = spark.createDataFrame(
        [(None, -1, 5.0), (None, -2, 1.0), (None, -3, 5.0)], orders.schema
    )
    orders = orders.unionByName(null_status)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    expect = {
        (r["o_orderkey"], r["rn"], r["n"])
        for r in orders.select(
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count("*")
            .over(Window.partitionBy("o_orderstatus"))
            .cast("long")
            .alias("n"),
        ).collect()
    }
    for parts in (3, 17):
        got = {
            (r["o_orderkey"], r["rank_in_group"], r["n_in_group"])
            for r in grouped_two_phase_rank(
                orders.repartition(parts),
                ["o_orderstatus"],
                ["o_totalprice", "o_orderkey"],
            ).collect()
        }
        assert got == expect, f"mismatch at {parts} input partitions"
