"""Unit tests for the round-7 LM-data operators (query-level oracle
parity is covered by test_oracle_parity's automatic parametrization —
these pin the operator-level invariants on handcrafted frames)."""

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.ranking import ntile_exact, two_phase_rank


def test_scalable_rank_matches_plain_row_number(spark, sf_dir):
    """The two-phase rank must be bit-identical to a single global
    row_number over the same total order — including under the skew
    of the real fixture distribution."""
    from pyspark.sql import Window
    from kickstarter_etl_pipeline_spark.operators.lm_queries import (
        q_scalable_rank_events,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    two_phase = q_scalable_rank_events(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    plain = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.asc("n"), F.asc("user_id")))
            .cast("long"),
        )
    )
    assert sorted(two_phase.collect()) == sorted(plain.collect())


def test_pq_every_vector_gets_m_codes(spark, sf_dir):
    """The PQ code assignment must produce exactly one code per
    (vector, subspace) — a missing or duplicated code silently corrupts
    every downstream ADC distance."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_ann_pq_topk

    # the query's output is rank-limited; probe the invariant through
    # the result shape instead: every query must have exactly 5 ranked
    # neighbors, ranks 1..5, none equal to the query itself
    out = q_ann_pq_topk(spark, sf_dir).collect()
    by_q = {}
    for row in out:
        by_q.setdefault(row["query_id"], []).append(row)
    for qid, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5], qid
        assert all(r["vec_id"] != qid for r in rows), qid
        dists = [r["adc_d9"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert dists == sorted(dists), f"{qid}: ADC not ascending"


def test_touch_attribution_handcrafted(spark):
    """A purchase with no prior events attributes to '(none)'; first
    and last touch disagree when the path has >1 distinct channel."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_touch_attribution
    import os
    import tempfile

    rows = [
        # user 1: view -> click -> purchase  (first=view, last=click)
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:01:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 10:02:00", 1, "purchase", 9.0, "{}"),
        # user 2: purchase with no history -> (none)
        (4, "2024-01-01 11:00:00", 2, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        out = {r["channel"]: r for r in q_touch_attribution(spark, tmp).collect()}
    assert out["view"]["n_first_touch"] == 1 and out["view"]["n_last_touch"] == 0
    assert out["click"]["n_first_touch"] == 0 and out["click"]["n_last_touch"] == 1
    assert out["(none)"]["n_first_touch"] == 1 and out["(none)"]["n_last_touch"] == 1


def test_kneser_ney_rows_and_bounds(spark, sf_dir):
    """KN probabilities are proper probabilities: in (0, 1], and the
    discounted main term never exceeds the raw MLE ratio."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_kneser_ney_bigrams

    rows = q_kneser_ney_bigrams(spark, sf_dir).collect()
    assert rows, "top-50 bigram table must be non-empty"
    for r in rows:
        assert 0.0 < r["p_kn"] <= 1.0, r
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))


def test_novelty_first_doc_is_fully_novel(spark):
    """The corpus's first document scores novelty 1.0; an exact copy
    later scores 0.0; a doc shorter than 8 tokens reports NULL ratio."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_ngram_novelty_curve
    import os
    import tempfile

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, text, "en", "srcA", len(text)),
        (2, text, "en", "srcA", len(text)),  # exact copy -> 0 novelty
        (3, "too short", "en", "srcA", 9),  # < 8 tokens -> NULL ratio
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = {r["doc_id"]: r for r in q_ngram_novelty_curve(spark, tmp).collect()}
    assert out[1]["novelty_ratio"] == 1.0
    assert out[2]["novelty_ratio"] == 0.0
    assert out[3]["n_positions"] == 0 and out[3]["novelty_ratio"] is None


def test_temperature_resample_flattens(spark, sf_dir):
    """τ < 1 must flatten the distribution: the max source share can
    only shrink, the min can only grow (relative ordering preserved)."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import (
        q_temperature_resample,
    )

    rows = q_temperature_resample(spark, sf_dir).collect()
    assert rows
    max_row = max(rows, key=lambda r: r["corpus_share"])
    min_row = min(rows, key=lambda r: r["corpus_share"])
    assert max_row["resample_share"] <= max_row["corpus_share"] + 1e-9
    assert min_row["resample_share"] >= min_row["corpus_share"] - 1e-9
    total = sum(r["resample_share"] for r in rows)
    assert abs(total - 1.0) < 1e-3  # 6-dp grid rounding slack


def test_two_phase_rank_preserves_caller_columns(spark):
    """A caller whose frame already carries columns named like the
    helper's working columns must get them back untouched (the
    bloom_prefilter collision device; r7 self-review finding)."""

    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        F.col("id").alias("_pid"),
        (F.col("id") * 2).alias("_lrank"),
        (F.col("id") * 3).alias("_roff"),
    )
    out = two_phase_rank(df, ["v", "k"])
    assert set(out.columns) == {"k", "v", "_pid", "_lrank", "_roff", "rank"}
    row = out.filter(F.col("k") == 10).collect()[0]
    assert (row["_pid"], row["_lrank"], row["_roff"]) == (10, 20, 30)
    # and the rank is still the true global rank over (v, k)
    ranks = [r["rank"] for r in out.orderBy("v", "k").collect()]
    assert ranks == list(range(1, 101))


def test_daily_trend_single_day_type_yields_null_slope(spark):
    """A type seen on only one day has no defined OLS slope: NULL, not
    an ANSI DIVIDE_BY_ZERO crash (r7 self-review finding)."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_daily_trend_by_type
    import os
    import tempfile

    rows = [
        (1, "2024-01-01 10:00:00", 1, "solo", 1.0, "{}"),
        (2, "2024-01-01 11:00:00", 1, "solo", 1.0, "{}"),
        (3, "2024-01-01 10:00:00", 1, "pair", 1.0, "{}"),
        (4, "2024-01-02 10:00:00", 1, "pair", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        out = {r["event_type"]: r for r in q_daily_trend_by_type(spark, tmp).collect()}
    assert out["solo"]["slope_per_day"] is None
    assert out["pair"]["slope_per_day"] == 0.0  # 1 event both days


def test_rake_handcrafted_scores(spark):
    """Classic RAKE check: 'deep learning of the deep networks' splits
    on the stopwords into two 2-word phrases; deg(deep)=4 freq=2,
    deg(learning)=deg(networks)=2 freq=1 → both phrases score 4.0."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_rake_keywords
    import os
    import tempfile

    rows = [(1, "deep learning of the deep networks", "en", "srcA", 34)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = {r["phrase"]: r for r in q_rake_keywords(spark, tmp).collect()}
    assert set(out) == {"deep learning", "deep networks"}
    for r in out.values():
        assert r["n_words"] == 2 and r["rake_score"] == 4.0


def test_benford_reports_absent_digits(spark):
    """A digit with zero observations must still appear with its full
    chi-square contribution (0 − n·p)²/(n·p) = n·p — omitting it lets
    a non-Benford distribution under-report total chi² (r7 second
    self-review finding, mirrored in the oracle so MATCH grading alone
    could not catch it)."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_benford_price_audit
    import os
    import tempfile

    # every total starts with 1 -> digits 2..9 all absent
    rows = [(i, 100 + i, "O", 1000.0 + i, "1996-01-01", "1-URGENT", "c", 0, "x")
            for i in range(20)]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate string, o_orderpriority string, o_clerk string,"
        " o_shippriority int, o_comment string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "orders.parquet"))
        out = {r["digit"]: r for r in q_benford_price_audit(spark, tmp).collect()}
    assert set(out) == set(range(1, 10))
    assert out[9]["n_obs"] == 0
    # absent digit's contribution = n*p9 = 20 * 0.04575749... = 0.915150
    assert out[9]["chi2_contrib"] == 0.91515
    total_chi2 = sum(r["chi2_contrib"] for r in out.values())
    assert total_chi2 > 15.51  # all-ones is decisively non-Benford


def test_interval_overlap_handcrafted(spark):
    """Three users: A and B overlap for 10 min; C is disjoint. The pair
    must appear exactly once (canonical-bucket dedup) even though the
    sessions share several 30-min buckets."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import (
        q_session_interval_overlap,
    )
    import os
    import tempfile

    rows = [
        # user 1: one session 10:00-11:00 (events every 20 min)
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:20:00", 1, "view", 1.0, "{}"),
        (3, "2024-01-01 10:40:00", 1, "view", 1.0, "{}"),
        (4, "2024-01-01 11:00:00", 1, "view", 1.0, "{}"),
        # user 2: one session 10:50-11:30 -> overlaps user 1 by 10 min
        (5, "2024-01-01 10:50:00", 2, "click", 1.0, "{}"),
        (6, "2024-01-01 11:10:00", 2, "click", 1.0, "{}"),
        (7, "2024-01-01 11:30:00", 2, "click", 1.0, "{}"),
        # user 3: disjoint session in the evening
        (8, "2024-01-01 20:00:00", 3, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        out = q_session_interval_overlap(spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["user_a"], r["user_b"]) == (1, 2)
    assert r["overlap_us"] == 10 * 60 * 1_000_000


def test_token_coverage_smaller_vocab_than_k(spark):
    """A corpus with fewer than 25 distinct tokens emits one row per
    token and the final cumulative share is exactly 1.0."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_token_coverage_topk
    import os
    import tempfile

    rows = [(1, "aa bb aa cc aa bb", "en", "s", 17)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        out = sorted(q_token_coverage_topk(spark, tmp).collect(), key=lambda r: r["rank"])
    assert [r["token"] for r in out] == ["aa", "bb", "cc"]
    assert out[-1]["cum_share"] == 1.0
    assert out[0]["cum_occurrences"] == 3 and out[-1]["cum_occurrences"] == 6


def test_ntile_exact_matches_ntile_all_remainders(spark):
    """ntile_exact must reproduce SQL-standard ntile(k) for EVERY
    n % k — the equal-width floor formula silently diverges at e.g.
    n=6 rank 4 (tile 2 vs 3), which is exactly the bug class this
    helper exists to avoid. k=4 sweeps every remainder exhaustively;
    k=100 covers the price_percentile_bands configuration at n values
    spanning n < k, n % 100 ∉ {0, 99}, and the fixture-like n % 100
    == 0 case (the sf0.01 orders count is a multiple of 100, so the
    driver grade alone could never catch a remainder-rule bug)."""
    from pyspark.sql import Window

    for k, ns in ((4, range(1, 14)), (100, (7, 100, 101, 137, 250, 300, 523))):
        rows = [(n, r) for n in ns for r in range(1, n + 1)]
        df = spark.createDataFrame(rows, "n long, rank long")
        w = Window.partitionBy("n").orderBy("rank")
        got = df.select(
            "n",
            "rank",
            ntile_exact(F.col("rank"), F.col("n"), k).alias("arith"),
            F.ntile(k).over(w).cast("int").alias("builtin"),
        ).collect()
        bad = [(k, r["n"], r["rank"], r["arith"], r["builtin"])
               for r in got if r["arith"] != r["builtin"]]
        assert not bad, bad[:10]
