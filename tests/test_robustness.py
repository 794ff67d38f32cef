"""Edge-case robustness: degenerate vectors, empty inputs, unicode text.

All under ANSI mode (Spark 4 default) — the sweep that caught the
zero-norm DIVIDE_BY_ZERO in cosine scoring.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from kickstarter_etl_pipeline_spark.operators.dedup import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    with_simhash,
)
from kickstarter_etl_pipeline_spark.operators.events import sessionize, tumbling_agg
from kickstarter_etl_pipeline_spark.operators.joins import asof_join_backward
from kickstarter_etl_pipeline_spark.operators.ranking import two_phase_rank
from kickstarter_etl_pipeline_spark.operators.similarity import brute_force_topk
from kickstarter_etl_pipeline_spark.operators.text import rolling_hash, with_lang_id, with_text_stats


def test_parquet_schema_evolution(spark, tmp_path):
    """Columns added over a table's lifetime: mergeSchema surfaces the
    union schema, old files read the new column as NULL, and writes
    made without the column stay valid."""
    from kickstarter_etl_pipeline_spark.sources.readers import read_parquet_evolved

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).write.parquet(path)
    spark.createDataFrame([(3, "c", 30)], ["k", "v", "extra"]).write.mode("append").parquet(path)
    got = {r["k"]: (r["v"], r["extra"]) for r in read_parquet_evolved(spark, path).collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}


def test_zero_norm_vector_yields_null_not_error(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5])], ["vec_id", "embedding"]
    )
    rows = brute_force_topk(vecs, vecs, k=2).collect()
    sims = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in rows}
    assert sims[(1, 2)] is None  # degenerate → NULL, ranked last, no crash
    assert sims[(1, 3)] is not None


def test_empty_events(spark):
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert sessionize(empty).count() == 0
    assert tumbling_agg(empty).count() == 0


def test_unicode_and_degenerate_docs(spark):
    docs = spark.createDataFrame(
        [(1, "héllo wörld 🌍 日本語のテキスト"), (2, ""), (3, "   "), (4, "a")],
        ["doc_id", "text"],
    )
    assert with_text_stats(docs).count() == 4
    langs = {r["doc_id"]: r["lang_pred"] for r in with_lang_id(docs).collect()}
    assert langs[1] == "zh"  # CJK presence wins
    assert langs[2] == "und" and langs[3] == "und"
    assert docs.select(rolling_hash("text")).count() == 4
    # sub-n-token docs produce no shingles → no pairs, no ANSI index errors
    assert ngram_jaccard_pairs(docs).count() == 0
    assert minhash_dedup_pairs(docs).count() == 0
    assert with_simhash(docs).count() == 4


def test_asof_with_no_right_rows(spark):
    ev = (
        spark.createDataFrame([(1, 10)], ["event_id", "sec"])
        .withColumn("ts", F.timestamp_seconds("sec"))
        .withColumn("user_id", F.lit(1))
        .withColumn("value", F.lit(1.0))
    )
    out = asof_join_backward(
        ev, ev.filter(F.lit(False)), "user_id", "ts", "ts", ["value"], "event_id", "event_id"
    ).collect()
    assert len(out) == 1 and out[0]["asof_right_id"] is None


def test_asof_null_value_rides_with_its_own_row(spark):
    """A right row whose VALUE column is NULL must still win the as-of
    match as a unit: asof_right_id points at it AND asof_value is NULL.
    With independent per-column last(ignorenulls) carries (the pre-r9
    implementation), the value would be carried from a DIFFERENT right
    row than the id — backward would resurrect an older row's value,
    forward a later row's — desynchronizing the output from the per-row
    argmin any SQL twin computes (round-8 ADVICE finding)."""
    from kickstarter_etl_pipeline_spark.operators.joins import asof_join_forward

    def ev(rows):
        return (
            spark.createDataFrame(rows, ["event_id", "sec", "value"])
            .withColumn("ts", F.timestamp_seconds("sec"))
            .withColumn("user_id", F.lit(1))
        )

    left = ev([(100, 50, 0.0)])
    # backward: nearest prior right row (id=2, ts=40) has NULL value;
    # an older row (id=1, ts=30) has a non-null value that must NOT leak.
    right_b = ev([(1, 30, 7.0), (2, 40, None)])
    out = asof_join_backward(
        left, right_b, "user_id", "ts", "ts", ["value"], "event_id", "event_id"
    ).collect()[0]
    assert out["asof_right_id"] == 2 and out["asof_value"] is None
    # forward: nearest following right row (id=3, ts=60) has NULL value;
    # a later row (id=4, ts=70) has a non-null value that must NOT leak.
    right_f = ev([(3, 60, None), (4, 70, 9.0)])
    out = asof_join_forward(
        left, right_f, "user_id", "ts", "ts", ["value"], "event_id", "event_id"
    ).collect()[0]
    assert out["asof_right_id"] == 3 and out["asof_value"] is None


def test_quality_checks_catch_seeded_violations(spark):
    """The DQ checks must COUNT violations, not just pass on clean data:
    seed duplicates, nulls, and orphans and assert exact counts."""
    from kickstarter_etl_pipeline_spark.operators.quality import (
        count_nulls,
        duplicate_key_count,
        orphan_count,
    )

    fact = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b"), (2, None, "c"), (3, 99, "d")],
        ["id", "fk", "v"],
    )
    dim = spark.createDataFrame([(10,), (20,)], ["k"])
    assert fact.agg(count_nulls(fact, ["fk"]).alias("n")).collect()[0]["n"] == 1
    assert duplicate_key_count(fact, ["id"]).collect()[0]["n_duplicate_keys"] == 1
    # id=3 -> fk 99 has no dim match; the NULL fk is not an orphan
    assert orphan_count(fact, dim, "fk", "k").collect()[0]["n_orphans"] == 1


def test_plan_summary_reports_scale_facts(spark, sf_dir):
    """plan_summary must surface pushdown, broadcast, and codegen facts
    a pipeline can assert on at runtime."""
    from kickstarter_etl_pipeline_spark.plans.inspect import plan_summary
    from kickstarter_etl_pipeline_spark.qdefs_star_events import (
        q_fact_star,
        q_project_rename_filter,
    )

    s = plan_summary(q_project_rename_filter(spark, sf_dir))
    assert s["n_scans"] == 1 and s["whole_stage_codegen"]
    assert any("c_acctbal" in f for f in s["pushed_filters"])
    assert "c_name" in s["read_columns"] and "c_comment" not in s["read_columns"]
    s2 = plan_summary(q_fact_star(spark, sf_dir))
    assert s2["n_broadcast_joins"] >= 3 and not s2["has_cartesian"]


def test_ignore_corrupt_files(spark, tmp_path):
    """Bit rot happens at 100 TB: the resilient reader skips the damaged
    file (per-read option, no session-conf mutation) and returns every
    readable row, while the strict default reader still fails loudly —
    both contracts matter."""
    import os

    import pytest

    from kickstarter_etl_pipeline_spark.sources.readers import read_parquet_resilient

    path = str(tmp_path / "rotten")
    spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["k", "v"]).coalesce(
        2
    ).write.parquet(path)
    with open(os.path.join(path, "zz-corrupt.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet file")
    assert read_parquet_resilient(spark, path).count() == 100
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        spark.read.parquet(path).count()


def test_curation_ops_on_degenerate_docs(spark):
    """pii_scrub / oov_rate / unigram_surprisal must survive empty,
    whitespace-only, null, and unicode text without errors, and null
    text must map to null outputs (not crashes, not fabricated rows)."""
    from kickstarter_etl_pipeline_spark.operators.text import (
        oov_rate,
        pii_scrub,
        unigram_surprisal,
    )

    docs = spark.createDataFrame(
        [
            (1, "héllo wörld 🌍 mail me x@y.io"),
            (2, ""),
            (3, "   "),
            (4, None),
            (5, "plain words only"),
        ],
        ["doc_id", "text"],
    )
    scrubbed = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert len(scrubbed) == 5
    assert scrubbed[1]["n_emails"] == 1
    assert scrubbed[4]["scrubbed_md5"] is None and scrubbed[4]["scrubbed_len"] is None
    assert scrubbed[2]["n_urls"] == 0 and scrubbed[2]["scrubbed_len"] == 0

    vocab = spark.createDataFrame([("plain",), ("words",)], ["token"])
    rates = {r["doc_id"]: r for r in oov_rate(docs.filter("text IS NOT NULL"), vocab).collect()}
    # doc 5: 3 tokens, 1 OOV ("only").
    assert rates[5]["n_tokens"] == 3 and rates[5]["n_oov"] == 1
    # empty/whitespace docs tokenize to a single empty-string token — OOV
    # but never a division error.
    assert rates[2]["n_tokens"] >= 1 and rates[3]["n_tokens"] >= 1

    surp = unigram_surprisal(docs.filter("text IS NOT NULL"))
    assert surp.count() == 4
    assert all(r["mean_surprisal_nats"] >= 0 for r in surp.collect())


def test_advisor_flags_each_hazard_and_passes_clean_plans(spark, sf_dir):
    """plans.inspect.advise: each hazard class fires on a crafted plan
    that embodies it, and the engine's own flagship — whose plan the
    shape tests already pin as clean — produces NO critical findings."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    from kickstarter_etl_pipeline_spark.plans.inspect import advise

    # data-sized sides (parquet scans), so the pair hazards are REAL —
    # spark.range literals would now be PROVEN bounded and demoted.
    a = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F2.col("o_orderkey").alias("a")
    )
    b = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F2.col("o_orderkey").alias("b")
    )

    cross = a.crossJoin(b)  # plans as CartesianProduct or BNLJ by size
    assert any(
        f.startswith("CRITICAL")
        and ("CartesianProduct" in f or "NestedLoopJoin" in f)
        for f in advise(cross)
    )

    nonequi = a.join(b, F2.col("a") < F2.col("b"))
    assert any(
        f.startswith("CRITICAL") and "NestedLoopJoin" in f for f in advise(nonequi)
    )

    funnel = a.withColumn("rn", F2.row_number().over(Window.orderBy("a")))
    assert any(
        f.startswith("WARN") and "SinglePartition" in f for f in advise(funnel)
    )

    # a plain global aggregate ALSO plans an Exchange SinglePartition,
    # but only per-partition partial rows cross it — the advisor must
    # demote that to INFO, not cry wolf on every one-row summary.
    summary = a.agg(F2.sum("a").alias("s"), F2.count("*").alias("n"))
    sp = [f for f in advise(summary) if "SinglePartition" in f]
    assert sp and all(f.startswith("INFO") for f in sp), sp

    from kickstarter_etl_pipeline_spark.qdefs_star_events import q_star_flagship

    clean = [f for f in advise(q_star_flagship(spark, sf_dir)) if f.startswith("CRITICAL")]
    assert clean == [], clean


def test_advisor_codegen_info_only_without_aqe(spark, monkeypatch):
    """The no-codegen INFO must not fire on an unexecuted
    AdaptiveSparkPlan (codegen ids only render once AQE finalizes
    stages) — a plain global aggregate gets NO codegen finding — while
    a genuinely interpreted plan (no codegen marker, no AQE wrapper)
    still gets it. The positive case is a crafted plan text: nearly
    every real batch operator codegens SOMETHING (even Scan
    ExistingRDD), so the all-interpreted regime is synthesized."""
    from pyspark.sql import functions as F2

    from kickstarter_etl_pipeline_spark.plans import inspect as I

    agg = spark.range(100).agg(F2.sum("id").alias("s"))
    assert not [f for f in I.advise(agg) if "codegen" in f]

    crafted = (
        "== Physical Plan ==\n"
        "MapInPandas (2)\n"
        "+- LocalTableScan (1)\n\n"
        "(1) LocalTableScan\nOutput [1]: [id#0L]\n\n"
        "(2) MapInPandas\nInput [1]: [id#0L]\n"
    )
    monkeypatch.setattr(I, "explain_text", lambda df: crafted)
    assert [f for f in I.advise(object()) if "codegen" in f]


def test_advisor_bounded_broadcast_bnlj_demoted(spark, sf_dir):
    """A crossJoin against a broadcast GLOBAL AGGREGATE (the
    scalar-totals device used throughout the registry) must be demoted
    to INFO — O(n·1) — while a non-equi join of two unbounded tables
    stays CRITICAL."""
    from pyspark.sql import functions as F2

    from kickstarter_etl_pipeline_spark.plans.inspect import advise

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    totals = orders.agg(F2.sum("o_totalprice").alias("t"))
    scalar = orders.crossJoin(F2.broadcast(totals))
    fs = advise(scalar)
    assert not [f for f in fs if f.startswith("CRITICAL") and "NestedLoop" in f]
    assert [f for f in fs if f.startswith("INFO") and "bounded" in f]

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    risky = orders.join(
        lineitem, F2.col("o_totalprice") < F2.col("l_extendedprice")
    )
    assert [
        f for f in advise(risky)
        if f.startswith("CRITICAL") and "unbounded broadcast side" in f
    ]


def test_prover_bounded_branches_demote_and_large_limit_stays(spark, sf_dir):
    """r14 prover branches (VERDICT r13 task 3), each on a crafted plan:

    - ``limit k`` (k <= 1000) anchor closure on a BNLJ broadcast side
      -> INFO; ``limit 2_000_000`` -> stays CRITICAL (the r13 ADVICE
      limit-threshold fix);
    - literal local relation (createDataFrame of driver data) -> INFO;
    - calendar-bounded aggregate (group-by on a date cast) -> INFO;
    - Generate explode(sequence(..)) over a one-row aggregate (the
      calendar-spine device) -> INFO;
    - CartesianProduct with BOTH sides bounded -> INFO, not CRITICAL.
    """
    from pyspark.sql import functions as F2

    from kickstarter_etl_pipeline_spark.plans.inspect import advise

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    def crit(df):
        return [f for f in advise(df) if f.startswith("CRITICAL")]

    # 1a. small-limit anchor closure
    anchors = orders.filter(F2.col("o_orderkey") < 50).limit(50)
    assert crit(orders.crossJoin(F2.broadcast(anchors))) == []
    # 1b. a data-sized "limit" is NOT an anchor
    big = orders.limit(2_000_000)
    assert crit(orders.crossJoin(F2.broadcast(big))) != []

    # 2. literal local relation
    lit = spark.createDataFrame([(1, "x"), (2, "y")], "k: long, v: string")
    assert crit(orders.crossJoin(F2.broadcast(lit))) == []

    # 3. calendar-bounded aggregate broadcast
    daily = events.groupBy(F2.to_date("ts").alias("day")).agg(
        F2.count("*").alias("c")
    )
    assert crit(orders.crossJoin(F2.broadcast(daily))) == []
    # ...but a data-keyed aggregate stays CRITICAL
    perkey = events.groupBy("user_id").agg(F2.count("*").alias("c"))
    assert crit(orders.crossJoin(F2.broadcast(perkey))) != []

    # 4. calendar spine: explode(sequence) over a one-row aggregate
    spine = events.agg(
        F2.date_trunc("hour", F2.min("ts")).alias("h0"),
        F2.date_trunc("hour", F2.max("ts")).alias("h1"),
    ).select(
        F2.explode(
            F2.sequence("h0", "h1", F2.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    assert crit(orders.crossJoin(F2.broadcast(spine))) == []

    # 5. both-bounded CartesianProduct demotes to INFO
    xa = orders.limit(100).select(F2.col("o_orderkey").alias("xa"))
    xb = orders.limit(100).select(F2.col("o_orderkey").alias("xb"))
    pairs = xa.join(xb, F2.col("xa") < F2.col("xb"))
    fs = advise(pairs)
    assert [f for f in fs if f.startswith("CRITICAL")] == [], fs


def test_pid_control_funnel_demotes_but_global_window_stays(spark, sf_dir):
    """r14 funnel rule: a SinglePartition exchange whose INPUT is the
    ≤P-row spark_partition_id-keyed control aggregate (a hand-built
    offset window) demotes to INFO — the funnel carries control data,
    not the corpus — while a raw global window over data-sized input
    keeps the WARN (pinned in the advisor hazard test too)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    from kickstarter_etl_pipeline_spark.plans.inspect import advise

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # hand-built two_phase_rank control shape: per-partition counts,
    # then a global window over the P-row frame.
    control = (
        orders.withColumn("_pid", F2.spark_partition_id())
        .groupBy("_pid")
        .agg(F2.count("*").alias("_cnt"))
        .withColumn(
            "_off",
            F2.sum("_cnt").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
    )
    fs = advise(control)
    sp = [f for f in fs if "SinglePartition" in f]
    assert sp and all(f.startswith("INFO") for f in sp), fs

    # The real two_phase_rank has no global offsets window left: its
    # ≤P per-partition offsets are collected once and ride a literal
    # array indexed by the partition id, so its plan carries no
    # SinglePartition exchange and the advisor has no funnel to flag.

    ranked = two_phase_rank(
        orders.select("o_orderkey", "o_totalprice"), ["o_totalprice", "o_orderkey"]
    )
    fs2 = advise(ranked)
    assert not [f for f in fs2 if "SinglePartition" in f], fs2


def test_pid_funnel_rule_rejects_mixed_keys(spark, sf_dir):
    """Safety of the r14 funnel rule: an aggregate keyed by
    (spark_partition_id, user_id) is DATA-sized (one group per user
    per partition), so a global window over it must keep the WARN —
    the ≤P bound holds only when EVERY key is the partition id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    from kickstarter_etl_pipeline_spark.plans.inspect import advise

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    mixed = (
        events.withColumn("_pid", F2.spark_partition_id())
        .groupBy("_pid", "user_id")
        .agg(F2.count("*").alias("_cnt"))
        .withColumn(
            "_off",
            F2.sum("_cnt").over(
                Window.orderBy("_pid", "user_id").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
        )
    )
    fs = advise(mixed)
    assert [
        f for f in fs if f.startswith("WARN") and "SinglePartition" in f
    ], fs


def test_prover_calendar_branch_rejects_mixed_keys(spark, sf_dir):
    """The calendar-bounded branch must require the group key to BE a
    calendar expression, not merely CONTAIN one: concat(year(ts),
    user_id) embeds year() but its cardinality is data-sized (one group
    per user per year), so broadcasting that aggregate stays CRITICAL."""
    from pyspark.sql import functions as F2

    from kickstarter_etl_pipeline_spark.plans.inspect import advise

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    mixed = events.groupBy(
        F2.concat(F2.year("ts").cast("string"), F2.col("user_id")).alias("yk")
    ).agg(F2.count("*").alias("c"))
    fs = advise(orders.crossJoin(F2.broadcast(mixed)))
    assert [f for f in fs if f.startswith("CRITICAL")] != [], fs

    # ...while a genuinely calendar-keyed twin (same shape, key IS the
    # calendar call) still demotes — the tightening must not over-reject.
    yearly = events.groupBy(F2.year("ts").alias("yk")).agg(
        F2.count("*").alias("c")
    )
    fs2 = advise(orders.crossJoin(F2.broadcast(yearly)))
    assert [f for f in fs2 if f.startswith("CRITICAL")] == [], fs2


def test_advisor_true_positive_stays_flagged(spark, sf_dir):
    """embedding_near_dup_exact is the DOCUMENTED correctness-tier full
    pair scan (its 100 TB path is the LSH variant); the advisor must
    keep flagging it CRITICAL — clearing a true data-sized pair join
    would be advisor breakage, not progress."""
    from kickstarter_etl_pipeline_spark.plans.inspect import advise
    from kickstarter_etl_pipeline_spark.queries import queries

    df = queries()["embedding_near_dup_exact"](spark, sf_dir)
    assert any(
        f.startswith("CRITICAL") and "NestedLoopJoin" in f for f in advise(df)
    )
