"""Round-15 operator pins: Spark-native recursion vs the path-doubling
closure (strategy equivalence on the same taxonomy) and pipe-syntax
dialect equivalence (query-level oracle parity is covered by
test_oracle_parity's automatic parametrization)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_recursive_cte_agrees_with_path_doubling_closure(spark, sf_dir):
    """Two independent strategies over the SAME 4-ary taxonomy must
    agree: the recursive walk's depth per part equals the closure
    query's ancestor count, and the walk's path sums are consistent
    with the parent relation (path_cents(child) = path_cents(parent)
    + cents(child))."""
    from kickstarter_etl_pipeline_spark.operators.graph_queries import (
        q_part_hierarchy_rollup,
        q_recursive_cte_ancestor_paths,
    )

    walk = {
        r["id"]: (r["depth"], r["path_cents"])
        for r in q_recursive_cte_ancestor_paths(spark, sf_dir).collect()
    }
    closure_depth = {
        r["p_partkey"]: r["depth"]
        for r in q_part_hierarchy_rollup(spark, sf_dir).collect()
    }
    assert set(walk) == set(closure_depth) and walk
    for pid, (d, _) in walk.items():
        assert d == closure_depth[pid], pid

    cents = {
        r["id"]: r["cents"]
        for r in spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(
            F.col("p_partkey").cast("long").alias("id"),
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .collect()
    }
    for pid, (_, pc) in walk.items():
        if pid == 0:
            assert pc == cents[0]
            continue
        assert pc == walk[(pid - 1) // 4][1] + cents[pid], pid


def test_pipe_syntax_equals_dataframe_api(spark, sf_dir):
    """The pipe-dialect query must produce the exact rows of the same
    computation through the DataFrame API — Catalyst lowers both to
    the same logical plan, so any divergence is a dialect bug."""
    from kickstarter_etl_pipeline_spark.plans.tpch_queries import (
        q_pipe_syntax_pricing,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    got = {
        (r["l_returnflag"], r["l_linestatus"]): (
            r["n_items"],
            r["sum_qty"],
            r["sum_disc_price"],
        )
        for r in q_pipe_syntax_pricing(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 10)
    want = {
        (r["l_returnflag"], r["l_linestatus"]): (
            r["n_items"],
            r["sum_qty"],
            r["sum_disc_price"],
        )
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_collated_distinct_actually_discriminates(spark, sf_dir):
    """The synthesized case variance must make the grade non-vacuous:
    somewhere in the grid the collated distinct count is STRICTLY
    below the binary one (a no-op collation would tie everywhere and
    the oracle hash could not catch it), and the collated count always
    bounds the binary count from below."""
    from kickstarter_etl_pipeline_spark.operators.corpus_queries import (
        q_collated_dedup_counts,
    )

    rows = q_collated_dedup_counts(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_ci_distinct"] <= r["n_binary_distinct"] <= r["n_docs"]
    assert any(r["n_ci_distinct"] < r["n_binary_distinct"] for r in rows), (
        "case variance never collapsed a pair — the collation grade is vacuous"
    )


def test_aqe_skew_join_splits_and_preserves_results(spark):
    """AQE's runtime skew-join handling — the engine-level complement
    to the manually salted join (skew_salted_join): with one key
    holding ~90% of a 200k-row side, the executed plan must carry a
    skew=true sort-merge join (OptimizeSkewedJoin split the hot
    partition at RUNTIME from shuffle statistics), and the aggregate
    must equal the AQE-off run bit-exactly — the split is a physical
    re-plan, never a semantic one."""
    import re

    from pyspark.sql import functions as F

    from kickstarter_etl_pipeline_spark.operators.partitioning import (
        isolated_session,
    )

    def run(child):
        left = child.range(0, 200000).select(
            F.when(F.col("id") % 100 < 90, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = child.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        return (
            left.join(right, "k")
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum(F.col("v") + F.col("w")).alias("s"))
        )

    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    aqe_on = run(isolated_session(spark, {"spark.sql.adaptive.enabled": "true", **skew_confs}))
    row_on = aqe_on.collect()[0]
    plan = aqe_on._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"skew=true", plan), plan[:1500]

    aqe_off = run(isolated_session(spark, {"spark.sql.adaptive.enabled": "false", **skew_confs}))
    row_off = aqe_off.collect()[0]
    assert (row_on["n"], row_on["s"]) == (row_off["n"], row_off["s"])
    assert row_on["n"] == 200000


def test_let_bound_shingle_expr_matches_reference(spark, sf_dir):
    """The streaming side's single let-bound expression must produce
    byte-identical shingle sets AND bucket vectors to the batch
    machinery (with_shingles → minhash_signature → banding) for every
    document — this is what keeps the stream and the LSH index in one
    hash universe. (The first cut of the expression lost an escaping
    level and tokenized on the letter 's'; this pin would have caught
    it before certify did.)"""
    from kickstarter_etl_pipeline_spark.operators.dedup import (
        _shingles_sig_buckets_expr,
        minhash_signature,
        with_shingles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    ref = (
        with_shingles(docs, 3)
        .withColumn("sig", minhash_signature())
        .select("doc_id", "_sh", "sig")
        .localCheckpoint(eager=True)
    )
    band_args = ", ".join(f"element_at(sig, b * 4 + {r + 1})" for r in range(4))
    ref_b = ref.select(
        "doc_id",
        F.col("_sh").alias("sh_ref"),
        F.expr(f"transform(sequence(0, 15), b -> xxhash64({band_args}))").alias(
            "b_ref"
        ),
    )
    new = docs.select(
        "doc_id", _shingles_sig_buckets_expr().alias("_st")
    ).select(
        "doc_id",
        F.col("_st.sh").alias("sh_new"),
        F.col("_st.buckets").alias("b_new"),
    )
    joined = ref_b.join(new, "doc_id").collect()
    assert joined
    for r in joined:
        assert r["sh_new"] == r["sh_ref"], r["doc_id"]
        assert r["b_new"] == r["b_ref"], r["doc_id"]


def test_stream_near_dup_degenerate_docs(spark, tmp_path):
    """Short docs (< 3 tokens) share the NULL-signature bucket vector;
    without the empty-shingle guard their collisions divide by zero
    under ANSI mode (caught live at certify). They must be silently
    excluded while real near-dups still surface, and a pair colliding
    in many bands must appear exactly ONCE (the first-matching-band
    dedup)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base, "en", "s0", len(base)),           # index side
        (1, base, "en", "s0", len(base)),           # stream side: exact dup
        (2, "hi", "en", "s0", 2),                    # index, degenerate
        (3, "yo", "en", "s0", 2),                    # stream, degenerate
        (5, "unrelated words entirely different text here now", "en", "s0", 10),
    ]
    import glob
    import shutil

    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "_stage"))
    # single FILE named documents.parquet, matching the fixture layout
    # (the stream reader's pathGlobFilter matches file names)
    (part,) = glob.glob(str(tmp_path / "_stage" / "part-*.parquet"))
    shutil.copy(part, str(tmp_path / "documents.parquet"))

    from kickstarter_etl_pipeline_spark.operators.dedup import stream_near_dup_pairs

    got = stream_near_dup_pairs(spark, str(tmp_path)).collect()
    pairs = [(r["id_a"], r["id_b"], r["jaccard"]) for r in got]
    assert pairs == [(1, 0, 1.0)], pairs


def test_lateral_topn_equals_window_form(spark, sf_dir):
    """The lateral per-group top-3 must equal the window-rank form —
    dialect equivalence inside ONE engine (the cross-engine half is
    the oracle)."""
    from pyspark.sql import Window

    from kickstarter_etl_pipeline_spark.plans.tpch_queries import (
        q_lateral_topn_orders,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    got = {
        (r["o_orderpriority"], r["o_orderkey"], r["o_totalprice"])
        for r in q_lateral_topn_orders(spark, sf_dir).collect()
    }
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = {
        (r["o_orderpriority"], r["o_orderkey"], r["o_totalprice"])
        for r in load_table(spark, sf_dir, "orders")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .collect()
    }
    assert got == want and len(got) == 15


def test_sql_scripting_variable_matches_inline_scalar(spark, sf_dir):
    """The scripted session variable must change nothing semantically:
    the scripted rollup equals the scalar-subquery form row-exactly,
    and the cutoff actually cuts (some order is excluded)."""
    from kickstarter_etl_pipeline_spark.plans.tpch_queries import (
        q_sql_scripting_rollup,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    got = {
        r["o_orderpriority"]: (r["n_above"], r["total_above"])
        for r in q_sql_scripting_rollup(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    cutoff = (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .orderBy(F.asc("o_totalprice"))
        .limit(1)
        .collect()[0]["o_totalprice"]
    )
    want = {
        r["o_orderpriority"]: (r["n"], r["t"])
        for r in orders.filter(F.col("o_totalprice") > cutoff)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("t"),
        )
        .collect()
    }
    assert got == want
    assert sum(n for n, _ in got.values()) == 99  # 100th row itself is cut
