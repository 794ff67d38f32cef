"""Physical-plan assertions: the scale contract, not just the answers.

Checks that Catalyst produces the plans the engine is designed around:
filters and projections reach the Parquet scan, dimension joins
broadcast, and the hot path stays inside whole-stage codegen.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.ranking import collected_offsets
from kickstarter_etl_pipeline_spark.plans.tpch_queries import q_q1_pricing_summary
from kickstarter_etl_pipeline_spark.qdefs_star_events import (
    q_fact_star,
    q_project_rename_filter,
)


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = explain_str(q_project_rename_filter(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThan(c_acctbal,5000" in plan


def test_column_pruning_at_scan(spark, sf_dir):
    plan = explain_str(q_q1_pricing_summary(spark, sf_dir))
    # Only the 7 referenced lineitem columns may be read.
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema and "l_shipdate" in read_schema
    # shipdate predicate pushed to the scan
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan


def test_fact_build_broadcasts_dims(spark, sf_dir):
    plan = explain_str(q_fact_star(spark, sf_dir))
    # part + both dims broadcast; the fact side must never be broadcast
    assert plan.count("BroadcastHashJoin") >= 3
    # the big (lineitem⋈orders) join must not shuffle the fact side when
    # orders fits the broadcast threshold — no SortMergeJoin anywhere here
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """Map-side combine: partial aggregates run before the exchange, so
    the shuffle carries one row per group per task, not the raw rows."""
    plan = explain_str(q_q1_pricing_summary(spark, sf_dir), mode="simple")
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")  # partial below exchange


def test_q7_broadcasts_all_dims(spark, sf_dir):
    """The 6-way Q7 join must broadcast supplier and both nation roles —
    the only shuffle joins allowed are the two fact-sized ones
    (lineitem⋈orders⋈customer)."""
    from kickstarter_etl_pipeline_spark.plans.tpch_queries import q_q7_nation_volume

    plan = explain_str(q_q7_nation_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    # Nested-loop would mean a join lost its equi-condition.
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    """The interval join against the 4-row band table must be ONE pass
    over the fact with a broadcast probe — BroadcastNestedLoopJoin, not
    a shuffle (CartesianProduct would mean the broadcast was lost)."""
    from kickstarter_etl_pipeline_spark.operators.analytics_queries import (
        q_range_join_price_bands,
    )

    plan = explain_str(q_range_join_price_bands(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_hash_sample_prunes_columns(spark, sf_dir):
    """The deterministic sample is a scan-level filter + 3-column read —
    no shuffle, no join, nothing wide."""
    from kickstarter_etl_pipeline_spark.operators.corpus_queries import q_hash_sample

    plan = explain_str(q_hash_sample(spark, sf_dir))
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "o_orderdate" not in read_schema and "o_orderpriority" not in read_schema
    assert "Exchange" not in plan


def test_q6_pushes_all_three_predicates(spark, sf_dir):
    """Q6 is the pushdown canary: date range, discount range, and
    quantity bound must ALL reach the parquet scan, and the read schema
    must carry only the columns the query touches."""
    from kickstarter_etl_pipeline_spark.plans.tpch_queries import q_q6_forecast_revenue

    plan = explain_str(q_q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters" in plan
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.02)",
        "LessThanOrEqual(l_discount,0.06)",
        "LessThan(l_quantity,24",
    ):
        assert frag in plan, f"predicate not pushed: {frag}"
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_q9_broadcasts_all_dims(spark, sf_dir):
    """Q9's part/supplier/nation joins must all broadcast; lineitem
    shuffles exactly once — for the final (nation, year) aggregate —
    with map-side partial aggregation below it."""
    from kickstarter_etl_pipeline_spark.plans.tpch_queries import q_q9_product_profit

    plan = explain_str(q_q9_product_profit(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    simple = explain_str(q_q9_product_profit(spark, sf_dir), mode="simple")
    assert "partial_sum" in simple
    assert simple.index("partial_sum") > simple.index("Exchange")


def test_q2_argmin_joinback_broadcasts_the_min_side(spark, sf_dir):
    """The per-part min frame and all dims ride broadcasts; the only
    shuffles are the two aggregates over the (part, supplier) lattice.
    Nested-loop would mean the equality join-back lost its key."""
    from kickstarter_etl_pipeline_spark.plans.tpch_queries import q_q2_min_cost_supplier

    plan = explain_str(q_q2_min_cost_supplier(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q15_scalar_max_stays_distributed(spark, sf_dir):
    """The MAX-revenue scalar must reach the filter as a broadcast
    (nested-loop over ONE row), never via a driver collect — the plan
    still ends in a join, and the revenue view aggregates partially."""
    from kickstarter_etl_pipeline_spark.plans.tpch_queries import q_q15_top_supplier

    plan = explain_str(q_q15_top_supplier(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    simple = explain_str(q_q15_top_supplier(spark, sf_dir), mode="simple")
    assert "partial_sum" in simple


def test_shuffle_hash_hint_honored(spark, sf_dir):
    """Join-strategy hints must reach the planner: a SHUFFLE_HASH hint
    on the orders side turns the li⋈orders join into ShuffledHashJoin
    (no sort phase) instead of SortMergeJoin — the knob for fact-fact
    joins where one side's per-partition hash table fits memory and
    the sort would dominate."""
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(
        orders.hint("SHUFFLE_HASH"), li.l_orderkey == orders.o_orderkey
    ).groupBy("o_orderstatus").count()
    plan = explain_str(joined)
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Packing is one shuffle on the shard key: a single Exchange
    (hashpartitioning on source for the window), no joins."""
    from kickstarter_etl_pipeline_spark.qdefs_star_events import q_pack_sequences

    plan = explain_str(q_pack_sequences(spark, sf_dir), mode="simple")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_source_mixing_broadcasts_totals(spark, sf_dir):
    """The one-row totals frame must reach the per-source rows as a
    broadcast (nested-loop over ONE row), never via a driver collect,
    and the per-source aggregate must combine map-side."""
    from kickstarter_etl_pipeline_spark.qdefs_star_events import q_source_mixing_weights

    plan = explain_str(q_source_mixing_weights(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    simple = explain_str(q_source_mixing_weights(spark, sf_dir), mode="simple")
    assert "partial_count" in simple or "partial_sum" in simple


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking is embarrassingly parallel: explode fan-out with zero
    Exchange in the plan (AQE read repartition aside, there is no
    aggregation or join to shuffle for)."""
    from kickstarter_etl_pipeline_spark.qdefs_star_events import q_chunk_documents

    plan = explain_str(q_chunk_documents(spark, sf_dir), mode="simple")
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_semantic_dedup_join_condition_is_dot_only(spark, sf_dir):
    """The pair scan must use the STAGED norm columns, never recompute
    norms (or any dim-length fold) per pair in the JVM. Since r15 the
    per-pair dot rides the Arrow kernel (operators/vector_kernels.py),
    so the pinned shape is: at least one ArrowEvalPython node (the dot
    kernel, plus the anchor-assignment kernel) and NO zip_with fold in
    any join condition — a zip_with reappearing there would mean the
    per-pair JVM recompute came back."""
    from kickstarter_etl_pipeline_spark.operators.corpus_queries import q_semantic_dedup

    plan = explain_str(q_semantic_dedup(spark, sf_dir))
    assert "ArrowEvalPython" in plan, "pair-dot Arrow kernel missing from plan"
    join_lines = [
        ln for ln in plan.splitlines() if "Join condition" in ln and "zip_with" in ln
    ]
    assert not join_lines, f"dim-length fold back in join condition: {join_lines[0][:200]}"


def test_bigram_collocations_topk_is_take_ordered(spark, sf_dir):
    """Global top-k must be TakeOrderedAndProject (distributed heaps),
    never a global Sort + Limit single reducer, and the unigram table
    must broadcast into the pair table."""
    from kickstarter_etl_pipeline_spark.operators.corpus_queries import (
        q_bigram_collocations,
    )

    plan = explain_str(q_bigram_collocations(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_prefilter_broadcasts_bitmap(spark, sf_dir):
    """The bloom bitmap (<= n_bits/64 rows) must ride a broadcast join
    onto the fact — a shuffle there would defeat the prefilter's
    purpose — and the pattern must introduce no nested-loop join."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_bloom_prefiltered_join,
    )

    plan = explain_str(q_bloom_prefiltered_join(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # bitmap probe + exact dim join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_duplicate_ngram_spans_prunes_columns(spark, sf_dir):
    """The span stats read only (doc_id, text) from the documents scan —
    lang/source/n_chars must be pruned."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_duplicate_ngram_spans,
    )

    plan = explain_str(q_duplicate_ngram_spans(spark, sf_dir))
    read_schemas = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read_schemas
    for line in read_schemas:
        assert "lang" not in line and "source" not in line


def test_hard_negative_mining_broadcasts_queries(spark, sf_dir):
    """The 20-anchor side must broadcast against the corpus scan (the
    embedding_topk shape) — no shuffle of the corpus."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_hard_negative_mining,
    )

    plan = explain_str(q_hard_negative_mining(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_threshold_curve_queries_have_no_outer_bnlj(spark, sf_dir, monkeypatch):
    """Threshold-curve family (lorenz_curve_events, vocab_growth_curve):
    the round-6 drafts left-joined 10 threshold rows onto a DATA-sized
    table on `value <= thr` — a LEFT-outer BroadcastNestedLoopJoin must
    broadcast its RIGHT (data-sized) side, an executor-OOM at 100×.
    The round-7 prefix-sum shape allows BNLJ only for the deliberate
    one-row scalar cross-joins (Inner/Cross, broadcasting the 1-row
    side); any OUTER nested-loop join here is a regression. The decile
    lookups themselves must be broadcast HASH joins.

    vocab_growth_curve collects its 10-row decile frame for the prefix
    sums (collected_offsets), so its final plan is a driver-literal
    scan; its decile joins are checked on the frame handed to that
    collect."""
    from kickstarter_etl_pipeline_spark.operators import corpus_queries, mining_queries
    from kickstarter_etl_pipeline_spark.operators.corpus_queries import (
        q_vocab_growth_curve,
    )
    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_lorenz_curve_events,
    )

    collected = []

    def spy(counts, *args, **kwargs):
        collected.append(counts)
        return collected_offsets(counts, *args, **kwargs)

    # each consumer binds collected_offsets at import: patch its name
    for consumer in (corpus_queries, mining_queries):
        monkeypatch.setattr(consumer, "collected_offsets", spy)

    lorenz = explain_str(q_lorenz_curve_events(spark, sf_dir))
    assert not collected
    vocab = explain_str(q_vocab_growth_curve(spark, sf_dir))
    (decile_frame,) = collected
    vocab_deciles = explain_str(decile_frame)
    assert "Scan ExistingRDD" in vocab and "Join" not in vocab

    for name, plan in (
        ("lorenz_curve_events", lorenz),
        ("vocab_growth_curve", vocab),
        ("vocab_growth_curve deciles", vocab_deciles),
    ):
        bnlj_lines = [
            line for line in plan.splitlines() if "BroadcastNestedLoopJoin" in line
        ]
        outer = [line for line in bnlj_lines if "Outer" in line]
        assert not outer, f"{name}: outer BNLJ present: {outer}"
        assert "CartesianProduct" not in plan, name
    # the threshold equi-joins
    assert "BroadcastHashJoin" in lorenz
    assert "BroadcastHashJoin" in vocab_deciles


def test_ann_pq_topk_is_all_broadcast_hash(spark, sf_dir):
    """PQ/ADC: the codebook (64 rows) and the query LUT (640 rows) must
    ride broadcast HASH joins onto the corpus-sized sides — a
    SortMergeJoin or nested-loop join anywhere defeats the
    8-bytes-per-vector point of product quantization."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_ann_pq_topk

    plan = explain_str(q_ann_pq_topk(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # codebook + LUT
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scalable_rank_single_partition_only_for_offsets(spark, sf_dir):
    """Two-phase rank: the data rows must never funnel through one
    partition (that would re-create the ceiling the operator lifts).
    Since r15 the P-row offsets are collected once and attached as a
    pid-indexed literal array, so the consumer plan carries NO
    SinglePartition exchange at all (and no offsets window/join) —
    just a projection over the checkpointed ranked rows."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import (
        q_scalable_rank_events,
    )

    plan = explain_str(q_scalable_rank_events(spark, sf_dir), mode="simple")
    assert "Exchange SinglePartition" not in plan
    # rank = local rank + get(literal offsets array, _pid): a pure
    # projection — no window, no join, no exchange in the final plan
    assert "_lrank_2pr" in plan and "_pid_2pr" in plan
    assert "Window" not in plan


def test_rfm_segments_no_global_ntile_funnel(spark, sf_dir):
    """rfm_segments (r7 verdict's one `weak`): the three global
    ntile(4) windows used to funnel the whole per-customer aggregate
    through ONE task, three times. The r8 shape ranks each metric with
    two_phase_rank and recovers the quartile arithmetically, so the
    visible plan (everything upstream of the last range pass is behind
    its checkpoint) may funnel only the P-row offset aggregate — never
    a data-sized sort — and must carry no ntile/Window-over-data at
    all."""
    from kickstarter_etl_pipeline_spark.operators.analytics_queries import (
        q_rfm_segments,
    )

    plan = explain_str(q_rfm_segments(spark, sf_dir), mode="simple")
    assert "ntile" not in plan.lower()
    # every SinglePartition exchange must sit directly above a
    # HashAggregate (the P-row offset aggregate or the 1-row max-rank
    # partial — control data), never above raw per-customer rows
    idx = 0
    found = 0
    while True:
        idx = plan.find("Exchange SinglePartition", idx)
        if idx == -1:
            break
        found += 1
        tail = plan[idx : idx + 400]
        assert "HashAggregate" in tail, f"data-sized single-partition funnel:\n{tail}"
        idx += 1
    # r15: the P-row offsets ride a literal array (no window, no
    # broadcast join), so zero SinglePartition exchanges is the ideal;
    # any that remain (1-row control aggregates) must sit above a
    # HashAggregate — asserted in the loop.


def test_two_phase_consumers_no_data_sized_funnel(spark, sf_dir):
    """The round-8 two_phase_rank consumers (exact ntile(100) banding,
    grouped median/MAD) must inherit the no-funnel property: any
    SinglePartition exchange in the visible plan sits directly above a
    HashAggregate (P-row offsets / 64-row dim counts — control data),
    never above raw data rows, and no ntile window appears."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import (
        q_embedding_dim_robust_stats,
        q_price_percentile_bands,
    )

    for q in (q_price_percentile_bands, q_embedding_dim_robust_stats):
        plan = explain_str(q(spark, sf_dir), mode="simple")
        assert "ntile" not in plan.lower(), q.__name__
        idx = 0
        while True:
            idx = plan.find("Exchange SinglePartition", idx)
            if idx == -1:
                break
            tail = plan[idx : idx + 400]
            assert "HashAggregate" in tail, (
                f"{q.__name__}: data-sized single-partition funnel:\n{tail}"
            )
            idx += 1


def test_round9_tiers_no_data_sized_funnel(spark, sf_dir):
    """Round-9 additions that promise the grid/aggregate-bounded shape
    (SCALE.md): the weighted/trimmed grouped selections and the
    ECDF-sweep eval reports. Every SinglePartition exchange in the
    visible plan must sit directly above a HashAggregate — the P-row
    offsets, the G-row group totals, or the grid-bounded per-score
    table — never above raw corpus rows; and no ntile/global sort of
    data appears."""
    from kickstarter_etl_pipeline_spark.operators.eval_queries import (
        q_quality_auc_report,
        q_rank_correlation_report,
        q_source_ks_drift,
    )
    from kickstarter_etl_pipeline_spark.operators.lm_queries import (
        q_trimmed_mean_by_group,
        q_weighted_median_by_group,
    )

    for q in (
        q_weighted_median_by_group,
        q_trimmed_mean_by_group,
        q_quality_auc_report,
        q_source_ks_drift,
        q_rank_correlation_report,
    ):
        plan = explain_str(q(spark, sf_dir), mode="simple")
        assert "ntile" not in plan.lower(), q.__name__
        idx = 0
        while True:
            idx = plan.find("Exchange SinglePartition", idx)
            if idx == -1:
                break
            tail = plan[idx : idx + 400]
            assert "HashAggregate" in tail, (
                f"{q.__name__}: data-sized single-partition funnel:\n{tail}"
            )
            idx += 1


def test_star_flagship_does_not_force_broadcast_part(spark, sf_dir):
    """Round-10 hint policy (SCALE.md): explicit broadcast hints are
    reserved for cardinality-BOUNDED frames. ``part`` grows linearly
    with sf (TB-sized at the 100-TB posture), so the fact build must
    leave its join unhinted — AQE broadcasts it at bench scale and
    falls back to a shuffle join at 100 TB, where a forced hint would
    OOM the executors. The bounded dims (state: 3, category: 3 750)
    keep their hints."""
    from kickstarter_etl_pipeline_spark.qdefs_star_events import q_star_flagship

    logical = (
        q_star_flagship(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    hint_lines = [l for l in logical.splitlines() if "Hint" in l]
    assert hint_lines, "the bounded dim joins should still carry hints"
    offenders = [l for l in hint_lines if "p_partkey" in l]
    assert not offenders, f"part join carries a forced broadcast hint: {offenders}"


def test_topk_customers_broadcasts_post_limit_side(spark, sf_dir):
    """topk_customers must take the top-10 BEFORE the customer-name
    join and hint the 10-row side: the TakeOrdered sits UNDER the
    broadcast join (feeding its build side), never above it, and the
    full customer projection (linear in sf) is unhinted."""
    from kickstarter_etl_pipeline_spark.operators.analytics_queries import (
        q_topk_customers,
    )

    df = q_topk_customers(spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    hint_lines = [l for l in logical.splitlines() if "Hint" in l]
    assert not any("c_name" in l for l in hint_lines), (
        f"customer projection carries the hint: {hint_lines}"
    )
    plan = explain_str(df, mode="simple")
    assert "TakeOrderedAndProject" in plan and "BroadcastHashJoin" in plan
    assert plan.index("BroadcastHashJoin") < plan.index("TakeOrderedAndProject"), (
        "limit must run below the join (TakeOrdered feeds the build side)"
    )


def test_round10_tiers_no_data_sized_funnel(spark, sf_dir):
    """Round-10 additions that promise the grid/aggregate-bounded
    shape: the two_phase_rank consumers (funnel latency percentiles,
    Mann-Whitney, change point, Hurst) and the composite-key
    winsorized mean, which deliberately avoids a per-status fat-
    partition rank window (global two_phase_rank + 3-row offsets).
    Every SinglePartition exchange must sit directly above a
    HashAggregate (P-row offsets / group totals), never above raw
    corpus rows."""
    from kickstarter_etl_pipeline_spark.operators.stats_queries import (
        q_funnel_latency_percentiles,
        q_mann_whitney_report,
        q_winsorized_mean_by_status,
    )
    from kickstarter_etl_pipeline_spark.operators.timeseries_queries import (
        q_binseg_changepoint,
        q_hurst_exponent,
    )

    for q in (
        q_funnel_latency_percentiles,
        q_mann_whitney_report,
        q_binseg_changepoint,
        q_hurst_exponent,
        q_winsorized_mean_by_status,
    ):
        plan = explain_str(q(spark, sf_dir), mode="simple")
        # match the window FUNCTION call, not substrings of aliases
        # like "quantile"
        assert "ntile(" not in plan.lower(), q.__name__
        idx = 0
        while True:
            idx = plan.find("Exchange SinglePartition", idx)
            if idx == -1:
                break
            tail = plan[idx : idx + 400]
            assert "HashAggregate" in tail, (
                f"{q.__name__}: data-sized single-partition funnel:\n{tail}"
            )
            idx += 1


def test_star_flagship_single_fact_shuffle_no_bnlj(spark, sf_dir):
    """Round-11 structural guard (VERDICT r10 task 6): the flagship's
    physical plan must contain NO BroadcastNestedLoopJoin and no more
    than the single expected fact-side shuffle — the groupBy exchange
    keyed by (state_key, order_year). Every join rides a broadcast at
    bench scale (AQE or bounded-dim hint); the only other permitted
    hash exchanges are the 3-row state-dim window build (keyed by
    state_name), and the only round-robin is ensure_min_partitions'
    fixture-only spread. A future hint/plan regression that funnels
    the fact side through an extra shuffle or degrades a join to a
    nested loop fails here structurally instead of waiting for a
    bench re-audit."""
    from kickstarter_etl_pipeline_spark.qdefs_star_events import q_star_flagship

    plan = (
        q_star_flagship(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, (
        "flagship joins must all broadcast at bench scale:\n" + plan
    )
    hash_ex = [
        l.strip(" :+-")
        for l in plan.splitlines()
        if l.strip(" :+-").startswith("Exchange hashpartitioning")
    ]
    fact_shuffles = [l for l in hash_ex if "state_key" in l]
    assert len(fact_shuffles) == 1, (
        f"expected exactly one fact-side aggregation shuffle, got {fact_shuffles}"
    )
    dim_only = [l for l in hash_ex if "state_key" not in l]
    assert all("state_name" in l for l in dim_only), (
        f"unexpected non-dim hash exchange in the flagship plan: {dim_only}"
    )


def test_frame_dedup_topk_has_no_global_sort(spark, sf_dir):
    """frame_dedup_report's top-50 must plan as TakeOrderedAndProject
    (per-partition heap + driver merge of 50-row candidates), never a
    global Sort — the difference between O(k) and a full-shuffle sort
    of every duplicated frame group at 100 TB. Also: no joins at all;
    the whole query is one fan-out + one md5-keyed aggregate."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import q_frame_dedup_report

    plan = explain_str(q_frame_dedup_report(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    sort_lines = [
        l for l in plan.splitlines() if l.strip().startswith("(") and ") Sort" in l
    ]
    assert not sort_lines, f"global sort in a top-k plan: {sort_lines}"


def test_cap_report_never_builds_pairs(spark, sf_dir):
    """cooccurrence_cap_report must stay safe to run at ANY occupancy —
    the audit of the pair-join device must itself never pair-join: no
    join operators, exactly the scan → distinct → bucket-count →
    single-row rollup pipeline."""
    from kickstarter_etl_pipeline_spark.operators.graph_queries import (
        q_cooccurrence_cap_report,
    )

    plan = explain_str(q_cooccurrence_cap_report(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Window" not in plan, (
        "the audit must not rank users (the device's single-task "
        "bound must not apply to its own observability query):\n" + plan
    )


def test_holt_fold_evaluates_once_no_join_no_window(spark, sf_dir):
    """holt_linear_forecast's sequential fold is O(days) JVM expression
    work per series — the plan must materialize the fold struct ONCE
    behind the two-stage select barrier, not re-inline it per output
    column (the first cut ran the entire fold 4x: level, trend,
    forecast and MAE each re-evaluated aggregate()). Also: the whole
    query is scan -> day agg -> priority collect -> project; any Join
    or Window is a structural regression."""
    from kickstarter_etl_pipeline_spark.operators.timeseries_queries import (
        q_holt_linear_forecast,
        q_holt_winters_forecast,
    )

    for q in (q_holt_linear_forecast, q_holt_winters_forecast):
        plan = (
            q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("aggregate(slice") == 1, (
            f"{q.__name__}: fold inlined {plan.count('aggregate(slice')}x — "
            "the CollapseProject barrier regressed"
        )
        assert "Join" not in plan, plan
        assert "Window" not in plan, plan


def test_harmonic_centrality_final_stage_shape(spark, sf_dir):
    """graph_harmonic_centrality's visible (post-checkpoint) stage must
    be exactly the bounded-state rollup: partial+final hash aggregate
    over the checkpointed (pivot, vertex, depth) table keyed by vertex
    — no join, no window, no sort. The per-round frontier joins live
    behind localCheckpoints (same posture as bfs_depths/kcore) and are
    bounded by pivots x edges per round by construction."""
    from kickstarter_etl_pipeline_spark.operators.graph_queries import (
        q_graph_harmonic_centrality,
    )

    plan = (
        q_graph_harmonic_centrality(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "Sort" not in plan, plan
    assert "HashAggregate" in plan, plan
