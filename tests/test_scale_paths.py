"""Scale-path operators: scalable dim keys, loop widths, ranking
offsets, exactly-once streaming sink."""

from __future__ import annotations

import io
import os
import shutil
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kickstarter_etl_pipeline_spark.operators import partitioning
from kickstarter_etl_pipeline_spark.operators.dims import dim_from_distinct
from kickstarter_etl_pipeline_spark.operators.partitioning import loop_frame
from kickstarter_etl_pipeline_spark.operators.ranking import (
    CONTROL_ROWS_CAP,
    collect_control,
    collected_offsets,
    control_frame,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.similarity import brute_force_topk
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.streaming.events_stream import stream_events_to_parquet

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


@pytest.fixture
def narrow_loops(spark, monkeypatch):
    """Call to run every later loop_frame pin at 3 partitions instead of
    LOOP_PARTITIONS, for the partition-invariance checks (restored after
    the test). It first checks that the pin stores exactly the constant's
    width for a wider frame and keeps a narrower frame's width."""

    def narrow():
        monkeypatch.setattr(partitioning, "LOOP_PARTITIONS", 3)
        wide, thin = spark.range(12).repartition(5), spark.range(12).repartition(2)
        assert loop_frame(wide).rdd.getNumPartitions() == 3
        assert loop_frame(thin).rdd.getNumPartitions() == 2

    return narrow


def test_scalable_keys_equal_window_keys(spark):
    """two_phase_rank over the distinct frame must assign the same dense
    sorted keys as the window implementation, without a global
    single-reducer sort."""
    df = spark.createDataFrame(
        [(f"name_{i % 37:03d}",) for i in range(1000)], ["state_name"]
    ).repartition(7)
    scalable = {
        (int(r["rank"]), r["state_name"])
        for r in two_phase_rank(
            df.select("state_name").distinct(), ["state_name"]
        ).collect()
    }
    window = {
        (int(r["state_key"]), r["state_name"])
        for r in dim_from_distinct(df, ["state_name"], "state_key").collect()
    }
    assert scalable == window and len(scalable) == 37


def test_scalable_keys_dense_at_256_partitions(spark):
    """At 256 range partitions the offsets are a 256-slot literal array
    indexed by partition id — a constant-depth plan at any partition
    count — and keys must still be the dense 1..N global-sort numbering
    the window variant assigns."""
    df = spark.createDataFrame(
        [(f"val_{i:05d}",) for i in range(3000)], ["v"]
    ).repartition(300)
    got = sorted(
        (int(r["rank"]), r["v"])
        for r in two_phase_rank(df.distinct(), ["v"], n_parts=256).collect()
    )
    assert got == [(i + 1, f"val_{i:05d}") for i in range(3000)]


def test_control_collect_refuses_frame_over_cap(spark):
    """collect_control, the driver-side prefix fold on top of it, and
    the return trip control_frame refuse a frame one row over
    CONTROL_ROWS_CAP, naming the cap; a frame of exactly the cap is
    still returned, folds and builds."""
    def counts(n_rows):
        return spark.range(n_rows).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("n")
        )

    def rows(n_rows):
        return [(i, 1) for i in range(n_rows)]

    assert len(collect_control(counts(CONTROL_ROWS_CAP))) == CONTROL_ROWS_CAP
    offs = collected_offsets(counts(CONTROL_ROWS_CAP), ["k"], [("n", "off")])
    assert offs.agg(F.max("off")).first()[0] == CONTROL_ROWS_CAP - 1
    frame = control_frame(spark, rows(CONTROL_ROWS_CAP), "k bigint, n bigint")
    assert frame.count() == CONTROL_ROWS_CAP
    for over_cap in (collect_control, lambda df: collected_offsets(df, ["k"], [("n", "off")])):
        with pytest.raises(ValueError, match=f"CONTROL_ROWS_CAP={CONTROL_ROWS_CAP}"):
            over_cap(counts(CONTROL_ROWS_CAP + 1))
    with pytest.raises(ValueError, match=f"CONTROL_ROWS_CAP={CONTROL_ROWS_CAP}"):
        control_frame(spark, rows(CONTROL_ROWS_CAP + 1), "k bigint, n bigint")


def test_control_frame_matches_create_data_frame(spark):
    """control_frame returns the rows and schema spark.createDataFrame
    returns for the same rows and schema, on the configured session and
    on a plain one with Arrow off, but plans as a LocalTableScan. Rows
    compare by repr, so NULL, NaN and -0.0 must each come back as
    themselves. Rows createDataFrame refuses, control_frame refuses too."""
    plain = spark.newSession()
    plain.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    nan = float("nan")
    offsets = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("off", T.LongType(), False)]
    )
    cases = [
        ([(None,), (nan,), (-0.0,), (0.0,), (1.5,)], "x double"),
        ([(None,), (2**63 - 1,), (-(2**63),), (0,)], "x bigint"),
        ([("it's",), ('say "hi"',), ("ünïcødé ✓",), ("",), (None,)], "s string"),
        ([([[1.0, -0.0], [nan]],), ([],), ([None, [None]],), (None,)], "m array<array<double>>"),
        ([], "a int, b string"),
        ([(None, 0), ("a", 3)], offsets),
    ]
    for session in (spark, plain):
        for rows, schema in cases:
            got = control_frame(session, rows, schema)
            want = session.createDataFrame(rows, schema)
            assert got.schema == want.schema, schema
            assert [repr(r) for r in got.collect()] == [repr(r) for r in want.collect()]
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    refused = [
        ([(1.5,)], "x int"),
        ([(2**31,)], "x int"),
        ([(2**63,)], "x bigint"),
        ([(1,)], "x double"),
        ([("a", None)], offsets),
    ]
    for rows, schema in refused:
        with pytest.raises((TypeError, ValueError)):
            spark.createDataFrame(rows, schema)
        with pytest.raises((TypeError, ValueError)):
            control_frame(spark, rows, schema)


def test_connected_components_nonconvergence_raises(spark):
    """A component with diameter > max_iter must raise, not silently
    return split components."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(nodes, chain, max_iter=3)
    # With the budget ≥ diameter the same graph resolves to one component.
    ok = connected_components(nodes, chain, max_iter=n)
    assert ok.select("component_id").distinct().count() == 1


def test_connected_components_star_logn_on_long_chain(spark):
    """The large-star/small-star variant must resolve a 64-hop chain —
    which would need 64 rounds of plain min-label propagation — within
    an O(log n) round budget, singletons included."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components_star

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n + 3)], ["id"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    got = {
        r["id"]: r["component_id"]
        for r in connected_components_star(nodes, chain, max_iter=10).collect()
    }
    assert all(got[i] == 0 for i in range(n))
    assert all(got[i] == i for i in range(n, n + 3))  # singletons self-labeled


def test_streaming_parquet_sink_exactly_once(spark, sf_dir):
    out = os.path.join(SCRATCH, "stream_sink_out")
    ckpt = os.path.join(SCRATCH, "stream_sink_ckpt")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    first = stream_events_to_parquet(spark, sf_dir, out, ckpt).count()
    expected = load_table(spark, sf_dir, "events").count()
    assert first == expected
    # Same checkpoint, second run: offsets already committed → no duplicates.
    second = stream_events_to_parquet(spark, sf_dir, out, ckpt).count()
    assert second == expected


def test_salted_join_identity_on_skew(spark, sf_dir):
    """On a 90%-hot key distribution, the salted join must return the
    bit-identical row multiset as the plain join — with AQE's skew
    rescue OFF and broadcast disabled, i.e. in exactly the regime where
    salting is the only defense."""
    from kickstarter_etl_pipeline_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    skew_key = F.when(F.col("l_orderkey") % 10 != 0, F.lit(0)).otherwise(F.col("l_orderkey"))
    large = li.withColumn("skew_key", skew_key.cast("long")).select(
        "skew_key", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    small = (
        large.select("skew_key")
        .distinct()
        .withColumn("key_class", F.when(F.col("skew_key") == 0, F.lit("hot")).otherwise(F.lit("cold")))
    )
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = large.join(small, on="skew_key", how="inner")
        salted = salted_join(large, small, on=["skew_key"], how="inner", salt_buckets=16).select(
            *plain.columns
        )
        assert salted.count() == plain.count() == large.count()
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_multiprobe_lsh_recall_uplift(spark, sf_dir):
    """Multi-probe must lift recall vs single-probe (same corpus-side
    layout, queries fan out to the low-margin adjacent buckets)."""
    from kickstarter_etl_pipeline_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }

    def recall(num_tables: int, n_probe: int) -> float:
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_topk(
                emb, queries, dim=64, k=5, num_planes=3, num_tables=num_tables, n_probe=n_probe
            ).collect()
        }
        return len(approx & exact) / len(exact)

    # Multi-probe uplift at fixed table count (measured 0.41 → 0.90 on
    # this fixture), and the production config clears 0.8.
    r_single, r_multi = recall(2, 1), recall(2, 4)
    assert r_multi > r_single, (r_single, r_multi)
    assert recall(6, 2) >= 0.8


def test_compact_parquet_reduces_files(spark, sf_dir):
    """Compaction rewrites a fragmented dataset into few files with the
    data intact (count + checksum), via temp-dir + FileSystem swap."""
    from kickstarter_etl_pipeline_spark.sources.sinks import compact_parquet

    path = os.path.join(SCRATCH, "compact_demo")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(48).write.mode("overwrite").parquet(path)

    def file_count() -> int:
        return len([f for f in os.listdir(path) if f.endswith(".parquet")])

    def checksum() -> int:
        df = spark.read.parquet(path)
        return df.count(), df.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()[0][0]

    before_files, before_sum = file_count(), checksum()
    assert before_files >= 48
    written = compact_parquet(spark, path, target_files=4)
    assert written == 4
    assert file_count() == 4
    assert checksum() == before_sum


def test_connected_components_clusters(spark):
    """Min-label propagation must label every node with its component's
    minimum id, singletons included, across multi-hop chains."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], ["id"])
    # chain 1-2-3-4 (diameter 3), pair 5-6, singletons 7, 8
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (5, 6)], ["src", "dst"])
    got = {r["id"]: r["component_id"] for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_ivf_lloyd_deterministic_and_recall(spark, sf_dir):
    """The integer-grid Lloyd IVF must be bit-deterministic across
    independent builds (the whole point of replacing the seeded ml
    fit) and keep useful recall vs exact brute force (measured 0.81
    at sf0.01 with n_probe=4 of 8 cells)."""
    from kickstarter_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_lloyd_topk,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    key = lambda r: (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
    run1 = sorted(map(key, ivf_lloyd_topk(emb, queries).collect()))
    run2 = sorted(map(key, ivf_lloyd_topk(emb, queries).collect()))
    assert run1 == run2  # bit-identical across independent index builds
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {(q, n) for q, n, _, _ in run1}
    assert len(approx & exact) / len(exact) >= 0.5


def test_pca_power_degenerate_zero_matrix(spark):
    """All-identical embeddings → the centered matrix is zero, the
    power-iteration norm is 0.0, and the pre-r9 code raised
    ZeroDivisionError while the DuckDB twin kept computing (round-8
    ADVICE finding). Both sides now emit zero weights; assert the
    operator completes and reports pc1_weight = 0.0 / variance 0.0."""
    from kickstarter_etl_pipeline_spark.operators.similarity import pca_top_component

    emb = spark.createDataFrame(
        [(i, [0.25] * 8) for i in range(5)], "vec_id long, embedding array<double>"
    )
    rows = pca_top_component(emb, n_iters=3).collect()
    assert len(rows) == 8
    assert all(r["pc1_weight"] == 0.0 and r["pc1_variance"] == 0.0 for r in rows)


def test_hits_partition_invariant(spark, sf_dir, narrow_loops):
    """graph.hits claims an EXACT integer spine (edge sums are long
    aggregates, the only float is the fixed normalize-and-snap tree) —
    so unlike pagerank's grid-margin argument, partition count must
    provably not move ANY score. Pin it: 3-partition vs 17-partition
    edge inputs and a different loop width must produce the identical
    score table."""
    from kickstarter_etl_pipeline_spark.operators.graph import hits
    from kickstarter_etl_pipeline_spark.operators.graph_queries import q_graph_hits

    base = {(r["role"], r["id"], r["score"])
            for r in q_graph_hits(spark, sf_dir).collect()}
    assert base
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    from pyspark.sql import functions as F2

    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F2.col("o_custkey").alias("c"), F2.col("l_suppkey").alias("s"))
        .repartition(17)
    )
    narrow_loops()
    again = {(r["role"], r["id"], r["score"])
             for r in hits(edges, iterations=4).collect()}
    assert again == base


def test_bm25_partition_invariant(spark, sf_dir):
    """bm25_topk's per-doc score is an exact integer sum of nano-unit
    partial scores — partitioning must not move any rank or score."""
    from kickstarter_etl_pipeline_spark.operators.eval_queries import q_bm25_topk

    rows1 = [tuple(r) for r in q_bm25_topk(spark, sf_dir).collect()]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = [tuple(r) for r in q_bm25_topk(spark, sf_dir).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows1 == rows2 and len(rows1) == 10


def test_kcore_synthetic_and_partition_invariant(spark, narrow_loops):
    """graph.kcore is pure integer arithmetic — partition count must
    provably not move the result. Pin both the semantics (a 5-clique
    survives k=4 peeling; a pendant chain and a degree-3 satellite do
    not) and the invariance (repartitioned edges + a different
    loop width produce the identical table)."""
    from kickstarter_etl_pipeline_spark.operators.graph import kcore

    clique = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    extra = [(5, 6), (6, 7), (1, 8), (2, 8), (3, 8)]
    edges = spark.createDataFrame(clique + extra, ["u", "v"])
    expect = {(i, 4) for i in range(1, 6)}
    got = {(r["id"], r["core_degree"]) for r in kcore(edges).collect()}
    assert got == expect
    narrow_loops()
    again = {
        (r["id"], r["core_degree"])
        for r in kcore(edges.repartition(13)).collect()
    }
    assert again == expect


def test_jsd_partition_invariant(spark, sf_dir):
    """js_divergence_sources keeps every aggregate on an exact integer
    spine (nano-nat grid snapped BEFORE the pair sums) — shuffle
    partition count must not move any divergence. Also pin the JSD
    bounds: 0 <= jsd <= ln 2 (+ one 6-dp grid step)."""
    from kickstarter_etl_pipeline_spark.operators.corpus_queries import (
        q_js_divergence_sources,
    )

    rows1 = {tuple(r) for r in q_js_divergence_sources(spark, sf_dir).collect()}
    assert rows1
    for r in rows1:
        assert 0.0 <= r[3] <= 0.6931482, r
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = {
            tuple(r) for r in q_js_divergence_sources(spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows2 == rows1


def test_transitive_closure_synthetic_and_partition_invariant(spark, narrow_loops):
    """graph.transitive_closure by path doubling: pin the semantics on
    a known tree (every ancestor pair, nothing else) and the partition
    invariance (pure set algebra — repartitioned edges + a different
    loop width produce the identical closure)."""
    from kickstarter_etl_pipeline_spark.operators.graph import transitive_closure

    # 0 -> 1 -> 2 -> 3 -> 4 chain plus a branch 1 -> 5
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (1, 5)], ["anc", "des"]
    )
    expect = {
        (0, 1), (0, 2), (0, 3), (0, 4), (0, 5),
        (1, 2), (1, 3), (1, 4), (1, 5),
        (2, 3), (2, 4), (3, 4),
    }
    got = {(r["anc"], r["des"]) for r in transitive_closure(edges, rounds=3).collect()}
    assert got == expect
    narrow_loops()
    again = {
        (r["anc"], r["des"])
        for r in transitive_closure(edges.repartition(11), rounds=5).collect()
    }
    assert again == expect


def test_hierarchy_rollup_arithmetic_identities(spark, sf_dir):
    """part_hierarchy_rollup invariants that hold for ANY part table:
    the root (key 0) rolls up every part (subtree_count = N, value =
    total cents), every leaf has subtree_count 1 = its own cents, and
    depth equals the 4-ary ancestor-chain length floor-log formula."""
    from kickstarter_etl_pipeline_spark.operators.graph_queries import (
        q_part_hierarchy_rollup,
    )

    rows = {r["p_partkey"]: r for r in q_part_hierarchy_rollup(spark, sf_dir).collect()}
    n = len(rows)
    root = rows[0]
    assert root["depth"] == 0 and root["subtree_count"] == n
    # depth: walk the parent chain in Python (exact replica of the
    # derived taxonomy) for a sample of keys.
    for k in list(rows)[:50]:
        d, x = 0, k
        while x >= 1:
            x = (x - 1) // 4
            d += 1
        assert rows[k]["depth"] == d, (k, d, rows[k]["depth"])
    # leaves' cents sum to the root's rollup only when every internal
    # node's own value is included too — assert the stronger identity:
    # root subtree value == sum of every node's own cents, where own
    # cents = subtree - sum(children subtrees).
    children = {}
    for k in rows:
        if k >= 1:
            children.setdefault((k - 1) // 4, []).append(k)
    own_total = sum(
        r["subtree_value_cents"]
        - sum(rows[c]["subtree_value_cents"] for c in children.get(k, []))
        for k, r in rows.items()
    )
    assert root["subtree_value_cents"] == own_total


def test_dsir_partition_invariant(spark, sf_dir):
    """dsir_selection_report's log weights are exact integer sums of
    grid-snapped per-bucket log-odds — shuffle partition count must
    not move any rank, weight, or selected doc."""
    from kickstarter_etl_pipeline_spark.operators.lm_queries import (
        q_dsir_selection_report,
    )

    rows1 = [tuple(r) for r in q_dsir_selection_report(spark, sf_dir).collect()]
    assert len(rows1) == 100
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = [tuple(r) for r in q_dsir_selection_report(spark, sf_dir).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows1 == rows2


def test_snm_partition_invariant(spark, sf_dir):
    """snm_blocking_report: the sort keys are pure row expressions and
    the rank is totally ordered by (key, doc_id), so partitioning must
    not move any metric. Also pin the window arithmetic: candidates
    <= 2 passes x N x (w-1) and reduction/completeness in [0, 1]."""
    from kickstarter_etl_pipeline_spark.operators.eval_queries import (
        q_snm_blocking_report,
    )

    row1 = q_snm_blocking_report(spark, sf_dir).collect()[0]
    assert row1["n_candidates"] <= 2 * row1["n_docs"] * 5
    assert 0.0 <= row1["reduction_ratio"] <= 1.0
    assert 0.0 <= row1["pairs_completeness"] <= 1.0
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        row2 = q_snm_blocking_report(spark, sf_dir).collect()[0]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert tuple(row1) == tuple(row2)


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_round9_new_queries_plan_contracts(spark, sf_dir):
    """Plan shapes the round-9 third-session queries were designed to:
    DSIR's 128-row bucket model must ride a broadcast and its top-100
    must be a TakeOrdered (no global sort of the corpus); the SNM
    pairing and the closure self-join must stay equi-joins — a
    CartesianProduct or broadcast nested loop anywhere means the
    rank+d / midpoint-key design regressed into an all-pairs plan."""
    from kickstarter_etl_pipeline_spark.operators.eval_queries import (
        q_snm_blocking_report,
    )
    from kickstarter_etl_pipeline_spark.operators.graph_queries import (
        q_part_hierarchy_rollup,
    )
    from kickstarter_etl_pipeline_spark.operators.lm_queries import (
        q_dsir_selection_report,
    )

    dsir = _formatted_plan(q_dsir_selection_report(spark, sf_dir))
    assert "BroadcastHashJoin" in dsir
    assert "TakeOrderedAndProject" in dsir
    assert "CartesianProduct" not in dsir

    for q in (q_part_hierarchy_rollup, q_snm_blocking_report):
        plan = _formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__
        # broadcast nested loops are the non-equi fallback; the only
        # legitimate BNLJ in these plans would be a one-row scalar
        # broadcast, which both queries express as crossJoin(broadcast)
        # of single-row aggregates — SNM's metric assembly. The pairing
        # joins themselves must be hash equi-joins.
        assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, q.__name__


def test_bfs_depths_synthetic_and_partition_invariant(spark, narrow_loops):
    """graph.bfs_depths: exact depths on a known graph (source = min
    id), fixed-round truncation honored, no rows (no invented source)
    for an empty or self-loop-only edge list, and partition invariance
    (pure set algebra)."""
    from kickstarter_etl_pipeline_spark.operators.graph import bfs_depths

    # 1-2-3-4-5 chain, a 1-6 shortcut, and an isolated 8-9 edge:
    # source is vertex 1; the 8-9 component is unreachable.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (8, 9)], ["u", "v"]
    )
    expect = {(1, 0), (2, 1), (6, 1), (3, 2), (4, 3), (5, 4)}
    got = {(r["id"], r["depth"]) for r in bfs_depths(edges, rounds=8).collect()}
    assert got == expect
    # rounds=2 truncates at distance 2 — the fixed-round contract.
    got2 = {(r["id"], r["depth"]) for r in bfs_depths(edges, rounds=2).collect()}
    assert got2 == {(1, 0), (2, 1), (6, 1), (3, 2)}
    empty = spark.createDataFrame([], "u long, v long")
    loops = spark.createDataFrame([(1, 1), (2, 2)], ["u", "v"])
    assert bfs_depths(empty, rounds=8).collect() == []
    assert bfs_depths(loops, rounds=8).collect() == []
    narrow_loops()
    again = {
        (r["id"], r["depth"])
        for r in bfs_depths(edges.repartition(9), rounds=8).collect()
    }
    assert again == expect


def test_prefix_join_equals_exact_and_synthetic(spark, sf_dir):
    """jaccard_prefix_join: (1) on a synthetic corpus with a known
    near-dup pair and an easy miss, the prefix-filtered result equals
    the hand-computed exact pair set; (2) on the fixture it equals the
    brute-force exact operator restricted to the same integer keep
    rule — the completeness theorem checked against the in-repo exact
    tier (the driver grade re-proves it against DuckDB)."""
    from kickstarter_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "an entirely different document about spark shuffles"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_filtered_jaccard_pairs(docs).collect()
    }
    # docs 1/2 share 7 of their 8+8 distinct 3-shingles each:
    # J = 7/9 >= 7/10; doc 3 shares nothing.
    assert got == {(1, 2)}

    fixture = load_table(spark, sf_dir, "documents")
    got_fix = {
        (r["id_a"], r["id_b"])
        for r in prefix_filtered_jaccard_pairs(fixture).collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(fixture, threshold=0.7).collect()
    }
    # threshold=0.7 in the exact tier filters on the 6dp-snapped float;
    # the integer rule 17*common >= 7*(na+nb) admits exactly the same
    # pairs unless a pair sits within 5e-7 of the boundary — assert set
    # equality and let any boundary pair surface as a failure to audit.
    assert got_fix == brute


def test_positional_filter_prunes_without_losing_pairs(spark):
    """The r14 positional filter (PPJoin proper) must strictly shrink
    the candidate set AND never drop a pair the verify step would keep
    — completeness is a theorem (_prefix_candidates docstring); this
    checks both sides empirically on the same staged frame. Runs at
    sf0.01: pruning power grows with block size (at sf0.001 the filter
    is a no-op — blocks are tiny; at sf0.1 it cuts 104,502 → 33,389,
    the SCALE.md measurement)."""
    from tests.conftest import SF_CORRECT

    from kickstarter_etl_pipeline_spark.operators.dedup import (
        _prefix_candidates,
        with_shingles,
    )
    from kickstarter_etl_pipeline_spark.operators.partitioning import (
        ensure_min_partitions,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    staged = (
        with_shingles(ensure_min_partitions(docs), 3)
        .select("doc_id", "_sh", F.size("_sh").cast("long").alias("_size"))
        .filter(F.col("_size") >= 1)
        .localCheckpoint(eager=True)
    )
    with_pos = {
        (r["id_a"], r["id_b"])
        for r in _prefix_candidates(staged, 7, 10, positional=True).collect()
    }
    without = {
        (r["id_a"], r["id_b"])
        for r in _prefix_candidates(staged, 7, 10, positional=False).collect()
    }
    assert with_pos < without, (len(with_pos), len(without))
    # no true pair lost: every verified pair must still be a candidate
    sets = {r["doc_id"]: set(r["_sh"]) for r in staged.collect()}
    for ia, ib in without - with_pos:
        common = len(sets[ia] & sets[ib])
        assert common * 17 < (len(sets[ia]) + len(sets[ib])) * 7, (ia, ib)


def test_bootstrap_ci_partition_invariant_and_sane(spark, sf_dir):
    """bootstrap_ci_report: replicate means are exact integer floor
    divisions of md5-deterministic weighted sums — partition count must
    not move a bound; CI must bracket the point estimate."""
    from kickstarter_etl_pipeline_spark.operators.stats_queries import (
        q_bootstrap_ci_report,
    )

    rows1 = sorted(tuple(r) for r in q_bootstrap_ci_report(spark, sf_dir).collect())
    assert len(rows1) == 5
    for _, n, point, lo, hi in rows1:
        assert n > 0 and lo <= point <= hi
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = sorted(tuple(r) for r in q_bootstrap_ci_report(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows1 == rows2


def test_mutual_information_nonneg_total_and_partition_invariant(spark, sf_dir):
    """mutual_information_report: total MI (sum of per-source
    contributions) must be >= 0 up to grid noise (information
    inequality; individual source contributions may be negative), and
    the nano-nat integer sums make it partition-invariant."""
    from kickstarter_etl_pipeline_spark.operators.corpus_queries import (
        q_mutual_information_report,
    )

    rows1 = sorted(tuple(r) for r in q_mutual_information_report(spark, sf_dir).collect())
    total = sum(r[2] for r in rows1)
    # grid noise: each cell snaps at 1e-9 nats, weighted sums stay
    # within ~1e-6 of the true MI — the true value is >= 0.
    assert total >= -1e-5
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = sorted(tuple(r) for r in q_mutual_information_report(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows1 == rows2


def test_two_phase_rank_max_col_matches_plain_window(spark):
    """The max_col extension must reproduce a plain global exclusive
    running max bit-for-bit at any partition count (the skyline
    operator's correctness rests on it)."""
    from pyspark.sql import Window

    rows = [(i, (i * 37) % 19) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "v"])
    expect = {
        (r["k"], r["m"])
        for r in df.withColumn(
            "m",
            F.max("v").over(
                Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
            ),
        ).collect()
    }
    for n_parts in (2, 5, 8):
        got = {
            (r["k"], r["cum_max_excl"])
            for r in two_phase_rank(df, ["k"], max_col="v", n_parts=n_parts).collect()
        }
        assert got == expect, n_parts


def test_pareto_frontier_dominance_and_partition_invariance(spark, sf_dir):
    """pareto_frontier_parts: every returned point must be undominated
    and every omitted candidate dominated (checked brute-force on the
    collected candidate set — control-sized), and the result must not
    move with the shuffle partition count."""
    from kickstarter_etl_pipeline_spark.operators.stats_queries import (
        q_pareto_frontier_parts,
    )
    from kickstarter_etl_pipeline_spark.sources.readers import load_table as _lt

    rows1 = sorted(tuple(r) for r in q_pareto_frontier_parts(spark, sf_dir).collect())
    part = _lt(spark, sf_dir, "part").select("p_retailprice", "p_size").collect()
    pts = {}
    for r in part:
        c = int(r["p_retailprice"] * 100 + 0.5)
        pts[c] = max(pts.get(c, -1), int(r["p_size"]))
    def dominated(c, s):
        return any(oc < c and os_ >= s for oc, os_ in pts.items())
    frontier = {(int(p * 100 + 0.5), s) for p, s, _ in rows1}
    for c, s in pts.items():
        assert ((c, s) in frontier) == (not dominated(c, s)), (c, s)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = sorted(tuple(r) for r in q_pareto_frontier_parts(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows1 == rows2


def test_kaplan_meier_curve_properties(spark, sf_dir):
    """kaplan_meier_survival: log-survival is non-increasing over event
    days, n_at_risk strictly decreasing, and the day-0 value equals
    ln((n-d)/n) of the first event day (single-term prefix)."""
    import math

    from kickstarter_etl_pipeline_spark.operators.stats_queries import (
        q_kaplan_meier_survival,
    )

    rows = sorted(
        (r["event_day"], r["n_at_risk"], r["n_events"], r["log_survival"])
        for r in q_kaplan_meier_survival(spark, sf_dir).collect()
    )
    assert rows, "no event days in fixture"
    risks = [r[1] for r in rows]
    assert risks == sorted(risks, reverse=True)
    ls = [r[3] for r in rows if r[3] is not None]
    assert ls == sorted(ls, reverse=True)
    d0, n0, e0, l0 = rows[0]
    expect0 = math.floor(
        math.floor(math.log((n0 - e0) / n0) * 1e9 + 0.5) / 1e9 * 1e6 + 0.5
    ) / 1e6
    assert l0 == expect0


def test_multitouch_attribution_conserves_credit(spark, sf_dir):
    """Every converted purchase with >= 1 touch must distribute exactly
    10000 bp: the grand total of credit_bp equals 10000 x (number of
    purchases with at least one touchpoint in the 7-day window),
    recomputed independently here. Partition count must not move it."""
    from kickstarter_etl_pipeline_spark.operators import events as EV
    from kickstarter_etl_pipeline_spark.operators.stats_queries import (
        q_multitouch_attribution,
    )

    rows1 = sorted(tuple(r) for r in q_multitouch_attribution(spark, sf_dir).collect())
    total_bp = sum(r[1] for r in rows1)
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_u"), F.col("event_id").alias("_pid"),
        F.col("_us").alias("_pts"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("user_id").alias("_u"), F.col("_us").alias("_tts"),
    )
    week = 7 * 86400000000
    n_converted = (
        p.join(t, "_u")
        .filter((F.col("_tts") < F.col("_pts")) & (F.col("_tts") >= F.col("_pts") - week))
        .select("_pid").distinct().count()
    )
    assert total_bp == 10000 * n_converted
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = sorted(tuple(r) for r in q_multitouch_attribution(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert rows1 == rows2


def test_bleu_overlap_bounds_and_totals(spark, sf_dir):
    """bleu_overlap_report: log-BLEU <= 0 always (precisions and the
    brevity penalty are both <= 1 in log space <= 0), gram totals are
    strictly decreasing in n for docs long enough to have all four, and
    matched counts never exceed totals."""
    from kickstarter_etl_pipeline_spark.operators.corpus_queries import (
        q_bleu_overlap_report,
    )

    rows = q_bleu_overlap_report(spark, sf_dir).collect()
    assert rows
    saw_scored = False
    for r in rows:
        if r["log_bleu"] is not None:
            saw_scored = True
            assert r["log_bleu"] <= 0.0
        for n, (m, t) in enumerate(
            [(r["m1"], r["n_tokens"]), (r["m2"], None), (r["m3"], None), (r["m4"], None)]
        ):
            if m is not None and t is not None:
                assert m <= t
    assert saw_scored, "fixture contains no benchmark-overlapping doc"


def test_spectral_coordinate_separates_two_cliques(spark, narrow_loops):
    """spectral_coordinate: on two 4-cliques joined by a single bridge
    edge, the sign of the coordinate must separate the cliques (the
    classic spectral-bipartition sanity case), and the result must be
    partition-count invariant (every stage is grid-snapped)."""
    from kickstarter_etl_pipeline_spark.operators.graph import spectral_coordinate

    clique_a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    clique_b = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    edges = spark.createDataFrame(clique_a + clique_b + [(0, 10)], ["u", "v"])
    rows1 = {r["id"]: (r["spectral_x"], r["side"]) for r in
             spectral_coordinate(edges).collect()}
    sides_a = {rows1[i][1] for i in range(4)}
    sides_b = {rows1[i][1] for i in range(10, 14)}
    assert len(sides_a) == 1 and len(sides_b) == 1 and sides_a != sides_b
    narrow_loops()
    rows2 = {r["id"]: (r["spectral_x"], r["side"]) for r in
             spectral_coordinate(edges).collect()}
    assert rows1 == rows2


def test_session4_plan_contracts(spark, sf_dir):
    """Plan shapes of the round-9 fourth-session queries: no
    CartesianProduct anywhere (the skyline's quadratic NOT-EXISTS
    exists only as the DuckDB oracle; Spark must stay on the prefix-max
    reduction), the prefix join's candidate generation must be hash
    equi-joins, and the bootstrap must keep its one-row broadcast-free
    single-aggregate shape (only hash aggregates, no sort of the fact
    table)."""
    from kickstarter_etl_pipeline_spark.operators.stats_queries import (
        q_bootstrap_ci_report,
        q_multitouch_attribution,
        q_pareto_frontier_parts,
    )
    from kickstarter_etl_pipeline_spark.qdefs_star_events import q_jaccard_prefix_join

    for q in (
        q_jaccard_prefix_join,
        q_pareto_frontier_parts,
        q_bootstrap_ci_report,
        q_multitouch_attribution,
    ):
        plan = _formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__
    jac = _formatted_plan(q_jaccard_prefix_join(spark, sf_dir))
    assert (
        "SortMergeJoin" in jac or "ShuffledHashJoin" in jac or "BroadcastHashJoin" in jac
    )


def test_capped_balance_floor_binds(spark):
    """capped_running_balance's fold on a crafted sequence where the
    zero floor BINDS (so the result differs from a plain running sum —
    the non-associativity the sequential fold exists for), plus the
    running max. Built through a temp view of the same shape the query
    reads."""
    import datetime

    rows = [
        # user 1: +10, -25 (floors to 0), +7  -> final 7, max 10
        (1, 1, datetime.datetime(2000, 1, 1, 0, 0, 0), "view", 10.0),
        (2, 1, datetime.datetime(2000, 1, 1, 0, 1, 0), "purchase", 25.0),
        (3, 1, datetime.datetime(2000, 1, 1, 0, 2, 0), "view", 7.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory(dir=SCRATCH if os.path.isdir(SCRATCH) else None) as d:
        df.withColumn("props", F.lit("{}")).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        from kickstarter_etl_pipeline_spark.operators.stats_queries import (
            q_capped_running_balance,
        )

        got = {
            r["user_id"]: (r["final_balance"], r["max_balance"])
            for r in q_capped_running_balance(spark, d).collect()
        }
    assert got == {1: (7.0, 10.0)}


def test_bellman_ford_prefers_cheaper_multihop(spark, narrow_loops):
    """bellman_ford_distances on a graph where the weighted shortest
    path differs from the hop-shortest one (direct edge 10 vs 3+3 via
    a middle vertex), plus fixed-round truncation, no rows (no invented
    source) for an empty or self-loop-only edge list, and partition
    invariance (pure integer min-plus)."""
    from kickstarter_etl_pipeline_spark.operators.graph import bellman_ford_distances

    edges = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 3), (2, 3, 3), (3, 4, 1)], ["u", "v", "w"]
    )
    got = {r["id"]: r["dist"] for r in bellman_ford_distances(edges, rounds=6).collect()}
    assert got == {1: 0, 2: 3, 3: 6, 4: 7}
    # one round only relaxes direct neighbors: 3 keeps the direct 10.
    got1 = {r["id"]: r["dist"] for r in bellman_ford_distances(edges, rounds=1).collect()}
    assert got1 == {1: 0, 2: 3, 3: 10}
    empty = spark.createDataFrame([], "u long, v long, w long")
    loops = spark.createDataFrame([(1, 1, 5), (2, 2, 5)], ["u", "v", "w"])
    assert bellman_ford_distances(empty, rounds=6).collect() == []
    assert bellman_ford_distances(loops, rounds=6).collect() == []
    narrow_loops()
    got_p = {
        r["id"]: r["dist"]
        for r in bellman_ford_distances(edges, rounds=6).collect()
    }
    assert got_p == got


def test_hits_degenerate_inputs(spark):
    """hits() edge guards (r9 advice): iterations < 1 is a ValueError
    (the authority frame would never be computed), and an empty edge
    set returns an empty typed result instead of sqrt(None) blowing
    up in the normalization collect."""
    import pytest as _pytest

    from pyspark.sql import functions as F2
    from kickstarter_etl_pipeline_spark.operators.graph import hits

    edges = spark.createDataFrame([(1, 2)], "c long, s long")
    with _pytest.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)
    empty = edges.filter(F2.lit(False))
    out = hits(empty, iterations=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["role", "id", "score"]


def _mini_multi_bfs(adj, pivots, rounds):
    """Pure-Python reference of the multi-source BFS used by the
    pivot-sampled centralities."""
    out = {}
    for p in pivots:
        dist = {p: 0}
        frontier = [p]
        for t in range(1, rounds + 1):
            nxt = sorted(
                {w for c in frontier for w in adj.get(c, ()) if w not in dist}
            )
            for w in nxt:
                dist[w] = t
            frontier = nxt
        out[p] = dist
    return out


def _md5s(x) -> str:
    import hashlib

    return hashlib.md5(str(x).encode()).hexdigest()


def test_harmonic_centrality_matches_reference_and_partitions(spark, narrow_loops):
    """harmonic_centrality on a hand-sized graph equals a pure-Python
    replay of the contract (md5-ordered pivots, BFS depths, exact
    60 DIV d inverse-distance mass), and a different partitioning
    produces the identical table (integer ops — partition count
    provably cannot move the result)."""
    from kickstarter_etl_pipeline_spark.operators.graph import harmonic_centrality

    raw = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (6, 7), (8, 9)]
    edges = spark.createDataFrame(raw, ["u", "v"])
    adj = {}
    for a, b in raw:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    verts = sorted(adj)
    pivots = sorted(verts, key=lambda i: (_md5s(i), i))[:2]
    ref_bfs = _mini_multi_bfs(adj, pivots, rounds=3)
    expect = {}
    for p, dist in ref_bfs.items():
        for v, d in dist.items():
            if d > 0:
                n, hx = expect.get(v, (0, 0))
                expect[v] = (n + 1, hx + 60 // d)
    want = {
        (v, n, hx / 60.0) for v, (n, hx) in expect.items()
    }
    got = {
        (r["id"], r["n_pivots_reached"], r["_harmonic_raw"])
        for r in harmonic_centrality(edges, pivots=2, rounds=3).collect()
    }
    assert got == want
    narrow_loops()
    again = {
        (r["id"], r["n_pivots_reached"], r["_harmonic_raw"])
        for r in harmonic_centrality(edges.repartition(9), pivots=2, rounds=3).collect()
    }
    assert again == want


def test_betweenness_matches_reference_and_partitions(spark, narrow_loops):
    """betweenness_sampled equals a pure-Python Brandes replay under
    the integer-nano contract (per-term (σv·(10⁹+δ̂w)) // σw, exact
    sums), including σ_total; partition-invariant."""
    from kickstarter_etl_pipeline_spark.operators.graph import betweenness_sampled

    raw = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (2, 3), (7, 8)]
    edges = spark.createDataFrame(raw, ["u", "v"])
    adj = {}
    for a, b in raw:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    verts = sorted(adj)
    pivots = sorted(verts, key=lambda i: (_md5s(i), i))[:2]
    rounds = 4
    ref_bfs = _mini_multi_bfs(adj, pivots, rounds)
    # forward sigma
    sig = {}
    for p, dist in ref_bfs.items():
        s = {p: 1}
        for t in range(1, rounds + 1):
            for v in sorted(x for x, d in dist.items() if d == t):
                s[v] = sum(
                    s[u] for u in adj[v] if dist.get(u, -1) == t - 1
                )
        sig[p] = s
    # backward delta in nanos
    expect = {}
    for p, dist in ref_bfs.items():
        dn = {}
        for t in range(rounds, -1, -1):
            for v in (x for x, d in dist.items() if d == t):
                dn[v] = sum(
                    (sig[p][v] * (10**9 + dn[w])) // sig[p][w]
                    for w in adj[v]
                    if dist.get(w, -1) == t + 1
                )
        for v, d in dist.items():
            if d > 0:
                st, dt = expect.get(v, (0, 0))
                expect[v] = (st + sig[p][v], dt + dn[v])
    want = {(v, st, dt / 1e9) for v, (st, dt) in expect.items()}
    got = {
        (r["id"], r["sigma_total"], r["_betweenness_raw"])
        for r in betweenness_sampled(edges, pivots=2, rounds=rounds).collect()
    }
    assert got == want
    narrow_loops()
    again = {
        (r["id"], r["sigma_total"], r["_betweenness_raw"])
        for r in betweenness_sampled(
            edges.repartition(7), pivots=2, rounds=rounds
        ).collect()
    }
    assert again == want


def test_rotor_walks_matches_reference_and_partitions(spark, narrow_loops):
    """rotor_walks equals a pure-Python replay of the hash-greedy next
    hop (argmin of (md5('t:c:v'), v) over neighbors — a pure function
    of (step, vertex), so co-located walks merge); partition-invariant."""
    from kickstarter_etl_pipeline_spark.operators.graph import rotor_walks

    raw = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 6)]
    edges = spark.createDataFrame(raw, ["u", "v"])
    adj = {}
    for a, b in raw:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = set()
    for start in sorted(adj):
        cur = start
        want.add((start, 0, cur))
        for t in range(1, 5):
            cur = min(adj[cur], key=lambda v: (_md5s(f"{t}:{cur}:{v}"), v))
            want.add((start, t, cur))
    got = {
        (r["start_id"], r["step"], r["id"])
        for r in rotor_walks(edges).collect()
    }
    assert got == want
    narrow_loops()
    again = {
        (r["start_id"], r["step"], r["id"])
        for r in rotor_walks(edges.repartition(5)).collect()
    }
    assert again == want


def test_ktruss_peels_to_known_core_and_partitions(spark, narrow_loops):
    """ktruss(k=4): a K4 survives (every edge in 2 triangles of the
    survivor set), a lone triangle and a pendant edge peel away;
    partition-invariant."""
    from kickstarter_etl_pipeline_spark.operators.graph import ktruss

    raw = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]  # K4
        + [(5, 6), (5, 7), (6, 7)]  # lone triangle: support 1 < 2
        + [(4, 8)]  # pendant
    )
    edges = spark.createDataFrame(raw, ["u", "v"])
    want = {(u, v, 2) for u, v in raw[:6]}
    got = {
        (r["u"], r["v"], r["support"]) for r in ktruss(edges).collect()
    }
    assert got == want
    narrow_loops()
    again = {
        (r["u"], r["v"], r["support"])
        for r in ktruss(edges.repartition(7)).collect()
    }
    assert again == want


def test_betweenness_bigint_guard_raises_loudly():
    """The documented σ·(10⁹+δ̂) < 2⁶³ contract is now a runtime guard:
    in-bound (max_sigma · (V+1) below 2⁶³/10⁹) passes silently; a
    pathological path-count explosion raises a RuntimeError naming the
    decimal-widening fix instead of letting Spark long arithmetic wrap
    while DuckDB raises (the silent cross-engine divergence ADVICE r12
    flagged)."""
    import pytest

    from kickstarter_etl_pipeline_spark.operators.graph import (
        _guard_betweenness_bound,
    )

    _guard_betweenness_bound(0, 0)
    _guard_betweenness_bound(10**6, 1000)          # the documented regime
    _guard_betweenness_bound(9_223_372_035, 0)     # just under the limit
    with pytest.raises(RuntimeError, match="decimal"):
        _guard_betweenness_bound(9_223_372_036, 0)
    with pytest.raises(RuntimeError, match="2\\^63"):
        _guard_betweenness_bound(10**7, 10**3)     # σ past the 1e6 regime
