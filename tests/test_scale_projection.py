"""Empirical scale projection (plans/projection.py): the measured
growth-law classifier must call a bounded aggregate bounded, a
data-sized join linear, and a genuine pair blow-up superlinear — on
REAL executions at two fixture scales, not on synthetic numbers."""

from __future__ import annotations

import json
import sys
from collections import Counter

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark import queries as registry
from kickstarter_etl_pipeline_spark import session
from kickstarter_etl_pipeline_spark.plans.projection import (
    main,
    parse_metric,
    run_with_metrics,
    scaling_report,
)

SMALL, BIG = "/root/testdata/sf0.001", "/root/testdata/sf0.01"


def test_parse_metric_units_and_forms():
    assert parse_metric("6,000") == 6000
    assert parse_metric("215.0 B") == 215.0
    assert parse_metric("13.5 KiB") == 13.5 * 1024
    assert parse_metric("2.0 MiB") == 2 * 2**20
    assert parse_metric("1.5 GiB") == 1.5 * 2**30
    # the min/med/max aggregate display form: leading total wins
    assert parse_metric("total (min, med, max)\n28.1 KiB (0.0 B, 1.0 KiB, 2.0 KiB)") == 28.1 * 1024
    assert parse_metric("") == 0.0


def test_run_with_metrics_sees_exchange_and_join(spark):
    o = spark.read.parquet(f"{SMALL}/orders.parquet")
    l = spark.read.parquet(f"{SMALL}/lineitem.parquet")
    df = o.hint("merge").join(l, o.o_orderkey == l.l_orderkey).groupBy(
        "o_orderstatus"
    ).count()
    stats, _ = run_with_metrics(spark, df)
    names = {s.name for s in stats}
    assert "Exchange" in names and "SortMergeJoin" in names
    assert all(s.value >= 0 for s in stats)


def test_bounded_aggregate_is_bounded(spark):
    def build(sp, d):
        return (
            sp.read.parquet(f"{d}/orders.parquet")
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("c"))
        )

    rep = scaling_report(build, spark, SMALL, BIG, 0.001, 0.01)
    assert rep.shape_match
    # 3 status groups at any sf: every exchange + the final aggregate
    # stay under the noise floor / flat.
    assert rep.worst == "bounded", [(n.name, n.kind, n.v_small, n.v_big, n.cls) for n in rep.nodes]


def test_data_sized_join_is_linear_not_superlinear(spark):
    def build(sp, d):
        o = sp.read.parquet(f"{d}/orders.parquet")
        l = sp.read.parquet(f"{d}/lineitem.parquet")
        return (
            o.hint("merge")
            .join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.sum("l_quantity").alias("q"))
        )

    rep = scaling_report(build, spark, SMALL, BIG, 0.001, 0.01)
    assert rep.shape_match
    assert rep.worst in ("linear", "bounded")
    joins = [n for n in rep.nodes if "Join" in n.name]
    assert joins and all(n.cls == "linear" for n in joins), [
        (n.name, n.v_small, n.v_big, n.alpha) for n in joins
    ]


def test_pair_blowup_is_flagged_superlinear(spark):
    """events ⋈ events on event_type (a FIXED enumeration, so group
    sizes grow with data): ~Σ n_t² output rows — alpha ≈ 2 on a 10×
    input step. THE case the projection exists for. Fixture notes:
    documents/embeddings are constant between sf0.001 and sf0.01 (why
    the denominator is MEASURED scan growth), and events grows by
    adding USERS at constant per-user depth (why a user_id self-join
    would be linear — pinned as such in the test above this one's
    sibling); event_type is the key that actually squares. The %4
    prefilter (not pushdown-able, so scan growth stays 10×) keeps the
    pair count test-sized."""

    def build(sp, d):
        ev = (
            sp.read.parquet(f"{d}/events.parquet")
            .filter(F.col("event_id") % 4 == 0)
            .select("event_id", "event_type")
        )
        a = ev.select(F.col("event_id").alias("ida"), "event_type")
        b = ev.select(F.col("event_id").alias("idb"), "event_type")
        return (
            a.join(b, "event_type")
            .filter(F.col("ida") < F.col("idb"))
            .groupBy("event_type")
            .agg(F.count("*").alias("pairs"))
        )

    rep = scaling_report(build, spark, SMALL, BIG, 0.001, 0.01)
    assert rep.input_growth > 5, rep.input_growth
    assert rep.worst == "superlinear", [
        (n.name, n.kind, n.v_small, n.v_big, n.alpha, n.cls) for n in rep.nodes
    ]
    flagged = [n for n in rep.nodes if n.cls == "superlinear"]
    assert any("Join" in n.name or n.name == "HashAggregate" for n in flagged)
    assert all(n.alpha > 1.5 for n in flagged)


def test_no_spill_at_fixture_scale(spark):
    """Spill-aware, measured: a well-sized sort-merge join + aggregate
    at fixture scale must record ZERO spill bytes — if this ever goes
    positive, partition sizing regressed (or the host is genuinely
    memory-starved, which the bench ledger would corroborate)."""
    o = spark.read.parquet(f"{BIG}/orders.parquet")
    l = spark.read.parquet(f"{BIG}/lineitem.parquet")
    df = (
        o.hint("merge")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.sum("l_quantity").alias("q"))
    )
    assert run_with_metrics(spark, df)[1] == 0.0


def test_static_input_is_reported_not_misclassified(spark):
    """Between sf0.001 and sf0.01 the documents table does NOT grow;
    a pair join over it must come back static-input (nothing to fit),
    never 'bounded' (the lie the measured-scan-growth denominator
    exists to prevent)."""

    def build(sp, d):
        a = sp.read.parquet(f"{d}/documents.parquet").select(
            F.col("doc_id").alias("ida"), F.col("lang")
        )
        b = sp.read.parquet(f"{d}/documents.parquet").select(
            F.col("doc_id").alias("idb"), F.col("lang")
        )
        return a.join(b, "lang").groupBy("lang").agg(F.count("*").alias("pairs"))

    rep = scaling_report(build, spark, SMALL, BIG, 0.001, 0.01)
    assert rep.input_growth <= 1.05
    assert {n.cls for n in rep.nodes} == {"static-input"}


def test_projection_cli_executes_each_scale_once(spark, monkeypatch, tmp_path):
    """The CLI builds and executes each query once per SF: the big-SF
    spill comes from the same execution the growth fit reads."""
    built = Counter()

    def counted(sp, d):
        built[d] += 1
        return sp.read.parquet(f"{d}/orders.parquet").groupBy("o_orderstatus").count()

    out = tmp_path / "projection.json"
    monkeypatch.setattr(registry, "queries", lambda: {"counted": counted})
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(
        sys,
        "argv",
        ["projection", "--small", SMALL, "--big", BIG, "--queries", "counted", "--out", str(out)],
    )
    main()
    assert built == {SMALL: 1, BIG: 1}
    (report,) = json.loads(out.read_text())
    assert report["query"] == "counted" and report["spill_bytes_at_big"] == 0.0
