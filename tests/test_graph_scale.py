"""Round-11 co-occurrence fan-out contract (VERDICT r10 task 1).

cooccurrence_edges' bucket self-join was the one remaining systematic
scale-killer: pair fan-out quadratic in per-bucket occupancy. The fix
is deterministic hash-ordered sub-bucketing (occupancy cap 64) applied
INSIDE the device and mirrored byte-for-byte in every DuckDB twin
(twin_sql). These tests pin the three contract halves:

1. a synthetic hot bucket produces the LINEAR pair count
   Σ C(sub_size, 2), not the quadratic C(n, 2);
2. below the cap, the edge set is bit-identical to the unsalted
   self-join (so every fixture-scale grade is unaffected);
3. the Spark constants and the oracle-side constants are in lockstep,
   and the DuckDB replay of the ranking produces the identical edge
   set on the real fixture tables.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest
from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators import events as EV, graph_queries as GQ, mining_queries as MQ
from kickstarter_etl_pipeline_spark.operators.graph import (
    OCCUPANCY_CAP,
    WEDGE_DEGREE_CAP,
    common_neighbor_link_prediction,
    cooccurrence_edges,
)
from kickstarter_etl_pipeline_spark import twin_sql as OGC
from kickstarter_etl_pipeline_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _hot_bucket_events(spark, n_users: int):
    """n_users distinct users all erroring inside ONE 30-min bucket."""
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(base, 1000 + i, "error") for i in range(n_users)]
    return spark.createDataFrame(rows, ["ts", "user_id", "event_type"])


def test_constants_lockstep():
    """The twins embed the caps the Spark operators apply: the wedge
    degree cap in both wedge-join twins, the occupancy cap in the
    shared co-occurrence node CTE."""
    assert (OCCUPANCY_CAP, WEDGE_DEGREE_CAP) == (64, 256)
    for module, name in ((MQ, "graph_link_prediction"), (GQ, "adamic_adar_links")):
        assert f"<= {WEDGE_DEGREE_CAP}" in module.TWINS[name], name
    assert f"- 1) // {OCCUPANCY_CAP} AS sb" in OGC.ranked_cooccurrence_nodes(1800000000)


def test_hot_bucket_pair_count_is_linear(spark):
    """1000 users in one bucket: the capped join must emit
    15·C(64,2) + C(40,2) = 31,020 pairs — linear in occupancy — not
    the quadratic C(1000,2) = 499,500 the unsalted key produces."""
    n = 1000
    ev = EV.with_unix_micros(_hot_bucket_events(spark, n))
    edges = cooccurrence_edges(ev, bucket_seconds=1800)
    full, rem = divmod(n, OCCUPANCY_CAP)
    expected = full * (OCCUPANCY_CAP * (OCCUPANCY_CAP - 1) // 2) + rem * (rem - 1) // 2
    assert expected == 31020  # the arithmetic the docstring promises
    assert edges.count() == expected


def test_hot_bucket_edges_deterministic(spark):
    """Two independent builds over a hot bucket agree exactly (the
    hash-ordered ranking is a total order, so sub-bucket membership is
    reproducible run to run)."""
    ev = EV.with_unix_micros(_hot_bucket_events(spark, 200))
    e1 = {(r["u"], r["v"]) for r in cooccurrence_edges(ev, bucket_seconds=1800).collect()}
    e2 = {(r["u"], r["v"]) for r in cooccurrence_edges(ev, bucket_seconds=1800).collect()}
    assert e1 == e2 and len(e1) > 0


def test_below_cap_identical_to_unsalted_join(spark):
    """On the real fixture events (max occupancy 8 at sf0.001 «« 64)
    the capped edge set must be bit-identical to the brute-force
    unsalted self-join — the cap only ever engages above 64."""
    ev = EV.with_unix_micros(load_table(spark, SF, "events"))
    capped = {
        (r["u"], r["v"])
        for r in cooccurrence_edges(ev, bucket_seconds=1800).collect()
    }
    nodes = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.floor(F.col("_us") / (1800 * 1_000_000)).alias("_b"), "user_id"
        )
        .distinct()
    )
    a = nodes.select("_b", F.col("user_id").alias("u"))
    b = nodes.select("_b", F.col("user_id").alias("v"))
    brute = {
        (r["u"], r["v"])
        for r in a.join(b, "_b").filter(F.col("u") < F.col("v")).select("u", "v").distinct().collect()
    }
    assert capped == brute and len(capped) > 0


def test_duckdb_twin_replays_identical_edges(spark):
    """The shared SQL fragment must build the exact same edge set as
    the Spark device on the real fixture tables — the cross-engine
    half of the byte-for-byte mirroring contract."""
    ev = EV.with_unix_micros(load_table(spark, SF, "events"))
    spark_edges = {
        (r["u"], r["v"])
        for r in cooccurrence_edges(ev, bucket_seconds=600).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    sql = f"WITH {OGC.cooccurrence_edge_ctes(600000000)} SELECT u, v FROM edges"
    duck_edges = {(u, v) for u, v in con.execute(sql).fetchall()}
    assert spark_edges == duck_edges and len(spark_edges) > 0


def test_wedge_degree_cap_excludes_hubs(spark):
    """Two hub vertices connected to the same 300 leaves: every leaf
    pair shares exactly the 2 hubs, so without the cap link prediction
    emits C(300,2) leaf-pair candidates (plus the hub-hub pair, which
    shares the 300 degree-2 leaves); with the default cap (hub degree
    300 > 256) hubs are excluded from the shared-neighbor role, so
    only the hub-hub pair survives — the quadratic leaf-pair blow-up
    is gone."""
    leaves = list(range(10_000, 10_300))
    rows = [(1, leaf) for leaf in leaves] + [(2, leaf) for leaf in leaves]
    edges = spark.createDataFrame(rows, ["u", "v"])
    capped = common_neighbor_link_prediction(edges)
    assert {(r["u"], r["v"]) for r in capped.collect()} == {(1, 2)}
    uncapped = common_neighbor_link_prediction(
        edges, wedge_degree_cap=None
    )
    assert uncapped.count() == 300 * 299 // 2 + 1


def test_wedge_degree_cap_inert_below_cap(spark):
    """Degrees below the cap: capped and uncapped predictions agree
    exactly (the fixture-scale inertness the twins rely on)."""
    rows = [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 11)]
    edges = spark.createDataFrame(rows, ["u", "v"])
    capped = {
        tuple(r) for r in common_neighbor_link_prediction(edges).collect()
    }
    uncapped = {
        tuple(r)
        for r in common_neighbor_link_prediction(
            edges, wedge_degree_cap=None
        ).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_no_session_conf_mutation_anywhere():
    """Round-12 structural tripwire (VERDICT r11 task 2's Done
    criterion, tightening the round-11 operators/-only scan): NO module
    in the package — operators, streaming, sources, functions, plans,
    root — may mutate a shared session's
    ``spark.sql.shuffle.partitions``. The retired traps: the
    loop_shuffle_partitions context manager (r11) and streaming's
    set/restore bracket around an AvailableNow run (r12) — in both, a
    query planned concurrently on the same SparkSession silently
    inherited the override. Iterative operators pin their loop frames
    per-frame (loop_frame); streaming queries that need a right-sized
    state-store partition count plan on an ``isolated_session``
    (``newSession()``) child whose SQLConf is private. The ONLY
    allowed textual occurrence is inside ``isolated_session`` itself
    (operators/partitioning.py), which provably targets a fresh
    ``newSession()`` result, never a shared session."""
    import pathlib
    import re

    pkg_dir = (
        pathlib.Path(__file__).resolve().parent.parent
        / "kickstarter_etl_pipeline_spark"
    )
    offenders = []
    for py in sorted(pkg_dir.rglob("*.py")):
        src = py.read_text()
        if not (
            'conf.set("spark.sql.shuffle.partitions"' in src
            or "conf.set('spark.sql.shuffle.partitions'" in src
        ):
            continue
        offenders.append(str(py.relative_to(pkg_dir)))
    assert not offenders, (
        f"direct session shuffle-partitions mutation (use "
        f"isolated_session instead): {offenders}"
    )
    # Structural check on the sanctioned device: isolated_session's
    # conf.set receiver must be the fresh newSession() child, and the
    # helper must never touch the parent session's conf.
    src = (pkg_dir / "operators" / "partitioning.py").read_text()
    body = src.split("def isolated_session", 1)[1]
    assert "child = spark.newSession()" in body
    assert re.search(r"\bchild\.conf\.set\(key, value\)", body)
    assert "spark.conf.set" not in body, (
        "isolated_session must never touch the parent session's conf"
    )


def test_cap_report_matches_actual_edge_count(spark):
    """The r12 observability query (cooccurrence_cap_report) must agree
    with the device it audits: on a synthetic above-cap hot bucket its
    emitted_pairs equals the ACTUAL cooccurrence_edges row count, its
    unsalted_pairs equals C(n, 2), and capped_buckets flags the bucket."""
    from kickstarter_etl_pipeline_spark.operators.graph_queries import (
        q_cooccurrence_cap_report,
    )

    n = 150
    ev = EV.with_unix_micros(_hot_bucket_events(spark, n))
    actual_edges = cooccurrence_edges(ev, bucket_seconds=1800).count()

    # Drive the report over the same events by writing them as a
    # one-table sf dir the query loader can read.
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        _hot_bucket_events(spark, n).write.parquet(f"{d}/events.parquet")
        row = q_cooccurrence_cap_report(spark, d).collect()[0]
    assert row.n_buckets == 1
    assert row.capped_buckets == 1
    assert row.max_occupancy == n
    assert row.total_nodes == n
    assert row.emitted_pairs == actual_edges
    assert row.unsalted_pairs == n * (n - 1) // 2
    assert row.emitted_pairs < row.unsalted_pairs
