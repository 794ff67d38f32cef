"""r15: bit-equality pins for the Arrow-vectorized vector-tier kernels
(operators/vector_kernels.py) against the interpreted-HOF expressions
they replaced inside ivf_lloyd_topk / semantic_dedup.

Each test evaluates BOTH formulations on the same frame — including the
degenerate rows the operator contracts never produce (null array, null
element, length mismatch, NaN element) — and asserts cell-exact
equality, so a NumPy/JVM IEEE divergence or a null-semantics drift
fails loudly here before it could reach an oracle."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.vector_kernels import (
    assign_cell_int,
    assign_cell_nano,
    dot_arrow,
    probe_cells_int,
)


@pytest.fixture(scope="module")
def int_df(spark):
    rows = []
    for i in range(40):
        rows.append((i, [(((i + 1) * 37 + j * j * 13) % 4_000_001) - 2_000_000 for j in range(64)]))
    rows.append((100, None))  # null array
    rows.append((101, [1, 2, 3]))  # wrong length
    return spark.createDataFrame(rows, "id long, v array<bigint>")


@pytest.fixture(scope="module")
def float_df(spark):
    rows = []
    for i in range(40):
        rows.append((i, [math.sin(i * 64 + j) for j in range(64)]))
    rows.append((98, [float("nan")] * 64))  # NaN elements (valid, NaN result)
    rows.append((100, None))
    rows.append((101, [0.5, 0.25]))
    return spark.createDataFrame(rows, "id long, v array<double>")


def _cents(k=8, dim=64):
    return [[(((c + 3) * 101 + j * 7) % 4_000_001) - 2_000_000 for j in range(dim)] for c in range(k)]


def _hof_cells_int(spark, df, cents):
    mat = spark.createDataFrame([(cents,)], "_cmat: array<array<bigint>>")
    expr = (
        "transform(_cmat, (cv, ci) -> named_struct("
        "'d', aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, x) -> acc + x), 'c', ci))"
    )
    return (
        df.join(F.broadcast(mat), how="cross")
        .withColumn("_cd", F.expr(expr))
        .select("id", F.array_sort("_cd").getItem(0).getField("c").alias("cell"))
    )


def test_assign_cell_int_matches_hof(spark, int_df):
    cents = _cents()
    hof = {r["id"]: r["cell"] for r in _hof_cells_int(spark, int_df, cents).collect()}
    kern = {
        r["id"]: r["cell"]
        for r in int_df.select("id", assign_cell_int(cents)(F.col("v")).alias("cell")).collect()
    }
    # degenerate rows: the HOF argmin on an all-null distance array
    # keeps insertion order (cell 0 with null d); the operator contract
    # never produces such rows, and the kernel emits NULL for them —
    # compare only the well-formed rows, and pin the kernel's
    # degenerate behavior explicitly.
    well_formed = [i for i in hof if i < 100]
    assert {i: kern[i] for i in well_formed} == {i: hof[i] for i in well_formed}
    assert kern[100] is None and kern[101] is None


def test_assign_cell_int_tie_break_first_index(spark):
    # two identical centroids -> argmin must pick the LOWER index
    df = spark.createDataFrame([(1, [5, 5])], "id long, v array<bigint>")
    cents = [[7, 7], [5, 5], [5, 5]]
    out = df.select(assign_cell_int(cents)(F.col("v")).alias("c")).first()["c"]
    assert out == 1


def test_probe_cells_int_matches_hof(spark, int_df):
    cents = _cents()
    mat = spark.createDataFrame([(cents,)], "_cmat: array<array<bigint>>")
    expr = (
        "transform(_cmat, (cv, ci) -> named_struct("
        "'d', aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, x) -> acc + x), 'c', ci))"
    )
    hof = {
        r["id"]: r["cells"]
        for r in int_df.filter("id < 100")
        .join(F.broadcast(mat), how="cross")
        .withColumn("_cd", F.expr(expr))
        .select("id", F.slice(F.array_sort("_cd"), 1, 4).getField("c").alias("cells"))
        .collect()
    }
    kern = {
        r["id"]: r["cells"]
        for r in int_df.filter("id < 100")
        .select("id", probe_cells_int(cents)(F.col("v")).alias("cells"))
        .collect()
    }
    assert kern == hof


def test_assign_cell_nano_matches_hof(spark, float_df):
    anchors = [[math.cos(c * 64 + j) for j in range(64)] for c in range(16)]
    mat = spark.createDataFrame([(anchors,)], "_am: array<array<double>>")
    expr = (
        "transform(_am, (av, ci) -> named_struct("
        "'d', CAST(floor(aggregate(zip_with(v, av, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0.0 as double), (acc, x) -> acc + x) "
        "* 1000000000.0 + 0.5) AS BIGINT), 'c', ci))"
    )
    hof = {
        r["id"]: r["cell"]
        for r in float_df.filter("id < 90")
        .join(F.broadcast(mat), how="cross")
        .withColumn("_cd", F.expr(expr))
        .select("id", F.element_at(F.array_sort("_cd"), 1).getField("c").cast("int").alias("cell"))
        .collect()
    }
    kern = {
        r["id"]: r["cell"]
        for r in float_df.filter("id < 90")
        .select("id", assign_cell_nano(anchors)(F.col("v")).alias("cell"))
        .collect()
    }
    assert kern == hof


def test_dot_arrow_matches_hof(spark, float_df):
    from kickstarter_etl_pipeline_spark.operators.similarity import dot

    pairs = (
        float_df.alias("a")
        .crossJoin(float_df.alias("b"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
    )
    both = pairs.select(
        "ia",
        "ib",
        dot(F.col("va"), F.col("vb")).alias("hof"),
        dot_arrow(F.col("va"), F.col("vb")).alias("kern"),
    ).collect()
    for r in both:
        h, k = r["hof"], r["kern"]
        if h is None or k is None:
            assert h is None and k is None, (r["ia"], r["ib"], h, k)
        elif isinstance(h, float) and math.isnan(h):
            assert math.isnan(k), (r["ia"], r["ib"], h, k)
        else:
            assert h == k, (r["ia"], r["ib"], h, k)


def test_mmr_grouped_pass_matches_legacy_plan(spark):
    """r15: mmr_diversified_topk's greedy selection moved from k−1
    driver-built plan rounds to ONE grouped Arrow pass. Pin cell-exact
    equality against the legacy Spark-plan formulation (the pre-r15
    loop, reproduced here verbatim) on a deterministic corpus — any
    drift in the Python fold's rounding/tie-break arithmetic fails
    here before it could reach an oracle."""
    from pyspark.sql import Window
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det
    from kickstarter_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        dot,
        mmr_diversified_topk,
        norm,
        query_anchors,
    )

    rows = [
        (i, [math.sin(i * 13 + j * 7) for j in range(16)]) for i in range(60)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = query_anchors(corpus, 6)
    k, pool, lam = 5, 10, 0.7

    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["mmr_score"])
        for r in mmr_diversified_topk(corpus, queries, k=k, pool=pool, lam=lam).collect()
    }

    # legacy plan-loop formulation (pre-r15 similarity.py)
    cands = brute_force_topk(corpus, queries, k=pool)
    vecs = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_nv", norm(F.col("_v")))
    cands = (
        cands.join(vecs, "neighbor_id")
        .select("query_id", "neighbor_id", F.col("cosine_sim").alias("_rel"), "_v", "_nv")
        .localCheckpoint(eager=True)
    )
    pick1 = Window.partitionBy("query_id").orderBy(F.desc("_rel"), F.asc("neighbor_id"))
    selected = (
        cands.withColumn("_rn", F.row_number().over(pick1))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id", F.lit(1).cast("int").alias("rank"), "neighbor_id",
            F.col("_rel").alias("mmr_score"), "_v", "_nv",
        )
    )
    for t in range(2, k + 1):
        sel = selected.select(
            "query_id", F.col("neighbor_id").alias("_sid"),
            F.col("_v").alias("_sv"), F.col("_nv").alias("_snv"),
        )
        rem = cands.join(
            sel.select("query_id", F.col("_sid").alias("neighbor_id")),
            on=["query_id", "neighbor_id"], how="left_anti",
        )
        scored = (
            rem.join(sel, on="query_id")
            .withColumn(
                "_sim_ds",
                F.round(
                    F.try_divide(dot(F.col("_v"), F.col("_sv")), F.col("_nv") * F.col("_snv")), 6
                ),
            )
            .groupBy("query_id", "neighbor_id", "_rel", "_v", "_nv")
            .agg(F.max("_sim_ds").alias("_max_sel"))
            .withColumn(
                "_mmr",
                round_det(
                    F.lit(lam) * F.col("_rel")
                    - F.lit(round(1.0 - lam, 10)) * F.col("_max_sel"), 6
                ),
            )
        )
        pickt = Window.partitionBy("query_id").orderBy(F.desc("_mmr"), F.asc("neighbor_id"))
        picked = (
            scored.withColumn("_rn", F.row_number().over(pickt))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id", F.lit(t).cast("int").alias("rank"), "neighbor_id",
                F.col("_mmr").alias("mmr_score"), "_v", "_nv",
            )
        )
        selected = selected.unionByName(picked).localCheckpoint(eager=True)
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["mmr_score"])
        for r in selected.select("query_id", "rank", "neighbor_id", "mmr_score").collect()
    }
    assert got == want
