"""Inline query definitions, part 2: embeddings / similarity search,
window functions, connected components, sketches, quantization.

Split out of queries.py in round 6; queries.py binds each
``q_<name>`` here and collects its twin from ``TWINS``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.constants import (
    ANN_K,
    EMBED_DIM,
    GRID_SCALE,
    IVF_CELLS,
    IVF_CLUSTERS,
    IVF_ITERS,
    IVF_N_PROBE,
    LSH_NUM_PLANES,
    LSH_NUM_TABLES,
    LSH_N_PROBE,
    PCA_ITERS,
)
from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators.dedup import ngram_jaccard_pairs
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    query_anchors,
)
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.twin_sql import _TOKS


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


#: Queries checked by row count alone, with no DuckDB twin: each
#: returns a sketch-specific estimate (HyperLogLog, t-digest); their
#: 5-sigma accuracy contracts live in tests/.
ROWS_ONLY: frozenset[str] = frozenset({"approx_aggregates", "distinct_users_rollup"})


# ---------------------------------------------------------------------------
# Embeddings: similarity search
# ---------------------------------------------------------------------------


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_anchors(emb, 20), k=ANN_K)


TWINS["embedding_topk"] = f"""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        scored AS (SELECT query_id, neighbor_id,
                          round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
                   FROM q, c WHERE neighbor_id <> query_id),
        ranked AS (SELECT *, CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
                   FROM scored)
        SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {ANN_K}
    """


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — FULLY oracle'd: every stage
    (md5-constant hyperplanes, sign bucketing, lowest-|margin|
    multi-probe, exact rounded-cosine re-rank) is deterministic, so
    _ann_lsh_oracle_sql (below) replays the identical pipeline in DuckDB.

    Production recall config: 6 independent 3-plane tables with 2-probe
    multi-probe — measured recall 0.98 vs brute force on the fixture
    (tests/test_scale_paths.py asserts ≥ 0.8). Additional invariants in
    tests/test_ann_partial_oracle.py: emitted pairs ⊆ exact top-2k,
    exact-rescored bit-equal, recall ≥ 0.8 vs exact top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, query_anchors(emb, 20), dim=EMBED_DIM,
        num_planes=LSH_NUM_PLANES, num_tables=LSH_NUM_TABLES, n_probe=LSH_N_PROBE,
    )


def _ann_lsh_oracle_sql() -> str:
    """FULL DuckDB twin of q_ann_lsh_topk — possible because every stage
    of the LSH pipeline is deterministic: the hyperplanes are md5-derived
    constants (similarity._plane_component), bucketing is pure sign
    arithmetic, multi-probe flips the single lowest-|margin| plane with a
    plane-index tie-break, and the re-scoring is exact rounded cosine.
    The plane matrix is inlined as DOUBLE[] literals (Python float repr
    round-trips exactly), so DuckDB replays the identical bucket → probe
    → candidate → score → rank computation. n_probe is fixed at 2 (one
    bit-flip probe), matching the query wrapper."""
    from kickstarter_etl_pipeline_spark.operators.similarity import _plane_component

    rows = []
    for g in range(LSH_NUM_TABLES * LSH_NUM_PLANES):
        comps = ", ".join(repr(_plane_component(g, j)) for j in range(EMBED_DIM))
        rows.append(f"({g // LSH_NUM_PLANES}, {g % LSH_NUM_PLANES}, [{comps}]::DOUBLE[])")
    values = ",\n".join(rows)
    kp = LSH_NUM_PLANES
    return f"""
        WITH planes(tbl, p, pl) AS (VALUES {values}),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 20),
        cdots AS (SELECT neighbor_id, tbl, p, list_dot_product(cv, pl) AS d
                  FROM c CROSS JOIN planes),
        cbuck AS (SELECT neighbor_id, tbl,
                         CAST(sum(CASE WHEN d >= 0 THEN 1 ELSE 0 END
                                  * (1 << ({kp - 1} - p))) AS BIGINT) AS bucket
                  FROM cdots GROUP BY 1, 2),
        qdots AS (SELECT query_id, tbl, p, list_dot_product(qv, pl) AS d
                  FROM q CROSS JOIN planes),
        qmain AS (SELECT query_id, tbl,
                         CAST(sum(CASE WHEN d >= 0 THEN 1 ELSE 0 END
                                  * (1 << ({kp - 1} - p))) AS BIGINT) AS bucket
                  FROM qdots GROUP BY 1, 2),
        qflip AS (SELECT query_id, tbl, p AS flip_p,
                         row_number() OVER (PARTITION BY query_id, tbl
                                            ORDER BY abs(d), p) AS rn
                  FROM qdots),
        qprobes AS (
            SELECT query_id, tbl, bucket FROM qmain
            UNION ALL
            SELECT m.query_id, m.tbl,
                   CAST(xor(m.bucket, CAST(1 << ({kp - 1} - f.flip_p) AS BIGINT)) AS BIGINT)
            FROM qmain m JOIN qflip f
              ON m.query_id = f.query_id AND m.tbl = f.tbl AND f.rn = 1),
        cand AS (SELECT DISTINCT pr.query_id, cb.neighbor_id
                 FROM qprobes pr JOIN cbuck cb
                   ON pr.tbl = cb.tbl AND pr.bucket = cb.bucket
                 WHERE cb.neighbor_id <> pr.query_id),
        scored AS (SELECT cand.query_id, cand.neighbor_id,
                          round(list_cosine_similarity(q.qv, c.cv), 6) AS cosine_sim
                   FROM cand JOIN q ON cand.query_id = q.query_id
                             JOIN c ON cand.neighbor_id = c.neighbor_id),
        ranked AS (SELECT *, CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
                   FROM scored)
        SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {ANN_K}
    """


TWINS["ann_lsh_topk"] = _ann_lsh_oracle_sql()


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (TRAINED k-means cells + n_probe) approximate top-k — FULLY
    oracle'd since round 8: the Lloyd training runs on an integer grid
    (deterministic md5-anchor init, exact integer distances and
    dimension-wise floor-mean updates — similarity.ivf_lloyd_topk), so
    the DuckDB twin unrolls the 5 assignment/update rounds as CTEs and
    replays the identical index, probe fan-out and rounded-cosine
    re-rank."""
    from kickstarter_etl_pipeline_spark.operators.similarity import ivf_lloyd_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_lloyd_topk(
        emb, query_anchors(emb, 20)
    )


def _ann_ivf_lloyd_oracle_sql() -> str:
    """FULL DuckDB twin of q_ann_ivf_topk (similarity.ivf_lloyd_topk):
    the TRAINED k-means IVF, replayable because the whole Lloyd
    recurrence is integer-exact — vectors snapped once to the 1e-6
    grid, init = the n_clusters vectors with smallest (md5(id), id),
    each round assigning by exact integer squared-L2 (cell tie-break)
    and updating centroids dimension-wise as floor(Σx / n), computed
    with EXACT integer arithmetic on both sides: the numerator is
    adjusted to the next lower multiple of n ((s − ((s % n) + n) % n)),
    after which DuckDB's truncating ``//`` is exact — matching Python's
    int floor division regardless of |Σx| (a floor of the DOUBLE
    quotient would silently diverge past 2^53; round-8 ADVICE finding).
    Empty cells keep their previous
    centroid via the LEFT JOIN / COALESCE. The n_iters rounds unroll
    as CTE pairs — the PageRank/LPA/MMR device — and the final probe +
    exact rounded-cosine re-rank mirrors the anchor-IVF twin."""
    dist = (
        "list_reduce(list_transform(range(1, {dim} + 1), "
        "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), (acc, x) -> acc + x)"
    )
    head = f"""
        WITH iv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {float(GRID_SCALE)!r} + 0.5) AS BIGINT)) AS v
          FROM embeddings),
        dims AS (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS d),
        c0 AS (
          SELECT rn - 1 AS ci, v AS cv FROM (
            SELECT v, row_number() OVER (
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM iv)
          WHERE rn <= {IVF_CLUSTERS})"""
    steps = []
    for t in range(1, IVF_ITERS + 1):
        d_expr = dist.format(dim=EMBED_DIM, v="iv.v", c="c.cv")
        steps.append(
            f""",
        a{t} AS (
          SELECT vec_id, v, ci AS cell FROM (
            SELECT iv.vec_id, iv.v, c.ci,
                   row_number() OVER (PARTITION BY iv.vec_id
                                      ORDER BY {d_expr}, c.ci) AS rn
            FROM iv CROSS JOIN c{t - 1} c)
          WHERE rn = 1),
        m{t} AS (
          SELECT cell, list(m ORDER BY d) AS cv FROM (
            SELECT cell, d,
                   CAST((sum(v[d]) - ((sum(v[d]) % count(*)) + count(*)) % count(*))
                        // count(*) AS BIGINT) AS m
            FROM a{t} CROSS JOIN dims
            GROUP BY cell, d)
          GROUP BY cell),
        c{t} AS (
          SELECT p.ci, COALESCE(m.cv, p.cv) AS cv
          FROM c{t - 1} p LEFT JOIN m{t} m ON m.cell = p.ci)"""
        )
    cd = dist.format(dim=EMBED_DIM, v="i2.v", c="c.cv")
    qd = dist.format(dim=EMBED_DIM, v="i2.v", c="c.cv")
    tail = f""",
        cass AS (
          SELECT vec_id AS neighbor_id, fv AS cv, ci AS cell FROM (
            SELECT i2.vec_id, i2.fv, c.ci,
                   row_number() OVER (PARTITION BY i2.vec_id
                                      ORDER BY {cd}, c.ci) AS rn
            FROM iv i2 CROSS JOIN c{IVF_ITERS} c)
          WHERE rn = 1),
        qprobe AS (
          SELECT vec_id AS query_id, fv AS qv, ci AS cell FROM (
            SELECT i2.vec_id, i2.fv, c.ci,
                   row_number() OVER (PARTITION BY i2.vec_id
                                      ORDER BY {qd}, c.ci) AS rn
            FROM iv i2 CROSS JOIN c{IVF_ITERS} c
            WHERE i2.vec_id < 20)
          WHERE rn <= {IVF_N_PROBE}),
        scored AS (
          SELECT qp.query_id, ca.neighbor_id,
                 round(list_cosine_similarity(qp.qv, ca.cv), 6) AS cosine_sim
          FROM qprobe qp JOIN cass ca ON qp.cell = ca.cell
          WHERE ca.neighbor_id <> qp.query_id),
        ranked AS (SELECT *, CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
                   FROM scored)
        SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {ANN_K}
    """
    return head + "".join(steps) + tail


TWINS["ann_ivf_topk"] = _ann_ivf_lloyd_oracle_sql()


def q_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the trained-IVF tier against exact brute-force
    cosine, per query — the index-quality monitor graded the same way
    PQ's is (q_pq_recall_report): both pipelines are individually
    deterministic and fully oracle'd (ann_ivf_topk since r8,
    embedding_topk's exact scorer), so the composed report carries a
    full oracle too. n_probe=4 of 8 trained cells; misses are the
    cell-boundary neighbors IVF trades for the pruned scan."""
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det
    from kickstarter_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_lloyd_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = query_anchors(emb, 20)
    exact = brute_force_topk(emb, queries, k=ANN_K).select("query_id", "neighbor_id")
    approx = ivf_lloyd_topk(
        emb, queries
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            round_det(F.col("n_hits") / float(ANN_K), 6).alias("recall_at_5"),
        )
    )


# FULL twin of q_ivf_recall_report: the two verified pipelines
# (embedding_topk exact, ann_ivf_topk trained-IVF — identical query
# set and k) composed; recall@5 = hits / 5 per query. Same device as
# ann_recall_report / pq_recall_report.
TWINS["ivf_recall_report"] = f"""
    SELECT ex.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           floor(count(l.neighbor_id) / {float(ANN_K)} * 1000000 + 0.5) / 1000000.0 AS recall_at_5
    FROM ({TWINS['embedding_topk']}) ex
    LEFT JOIN ({TWINS['ann_ivf_topk']}) l
      ON ex.query_id = l.query_id AND ex.neighbor_id = l.neighbor_id
    GROUP BY ex.query_id
"""


def q_embedding_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by
    DETERMINISTIC power iteration (similarity.pca_top_component) — the
    anisotropy / drift / whitening monitor over a vector table, fully
    oracle'd: integer-grid centering, integer matrix-vector
    accumulation (order-independent), fixed-fold normalization on a
    1e-9 grid; the DuckDB twin unrolls the 8 rounds as CTEs. Output:
    per-dimension mean (1e-6 units), unit PC1 weight, and the PC1
    variance in original units."""
    from kickstarter_etl_pipeline_spark.operators.similarity import pca_top_component

    return pca_top_component(load_table(spark, sf_dir, "embeddings"))


def _pca_power_oracle_sql() -> str:
    """FULL DuckDB twin of q_embedding_pca_top
    (similarity.pca_top_component): the power iteration unrolls as CTE
    pairs (projection snap → per-dim integer accumulation → driver-free
    normalize), replayable because every cross-row reduction is an
    integer sum (HUGEINT here, DECIMAL(38,0) on the Spark side) and
    every float stage is a fixed expression tree: the projection fold
    and the norm fold run in array order via ``list_reduce`` — the same
    left fold the engine runs (F.aggregate / driver loop)."""
    dd = f"range(1, {EMBED_DIM} + 1)"
    head = f"""
        WITH iv AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * {float(GRID_SCALE)!r} + 0.5) AS BIGINT)) AS v
          FROM embeddings),
        dims AS (SELECT unnest({dd}) AS d),
        mu0 AS (
          SELECT d, CAST((sum(v[d]) - ((sum(v[d]) % count(*)) + count(*)) % count(*))
                         // count(*) AS BIGINT) AS m,
                 CAST(count(*) AS BIGINT) AS n
          FROM iv CROSS JOIN dims GROUP BY d),
        mu AS (SELECT list(m ORDER BY d) AS mv, max(n) AS n FROM mu0),
        cv AS (SELECT vec_id,
                      list_transform({dd}, i -> iv.v[i] - mu.mv[i]) AS c
               FROM iv CROSS JOIN mu),
        w0 AS (SELECT list_transform({dd}, i -> 0.125) AS wv)"""
    steps = []
    for t in range(1, PCA_ITERS + 1):
        steps.append(
            f""",
        q{t} AS (
          SELECT c, CAST(floor(list_reduce(
                   list_transform({dd}, i -> CAST(c[i] AS DOUBLE) * w.wv[i]),
                   (a, b) -> a + b) + 0.5) AS BIGINT) AS q
          FROM cv CROSS JOIN w{t - 1} w),
        x{t} AS (
          SELECT list(CAST(ax AS DOUBLE) ORDER BY d) AS xs FROM (
            SELECT d, sum(CAST(c[d] AS HUGEINT) * q) AS ax
            FROM q{t} CROSS JOIN dims GROUP BY d)),
        w{t} AS (
          SELECT list_transform(xs,
                   x -> CASE WHEN nrm = 0 THEN 0.0
                             ELSE floor(x / nrm * 1e9 + 0.5) / 1e9 END) AS wv
          FROM (SELECT xs, sqrt(list_reduce(list_transform(xs, v -> v * v),
                                            (a, b) -> a + b)) AS nrm
                FROM x{t}))"""
        )
    tail = f"""
        SELECT CAST(d - 1 AS INTEGER) AS dim_idx,
               mu.mv[d] AS mu_unit,
               w.wv[d] AS pc1_weight,
               floor(sqrt(list_reduce(list_transform(x.xs, v -> v * v), (a, b) -> a + b))
                     / mu.n / 1e12 * 1e6 + 0.5) / 1e6 AS pc1_variance
        FROM dims CROSS JOIN mu CROSS JOIN w{PCA_ITERS} w CROSS JOIN x{PCA_ITERS} x
    """
    return head + "".join(steps) + tail


TWINS["embedding_pca_top"] = _pca_power_oracle_sql()


def q_ann_ivf_anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic anchor-IVF approximate top-k — FULLY oracle'd: the
    index build (anchors = n_cells corpus vectors with smallest
    md5(id)), the nearest-cell assignment, the n_probe cell fan-out and
    the exact rounded-cosine re-rank are all deterministic, so
    _ann_ivf_anchor_oracle_sql (below) replays the identical pipeline in
    DuckDB. The trained (k-means) variant is q_ann_ivf_topk."""
    from kickstarter_etl_pipeline_spark.operators.similarity import ivf_anchor_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_anchor_topk(
        emb, query_anchors(emb, 20)
    )


def _ann_ivf_anchor_oracle_sql() -> str:
    """FULL DuckDB twin of q_ann_ivf_anchor_topk (see
    similarity.ivf_anchor_topk): anchors are the n_cells corpus vectors
    with the lexically-smallest md5(cast(id as string)) (id tie-break),
    cell index = that ordering's rank; corpus rows join their nearest
    cell, queries probe the n_probe nearest (distance then cell-index
    tie-break) on the SAME BIGINT nano-grid squared-L2 Spark uses
    (floor(d2*1e9+0.5) via a sequential list_reduce fold — round
    BEFORE the argmin, ADVICE r5); candidates re-ranked by exact
    rounded cosine."""
    return f"""
        WITH anchors AS (
          SELECT av, rn - 1 AS ci FROM (
            SELECT CAST(embedding AS DOUBLE[]) AS av,
                   row_number() OVER (
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings)
          WHERE rn <= {IVF_CELLS}),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 20),
        cass AS (
          SELECT neighbor_id, cv, ci AS cell FROM (
            SELECT c.neighbor_id, c.cv, a.ci,
                   row_number() OVER (PARTITION BY c.neighbor_id
                                      ORDER BY CAST(floor(list_reduce(list_transform(range(1, len(c.cv) + 1), i -> (c.cv[i] - a.av[i]) * (c.cv[i] - a.av[i])), (acc, x) -> acc + x) * 1000000000 + 0.5) AS BIGINT),
                                      a.ci) AS rn
            FROM c CROSS JOIN anchors a)
          WHERE rn = 1),
        qprobe AS (
          SELECT query_id, qv, ci AS cell FROM (
            SELECT q.query_id, q.qv, a.ci,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY CAST(floor(list_reduce(list_transform(range(1, len(q.qv) + 1), i -> (q.qv[i] - a.av[i]) * (q.qv[i] - a.av[i])), (acc, x) -> acc + x) * 1000000000 + 0.5) AS BIGINT),
                                      a.ci) AS rn
            FROM q CROSS JOIN anchors a)
          WHERE rn <= {IVF_N_PROBE}),
        scored AS (
          SELECT qp.query_id, ca.neighbor_id,
                 round(list_cosine_similarity(qp.qv, ca.cv), 6) AS cosine_sim
          FROM qprobe qp JOIN cass ca ON qp.cell = ca.cell
          WHERE ca.neighbor_id <> qp.query_id),
        ranked AS (SELECT *, CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
                   FROM scored)
        SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {ANN_K}
    """


TWINS["ann_ivf_anchor_topk"] = _ann_ivf_anchor_oracle_sql()


def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ 0.9).

    The correctness-tier twin of the LSH-bucketed variant: full pair scan,
    oracle-checkable. The LSH variant is the 100 TB path.

    ADVISOR NOTE: plans.inspect.advise flags this plan CRITICAL (data-
    sized BroadcastNestedLoopJoin) — by design, and kept as the
    advisor's pinned TRUE POSITIVE (tests/test_robustness.py::
    test_advisor_true_positive_stays_flagged): it IS a quadratic pair
    scan, acceptable only at fixture scale, and the advisor's job is to
    say exactly that."""
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions
    from kickstarter_etl_pipeline_spark.operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    a = ensure_min_partitions(
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    ).withColumn("_na", norm(F.col("_va")))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb")).withColumn(
        "_nb", norm(F.col("_vb"))
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.9)
    )


TWINS["embedding_near_dup_exact"] = """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.e, b.e), 6) AS cosine_sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.9
    """


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, approx quantiles) — rows-only:
    sketch implementations are engine-specific by nature."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.approx_count_distinct("o_custkey").alias("approx_custkeys"),
        F.round(F.percentile_approx("o_totalprice", F.lit(0.5)), 2).alias("approx_p50"),
    )


def q_events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window functions: per-user previous/next event and the
    gap to the previous one in exact integer microseconds."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.col("_us") - F.lag("_us").over(w)).alias("gap_from_prev_us"),
    )


TWINS["events_lag_lead"] = """
        SELECT user_id, event_id, event_type,
               lag(event_type) OVER w AS prev_type,
               lead(event_type) OVER w AS next_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_from_prev_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column: per-vector
    L2 norm via F.aggregate fold — JVM-side, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("int").alias("dim"),
        round_det(F.sqrt(sq), 6).alias("l2_norm"),
    )


TWINS["embedding_norms"] = """
        SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim,
               floor(sqrt(list_reduce(
                       list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (a, b) -> a + b)) * 1000000 + 0.5) / 1000000.0 AS l2_norm
        FROM embeddings
    """


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: dense hour × event_type grid (sequence +
    explode + broadcast cross join) left-joined to hourly aggregates,
    missing buckets zero-filled. The grid is O(hours × types) regardless
    of event volume, so the pattern holds at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("h0"),
            F.date_trunc("hour", F.max("ts")).alias("h1"),
        )
        .select(F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("bucket"))
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    counts = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type").agg(
        F.count("*").alias("_n"), F.round(F.sum("value"), 4).alias("_s")
    )
    return (
        F.broadcast(grid)
        .join(counts, ["bucket", "event_type"], "left")
        .select(
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("_s", F.lit(0.0)).alias("sum_value"),
        )
    )


TWINS["events_gap_fill"] = """
        WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS h0,
                               date_trunc('hour', max(ts)) AS h1 FROM events),
        grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket FROM bounds),
        types AS (SELECT DISTINCT event_type FROM events),
        counts AS (SELECT date_trunc('hour', ts) AS bucket, event_type,
                          count(*) AS n, round(sum(value), 4) AS s
                   FROM events GROUP BY 1, 2)
        SELECT strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start, t.event_type,
               coalesce(n, 0) AS n_events, coalesce(s, 0.0) AS sum_value
        FROM grid g
        CROSS JOIN types t
        LEFT JOIN counts c ON c.bucket = g.bucket AND c.event_type = t.event_type
    """


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS frame: 3-order moving average of spend per customer.
    The frame sum is exact decimal so the average is engine-independent
    regardless of the engines' sliding-accumulation strategies."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    mov_sum = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("n_in_frame"),
        round_det(mov_sum.cast("double") / F.count("*").over(w), 4).alias("moving_avg_price"),
    )


TWINS["window_moving_avg"] = """
        SELECT o_custkey, o_orderkey,
               count(*) OVER w AS n_in_frame,
               floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                     / count(*) OVER w * 10000 + 0.5) / 10000.0 AS moving_avg_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """


def q_window_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-distribution windows: ntile/percent_rank/cume_dist per
    order year — deliberately the NATIVE window-function surface
    (§2.7 coverage). Scale note: each year is one task under this
    plan; the distributed equivalents are the rfm_segments /
    grouped_two_phase_rank + ntile_exact composition (SCALE.md,
    Grouped two-phase rank) — this query is the semantic reference
    the scale path is verified against, like the exact-median pair."""
    orders = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate").cast("int").alias("order_year")
    base = orders.select("o_orderkey", year, "o_totalprice")
    w = Window.partitionBy("order_year").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return base.select(
        "o_orderkey",
        "order_year",
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
        round_det(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_det(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


TWINS["window_ntile_percent"] = """
        SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
               floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000.0 AS pct_rank,
               floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000.0 AS cume_dist
        FROM orders
        WINDOW w AS (PARTITION BY year(o_orderdate) ORDER BY o_totalprice DESC, o_orderkey)
    """


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension statistics across the embedding corpus via
    posexplode — the feature-distribution profile (drift/normalization
    check) of an embedding pipeline. Sums are exact integer micro-units
    so the averages are engine-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(F.posexplode("embedding").alias("_pos", "_val")).select(
        (F.col("_pos") + 1).cast("int").alias("dim_idx"),
        F.col("_val").cast("double").alias("_v"),
    )
    units = F.floor(F.col("_v") * 1_000_000 + 0.5).cast("long")
    return (
        exploded.groupBy("dim_idx")
        .agg(
            F.count("*").alias("n_values"),
            F.sum(units).alias("_sum_units"),
            round_det(F.min("_v"), 6).alias("min_value"),
            round_det(F.max("_v"), 6).alias("max_value"),
        )
        .select(
            "dim_idx",
            "n_values",
            round_det(F.col("_sum_units") / 1_000_000.0 / F.col("n_values"), 6).alias("avg_value"),
            "min_value",
            "max_value",
        )
    )


TWINS["embedding_dim_stats"] = """
        SELECT dim_idx, count(*) AS n_values,
               floor(sum(CAST(floor(v * 1000000 + 0.5) AS BIGINT)) / 1000000.0
                     / count(*) * 1000000 + 0.5) / 1000000.0 AS avg_value,
               floor(min(v) * 1000000 + 0.5) / 1000000.0 AS min_value,
               floor(max(v) * 1000000 + 0.5) / 1000000.0 AS max_value
        FROM (
          SELECT CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim_idx,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings
        )
        GROUP BY dim_idx
    """


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over an unbounded frame: each order row
    carries its customer's first, latest, and second order price (raw
    column values — no float arithmetic, fully deterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


TWINS["window_first_last"] = """
        SELECT o_custkey, o_orderkey,
               first_value(o_totalprice) OVER w AS first_price,
               last_value(o_totalprice) OVER w AS latest_price,
               nth_value(o_totalprice, 2) OVER w AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-group resolution: near-dup candidate pairs (word-3-gram
    Jaccard ≥ 0.5) clustered into connected components by iterative
    min-label propagation — the step that turns pairwise similarity
    into keep/drop decisions. Singletons keep their own id."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("n_members"))
    return comp.join(sizes, on="component_id").select("doc_id", "component_id", "n_members")


TWINS["dedup_components"] = f"""
        WITH RECURSIVE
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, len(t) - 1),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
                 FROM toks)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
        cands AS (
          SELECT id_a, id_b
          FROM prs
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 >= 0.5
        ),
        edges AS (SELECT id_a AS a, id_b AS b FROM cands
                  UNION ALL SELECT id_b, id_a FROM cands),
        reach(id, comp) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.id
        ),
        comp AS (SELECT id AS doc_id, min(comp) AS component_id FROM reach GROUP BY id),
        szs AS (SELECT component_id, count(*) AS n_members FROM comp GROUP BY component_id)
        SELECT doc_id, component_id, n_members FROM comp JOIN szs USING (component_id)
    """


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-group resolution on the SAME candidate graph as
    `dedup_components`, but via alternating large-star/small-star edge
    rewriting — O(log n) rounds vs diameter rounds, the variant for
    similarity graphs with long transitive chains. Must produce
    byte-identical groups (same recursive-CTE oracle)."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components_star(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("n_members"))
    return comp.join(sizes, on="component_id").select("doc_id", "component_id", "n_members")


# Star-rewriting CC must produce the exact same groups as min-label CC.
TWINS["dedup_components_star"] = TWINS["dedup_components"]


def q_label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-separation analytics: per-label embedding centroids and
    the pairwise L2 distance matrix between them — the check you run on
    labeled embeddings before trusting them for retrieval.

    Two order-dependence traps are closed with the quantized-integer
    trick (NOTES.md rule 5 family): per-dimension centroid sums run
    over exact 1e-6-quantized integers (a raw double sum would vary
    with aggregation order), and the across-dimension sum of squared
    centroid deltas is 1e-12-quantized the same way — so both engines
    sqrt the identical exact ratio. Shuffles: one posexplode aggregate
    keyed by (label, dim); the 10×10 centroid matrix is driver-scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim_idx", "v")
    )
    cent = dims.groupBy("label", "dim_idx").agg(
        (
            F.sum(F.floor(F.col("v") * 1_000_000 + 0.5).cast("long")) / 1_000_000.0
            / F.count("*")
        ).alias("c")
    )
    a = cent.select(F.col("label").alias("label_a"), "dim_idx", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "dim_idx", F.col("c").alias("cb"))
    sq = F.floor(
        (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")) * 1e12 + 0.5
    ).cast("long")
    return (
        a.join(b, on="dim_idx")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(round_det(F.sqrt(F.sum(sq).cast("double") / 1e12), 6).alias("l2_dist"))
    )


TWINS["label_centroid_distances"] = """
        WITH dims AS (
          SELECT label,
                 CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim_idx,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
        cent AS (
          SELECT label, dim_idx,
                 sum(CAST(floor(v * 1000000 + 0.5) AS BIGINT)) / 1000000.0 / count(*) AS c
          FROM dims GROUP BY 1, 2)
        SELECT a.label AS label_a, b.label AS label_b,
               floor(sqrt(CAST(sum(CAST(floor((a.c - b.c) * (a.c - b.c) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12)
                     * 1000000 + 0.5) / 1000000.0 AS l2_dist
        FROM cent a JOIN cent b ON a.dim_idx = b.dim_idx AND a.label < b.label
        GROUP BY 1, 2
    """


def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OUTPUT artifact: per near-dup component (same candidate
    graph as `dedup_components`), the canonical survivor — longest
    document, doc_id ascending on ties — with how many near-dups it
    absorbs. The left-anti of the corpus against these survivors is the
    drop list; `clean_corpus` composes the equivalent filter inline."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components(
        docs.select("doc_id"),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        id_col="doc_id",
    )
    sized = comp.join(docs.select("doc_id", "n_chars"), on="doc_id")
    w = Window.partitionBy("component_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        sized.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("component_id")))
        .filter(F.col("_rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_chars").cast("long").alias("canonical_n_chars"),
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("n_members") - 1).cast("long").alias("n_absorbed"),
        )
    )


TWINS["dedup_canonical_docs"] = f"""
        WITH RECURSIVE
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, len(t) - 1),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
                 FROM toks)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
        cands AS (
          SELECT id_a, id_b
          FROM prs
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 >= 0.5
        ),
        edges AS (SELECT id_a AS a, id_b AS b FROM cands
                  UNION ALL SELECT id_b, id_a FROM cands),
        reach(id, comp) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.id
        ),
        comp AS (SELECT id AS doc_id, min(comp) AS component_id FROM reach GROUP BY id),
        ranked AS (
          SELECT component_id, c.doc_id, n_chars,
                 row_number() OVER (PARTITION BY component_id
                                    ORDER BY n_chars DESC, c.doc_id) AS rn,
                 count(*) OVER (PARTITION BY component_id) AS n_members
          FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
        SELECT component_id, doc_id AS canonical_doc_id,
               CAST(n_chars AS BIGINT) AS canonical_n_chars,
               CAST(n_members AS BIGINT) AS n_members,
               CAST(n_members - 1 AS BIGINT) AS n_absorbed
        FROM ranked WHERE rn = 1
    """


def q_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained distinct-user counts per event type:
    three batch folds of mergeable HLL sketch partials
    (sources.sinks.incremental_distinct_rollup) read off as estimates.
    ROWS-ONLY by design: the estimate is DataSketches-specific (DuckDB's
    HLL differs); exact merge-order invariance and a 2% accuracy bound
    are asserted in tests/test_sinks_and_dedup.py."""
    from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
    from kickstarter_etl_pipeline_spark.sources.sinks import (
        distinct_rollup_estimates,
        incremental_distinct_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    path = run_scratch_dir("hll_rollup_") + "/t"
    for i in range(3):
        rollup = incremental_distinct_rollup(
            spark,
            path,
            events.filter(F.col("event_id") % 3 == i),
        )
    return distinct_rollup_estimates(rollup)


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization profile: scale, quantized checksum,
    max reconstruction error (see operators.similarity.quantization_profile)."""
    from kickstarter_etl_pipeline_spark.operators.similarity import quantization_profile

    emb = load_table(spark, sf_dir, "embeddings")
    return quantization_profile(emb)


TWINS["embedding_quantization"] = """
        WITH v AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
                   FROM embeddings),
        s AS (SELECT vec_id, vec,
                     list_max(list_transform(vec, x -> abs(x))) AS scale
              FROM v),
        q AS (SELECT vec_id, vec, scale,
                     CASE WHEN scale = 0
                          THEN list_transform(vec, x -> CAST(0 AS BIGINT))
                          ELSE list_transform(vec, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT))
                     END AS qv
              FROM s)
        SELECT vec_id,
               floor(scale * 1000000 + 0.5) / 1000000.0 AS scale_q,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               CASE WHEN scale = 0 THEN 0.0
                    ELSE floor(list_max(list_transform(range(1, len(qv) + 1),
                               i -> abs(qv[i] * scale / 127 - vec[i]))) * 1000000 + 0.5)
                         / 1000000.0
               END AS max_abs_err
        FROM q
    """


def q_matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: recall@5 of exact cosine search on
    the FIRST 16 of 64 embedding dimensions against full-dimension
    exact search — the measurement behind the
    truncate-the-embedding-table storage play (Kusupati et al. 2022,
    arXiv:2205.13147): if prefix-dim recall holds, the 100 TB ANN tier
    can run on a 4× smaller table. Composes two runs of the verified
    exact scorer (brute_force_topk) — full vectors and F.slice(·,1,16)
    prefixes — into the per-query hit table, the ivf_recall_report
    device, so the whole report carries a full oracle.

    Scale: both sides are the brute-force tier (query set broadcast,
    corpus scanned once each); the production path would swap in the
    IVF tier per dimension budget — the report's job is to justify
    that swap with a graded number."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, query_anchors(emb, 20), k=ANN_K).select(
        "query_id", "neighbor_id"
    )
    t16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    trunc = brute_force_topk(t16, query_anchors(t16, 20), k=ANN_K).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(trunc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            round_det(F.col("n_hits") / float(ANN_K), 6).alias("recall_at_5"),
        )
    )


TWINS["matryoshka_recall_report"] = """
        WITH qf AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 20),
        cf AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
        sf AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
               FROM qf, cf WHERE neighbor_id <> query_id),
        exact AS (SELECT query_id, neighbor_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS rank
                    FROM sf)
                  WHERE rank <= 5),
        q16 AS (SELECT vec_id AS query_id, (CAST(embedding AS DOUBLE[]))[1:16] AS qv
                FROM embeddings WHERE vec_id < 20),
        c16 AS (SELECT vec_id AS neighbor_id, (CAST(embedding AS DOUBLE[]))[1:16] AS cv
                FROM embeddings),
        s16 AS (SELECT query_id, neighbor_id,
                       round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
                FROM q16, c16 WHERE neighbor_id <> query_id),
        trunc AS (SELECT query_id, neighbor_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, neighbor_id) AS rank
                    FROM s16)
                  WHERE rank <= 5)
        SELECT ex.query_id,
               CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
               floor(count(t.neighbor_id) / 5.0 * 1000000 + 0.5) / 1000000.0
                 AS recall_at_5
        FROM exact ex
        LEFT JOIN trunc t
          ON ex.query_id = t.query_id AND ex.neighbor_id = t.neighbor_id
        GROUP BY ex.query_id
    """


def q_window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-function surface completion: percent_rank + cume_dist +
    nth_value(3) per (priority, order-month) partition, ordered by
    (price, orderkey) — a TOTAL order, so ties never make the two
    ratio functions ambiguous. Both functions are exact-integer-count
    ratios ((rank−1)/(n−1), pos/n) — bit-identical IEEE divisions on
    both engines — snapped to the 6-dp display grid.

    Scale: partitions are (priority × month) — bounded count but
    data-sized members; the scale posture for global/near-global ranks
    is two_phase_rank (SCALE.md, Windows) — this query is the SURFACE
    parity member of the family."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.month("o_orderdate").cast("int").alias("order_month"),
        "o_totalprice",
    )
    wo = Window.partitionBy("o_orderpriority", "order_month").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return base.select(
        "o_orderkey",
        "o_orderpriority",
        "order_month",
        round_det(F.percent_rank().over(wo), 6).alias("pct_rank"),
        round_det(F.cume_dist().over(wo), 6).alias("cum_dist"),
        F.nth_value("o_totalprice", 3).over(wf).alias("third_lowest_price"),
    )


TWINS["window_cume_dist"] = """
        SELECT o_orderkey, o_orderpriority,
               CAST(month(o_orderdate) AS INTEGER) AS order_month,
               floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000.0
                 AS pct_rank,
               floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000.0
                 AS cum_dist,
               nth_value(o_totalprice, 3) OVER (
                 PARTITION BY o_orderpriority, month(o_orderdate)
                 ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS third_lowest_price
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority, month(o_orderdate)
                     ORDER BY o_totalprice, o_orderkey)
    """


def q_embedding_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of cosine similarities between deterministically
    paired vectors (vec i ↔ vec i + N/2) — the embedding-space
    anisotropy diagnostic: a healthy space has random-pair similarity
    concentrated near 0, a collapsed space piles up near 1 (Ethayarajh
    2019's observation, reduced to a one-pass audit) (round 10).

    Exactness: cosine uses the oracle-proven sequential dot/norm tree
    (operators.similarity) rounded to 6 dp; the 6-dp value is lifted
    to an exact MICRO integer, so the 20-bin assignment
    ((micro + 10⁶) DIV 10⁵, capped at 19) is pure integer arithmetic —
    no float ever decides a bin boundary. Shares are single IEEE
    divisions of exact counts.

    Scale: the pairing is one equi-join on vec_id + N/2 (no cross
    join); the histogram is a ≤20-group aggregate with map-side
    combine; all 20 bins materialize via a constant range frame."""
    from kickstarter_etl_pipeline_spark.operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    half = F.broadcast(
        emb.agg((F.count("*").cast("long") / F.lit(2)).cast("long").alias("_half"))
    )
    a = emb.select(F.col("vec_id").alias("_ida"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("_idb"), F.col("embedding").alias("_vb"))
    pairs = (
        a.crossJoin(half)
        .filter(F.col("_ida") < F.col("_half"))
        .join(b, F.col("_idb") == F.col("_ida") + F.col("_half"))
    )
    cos6 = F.round(
        F.try_divide(dot(F.col("_va"), F.col("_vb")), norm(F.col("_va")) * norm(F.col("_vb"))),
        6,
    )
    micro = F.floor(cos6 * 1000000 + F.lit(0.5)).cast("long")
    staged = pairs.select(micro.alias("_micro")).select(
        F.least(F.expr("(_micro + 1000000) DIV 100000"), F.lit(19)).alias("bin_id")
    )
    counts = staged.groupBy("bin_id").agg(F.count("*").cast("long").alias("_n"))
    bins = spark.range(20).select(F.col("id").cast("long").alias("bin_id"))
    tot = F.broadcast(staged.agg(F.count("*").cast("long").alias("_t")))
    return (
        bins.join(counts, "bin_id", "left")
        .crossJoin(tot)
        .select(
            "bin_id",
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_pairs"),
            round_det(
                F.coalesce("_n", F.lit(0)).cast("double") / F.col("_t").cast("double"), 6
            ).alias("share"),
        )
    )


# FULL twin of q_embedding_similarity_histogram: the proven
# list_cosine_similarity ≡ sequential-dot device at 6 dp, then exact
# integer micro-grid binning.
TWINS["embedding_similarity_histogram"] = """
    WITH h AS (SELECT CAST(count(*) // 2 AS BIGINT) AS half FROM embeddings),
    a AS (SELECT vec_id AS ida, CAST(embedding AS DOUBLE[]) AS va FROM embeddings),
    b AS (SELECT vec_id AS idb, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings),
    pairs AS (SELECT round(list_cosine_similarity(va, vb), 6) AS cos6
              FROM a, h, b WHERE ida < half AND idb = ida + half),
    staged AS (SELECT least((CAST(floor(cos6 * 1000000 + 0.5) AS BIGINT) + 1000000)
                            // 100000, 19) AS bin_id
               FROM pairs),
    counts AS (SELECT bin_id, CAST(count(*) AS BIGINT) AS n FROM staged GROUP BY bin_id),
    bins AS (SELECT CAST(range AS BIGINT) AS bin_id FROM range(20)),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM staged)
    SELECT b.bin_id, CAST(coalesce(n, 0) AS BIGINT) AS n_pairs,
           floor(CAST(coalesce(n, 0) AS DOUBLE) / CAST(t AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS share
    FROM bins b LEFT JOIN counts USING (bin_id), tot
"""
