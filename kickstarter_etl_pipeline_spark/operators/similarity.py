"""Similarity search over embedding columns (array<float>).

Two tiers, per the standard ANN playbook:

- :func:`brute_force_topk` — exact cosine top-k. The query set broadcasts;
  the corpus streams through one codegen'd stage (dot products via
  zip_with/aggregate in the JVM — no Python). Exact answer; cost is
  O(|corpus| × |queries|), fine when the query set is bounded.
- :func:`lsh_topk` — random-hyperplane LSH: corpus and queries are
  bucketed by sign-pattern; only same-bucket candidates get exact
  scoring. Sub-linear candidate sets at scale; recall < 1 by design.
  Hyperplanes are derived deterministically from xxhash64 so runs are
  reproducible without a driver-side RNG.

Embedding-cosine near-dup detection (dedup use-case) is
:func:`semantic_dedup`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from kickstarter_etl_pipeline_spark.constants import (
    ANN_K,
    GRID_SCALE,
    IVF_CELLS,
    IVF_CLUSTERS,
    IVF_ITERS,
    IVF_N_PROBE,
    MMR_K,
    MMR_LAM,
    MMR_POOL,
    PCA_ITERS,
)
from kickstarter_etl_pipeline_spark.operators.partitioning import materialize
from kickstarter_etl_pipeline_spark.operators.ranking import collect_control, control_frame
from kickstarter_etl_pipeline_spark.operators.rounding import round_det


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (accumulation order = array order,
    matching any sequential oracle bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (degenerate) vector yields NULL similarity
    # instead of an ANSI DIVIDE_BY_ZERO error.
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def query_anchors(emb: DataFrame, n: int) -> DataFrame:
    """The first ``n`` corpus vectors (``vec_id < n``) as the query/anchor
    frame for the ANN/top-k tiers, with a PLAN-PROVABLE hard bound:
    ``vec_id`` is the table's primary key, so the trailing ``.limit(n)``
    drops nothing — it stamps a ``GlobalLimit n`` into the plan that
    the scale advisor (plans.inspect._one_row_subtree) can prove bounds
    the broadcast side of the downstream anchor crossJoin, and that
    HARD-caps the broadcast at runtime even against a pathological
    input where the key filter alone would not (r13 ADVICE: a bare
    ``limit`` is only as bounded as its literal)."""
    return emb.filter(F.col("vec_id") < n).limit(n)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Broadcast the (small) query set against the corpus; rank on the
    rounded similarity with an id tie-break so results are deterministic.
    Self-matches are excluded.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    # Norms are precomputed per row — computing them inside the pair
    # scoring would redo each row's norm once per counterpart.
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
    ).withColumn("_qnorm", norm(F.col("_qvec")))
    c = ensure_min_partitions(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cvec"),
    ).withColumn("_cnorm", norm(F.col("_cvec")))
    # r15 probe (OPTIMIZATION_r15.md): the Arrow dot kernel was
    # interleave-A/B'd here and REVERTED — at bench scale the pair scan
    # is one fused stage whose HOF CPU spreads over all cores, and the
    # Arrow round trip cost more than it saved (0.79 → 1.15 s min).
    # The kernel remains the right shape only where per-stage CPU
    # dominates (semantic_dedup's pair scan, the IVF re-rank).
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(dot(F.col("_qvec"), F.col("_cvec")), F.col("_qnorm") * F.col("_cnorm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _plane_component(plane: int, j: int) -> float:
    """Deterministic pseudo-random value in [−1, 1] for component j of
    hyperplane ``plane`` — md5 of the coordinates, no RNG state."""
    import hashlib

    h = int.from_bytes(hashlib.md5(f"plane_{plane}_{j}".encode()).digest()[:8], "big")
    return (h % 200_007) / 100_003.0 - 1.0


def with_lsh_probe_keys(
    df: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int = 8,
    num_tables: int = 1,
    n_probe: int = 1,
) -> DataFrame:
    """Explode each row into its LSH join keys ``(_table, _bucket)``
    across ``num_tables`` independent hash tables, with query-directed
    multi-probe inside each table.

    This is the standard E2LSH recall architecture: one table of k
    planes only catches a neighbor with probability p^k (p = 1 − θ/π),
    so recall is tuned with L independent tables — candidate recall
    1 − (1 − p^k)^L — plus multi-probe: for each extra probe the bucket
    with ONE sign bit flipped, chosen in order of how close that
    hyperplane's margin was to zero (a near-zero dot product means the
    true neighbors plausibly sit just across that plane).

    Cost model at 100 TB: the corpus side emits num_tables rows per
    vector (one per table, n_probe=1) — same explode-then-equi-join
    shape as MinHash banding, shuffle O(corpus × L), never a scan; the
    query side emits num_tables × n_probe keys. All expressions are JVM
    higher-order functions; each table's ``_dots`` array is staged once
    so dim-length dot products are not recomputed per probe.
    """
    if n_probe < 1 or num_tables < 1:
        raise ValueError(f"n_probe and num_tables must be >= 1, got {n_probe}, {num_tables}")
    if n_probe > num_planes + 1:
        raise ValueError(f"n_probe can flip at most num_planes bits ({num_planes + 1} probes)")

    # ALL tables' plane dots in ONE higher-order pass over the 2-D plane
    # matrix: table t owns planes [t*num_planes, (t+1)*num_planes). One
    # transform(aggregate(zip_with)) expression instead of L×k separate
    # aggregates. The matrix itself rides in as a ONE-ROW broadcast
    # frame rather than L×k×dim literals inlined into the expression
    # tree: the per-row work is identical (same dots against the same
    # constants), but the plan tree shrinks from thousands of literal
    # nodes to one column reference — measured 9.6 s → ~3 s first-run
    # wall on the 6×3×64 config, all of it analyzer/optimizer/codegen
    # time that literals force every run (plans aren't cached across
    # queries). Still zero driver-side RNG state and bit-identical
    # bucketing.
    spark = df.sparkSession
    matrix = [
        [_plane_component(g, j) for j in range(dim)]
        for g in range(num_tables * num_planes)
    ]
    planes_df = control_frame(spark, [(matrix,)], "_planes_mat: array<array<double>>")
    staged = df.join(F.broadcast(planes_df), how="cross").withColumn(
        "_dots_all",
        F.expr(
            "transform(_planes_mat, pl -> aggregate("
            f"zip_with(`{vec_col}`, pl, (x, y) -> cast(x as double) * cast(y as double)), "
            "cast(0.0 as double), (acc, x) -> acc + x))"
        ),
    )

    # The whole (table, probe-bucket) key list as ONE SQL expression
    # (same driver-round-trip argument as dedup.minhash_signature: the
    # per-table/per-plane Column-object loops cost ~2 s of py4j traffic
    # per call before any task ran). Semantics are unchanged and
    # bit-identical:
    # - bucket id: acc*2 + sign-bit == the old shiftleft chain, 0L seed
    #   keeps it BIGINT;
    # - multi-probe: rank planes by |margin| ascending (named_struct
    #   field order m, p gives the same array_sort tie-break on the
    #   plane index), flip one bit per extra probe — plane p occupies
    #   bit (num_planes-1-p), and cast(pow(2.0, ..)) matches the old
    #   double→long bit mask;
    # - tags: named_struct('t', INT table idx, 'b', BIGINT bucket).
    k = num_planes
    bucket_sql = (
        f"aggregate(sequence(0, {k - 1}), 0L, "
        f"(acc, p) -> acc * 2L + if(element_at(_dots_all, t * {k} + p + 1) >= 0, 1L, 0L))"
    )
    if n_probe == 1:
        probes_sql = f"array({bucket_sql})"
    else:
        ranked_sql = (
            f"array_sort(transform(sequence(0, {k - 1}), "
            f"i -> named_struct('m', abs(element_at(_dots_all, t * {k} + i + 1)), 'p', i)))"
        )
        flips_sql = (
            f"transform(slice({ranked_sql}, 1, {n_probe - 1}), "
            f"s -> {bucket_sql} ^ cast(pow(cast(2.0 as double), "
            f"cast({k - 1} - s.p as double)) as bigint))"
        )
        probes_sql = f"concat(array({bucket_sql}), {flips_sql})"
    keys = F.explode(
        F.expr(
            f"flatten(transform(sequence(0, {num_tables - 1}), "
            f"t -> transform({probes_sql}, pb -> named_struct('t', t, 'b', pb))))"
        )
    ).alias("_tb")
    out = staged.select("*", keys).select(
        *[c for c in df.columns],
        F.col("_tb.t").alias("_table"),
        F.col("_tb.b").alias("_bucket"),
    )
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = ANN_K,
    num_planes: int = 8,
    num_tables: int = 1,
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's LSH
    bucket(s). At 100 TB the bucket join replaces the full cross
    product. Recall levers (see :func:`with_lsh_probe_keys`):
    ``num_tables`` unions L independent hash tables (corpus emits L
    keys per vector); ``n_probe`` additionally probes the buckets
    across the lowest-margin hyperplanes of each table (multi-probe)
    without touching the corpus-side layout."""
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    # Norms are staged per ROW before the bucket join (an 8-byte column
    # riding the explode), so the per-CANDIDATE-PAIR work is the dot
    # product alone — cosine() inline would redo two dim-length norm
    # aggregates for every pair a bucket produces.
    #
    # ensure_min_partitions on the corpus side: the fixture table is one
    # parquet file → one input partition, and the L×k plane-dot pass +
    # explode would otherwise run on a single core (measured 1.1 s of a
    # 2.4 s warm run). barrier=False — the expensive transform sits
    # above the round-robin exchange and joins can't sink below it. At
    # real scale the corpus already has many partitions and this no-ops.
    c = with_lsh_probe_keys(
        ensure_min_partitions(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cvec")
            ),
            barrier=False,
        ).withColumn("_cnorm", norm(F.col("_cvec"))),
        "_cvec",
        dim,
        num_planes,
        num_tables,
        n_probe=1,
    )
    q = with_lsh_probe_keys(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
        ).withColumn("_qnorm", norm(F.col("_qvec"))),
        "_qvec",
        dim,
        num_planes,
        num_tables,
        n_probe,
    )
    scored = (
        c.join(F.broadcast(q), on=["_table", "_bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    dot(F.col("_qvec"), F.col("_cvec")),
                    F.col("_qnorm") * F.col("_cnorm"),
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    # The same (query, neighbor) pair can collide in several tables or
    # probe buckets; collapse before ranking so row_number stays dense.
    if n_probe > 1 or num_tables > 1:
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def quantization_profile(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization profile — the storage
    planning pass for an embedding corpus (int8 cuts an ANN index to a
    quarter of float32; this measures what that costs per vector).

    Per vector: ``scale = max|vᵢ|``, ``qᵢ = floor(vᵢ/scale·127 + 0.5)``
    (explicit floor-of-shifted rather than round() so the halfway cases
    are engine-deterministic — the round_det rule), and the
    reconstruction error ``max|qᵢ·scale/127 − vᵢ|``. All higher-order
    array expressions, JVM-side, one pass per row, no shuffle at all —
    embarrassingly parallel at any scale. Zero vectors quantize to
    all-zero with zero error.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    staged = (
        ensure_min_partitions(df)
        .select(
            F.col("vec_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_scale", F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x))))
    )
    q = F.transform(
        F.col("_v"), lambda x: F.floor(x / F.col("_scale") * 127 + 0.5).cast("long")
    )
    zeros = F.transform(F.col("_v"), lambda x: F.lit(0).cast("long"))
    staged = staged.withColumn("_q", F.when(F.col("_scale") == 0, zeros).otherwise(q))
    err = F.array_max(
        F.zip_with(F.col("_q"), F.col("_v"), lambda qq, x: F.abs(qq * F.col("_scale") / 127 - x))
    )
    return staged.select(
        "vec_id",
        round_det(F.col("_scale"), 6).alias("scale_q"),
        F.aggregate(F.col("_q"), F.lit(0).cast("long"), lambda a, b: a + b).alias("q_sum"),
        round_det(F.when(F.col("_scale") == 0, F.lit(0.0)).otherwise(err), 6).alias(
            "max_abs_err"
        ),
    )


def ivf_anchor_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF ANN with DETERMINISTIC anchor centroids — the untrained
    sibling of :func:`ivf_lloyd_topk`.

    Instead of a k-means training pass, the cell "centroids" are the
    ``IVF_CELLS`` corpus vectors with the lexically-smallest
    ``md5(cast(id as string))`` — a deterministic uniform sample of the
    corpus (md5 is an unbiased order scrambler), so the whole index
    build is replayable by any engine with md5: no RNG, no iterative
    fit, no driver-side model state. Every corpus vector joins the cell
    of its nearest anchor (squared-L2, anchor-rank tie-break); each
    query probes its ``IVF_N_PROBE`` nearest cells and exact rounded-cosine
    re-ranks the candidates.

    Scale posture (100 TB): anchor selection is a top-``IVF_CELLS``
    aggregate (tiny result, one pass); the anchor matrix rides as a
    ONE-ROW broadcast frame (same plan-size reasoning as
    with_lsh_probe_keys' plane matrix); assignment is per-row mul-adds
    with no shuffle; the probe join is an equi-join on the cell id, so
    shuffle volume is O(corpus) — never a scan per query. Trade-off vs
    trained k-means: cells are Voronoi around random corpus points, so
    occupancy is less balanced (mitigate with a larger ``IVF_CELLS``),
    in exchange for a reproducible, SQL-checkable index.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    spark = corpus.sparkSession
    # Anchor selection: a driver-side top-K of (md5(id), id) — K vectors
    # of control data, same posture as ivf_lloyd_topk's driver-side centroids.
    anchor_rows = collect_control(
        corpus.select(
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
            F.col("vec_id").alias("_aid"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_av"),
        )
        .orderBy("_h", "_aid")
        .limit(IVF_CELLS)
    )
    anchor_mat = [list(r["_av"]) for r in anchor_rows]

    anchors_df = control_frame(spark, [(anchor_mat,)], "_anchor_mat: array<array<double>>")

    def _with_cells(df: DataFrame, vcol: str, probes: int) -> DataFrame:
        """Rank cells by (squared-L2 distance, cell idx) ascending and
        explode the first ``probes`` cell ids onto each row. The
        distance uses the same sequential Σ(a-b)² accumulation as
        everything else in this module, snapped to an exact BIGINT
        nano-grid (floor(d²·1e9 + 0.5)) BEFORE the argmin so near-tied
        anchors can't flip cells on cross-engine ulp noise — the same
        round-before-compare discipline as every other graded
        boundary (ADVICE r5)."""
        staged = df.join(F.broadcast(anchors_df), how="cross").withColumn(
            "_cell_dists",
            F.expr(
                "transform(_anchor_mat, (av, ci) -> named_struct("
                f"'d', CAST(floor(aggregate(zip_with(`{vcol}`, av, (x, y) -> "
                "(cast(x as double) - y) * (cast(x as double) - y)), "
                "cast(0.0 as double), (acc, x) -> acc + x) "
                "* 1000000000.0 + 0.5) AS BIGINT), 'c', ci))"
            ),
        )
        return staged.withColumn(
            "_cell",
            F.explode(F.slice(F.array_sort("_cell_dists"), 1, probes).getField("c")),
        ).drop("_anchor_mat", "_cell_dists")

    c = _with_cells(
        ensure_min_partitions(
            corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cvec")),
            barrier=False,
        ).withColumn("_cnorm", norm(F.col("_cvec"))),
        "_cvec",
        probes=1,
    )
    q = _with_cells(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec"))
        .withColumn("_qnorm", norm(F.col("_qvec"))),
        "_qvec",
        probes=IVF_N_PROBE,
    )
    scored = (
        c.join(F.broadcast(q), on="_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    dot(F.col("_qvec"), F.col("_cvec")),
                    F.col("_qnorm") * F.col("_cnorm"),
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    # A corpus row lives in exactly one cell, so (query, neighbor) pairs
    # are already unique — no distinct() needed (unlike multi-table LSH).
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivf_lloyd_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF ANN over a TRAINED k-means index whose training is fully
    deterministic and SQL-replayable — the round-8 replacement for the
    seeded ``pyspark.ml`` fit that kept ``ann_ivf_topk`` rows-only.

    The whole Lloyd recurrence runs on an integer grid, so there is no
    cross-engine float noise anywhere in the index build:

    - vectors are snapped once to a 1e-6 grid (``floor(x·1e6 + 0.5)``
      as BIGINT — the module's round-before-compare discipline);
    - init: centroids = the ``IVF_CLUSTERS`` corpus vectors with the
      lexically-smallest ``(md5(id), id)`` (the ivf_anchor_topk
      device — an unbiased deterministic sample);
    - each of ``IVF_ITERS`` Lloyd steps assigns every vector to its
      nearest centroid by EXACT integer squared-L2 (cell-index
      tie-break) and recomputes each centroid dimension-wise as
      ``floor(Σx / n)`` — integer sums are order-independent, so the
      parallel aggregation is bit-stable, and the floor of the
      correctly-rounded double quotient equals the exact floor for
      every magnitude in range (|Σx| < 2^53, non-integer quotients
      ≥ 1/n away from integers). Cells that lose all members keep
      their previous centroid.

    Candidate generation (n_probe nearest cells) and the exact
    rounded-cosine re-rank over the ORIGINAL float vectors mirror
    :func:`ivf_anchor_topk` verbatim. The DuckDB twin unrolls the
    ``IVF_ITERS`` assignment/update rounds as CTEs — the same device as
    the PageRank/LPA/MMR oracles.

    Scale posture (100 TB): each Lloyd step is one corpus map
    (broadcast centroid matrix, per-row integer mul-adds, no shuffle)
    plus one (cell, dim) aggregate whose result — ≤ n_clusters × dim
    rows — is the ONLY driver-side state (control data, the CC-fixpoint
    posture). The corpus frame is checkpointed once so the loop rescans
    the materialized integer vectors, not the parquet lineage. The
    probe join is an equi-join on cell id: shuffle volume O(corpus),
    never a per-query scan.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    int_vec = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * GRID_SCALE + F.lit(0.5)).cast("long"),
    )
    # Materialized: the initial centroids, every Lloyd round and the final
    # assignment read it.
    base = materialize(
        ensure_min_partitions(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("_cvec"),
                int_vec.alias("_iv"),
            ),
            barrier=False,
        )
    )

    init_rows = collect_control(
        base.select(
            F.md5(F.col("neighbor_id").cast("string")).alias("_h"),
            "neighbor_id",
            "_iv",
        )
        .orderBy("_h", "neighbor_id")
        .limit(IVF_CLUSTERS)
    )
    centroids = [list(r["_iv"]) for r in init_rows]

    # r15 (guide §4): the assignment/probe distance reductions were the
    # query's CPU floor — the interpreted `aggregate(zip_with(...))`
    # tree burned ~8.4 s of executor CPU PER PASS at sf0.1 (profile in
    # OPTIMIZATION_r15.md's table), ~100 s total across the 5 Lloyd
    # rounds + final assignment. The Arrow kernels compute the
    # identical exact-int64 distances/argmin in NumPy (bit-equality
    # argument in operators/vector_kernels.py); the centroid matrix
    # rides the UDF closure, so the one-row broadcast relation and its
    # per-iteration BroadcastNestedLoopJoin disappear from the plan.
    from kickstarter_etl_pipeline_spark.operators.vector_kernels import (
        assign_cell_int,
        dot_arrow,
        probe_cells_int,
    )

    def _assign(df: DataFrame, cents: list) -> DataFrame:
        return df.withColumn("_cell", assign_cell_int(cents)(F.col("_iv")))

    dim = len(centroids[0])
    # The training loop's aggregates land on <= n_clusters × dim groups.
    # The old session-global shuffle-partitions override was retired in
    # round 11 (the loop_shuffle_partitions concurrency trap); the
    # per-frame replacement is coalesce(1) AFTER the aggregate: the
    # narrow coalesce merges the shuffle-read partitions, so the final
    # aggregate runs as ONE reduce task instead of a session-width
    # stage of near-empty tasks (measured +0.2 s/round of pure
    # scheduling at bench scale). Map-side combine is untouched — the
    # exchange still carries only (map partitions × groups) combined
    # rows, which is also why one reduce task is safe at ANY corpus
    # size (the collect funnels the same rows to the driver anyway).
    # A repartition-before-groupBy would instead ship the RAW exploded
    # rows — losing the combine that makes this loop corpus-scale-safe.
    for _ in range(IVF_ITERS):
        stats = collect_control(
            _assign(base, centroids)
            .select("_cell", F.posexplode("_iv").alias("_d", "_x"))
            .groupBy("_cell", "_d")
            .agg(F.sum("_x").alias("_s"), F.count("*").alias("_n"))
            .coalesce(1)
        )
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cell.setdefault(r["_cell"], {})[r["_d"]] = (r["_s"], r["_n"])
        centroids = [
            [by_cell[ci][d][0] // by_cell[ci][d][1] for d in range(dim)]
            if ci in by_cell
            else prev
            for ci, prev in enumerate(centroids)
        ]

    cass = _assign(base, centroids).withColumn("_cnorm", norm(F.col("_cvec")))
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qvec"),
            int_vec.alias("_qiv"),
        )
        .withColumn("_qnorm", norm(F.col("_qvec")))
        .withColumn(
            # explode(null) drops the row — identical to the replaced
            # explode(slice(array_sort(_cd), 1, n_probe).c) on a null
            # distance array.
            "_cell",
            F.explode(probe_cells_int(centroids)(F.col("_qiv"))),
        )
        .drop("_qiv")
    )
    scored = (
        cass.join(F.broadcast(q), on="_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    # r15: the candidate re-rank dot was the other
                    # interpreted-HOF hotspot (~4 s CPU at sf0.1) —
                    # same value, same IEEE fold order, NumPy kernel.
                    dot_arrow(F.col("_qvec"), F.col("_cvec")),
                    F.col("_qnorm") * F.col("_cnorm"),
                ),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def _pca_projection(w: "list[float]") -> Column:
    """The per-row projection ``floor(Σ_d _cv[d]·w[d] + 0.5)`` as a
    BIGINT, the sum folded left in dimension order, built as ONE SQL
    expression. ``w`` is written as DOUBLE literals: ``repr`` gives the
    shortest string that round-trips a finite double, and Spark parses
    it back to the same bits. A NaN or infinity has no SQL literal and
    raises ``ValueError``."""
    import math

    bad = [x for x in w if not math.isfinite(x)]
    if bad:
        raise ValueError(f"non-finite projection weight {bad[0]!r} has no SQL literal")
    w_sql = ", ".join(f"{float(x)!r}D" for x in w)
    return F.expr(
        "CAST(floor(aggregate("
        f"zip_with(_cv, array({w_sql}), (c, ww) -> CAST(c AS DOUBLE) * ww), "
        "0.0D, (acc, x) -> acc + x) + 0.5D) AS BIGINT)"
    )


def pca_top_component(corpus: DataFrame, n_iters: int = PCA_ITERS) -> DataFrame:
    """Top principal component of an embedding corpus by power
    iteration — the embedding-drift / whitening / anisotropy monitor an
    LM-data pipeline runs over its vector tables — made bit-deterministic
    (and therefore fully DuckDB-oracle-able via unrolled CTEs, the
    PageRank device) by keeping every cross-row reduction on an integer
    grid:

    - vectors snap once to 1e-6 BIGINTs; the mean is the dimension-wise
      ``floor(Σv / n)`` (exact longs), centering is exact;
    - each iteration computes per-row projections s_i = c_i·w (a
      SEQUENTIAL fold in array order — deterministic), snaps them to
      integers q_i = floor(s_i + 0.5), and accumulates the matrix-vector
      product per dimension as Σ c_i[d]·q_i in DECIMAL(38,0) — integer
      sums are order-independent, so the parallel aggregation is
      bit-stable (and overflow-proof at any corpus size);
    - the 64 per-dimension sums are CONTROL DATA: collected, normalized
      driver-side with a fixed left-fold order, and the next w snapped
      to a 1e-9 grid — the identical expression tree the SQL twin runs
      with ``list_reduce``.

    Starting vector = uniform 1/8 per dimension (0.125 is an exact
    double), so the converged sign is itself deterministic. Output: one
    row per dimension with the integer-grid mean, the unit PC1 weight
    (9 dp grid) and the PC1 variance in original units (6 dp).

    Scale posture (100 TB): per iteration ONE corpus map (broadcast
    64-double w) + one 64-group integer aggregate; driver state is 64
    numbers per round. n_iters passes over a once-checkpointed integer
    frame — the classic distributed power iteration, with determinism
    as the only addition.
    """
    import math

    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    int_vec = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * GRID_SCALE + F.lit(0.5)).cast("long"),
    )
    # Materialized: the mean pass and the centering both read it.
    base = materialize(
        ensure_min_partitions(
            corpus.select(F.col("vec_id").alias("_id"), int_vec.alias("_iv")), barrier=False
        )
    )

    spark = corpus.sparkSession
    # Control-loop aggregates land on <= dim or <= 64 groups: map-side
    # combine + a narrow coalesce(1) collapse each reduce to one task
    # without the retired session-global partitions override (the
    # ivf_lloyd_topk rationale — see that loop's comment).
    mean_rows = collect_control(
        base.select(F.posexplode("_iv").alias("_d", "_x"))
        .groupBy("_d")
        .agg(F.sum("_x").alias("_s"), F.count("*").alias("_n"))
        .coalesce(1)
    )
    n_rows = mean_rows[0]["_n"]
    dim = len(mean_rows)
    mu = [0] * dim
    for r in mean_rows:
        # Exact integer floor division (Python // floors toward -inf on
        # ints) — NOT math.floor(s / n), whose double quotient silently
        # diverges once |s| exceeds 2^53 (round-8 ADVICE finding; the
        # DuckDB twin uses the matching exact-integer formulation).
        mu[r["_d"]] = r["_s"] // r["_n"]

    mu_sql = ", ".join(f"{int(m)}L" for m in mu)
    # Materialized: every power-iteration round reads it.
    centered = materialize(
        base.select(
            "_id", F.expr(f"zip_with(_iv, array({mu_sql}), (v, m) -> v - m)").alias("_cv")
        )
    )

    # Each round plans a fresh aggregate, so its driver cost is the
    # plan build: _pca_projection writes the round's w as ONE SQL
    # expression (one parse), where 64 F.lit Columns and two Python
    # lambdas cost 45-95 ms of py4j calls per ~0.2 s round. r15 probe
    # (OPTIMIZATION_r15.md): an Arrow-kernel projection was
    # interleave-A/B'd here and REVERTED — per round it swapped ~0.19 s
    # of well-parallelized HOF CPU for an ArrowEvalPython round trip
    # that cost more at bench scale (pca min 4.40 → 5.38 s over 8
    # rounds); the HOF keeps the work in the fused JVM stage.
    w = [0.125] * dim
    for _ in range(n_iters):
        sums = collect_control(
            centered.select(_pca_projection(w).alias("_q"), "_cv")
            .select("_q", F.posexplode("_cv").alias("_d", "_c"))
            .groupBy("_d")
            .agg(
                F.sum((F.col("_c") * F.col("_q")).cast("decimal(38,0)")).alias("_ax")
            )
            .coalesce(1)
        )
        x = [0.0] * dim
        for r in sums:
            x[r["_d"]] = float(r["_ax"])
        acc = 0.0
        for v in x:  # fixed left fold in dimension order = the SQL list_reduce
            acc = acc + v * v
        nrm = math.sqrt(acc)
        # Degenerate-input guard: a zero centered matrix (all
        # embeddings identical) or a w orthogonal to the data gives
        # nrm == 0; dividing would raise ZeroDivisionError while the
        # SQL twin kept computing. Both sides now emit zero weights
        # (and q collapses to 0 for every later round, so the
        # iterates stay in lockstep) — round-8 ADVICE finding.
        if nrm == 0.0:
            w = [0.0] * dim
        else:
            w = [math.floor(v / nrm * 1e9 + 0.5) / 1e9 for v in x]

    var_units = math.floor(nrm / n_rows / 1e12 * 1e6 + 0.5) / 1e6
    out = [
        (d, int(mu[d]), float(w[d]), float(var_units)) for d in range(dim)
    ]
    return control_frame(
        spark, out, "dim_idx int, mu_unit long, pc1_weight double, pc1_variance double"
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 16,
) -> DataFrame:
    """SemDeDup: embedding-space semantic deduplication (Abbas et al.
    2023, arXiv:2303.09540) — cluster the corpus, then inside each
    cluster drop every vector that sits within ``threshold`` cosine of a
    kept cluster-mate.

    Fully deterministic and therefore fully oracle-able: cells are the
    md5-anchor Voronoi cells of :func:`ivf_anchor_topk` (no RNG, no
    k-means training), the keep rule is "a vector is dropped iff a
    LOWER-id cell-mate has rounded-cosine ≥ threshold" (SemDeDup keeps
    one representative per near-dup clique; lowest id is the
    deterministic choice), and the cosine boundary applies to the
    6-dp-rounded value so both engines agree on boundary cases.

    Returns one row per corpus vector: (id, cell, n_near_dups, is_kept).

    Scale posture (100 TB): anchor selection is a driver-side
    top-``n_cells`` of control data; assignment is per-row mul-adds
    against a one-row broadcast anchor matrix (no shuffle); the
    pair scan is per-cell, so work is Σ|cell|² — at real scale raise
    ``n_cells`` so cells stay bounded (SemDeDup's own regime is k ≈
    corpus/1000), keeping the self-join far from all-pairs.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    anchor_rows = collect_control(
        corpus.select(
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
            F.col("vec_id").alias("_aid"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_av"),
        )
        .orderBy("_h", "_aid")
        .limit(n_cells)
    )
    anchor_mat = [list(r["_av"]) for r in anchor_rows]

    # r15 (guide §4): the 16-anchor assignment was this query's largest
    # CPU stage (15.7 s executor CPU at sf0.1 — OPTIMIZATION_r15.md
    # change 1): the interpreted transform/zip_with/aggregate
    # tree re-walked per element. The Arrow kernel computes the same
    # nano-grid-snapped exact-BIGINT argmin (same IEEE fold order, same
    # (d, c) tie-break — operators/vector_kernels.py) in NumPy; the
    # anchor matrix rides the closure, so the one-row broadcast frame
    # and its cross join disappear from the plan.
    from kickstarter_etl_pipeline_spark.operators.vector_kernels import (
        assign_cell_nano,
        dot_arrow,
    )

    assigned = ensure_min_partitions(
        corpus.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")),
        barrier=False,
    ).withColumn("cell", assign_cell_nano(anchor_mat)(F.col("_vec")))
    # Both pair-scan sides read the assignment; materialize so the
    # n_cells × dim distance work runs once per row. The norm
    # is staged per ROW here so the per-candidate-pair work inside the
    # join is the dot product alone (the ann_lsh_topk lesson: cosine()
    # inline redoes two dim-length norm aggregates per pair).
    assigned = materialize(assigned.withColumn("_nrm", norm(F.col("_vec"))))
    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_vec").alias("_va"), F.col("_nrm").alias("_na"), "cell"
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), F.col("_vec").alias("_vb"), F.col("_nrm").alias("_nb"), "cell"
    )
    dup_counts = (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            # r15: the per-pair dot was the second CPU hotspot (13.8 s
            # executor CPU at sf0.1) — same fold, NumPy kernel.
            "_sim",
            F.round(
                F.try_divide(dot_arrow(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")), 6
            ),
        )
        .filter(F.col("_sim") >= threshold)
        .groupBy("id_b")
        .agg(F.count("*").alias("_n_near"))
    )
    return (
        assigned.join(dup_counts, assigned._id == dup_counts.id_b, "left")
        .select(
            F.col("_id").alias("vec_id"),
            "cell",
            F.coalesce(F.col("_n_near"), F.lit(0)).cast("long").alias("n_near_dups"),
            F.when(F.col("_n_near").isNull(), 1).otherwise(0).cast("int").alias("is_kept"),
        )
    )


def quantized_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """SQ8 ANN: int8-quantized scan + exact float rescore — the
    production "scalar quantization + rescoring" retrieval pattern
    (a quarter of float32 memory traffic on the scan, full precision
    only on the shortlist).

    Fully deterministic, hence fully oracle-able:

    - per-vector symmetric quantization, the :func:`quantization_profile`
      scheme (``floor(v/scale·127 + 0.5)`` — engine-stable halfway
      cases);
    - int dot products are EXACT integers (|q| ≤ 127, so 64 dims stay
      < 2^21 ≪ 2^53); the approximate similarity ``qdot/(‖q_q‖·‖q_c‖)``
      uses only IEEE-correctly-rounded ops (sqrt, mul, div) in a fixed
      tree, rounded to 6 dp before ranking so the shortlist boundary is
      engine-stable (neighbor-id tie-break);
    - the shortlist is exact-rescored in float and re-ranked by rounded
      true cosine.

    Scale posture: the query side broadcasts (same contract as
    :func:`brute_force_topk`); the scan stage is one codegen'd pass.
    At 100 TB the quantized scan composes with the IVF/LSH cell pruning
    tiers — this operator demonstrates the quantize+rescore arithmetic
    in isolation.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    def _quantize(df: DataFrame, prefix: str) -> DataFrame:
        v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        staged = df.select(F.col("vec_id").alias(f"{prefix}_id"), v.alias("_v"))
        scale = F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x)))
        staged = staged.withColumn("_scale", scale)
        q = F.transform(
            F.col("_v"), lambda x: F.floor(x / F.col("_scale") * 127 + 0.5).cast("long")
        )
        zeros = F.transform(F.col("_v"), lambda x: F.lit(0).cast("long"))
        staged = staged.withColumn("_q", F.when(F.col("_scale") == 0, zeros).otherwise(q))
        qnorm = F.sqrt(
            F.aggregate(
                F.transform(F.col("_q"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda a, b: a + b,
            ).cast("double")
        )
        return staged.select(
            f"{prefix}_id",
            F.col("_v").alias(f"{prefix}_v"),
            F.col("_q").alias(f"{prefix}_q"),
            qnorm.alias(f"{prefix}_qn"),
        )

    c = _quantize(ensure_min_partitions(corpus, barrier=False), "c").filter(F.col("c_qn") > 0)
    qy = _quantize(queries, "q").filter(F.col("q_qn") > 0)
    qdot = F.aggregate(
        F.zip_with(F.col("q_q"), F.col("c_q"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    scored = (
        c.crossJoin(F.broadcast(qy))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "q_v",
            "c_v",
            F.round((qdot.cast("double") / (F.col("q_qn") * F.col("c_qn"))), 6).alias(
                "approx_sim"
            ),
        )
    )
    w_short = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    shortlisted = (
        scored.withColumn("_srank", F.row_number().over(w_short))
        .filter(F.col("_srank") <= 20)
        .withColumn("cosine_sim", F.round(cosine(F.col("q_v"), F.col("c_v")), 6))
    )
    w_final = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        shortlisted.withColumn("rank", F.row_number().over(w_final).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "approx_sim", "cosine_sim", "rank")
    )


def mmr_diversified_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = MMR_K,
    pool: int = MMR_POOL,
    lam: float = MMR_LAM,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's ``pool``-size exact-cosine candidate set,
    greedily select ``k`` results maximizing
    ``λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`` — the standard
    diversity-aware retrieval pass (RAG context assembly, dedup-aware
    search) that plain top-k can't express.

    Spark-first shape: the DISTRIBUTED work is the one candidate-
    generation pass (brute-force here; swap in lsh_topk at scale). The
    greedy selection runs per query over its BOUNDED pool (≤ pool rows
    by contract) in ONE grouped Arrow pass (r15; guide §4 — it was
    k−1 driver-built plan rounds, each paying a full plan build,
    checkpoint, join and window for ≤ queries×pool rows of control-
    sized data; profiled 3.0 s of pure driver planning at sf0.1). The
    Python fold replays the replaced plan's arithmetic bit-for-bit:
    dot products as array-order left folds (same IEEE adds), try_divide
    → None on a zero divisor, F.round(x, 6) as HALF_UP on the shortest
    decimal representation (Decimal(repr(x)) == BigDecimal.valueOf),
    round_det as floor(x·1e6 + 0.5)/1e6, and the (mmr DESC NULLS LAST
    — NaN first, Spark's descending order — id ASC) pick. The DuckDB
    twin unrolls the same k−1 rounds as CTEs; equality is pinned by
    the oracle and tests/test_r15_ops or the legacy plan in git.

    Scale posture: per-group state is ≤ pool vectors (a documented
    constant), so the grouped pass shuffles exactly the candidate
    table once and holds O(pool·dim) per task.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql import types as T

    cands = brute_force_topk(corpus, queries, k=pool)
    vecs = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_nv", norm(F.col("_v")))
    cands = cands.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", F.col("cosine_sim").alias("_rel"), "_v", "_nv"
    )
    one_minus = round(1.0 - lam, 10)  # the snapped literal the SQL twin writes

    def _round6(x):
        # Spark's round(double, 6): HALF_UP on the SHORTEST decimal
        # representation (BigDecimal.valueOf == Double.toString ==
        # Python repr's shortest round-trip)
        if x is None or math.isnan(x) or math.isinf(x):
            return x
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    def _round_det6(x):
        if x is None or math.isnan(x):
            return x
        return float(math.floor(x * 1e6 + 0.5)) / 1e6

    def _dot(a, b):
        acc = 0.0
        for i in range(len(a)):
            acc += a[i] * b[i]
        return acc

    def _desc_key(score, nid):
        # Spark F.desc ordering: NaN largest (first), NULLs last
        if score is None:
            return (2, 0.0, nid)
        if math.isnan(score):
            return (0, 0.0, nid)
        return (1, -score, nid)

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["query_id", "rank", "neighbor_id", "mmr_score"]
        if not len(pdf):
            return pd.DataFrame([], columns=cols)
        remaining = {
            nid: (rel, list(v), nv)
            for nid, rel, v, nv in zip(
                pdf["neighbor_id"], pdf["_rel"], pdf["_v"], pdf["_nv"]
            )
        }
        qid = pdf["query_id"].iloc[0]
        out = []
        sel = []  # (vec, nv) of already-picked docs
        for t in range(1, k + 1):
            if not remaining:
                break
            if t == 1:
                scores = {nid: rel for nid, (rel, _, _) in remaining.items()}
            else:
                scores = {}
                for nid, (rel, v, nv) in remaining.items():
                    # F.max skips NULLs and treats NaN as the largest
                    # double (once NaN, stays NaN)
                    max_sel = None
                    for sv, snv in sel:
                        den = nv * snv
                        sim = None if den == 0.0 else _round6(_dot(v, sv) / den)
                        if sim is not None and (
                            max_sel is None
                            or math.isnan(sim)
                            or sim > max_sel
                        ):
                            max_sel = sim
                    scores[nid] = (
                        None
                        if max_sel is None or rel is None
                        else _round_det6(lam * rel - one_minus * max_sel)
                    )
            best = min(remaining, key=lambda n: _desc_key(scores[n], n))
            _rel_b, v, nv = remaining.pop(best)
            sel.append((v, nv))
            out.append((qid, t, best, scores[best]))
        return pd.DataFrame(out, columns=cols)

    fields = {f.name: f.dataType for f in cands.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField("query_id", fields["query_id"]),
            T.StructField("rank", T.IntegerType()),
            T.StructField("neighbor_id", fields["neighbor_id"]),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )
    return cands.groupBy("query_id").applyInPandas(_greedy, out_schema)
