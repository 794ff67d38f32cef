"""Graph analytics over co-occurrence edge sets.

Triangle counting is THE canonical distributed-graph primitive (the
basis of clustering coefficients, community pre-filters, and spam/bot
ring detection over interaction graphs). The implementation here is
the standard degree-ordered orientation algorithm (Cohen's MapReduce
formulation / Suri & Vassilvitskii "Counting Triangles and the Curse
of the Last Reducer", WWW'11):

1. every undirected edge is oriented from its LOWER-(degree, id)
   endpoint to its higher one — a total order, so each edge appears
   exactly once and each triangle is counted exactly once, at its
   minimum-rank apex;
2. wedges = pairs of out-edges from one apex (self-join keyed by the
   apex vertex);
3. a wedge closes iff the oriented edge between its two far ends
   exists (equi-join on the vertex pair).

Degree orientation is the scale mitigation: out-degree after
orientation is O(√m) even on power-law graphs, so the wedge self-join
never explodes on hub vertices — exactly the "curse of the last
reducer" the id-only orientation suffers. Everything is deterministic
((degree, id) ranks have no ties), so the whole pipeline has a full
DuckDB twin.

The related connected-components primitive lives in operators.dedup
(large-star/small-star over near-dup edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kickstarter_etl_pipeline_spark.constants import (
    BELLMAN_FORD_ROUNDS,
    BFS_ROUNDS,
    DAMPING,
    GRAPH_PIVOTS,
    GRAPH_PIVOT_ROUNDS,
    HITS_ITERATIONS,
    KCORE_K,
    KCORE_ROUNDS,
    KTRUSS_K,
    KTRUSS_ROUNDS,
    LPA_ITERATIONS,
    OCCUPANCY_CAP,
    PAGERANK_ITERATIONS,
    PPR_ITERATIONS,
    PPR_RESTART,
    ROTOR_STEPS,
    SPECTRAL_ROUNDS,
    WEDGE_DEGREE_CAP,
)
from kickstarter_etl_pipeline_spark.operators.partitioning import loop_frame, materialize
from kickstarter_etl_pipeline_spark.operators.ranking import collect_control, control_frame


def degree_table(edges: DataFrame) -> DataFrame:
    """Vertex degrees of an undirected, deduplicated edge list."""
    ends = edges.select(F.col("u").alias("id")).unionAll(edges.select(F.col("v").alias("id")))
    return ends.groupBy("id").agg(F.count("*").cast("long").alias("degree"))


def orient_by_degree(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient each edge from lower (degree, id) to higher (degree, id).

    The degree table is corpus-scale but narrow (id, degree); both
    joins are uniform-key equi-joins on vertex id. The rank struct is
    carried on the DST side because the wedge step orders far ends by
    it.
    """
    e = (
        edges.join(deg.select(F.col("id").alias("u"), F.col("degree").alias("_du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("degree").alias("_dv")), "v")
    )
    rank_u = F.struct(F.col("_du").alias("d"), F.col("u").alias("i"))
    rank_v = F.struct(F.col("_dv").alias("d"), F.col("v").alias("i"))
    u_first = rank_u < rank_v
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, rank_v).otherwise(rank_u).alias("dst_rank"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected,
    deduplicated (u < v) edge list.

    Returns (user-facing columns) one row per vertex that belongs to at
    least one triangle: ``(id, degree, n_triangles)``.
    """
    deg = degree_table(edges)
    # Materialized: the wedge join and the closing probe read it.
    oriented = materialize(orient_by_degree(edges, deg))
    e1 = oriented.select(
        F.col("src").alias("_a"), F.col("dst").alias("_b"), F.col("dst_rank").alias("_rb")
    )
    e2 = oriented.select(
        F.col("src").alias("_a"), F.col("dst").alias("_c"), F.col("dst_rank").alias("_rc")
    )
    wedges = e1.join(e2, on="_a").filter(F.col("_rb") < F.col("_rc"))
    closing = oriented.select(F.col("src").alias("_b"), F.col("dst").alias("_c"))
    tri = wedges.join(closing, on=["_b", "_c"]).select("_a", "_b", "_c")
    per_vertex = (
        tri.select(F.explode(F.array("_a", "_b", "_c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return per_vertex.join(deg, on="id")


def cooccurrence_nodes(events: DataFrame, bucket_seconds: int = 1800) -> DataFrame:
    """Distinct ``(_bucket, _sub, user_id)`` node table feeding the
    co-occurrence self-join, with the per-join-key occupancy bound
    applied: within each time bucket, users are ranked by
    ``(md5(user_id), user_id)`` — a deterministic, engine-portable,
    hash-ordered total order — and split into sub-buckets of at most
    ``occupancy_cap`` members (``_sub = (rank-1) div cap``).

    This is the fan-out contract for every downstream pair join: a
    join keyed by ``(_bucket, _sub)`` emits at most C(cap, 2) pairs
    per key, so a hot bucket with n users costs ~n·(cap−1)/2 pairs —
    LINEAR in occupancy — instead of the quadratic n·(n−1)/2 an
    unsalted bucket key produces (an `events.error` storm putting 1e5
    users in one bucket: ~3.2e6 pairs instead of ~5e9 in one task).
    The documented degradation: users landing in different sub-buckets
    of the same hot bucket are NOT connected. Sub-bucketing is
    hash-ordered so each sub-bucket is a uniform sample of the bucket,
    and it only engages above the cap — at any occupancy ≤ cap the
    edge set is bit-identical to the unsalted join. The DuckDB twins
    (twin_sql.ranked_cooccurrence_nodes) replay the exact
    same ranking, so cross-engine hashes agree at every scale.
    """
    nodes = (
        events.filter(F.col("event_type") == "error")
        .select(
            (F.floor(F.col("_us") / (bucket_seconds * 1_000_000))).alias("_bucket"),
            "user_id",
        )
        .distinct()
    )
    w = Window.partitionBy("_bucket").orderBy(
        F.md5(F.col("user_id").cast("string")), F.col("user_id")
    )
    return nodes.select(
        "_bucket",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(OCCUPANCY_CAP))
        .cast("long")
        .alias("_sub"),
        "user_id",
    )


def cooccurrence_edges(events: DataFrame, bucket_seconds: int = 1800) -> DataFrame:
    """Undirected user co-occurrence edges: two users are connected iff
    they both emitted an ``error`` event within the same ``bucket_seconds``
    time bucket (and, above ``OCCUPANCY_CAP`` distinct users in one
    bucket, the same deterministic hash-ordered sub-bucket — see
    :func:`cooccurrence_nodes` for the full occupancy contract).
    Input must carry exact integer microseconds in ``_us``
    (operators.events.with_unix_micros).

    The self-join is keyed by ``(_bucket, _sub)`` — shuffle O(events),
    per-key pair fan-out hard-bounded at C(OCCUPANCY_CAP, 2), total
    pair count linear in bucket occupancy. No hot key can go
    quadratic.
    """
    nodes = cooccurrence_nodes(events, bucket_seconds)
    a = nodes.select("_bucket", "_sub", F.col("user_id").alias("u"))
    b = nodes.select("_bucket", "_sub", F.col("user_id").alias("v"))
    return (
        a.join(b, on=["_bucket", "_sub"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex:
    ``cc = 2·triangles / (degree·(degree−1))`` for degree ≥ 2, with
    vertices in no triangle reported as 0.0 (a LEFT join against the
    triangle table — they are the interesting low-cohesion cases).

    Same cost profile as :func:`triangle_counts` plus one broadcast-or-
    shuffle left join on vertex id.
    """
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det

    deg = degree_table(edges)
    tri = triangle_counts(edges).select("id", "n_triangles")
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, on="id", how="left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            round_det(
                2 * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


def _both_directions(edges: DataFrame) -> DataFrame:
    """Every ``(u, v)`` edge as ``(src, dst)`` in both directions,
    duplicates and self-loops kept."""
    return edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


def _undirected_edges(edges: DataFrame) -> DataFrame:
    """Distinct long ``(_u, _v)`` pairs holding every non-self-loop
    ``(u, v)`` edge in both directions."""
    return (
        edges.select(F.col("u").cast("long").alias("_u"), F.col("v").cast("long").alias("_v"))
        .unionByName(
            edges.select(
                F.col("v").cast("long").alias("_u"), F.col("u").cast("long").alias("_v")
            )
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )


def pagerank(edges: DataFrame) -> DataFrame:
    """PageRank over an undirected edge list (each edge contributes in
    both directions), FULLY oracle-able despite being iterative.

    The standard obstacle to cross-engine bit-equality for iterative
    float algorithms is contribution-sum ORDER (each engine aggregates
    in its own order, and the ulp-level noise compounds across
    iterations). This implementation kills the accumulation channel by
    ROUNDING the rank vector to 9 decimals after every iteration
    (round_det grid; per-sum order noise is ~1e-17 relative, ten
    orders below the grid) — so a plain SQL engine replaying the same
    per-iteration expression lands on bit-identical iterates, and the
    oracle is the literal unrolled recurrence. Deterministic iteration
    COUNT (no convergence test) keeps the replay finite.

    Scale posture: per iteration, one equi-join of the rank vector
    onto the edge list (shuffle keyed by vertex) + one vertex-keyed
    aggregate; the rank vector is localCheckpoint'd each round so the
    lineage stays flat (same pattern as connected_components). The
    two driver-side scalars (vertex count, iteration index) are
    control data, not rows.
    """
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det

    directed = _both_directions(edges)
    deg = directed.groupBy("src").agg(F.count("*").cast("long").alias("_deg"))
    directed = loop_frame(directed.join(deg, "src"))
    verts = directed.select(F.col("src").alias("id")).distinct()
    # r14: the vertex count is ONE bounded control-plane scalar; the old
    # broadcast one-row frame re-ran its distinct+agg subplan inside
    # every round's checkpoint job. Collected once, inlined as a long
    # literal — the per-row arithmetic (1.0/_n, (1-d)/_n) is the same
    # double division over the same long value, bit-equal.
    n = collect_control(verts.agg(F.count("*").cast("long").alias("_n")))[0]["_n"]
    # Degenerate-input guard (r15, ADVICE r14): with n == 0 the foldable
    # literal division 1.0/0 would raise DIVIDE_BY_ZERO at optimization
    # time under ANSI, where the old crossJoin form simply produced an
    # empty frame — return the empty (id, pr_permille) result directly.
    if n == 0:
        return verts.select(
            "id", F.lit(None).cast("double").alias("pr_permille")
        )
    n_lit = F.lit(n).cast("long")
    pr = loop_frame(verts.select("id", round_det(F.lit(1.0) / n_lit, 9).alias("pr")))
    for _ in range(PAGERANK_ITERATIONS):
        contribs = (
            directed.join(pr.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pr") / F.col("_deg")).alias("_in"))
        )
        pr = loop_frame(
            contribs.select(
                "id",
                round_det(
                    (1.0 - DAMPING) / n_lit + DAMPING * F.col("_in"), 9
                ).alias("pr"),
            ),
        )
    return pr.select("id", round_det(F.col("pr") * 1000, 6).alias("pr_permille"))


def personalized_pagerank(edges: DataFrame) -> DataFrame:
    """Personalized PageRank (random walk with restart) from ONE
    md5-chosen seed vertex — the "related entities" recommender
    primitive (Jeh & Widom 2003), distinct from global pagerank in
    both semantics (restart mass returns to the SEED, not uniformly)
    and cost (the rank frame is SPARSE: only vertices the walk has
    reached carry rows, so early rounds touch a neighborhood, not the
    graph). Same determinism device as pagerank: the rank vector
    snaps to the 1e-9 grid each round, restart mass is the one
    constant ``PPR_RESTART`` on both engines, and the iteration
    count is fixed — the DuckDB twin is the literal unrolled
    recurrence.

    Scale: per round one vertex-keyed join of the sparse rank frame
    onto the edge list + one vertex-keyed aggregate — bounded by the
    reached neighborhood, ≤ the global pagerank round cost.
    """
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det

    directed = _both_directions(edges)
    deg = directed.groupBy("src").agg(F.count("*").cast("long").alias("_deg"))
    directed = loop_frame(directed.join(deg, "src"))
    # Materialized: the first rank frame and every round's restart read it.
    seed = materialize(
        directed.select(F.col("src").alias("id"))
        .distinct()
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(1)
    )
    pr = seed.select("id", round_det(F.lit(1.0), 9).alias("pr"))
    for _ in range(PPR_ITERATIONS):
        contribs = (
            directed.join(pr.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pr") / F.col("_deg")).alias("_in"))
        )
        allin = (
            contribs.unionByName(seed.select("id", F.lit(0.0).alias("_in")))
            .groupBy("id")
            .agg(F.sum("_in").alias("_in"))
        )
        flagged = allin.join(
            F.broadcast(seed.select("id", F.lit(1).alias("_is_seed"))), "id", "left"
        )
        pr = loop_frame(
            flagged.select(
                "id",
                round_det(
                    F.when(F.col("_is_seed").isNotNull(), F.lit(PPR_RESTART)).otherwise(
                        F.lit(0.0)
                    )
                    + F.lit(DAMPING) * F.col("_in"),
                    9,
                ).alias("pr"),
            ),
        )
    return pr.select("id", round_det(F.col("pr") * 1000, 6).alias("ppr_permille"))


def label_propagation(edges: DataFrame) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), made fully deterministic: labels start as vertex ids,
    each round every vertex adopts its neighbors' MAJORITY label with
    ties broken toward the SMALLEST label, all vertices updating
    simultaneously for a FIXED number of rounds (no convergence test).
    Every step is integer counting + a total-order argmax, so the
    whole run is replayable in SQL — no RNG, no float, no async
    schedule (the classic sources of LPA nondeterminism).

    Returns (id, community, n_members). Per round: one vertex-keyed
    join + one (vertex, label) aggregate + one per-vertex argmax
    window; lineage kept flat with a loop_frame per round.
    Synchronous LPA can oscillate on bipartite structures — the fixed
    round count makes that a defined, replayable outcome rather than a
    hang.
    """
    # Materialized: the initial labels and every round's votes read it.
    directed = materialize(_both_directions(edges))
    labels = (
        directed.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("community"))
    )
    for _ in range(LPA_ITERATIONS):
        votes = (
            directed.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "community")
            .agg(F.count("*").alias("_n"))
        )
        w = Window.partitionBy("id").orderBy(F.desc("_n"), F.asc("community"))
        labels = loop_frame(
            votes.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("id", "community")
        )
    sizes = labels.groupBy("community").agg(F.count("*").cast("long").alias("n_members"))
    return labels.join(sizes, "community").select("id", "community", "n_members")


def common_neighbor_link_prediction(
    edges: DataFrame,
    wedge_degree_cap: int | None = WEDGE_DEGREE_CAP,
) -> DataFrame:
    """Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    2003): for every NON-adjacent vertex pair sharing ≥ 2
    neighbors, emit the common-neighbor count and the neighborhood
    Jaccard score ``|N(u)∩N(v)| / |N(u)∪N(v)|`` — the classic
    "people you may know" / correlated-account candidate generator.

    Shape: one wedge self-join keyed by the shared neighbor (the same
    scale posture as triangle counting — per-vertex fan-out is bounded
    by degree), one anti-join to drop existing edges, one broadcast-or-
    shuffle degree join. Fully deterministic: counts are exact
    integers, the score divides exact integers on a 6-dp grid.

    Scale contract: the wedge enumeration emits C(deg(z), 2) pairs per
    shared neighbor z, so one power-law hub goes quadratic. Vertices
    with degree > ``wedge_degree_cap`` are excluded from the SHARED-
    NEIGHBOR role BEFORE the self-join (standard practice — a shared
    hub carries near-zero link-prediction signal anyway), hard-bounding
    per-key fan-out at C(cap, 2). ``n_common`` therefore counts capped
    common neighbors; the Jaccard denominator keeps the FULL endpoint
    degrees. The DuckDB twins mirror the identical cap, so hashes
    agree at every scale; at fixture scale (max degree 123 at sf0.1)
    the cap is inert. Pass ``wedge_degree_cap=None`` to disable.
    """
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det

    # self-contained precondition: normalize to distinct u<v edges so a
    # caller passing duplicate or bidirectional rows can't silently
    # inflate degrees / common-neighbor counts (round-6 self-review)
    edges = (
        edges.select(
            F.least(F.col("u"), F.col("v")).alias("u"), F.greatest(F.col("u"), F.col("v")).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = edges.select(F.col("u").alias("a"), F.col("v").alias("n")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("n"))
    )
    deg = adj.groupBy("a").agg(F.count("*").cast("long").alias("degree"))
    if wedge_degree_cap is not None:
        # the degree filter must land BEFORE the self-join — that is
        # where the fan-out bound comes from (filtering after the join
        # would leave the quadratic blow-up in the plan)
        capped_ids = deg.filter(F.col("degree") <= wedge_degree_cap).select(
            F.col("a").alias("n")
        )
        wedge_adj = adj.join(capped_ids, on="n")
    else:
        wedge_adj = adj
    wedge = (
        wedge_adj.select(F.col("a").alias("u"), "n")
        .join(wedge_adj.select(F.col("a").alias("v"), "n"), on="n")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    existing = edges.select(
        F.least(F.col("u"), F.col("v")).alias("u"), F.greatest(F.col("u"), F.col("v")).alias("v")
    )
    return (
        wedge.join(existing, on=["u", "v"], how="left_anti")
        .join(deg.select(F.col("a").alias("u"), F.col("degree").alias("_du")), "u")
        .join(deg.select(F.col("a").alias("v"), F.col("degree").alias("_dv")), "v")
        .select(
            "u",
            "v",
            "n_common",
            round_det(
                F.col("n_common")
                / (F.col("_du") + F.col("_dv") - F.col("n_common")),
                6,
            ).alias("jaccard_score"),
        )
    )


def hits(edges: DataFrame, iterations: int = HITS_ITERATIONS) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a bipartite
    edge list (hub column ``c`` → authority column ``s``), fully
    oracle-able with an EXACT integer spine — a strictly stronger
    determinism story than pagerank's grid-margin argument:

    scores live in nano-units (longs). Each half-round is (1) an exact
    LONG sum of nano-scores over edges — order-free by integer
    associativity, so partitioning provably cannot move it — then
    (2) one fixed IEEE normalization: the squared norm is an exact
    decimal(38,0) sum of squared raws, its double cast + sqrt + the
    floor(raw/norm·1e9 + 0.5) snap are the identical expression tree
    the SQL twin runs. NO float accumulation exists anywhere, so
    cross-engine equality is arithmetic identity, not an engineering
    margin. Fixed iteration count keeps the SQL replay finite.

    The per-round driver state is ONE scalar (the squared norm) —
    control data.

    Returns (role ∈ {'hub','authority'}, id, score) with score = the
    9-dp unit-norm value rounded to 6 dp.
    """
    import math

    if iterations < 1:
        # a must be computed at least once before the final projection
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    spark = edges.sparkSession
    # Materialized: the emptiness check and every round read it.
    e = materialize(
        edges.select(F.col("c").cast("long").alias("_c"), F.col("s").cast("long").alias("_s"))
        .distinct()
    )
    if e.limit(1).count() == 0:
        # empty edge set: _normalize's collected squared norm would be
        # NULL (sqrt(None) → TypeError); the HITS result is just empty
        return control_frame(spark, [], "role string, id long, score double")
    NANO = 1_000_000_000

    def _normalize(raw: DataFrame, key: str, out: str) -> DataFrame:
        # r14: checkpoint the half-round aggregate FIRST, then collect
        # the squared norm from the materialized frame. The old order
        # (collect from the lazy raw, then loop_frame-checkpoint the
        # normalized select) executed the e⋈scores join + sum TWICE per
        # half-round — 8 redundant full join jobs per hits() call
        # (profiled: 107 jobs, 6.7 s wall at sf0.1). The normalized
        # projection stays LAZY on top of the checkpoint: its one
        # consumer is the next half-round's join, and a projection over
        # a checkpointed scan adds no second execution. Identical
        # arithmetic — same raw sums, same s2, same snap expression.
        raw = loop_frame(raw)
        s2 = collect_control(
            raw.agg(F.sum(F.col("_raw").cast("decimal(38,0)") * F.col("_raw")).alias("_s2"))
        )[0]["_s2"]
        nrm = math.sqrt(float(s2))  # float(int) == DuckDB CAST(HUGEINT AS DOUBLE)
        return raw.select(
            key,
            F.floor(
                F.col("_raw").cast("double") / F.lit(nrm) * F.lit(float(NANO))
                + F.lit(0.5)
            )
            .cast("long")
            .alias(out),
        )

    h = loop_frame(
        e.select("_c").distinct().select("_c", F.lit(NANO).cast("long").alias("_hn")),
    )
    a = None
    for _ in range(iterations):
        a_raw = (
            e.join(h, "_c")
            .groupBy("_s")
            .agg(F.sum("_hn").cast("long").alias("_raw"))
        )
        a = _normalize(a_raw, "_s", "_an")
        h_raw = (
            e.join(a, "_s")
            .groupBy("_c")
            .agg(F.sum("_an").cast("long").alias("_raw"))
        )
        h = _normalize(h_raw, "_c", "_hn")

    from kickstarter_etl_pipeline_spark.operators.rounding import round_det

    hubs = h.select(
        F.lit("hub").alias("role"),
        F.col("_c").alias("id"),
        round_det(F.col("_hn") / F.lit(float(NANO)), 6).alias("score"),
    )
    auths = a.select(
        F.lit("authority").alias("role"),
        F.col("_s").alias("id"),
        round_det(F.col("_an") / F.lit(float(NANO)), 6).alias("score"),
    )
    return hubs.unionByName(auths)


def kcore(edges: DataFrame) -> DataFrame:
    """k-core decomposition by bounded-round peeling (Seidman 1983;
    the distributed formulation of Montresor et al.): repeat ``KCORE_ROUNDS``
    times — compute degrees, drop every vertex with degree < ``KCORE_K``,
    drop edges touching a dropped vertex. The contract is FIXED-round
    ("the subgraph after ``KCORE_ROUNDS`` peels"), not run-to-convergence,
    so the DuckDB twin replays it as an unrolled CTE and the result is
    well-defined even on fixtures where peeling hasn't reached the
    fixpoint. Pure integer arithmetic end to end — no rounding device
    is needed at all; cross-engine equality is set/count identity.

    Scale: each round is one degree aggregate plus two left-semi joins,
    every exchange keyed by vertex id — shuffle O(E) per round, never
    all-pairs. Per-round lineage is truncated with localCheckpoint; nothing but
    the loop counter lives on the driver.

    Returns (id, core_degree) for every vertex surviving round
    ``KCORE_ROUNDS``, with its degree inside the surviving subgraph.
    """
    # Materialized: the first round's degrees and semi-join both read it.
    e = materialize(
        edges.select(
            F.col("u").cast("long").alias("_u"), F.col("v").cast("long").alias("_v")
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )

    def _degrees(g: DataFrame, out: str) -> DataFrame:
        return (
            g.select(F.col("_u").alias("_id"))
            .unionAll(g.select(F.col("_v").alias("_id")))
            .groupBy("_id")
            .agg(F.count("*").cast("long").alias(out))
        )

    for _ in range(KCORE_ROUNDS):
        keep = _degrees(e, "_d").filter(F.col("_d") >= KCORE_K).select("_id")
        e = loop_frame(
            e.join(keep.withColumnRenamed("_id", "_u"), "_u", "left_semi")
            .join(keep.withColumnRenamed("_id", "_v"), "_v", "left_semi"),
        )
    return _degrees(e, "core_degree").select(
        F.col("_id").alias("id"), "core_degree"
    )


def transitive_closure(edges: DataFrame, rounds: int = 5) -> DataFrame:
    """Reachability closure by repeated squaring (the classic
    O(log diameter) distributed formulation — Valiant-style path
    doubling): C_1 = E; C_{j+1} = C_j ∪ (C_j ∘ C_j), deduplicated
    each round. After ``rounds`` rounds the closure contains every
    (ancestor, descendant) pair connected by a path of length
    ≤ 2^rounds — for DAGs/trees whose depth is within that bound this
    IS the full transitive closure, reached in logarithmically many
    shuffles instead of one join per level (a naive per-level walk
    needs depth-many rounds; squaring needs ⌈log2 depth⌉).

    Scale: each round is one self-equi-join keyed by the midpoint
    vertex plus one distinct — all exchanges hash-partitioned on
    vertex ids, never all-pairs. Output size is Σ_v depth(v) (for a
    tree: N·avg-depth ≈ N·log_arity N) — the closure itself, not an
    intermediate blow-up. Per-round localCheckpoint truncates lineage,
    and only the loop counter lives on the driver.
    """
    clo = edges.select(
        F.col("anc").cast("long").alias("anc"), F.col("des").cast("long").alias("des")
    ).distinct()
    clo = loop_frame(clo)
    # r14 fixpoint early exit (the ktruss device): the closure only
    # grows, so an unchanged row count means C ∘ C added nothing and
    # every remaining round is a no-op — identical result, rounds ×
    # (self-join + distinct) saved. The count is a bounded scan of the
    # fresh checkpoint (control-plane scalar, like the loop counter).
    n_clo = clo.count()
    for _ in range(rounds):
        step = (
            clo.alias("a")
            .join(clo.alias("b"), F.col("a.des") == F.col("b.anc"))
            .select(F.col("a.anc").alias("anc"), F.col("b.des").alias("des"))
        )
        clo = loop_frame(clo.unionByName(step).distinct())
        n_new = clo.count()
        if n_new == n_clo:
            break
        n_clo = n_new
    return clo


def bfs_depths(edges: DataFrame, rounds: int = BFS_ROUNDS) -> DataFrame:
    """Single-source BFS shortest-path depths over an undirected edge
    list — the distance primitive the graph tier's centrality/peeling
    operators don't provide. The source is the MINIMUM vertex id (a
    pure function of the data, so both engines pick the identical
    source without any parameter channel). FIXED-round contract (like
    kcore): after ``rounds`` frontier expansions the result is every
    vertex within that distance, with its exact depth — well-defined
    even when the graph's eccentricity exceeds the budget, and the
    DuckDB twin replays it as a finite unrolled CTE.

    Each round is one frontier⋈edges expansion (keyed by vertex id)
    plus one left-anti against the visited set — shuffle O(E) per
    round, never all-pairs. Pure integer arithmetic — depths are loop
    counters; cross-engine equality is set identity. An edge list with
    no non-self-loop edge has no source and returns no rows.
    """
    sym = loop_frame(_undirected_edges(edges))
    visited = (
        sym.agg(F.min("_u").alias("_id"))
        .filter(F.col("_id").isNotNull())
        .select("_id", F.lit(0).cast("long").alias("depth"))
    )
    # r14 (guide §2.4/§1): ONE action per round instead of two — the
    # frontier is re-derived from the checkpointed visited table by a
    # depth filter (a narrow scan of the 8-partition checkpoint), so
    # the expansion, the anti-join, the union and the re-checkpoint all
    # ride a single job. Row-identical: frontier ≡ the rows the old
    # separate nxt checkpoint carried.
    for t in range(1, rounds + 1):
        nxt = (
            visited.filter(F.col("depth") == t - 1)
            .select(F.col("_id").alias("_u"))
            .join(sym, "_u")
            .select(F.col("_v").alias("_id"))
            .distinct()
            .join(visited.select("_id"), "_id", "left_anti")
            .select("_id", F.lit(t).cast("long").alias("depth"))
        )
        visited = loop_frame(visited.unionByName(nxt))
    return visited.select(F.col("_id").alias("id"), "depth")


def _multi_source_bfs(
    edges: DataFrame,
    pivots: int,
    rounds: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared frontier expansion for the pivot-sampled centralities:
    returns (sym, visited) where sym is the checkpointed symmetrized
    edge list (_u, _v) and visited is the checkpointed (p, vertex,
    depth, sigma) table from the ``pivots`` smallest vertices by
    (md5(id-as-string), id), expanded ``rounds`` times. sigma is the
    exact shortest-path COUNT (Brandes' forward pass) and rides the
    expansion for free: the per-round σ-sum groupBy over predecessor
    frontier rows replaces the frontier ``distinct()`` — the same
    shuffle — so callers that only need depths (harmonic) pay nothing
    extra and betweenness skips a whole second level-synchronous pass.
    State is bounded by pivots × vertices; each round is one
    frontier⋈edges expansion plus one (pivot, vertex)-keyed
    anti-join."""
    sym = loop_frame(_undirected_edges(edges))
    piv = (
        sym.select(F.col("_u").alias("_p"))
        .distinct()
        .orderBy(F.md5(F.col("_p").cast("string")), F.col("_p"))
        .limit(pivots)
    )
    visited = piv.select(
        "_p",
        F.col("_p").alias("_id"),
        F.lit(0).cast("long").alias("depth"),
        F.lit(1).cast("long").alias("sigma"),
    )
    # r14 (guide §2.4/§1): ONE action per round instead of two — the
    # frontier is re-derived from the checkpointed visited table by a
    # depth filter, so the σ-summing expansion, anti-join, union and
    # re-checkpoint all ride a single job per round. Row-identical to
    # the old separate nxt checkpoint. (A fully-lazy visited union was
    # also probed and REGRESSED — the growing union's per-leg stage
    # materializations under AQE cost more than the checkpoint.)
    for t in range(1, rounds + 1):
        nxt = (
            visited.filter(F.col("depth") == t - 1)
            .select("_p", F.col("_id").alias("_u"), "sigma")
            .join(sym, "_u")
            .select("_p", F.col("_v").alias("_id"), "sigma")
            .groupBy("_p", "_id")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .join(visited.select("_p", "_id"), ["_p", "_id"], "left_anti")
            .select("_p", "_id", F.lit(t).cast("long").alias("depth"), "sigma")
        )
        visited = loop_frame(visited.unionByName(nxt))
    return sym, visited


def harmonic_centrality(
    edges: DataFrame,
    pivots: int = GRAPH_PIVOTS,
    rounds: int = GRAPH_PIVOT_ROUNDS,
) -> DataFrame:
    """Pivot-sampled harmonic centrality (Boldi & Vigna, "Axioms for
    Centrality", 2014; the HyperBall estimand) — the closeness-family
    centrality the graph tier lacked. EXACT betweenness/closeness need
    all-pairs distances (no tractable oracle, the recorded round-9
    blocker); the standard scalable estimator instead runs BFS from a
    FIXED sample of pivot vertices and scores every vertex by the
    inverse distances FROM the pivots: ĥ(x) = Σ_p 1/d(p, x) over
    pivots p with 0 < d(p, x) ≤ rounds. Pivot selection is the same
    engine-portable device as the occupancy cap's sub-bucketing: the
    ``pivots`` smallest vertices by (md5(id-as-string), id) — a
    deterministic pseudo-random sample, no parameter channel.

    Contract: pure integers end to end. Depths are loop counters
    ≤ 6 and every 1/d is carried as 60 DIV d (60 = lcm(1..6), exact
    for every reachable depth), so the per-vertex sum is an exact
    integer and the final ĥ = sum/60 is ONE IEEE division, snapped to
    6 dp. The DuckDB twin replays the multi-source frontier expansion
    as unrolled MATERIALIZED CTE rounds keyed by (pivot, vertex)
    (device 7). Vertices no pivot reaches produce NO row (inner
    semantics, mirrored).

    Scale: state is bounded by pivots × vertices and each round is one
    frontier⋈edges expansion plus one (pivot, vertex)-keyed anti-join —
    exactly ``pivots`` copies of the bfs_depths cost with K fixed and
    small, never all-pairs.
    """
    sym, visited = _multi_source_bfs(edges, pivots, rounds)
    return (
        visited.filter(F.col("depth") > 0)
        .groupBy(F.col("_id").alias("id"))
        .agg(
            F.count("*").cast("long").alias("n_pivots_reached"),
            F.sum(F.expr("60 DIV depth")).cast("long").alias("_hx60"),
        )
        .select(
            "id",
            "n_pivots_reached",
            (F.col("_hx60").cast("double") / F.lit(60.0)).alias("_harmonic_raw"),
        )
    )


def edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over an undirected deduplicated
    (u < v) edge list: for each edge, the number of triangles it
    belongs to — the peel measure of the k-truss. Reuses the
    degree-ordered orientation (each triangle enumerated exactly once
    at its minimum-rank apex, O(√m) wedge fan-out), then explodes each
    triangle into its three unordered edges and counts."""
    deg = degree_table(edges)
    oriented = orient_by_degree(edges, deg)
    # r14 (guide §2.5): the wedge self-join is byte-light (the fixture
    # edge list shuffles ~1.7 MB) but its output stage does the whole
    # C(deg,2) wedge fan-out + closing probe — AQE's byte-based
    # coalescing collapsed it to ONE 2.15 s task per ktruss round. A
    # user repartition on the apex key pins the exchange width (AQE
    # exempts user repartitions), spreading the fan-out; same single
    # shuffle, join-identical output. Width = defaultParallelism.
    par = oriented.sparkSession.sparkContext.defaultParallelism
    e1 = oriented.select(
        F.col("src").alias("_a"), F.col("dst").alias("_b"), F.col("dst_rank").alias("_rb")
    ).repartition(par, "_a")
    e2 = oriented.select(
        F.col("src").alias("_a"), F.col("dst").alias("_c"), F.col("dst_rank").alias("_rc")
    )
    # NOTE (r14): do NOT repartition the wedge stream before the closing
    # join — probed: it forces materializing the full C(deg,2) wedge
    # fan-out into an exchange (53.8 MiB at sf0.1) that the broadcast
    # closing join otherwise pipelines through in the same stage
    # (guide §2.4: remove shuffles outright). The single e1 pin above is
    # enough to give the fused fanout+closing+count stage real width.
    wedges = e1.join(e2, on="_a").filter(F.col("_rb") < F.col("_rc"))
    closing = oriented.select(F.col("src").alias("_b"), F.col("dst").alias("_c"))
    tri = wedges.join(closing, on=["_b", "_c"])
    pairs = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("_a", "_b").alias("u"), F.greatest("_a", "_b").alias("v")
                ),
                F.struct(
                    F.least("_a", "_c").alias("u"), F.greatest("_a", "_c").alias("v")
                ),
                F.struct(
                    F.least("_b", "_c").alias("u"), F.greatest("_b", "_c").alias("v")
                ),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")
    return pairs.groupBy("u", "v").agg(F.count("*").cast("long").alias("support"))


def ktruss(edges: DataFrame) -> DataFrame:
    """k-truss (Cohen 2008) by fixed-round support peeling — the
    triangle-cohesion upgrade of the k-core: every surviving edge must
    sit in ≥ k−2 triangles OF THE SURVIVING SUBGRAPH. Same fixed-round
    contract as kcore/bfs (after ``KTRUSS_ROUNDS`` peels the result is a
    supergraph of the true k-truss, well-defined on both engines);
    each round recomputes per-edge support with the degree-ordered
    triangle enumeration and drops light edges. Returns the surviving
    edges with their support RECOMPUTED on the final edge set — pure
    integers end to end.

    Scale: each round is one triangle enumeration over the current
    edge set (the oriented wedge join, O(√m) fan-out) plus an
    edge-keyed filter join — rounds × the triangle-count cost, with
    the edge set only shrinking."""
    cur = loop_frame(
        edges.select(F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v")),
    )
    thr = KTRUSS_K - 2
    n_cur = cur.count()  # bounded control-plane scalar (loop budget)
    supp = None
    for _ in range(KTRUSS_ROUNDS):
        # Materialize support once per round: it feeds both the peel
        # filter and (on convergence) the final report.
        supp = loop_frame(edge_support(cur))
        nxt = loop_frame(
            cur.join(supp, ["u", "v"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0).cast("long")) >= thr)
            .select("u", "v"),
        )
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            # Fixed point: no edge was removed, so every remaining
            # round is a no-op and THIS round's support — computed on
            # exactly the surviving set — already is the final
            # support. Early exit changes nothing but the cost; the
            # unrolled SQL twin replays all rounds and lands on the
            # identical set (its extra rounds recompute the fixed
            # point). Saved: one triangle enumeration per skipped
            # round plus the final recompute.
            return nxt.join(supp, ["u", "v"], "left").select(
                "u",
                "v",
                F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"),
            )
        cur, n_cur = nxt, n_nxt
    final = edge_support(cur)
    return cur.join(final, ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"),
    )


def _guard_betweenness_bound(max_sigma: int, n_reached: int) -> None:
    """Loud-failure guard for betweenness_sampled's BIGINT contract.

    The backward pass's per-term product is σv·(10⁹ + δ̂w) with every
    factor a BIGINT. δ̂ (in nanos) is bounded by 10⁹ · (descendants of
    the vertex in the BFS DAG) ≤ 10⁹ · n_reached, so the conservative
    sufficient condition for every term to stay below 2⁶³ is
        max_sigma · (n_reached + 1) < 2⁶³ / 10⁹ ≈ 9.22e9.
    Spark wraps silently past 2⁶³ while DuckDB raises — this guard
    turns a silent cross-engine divergence into an immediate error
    naming the fix (widen the nano products to decimal(38,0) on BOTH
    engines identically).
    """
    limit = (1 << 63) // 1_000_000_000  # 9_223_372_036
    if max_sigma * (n_reached + 1) >= limit:
        raise RuntimeError(
            "betweenness_sampled BIGINT bound exceeded: max sigma "
            f"{max_sigma} with {n_reached} reached vertices can push "
            "sigma*(1e9+delta) past 2^63, where Spark wraps silently but "
            "DuckDB raises. Widen the nano products to decimal(38,0) on "
            "both engines before trusting results on this graph."
        )


def betweenness_sampled(
    edges: DataFrame,
    pivots: int = GRAPH_PIVOTS,
    rounds: int = GRAPH_PIVOT_ROUNDS,
) -> DataFrame:
    """Pivot-sampled betweenness centrality — Brandes' algorithm
    (Brandes 2001; the sampled estimator of Brandes & Pich 2007)
    restricted to the same md5-chosen pivot set as harmonic_centrality,
    which is what makes the recorded round-9 blocker ("betweenness has
    no tractable exact oracle — all-pairs") tractable: K fixed sources
    instead of V.

    Three passes, all level-synchronous and all exactly integer:
      1. multi-source BFS → (pivot, vertex, depth)      [shared helper]
      2. forward path counts σ(p, v) = Σ over depth-(t−1) predecessors
         of σ(p, u) — exact BIGINT sums, level by level;
      3. backward dependency accumulation carried in integer NANOS
         (the markov/HITS nano-spine device): for v at depth t,
         δ̂(p, v) = Σ_w (σ(p,v) · (10⁹ + δ̂(p,w))) DIV σ(p,w) over
         depth-(t+1) successors w — a per-term truncating integer
         division then an exact, order-free integer sum, so both
         engines land on identical nanos (DIV and DuckDB ``//`` agree
         on the non-negative operands; the per-term floor replaces
         Brandes' real-valued σv/σw·(1+δw) with a deterministic
         fixed-point contract, error < 1 nano per term).
    betweenness(v) = Σ_p δ̂(p, v)/10⁹ over non-pivot-self rows — ONE
    IEEE division per vertex at the end, snapped to 6 dp by the
    caller. σ_total is also emitted (exact shortest-path mass).

    Scale: every pass is (pivot, vertex)-keyed — state K·V, joins
    keyed by vertex against the edge list, K fixed and small. σ and
    the nano-δ products are BIGINTs: σ·(10⁹ + δ̂) must stay below 2⁶³
    — holds for σ ≤ ~10⁶ and δ̂ ≤ ~10³·10⁹ (documented bound; a
    pathological path-count explosion would need decimal widening on
    both engines identically). The bound is GUARDED at runtime
    (:func:`_guard_betweenness_bound`): Spark long arithmetic wraps
    silently on overflow while DuckDB raises, so without the guard the
    two engines would diverge quietly; with it the operator fails
    loudly with the widening instruction. The check is one bounded
    scalar collect over the already-checkpointed visited table — the
    same control-plane cost class as the loop-convergence collects.
    """
    # σ rides the BFS expansion itself (Brandes' forward pass is free:
    # the per-round σ-sum replaces the frontier distinct) — see
    # _multi_source_bfs. Level frames are slices of the checkpointed
    # visited table.
    sym, visited = _multi_source_bfs(edges, pivots, rounds)
    # count(*) over (pivot, vertex) rows upper-bounds the per-pivot
    # reached-vertex count (no countDistinct — that would add an
    # exchange; this agg is one map-side-combinable pass).
    _max_sigma, _n_reached = collect_control(
        visited.agg(F.max("sigma").cast("long"), F.count("*").cast("long"))
    )[0]
    _guard_betweenness_bound(_max_sigma or 0, _n_reached or 0)
    sig_lvls: list[DataFrame] = [
        visited.filter(F.col("depth") == t).select("_p", "_id", "sigma")
        for t in range(rounds + 1)
    ]
    # backward δ̂ in nanos, deepest level first
    full_delta: dict[int, DataFrame] = {
        rounds: sig_lvls[rounds].select(
            "_p", "_id", "sigma", F.lit(0).cast("long").alias("dnano")
        )
    }
    for t in range(rounds - 1, -1, -1):
        succ = full_delta[t + 1].select(
            "_p",
            "_id",
            F.col("sigma").alias("_sw"),
            F.col("dnano").alias("_dw"),
        )
        terms = (
            sig_lvls[t]
            .select("_p", F.col("_id").alias("_u"), F.col("sigma").alias("_sv"))
            .join(sym, "_u")
            .select("_p", "_u", F.col("_v").alias("_id"), "_sv")
            .join(succ, ["_p", "_id"])
            .select(
                "_p",
                F.col("_u").alias("_id"),
                F.expr("(_sv * (1000000000 + _dw)) DIV _sw").alias("_term"),
            )
            .groupBy("_p", "_id")
            .agg(F.sum("_term").cast("long").alias("_dn"))
        )
        full_delta[t] = loop_frame(
            sig_lvls[t]
            .join(terms, ["_p", "_id"], "left")
            .select(
                "_p",
                "_id",
                "sigma",
                F.coalesce(F.col("_dn"), F.lit(0).cast("long")).alias("dnano"),
            ),
        )
    acc = full_delta[1]
    for t in range(2, rounds + 1):
        acc = acc.unionByName(full_delta[t])
    return acc.groupBy(F.col("_id").alias("id")).agg(
        F.sum("sigma").cast("long").alias("sigma_total"),
        (F.sum("dnano").cast("double") / F.lit(1_000_000_000.0)).alias(
            "_betweenness_raw"
        ),
    )


def rotor_walks(edges: DataFrame) -> DataFrame:
    """Deterministic hash-greedy walk corpus — the reproducible stand-in
    for node2vec/DeepWalk random-walk sampling when training data must
    be bit-stable across runs AND engines. One walk starts at every
    vertex; at step t a walk at vertex c moves to the neighbor v
    minimizing (md5("t:c:v"), v). Because the choice is a pure function
    of (t, c) — NOT of the walk's start — all walks co-located at a
    vertex move identically (the rotor-router property), so each round
    costs ONE per-vertex min-aggregate over the edge list (O(E),
    map-side combinable: min of (md5, v) structs) plus one V-sized
    equi-join of the walk frontier against the next-hop table. No
    per-walk neighbor enumeration, no hub blow-up, no RNG state.

    Output: (start_id, step, id) — the full walk table, steps 0..L.
    Pure string/integer arithmetic (md5 of identical decimal-rendered
    keys on both engines); the DuckDB twin unrolls one next-hop CTE +
    one hop CTE per step (device 7).
    """
    sym = loop_frame(_undirected_edges(edges))
    verts = sym.select(F.col("_u").alias("_id")).distinct()
    walks = verts.select(
        F.col("_id").alias("_start"), F.col("_id").alias("_cur")
    )
    out = walks.select(
        "_start", F.lit(0).cast("long").alias("step"), F.col("_cur")
    )
    for t in range(1, ROTOR_STEPS + 1):
        key = F.md5(
            F.concat_ws(
                ":",
                F.lit(str(t)),
                F.col("_u").cast("string"),
                F.col("_v").cast("string"),
            )
        )
        nxt = sym.groupBy("_u").agg(
            F.min(F.struct(key.alias("k"), F.col("_v").alias("v"))).alias("_m")
        ).select(F.col("_u").alias("_cur"), F.col("_m").getField("v").alias("_nxt"))
        walks = loop_frame(
            walks.join(nxt, "_cur").select(
                "_start", F.col("_nxt").alias("_cur")
            ),
        )
        out = out.unionByName(
            walks.select("_start", F.lit(t).cast("long").alias("step"), "_cur")
        )
    return out.select(
        F.col("_start").alias("start_id"), "step", F.col("_cur").alias("id")
    )


def spectral_coordinate(edges: DataFrame) -> DataFrame:
    """Deterministic spectral-bipartition coordinate by centered power
    iteration on the random-walk matrix P = D⁻¹A: iterate
    x ← snap(center(P·x)) / ∞-norm, ``SPECTRAL_ROUNDS`` fixed times, from an
    md5-derived start vector. The sign of the resulting coordinate is
    the classic spectral graph-partition heuristic (the constant vector
    is P's dominant right eigenvector — P·1 = 1 — so the per-round
    mean-centering suppresses it and the iterate aligns with the
    leading non-constant direction).

    The claim the oracle grades is DETERMINISM, not eigen-exactness:
    every iterate is snapped to the 1e-9 grid after each of the three
    stages (neighbor average, centering, ∞-norm scaling), the start
    vector is a pure md5 function of vertex ids, and the iteration
    count is fixed — so the unrolled SQL replay (MATERIALIZED per-round
    CTEs, device 7) lands on bit-identical iterates exactly as in
    graph.pagerank (same engineering-margin caveat: grids absorb
    contribution-sum order noise ~10 orders below them; partition-count
    changes are re-verified by driver re-grade).

    The ∞-norm (not L2) is deliberate: a max of grid values
    is exact on any engine, while an L2 norm would need another
    rounding stage."""
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det

    directed = loop_frame(_both_directions(edges))
    h = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    x = loop_frame(
        directed.select(F.col("src").alias("id"))
        .distinct()
        .select("id", round_det((h % 2001 - 1000) / F.lit(1000.0), 9).alias("x")),
    )
    for _ in range(SPECTRAL_ROUNDS):
        # P·x at i = (Σ_{j~i} x_j) / d_i; each dst appears exactly
        # d_dst times in the symmetrized edge list, so the neighbor
        # AVERAGE (sum/count) is the random-walk step — no degree
        # join needed.
        #
        # r14: checkpoint the join+aggregate ONCE per round, then pull
        # the two one-row normalization scalars (mean, ∞-norm) off the
        # materialized frame with bounded collects (the hits pattern).
        # The old broadcast-crossJoin formulation embedded the y
        # subplan into the mean AND the c subplan into the norm, so
        # the per-round join+agg sat in the checkpoint plan up to 4×.
        # The collected scalars are the IDENTICAL round_det-snapped
        # values the broadcast rows carried; centering and scaling are
        # the same expressions over the same doubles — bit-equal.
        y = loop_frame(
            directed.join(x.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(round_det(F.sum("x") / F.count("*"), 9).alias("y")),
        )
        m = collect_control(y.agg(round_det(F.sum("y") / F.count("*"), 9).alias("_m")))[0]["_m"]
        c = y.select("id", round_det(F.col("y") - F.lit(m), 9).alias("c"))
        s = collect_control(c.agg(F.max(F.abs(F.col("c"))).alias("_s")))[0]["_s"]
        scale = (
            round_det(F.col("c") / F.lit(s), 9)
            if s is not None and s > 0
            else F.col("c")
        )
        # x stays LAZY: a projection over the checkpointed y — next
        # round's join re-executes only that one-hop lineage.
        x = c.select("id", scale.alias("x"))
    return x.select(
        "id",
        round_det(F.col("x"), 6).alias("spectral_x"),
        F.when(F.col("x") > 0, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("side"),
    )


def bellman_ford_distances(
    edges: DataFrame, rounds: int = BELLMAN_FORD_ROUNDS
) -> DataFrame:
    """Single-source WEIGHTED shortest-path distances by fixed-round
    Bellman-Ford relaxation (min-plus) over an undirected weighted edge
    list — the weighted companion to bfs_depths (hop counts). Source =
    minimum vertex id (pure function of the data). FIXED-round
    contract: after ``rounds`` relaxations the result is the exact
    shortest distance for every vertex whose shortest path uses ≤
    ``rounds`` edges — finite, replayable, and well-defined at any
    graph size.

    Pure integer arithmetic end to end (weights are exact longs;
    distances are integer sums; the min is set selection) — no
    rounding device exists anywhere, the same strength as kcore/BFS.
    Per round: one vertex-keyed dist⋈edges relaxation + one
    vertex-keyed min — shuffle O(E), never all-pairs. An edge list with
    no non-self-loop edge has no source and returns no rows."""
    sym = (
        edges.select(
            F.col("u").cast("long").alias("_u"),
            F.col("v").cast("long").alias("_v"),
            F.col("w").cast("long").alias("_w"),
        )
        .unionByName(
            edges.select(
                F.col("v").cast("long").alias("_u"),
                F.col("u").cast("long").alias("_v"),
                F.col("w").cast("long").alias("_w"),
            )
        )
        .filter(F.col("_u") != F.col("_v"))
    )
    sym = loop_frame(sym)
    dist = (
        sym.agg(F.min("_u").alias("_id"))
        .filter(F.col("_id").isNotNull())
        .select("_id", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(rounds):
        relaxed = (
            dist.select(F.col("_id").alias("_u"), "dist")
            .join(sym, "_u")
            .select(F.col("_v").alias("_id"), (F.col("dist") + F.col("_w")).alias("dist"))
        )
        dist = loop_frame(
            dist.unionByName(relaxed).groupBy("_id").agg(F.min("dist").alias("dist")),
        )
    return dist.select(F.col("_id").alias("id"), "dist")
