"""Graph-analytics query wrappers (pagerank, HITS, k-core, BFS, spectral, Bellman-Ford, hierarchy closure) over the order/lineitem co-occurrence graphs. Split out of analytics_queries.py (round 10) the way the oracle ledgers already are; operators live in operators.graph."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators.ranking import collected_offsets
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-iteration PageRank over the error co-occurrence graph —
    ITERATIVE yet fully oracle'd: the rank vector is rounded to a 1e-9
    grid after every iteration (see operators.graph.pagerank), so the
    DuckDB twin replays the literal unrolled recurrence bit-for-bit."""
    from kickstarter_etl_pipeline_spark.operators.graph import cooccurrence_edges, pagerank

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=1800)
    return pagerank(edges, iterations=10).select(
        F.col("id").alias("user_id"), "pr_permille"
    )


def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-round synchronous label-propagation communities over the error
    co-occurrence graph — iterative, integer-exact, fully oracle'd
    (see operators.graph.label_propagation)."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        label_propagation,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=1800)
    return label_propagation(edges, iterations=5).select(
        F.col("id").alias("user_id"), "community", "n_members"
    )


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (8 rounds, damping 0.85) from the
    md5-chosen seed user over the 30-minute error co-occurrence graph
    — the "users related to THIS user" recommender primitive (random
    walk with restart), next to global pagerank's "important users".
    Sparse rank frame (only reached vertices carry rows); the same
    1e-9 per-round grid makes the unrolled DuckDB replay
    bit-identical."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        personalized_pagerank,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=1800)
    return personalized_pagerank(edges, iterations=8).select(
        F.col("id").alias("user_id"), "ppr_permille"
    )


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the 30-minute error co-occurrence graph (4 fixed
    peel rounds): surviving edges must sit in ≥ 2 triangles of the
    surviving subgraph — the triangle-cohesion screen one notch above
    k-core's degree screen, the standard community-core pre-filter.
    Pure integers; support recomputed on the final edge set. The
    DuckDB twin unrolls one (degree, orient, wedge, triangle,
    support, filter) block per round (device 7)."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        ktruss,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=1800)
    return ktruss(edges, k=4, rounds=4).select(
        F.col("u").alias("user_u"), F.col("v").alias("user_v"), "support"
    )


def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity of the round-5 label-propagation
    partition — the standard partition-quality score (Newman 2006),
    here computed EXACTLY: Q·4m² = Σ_c (4m·e_c − d_c²) is a pure
    integer (e_c = intra-community capped edges, d_c = member degree
    sum, m = |edges|), so the only float is the final division,
    snapped to 6 dp. Bound: 4m·e_c needs m < ~1.5e9 in BIGINT —
    document-widening to decimal on BOTH engines beyond that.

    Scale: the partition is the existing LPA loop; the three rollups
    are edge- and vertex-keyed aggregates over the capped edge set
    (checkpointed once — it feeds four consumers)."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        degree_table,
        label_propagation,
    )
    from kickstarter_etl_pipeline_spark.operators.partitioning import loop_frame

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = loop_frame(
        cooccurrence_edges(ev, event_type="error", bucket_seconds=1800), 8, "u"
    )
    lab = label_propagation(edges, iterations=5).select("id", "community")
    m_df = F.broadcast(edges.agg(F.count("*").cast("long").alias("_m")))
    deg = degree_table(edges)
    dc = (
        lab.join(deg, "id")
        .groupBy("community")
        .agg(F.sum("degree").cast("long").alias("d_c"))
    )
    ec = (
        edges.join(
            lab.select(F.col("id").alias("u"), F.col("community").alias("_ca")), "u"
        )
        .join(
            lab.select(F.col("id").alias("v"), F.col("community").alias("_cb")), "v"
        )
        .filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    terms = dc.join(ec, "community", "left").select(
        "community",
        F.coalesce(F.col("e_c"), F.lit(0).cast("long")).alias("e_c"),
        "d_c",
    )
    num = F.sum(
        F.lit(4) * F.col("_m") * F.col("e_c") - F.col("d_c") * F.col("d_c")
    ).cast("long")
    return (
        terms.crossJoin(m_df)
        .groupBy("_m")
        .agg(F.count("*").cast("long").alias("n_communities"), num.alias("_num"))
        .select(
            "n_communities",
            F.col("_m").alias("n_edges"),
            round_det(
                F.col("_num").cast("double")
                / (F.lit(4) * F.col("_m") * F.col("_m")).cast("double"),
                6,
            ).alias("modularity"),
        )
    )


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the bipartite customer→supplier
    graph (distinct (o_custkey, l_suppkey) pairs through lineitem):
    hub customers buy from many authoritative suppliers, authoritative
    suppliers serve many hub customers — the mutually-recursive
    centrality pair. 4 exact-integer-spine iterations; see graph.hits
    for the determinism contract and _hits_oracle_sql for the unrolled
    SQL twin."""
    from kickstarter_etl_pipeline_spark.operators.graph import hits

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    )
    return hits(edges, iterations=4)


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=4, 6 peel rounds) of the error
    co-occurrence graph (users connected iff both errored within the
    same 10-minute bucket — a sparser graph than the triangle tier's
    30-minute one, so the peel actually removes vertices at fixture
    scale). The k-core is THE standard dense-subgraph screen for bot
    rings / correlated-failure cohorts; see graph.kcore for the
    fixed-round contract and scale posture. Pure integer arithmetic —
    the DuckDB twin is the literal unrolled peel."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        kcore,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    return kcore(edges, k=4, rounds=6).select(
        F.col("id").alias("user_id"), "core_degree"
    )


def q_graph_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest-path depths (8 fixed rounds) from the
    minimum user id over the 10-minute error co-occurrence graph — the
    distance/reachability view completing the graph tier next to
    pagerank/HITS (centrality), k-core (density), components
    (partition), and the closure (ancestry). Pure integer end to end
    (depths are loop counters); the DuckDB twin is the literal
    unrolled frontier replay with MATERIALIZED per-round CTEs (the
    visited set is referenced twice per round — device 7)."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        bfs_depths,
        cooccurrence_edges,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    return bfs_depths(edges, rounds=8).select(
        F.col("id").alias("user_id"), "depth"
    )


def q_graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled harmonic centrality (8 md5-chosen pivots, 6 BFS
    rounds) over the 10-minute error co-occurrence graph — the
    closeness-family centrality completing the tier next to
    pagerank/HITS (spectral importance), degree, and BFS depth; the
    scalable stand-in for the exact closeness/betweenness the round-9
    close recorded as oracle-intractable (all-pairs). Pure integer
    inverse-distance mass (60 DIV d, 60 = lcm(1..6)); one final IEEE
    division snapped to 6 dp. The DuckDB twin replays the
    (pivot, vertex)-keyed frontier expansion as unrolled MATERIALIZED
    CTE rounds (device 7)."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        harmonic_centrality,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    hc = harmonic_centrality(edges, pivots=8, rounds=6)
    return hc.select(
        F.col("id").alias("user_id"),
        "n_pivots_reached",
        round_det(F.col("_harmonic_raw"), 6).alias("harmonic"),
    )


def q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled Brandes betweenness (8 md5-chosen pivots, 6 BFS
    levels) over the 10-minute error co-occurrence graph — closes the
    round-9 "no tractable oracle" blocker by sampling sources
    (Brandes & Pich 2007) and carrying the backward dependency pass in
    integer nanos (the markov/HITS nano-spine device): per-term
    truncating division, exact integer sums, identical on both
    engines. Emits exact shortest-path mass (σ_total) and the nano-
    exact betweenness estimate, snapped to 6 dp."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        betweenness_sampled,
        cooccurrence_edges,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    bc = betweenness_sampled(edges, pivots=8, rounds=6)
    return bc.select(
        F.col("id").alias("user_id"),
        "sigma_total",
        round_det(F.col("_betweenness_raw"), 6).alias("betweenness"),
    )


def q_graph_rotor_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-greedy walk corpus (4 steps from every
    vertex) over the 10-minute error co-occurrence graph — the
    reproducible node2vec/DeepWalk-style sampling pass an
    embedding-training pipeline runs ahead of skipgram extraction
    (skipgram_cooccurrence consumes exactly this kind of corpus). The
    next hop is a pure function of (step, vertex) — argmin of
    (md5("t:c:v"), v) over neighbors — so the per-step cost is one
    map-side-combinable min-aggregate over edges plus one V-sized
    join; walks co-located at a vertex merge (rotor-router property),
    no hub blow-up, no RNG. Full walk table graded cell-exact."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        rotor_walks,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    w = rotor_walks(edges, steps=4)
    return w.select(
        F.col("start_id").alias("start_user_id"), "step", F.col("id").alias("user_id")
    )


def q_graph_distance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled distance distribution — the neighborhood-function
    estimand of ANF/HyperBall (Palmer et al. 2002; Boldi & Vigna 2011)
    over the same 8 md5-chosen pivots as harmonic centrality: per-depth
    (pivot, vertex) pair counts, cumulative pairs, cumulative share,
    and the effective-diameter marker (the standard 90th-percentile
    rule, decided as the INTEGER comparison cum·10 ≥ total·9 — no
    float threshold). The rollup frame is ≤ rounds+1 rows, so the
    cumulative window is constant-size at any scale; the only float is
    the 6-dp share."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        _multi_source_bfs,
        cooccurrence_edges,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    _, visited = _multi_source_bfs(edges, pivots=8, rounds=6)
    per_depth = visited.groupBy("depth").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    # r15 (VERDICT r14 item 7): the ≤(rounds+1)-row depth table is
    # control data — its prefix sum rides a driver literal
    # (collected_offsets) instead of a no-partition window
    off = collected_offsets(per_depth, ["depth"], [("n_pairs", "_coff")])
    total = F.broadcast(off.agg(F.sum("n_pairs").cast("long").alias("_t")))
    return (
        off.withColumn(
            "cum_pairs", (F.col("_coff") + F.col("n_pairs")).cast("long")
        )
        .crossJoin(total)
        .select(
            "depth",
            "n_pairs",
            "cum_pairs",
            round_det(F.col("cum_pairs").cast("double") / F.col("_t").cast("double"), 6).alias(
                "cum_share"
            ),
            (F.col("cum_pairs") * 10 >= F.col("_t") * 9).alias("reaches_p90"),
        )
    )


def q_walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk's second stage composed from the engine's own
    operators: skipgram (center, context) co-occurrence counts within
    a ±2 window over each rotor walk (Perozzi et al. 2014 — walks
    become "sentences", skipgrams become embedding training pairs).
    One per-start self-join of the walk table (≤ 5×4 ordered pairs per
    walk — constant), then a pair-keyed count: linear in walks. Both
    directions are emitted (each ordered (i, j) with 1 ≤ |i−j| ≤ 2),
    matching word2vec's window semantics; revisited vertices can pair
    with themselves at different steps, identically on both engines."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        rotor_walks,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    w = rotor_walks(edges, steps=4)
    a = w.select(
        F.col("start_id").alias("_s"), F.col("step").alias("_i"), F.col("id").alias("center_id")
    )
    b = w.select(
        F.col("start_id").alias("_s"), F.col("step").alias("_j"), F.col("id").alias("context_id")
    )
    return (
        a.join(b, "_s")
        .filter(F.abs(F.col("_i") - F.col("_j")).between(1, 2))
        .groupBy("center_id", "context_id")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def q_graph_spectral_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral bipartition coordinate (8 fixed rounds of centered,
    grid-snapped power iteration on the random-walk matrix) over the
    10-minute error co-occurrence graph — the embedding/clustering view
    completing the graph tier next to centrality (pagerank/HITS),
    density (k-core), reachability (BFS), partition (components) and
    ancestry (closure). The NOTES round-8 lead ("power-iteration
    spectral embedding, needs a grid-safe normalization design") —
    the design landed on ∞-norm scaling, whose max-of-grid-values is
    exact on any engine. See graph.spectral_coordinate for the full
    determinism contract."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        cooccurrence_edges,
        spectral_coordinate,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    return spectral_coordinate(edges, rounds=8).select(
        F.col("id").alias("user_id"), "spectral_x", "side"
    )


def q_graph_weighted_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source WEIGHTED shortest-path distances (6 fixed
    Bellman-Ford relaxations) over the 10-minute error co-occurrence
    graph, edge weight = max(1, 10000 DIV shared-bucket-count) — the
    more often two users co-err, the closer they sit. Completes the
    graph tier's distance view next to BFS hop counts: pure integer
    min-plus end to end, no rounding device anywhere (the
    kcore-strength contract). The twin is the literal unrolled
    relaxation with MATERIALIZED per-round CTEs (the distance vector
    is referenced twice per round — device 7)."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        bellman_ford_distances,
        cooccurrence_nodes,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    # the shared occupancy-capped node table (round 11): the pair join
    # is keyed by (_bucket, _sub) so per-key fan-out is hard-bounded
    # at C(OCCUPANCY_CAP, 2); _cnt counts shared (bucket, sub) keys —
    # identical to shared buckets at any occupancy ≤ cap
    nodes = cooccurrence_nodes(ev, event_type="error", bucket_seconds=600)
    a = nodes.select("_bucket", "_sub", F.col("user_id").alias("u"))
    b = nodes.select("_bucket", "_sub", F.col("user_id").alias("v"))
    pairs = (
        a.join(b, ["_bucket", "_sub"])
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("_cnt"))
    )
    wexpr = F.greatest(
        F.lit(1).cast("long"),
        ((F.lit(10000) - F.lit(10000) % F.col("_cnt")) / F.col("_cnt")).cast("long"),
    )
    wedges = pairs.select("u", "v", wexpr.alias("w"))
    return bellman_ford_distances(wedges, rounds=6).select(
        F.col("id").alias("user_id"), "dist"
    )


def q_part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy (recursive-CTE) rollup — the classic OLAP capability
    the registry lacked: derive a 4-ary part taxonomy (child k → parent
    (k−1) DIV 4, node 0 the root — a deterministic function of the key,
    so both engines build the identical tree from the raw table), take
    its ancestor-descendant transitive closure, and report, per part:
    its depth and its SUBTREE rollup (descendant count and total retail
    value including itself) — the BOM-explosion / org-chart aggregate
    that needs WITH RECURSIVE in SQL.

    Spark side: path-doubling closure (operators/graph.py
    transitive_closure — ⌈log2 depth⌉ shuffles, not depth); 5 rounds
    covers depth ≤ 2^5 = 32, i.e. every 4-ary tree below 4^32 ≈ 1.8e19
    nodes — an arithmetic bound, not fixture luck. DuckDB twin: a
    genuine WITH RECURSIVE walk of the same parent function (linear —
    the recursive CTE is referenced once per step, the kcore
    MATERIALIZED lesson does not bite).

    Exactness: depth and counts are pure integers; money rolls up as
    floor(p_retailprice·100 + 0.5) cents — identical IEEE snap on both
    engines — and is emitted as an exact BIGINT cents sum (no float
    aggregation anywhere).

    Scale: closure size is Σ depth(v) ≈ N·log4 N rows; every exchange
    is keyed by part id (uniform — keys are dense integers); the
    rollup is one groupBy over the closure. No driver data, no global
    sort; output is one row per part."""
    from kickstarter_etl_pipeline_spark.operators.graph import transitive_closure

    part = load_table(spark, sf_dir, "part")
    nodes = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("_cents"),
    )
    edges = part.filter(F.col("p_partkey") >= 1).select(
        F.expr("CAST((p_partkey - 1) DIV 4 AS BIGINT)").alias("anc"),
        F.col("p_partkey").cast("long").alias("des"),
    )
    clo = transitive_closure(edges, rounds=5)
    depth = clo.groupBy(F.col("des").alias("id")).agg(
        F.count("*").cast("long").alias("_depth")
    )
    sub = (
        clo.join(nodes.withColumnRenamed("id", "des"), "des")
        .groupBy(F.col("anc").alias("id"))
        .agg(
            F.count("*").cast("long").alias("_ndesc"),
            F.sum("_cents").cast("long").alias("_dcents"),
        )
    )
    return (
        nodes.join(depth, "id", "left")
        .join(sub, "id", "left")
        .select(
            F.col("id").alias("p_partkey"),
            F.coalesce(F.col("_depth"), F.lit(0)).cast("long").alias("depth"),
            (F.coalesce(F.col("_ndesc"), F.lit(0)) + 1)
            .cast("long")
            .alias("subtree_count"),
            (F.coalesce(F.col("_dcents"), F.lit(0)) + F.col("_cents"))
            .cast("long")
            .alias("subtree_value_cents"),
        )
    )


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the error co-occurrence user graph
    (Newman 2002): the Pearson correlation of endpoint degrees over
    the symmetrized edge list — positive means hubs attach to hubs
    (the bot-ring signature), negative means hub-and-spoke (round 10).

    Exactness: degrees are exact longs; every sufficient statistic
    (Σx, Σxy, Σx², n over the 2m directed endpoint pairs) is an exact
    decimal(38,0) sum, and symmetry makes the x and y marginals
    identical, so r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) is one fixed
    IEEE tree over exact operands, snapped to 6 dp.

    Scale: edge build is the bucket-keyed self-join (bounded by bucket
    occupancy — operators.graph.cooccurrence_edges); degrees are one
    vertex-keyed aggregate; the sums are one map-side-combined global
    aggregate. Nothing quadratic in users, no driver data."""
    from kickstarter_etl_pipeline_spark.operators.graph import cooccurrence_edges, degree_table

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=1800)
    deg = degree_table(edges)
    sym = edges.select(F.col("u").alias("_a"), F.col("v").alias("_b")).unionAll(
        edges.select(F.col("v").alias("_a"), F.col("u").alias("_b"))
    )
    paired = (
        sym.join(deg.select(F.col("id").alias("_a"), F.col("degree").alias("_dx")), "_a")
        .join(deg.select(F.col("id").alias("_b"), F.col("degree").alias("_dy")), "_b")
    )
    d38 = "decimal(38,0)"
    agg = paired.agg(
        F.count("*").cast("long").alias("n_endpoint_pairs"),
        F.sum(F.col("_dx").cast(d38)).alias("_sx"),
        F.sum((F.col("_dx").cast(d38) * F.col("_dy"))).alias("_sxy"),
        F.sum((F.col("_dx").cast(d38) * F.col("_dx"))).alias("_sx2"),
    )
    num = (
        F.col("n_endpoint_pairs") * F.col("_sxy") - F.col("_sx") * F.col("_sx")
    ).cast("double")
    den = (
        F.col("n_endpoint_pairs") * F.col("_sx2") - F.col("_sx") * F.col("_sx")
    ).cast("double")
    return agg.select(
        "n_endpoint_pairs",
        F.col("_sx").cast("long").alias("degree_sum"),
        round_det(num / den, 6).alias("assortativity"),
    )


def q_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the error co-occurrence graph
    (Adamic & Adar 2003): non-adjacent user pairs scored by
    Σ 1/ln(deg(z)) over their common neighbors z — the
    degree-discounted companion to the common-neighbor Jaccard tier
    (a shared hub says less than a shared niche contact) (round 10).

    Exactness: each neighbor's 1/ln(deg) is snapped to an integer
    NANO grid BEFORE the per-pair sum (exact long arithmetic —
    aggregation order can never move a score); deg(z) ≥ 2 for any
    common neighbor, so ln is never 0. Top-100 by
    (score, u, v) — a total order on integers.

    Scale: the 10-minute bucket keeps edge fan-out bounded (the
    cooccurrence_edges occupancy-cap contract); the wedge join is
    neighbor-keyed with vertices of degree > WEDGE_DEGREE_CAP excluded
    from the shared-neighbor role BEFORE the self-join (round 11 —
    C(deg, 2) pairs per neighbor would go quadratic on one hub;
    dropping hubs from wedge enumeration is standard practice and a
    shared hub carries the least Adamic-Adar weight anyway, 1/ln(deg)).
    The DuckDB twin mirrors the cap; at fixture scale (max degree 123
    at sf0.1) it is inert. The anti-join removes existing edges; the
    report is a TakeOrdered."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        WEDGE_DEGREE_CAP,
        cooccurrence_edges,
        degree_table,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    deg = degree_table(edges)
    adj = edges.select(F.col("u").alias("_a"), F.col("v").alias("_n")).unionAll(
        edges.select(F.col("v").alias("_a"), F.col("u").alias("_n"))
    )
    # a degree-1 vertex has one edge, so it can never be a COMMON
    # neighbor — filter before the division so ln(1) = 0 never feeds
    # the ANSI divide (the guard is semantic, not just defensive);
    # the upper cap bounds the wedge fan-out (see docstring)
    w_nano = deg.filter(
        (F.col("degree") >= 2) & (F.col("degree") <= WEDGE_DEGREE_CAP)
    ).select(
        F.col("id").alias("_n"),
        F.floor(F.lit(1000000000.0) / F.log(F.col("degree").cast("double")) + 0.5)
        .cast("long")
        .alias("_w"),
    )
    # join the weight table (== the capped neighbor set) BEFORE the
    # self-join — that placement is the fan-out bound itself
    wedge_adj = adj.join(w_nano, "_n")
    wedges = (
        wedge_adj.select(F.col("_a").alias("u"), "_n", "_w")
        .join(wedge_adj.select(F.col("_a").alias("v"), "_n"), "_n")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("_w").cast("long").alias("_score_nano"),
        )
        .filter(F.col("n_common") >= 2)
    )
    preds = wedges.join(edges, ["u", "v"], "left_anti")
    return (
        preds.orderBy(F.desc("_score_nano"), F.asc("u"), F.asc("v"))
        .limit(100)
        .select(
            "u",
            "v",
            "n_common",
            (F.col("_score_nano").cast("double") / 1e9).alias("adamic_adar_score"),
        )
    )


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the 30-minute error
    co-occurrence graph — the first diagnostic any graph pipeline runs
    (is the degree distribution power-law? where do the hubs start?),
    and the observability companion to the round-11 occupancy/degree
    caps: the histogram is how an operator SEES an approaching
    cap before it engages (round 11).

    Exactness: degrees are exact longs; the bucket is
    floor(log2(degree)) — safe cross-engine because floor only moves
    at exact powers of two, where IEEE log2 is exact, and every other
    integer sits ≥ 2^-k/ln2 from the boundary (≫ 1 ulp for any
    bigint-ranged degree). min/max/count per bucket are exact.

    Scale: the edge build rides the occupancy-capped device
    (operators.graph.cooccurrence_edges); degrees are one vertex-keyed
    aggregate; the histogram is a ≤ ~40-group rollup (log2 of any
    bigint degree)."""
    from kickstarter_etl_pipeline_spark.operators.graph import cooccurrence_edges, degree_table

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=1800)
    deg = degree_table(edges)
    return (
        deg.select(
            F.floor(F.log2(F.col("degree").cast("double"))).cast("long").alias("log2_bucket"),
            "degree",
        )
        .groupBy("log2_bucket")
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
    )


def q_cooccurrence_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy-cap audit for the co-occurrence graph device (round
    12, ADVICE r11): the cap's above-threshold degradation — users in
    different sub-buckets of one hot bucket are not connected — is
    silent at the edge-set level, so this report is the runtime signal
    consumers run alongside any co-occurrence-derived query. One row:
    bucket count, capped-bucket count (occupancy > OCCUPANCY_CAP), max
    occupancy, total nodes, and the emitted vs unsalted pair totals —
    the sampled-pair fraction is 1 − emitted_pairs/unsalted_pairs,
    exactly 0 while the cap is disengaged.

    Exactness: all outputs are integer arithmetic on exact longs. A
    bucket of occupancy n splits into floor(n/cap) full sub-buckets of
    C(cap,2) pairs plus one remainder of C(n mod cap, 2); the unsalted
    count is C(n,2). Integer DIV by 2 is exact (k·(k−1) is even).

    Scale: one O(events) scan → distinct (bucket, user) →
    bucket-keyed count (uniform key, no fan-out: this audit never
    builds pairs, so it is safe to run at ANY occupancy — including
    the storms the cap exists for) → single-row rollup."""
    from kickstarter_etl_pipeline_spark.operators.graph import OCCUPANCY_CAP

    cap = OCCUPANCY_CAP
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    nodes = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.floor(F.col("_us") / (1800 * 1_000_000)).cast("long").alias("_bucket"),
            "user_id",
        )
        .distinct()
    )
    occ = nodes.groupBy("_bucket").agg(F.count("*").cast("long").alias("occ"))
    emitted = F.expr(
        f"(occ DIV {cap}) * {cap * (cap - 1) // 2}"
        f" + (occ % {cap}) * (occ % {cap} - 1) DIV 2"
    )
    unsalted = F.expr("occ * (occ - 1) DIV 2")
    return occ.agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("occ") > cap, 1).otherwise(0)).cast("long").alias(
            "capped_buckets"
        ),
        F.max("occ").cast("long").alias("max_occupancy"),
        F.sum("occ").cast("long").alias("total_nodes"),
        F.sum(emitted).cast("long").alias("emitted_pairs"),
        F.sum(unsalted).cast("long").alias("unsalted_pairs"),
    )


def q_recursive_cte_ancestor_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy walk via Spark 4's native ``WITH RECURSIVE`` — the
    DECLARATIVE twin of part_hierarchy_rollup's path-doubling closure,
    and the complementary aggregate: per part, its depth and the
    root-to-node PATH value sum (the accumulator-carrying walk that
    recursion expresses naturally and a closure join does not emit).
    Same deterministic 4-ary taxonomy (child k → parent (k−1) DIV 4,
    virtual root 0), same integer-cents snap; the DuckDB twin runs the
    IDENTICAL recursive SQL — both engines execute genuine recursion.

    Scale: each recursion level is ONE equi-join of the previous
    level's frontier against the child table — levels = tree depth
    (log₄ N ≈ 13 at 10⁸ parts, under the engine's recursion limit of
    100), frontier rows total N across all levels, every exchange
    keyed by dense integer ids. The path-doubling variant trades more
    rows (N·log N closure) for fewer rounds (log₂ depth); this one is
    the row-lean choice when depth is shallow — the registry now
    carries BOTH strategies, graded against each other's family."""
    part = load_table(spark, sf_dir, "part")
    part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).createOrReplaceTempView("part_nodes_v")
    # The anchor is the REAL root row (the fixture carries p_partkey 0);
    # the recursive join keeps c.id >= 1 because (0-1) DIV 4 = 0 would
    # make the root its own child (DIV truncates toward zero).
    return spark.sql(
        """
        WITH RECURSIVE walk(id, depth, path_cents) AS (
          SELECT id, 0, cents FROM part_nodes_v WHERE id = 0
          UNION ALL
          SELECT c.id, w.depth + 1, w.path_cents + c.cents
          FROM walk w
          JOIN part_nodes_v c
            ON c.id >= 1 AND CAST((c.id - 1) DIV 4 AS BIGINT) = w.id
        )
        SELECT id, depth, path_cents FROM walk
        """
    )
