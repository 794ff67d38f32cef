"""Oracle assembly: cross-oracle aliases, generated twins (LSH /
anchor-IVF / SimHash / PageRank / LPA / recall report), and the
final merged dict the driver contract exposes. Split out of
queries.py in round 6.
"""

from kickstarter_etl_pipeline_spark.constants import (
    ANN_K,
    BELLMAN_FORD_ROUNDS,
    BFS_ROUNDS,
    DAMPING,
    EMBED_DIM,
    GRID_SCALE,
    HITS_ITERATIONS,
    IVF_CELLS,
    IVF_CLUSTERS,
    IVF_ITERS,
    IVF_N_PROBE,
    KCORE_K,
    KCORE_ROUNDS,
    LPA_ITERATIONS,
    LSH_NUM_PLANES,
    LSH_NUM_TABLES,
    MMR_K,
    MMR_LAM,
    MMR_POOL,
    PAGERANK_ITERATIONS,
    PCA_ITERS,
    SPECTRAL_ROUNDS,
)
from kickstarter_etl_pipeline_spark.oracles_analytics import ORACLES_ANALYTICS
from kickstarter_etl_pipeline_spark.oracles_core import ORACLES_CORE, _NORM
from kickstarter_etl_pipeline_spark.oracles_eval import ORACLES_EVAL
from kickstarter_etl_pipeline_spark.oracles_ext import ORACLES_EXT
from kickstarter_etl_pipeline_spark.oracles_graph_common import (
    cooccurrence_edge_ctes,
    ranked_cooccurrence_nodes,
)
from kickstarter_etl_pipeline_spark.oracles_lm import ORACLES_LM
from kickstarter_etl_pipeline_spark.oracles_mining import ORACLES_MINING
from kickstarter_etl_pipeline_spark.oracles_r10 import ORACLES_R10
from kickstarter_etl_pipeline_spark.oracles_r11 import ORACLES_R11
from kickstarter_etl_pipeline_spark.oracles_r12 import ORACLES_R12
from kickstarter_etl_pipeline_spark.oracles_r13 import ORACLES_R13
from kickstarter_etl_pipeline_spark.oracles_r14 import ORACLES_R14
from kickstarter_etl_pipeline_spark.oracles_r15 import ORACLES_R15

_ORACLES: dict[str, str] = {}
_ORACLES.update(ORACLES_CORE)
_ORACLES.update(ORACLES_ANALYTICS)
_ORACLES.update(ORACLES_MINING)
_ORACLES.update(ORACLES_LM)
_ORACLES.update(ORACLES_EVAL)
_ORACLES.update(ORACLES_R10)
_ORACLES.update(ORACLES_R11)
_ORACLES.update(ORACLES_R12)
_ORACLES.update(ORACLES_R13)
_ORACLES.update(ORACLES_R14)
_ORACLES.update(ORACLES_R15)

_ORACLES["q1_pricing_summary_sql"] = _ORACLES["q1_pricing_summary"]
# Star-rewriting CC must produce the exact same groups as min-label CC.
_ORACLES["dedup_components_star"] = _ORACLES["dedup_components"]
_ORACLES["events_stream_sliding"] = _ORACLES["events_sliding"]
# The finite-fixture upsert rollup must equal the batch tumbling agg.
_ORACLES["events_stream_upsert"] = _ORACLES["events_tumbling"]
# The transformWithStateInPandas sessionizer must emit the exact
# sessions of the applyInPandasWithState one (same fold, same finite
# replay) — one oracle grades both stateful APIs.
_ORACLES["events_tws_sessions"] = _ORACLES["events_stateful_sessions"]
_ORACLES["events_tws_timeout_sessions"] = _ORACLES["events_stateful_timeout_sessions"]
# Compaction must preserve the data exactly — same oracle as the
# idempotent-append round-trip (a plain aggregate over documents).
_ORACLES["compaction_roundtrip_agg"] = _ORACLES["idempotent_append_agg"]
# Format round-trips must reproduce the parquet-sourced aggregate exactly.
_ORACLES["json_roundtrip_agg"] = _ORACLES["csv_roundtrip_agg"]
_ORACLES["orc_roundtrip_agg"] = _ORACLES["csv_roundtrip_agg"]
# Custom Python Data Source connector round-trip: same contract, over
# the documents table.
_ORACLES["jsonl_pyds_roundtrip_agg"] = """
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS total_text_len,
           count(DISTINCT lang) AS n_langs,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents GROUP BY source
"""


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


_ORACLES["ann_lsh_topk"] = _ann_lsh_oracle_sql()


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


_ORACLES["ann_ivf_anchor_topk"] = _ann_ivf_anchor_oracle_sql()


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


_ORACLES["ann_ivf_topk"] = _ann_ivf_lloyd_oracle_sql()

# FULL twin of q_ivf_recall_report: the two verified pipelines
# (embedding_topk exact, ann_ivf_topk trained-IVF — identical query
# set and k) composed; recall@5 = hits / 5 per query. Same device as
# ann_recall_report / pq_recall_report.
_ORACLES["ivf_recall_report"] = f"""
    SELECT ex.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           floor(count(l.neighbor_id) / {float(ANN_K)} * 1000000 + 0.5) / 1000000.0 AS recall_at_5
    FROM ({ORACLES_CORE['embedding_topk']}) ex
    LEFT JOIN ({_ann_ivf_lloyd_oracle_sql()}) l
      ON ex.query_id = l.query_id AND ex.neighbor_id = l.neighbor_id
    GROUP BY ex.query_id
"""

# FULL twin of q_simhash_md5_candidates (dedup.with_simhash with
# md5_token_hash/60 bits): token hash = first 15 md5 hex chars as a
# 60-bit integer, per-bit ±1 sums over every token occurrence, sign
# pack, 4×15-bit band blocking, exact Hamming on colliding pairs.
_ORACLES["simhash_md5_candidates"] = r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents),
    th AS (SELECT doc_id,
                  CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
           FROM toks),
    bitsum AS (
      SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS i)
      GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bitsum GROUP BY doc_id),
    banded AS (
      SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS chunk
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS sa, b.simhash AS sb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM pairs
"""


# FULL twin of q_simhash_twin_containment: n_twin_pairs is the real
# SQL-computed doc count; n_missing = 0 and max_twin_hamming = 0 are
# THEOREM constants — a whitespace perturbation cannot change the
# token sequence, hence not the SimHash under ANY hash function, so
# every (doc, twin) pair must band-collide with Hamming 0. (The
# max_twin_hamming = -1 arm covers an empty documents fixture, the
# query's coalesce(-1) twin.) See the query docstring for why the
# r7-proposed "md5 pairs ⊆ xxhash pairs" relation is NOT a theorem and
# measurably fails on the fixtures.
_ORACLES["simhash_twin_containment"] = """
    SELECT CAST(count(*) AS BIGINT) AS n_twin_pairs,
           CAST(0 AS BIGINT) AS n_missing,
           CAST(CASE WHEN count(*) > 0 THEN 0 ELSE -1 END AS INTEGER) AS max_twin_hamming
    FROM documents
"""

# FULL twin of q_events_stream_static_enrich: the finite AvailableNow
# replay of the per-micro-batch broadcast enrichment must equal the
# plain batch join + rollup (same category dim inlined as VALUES).
_ORACLES["events_stream_static_enrich"] = """
    WITH dim(event_type, category) AS (VALUES
      ('click', 'engagement'), ('view', 'engagement'),
      ('purchase', 'revenue'), ('add_to_cart', 'revenue'),
      ('search', 'intent'))
    SELECT category, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events JOIN dim USING (event_type)
    GROUP BY category
"""

# FULL twin of q_schema_evolution_agg: v1 files (odd doc_ids) carry no
# n_chars column and must surface NULL under mergeSchema — so n_chars
# aggregates run only over the even (v2) half.
_ORACLES["schema_evolution_agg"] = """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_v2,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars END) AS BIGINT)
             AS v2_chars_sum
    FROM documents
    GROUP BY source
"""

# FULL twin of q_price_percentile_bands: the two-phase rank + exact
# tile arithmetic must reproduce a plain ntile(100) over the same
# deterministic (price, orderkey) total order; band rollups are exact
# (counts, raw stored doubles, decimal sums).
_ORACLES["price_percentile_bands"] = """
    WITH r AS (
      SELECT o_totalprice,
             ntile(100) OVER (ORDER BY o_totalprice, o_orderkey) AS band
      FROM orders)
    SELECT CAST(band AS INTEGER) AS band,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
    FROM r GROUP BY band
"""

# FULL twin of q_events_asof_next_purchase (joins.asof_join_forward):
# earliest following purchase per click — (ts, id) ascending argmin
# with >= semantics — nulled outside the 1 h attribution window. The
# union + descending-carry device must equal this per-click argmin.
_ORACLES["events_asof_next_purchase"] = """
    WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS us
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
          FROM events WHERE event_type = 'purchase'),
    m AS (SELECT c.user_id, c.event_id AS click_event_id, c.us AS cus,
                 p.event_id AS pid, p.us AS pus, p.value AS pval,
                 row_number() OVER (PARTITION BY c.user_id, c.event_id
                                    ORDER BY p.us, p.event_id) AS rn
          FROM c JOIN p ON p.user_id = c.user_id AND p.us >= c.us),
    best AS (SELECT * FROM m WHERE rn = 1)
    SELECT c.user_id, c.event_id AS click_event_id,
           CASE WHEN b.pus - b.cus <= 3600000000 THEN b.pid END AS purchase_event_id,
           CASE WHEN b.pus - b.cus <= 3600000000 THEN b.pus - b.cus END AS gap_us,
           CASE WHEN b.pus - b.cus <= 3600000000 THEN round(b.pval, 4) END AS purchase_value
    FROM c LEFT JOIN best b
      ON b.user_id = c.user_id AND b.click_event_id = c.event_id
"""

# FULL twin of q_simhash_near_dup_clusters: the verified md5-SimHash
# candidate CTE (Hamming <= 8 edge rule) feeding the verified
# recursive-CTE connected-components device — composition of two
# already-graded pipelines, the dedup_components pattern.
_ORACLES["simhash_near_dup_clusters"] = f"""
    WITH RECURSIVE
    cand AS (SELECT id_a, id_b
             FROM ({_ORACLES['simhash_md5_candidates']})
             WHERE hamming <= 8),
    edges AS (SELECT id_a AS a, id_b AS b FROM cand
              UNION ALL SELECT id_b, id_a FROM cand),
    reach(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.comp FROM edges e JOIN reach r ON e.b = r.id
    ),
    comp AS (SELECT id AS doc_id, min(comp) AS component_id FROM reach GROUP BY id),
    szs AS (SELECT component_id, count(*) AS n_members FROM comp GROUP BY component_id)
    SELECT doc_id, component_id, n_members FROM comp JOIN szs USING (component_id)
"""

def _hits_oracle_sql() -> str:
    """FULL DuckDB twin of q_graph_hits (graph.hits): the
    hubs-and-authorities recurrence unrolls as CTE pairs — possible
    because the implementation keeps an EXACT integer spine: scores in
    nano-unit BIGINTs, per-half-round edge sums exact (HUGEINT here,
    long/decimal on the Spark side), squared norms exact, and the only
    float stage per half-round is the fixed tree
    floor(raw / sqrt(S2) · 1e9 + 0.5). Cross-engine equality is
    arithmetic identity — no float accumulation exists to disagree
    about (a stronger contract than the PageRank grid-margin device).

    MATERIALIZED is load-bearing on e / a{t} / h{t} (device 7): each
    is referenced 2+ times (e once per half-round, the vectors by the
    next half-round AND their own norm CTE), so the inlined replay
    recomputed the orders⋈lineitem distinct-edge join once per
    reference — measured 52.8 s at sf0.01; 0.3 s materialized. This
    was VERDICT r10's "graph_hits 59.5 s inside CERTIFY" anomaly: the
    certify per-query clock includes the DuckDB twin, and the slow
    side was DuckDB, not Spark (isolated Spark run: ~5 s)."""
    head = """
        WITH e AS MATERIALIZED (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
                                   CAST(l_suppkey AS BIGINT) AS s
                   FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        h0 AS (SELECT DISTINCT c, CAST(1000000000 AS BIGINT) AS hn FROM e)"""
    steps = []
    for t in range(1, HITS_ITERATIONS + 1):
        steps.append(
            f""",
        ar{t} AS MATERIALIZED (SELECT s, sum(hn) AS arn FROM e JOIN h{t - 1} USING (c) GROUP BY s),
        an{t} AS (SELECT sqrt(CAST(sum(CAST(arn AS HUGEINT) * arn) AS DOUBLE)) AS na
                  FROM ar{t}),
        a{t} AS MATERIALIZED (SELECT s, CAST(floor(CAST(arn AS DOUBLE) / na * 1000000000 + 0.5)
                                AS BIGINT) AS an
                 FROM ar{t} CROSS JOIN an{t}),
        hr{t} AS MATERIALIZED (SELECT c, sum(an) AS hrn FROM e JOIN a{t} USING (s) GROUP BY c),
        hn{t} AS (SELECT sqrt(CAST(sum(CAST(hrn AS HUGEINT) * hrn) AS DOUBLE)) AS nh
                  FROM hr{t}),
        h{t} AS MATERIALIZED (SELECT c, CAST(floor(CAST(hrn AS DOUBLE) / nh * 1000000000 + 0.5)
                                AS BIGINT) AS hn
                 FROM hr{t} CROSS JOIN hn{t})"""
        )
    tail = f"""
        SELECT 'hub' AS role, c AS id,
               floor(hn / 1000000000.0 * 1000000 + 0.5) / 1000000.0 AS score
        FROM h{HITS_ITERATIONS}
        UNION ALL
        SELECT 'authority' AS role, s AS id,
               floor(an / 1000000000.0 * 1000000 + 0.5) / 1000000.0 AS score
        FROM a{HITS_ITERATIONS}
    """
    return head + "".join(steps) + tail


_ORACLES["graph_hits"] = _hits_oracle_sql()

# FULL twin of q_blocking_quality_report (round 9): the two standard
# entity-resolution blocking metrics, composed from the verified
# md5-SimHash candidate twin (above) and the exact n-gram Jaccard >= 0.8
# truth twin (ORACLES_CORE['ngram_jaccard_pairs']). All counts exact;
# C(n,2) is arithmetic (n(n-1) is always even, so /2 is an exact-valued
# double on both engines before the BIGINT cast).
_ORACLES["blocking_quality_report"] = f"""
    WITH cand AS (SELECT id_a, id_b FROM ({_ORACLES['simhash_md5_candidates']})),
    truth AS (SELECT id_a, id_b FROM ({ORACLES_CORE['ngram_jaccard_pairs']})),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM truth),
    nh AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates_true
           FROM cand JOIN truth USING (id_a, id_b))
    SELECT n_docs,
           CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS n_possible_pairs,
           n_candidates, n_true_pairs, n_candidates_true,
           floor(n_candidates_true / nullif(n_true_pairs, 0) * 1000000 + 0.5)
             / 1000000.0 AS pairs_completeness,
           floor((1 - n_candidates / CAST(n_docs * (n_docs - 1) / 2 AS BIGINT))
                 * 1000000 + 0.5) / 1000000.0 AS reduction_ratio
    FROM nd CROSS JOIN nc CROSS JOIN nt CROSS JOIN nh
"""


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


_ORACLES["embedding_pca_top"] = _pca_power_oracle_sql()

# FULL twin of q_readability_scores: exact integer counts (RE2/Java-
# safe character classes), one fixed IEEE tree — same parse
# 206.835 − (1.015·a) − (84.6·b) left-associated — on a 4-dp grid.
_ORACLES["readability_scores"] = r"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           floor((206.835
                  - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
                 * 10000 + 0.5) / 10000.0 AS flesch_score
    FROM c
"""

# Round-5 curation/graph/layout oracle twins live in oracles_ext.py
# (VERDICT r04 #8: registry module stays lean); merged here so the
# driver contract is unchanged.
_ORACLES.update(ORACLES_EXT)

# FULL twin of q_ann_recall_report: the two verified pipelines
# (embedding_topk exact, ann_lsh_topk approximate — identical query
# set and k) composed; recall@5 = hits / 5 per query.
_ORACLES["ann_recall_report"] = f"""
    SELECT ex.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           floor(count(l.neighbor_id) / {float(ANN_K)} * 1000000 + 0.5) / 1000000.0 AS recall_at_5
    FROM ({_ORACLES['embedding_topk']}) ex
    LEFT JOIN ({_ORACLES['ann_lsh_topk']}) l
      ON ex.query_id = l.query_id AND ex.neighbor_id = l.neighbor_id
    GROUP BY ex.query_id
"""




def _pagerank_oracle_sql() -> str:
    """Unrolled 10-iteration PageRank recurrence — possible because the
    Spark side rounds the rank vector to a 1e-9 grid each iteration
    (graph.pagerank), so contribution-sum order noise (~1e-17) never
    reaches the grid and both engines hold bit-identical iterates."""
    rd9 = "floor(({expr}) * 1000000000 + 0.5) / 1000000000.0"
    head = f"""
    WITH {cooccurrence_edge_ctes(1800000000, nodes="nodes", edges="edges")},
    dedges AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM dedges GROUP BY src),
    n AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM dedges),
    pr0 AS (SELECT s.src AS id, """ + rd9.format(expr="1.0 / n.n") + """ AS pr
            FROM (SELECT DISTINCT src FROM dedges) s CROSS JOIN n)"""
    steps = []
    for k in range(PAGERANK_ITERATIONS):
        steps.append(
            f""",
    pr{k + 1} AS (
      SELECT dedges.dst AS id, """
            + rd9.format(expr=f"(1.0 - {DAMPING}) / n.n + {DAMPING} * sum(p.pr / deg.d)")
            + f""" AS pr
      FROM dedges JOIN pr{k} p ON p.id = dedges.src
                  JOIN deg ON deg.src = dedges.src
                  CROSS JOIN n
      GROUP BY dedges.dst, n.n)"""
        )
    tail = f"""
    SELECT id AS user_id,
           floor((pr * 1000) * 1000000 + 0.5) / 1000000.0 AS pr_permille
    FROM pr{PAGERANK_ITERATIONS}
    """
    return head + "".join(steps) + tail


_ORACLES["graph_pagerank"] = _pagerank_oracle_sql()


def _lpa_ctes() -> str:
    """The unrolled synchronous label-propagation CTE chain (integer
    votes, (count desc, label asc) argmax) through ``lp{LPA_ITERATIONS}``
    — shared by the communities twin and the modularity twin."""
    head = f"""
    WITH {cooccurrence_edge_ctes(1800000000, nodes="nodes", edges="edges")},
    dedges AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
    lp0 AS (SELECT DISTINCT src AS id, src AS community FROM dedges)"""
    steps = []
    for k in range(5):
        steps.append(
            f""",
    lp{k + 1} AS (
      SELECT id, community FROM (
        SELECT dedges.dst AS id, p.community,
               row_number() OVER (PARTITION BY dedges.dst
                                  ORDER BY count(*) DESC, p.community) AS r
        FROM dedges JOIN lp{k} p ON p.id = dedges.src
        GROUP BY dedges.dst, p.community)
      WHERE r = 1)"""
        )
    return head + "".join(steps)


def _lpa_oracle_sql() -> str:
    """Unrolled synchronous label propagation — integer votes with a
    (count desc, label asc) argmax; replayable because every step is
    exact and the schedule is fixed."""
    return (
        _lpa_ctes()
        + f""",
    sizes AS (SELECT community, CAST(count(*) AS BIGINT) AS n_members
              FROM lp{LPA_ITERATIONS} GROUP BY community)
    SELECT l.id AS user_id, l.community, s.n_members
    FROM lp{LPA_ITERATIONS} l JOIN sizes s USING (community)
    """
    )


_ORACLES["graph_communities"] = _lpa_oracle_sql()


# FULL twin of q_community_modularity (round 12, continuation):
# Newman-Girvan modularity of the round-5 label-propagation partition,
# computed EXACTLY in integers — Q·4m² = Σ_c (4m·e_c − d_c²) — so the
# only float is the final division (snapped 6 dp). e_c counts the
# distinct undirected capped edges with both endpoints labeled c; d_c
# sums member degrees over the same edge set.
_ORACLES["community_modularity"] = (
    _lpa_ctes()
    + """,
    lab AS (SELECT id, community FROM lp5),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM
              (SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY id),
    dc AS (SELECT l.community, CAST(sum(d.degree) AS BIGINT) AS d_c
           FROM lab l JOIN deg d ON d.id = l.id GROUP BY l.community),
    ec AS (SELECT la.community, CAST(count(*) AS BIGINT) AS e_c
           FROM edges e
           JOIN lab la ON la.id = e.u
           JOIN lab lb ON lb.id = e.v
           WHERE la.community = lb.community
           GROUP BY la.community),
    terms AS (SELECT dc.community, COALESCE(ec.e_c, 0) AS e_c, dc.d_c
              FROM dc LEFT JOIN ec USING (community))
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           m.m AS n_edges,
           floor(CAST(sum(4 * m.m * e_c - d_c * d_c) AS DOUBLE)
                 / CAST(4 * m.m * m.m AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS modularity
    FROM terms CROSS JOIN m
    GROUP BY m.m
    """
)

ALL_ORACLES = _ORACLES


def _mmr_oracle_sql() -> str:
    """FULL DuckDB twin of q_mmr_diversified_topk
    (similarity.mmr_diversified_topk): the greedy selection is unrolled
    into k−1 CTE rounds — possible because every round's argmax is a
    deterministic (6-dp mmr DESC, id ASC) total order over bounded
    per-query candidate sets, exactly the device used for the PageRank
    unrolled recurrence. λ and (1−λ) are written as the same double
    literals Spark uses (0.7 / 0.3 — NOT 1−0.7 computed at runtime,
    which is 0.30000000000000004)."""
    rounds = []
    sel_union = "SELECT query_id, rank, neighbor_id, mmr_score, cv FROM sel1"
    for t in range(2, MMR_K + 1):
        prev_union = f"selu{t - 1}"
        rounds.append(f"""
    {prev_union} AS ({sel_union}),
    rem{t} AS (SELECT c.* FROM cand c
               ANTI JOIN {prev_union} s
                 ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id),
    pairs{t} AS (SELECT r.query_id, r.neighbor_id, r.rel, r.cv,
                        max(round(list_cosine_similarity(r.cv, s.cv), 6)) AS max_sel
                 FROM rem{t} r JOIN {prev_union} s ON r.query_id = s.query_id
                 GROUP BY r.query_id, r.neighbor_id, r.rel, r.cv),
    scored{t} AS (SELECT *, floor(({MMR_LAM} * rel - {round(1 - MMR_LAM, 10)} * max_sel)
                                  * 1000000 + 0.5) / 1000000.0 AS mmr
                  FROM pairs{t}),
    sel{t} AS (SELECT query_id, CAST({t} AS INTEGER) AS rank, neighbor_id,
                      mmr AS mmr_score, cv
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                              ORDER BY mmr DESC, neighbor_id) AS rn
                     FROM scored{t})
               WHERE rn = 1)""")
        sel_union += f"\n    UNION ALL SELECT query_id, rank, neighbor_id, mmr_score, cv FROM sel{t}"
    return f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored0 AS (SELECT query_id, neighbor_id, cv,
                       round(list_cosine_similarity(qv, cv), 6) AS rel
                FROM q, c WHERE neighbor_id <> query_id),
    cand AS (SELECT query_id, neighbor_id, rel, cv
             FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, neighbor_id) AS rn
                   FROM scored0)
             WHERE rn <= {MMR_POOL}),
    sel1 AS (SELECT query_id, CAST(1 AS INTEGER) AS rank, neighbor_id,
                    rel AS mmr_score, cv
             FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, neighbor_id) AS rn
                   FROM cand)
             WHERE rn = 1),{','.join(rounds)},
    allsel AS ({sel_union})
    SELECT query_id, rank, neighbor_id, mmr_score FROM allsel
    """


_ORACLES["mmr_diversified_topk"] = _mmr_oracle_sql()


def _kcore_oracle_sql() -> str:
    """FULL DuckDB twin of q_graph_kcore (graph.kcore): the
    fixed-round peel unrolls as one MATERIALIZED CTE triple (degrees,
    keep-set, surviving edges) per round — materialization is load-
    bearing: inlined, each round re-expands the previous one ~4x and
    the replay goes exponential. Pure integer arithmetic end to end —
    no rounding device exists anywhere, so cross-engine equality is
    exact set/count identity, the strongest contract in the graph
    tier (stronger than HITS' integer-spine and pagerank's
    grid-margin arguments)."""
    head = f"""
        WITH {cooccurrence_edge_ctes(600000000, nodes="n", edges="e0", materialized=True)}"""
    steps = []
    for t in range(1, KCORE_ROUNDS + 1):
        steps.append(
            f""",
        d{t} AS MATERIALIZED (SELECT id, count(*) AS d FROM (
                   SELECT u AS id FROM e{t - 1}
                   UNION ALL SELECT v FROM e{t - 1}) GROUP BY id),
        k{t} AS (SELECT id FROM d{t} WHERE d >= {KCORE_K}),
        e{t} AS MATERIALIZED (SELECT u, v FROM e{t - 1}
                 WHERE u IN (SELECT id FROM k{t})
                   AND v IN (SELECT id FROM k{t}))"""
        )
    tail = f"""
        SELECT id AS user_id, CAST(count(*) AS BIGINT) AS core_degree FROM (
          SELECT u AS id FROM e{KCORE_ROUNDS} UNION ALL SELECT v FROM e{KCORE_ROUNDS})
        GROUP BY id
    """
    return head + "".join(steps) + tail


_ORACLES["graph_kcore"] = _kcore_oracle_sql()

def _bfs_oracle_sql() -> str:
    """FULL DuckDB twin of q_graph_bfs_depths (graph.bfs_depths): the
    fixed-round frontier expansion unrolls as one MATERIALIZED CTE
    pair (frontier, visited) per round. MATERIALIZED is load-bearing
    by device (7): v{t} is referenced twice per round (the anti-join
    and the union), so the inlined unroll would re-expand ~2x per
    round. Pure integers — depths are loop counters; equality is set
    identity."""
    head = f"""
        WITH {cooccurrence_edge_ctes(600000000, nodes="n", edges="e0", materialized=True)},
        sym AS MATERIALIZED (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
        v0 AS MATERIALIZED (SELECT min(u) AS id, CAST(0 AS BIGINT) AS depth FROM sym
                            HAVING min(u) IS NOT NULL),
        f0 AS MATERIALIZED (SELECT id FROM v0)"""
    steps = []
    for t in range(1, BFS_ROUNDS + 1):
        steps.append(
            f""",
        f{t} AS MATERIALIZED (
          SELECT DISTINCT sym.v AS id
          FROM f{t - 1} JOIN sym ON sym.u = f{t - 1}.id
          WHERE sym.v NOT IN (SELECT id FROM v{t - 1})),
        v{t} AS MATERIALIZED (
          SELECT id, depth FROM v{t - 1}
          UNION ALL SELECT id, CAST({t} AS BIGINT) FROM f{t})"""
        )
    tail = f"""
        SELECT id AS user_id, depth FROM v{BFS_ROUNDS}
    """
    return head + "".join(steps) + tail


_ORACLES["graph_bfs_depths"] = _bfs_oracle_sql()


# FULL twin of q_snm_blocking_report (round 9, third session):
# sorted-neighborhood blocking (Hernández & Stolfo 1995) — two passes
# of row_number over pure-expression sort keys (doc_id tie-break =
# total order, the two_phase_rank contract), in-window pairs for
# w = 6 via rank-difference 1..5, metrics mirroring the
# blocking_quality_report tree shapes exactly (verified pair).
_ORACLES["snm_blocking_report"] = f"""
    WITH keyed AS (
      SELECT doc_id,
             substr({_NORM}, 1, 16) AS k1,
             lpad(CAST(n_chars AS VARCHAR), 8, '0')
               || substr({_NORM}, 1, 8) AS k2
      FROM documents),
    p1 AS (SELECT doc_id, row_number() OVER (ORDER BY k1, doc_id) AS rk
           FROM keyed),
    p2 AS (SELECT doc_id, row_number() OVER (ORDER BY k2, doc_id) AS rk
           FROM keyed),
    c1 AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
           FROM p1 a JOIN p1 b ON b.rk BETWEEN a.rk + 1 AND a.rk + 5),
    c2 AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
           FROM p2 a JOIN p2 b ON b.rk BETWEEN a.rk + 1 AND a.rk + 5),
    cand AS (SELECT DISTINCT id_a, id_b
             FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)),
    truth AS (SELECT id_a, id_b FROM ({ORACLES_CORE['ngram_jaccard_pairs']})),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM truth),
    nh AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates_true
           FROM cand JOIN truth USING (id_a, id_b))
    SELECT n_docs,
           CAST(n_docs * (n_docs - 1) / 2 AS BIGINT) AS n_possible_pairs,
           n_candidates, n_true_pairs, n_candidates_true,
           floor(n_candidates_true / nullif(n_true_pairs, 0) * 1000000 + 0.5)
             / 1000000.0 AS pairs_completeness,
           floor((1 - n_candidates / CAST(n_docs * (n_docs - 1) / 2 AS BIGINT))
                 * 1000000 + 0.5) / 1000000.0 AS reduction_ratio
    FROM nd CROSS JOIN nc CROSS JOIN nt CROSS JOIN nh
"""


def _spectral_oracle_sql() -> str:
    """Unrolled centered power iteration (graph.spectral_coordinate):
    every stage snaps to the 1e-9 grid, so the replay holds
    bit-identical iterates (the pagerank device). y/c are MATERIALIZED
    (each referenced twice per round — device 7); the scalar mean/scale
    CTEs are referenced once and stay inline."""

    def rd9(expr: str) -> str:
        return f"floor(({expr}) * 1000000000 + 0.5) / 1000000000.0"

    head = f"""
    WITH {cooccurrence_edge_ctes(600000000, nodes="nodes", edges="e0")},
    dedges AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
                            UNION ALL SELECT v, u FROM e0),
    x0 AS (SELECT s.src AS id,
                  {rd9("(CAST(concat('0x', substr(md5(CAST(s.src AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000) / 1000.0")} AS x
           FROM (SELECT DISTINCT src FROM dedges) s)"""
    steps = []
    for k in range(1, SPECTRAL_ROUNDS + 1):
        steps.append(f""",
    y{k} AS MATERIALIZED (SELECT dst AS id, {rd9("sum(p.x) / count(*)")} AS y
                          FROM dedges JOIN x{k - 1} p ON p.id = dedges.src
                          GROUP BY dst),
    m{k} AS (SELECT {rd9("sum(y) / count(*)")} AS m FROM y{k}),
    c{k} AS MATERIALIZED (SELECT id, {rd9("y - m")} AS c FROM y{k}, m{k}),
    s{k} AS (SELECT max(abs(c)) AS s FROM c{k}),
    x{k} AS (SELECT id, CASE WHEN s > 0 THEN {rd9("c / s")} ELSE c END AS x
             FROM c{k}, s{k})""")
    tail = f"""
    SELECT id AS user_id,
           floor(x * 1000000 + 0.5) / 1000000.0 AS spectral_x,
           CASE WHEN x > 0 THEN 1 ELSE 0 END AS side
    FROM x{SPECTRAL_ROUNDS}
    """
    return head + "".join(steps) + tail


_ORACLES["graph_spectral_partition"] = _spectral_oracle_sql()


def _bellman_ford_oracle_sql() -> str:
    """Unrolled fixed-round Bellman-Ford (graph_weighted_distances):
    pure integer min-plus, so the replay is exact set arithmetic. Each
    round's distance vector is referenced twice (carry + relax) —
    MATERIALIZED per device 7."""
    head = f"""
    WITH {ranked_cooccurrence_nodes(600000000, name="nodes")},
    pairs AS (SELECT a.user_id AS u, c.user_id AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM nodes a JOIN nodes c
                ON a.b = c.b AND a.sb = c.sb AND a.user_id < c.user_id
              GROUP BY 1, 2),
    wedges AS MATERIALIZED (
      SELECT u AS src, v AS dst, greatest(CAST(1 AS BIGINT), 10000 // cnt) AS w FROM pairs
      UNION ALL
      SELECT v, u, greatest(CAST(1 AS BIGINT), 10000 // cnt) FROM pairs),
    d0 AS (SELECT min(src) AS id, CAST(0 AS BIGINT) AS dist FROM wedges
           HAVING min(src) IS NOT NULL)"""
    steps = []
    for k in range(1, BELLMAN_FORD_ROUNDS + 1):
        steps.append(f""",
    d{k} AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM d{k - 1}
        UNION ALL
        SELECT wedges.dst AS id, d{k - 1}.dist + wedges.w AS dist
        FROM wedges JOIN d{k - 1} ON d{k - 1}.id = wedges.src)
      GROUP BY id)""")
    tail = f"""
    SELECT id AS user_id, dist FROM d{BELLMAN_FORD_ROUNDS}
    """
    return head + "".join(steps) + tail


_ORACLES["graph_weighted_distances"] = _bellman_ford_oracle_sql()
