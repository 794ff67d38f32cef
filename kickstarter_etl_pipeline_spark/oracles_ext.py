"""Round-5 oracle twins for the curation/graph/layout additions.

Split out of queries.py (VERDICT r04 #8: keep the registry module
lean). Same contract as every oracle in queries.py: DuckDB SQL that is
value-hash-identical to the Spark query post-rounding. _TOKS (oracles_core's)
is the shared tokenizer.
"""

from __future__ import annotations

from kickstarter_etl_pipeline_spark.oracles_graph_common import cooccurrence_edge_ctes
from kickstarter_etl_pipeline_spark.oracles_core import _TOKS


# the occupancy-capped 30-minute error co-occurrence edge CTEs shared
# by the triangle/clustering twins (mirrors graph.cooccurrence_edges)
_EDGES_1800 = cooccurrence_edge_ctes(1800000000, nodes="n", edges="edges")

ORACLES_EXT: dict[str, str] = {}

# FULL twin of q_user_triangle_counts (operators.graph): the same
# degree-ordered orientation — every edge oriented from its lower
# (degree, id) endpoint, wedges from a shared apex with rank-ordered
# far ends, closed by the oriented far-end edge; each triangle lands
# exactly once, at its minimum-rank apex.
ORACLES_EXT["user_triangle_counts"] = f"""
    WITH {_EDGES_1800},
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT u AS id FROM edges UNION ALL SELECT v FROM edges) GROUP BY id),
    oriented AS (
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst,
             CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS dst_d
      FROM edges JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v),
    wedges AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
      WHERE (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)),
    tri AS (
      SELECT a, w.b, w.c FROM wedges w
      JOIN oriented o ON o.src = w.b AND o.dst = w.c),
    pv AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
             SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY id)
    SELECT pv.id AS user_id, deg.d AS degree, pv.n_triangles
    FROM pv JOIN deg ON deg.id = pv.id
"""

# FULL twin of q_exact_median_by_group: identical middle-rank
# selection; (min+max)/2 of the one-or-two middle rows, no percentile
# interpolation semantics involved.
ORACLES_EXT["exact_median_by_group"] = """
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders),
    mid AS (SELECT * FROM ranked
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
               OR rn = CAST(floor((n + 2) / 2) AS BIGINT))
    SELECT o_orderstatus, CAST(max(n) AS BIGINT) AS n_orders,
           (min(o_totalprice) + max(o_totalprice)) / 2 AS median_price
    FROM mid GROUP BY o_orderstatus
"""

# FULL twin of q_skipgram_cooccurrence: identical ±2-offset directed
# (center, context) pair construction and (count, center, context)
# total order for the top-k boundary.
ORACLES_EXT["skipgram_cooccurrence"] = f"""
    WITH toks AS (SELECT t FROM (SELECT {_TOKS} AS t FROM documents) WHERE len(t) >= 2),
    pr AS (
      SELECT unnest(flatten(list_transform(range(1, len(t) + 1), i ->
               list_filter(list_transform([-2, -1, 1, 2], o ->
                 CASE WHEN i + o >= 1 AND i + o <= len(t)
                      THEN {{'center': t[i], 'context': t[i + o]}} END),
                 p -> p IS NOT NULL)))) AS p
      FROM toks)
    SELECT p.center AS center, p.context AS context,
           CAST(count(*) AS BIGINT) AS n_cooc
    FROM pr GROUP BY 1, 2
    ORDER BY n_cooc DESC, center, context
    LIMIT 100
"""

# FULL twin of q_zorder_layout_report: identical integer bucket grid
# (explicit floor — Spark's double→long cast truncates, DuckDB's
# rounds), identical 4+4-bit Morton interleave and 16-cell file blocks.
ORACLES_EXT["zorder_layout_report"] = """
    WITH o AS (SELECT CAST(date_diff('day', DATE '1990-01-01', o_orderdate) AS BIGINT) AS day,
                      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM orders),
    r AS (SELECT min(day) AS dmin, max(day) AS dmax,
                 min(cents) AS cmin, max(cents) AS cmax FROM o),
    b AS (SELECT day, cents,
                 CAST(floor((day - dmin) * 16 / (dmax - dmin + 1)) AS BIGINT) AS bd,
                 CAST(floor((cents - cmin) * 16 / (cmax - cmin + 1)) AS BIGINT) AS bp
          FROM o, r),
    z AS (SELECT day, cents,
                 (((bd >> 0) & 1) << 1) + (((bp >> 0) & 1) << 0) +
                 (((bd >> 1) & 1) << 3) + (((bp >> 1) & 1) << 2) +
                 (((bd >> 2) & 1) << 5) + (((bp >> 2) & 1) << 4) +
                 (((bd >> 3) & 1) << 7) + (((bp >> 3) & 1) << 6) AS zval
          FROM b)
    SELECT CAST(zval >> 4 AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(day) AS min_day, max(day) AS max_day,
           min(cents) AS min_cents, max(cents) AS max_cents
    FROM z GROUP BY 1
"""

# FULL twin of q_user_clustering_coeffs: the triangle-count CTE chain
# with a degree >= 2 LEFT join so triangle-free vertices report 0.0.
ORACLES_EXT["user_clustering_coeffs"] = f"""
    WITH {_EDGES_1800},
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT u AS id FROM edges UNION ALL SELECT v FROM edges) GROUP BY id),
    oriented AS (
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst,
             CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS dst_d
      FROM edges JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v),
    wedges AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
      WHERE (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)),
    tri AS (
      SELECT a, w.b, w.c FROM wedges w
      JOIN oriented o ON o.src = w.b AND o.dst = w.c),
    pv AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
             SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri) GROUP BY id)
    SELECT deg.id AS user_id, deg.d AS degree,
           CAST(coalesce(pv.n_triangles, 0) AS BIGINT) AS n_triangles,
           floor(2 * coalesce(pv.n_triangles, 0) / (deg.d * (deg.d - 1))
                 * 1000000 + 0.5) / 1000000.0 AS clustering_coeff
    FROM deg LEFT JOIN pv ON pv.id = deg.id
    WHERE deg.d >= 2
"""

# FULL twin of q_quantized_topk (similarity.quantized_topk): identical
# int8 grid (floor(x/scale*127 + 0.5)), exact integer dot products,
# identical shortlist and rescore rank orders.
ORACLES_EXT["quantized_topk"] = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    qz AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
    qq AS (SELECT vec_id, e,
                  CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(e, x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT))
                  END AS q
           FROM qz),
    qn AS (SELECT vec_id, e, q,
                  sqrt(CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)) AS qnrm
           FROM qq),
    c AS (SELECT * FROM qn WHERE qnrm > 0),
    qy AS (SELECT * FROM qn WHERE qnrm > 0 AND vec_id < 20),
    scored AS (
      SELECT qy.vec_id AS query_id, c.vec_id AS neighbor_id, qy.e AS qe, c.e AS ce,
             round(CAST(list_dot_product(qy.q, c.q) AS DOUBLE) / (qy.qnrm * c.qnrm), 6)
               AS approx_sim
      FROM c, qy WHERE c.vec_id <> qy.vec_id),
    short AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_sim DESC, neighbor_id) AS srank
      FROM scored),
    resc AS (
      SELECT query_id, neighbor_id, approx_sim,
             round(list_cosine_similarity(qe, ce), 6) AS cosine_sim
      FROM short WHERE srank <= 20),
    ranked AS (
      SELECT query_id, neighbor_id, approx_sim, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM resc)
    SELECT query_id, neighbor_id, approx_sim, cosine_sim, rank FROM ranked WHERE rank <= 5
"""

# FULL twin of q_inverted_index: identical (token, doc) tf table, then
# postings as "doc:tf" in doc order (doc_id is unique per token, so
# Spark's array_sort(struct(doc_id, tf)) == ORDER BY doc_id).
ORACLES_EXT["inverted_index"] = f"""
    WITH tf AS (
      SELECT token, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
      GROUP BY 1, 2)
    SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
           CAST(sum(tf) AS BIGINT) AS coll_freq,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY token
"""

# FULL twin of q_source_overlap_report: distinct (source, word-3-gram
# shingle) pairs, pairwise shared counts, Jaccard of the shingle sets.
ORACLES_EXT["source_overlap_report"] = f"""
    WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
    fp AS (SELECT DISTINCT source, fp FROM (
             SELECT source,
                    unnest(list_transform(range(1, len(t) - 1),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS fp
             FROM toks)),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY source),
    shared AS (SELECT a.source AS source_a, b.source AS source_b,
                      CAST(count(*) AS BIGINT) AS n_shared
               FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
               GROUP BY 1, 2)
    SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_shared,
           floor(n_shared / (sa.n + sb.n - n_shared) * 1000000 + 0.5) / 1000000.0 AS jaccard
    FROM shared JOIN sizes sa ON sa.source = source_a
                JOIN sizes sb ON sb.source = source_b
"""

# FULL twin of q_containment_pairs: same word-3-gram shingles as the
# Jaccard oracle; pair selection on the symmetric overlap coefficient
# |∩| / min(|A|, |B|), with both directed Broder containments emitted.
ORACLES_EXT["containment_pairs"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id,
                    unnest(list_transform(range(1, len(t) - 1),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
             FROM toks)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b, n_common,
           floor(n_common / sa.n * 1000000 + 0.5) / 1000000.0 AS containment_a,
           floor(n_common / sb.n * 1000000 + 0.5) / 1000000.0 AS containment_b,
           floor(n_common / least(sa.n, sb.n) * 1000000 + 0.5) / 1000000.0 AS overlap_coef
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE floor(n_common / least(sa.n, sb.n) * 1000000 + 0.5) / 1000000.0 >= 0.6
"""

# FULL twin of q_semantic_dedup (similarity.semantic_dedup): md5-anchor
# Voronoi cells exactly as in the anchor-IVF oracle, then a vector is
# dropped iff a LOWER-id cell-mate has 6-dp-rounded cosine >= 0.9.
ORACLES_EXT["semantic_dedup"] = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    anchors AS (
      SELECT av, rn - 1 AS ci FROM (
        SELECT CAST(embedding AS DOUBLE[]) AS av,
               row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings)
      WHERE rn <= 16),
    cass AS (
      SELECT vec_id, e, ci AS cell FROM (
        SELECT v.vec_id, v.e, a.ci,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY CAST(floor(list_reduce(
                                    list_transform(range(1, len(v.e) + 1),
                                      i -> (v.e[i] - a.av[i]) * (v.e[i] - a.av[i])),
                                    (acc, x) -> acc + x) * 1000000000 + 0.5) AS BIGINT),
                                  a.ci) AS rn
        FROM v CROSS JOIN anchors a)
      WHERE rn = 1),
    dups AS (
      SELECT b.vec_id, count(*) AS n_near
      FROM cass a JOIN cass b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.9
      GROUP BY b.vec_id)
    SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
           CAST(coalesce(d.n_near, 0) AS BIGINT) AS n_near_dups,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_kept
    FROM cass c LEFT JOIN dups d ON c.vec_id = d.vec_id
"""

# FULL twin of q_bigram_collocations: identical count tables and the
# identical division/multiplication tree for lift (no ln/exp — see
# text.bigram_collocations).
ORACLES_EXT["bigram_collocations"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(t)),
                  i -> {{'a': t[i], 'b': t[i+1]}})) AS p
           FROM toks WHERE len(t) >= 2),
    pairs AS (SELECT p.a AS tok_a, p.b AS tok_b, count(*) AS n_pair
              FROM bg GROUP BY 1, 2),
    uni AS (SELECT tok, count(*) AS n_tok
            FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
    tot AS (SELECT (SELECT sum(n_pair) FROM pairs) AS m,
                   (SELECT sum(n_tok) FROM uni) AS n)
    SELECT tok_a, tok_b, n_pair, ua.n_tok AS n_a, ub.n_tok AS n_b,
           floor((n_pair / m) / ((ua.n_tok / n) * (ub.n_tok / n))
                 * 1000000 + 0.5) / 1000000.0 AS lift
    FROM pairs
    JOIN uni ua ON ua.tok = tok_a
    JOIN uni ub ON ub.tok = tok_b
    CROSS JOIN tot
    ORDER BY n_pair DESC, tok_a, tok_b
    LIMIT 50
"""

# FULL twin of q_seq_length_histogram: integer width-32 buckets of the
# per-doc whitespace token count, token share + cumulative share.
ORACLES_EXT["seq_length_histogram"] = f"""
    WITH t AS (SELECT CAST(len({_TOKS}) AS BIGINT) AS n FROM documents),
    b AS (SELECT n - n % 32 AS bucket_start,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n) AS BIGINT) AS n_tokens
          FROM t GROUP BY 1),
    tot AS (SELECT sum(n_tokens) AS tt FROM b)
    SELECT bucket_start, n_docs, n_tokens,
           floor(n_tokens / tt * 1000000 + 0.5) / 1000000.0 AS token_share,
           floor(sum(n_tokens) OVER (ORDER BY bucket_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / tt * 1000000 + 0.5) / 1000000.0 AS cum_token_share
    FROM b CROSS JOIN tot
"""

# FULL twin of q_rolling_active_users: distinct (day, user) pairs, the
# same 7-day range self-join onto the day grid, distinct counts.
ORACLES_EXT["rolling_active_users"] = """
    WITH du AS (SELECT DISTINCT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                                user_id
                FROM events),
    days AS (SELECT DISTINCT day FROM du),
    hits AS (SELECT g.day AS gday, a.user_id
             FROM days g JOIN du a ON a.day <= g.day AND a.day >= g.day - 6),
    rolling AS (SELECT gday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
                FROM hits GROUP BY gday),
    daily AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_1d
              FROM du GROUP BY day)
    SELECT rolling.day AS day_idx, daily.active_1d, rolling.active_7d
    FROM rolling JOIN daily ON rolling.day = daily.day
"""

# FULL twin of q_events_ohlc_bars: arg_min/arg_max on the same
# zero-padded (us, event_id) string key; rounding applied in the same places.
ORACLES_EXT["events_ohlc_bars"] = """
    WITH e AS (SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_idx,
                      event_type, value, epoch_us(ts) AS us, event_id
               FROM events)
    SELECT day_idx, event_type,
           round(arg_min(value, lpad(CAST(us AS VARCHAR), 20, '0') || ':' || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(arg_max(value, lpad(CAST(us AS VARCHAR), 20, '0') || ':' || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4) AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM e GROUP BY day_idx, event_type
"""

# FULL twin of q_events_twap: identical lead-gap weights over the
# (us, event_id) order; identical weighted-sum / total-gap tree.
ORACLES_EXT["events_twap"] = """
    WITH e AS (SELECT event_type, value, epoch_us(ts) AS us, event_id,
                      CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_idx
               FROM events),
    g AS (SELECT *, lead(us) OVER (PARTITION BY event_type, day_idx
                                   ORDER BY us, event_id) - us AS dt
          FROM e)
    SELECT day_idx, event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dt) AS BIGINT) AS total_us,
           round(sum(value * dt) / sum(dt), 4) AS twap
    FROM g WHERE dt IS NOT NULL
    GROUP BY day_idx, event_type
"""

# FULL twin of q_gini_by_status: ascending rank with orderkey
# tie-break, identical Gini expression tree.
ORACLES_EXT["gini_by_status"] = """
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS i
      FROM orders)
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(2 * sum(i * o_totalprice) / (count(*) * sum(o_totalprice))
                 - (count(*) + 1) / count(*), 6) AS gini
    FROM ranked GROUP BY o_orderstatus
"""

# FULL twin of q_session_paths: same 30-min gap sessionization (the
# events_sessionize CTE chain), first-3 path via ORDER BY inside
# list(), same top-k order.
ORACLES_EXT["session_paths"] = """
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
    flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lagd),
    sess AS (SELECT *, CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM flagged),
    paths AS (SELECT user_id, session_id,
                     array_to_string(list_slice(list(event_type ORDER BY us, event_id), 1, 3), '>') AS path
              FROM sess GROUP BY user_id, session_id)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
"""

# FULL twin of q_ab_experiment_report: identical md5 traffic split.
ORACLES_EXT["ab_experiment_report"] = """
    SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) < '8'
                THEN 'A' ELSE 'B' END AS bucket,
           event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value,
           floor(count(*) / count(DISTINCT user_id) * 1000000 + 0.5) / 1000000.0
             AS events_per_user
    FROM events GROUP BY 1, 2
"""

# FULL twin of q_chi2_type_by_dow: same integer dow derivation
# ((epoch_day + 4) % 7), same marginal/expected/contribution trees.
ORACLES_EXT["chi2_type_by_dow"] = """
    WITH cells AS (
      SELECT event_type,
             CAST((floor(epoch_us(ts) / 86400000000) + 4) % 7 AS INTEGER) AS dow,
             CAST(count(*) AS BIGINT) AS observed
      FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(observed) AS r FROM cells GROUP BY event_type),
    ct AS (SELECT dow, sum(observed) AS c FROM cells GROUP BY dow),
    n AS (SELECT sum(observed) AS n FROM cells)
    SELECT cells.event_type, cells.dow, cells.observed,
           round(r * c / n, 6) AS expected,
           round((observed - r * c / n) * (observed - r * c / n) / (r * c / n), 6)
             AS chi2_contrib
    FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
"""

# FULL twin of q_curation_decision: the verified repetition_stats and
# quality_scores CTE bodies composed, then the identical CASE cascade
# on the 6-dp-rounded features.
ORACLES_EXT["curation_decision"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    pt AS (SELECT doc_id, token, count(*) AS tc FROM tok GROUP BY 1, 2),
    rep AS (SELECT doc_id,
                   floor(CAST(max(tc) AS BIGINT) / CAST(sum(tc) AS BIGINT)
                         * 1000000 + 0.5) / 1000000.0 AS top_token_ratio
            FROM pt GROUP BY doc_id),
    q AS (SELECT doc_id, n_chars,
                 floor((
                   (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END)
                   * (0.5 + 0.5 * (len(list_distinct(toks)) / nullif(len(toks), 0)))
                   - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                           / greatest(length(text), 1) * 5, 0.5)
                 ) * 1000000 + 0.5) / 1000000.0 AS quality
          FROM (SELECT doc_id, text, n_chars, {_TOKS} AS toks FROM documents)),
    j AS (SELECT q.doc_id, q.n_chars, q.quality, rep.top_token_ratio
          FROM q JOIN rep ON q.doc_id = rep.doc_id),
    d AS (SELECT *,
                 CASE WHEN n_chars < 100 THEN 'too_short'
                      WHEN n_chars > 10000 THEN 'too_long'
                      WHEN top_token_ratio >= 0.2 THEN 'high_repetition'
                      WHEN quality < 0.5 THEN 'low_quality'
                      ELSE 'keep' END AS decision
          FROM j)
    SELECT doc_id, n_chars, quality, top_token_ratio, decision,
           CAST(CASE WHEN decision = 'keep' THEN 1 ELSE 0 END AS INTEGER) AS is_kept
    FROM d
"""

# FULL twin of q_exact_quartiles_by_status: nearest-rank quantiles
# (rank == ceil(q*n)) over the same (price, orderkey) order.
ORACLES_EXT["exact_quartiles_by_status"] = """
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
      FROM orders)
    SELECT o_orderstatus, max(n) AS n_orders,
           max(CASE WHEN rn = ceil(0.25 * n) THEN o_totalprice END) AS p25,
           max(CASE WHEN rn = ceil(0.5 * n) THEN o_totalprice END) AS p50,
           max(CASE WHEN rn = ceil(0.75 * n) THEN o_totalprice END) AS p75,
           round(max(CASE WHEN rn = ceil(0.75 * n) THEN o_totalprice END)
                 - max(CASE WHEN rn = ceil(0.25 * n) THEN o_totalprice END), 2) AS iqr
    FROM ranked GROUP BY o_orderstatus
"""

# FULL twin of q_session_basket_lift: same sessionization CTE chain,
# per-session distinct type sets, in-list pair generation, identical
# lift tree over the one-row session total.
ORACLES_EXT["session_basket_lift"] = """
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
    flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s FROM lagd),
    sess AS (SELECT *, CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM flagged),
    st AS (SELECT DISTINCT user_id, sid, event_type FROM sess),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (SELECT DISTINCT user_id, sid FROM st)),
    tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS tn FROM st GROUP BY event_type),
    ps AS (SELECT user_id, sid, list_sort(list(event_type)) AS types FROM st GROUP BY user_id, sid),
    pr AS (SELECT unnest(flatten(list_transform(types, (a, i) ->
             list_transform(list_slice(types, i + 1, len(types)), b ->
               {'type_a': a, 'type_b': b})))) AS p
           FROM ps),
    pc AS (SELECT p.type_a AS type_a, p.type_b AS type_b, CAST(count(*) AS BIGINT) AS n_both
           FROM pr GROUP BY 1, 2)
    SELECT pc.type_a, pc.type_b, pc.n_both, ta.tn AS n_a, tb.tn AS n_b,
           floor((pc.n_both / ns.n) / ((ta.tn / ns.n) * (tb.tn / ns.n))
                 * 1000000 + 0.5) / 1000000.0 AS lift
    FROM pc JOIN tc ta ON ta.event_type = pc.type_a
            JOIN tc tb ON tb.event_type = pc.type_b
            CROSS JOIN ns
"""

# FULL twin of q_knn_label_vote: the embedding_topk oracle pipeline at
# vec_id < 50, label-joined, identical (votes desc, label asc) vote.
ORACLES_EXT["knn_label_vote"] = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings),
    scored AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
               FROM q, c WHERE neighbor_id <> query_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
               FROM scored),
    nn AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
    votes AS (SELECT nn.query_id, c.label, CAST(count(*) AS BIGINT) AS n_votes
              FROM nn JOIN c ON c.neighbor_id = nn.neighbor_id
              GROUP BY 1, 2),
    pred AS (SELECT query_id, label AS pred_label, n_votes FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY n_votes DESC, label) AS r
               FROM votes) WHERE r = 1)
    SELECT p.query_id, t.label AS true_label, p.pred_label, p.n_votes,
           CAST(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END AS INTEGER) AS is_correct
    FROM pred p JOIN (SELECT vec_id AS query_id, label FROM embeddings) t USING (query_id)
"""

# FULL twin of q_lang_confusion_matrix: the verified lang_id CTE body,
# aggregated to (true, pred) cells with row shares.
ORACLES_EXT["lang_confusion_matrix"] = f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','ein'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['the','a','of','and','to','is'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['el','la','los','de','que','es'], t))) AS s_es,
             len(list_filter(toks, t -> list_contains(['le','la','les','et','est','une'], t))) AS s_fr
      FROM (SELECT doc_id, lang, text, {{_TOKS}} AS toks FROM documents)
    ),
    pred AS (
      SELECT lang AS true_lang,
             CASE WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 THEN 'zh'
                  WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM scored),
    cells AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
              FROM pred GROUP BY 1, 2),
    rt AS (SELECT true_lang, sum(n_docs) AS r FROM cells GROUP BY true_lang)
    SELECT cells.true_lang, cells.pred_lang, cells.n_docs,
           floor(cells.n_docs / rt.r * 1000000 + 0.5) / 1000000.0 AS row_share
    FROM cells JOIN rt USING (true_lang)
"""
ORACLES_EXT["lang_confusion_matrix"] = ORACLES_EXT["lang_confusion_matrix"].replace("{_TOKS}", _TOKS)

# FULL twin of q_pit_priority_revenue: the scd2_priority_history
# window recurrence, the same half-open interval predicate, the same
# decimal revenue roll-up.
ORACLES_EXT["pit_priority_revenue"] = """
    WITH hist AS (
      SELECT o_custkey AS h_custkey, o_orderpriority AS pit_priority,
             o_orderdate AS effective_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS effective_to
      FROM orders),
    li AS (SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    j AS (SELECT h.pit_priority, li.l_extendedprice
          FROM li JOIN hist h
            ON li.o_custkey = h.h_custkey
           AND li.l_shipdate >= h.effective_from
           AND (h.effective_to IS NULL OR li.l_shipdate < h.effective_to))
    SELECT pit_priority, CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM j GROUP BY pit_priority
"""

# FULL twin of q_time_travel_agg: reconstruct both committed snapshot
# states (v1 = even keys; v2 = v1 minus updated keys, plus the update
# batch) and aggregate them side by side.
ORACLES_EXT["time_travel_agg"] = """
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
    upd AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
            FROM orders WHERE o_orderkey % 4 <= 1),
    v2 AS (SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
           UNION ALL SELECT * FROM upd)
    SELECT CAST(1 AS INTEGER) AS version, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
    FROM base
    UNION ALL
    SELECT CAST(2 AS INTEGER), count(*), CAST(sum(o_orderkey) AS BIGINT),
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
    FROM v2
"""

# FULL twin of q_events_ewma: same ordered value list, same rounded
# fold (DuckDB list_reduce seeds with the first element, matching the
# Spark aggregate's explicit seed + tail slice).
ORACLES_EXT["events_ewma"] = """
    WITH l AS (
      SELECT user_id,
             list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id) AS vals
      FROM events GROUP BY user_id)
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
           floor(list_reduce(vals, (acc, x) ->
                   floor((acc * 0.75 + x * 0.25) * 1000000000 + 0.5) / 1000000000.0)
                 * 1000000 + 0.5) / 1000000.0 AS ewma_value
    FROM l
"""

# FULL twin of q_k_anonymity_report.
ORACLES_EXT["k_anonymity_report"] = """
    WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS class_size
                   FROM documents GROUP BY 1, 2),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT source, lang, class_size,
           CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS INTEGER) AS violates_k5,
           floor(class_size / n.n * 1000000 + 0.5) / 1000000.0 AS corpus_share
    FROM cells, n
"""

# FULL twin of q_traffic_seasonality: integer epoch dow/hour.
ORACLES_EXT["traffic_seasonality"] = """
    WITH cells AS (
      SELECT CAST((floor(epoch_us(ts) / 86400000000) + 4) % 7 AS INTEGER) AS dow,
             CAST(floor(epoch_us(ts) / 3600000000) % 24 AS INTEGER) AS hour,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    t AS (SELECT sum(n_events) AS t FROM cells)
    SELECT dow, hour, n_events,
           floor(n_events / t.t * 1000000 + 0.5) / 1000000.0 AS share
    FROM cells, t
"""

# FULL twin of q_supplier_hhi: identical decimal revenue sums, share
# and squared-share trees (sum-order noise ~1e-13 relative, rounded at
# 4 dp — the TWAP/Gini tolerance class, sf0.1-proven).
ORACLES_EXT["supplier_hhi"] = """
    WITH rev AS (
      SELECT n.n_name,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name, l.l_suppkey),
    nt AS (SELECT n_name, sum(rev) AS nt FROM rev GROUP BY n_name),
    sh AS (SELECT rev.n_name, rev.rev / nt.nt * 100 AS sh
           FROM rev JOIN nt ON rev.n_name = nt.n_name)
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           floor(sum(sh * sh) * 10000 + 0.5) / 10000.0 AS hhi,
           floor(max(sh) * 10000 + 0.5) / 10000.0 AS top_share_pct
    FROM sh GROUP BY n_name
"""

# FULL twin of q_vocab_growth_curve: token first-doc table + per-doc
# token counts, ten threshold aggregates.
ORACLES_EXT["vocab_growth_curve"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    fd AS (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token),
    dt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    mx AS (SELECT max(doc_id) AS m FROM documents),
    th AS (SELECT CAST(p * 10 AS INTEGER) AS pct,
                  CAST(floor(mx.m * (p * 10) / 100) AS BIGINT) AS thr
           FROM (SELECT unnest(range(1, 11)) AS p), mx)
    SELECT th.pct,
           CAST(coalesce((SELECT sum(n) FROM dt WHERE dt.doc_id <= th.thr), 0) AS BIGINT) AS n_tokens,
           CAST((SELECT count(*) FROM fd WHERE fd.first_doc <= th.thr) AS BIGINT) AS vocab_size
    FROM th
"""

# FULL twin of q_perplexity_proxy: the rounded-fold determinism trick
# (events_ewma class) applied to the unigram LM. Per-token surprisal is
# snapped to an exact BIGINT nano-nat grid (floor(-ln(tf/total)·1e9 +
# 0.5)) so the per-doc sum is order-independent integer arithmetic; the
# per-doc mean is rounded at 6 dp (absorbing any ±1 nano-nat ulp flip
# of ln), and exp runs on the already-rounded mean, snapped at 2 dp —
# the same expression tree Spark builds in text.unigram_surprisal.
ORACLES_EXT["perplexity_proxy"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    lm AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM lm),
    s AS (SELECT token, CAST(floor(-ln(tf / tot.total) * 1000000000 + 0.5) AS BIGINT) AS s9
          FROM lm, tot),
    d AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(s.s9) AS BIGINT) AS ssum
          FROM tok t JOIN s USING (token) GROUP BY t.doc_id)
    SELECT doc_id, n_tokens,
           floor(CAST(ssum AS DOUBLE) / (n_tokens * 1000000000.0) * 1000000 + 0.5)
             / 1000000.0 AS mean_surprisal_nats,
           floor(exp(floor(CAST(ssum AS DOUBLE) / (n_tokens * 1000000000.0) * 1000000 + 0.5)
                     / 1000000.0) * 100 + 0.5) / 100.0 AS ppl_proxy
    FROM d
"""
