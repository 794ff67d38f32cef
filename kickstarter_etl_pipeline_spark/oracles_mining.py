"""DuckDB oracle twins for the round-6 mining queries
(operators/mining_queries.py). Same determinism discipline as every
other oracle module: exact integer/decimal aggregation, fixed-grid
transcendentals, (value, id) total orders.
"""

from kickstarter_etl_pipeline_spark.constants import WEDGE_DEGREE_CAP
from kickstarter_etl_pipeline_spark.oracles_core import _TOKS
from kickstarter_etl_pipeline_spark.oracles_graph_common import cooccurrence_edge_ctes

ORACLES_MINING: dict[str, str] = {}

# FULL twin of q_duplicate_ngram_spans: positional (non-distinct) token
# 8-grams; DuckDB range(1, n) is end-EXCLUSIVE = Spark sequence(1, n-1),
# and t[i:i+7] is an inclusive 8-element slice = Spark slice(t, i, 8).
ORACLES_MINING["duplicate_ngram_spans"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pos AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 6),
                          i -> array_to_string(t[i:i+7], ' '))) AS gram
            FROM toks WHERE len(t) >= 8),
    gc AS (SELECT gram, count(*) AS n_occ FROM pos GROUP BY gram),
    pd AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_positions,
                  CAST(sum(CASE WHEN g.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
           FROM pos p JOIN gc g USING (gram) GROUP BY p.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(pd.n_positions, 0) AS BIGINT) AS n_positions,
           CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_positions,
           floor(pd.n_dup / pd.n_positions * 1000000 + 0.5) / 1000000.0 AS dup_ratio
    FROM documents d LEFT JOIN pd USING (doc_id)
"""

# FULL twin of q_zipf_slope: micro-nat integer grids for ln(rank) /
# ln(freq), exact BIGINT OLS sums, IEEE double combination.
ORACLES_MINING["zipf_slope"] = f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
    tf AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    top AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank
            FROM tf ORDER BY n DESC, token LIMIT 1000),
    g AS (SELECT CAST(floor(ln(rank) * 1000000 + 0.5) AS BIGINT) AS x6,
                 CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT) AS y6
          FROM top),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
                 CAST(sum(x6 * y6) AS BIGINT) AS sxy,
                 CAST(sum(x6 * x6) AS BIGINT) AS sxx
          FROM g)
    SELECT n AS n_tokens,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 AS zipf_slope,
           floor((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * 1000000.0) * 1000000 + 0.5) / 1000000.0
             AS zipf_intercept
    FROM s
"""

# FULL twin of q_l_diversity_report.
ORACLES_MINING["l_diversity_report"] = """
    WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
                   FROM documents GROUP BY 1, 2)
    SELECT source, CAST(sum(n) AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS n_langs,
           CAST(CASE WHEN count(*) < 3 THEN 1 ELSE 0 END AS INTEGER) AS violates_l3,
           floor(max(n) / sum(n) * 1000000 + 0.5) / 1000000.0 AS top_lang_share
    FROM cells GROUP BY source
"""

# FULL twin of q_quality_percentile_filter: same quality expression as
# the quality_scores oracle, rank-based 80% cutoff (integer arithmetic,
# no percent_rank n=1 edge), DECIMAL(18,6) mean path.
ORACLES_MINING["quality_percentile_filter"] = f"""
    WITH scored AS (
      SELECT doc_id, source,
             floor((
               (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END)
               * (0.5 + 0.5 * (len(list_distinct(toks)) / nullif(len(toks), 0)))
               - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                       / greatest(length(text), 1) * 5, 0.5)
             ) * 1000000 + 0.5) / 1000000.0 AS quality
      FROM (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents)),
    ranked AS (SELECT *,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY quality DESC, doc_id) AS rk,
                      count(*) OVER (PARTITION BY source) AS n
               FROM scored),
    k AS (SELECT *, CASE WHEN rk <= ceil(n * 0.8) THEN 1 ELSE 0 END AS kept FROM ranked)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           min(CASE WHEN kept = 1 THEN quality END) AS min_kept_quality,
           floor(CAST(sum(CASE WHEN kept = 1 THEN CAST(quality AS DECIMAL(18,6))
                               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / sum(kept) * 1000000 + 0.5) / 1000000.0 AS mean_kept_quality
    FROM k GROUP BY source
"""

# FULL twin of q_session_bounce_rate: the events_sessionize
# gaps-and-islands construction + first-event-of-session entry type.
ORACLES_MINING["session_bounce_rate"] = """
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
             FROM e),
    flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
                               THEN 1 ELSE 0 END AS new_s
                FROM lagd),
    sess AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             FROM flagged),
    fe AS (SELECT user_id, session_id, event_type,
                  row_number() OVER (PARTITION BY user_id, session_id
                                     ORDER BY us, event_id) AS rn,
                  count(*) OVER (PARTITION BY user_id, session_id) AS n_events
           FROM sess),
    per AS (SELECT event_type AS entry_type, n_events FROM fe WHERE rn = 1)
    SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           floor(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) / count(*)
                 * 1000000 + 0.5) / 1000000.0 AS bounce_rate,
           floor(sum(n_events) / count(*) * 1000000 + 0.5) / 1000000.0 AS mean_depth
    FROM per GROUP BY entry_type
"""

# FULL twin of q_graph_link_prediction: occupancy-capped 10-min error
# co-occurrence edges (oracles_graph_common — bucket width is the
# sparsity knob, the cap the hard bound), wedge join over neighbors
# with degree <= WEDGE_DEGREE_CAP (mirrors
# graph.common_neighbor_link_prediction's round-11 cap; Jaccard keeps
# FULL endpoint degrees), anti-join against existing edges, 6-dp grid.
ORACLES_MINING["graph_link_prediction"] = f"""
    WITH {cooccurrence_edge_ctes(600000000, nodes="nodes", edges="edges")},
    adj AS (SELECT u AS a, v AS n FROM edges UNION ALL SELECT v AS a, u AS n FROM edges),
    deg AS (SELECT a, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY a),
    adjc AS (SELECT adj.a, adj.n FROM adj
             JOIN deg dz ON dz.a = adj.n AND dz.degree <= {WEDGE_DEGREE_CAP}),
    wedge AS (SELECT x.a AS u, y.a AS v, CAST(count(*) AS BIGINT) AS n_common
              FROM adjc x JOIN adjc y ON x.n = y.n AND x.a < y.a
              GROUP BY 1, 2 HAVING count(*) >= 2),
    nonadj AS (SELECT w.u, w.v, w.n_common FROM wedge w
               ANTI JOIN edges e ON w.u = e.u AND w.v = e.v),
    scored AS (SELECT na.u, na.v, na.n_common,
                      floor(na.n_common / (du.degree + dv.degree - na.n_common)
                            * 1000000 + 0.5) / 1000000.0 AS jaccard_score
               FROM nonadj na
               JOIN deg du ON du.a = na.u
               JOIN deg dv ON dv.a = na.v)
    SELECT CAST(row_number() OVER (ORDER BY jaccard_score DESC, u, v) AS INTEGER) AS rank,
           u, v, n_common, jaccard_score
    FROM scored ORDER BY jaccard_score DESC, u, v LIMIT 100
"""

# FULL twin of q_minhash_jaccard_estimate: md5-permutation signatures
# replayed verbatim (string mins are byte-lexicographic in both
# engines); exact Jaccard replays the ngram_jaccard_pairs tree; the
# estimate divides an exact slot-agreement count by 16 (a power of two,
# so the division is exact binary arithmetic).
ORACLES_MINING["minhash_jaccard_estimate"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shl AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, len(t) - 1),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS sh
            FROM toks WHERE len(t) >= 3),
    sig AS (SELECT doc_id,
                   list_transform(range(0, 16), i ->
                     list_min(list_transform(sh, s -> md5(i::VARCHAR || ':' || s)))) AS sg
            FROM shl WHERE len(sh) > 0),
    shx AS (SELECT doc_id, unnest(sh) AS s FROM shl),
    sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jac AS (SELECT id_a, id_b,
                   floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5)
                     / 1000000.0 AS j
            FROM pairs
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b),
    est AS (SELECT jac.id_a, jac.id_b, jac.j,
                   floor(list_sum(list_transform(range(1, 17),
                           i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END))
                         / 16.0 * 1000000 + 0.5) / 1000000.0 AS e
            FROM jac
            JOIN sig a ON a.doc_id = jac.id_a
            JOIN sig b ON b.doc_id = jac.id_b
            WHERE jac.j >= 0.3)
    SELECT id_a, id_b, j AS exact_jaccard, e AS est_jaccard,
           floor(abs(e - j) * 1000000 + 0.5) / 1000000.0 AS abs_err
    FROM est
"""

# FULL twin of q_bloom_prefiltered_join: the bloom prefilter is
# result-transparent (false positives are removed by the exact join),
# so the oracle is the PLAIN join — that transparency is the property
# under test.
ORACLES_MINING["bloom_prefiltered_join"] = """
    SELECT p.p_type, CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#12'
    GROUP BY p.p_type
"""

# FULL twin of q_events_stream_dedup: within-watermark streaming dedup
# on a finite ordered fixture equals the batch DISTINCT rollup.
ORACLES_MINING["events_stream_dedup"] = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_distinct_keys
    FROM (SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) FROM events)
    GROUP BY event_type
"""

# FULL twin of q_priority_weighted_sample: Efraimidis-Spirakis priority
# key ln(u)/w on a BIGINT nano-grid; u from the first 12 md5 hex digits
# (hex->int replayed via DuckDB's 0x-prefixed VARCHAR->BIGINT cast).
ORACLES_MINING["priority_weighted_sample"] = """
    WITH d AS (SELECT doc_id, source, n_chars,
                      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                           AS BIGINT) AS h
               FROM documents),
    k AS (SELECT doc_id, source, n_chars,
                 CAST(floor(ln((h + 1) / 281474976710656.0) / greatest(n_chars, 1)
                            * 1000000000 + 0.5) AS BIGINT) AS priority_key9
          FROM d),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
                         ORDER BY priority_key9 DESC, doc_id) AS INTEGER) AS rank
          FROM k)
    SELECT source, rank, doc_id, n_chars, priority_key9 FROM r WHERE rank <= 5
"""

# FULL twin of q_source_diversity_report: nano-nat entropy terms summed
# as exact integers; Simpson from exact integer sums.
ORACLES_MINING["source_diversity_report"] = """
    WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
                   FROM documents GROUP BY 1, 2),
    tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM cells GROUP BY source),
    terms AS (SELECT c.source, c.n, t.tot,
                     CAST(floor(-(c.n / t.tot) * ln(c.n / t.tot)
                                * 1000000000 + 0.5) AS BIGINT) AS t9
              FROM cells c JOIN tot t USING (source))
    SELECT source, max(tot) AS n_docs, CAST(count(*) AS BIGINT) AS n_langs,
           floor(sum(t9) / 1000000000.0 * 1000000 + 0.5) / 1000000.0
             AS shannon_entropy_nats,
           floor(CAST(sum(n * n) AS DOUBLE) / (max(tot) * max(tot))
                 * 1000000 + 0.5) / 1000000.0 AS simpson_index
    FROM terms GROUP BY source
"""

# FULL twin of q_events_cusum_drift: prefix-sum formulation of the
# clamped CUSUM fold (s_t = P_t - min(0, running-min P)), increments on
# a BIGINT nano-grid; mu/sigma from exact integer window sums (sqrt is
# IEEE-correctly-rounded, hence engine-identical).
ORACLES_MINING["events_cusum_drift"] = """
    WITH daily AS (SELECT event_type,
                          CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
                          CAST(count(*) AS BIGINT) AS x
                   FROM events GROUP BY 1, 2),
    st AS (SELECT *,
                  CAST(sum(x) OVER (PARTITION BY event_type) AS DOUBLE)
                    / count(*) OVER (PARTITION BY event_type) AS mu,
                  sqrt(CAST(sum(x * x) OVER (PARTITION BY event_type) AS DOUBLE)
                         / count(*) OVER (PARTITION BY event_type)
                       - (CAST(sum(x) OVER (PARTITION BY event_type) AS DOUBLE)
                            / count(*) OVER (PARTITION BY event_type))
                         * (CAST(sum(x) OVER (PARTITION BY event_type) AS DOUBLE)
                              / count(*) OVER (PARTITION BY event_type))) AS sigma
           FROM daily),
    d9 AS (SELECT *, CAST(floor((x - mu - sigma / 2) * 1000000000 + 0.5) AS BIGINT) AS dd
           FROM st),
    cumt AS (SELECT *, sum(dd) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
             FROM d9),
    s AS (SELECT *, p - least(CAST(0 AS BIGINT),
                              min(p) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sv
          FROM cumt)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           floor(max(mu) * 1000000 + 0.5) / 1000000.0 AS mean_daily,
           floor(max(sigma) * 1000000 + 0.5) / 1000000.0 AS sigma_daily,
           floor(max(sv) / 1000000000.0 * 1000000 + 0.5) / 1000000.0 AS max_cusum,
           floor(arg_max(sv, day) / 1000000000.0 * 1000000 + 0.5) / 1000000.0
             AS end_cusum
    FROM s GROUP BY event_type
"""

# FULL twin of q_bpe_merge_candidates.
ORACLES_MINING["bpe_merge_candidates"] = f"""
    WITH words AS (SELECT unnest({_TOKS}) AS w FROM documents),
    pairs AS (SELECT unnest(list_transform(range(1, length(w)),
                     i -> substr(w, i, 2))) AS pair
              FROM words WHERE length(w) >= 2),
    counts AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
               FROM pairs GROUP BY pair),
    top AS (SELECT *, CAST(row_number() OVER (
                  ORDER BY n_occurrences DESC, pair) AS INTEGER) AS rank
            FROM counts ORDER BY n_occurrences DESC, pair LIMIT 50)
    SELECT rank, pair, n_occurrences FROM top
"""

# FULL twin of q_hard_negative_mining: embedding_topk's scoring shape
# with a label-inequality predicate.
ORACLES_MINING["hard_negative_mining"] = """
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, label AS neighbor_label,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    scored AS (SELECT query_id, neighbor_id, neighbor_label,
                      round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
               FROM q, c
               WHERE neighbor_id <> query_id AND neighbor_label <> qlabel),
    ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER) AS rank
               FROM scored)
    SELECT query_id, rank, neighbor_id, neighbor_label, cosine_sim
    FROM ranked WHERE rank <= 3
"""

# FULL twin of q_table_diff_report: identical v1/v2 construction,
# identical md5-derived 60-bit row hash (DECIMAL(18,2)->VARCHAR price
# rendering agreed by both engines), bit_xor checksums.
ORACLES_MINING["table_diff_report"] = """
    WITH o AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
               FROM orders),
    v1 AS (SELECT * FROM o WHERE o_orderkey % 2 = 0),
    v2 AS (SELECT o_orderkey,
                  CAST(CASE WHEN o_orderkey % 4 = 0 THEN price + 1000
                            ELSE price END AS DECIMAL(18,2)) AS price
           FROM v1 WHERE o_orderkey % 8 <> 6
           UNION ALL
           SELECT o_orderkey, price FROM o WHERE o_orderkey % 4 = 1),
    a AS (SELECT o_orderkey % 16 AS bucket, o_orderkey AS k, price AS p1,
                 CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS VARCHAR),
                      ':', CAST(price AS VARCHAR))), 1, 15)) AS BIGINT) AS h1
          FROM v1),
    b AS (SELECT o_orderkey % 16 AS bucket, o_orderkey AS k, price AS p2,
                 CAST(concat('0x', substr(md5(concat(CAST(o_orderkey AS VARCHAR),
                      ':', CAST(price AS VARCHAR))), 1, 15)) AS BIGINT) AS h2
          FROM v2),
    j AS (SELECT coalesce(a.bucket, b.bucket) AS bucket, a.p1, b.p2, a.h1, b.h2
          FROM a FULL OUTER JOIN b ON a.bucket = b.bucket AND a.k = b.k)
    SELECT bucket,
           CAST(sum(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
           CAST(sum(CASE WHEN p2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
           CAST(sum(CASE WHEN p2 IS NULL AND p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           CAST(sum(CASE WHEN p1 IS NULL AND p2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
           CAST(sum(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p1 <> p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
           CAST(sum(CASE WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p1 = p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
           bit_xor(h1) AS checksum_v1,
           bit_xor(h2) AS checksum_v2
    FROM j GROUP BY bucket
"""

# Tolerance-contract twin of q_sketch_accuracy_report: the exact
# columns replay in SQL; the booleans are pinned TRUE — the oracle
# GRADES the sketches' accuracy contract (a sketch regression out of
# the ±5% band flips the driver grade), while the raw estimates stay
# rows-only elsewhere (engine-specific by nature).
ORACLES_MINING["sketch_accuracy_report"] = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users,
           floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000.0 AS exact_p50_value,
           CAST(1 AS INTEGER) AS distinct_within_10pct,
           CAST(1 AS INTEGER) AS p50_within_5pct
    FROM events GROUP BY event_type
"""

# FULL twin of q_lorenz_curve_events (round-7 rewrite: prefix-sum +
# equi-join — the original correlated non-inner join was unplannable in
# DuckDB, 'Non-inner join on correlated columns not supported').
ORACLES_MINING["lorenz_curve_events"] = """
    WITH per_user AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
                      FROM events GROUP BY user_id),
    cum AS (SELECT row_number() OVER (ORDER BY n, user_id) AS rank,
                   sum(n) OVER (ORDER BY n, user_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_events
            FROM per_user),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(n) AS BIGINT) AS n_events FROM per_user),
    d AS (SELECT CAST(unnest(range(1, 11)) AS INTEGER) AS decile),
    thr AS (SELECT d.decile,
                   CAST((t.n_users * d.decile) // 10 AS BIGINT) AS thr,
                   t.n_events
            FROM d CROSS JOIN t)
    SELECT thr.decile,
           thr.thr AS n_users_cum,
           CAST(coalesce(c.cum_events, 0) AS BIGINT) AS n_events_cum,
           floor(coalesce(c.cum_events, 0) / thr.n_events * 1000000 + 0.5)
             / 1000000.0 AS event_share
    FROM thr LEFT JOIN cum c ON c.rank = thr.thr
"""

# FULL twin of q_countmin_heavy_hitters: the md5-rowed Count-Min is a
# pure function of the data — the oracle rebuilds the identical 4x1024
# sketch and reads the same min-of-rows estimates.
ORACLES_MINING["countmin_heavy_hitters"] = f"""
    WITH freq AS (SELECT token, CAST(count(*) AS BIGINT) AS n
                  FROM (SELECT unnest({_TOKS}) AS token FROM documents)
                  GROUP BY token),
    hashed AS (
      SELECT token, n, j,
             CAST(concat('0x', substr(md5(concat(j, ':', token)), 1, 15))
                  AS BIGINT) % 1024 AS bucket
      FROM freq CROSS JOIN (SELECT unnest(range(0, 4)) AS j)),
    cells AS (SELECT j, bucket, CAST(sum(n) AS BIGINT) AS cell
              FROM hashed GROUP BY j, bucket),
    est AS (SELECT token, CAST(min(cell) AS BIGINT) AS cm_estimate
            FROM hashed JOIN cells USING (j, bucket) GROUP BY token),
    top AS (SELECT token, n,
                   CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
                     AS rank
            FROM freq ORDER BY n DESC, token LIMIT 50)
    SELECT rank, top.token, n AS true_count, cm_estimate,
           CAST(cm_estimate - n AS BIGINT) AS overestimate
    FROM top JOIN est ON est.token = top.token
"""

# FULL twin of q_hll_manual_report: md5-based HLL is deterministic end
# to end — integer register maxima, an EXACT integer harmonic spine
# (sum of 2^(54-M) as BIGINT), one fixed IEEE estimate tree with alpha
# as the identical double literal, and the linear-counting ln snapped
# to the nano-nat grid.
ORACLES_MINING["hll_manual_report"] = """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    h AS (SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS h
          FROM users),
    regs AS (SELECT h % 256 AS reg,
                    CASE WHEN (h >> 8) = 0 THEN 53
                         ELSE 53 - length(bin(h >> 8)) END AS rnk
             FROM h),
    mx AS (SELECT reg, CAST(max(rnk) AS BIGINT) AS m FROM regs GROUP BY reg),
    f AS (SELECT CAST(sum(CAST(1 AS BIGINT) << CAST(54 - m AS INTEGER)) AS BIGINT)
                   AS s_occ,
                 CAST(count(*) AS BIGINT) AS n_occ
          FROM mx),
    t AS (SELECT CAST(count(*) AS BIGINT) AS true_distinct FROM users),
    joined AS (
      SELECT true_distinct, n_occ,
             CAST(256 - n_occ AS BIGINT) AS n_empty,
             s_occ + (256 - n_occ) * (CAST(1 AS BIGINT) << 54) AS s
      FROM f CROSS JOIN t),
    scored AS (
      SELECT *,
             CAST(0.7182725932495458 AS DOUBLE) * 65536.0 * 18014398509481984.0 / s AS raw_e,
             CASE WHEN CAST(0.7182725932495458 AS DOUBLE) * 65536.0 * 18014398509481984.0 / s <= 640.0
                       AND n_empty > 0
                  THEN 256.0 * (floor(ln(256.0 / (256 - n_occ)) * 1000000000 + 0.5)
                                / 1000000000.0)
                  ELSE CAST(0.7182725932495458 AS DOUBLE) * 65536.0 * 18014398509481984.0 / s END AS est
      FROM joined)
    SELECT true_distinct,
           floor(est * 1000000 + 0.5) / 1000000.0 AS hll_estimate,
           floor((est - true_distinct) / true_distinct * 1000000 + 0.5)
             / 1000000.0 AS rel_error,
           n_occ AS n_occupied_registers,
           n_empty AS n_empty_registers
    FROM scored
"""

# FULL twin of q_bloom_fpr_report: the md5 Bloom bit set is a pure
# function of the member keys, probes are the guaranteed-absent
# max+1..max+2000 range, and a false positive is exactly "all 4 bits
# set"; the theoretical rate rides the nano-grid exp and the same
# left-associated multiply tree as the engine side.
ORACLES_MINING["bloom_fpr_report"] = """
    WITH members AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS key FROM orders),
    js AS (SELECT unnest(range(0, 4)) AS j),
    bits AS (SELECT DISTINCT
               CAST(concat('0x', substr(md5(concat(j, ':', CAST(key AS VARCHAR))), 1, 15))
                    AS BIGINT) % 65536 AS bit
             FROM members CROSS JOIN js),
    mk AS (SELECT max(key) AS maxk FROM members),
    probes AS (SELECT unnest(range(1, 2001)) + mk.maxk AS key FROM mk),
    ph AS (SELECT p.key, j,
                  CAST(concat('0x', substr(md5(concat(j, ':', CAST(p.key AS VARCHAR))), 1, 15))
                       AS BIGINT) % 65536 AS bit
           FROM probes p CROSS JOIN js),
    fp AS (SELECT key FROM ph JOIN bits USING (bit) GROUP BY key HAVING count(*) = 4),
    counts AS (SELECT
                 (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
                 (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
                 (SELECT CAST(count(*) AS BIGINT) FROM fp) AS n_false_positives)
    SELECT n_members, n_bits_set,
           CAST(2000 AS BIGINT) AS n_probes,
           n_false_positives,
           floor(n_false_positives / 2000.0 * 1000000 + 0.5) / 1000000.0
             AS measured_fp_rate,
           floor((1.0 - floor(exp(-4.0 * n_members / 65536.0) * 1000000000 + 0.5)
                        / 1000000000.0)
                 * (1.0 - floor(exp(-4.0 * n_members / 65536.0) * 1000000000 + 0.5)
                          / 1000000000.0)
                 * (1.0 - floor(exp(-4.0 * n_members / 65536.0) * 1000000000 + 0.5)
                          / 1000000000.0)
                 * (1.0 - floor(exp(-4.0 * n_members / 65536.0) * 1000000000 + 0.5)
                          / 1000000000.0)
                 * 1000000 + 0.5) / 1000000.0 AS theoretical_fp_rate
    FROM counts
"""

# FULL twin of q_t_closeness_report (round 9): ordinal-EMD t-closeness
# over the fixed 10-band length grid. Every cumulative difference is
# the exact integer cum_a·G − cum_g·A (HUGEINT here, decimal(38,0) on
# the Spark side); the t = 0.2 flag is integer cross-multiplication
# (5·Σ|D| > 9·A·G) — no float ever decides it. The only float is the
# one final reported-EMD division tree, identical on both engines.
ORACLES_MINING["t_closeness_report"] = """
    WITH banded AS (SELECT source,
                           least(CAST(floor(n_chars / 64) AS BIGINT), 9) AS band
                    FROM documents),
    bands AS (SELECT CAST(range AS BIGINT) AS band FROM range(0, 10)),
    srcs AS (SELECT DISTINCT source FROM banded),
    cls AS (SELECT source, band, CAST(count(*) AS BIGINT) AS a
            FROM banded GROUP BY source, band),
    filled AS (SELECT s.source, b.band, COALESCE(c.a, 0) AS a
               FROM srcs s CROSS JOIN bands b
               LEFT JOIN cls c ON c.source = s.source AND c.band = b.band),
    gl AS (SELECT b.band, COALESCE(g.g, 0) AS g
           FROM bands b LEFT JOIN
                (SELECT band, CAST(count(*) AS BIGINT) AS g
                 FROM banded GROUP BY band) g ON g.band = b.band),
    cum AS (SELECT source, band,
                   sum(a) OVER (PARTITION BY source ORDER BY band) AS cuma
            FROM filled),
    gcum AS (SELECT band, sum(g) OVER (ORDER BY band) AS cumg FROM gl),
    tot AS (SELECT source, CAST(count(*) AS BIGINT) AS class_size
            FROM banded GROUP BY source),
    gtot AS (SELECT CAST(count(*) AS BIGINT) AS gt FROM banded),
    d AS (SELECT c.source, class_size, gt,
                 abs(CAST(c.cuma AS HUGEINT) * gt
                     - CAST(g.cumg AS HUGEINT) * class_size) AS ad
          FROM cum c JOIN gcum g USING (band)
          JOIN tot USING (source) CROSS JOIN gtot),
    s AS (SELECT source, class_size, gt, sum(ad) AS sd
          FROM d GROUP BY source, class_size, gt)
    SELECT source, class_size,
           floor((CAST(sd AS DOUBLE)
                  / (CAST(class_size AS DOUBLE) * gt * 9.0)) * 1000000 + 0.5)
             / 1000000.0 AS emd,
           CAST(CASE WHEN sd * 5 > CAST(class_size AS HUGEINT) * gt * 9
                     THEN 1 ELSE 0 END AS INTEGER) AS violates_t02
    FROM s
"""
