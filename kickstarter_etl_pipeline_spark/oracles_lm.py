"""DuckDB oracle twins for the round-7 LM-data-prep queries
(operators/lm_queries.py). Same determinism rules as every other
ledger: exact integer counts, identical IEEE expression trees,
transcendentals snapped to integer grids before aggregation, floats
rounded on the same fixed grid as the Spark side.
"""

from kickstarter_etl_pipeline_spark.constants import (
    BENFORD_P as _BENFORD_P,
    RAKE_STOPWORDS as _RAKE_STOPS,
)
from kickstarter_etl_pipeline_spark.oracles_core import _TOKS

ORACLES_LM: dict[str, str] = {}

# FULL twin of q_scalable_rank_events: the two-phase distributed rank
# must be bit-identical to a plain global row_number over the same
# total order — that equivalence IS the correctness contract.
ORACLES_LM["scalable_rank_events"] = """
    WITH per_user AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
                      FROM events GROUP BY user_id)
    SELECT user_id, n,
           CAST(row_number() OVER (ORDER BY n, user_id) AS BIGINT) AS rank
    FROM per_user
"""

# FULL twin of q_token_coverage_topk.
ORACLES_LM["token_coverage_topk"] = f"""
    WITH freq AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
                  FROM (SELECT unnest({_TOKS}) AS token FROM documents)
                  GROUP BY token),
    t AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS total FROM freq),
    top AS (SELECT token, n_occurrences,
                   CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
                        AS INTEGER) AS rank
            FROM freq
            ORDER BY n_occurrences DESC, token LIMIT 25)
    SELECT rank, token, n_occurrences,
           CAST(sum(n_occurrences) OVER (ORDER BY rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_occurrences,
           floor(sum(n_occurrences) OVER (ORDER BY rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / t.total * 1000000 + 0.5) / 1000000.0 AS cum_share
    FROM top CROSS JOIN t
"""

# FULL twin of q_touch_attribution.
ORACLES_LM["touch_attribution"] = """
    WITH marked AS (
      SELECT event_type,
             first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_t,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_t
      FROM events),
    purchases AS (SELECT coalesce(first_t, '(none)') AS first_touch,
                         coalesce(last_t, '(none)') AS last_touch
                  FROM marked WHERE event_type = 'purchase'),
    f AS (SELECT first_touch AS channel, CAST(count(*) AS BIGINT) AS n_first_touch
          FROM purchases GROUP BY 1),
    l AS (SELECT last_touch AS channel, CAST(count(*) AS BIGINT) AS n_last_touch
          FROM purchases GROUP BY 1)
    SELECT coalesce(f.channel, l.channel) AS channel,
           CAST(coalesce(n_first_touch, 0) AS BIGINT) AS n_first_touch,
           CAST(coalesce(n_last_touch, 0) AS BIGINT) AS n_last_touch
    FROM f FULL OUTER JOIN l ON f.channel = l.channel
"""

# FULL twin of q_temperature_resample. Grid bookkeeping matches the
# Spark side symbol for symbol:
#   L = floor(ln(n/N)*1e9 + 0.5); M = floor(7*L/10);
#   W = floor(exp(M/1e9)*1e6 + 0.5); share = round6(W / sum(W)).
ORACLES_LM["temperature_resample"] = """
    WITH counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY source),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    w AS (SELECT source, n_docs, t.n,
                 CAST(floor(
                   exp(floor(7 * floor(ln(n_docs / t.n) * 1000000000 + 0.5) / 10)
                       / 1000000000.0) * 1000000 + 0.5) AS BIGINT) AS wgt
          FROM counts CROSS JOIN t),
    s AS (SELECT CAST(sum(wgt) AS BIGINT) AS wsum FROM w)
    SELECT source, n_docs,
           floor(n_docs / w.n * 1000000 + 0.5) / 1000000.0 AS corpus_share,
           floor(wgt / s.wsum * 1000000 + 0.5) / 1000000.0 AS resample_share
    FROM w CROSS JOIN s
"""

# FULL twin of q_kneser_ney_bigrams. The discounted probability is a
# pure ratio tree of exact BIGINT counts with D = 0.75 (exact binary):
# both engines evaluate greatest(c12-0.75,0)/c1 + 0.75*n1f/c1*(nb/T)
# left-associatively over IEEE doubles — bit-equal pre-grid.
ORACLES_LM["kneser_ney_bigrams"] = f"""
    WITH toks AS (SELECT {_TOKS} AS t FROM documents
                  WHERE len({_TOKS}) >= 2),
    bg AS (SELECT t[i] AS w1, t[i+1] AS w2
           FROM toks, unnest(range(1, len(t))) AS r(i)),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_bigram
            FROM bg GROUP BY w1, w2),
    by1 AS (SELECT w1, CAST(sum(n_bigram) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1fwd
            FROM c12 GROUP BY w1),
    by2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS nback FROM c12 GROUP BY w2),
    ty AS (SELECT CAST(count(*) AS BIGINT) AS T FROM c12),
    scored AS (
      SELECT c12.w1, c12.w2, n_bigram,
             floor((greatest(n_bigram - 0.75, 0.0) / c1
                    + 0.75 * n1fwd / c1 * (nback / ty.T)) * 1000000 + 0.5)
               / 1000000.0 AS p_kn
      FROM c12 JOIN by1 ON c12.w1 = by1.w1
               JOIN by2 ON c12.w2 = by2.w2
               CROSS JOIN ty)
    SELECT CAST(row_number() OVER (ORDER BY n_bigram DESC, w1, w2) AS INTEGER)
             AS rank,
           w1, w2, n_bigram, p_kn
    FROM scored
    ORDER BY n_bigram DESC, w1, w2 LIMIT 50
"""

# FULL twin of q_shard_balance_report (md5-digit shard key, the
# hash_sample device — engine-portable unlike xxhash64).
ORACLES_LM["shard_balance_report"] = """
    WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    shards AS (
      SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 64 AS shard,
             n_chars
      FROM documents)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           floor(count(*) * 64 / t.n * 1000000 + 0.5) / 1000000.0 AS skew_ratio
    FROM shards CROSS JOIN t
    GROUP BY shard, t.n
"""

# FULL twin of q_ngram_novelty_curve (positional token 8-grams; DuckDB
# range is end-exclusive, slices inclusive — same mapping as the
# duplicate_ngram_spans twin).
ORACLES_LM["ngram_novelty_curve"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pos AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 6),
                          i -> array_to_string(t[i:i+7], ' '))) AS gram
            FROM toks WHERE len(t) >= 8),
    fd AS (SELECT gram, min(doc_id) AS first_doc FROM pos GROUP BY gram),
    pd AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_positions,
                  CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_novel
           FROM pos p JOIN fd f USING (gram) GROUP BY p.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(pd.n_positions, 0) AS BIGINT) AS n_positions,
           CAST(coalesce(pd.n_novel, 0) AS BIGINT) AS n_novel_positions,
           floor(pd.n_novel / pd.n_positions * 1000000 + 0.5) / 1000000.0
             AS novelty_ratio
    FROM documents d LEFT JOIN pd USING (doc_id)
"""

# FULL twin of q_ccnet_quality_tiers: replays the unigram_surprisal
# nano-nat grid (identical to the perplexity_proxy twin), snaps the
# per-doc mean to integer MICRO-nats, ntiles within source, and
# aggregates exact integer sums per tier.
ORACLES_LM["ccnet_quality_tiers"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    lm AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
    t AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM lm),
    s9 AS (SELECT token,
                  CAST(floor(-ln(tf / t.total) * 1000000000 + 0.5) AS BIGINT) AS s9
           FROM lm CROSS JOIN t),
    per_doc AS (SELECT tok.doc_id,
                       CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum(s9.s9) AS BIGINT) AS sum9
                FROM tok JOIN s9 USING (token) GROUP BY tok.doc_id),
    m6 AS (SELECT doc_id,
                  CAST(floor(
                    (floor(sum9 / (n_tokens * 1000000000.0) * 1000000 + 0.5)
                     / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS m6
           FROM per_doc),
    tiers AS (SELECT d.source, m6.m6,
                     CAST(ntile(3) OVER (PARTITION BY d.source
                                         ORDER BY m6.m6, m6.doc_id) AS INTEGER)
                       AS tier
              FROM m6 JOIN documents d USING (doc_id))
    SELECT source, tier, CAST(count(*) AS BIGINT) AS n_docs,
           floor(sum(m6) / (count(*) * 1000000.0) * 1000000 + 0.5) / 1000000.0
             AS tier_mean_surprisal
    FROM tiers GROUP BY source, tier
"""

# FULL twin of q_ann_pq_topk: identical subspace slicing, identical
# left-fold squared-distance tree snapped at nano-grid, identical
# (d9, cid) argmin codes, exact BIGINT ADC sums.
ORACLES_LM["ann_pq_topk"] = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sub AS (SELECT vec_id, CAST(r.s AS INTEGER) AS s,
                   e[r.s*16+1 : r.s*16+16] AS sv
            FROM v, unnest(range(0, 4)) AS r(s)),
    cent AS (SELECT CAST(vec_id AS INTEGER) AS cid, s, sv AS cv
             FROM sub WHERE vec_id < 16),
    d AS (SELECT sub.vec_id, sub.s, cent.cid,
                 CAST(floor(list_reduce(
                   list_transform(range(1, 17),
                     i -> (sub.sv[i] - cent.cv[i]) * (sub.sv[i] - cent.cv[i])),
                   (acc, x) -> acc + x) * 1000000000 + 0.5) AS BIGINT) AS d9
          FROM sub JOIN cent USING (s)),
    codes AS (SELECT vec_id, s, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                             ORDER BY d9, cid) AS rn
                FROM d) WHERE rn = 1),
    lut AS (SELECT vec_id AS query_id, s, cid, d9 AS qd9
            FROM d WHERE vec_id < 10),
    scored AS (SELECT l.query_id, c.vec_id,
                      CAST(sum(l.qd9) AS BIGINT) AS adc_d9
               FROM codes c JOIN lut l USING (s, cid)
               WHERE c.vec_id <> l.query_id
               GROUP BY l.query_id, c.vec_id)
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_d9, vec_id) AS INTEGER) AS rank,
           vec_id, adc_d9
    FROM scored
    QUALIFY rank <= 5
"""

# FULL twin of q_pq_recall_report: the PQ pipeline CTEs (identical to
# the ann_pq_topk twin) composed with an exact full-dimension squared-
# L2 top-5 — the same verified-composition device as ann_recall_report.
ORACLES_LM["pq_recall_report"] = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sub AS (SELECT vec_id, CAST(r.s AS INTEGER) AS s,
                   e[r.s*16+1 : r.s*16+16] AS sv
            FROM v, unnest(range(0, 4)) AS r(s)),
    cent AS (SELECT CAST(vec_id AS INTEGER) AS cid, s, sv AS cv
             FROM sub WHERE vec_id < 16),
    d AS (SELECT sub.vec_id, sub.s, cent.cid,
                 CAST(floor(list_reduce(
                   list_transform(range(1, 17),
                     i -> (sub.sv[i] - cent.cv[i]) * (sub.sv[i] - cent.cv[i])),
                   (acc, x) -> acc + x) * 1000000000 + 0.5) AS BIGINT) AS d9
          FROM sub JOIN cent USING (s)),
    codes AS (SELECT vec_id, s, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                             ORDER BY d9, cid) AS rn
                FROM d) WHERE rn = 1),
    lut AS (SELECT vec_id AS query_id, s, cid, d9 AS qd9
            FROM d WHERE vec_id < 10),
    pq AS (SELECT query_id, vec_id FROM (
             SELECT l.query_id, c.vec_id,
                    row_number() OVER (PARTITION BY l.query_id
                                       ORDER BY sum(l.qd9), c.vec_id) AS rn
             FROM codes c JOIN lut l USING (s, cid)
             WHERE c.vec_id <> l.query_id
             GROUP BY l.query_id, c.vec_id) WHERE rn <= 5),
    exact AS (SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                         CAST(floor(list_reduce(
                           list_transform(range(1, len(c.e) + 1),
                             i -> (c.e[i] - q.e[i]) * (c.e[i] - q.e[i])),
                           (acc, x) -> acc + x) * 1000000000 + 0.5) AS BIGINT),
                         c.vec_id) AS rn
                FROM v c CROSS JOIN v q
                WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) WHERE rn <= 5)
    SELECT e.query_id,
           CAST(count(p.vec_id) AS BIGINT) AS n_hits,
           floor(count(p.vec_id) / 5.0 * 1000000 + 0.5) / 1000000.0 AS recall_at_5
    FROM exact e LEFT JOIN pq p USING (query_id, vec_id)
    GROUP BY e.query_id
"""

# FULL twin of q_negative_sampling_table: count^{3/4} on the two-level
# grid, full-vocabulary normalizer, top-50 by (count DESC, token).
ORACLES_LM["negative_sampling_table"] = f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
    freq AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
    w AS (SELECT token, n,
                 CAST(floor(
                   exp(floor(3 * floor(ln(n) * 1000000000 + 0.5) / 4)
                       / 1000000000.0) * 1000000 + 0.5) AS BIGINT) AS wgt
          FROM freq),
    s AS (SELECT CAST(sum(wgt) AS BIGINT) AS wsum FROM w),
    top AS (SELECT token, n, wgt,
                   CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER)
                     AS rank
            FROM w ORDER BY n DESC, token LIMIT 50)
    SELECT rank, token, n AS n_occurrences,
           floor(wgt / s.wsum * 1000000 + 0.5) / 1000000.0 AS neg_sampling_share
    FROM top CROSS JOIN s
"""

# FULL twin of q_tokenizer_fertility (regex identical to the
# bpe_token_counts twin; RE2 and Java agree on this alternation).
ORACLES_LM["tokenizer_fertility"] = f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS n_ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))
             AS BIGINT) AS n_bpeish_tokens,
           -- NULLIF mirrors Spark's try_divide (ADVICE r7): empty or
           -- whitespace-only docs can zero either token denominator.
           floor(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))
                 / NULLIF(sum(len({_TOKS})), 0) * 1000000 + 0.5) / 1000000.0 AS fertility,
           floor(sum(n_chars)
                 / NULLIF(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))), 0)
                 * 1000000 + 0.5) / 1000000.0 AS chars_per_token
    FROM documents GROUP BY lang
"""

# FULL twin of q_daily_trend_by_type: exact BIGINT OLS sums over
# integer (day_index, count) pairs; identical division trees.
ORACLES_LM["daily_trend_by_type"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    b AS (SELECT min(day) AS d0 FROM daily),
    g AS (SELECT event_type, CAST(day - b.d0 AS BIGINT) AS x, y
          FROM daily CROSS JOIN b),
    s AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM g GROUP BY event_type)
    -- NULLIF mirrors Spark's try_divide (ADVICE r7): a single-day
    -- event type zeroes the OLS denominator and must yield NULL on
    -- both engines — relying on DuckDB's integer x/0 -> NULL is
    -- version-dependent (same guard as the traffic_burstiness twin).
    SELECT event_type, n_days,
           floor((n_days * sxy - sx * sy) / NULLIF(n_days * sxx - sx * sx, 0)
                 * 1000000 + 0.5) / 1000000.0 AS slope_per_day,
           floor((sy - (n_days * sxy - sx * sy) / NULLIF(n_days * sxx - sx * sx, 0) * sx)
                 / n_days * 1000000 + 0.5) / 1000000.0 AS intercept
    FROM s
"""

# FULL twin of q_events_mad_anomaly: both medians via middle-rank
# selection (the exact_median_by_group device) — every value on the
# exact .5 grid, no interpolation semantics, no rounding needed.
ORACLES_LM["events_mad_anomaly"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    r1 AS (SELECT event_type, y,
                  row_number() OVER (PARTITION BY event_type ORDER BY y, day) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM daily),
    med AS (SELECT event_type, (min(y) + max(y)) / 2 AS med,
                   CAST(max(n) AS BIGINT) AS n_days
            FROM r1
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
               OR rn = CAST(floor((n + 2) / 2) AS BIGINT)
            GROUP BY event_type),
    dev AS (SELECT d.event_type, d.day, d.y, abs(d.y - m.med) AS dv
            FROM daily d JOIN med m USING (event_type)),
    r2 AS (SELECT event_type, dv,
                  row_number() OVER (PARTITION BY event_type ORDER BY dv, day) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM dev),
    mad AS (SELECT event_type, (min(dv) + max(dv)) / 2 AS mad
            FROM r2
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
               OR rn = CAST(floor((n + 2) / 2) AS BIGINT)
            GROUP BY event_type)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           min(m.med) AS median_daily,
           min(a.mad) AS mad_daily,
           CAST(sum(CASE WHEN d.dv > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomaly_days,
           max(d.dv) AS max_abs_dev
    FROM dev d JOIN med m USING (event_type) JOIN mad a USING (event_type)
    GROUP BY d.event_type
"""

# FULL twin of q_user_activity_streaks (gaps-and-islands: island key =
# day - row_number over the user's distinct days).
ORACLES_LM["user_activity_streaks"] = """
    WITH user_days AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      FROM events),
    islands AS (SELECT user_id, day,
                       day - row_number() OVER (PARTITION BY user_id
                                                ORDER BY day) AS isl
                FROM user_days),
    streaks AS (SELECT user_id, isl,
                       CAST(count(*) AS BIGINT) AS streak_days,
                       CAST(min(day) AS BIGINT) AS streak_start_day
                FROM islands GROUP BY user_id, isl),
    best AS (SELECT user_id, streak_days, streak_start_day FROM (
               SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY streak_days DESC, streak_start_day) AS rn
               FROM streaks) WHERE rn = 1)
    SELECT CAST(row_number() OVER (ORDER BY streak_days DESC, user_id)
                AS INTEGER) AS rank,
           user_id, streak_days, streak_start_day
    FROM best
    ORDER BY streak_days DESC, user_id LIMIT 100
"""

# FULL twin of q_traffic_burstiness: exact BIGINT moment sums,
# identical ratio trees. NULLIF guards the zero denominator explicitly
# — relying on DuckDB's x/0→NULL is version-dependent (newer DuckDB's
# ieee_floating_point_ops changes double semantics), and Spark's
# try_divide yields NULL; the guard keeps both engines NULL forever.
ORACLES_LM["traffic_burstiness"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    s AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM daily GROUP BY event_type)
    SELECT event_type, n_days,
           floor(sy / n_days * 1000000 + 0.5) / 1000000.0 AS mean_daily,
           floor((n_days * syy - sy * sy) / nullif(n_days * (n_days - 1), 0)
                 * 1000000 + 0.5) / 1000000.0 AS var_daily,
           floor((n_days * syy - sy * sy) / nullif(n_days * (n_days - 1), 0)
                 / (sy / n_days) * 1000000 + 0.5) / 1000000.0 AS fano_factor
    FROM s
"""

# FULL twin of q_rake_keywords: same stopword delimiter set (imported
# from the engine-neutral constants module so the two can never
# drift), same island keys
# (pos offsets differ by a constant 1 — 0- vs 1-based — which shifts
# every island key uniformly and changes nothing), same 1e-6 integer
# word-score grid making the per-phrase sum order-free.
_STOPS_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
ORACLES_LM["rake_keywords"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pos AS (SELECT doc_id, CAST(r.i AS BIGINT) AS pos, t[r.i] AS token
            FROM toks, unnest(range(1, len(t) + 1)) AS r(i)),
    words AS (SELECT * FROM pos
              WHERE token NOT IN ({_STOPS_SQL}) AND token <> ''),
    member AS (SELECT doc_id, pos, token,
                      pos - row_number() OVER (PARTITION BY doc_id
                                               ORDER BY pos) AS isl
               FROM words),
    plen AS (SELECT doc_id, isl, CAST(count(*) AS BIGINT) AS plen
             FROM member GROUP BY doc_id, isl),
    staged AS (SELECT m.doc_id, m.isl, m.pos, m.token, p.plen
               FROM member m JOIN plen p USING (doc_id, isl)),
    stats AS (SELECT token, CAST(count(*) AS BIGINT) AS freq,
                     CAST(sum(plen) AS BIGINT) AS degree
              FROM staged GROUP BY token),
    sw AS (SELECT s.doc_id, s.isl, s.pos, s.token,
                  CAST(floor(st.degree / st.freq * 1000000 + 0.5) AS BIGINT) AS w6
           FROM staged s JOIN stats st USING (token)),
    phr AS (SELECT doc_id, isl,
                   array_to_string(list(token ORDER BY pos), ' ') AS phrase,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(w6) AS BIGINT) AS score6
            FROM sw GROUP BY doc_id, isl),
    agg AS (SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   max(score6) AS s6
            FROM phr GROUP BY phrase)
    SELECT CAST(row_number() OVER (ORDER BY s6 DESC, phrase) AS INTEGER) AS rank,
           phrase, n_words, n_occurrences, s6 / 1000000.0 AS rake_score
    FROM agg ORDER BY s6 DESC, phrase LIMIT 30
"""

# FULL twin of q_media_frame_stats: replays the mapInPandas chunk
# schedule (n = min(8, max(1, floor(bytes/64))), chunk i = bytes
# [64i, 64i+64)). DuckDB has no BLOB substring/md5, so the replay
# slices the VARCHAR — exact byte semantics BECAUSE the fixture text
# is pure ASCII (verified: octet_length(encode(text)) = length(text)
# for every doc at every SF; a non-ASCII corpus would need a
# byte-level replay and would surface immediately as a grade
# mismatch, not a silent pass).
ORACLES_LM["media_frame_stats"] = """
    WITH m AS (SELECT doc_id AS media_id, text,
                      CAST(length(text) AS BIGINT) AS n_bytes
               FROM documents),
    fr AS (SELECT media_id, CAST(r.i AS INTEGER) AS frame_idx,
                  substring(text, CAST(r.i * 64 + 1 AS BIGINT), 64) AS chunk
           FROM m, unnest(range(0, least(8, greatest(1, n_bytes // 64)))) AS r(i))
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(length(chunk)) AS BIGINT) AS total_frame_bytes,
           CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct_frames,
           CAST(min(CASE WHEN frame_idx = 0 THEN length(chunk) END)
                AS BIGINT) AS first_frame_bytes
    FROM fr GROUP BY media_id
"""

# FULL twin of q_session_interval_overlap — the TRANSPARENCY device:
# the oracle does the NAIVE non-equi interval self-join; the Spark side
# does bucket decomposition + equi-join + canonical-bucket dedup. Equal
# results prove the decomposition changes the plan, not the answer.
ORACLES_LM["session_interval_overlap"] = """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    lagd AS (SELECT *, lag(us) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) AS prev FROM e),
    flagged AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
                               THEN 1 ELSE 0 END AS new_s FROM lagd),
    sess AS (SELECT *, CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id FROM flagged),
    iv AS (SELECT user_id, session_id,
                  CAST(min(us) AS BIGINT) AS start_us,
                  CAST(max(us) AS BIGINT) AS end_us
           FROM sess GROUP BY user_id, session_id),
    pairs AS (SELECT a.user_id AS user_a, a.session_id AS session_a,
                     b.user_id AS user_b, b.session_id AS session_b,
                     CAST(least(a.end_us, b.end_us)
                          - greatest(a.start_us, b.start_us) AS BIGINT)
                       AS overlap_us
              FROM iv a JOIN iv b
                ON a.user_id < b.user_id
               AND a.start_us <= b.end_us AND b.start_us <= a.end_us)
    SELECT CAST(row_number() OVER (ORDER BY overlap_us DESC, user_a,
                session_a, user_b, session_b) AS INTEGER) AS rank,
           user_a, session_a, user_b, session_b, overlap_us
    FROM pairs
    ORDER BY overlap_us DESC, user_a, session_a, user_b, session_b
    LIMIT 100
"""

# FULL twin of q_benford_price_audit: same verbatim float constants
# (imported from the Spark side so they cannot drift), same fixed
# chi-square tree. First digit via the string head of the decimal
# rendering — identical for the leading digit in any shortest-round-
# trip rendering of values >= 1.
# CAST each literal to DOUBLE: DuckDB would otherwise bind them as
# DECIMAL(18,17) — which both overflows the grid multiply and departs
# from the IEEE-double tree Spark evaluates.
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in enumerate(_BENFORD_P, start=1)
) + " END"
ORACLES_LM["benford_price_audit"] = f"""
    WITH observed AS (
      SELECT CAST(substring(CAST(o_totalprice AS VARCHAR), 1, 1) AS INTEGER)
               AS digit,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
    counts AS (
      SELECT CAST(d.digit AS INTEGER) AS digit,
             CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs
      FROM (SELECT unnest(range(1, 10)) AS digit) d
      LEFT JOIN observed o ON o.digit = d.digit),
    t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM counts)
    -- NULLIF mirrors Spark's try_divide (ADVICE r7): an orders fixture
    -- with no rows >= 1 gives n = 0 and must yield NULL shares on both
    -- engines, never an engine-specific divide-by-zero behavior.
    SELECT digit, n_obs,
           floor(n_obs / NULLIF(t.n, 0) * 1000000 + 0.5) / 1000000.0 AS obs_share,
           floor(({_BENFORD_CASE}) * 1000000 + 0.5) / 1000000.0 AS benford_share,
           floor((n_obs - t.n * ({_BENFORD_CASE}))
                 * (n_obs - t.n * ({_BENFORD_CASE}))
                 / (NULLIF(t.n, 0) * ({_BENFORD_CASE})) * 1000000 + 0.5) / 1000000.0
             AS chi2_contrib
    FROM counts CROSS JOIN t
"""

# FULL twin of q_dedup_cluster_histogram: composes the verified
# recursive-CTE connected-components twin (imported from the analytics
# ledger — one definition, zero drift) as a derived table, then the
# identical histogram rollup.
from kickstarter_etl_pipeline_spark.oracles_analytics import (  # noqa: E402
    ORACLES_ANALYTICS as _OA,
)

ORACLES_LM["dedup_cluster_histogram"] = f"""
    WITH comp AS ({_OA["dedup_components"]}),
    clusters AS (SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
                 FROM comp GROUP BY component_id),
    hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
             FROM clusters GROUP BY cluster_size),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM comp)
    SELECT cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
           floor(cluster_size * n_clusters / t.n_docs * 1000000 + 0.5)
             / 1000000.0 AS doc_share
    FROM hist CROSS JOIN t
"""

# FULL twin of q_bigram_entropy_rate: exact-integer term spine
# (c12 · nano-nat ln), 128-bit exact sum (DuckDB sums BIGINT into
# HUGEINT), identical final divisions and grids.
ORACLES_LM["bigram_entropy_rate"] = f"""
    WITH toks AS (SELECT {_TOKS} AS t FROM documents
                  WHERE len({_TOKS}) >= 2),
    bg AS (SELECT t[i] AS w1, t[i+1] AS w2
           FROM toks, unnest(range(1, len(t))) AS r(i)),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
    terms AS (SELECT c12.c12,
                     c12.c12 * CAST(floor(ln(c12.c12 / c1.c1) * 1000000000 + 0.5)
                                    AS BIGINT) AS term9
              FROM c12 JOIN c1 USING (w1)),
    agg AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams,
                   CAST(count(*) AS BIGINT) AS n_bigram_types,
                   sum(term9) AS sum9
            FROM terms)
    SELECT n_bigrams, n_bigram_types,
           floor(-(CAST(sum9 AS DOUBLE)) / (n_bigrams * 1000000000.0)
                 * 1000000 + 0.5) / 1000000.0 AS entropy_nats,
           floor(exp(floor(-(CAST(sum9 AS DOUBLE)) / (n_bigrams * 1000000000.0)
                           * 1000000 + 0.5) / 1000000.0) * 100 + 0.5) / 100.0
             AS bigram_perplexity
    FROM agg
"""

# FULL twin of q_lexical_diversity_by_source (sqrt is IEEE-correctly
# rounded on both engines — no grid needed pre-snap).
ORACLES_LM["lexical_diversity_by_source"] = f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
    pt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
           FROM tok GROUP BY source, token)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           floor(count(*) / sum(n) * 1000000 + 0.5) / 1000000.0 AS ttr,
           floor(count(*) / sqrt(sum(n)) * 1000000 + 0.5) / 1000000.0 AS root_ttr
    FROM pt GROUP BY source
"""

# FULL twin of q_char_entropy_per_doc: exact (doc, char) counts, the
# same nano-nat term spine, the same verbatim 1/ln(2) literal
# (CAST to DOUBLE — the Benford DECIMAL-binding lesson).
ORACLES_LM["char_entropy_per_doc"] = """
    WITH chars AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
                   FROM documents),
    cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
           FROM chars WHERE ch <> '' GROUP BY doc_id, ch),
    staged AS (SELECT doc_id, c,
                      CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
               FROM cc),
    pd AS (SELECT doc_id,
                  CAST(max(n) AS BIGINT) AS n_chars_counted,
                  CAST(count(*) AS BIGINT) AS n_distinct_chars,
                  CAST(sum(c * CAST(floor(ln(c / n) * 1000000000 + 0.5)
                                    AS BIGINT)) AS BIGINT) AS sum9
           FROM staged GROUP BY doc_id)
    SELECT doc_id, n_chars_counted, n_distinct_chars,
           floor(-(CAST(sum9 AS DOUBLE)) / (n_chars_counted * 1000000000.0)
                 * CAST(1.4426950408889634 AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS char_entropy_bits
    FROM pd
"""

# FULL twin of q_embedding_dim_robust_stats: per-dim middle-rank
# median + MAD, all comparisons exact long arithmetic on the 1e-6
# embedding grid (median carried as min+max of the middle pair ×2,
# deviations ×2 → mad4 = 4·MAD in grid units); the display divisions
# are single fixed IEEE chains. The engine side ranks GLOBALLY with
# two_phase_rank minus per-dim offsets; this per-dim window replay
# must agree rank-for-rank.
_ROBUST_SPINE = """
    pts AS (
      SELECT vec_id, d,
             CAST(floor(e[d] * 1000000.0 + 0.5) AS BIGINT) AS x
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      CROSS JOIN (SELECT unnest(range(1, 65)) AS d)),
    r1 AS (SELECT vec_id, d, x,
                  row_number() OVER (PARTITION BY d ORDER BY x, vec_id) AS rn,
                  count(*) OVER (PARTITION BY d) AS n
           FROM pts),
    m1 AS (SELECT d, CAST(max(n) AS BIGINT) AS n,
                  CAST(min(x) + max(x) AS BIGINT) AS m2
           FROM r1
           WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
           GROUP BY d),
    dev AS (SELECT p.vec_id, p.d,
                   CAST(abs(2 * p.x - m1.m2) AS BIGINT) AS dev2
            FROM pts p JOIN m1 ON m1.d = p.d),
    r2 AS (SELECT d, dev2,
                  row_number() OVER (PARTITION BY d ORDER BY dev2, vec_id) AS rn,
                  count(*) OVER (PARTITION BY d) AS n
           FROM dev),
    m2t AS (SELECT d, CAST(min(dev2) + max(dev2) AS BIGINT) AS mad4
            FROM r2
            WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
            GROUP BY d)"""

ORACLES_LM["embedding_dim_robust_stats"] = f"""
    WITH {_ROBUST_SPINE}
    SELECT CAST(m1.d - 1 AS INTEGER) AS dim_idx,
           m1.n AS n_vectors,
           m1.m2 AS median_x2,
           m2t.mad4 AS mad_x4,
           CAST(m1.m2 AS DOUBLE) / 2.0 / 1000000.0 AS median_value,
           CAST(m2t.mad4 AS DOUBLE) / 4.0 / 1000000.0 AS mad_value
    FROM m1 JOIN m2t USING (d)
"""

# FULL twin of q_embedding_outlier_report: a dimension flags iff
# 4*|2x - m2| > 7*mad4 (the exact-integer form of |x - med| >
# 3.5*MAD); the max robust z is one IEEE division per dim with
# NULLIF/try_divide parity on degenerate (mad4 = 0) dimensions.
ORACLES_LM["embedding_outlier_report"] = f"""
    WITH {_ROBUST_SPINE},
    fl AS (SELECT p.vec_id,
                  CAST(abs(2 * p.x - m1.m2) AS BIGINT) AS dev2,
                  m2t.mad4
           FROM pts p JOIN m1 ON m1.d = p.d JOIN m2t ON m2t.d = p.d)
    SELECT vec_id,
           CAST(sum(CASE WHEN 4 * dev2 > 7 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outlier_dims,
           CAST(CASE WHEN sum(CASE WHEN 4 * dev2 > 7 * mad4 THEN 1 ELSE 0 END) >= 8
                     THEN 1 ELSE 0 END AS INTEGER) AS is_outlier,
           floor(max(2.0 * dev2 / NULLIF(mad4, 0)) * 1000000 + 0.5) / 1000000.0
             AS max_robust_z
    FROM fl GROUP BY vec_id
"""

# FULL twin of q_js_divergence_sources (round 9): the bm25 nano-nat
# grid extended to a two-distribution divergence. All products go
# through HUGEINT (decimal(38,0) on the Spark side) so no long
# overflow exists at any scale; per-token ln snaps to the nano-nat
# grid BEFORE the pair aggregate, so Σ c·ln9 is an exact integer sum;
# exclusive-token mass contributes (N − shared)·693147181 with the
# identical hardcoded floor(ln(2)·1e9 + 0.5) literal.
ORACLES_LM["js_divergence_sources"] = f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
    counts AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
               FROM tok GROUP BY source, token),
    totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM tok GROUP BY source),
    terms AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb,
             CAST(floor(ln(CAST(CAST(a.c AS HUGEINT) * tb.n * 2 AS DOUBLE)
                           / CAST(CAST(a.c AS HUGEINT) * tb.n
                                  + CAST(b.c AS HUGEINT) * ta.n AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS lna9,
             CAST(floor(ln(CAST(CAST(b.c AS HUGEINT) * ta.n * 2 AS DOUBLE)
                           / CAST(CAST(a.c AS HUGEINT) * tb.n
                                  + CAST(b.c AS HUGEINT) * ta.n AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS lnb9
      FROM counts a
      JOIN counts b ON a.token = b.token AND a.source < b.source
      JOIN totals ta ON ta.source = a.source
      JOIN totals tb ON tb.source = b.source),
    g AS (SELECT source_a, source_b,
                 CAST(count(*) AS BIGINT) AS n_shared_tokens,
                 sum(CAST(ca AS HUGEINT) * lna9) AS sa,
                 sum(CAST(cb AS HUGEINT) * lnb9) AS sb,
                 CAST(sum(ca) AS BIGINT) AS ma,
                 CAST(sum(cb) AS BIGINT) AS mb,
                 max(na) AS na, max(nb) AS nb
          FROM terms GROUP BY source_a, source_b)
    SELECT source_a, source_b, n_shared_tokens,
           floor(((CAST(sa + CAST(na - ma AS HUGEINT) * 693147181 AS DOUBLE)
                     / CAST(na AS DOUBLE)
                   + CAST(sb + CAST(nb - mb AS HUGEINT) * 693147181 AS DOUBLE)
                     / CAST(nb AS DOUBLE))
                  * 0.5 / 1000000000.0) * 1000000 + 0.5) / 1000000.0 AS jsd_nats
    FROM g
"""

# FULL twin of q_dsir_selection_report (round 9, continued). The
# importance-weight odds ratio (t+1)(R+B) / ((r+1)(T+B)) is a ratio of
# exact HUGEINT products; its ln snaps to the nano-nat grid BEFORE the
# per-document aggregate, so each document's log weight is an exact
# integer sum and the top-100 cut is decided on integers with doc_id
# tie-break. Bucket hash = the md5-prefix device (engine-portable).
ORACLES_LM["dsir_selection_report"] = f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    uni AS (SELECT doc_id, lang, unnest(t) AS feat FROM toks),
    bi AS (SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS feat
           FROM toks, unnest(range(1, len(t))) AS r(i)
           WHERE len(t) >= 2),
    feats AS (SELECT doc_id, lang,
                     CAST(concat('0x', substr(md5(feat), 1, 15)) AS BIGINT)
                       % 128 AS b
              FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
    raw_b AS (SELECT b, CAST(count(*) AS BIGINT) AS r FROM feats GROUP BY b),
    tgt_b AS (SELECT b, CAST(count(*) AS BIGINT) AS tt
              FROM feats WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw_b) AS R,
                   (SELECT CAST(coalesce(sum(tt), 0) AS BIGINT) FROM tgt_b) AS T),
    model AS (
      SELECT raw_b.b,
             CAST(floor(ln(CAST(CAST(coalesce(tgt_b.tt, 0) + 1 AS HUGEINT)
                                * (tot.R + 128) AS DOUBLE)
                           / CAST(CAST(raw_b.r + 1 AS HUGEINT)
                                  * (tot.T + 128) AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS lr9
      FROM raw_b LEFT JOIN tgt_b ON raw_b.b = tgt_b.b CROSS JOIN tot),
    per_doc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
                FROM feats GROUP BY doc_id, b),
    logw AS (SELECT doc_id,
                    CAST(sum(c) AS BIGINT) AS n_feats,
                    sum(CAST(c AS HUGEINT) * lr9) AS s
             FROM per_doc JOIN model ON per_doc.b = model.b
             GROUP BY doc_id)
    SELECT CAST(row_number() OVER (ORDER BY s DESC, logw.doc_id) AS INTEGER)
             AS rank,
           logw.doc_id, d.lang, d.source, n_feats,
           floor(CAST(s AS DOUBLE) / 1000000000.0 * 1000000 + 0.5)
             / 1000000.0 AS logweight_nats
    FROM logw JOIN documents d ON d.doc_id = logw.doc_id
    ORDER BY s DESC, logw.doc_id LIMIT 100
"""

# FULL twin of q_mutual_information_report (round 9, continued): the
# JSD nano-nat device on the (source x length-band) contingency table —
# per-cell ln((c*N)/(r*k)) snapped to the nano-nat grid BEFORE the
# per-source aggregate; all products HUGEINT; one fixed final division.
ORACLES_LM["mutual_information_report"] = """
    WITH d AS (SELECT source, least(floor(n_chars / 64), 9) AS band FROM documents),
    cells AS (SELECT source, band, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
    rs AS (SELECT source, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY source),
    kb AS (SELECT band, CAST(sum(c) AS BIGINT) AS k FROM cells GROUP BY band),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    terms AS (SELECT cells.source, c, n,
                     CAST(floor(ln(CAST(CAST(c AS HUGEINT) * n AS DOUBLE)
                                   / CAST(CAST(r AS HUGEINT) * k AS DOUBLE))
                                * 1000000000 + 0.5) AS BIGINT) AS ln9
              FROM cells JOIN rs USING (source) JOIN kb USING (band), tot),
    g AS (SELECT source,
                 CAST(sum(CAST(c AS HUGEINT) * ln9) AS HUGEINT) AS s,
                 CAST(sum(c) AS BIGINT) AS n_docs,
                 max(n) AS n
          FROM terms GROUP BY source)
    SELECT source, n_docs,
           floor(CAST(s AS DOUBLE) / n / 1000000000.0 * 1000000 + 0.5) / 1000000.0
             AS mi_contrib_nats
    FROM g
"""

# FULL twin of q_bleu_overlap_report: same benchmark slice
# (doc_id % 97 = 0), multiplicity n-grams n = 1..4, per-gram MAX
# clipping, nano-nat ln snaps, and the identical final IEEE tree
# (sum9 / 4.0 / 1e9 + least(0, 1 - R/(B*t1))); zero precision -> NULL
# by integer comparison.
ORACLES_LM["bleu_overlap_report"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    g AS (
      SELECT doc_id, 1 AS n, unnest(tk) AS gram FROM t
      UNION ALL
      SELECT doc_id, 2, unnest(list_transform(range(1, len(tk)),
             i -> concat_ws(' ', tk[i], tk[i+1]))) FROM t
      UNION ALL
      SELECT doc_id, 3, unnest(list_transform(range(1, len(tk) - 1),
             i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) FROM t
      UNION ALL
      SELECT doc_id, 4, unnest(list_transform(range(1, len(tk) - 2),
             i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3]))) FROM t),
    bcounts AS (SELECT n, gram, doc_id, CAST(count(*) AS BIGINT) AS c
                FROM g WHERE doc_id % 97 = 0 GROUP BY 1, 2, 3),
    refmax AS (SELECT n, gram, max(c) AS mx FROM bcounts GROUP BY 1, 2),
    ccounts AS (SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c
                FROM g WHERE doc_id % 97 <> 0 GROUP BY 1, 2, 3),
    clip AS (SELECT doc_id, n, c, least(c, coalesce(mx, 0)) AS cl
             FROM ccounts LEFT JOIN refmax USING (n, gram)),
    per AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot,
                   CAST(sum(cl) AS BIGINT) AS mat
            FROM clip GROUP BY 1, 2),
    wide AS (SELECT doc_id,
                    max(CASE WHEN n = 1 THEN tot END) AS t1,
                    max(CASE WHEN n = 2 THEN tot END) AS t2,
                    max(CASE WHEN n = 3 THEN tot END) AS t3,
                    max(CASE WHEN n = 4 THEN tot END) AS t4,
                    max(CASE WHEN n = 1 THEN mat END) AS m1,
                    max(CASE WHEN n = 2 THEN mat END) AS m2,
                    max(CASE WHEN n = 3 THEN mat END) AS m3,
                    max(CASE WHEN n = 4 THEN mat END) AS m4
             FROM per GROUP BY doc_id),
    bscal AS (SELECT CAST(count(*) AS BIGINT) AS bdocs FROM documents
              WHERE doc_id % 97 = 0),
    rscal AS (SELECT CAST(count(*) AS BIGINT) AS rtot FROM g
              WHERE n = 1 AND doc_id % 97 = 0)
    SELECT doc_id, t1 AS n_tokens, m1, m2, m3, m4,
           CASE WHEN coalesce(m1, 0) > 0 AND coalesce(m2, 0) > 0
                 AND coalesce(m3, 0) > 0 AND coalesce(m4, 0) > 0
                THEN floor(((CAST(floor(ln(m1 / CAST(t1 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
                             + CAST(floor(ln(m2 / CAST(t2 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
                             + CAST(floor(ln(m3 / CAST(t3 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
                             + CAST(floor(ln(m4 / CAST(t4 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT))
                            / 4.0 / 1000000000.0
                            + least(0.0, 1.0 - rtot / CAST(bdocs * t1 AS DOUBLE)))
                           * 1000000 + 0.5) / 1000000.0
           END AS log_bleu
    FROM wide, bscal, rscal
"""

# FULL twin of q_phrase_search_hits: same data-derived phrase (top
# 3-gram, ties by text), positional postings (1-based here, 0-based on
# the Spark side — only OFFSETS enter the join), 3-way positional join.
ORACLES_LM["phrase_search_hits"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    grams AS (SELECT unnest(list_transform(range(1, len(tk) - 1),
                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS g
              FROM t WHERE len(tk) >= 3),
    top AS (SELECT g AS phrase,
                   string_split(g, ' ')[1] AS w1,
                   string_split(g, ' ')[2] AS w2,
                   string_split(g, ' ')[3] AS w3
            FROM (SELECT g, count(*) AS c FROM grams GROUP BY g
                  ORDER BY c DESC, g LIMIT 1)),
    p0 AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos, tk FROM t),
    post AS (SELECT doc_id, pos, tk[pos] AS tok FROM p0)
    SELECT p1.doc_id, top.phrase, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM post p1
    JOIN top ON p1.tok = top.w1
    JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1 AND p2.tok = top.w2
    JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2 AND p3.tok = top.w3
    GROUP BY p1.doc_id, top.phrase
"""
