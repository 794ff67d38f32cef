"""DuckDB oracle twins for the round-10 query additions.

Same contract as the sibling ledgers: byte-identical aliases and the
identical IEEE expression tree over exact integer / decimal sufficient
statistics, with division-derived doubles snapped via the shared
floor(x·10^k + 0.5)/10^k rule (operators.rounding).
"""

from __future__ import annotations

from kickstarter_etl_pipeline_spark.oracles_graph_common import cooccurrence_edge_ctes

ORACLES_R10: dict[str, str] = {}

# FULL twin of q_funnel_latency_percentiles: first view → first
# subsequent purchase per user, percentile_disc picks at ceil-rank
# ((num·n + den−1) DIV den) over the (latency, user) total order.
ORACLES_R10["funnel_latency_percentiles"] = """
    WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id, v.t1, min(epoch_us(e.ts)) AS tp
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.t1
          GROUP BY e.user_id, v.t1),
    lat AS (SELECT CAST(floor((tp - t1) / 1000000.0) AS BIGINT) AS lat_s, user_id
            FROM p),
    ranked AS (SELECT lat_s,
                      CAST(row_number() OVER (ORDER BY lat_s, user_id) AS BIGINT) AS r
               FROM lat),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lat)
    SELECT 'p50' AS quantile, n AS n_users, lat_s AS latency_seconds
    FROM ranked, n WHERE r = (n * 1 + 1) // 2
    UNION ALL
    SELECT 'p90', n, lat_s FROM ranked, n WHERE r = (n * 9 + 9) // 10
    UNION ALL
    SELECT 'p99', n, lat_s FROM ranked, n WHERE r = (n * 99 + 99) // 100
"""

# FULL twin of q_kendall_tau_nations: exact cent sums per (nation,
# year), bounded 25-row pair self-join, τ-b from exact pair counts.
ORACLES_R10["kendall_tau_nations"] = """
    WITH rev AS (
      SELECT n.n_name, year(o.o_orderdate) AS yr,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE year(o.o_orderdate) IN (1998, 1999)
      GROUP BY n.n_name, year(o.o_orderdate)),
    xy AS (SELECT a.n_name, a.cents AS x, b.cents AS y
           FROM rev a JOIN rev b ON a.n_name = b.n_name
           WHERE a.yr = 1998 AND b.yr = 1999),
    pairs AS (SELECT p.x AS xa, p.y AS ya, q.x AS xb, q.y AS yb
              FROM xy p JOIN xy q ON p.n_name < q.n_name),
    agg AS (SELECT
      CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(CASE WHEN (xa - xb > 0 AND ya - yb > 0)
                      OR (xa - xb < 0 AND ya - yb < 0) THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      CAST(sum(CASE WHEN (xa - xb > 0 AND ya - yb < 0)
                      OR (xa - xb < 0 AND ya - yb > 0) THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
      CAST(sum(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
      CAST(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
    FROM pairs)
    SELECT n_pairs, concordant, discordant, ties_x, ties_y,
           floor((CAST(concordant - discordant AS DOUBLE)
                  / sqrt(CAST(n_pairs - ties_x AS DOUBLE)
                         * CAST(n_pairs - ties_y AS DOUBLE))) * 1000000 + 0.5)
             / 1000000.0 AS tau_b
    FROM agg
"""

# FULL twin of q_graph_assortativity: the user_triangle_counts edge
# CTE (same graph), degrees, then exact HUGEINT sufficient statistics
# over the symmetrized endpoint pairs; x/y marginals are identical by
# symmetry so r needs only Σx, Σxy, Σx².
ORACLES_R10["graph_assortativity"] = f"""
    WITH {cooccurrence_edge_ctes(1800000000, nodes="n", edges="edges")},
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT u AS id FROM edges UNION ALL SELECT v FROM edges) GROUP BY id),
    sym AS (SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges),
    paired AS (SELECT da.d AS dx, db.d AS dy
               FROM sym JOIN deg da ON da.id = sym.a JOIN deg db ON db.id = sym.b),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_endpoint_pairs,
                   sum(CAST(dx AS HUGEINT)) AS sx,
                   sum(CAST(dx AS HUGEINT) * dy) AS sxy,
                   sum(CAST(dx AS HUGEINT) * dx) AS sx2
            FROM paired)
    SELECT n_endpoint_pairs,
           CAST(sx AS BIGINT) AS degree_sum,
           floor((CAST(n_endpoint_pairs * sxy - sx * sx AS DOUBLE)
                  / CAST(n_endpoint_pairs * sx2 - sx * sx AS DOUBLE)) * 1000000 + 0.5)
             / 1000000.0 AS assortativity
    FROM agg
"""

# FULL twin of q_cohens_kappa_quality: identical rater definitions
# (n_chars grid; single-space split token count), κ from exact cell
# counts with p_e's numerator kept integer.
ORACLES_R10["cohens_kappa_quality"] = """
    WITH flags AS (SELECT
        CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
        CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS b
      FROM documents),
    agg AS (SELECT
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(a * b) AS BIGINT) AS n_both,
        CAST(sum(a * (1 - b)) AS BIGINT) AS n_a_only,
        CAST(sum((1 - a) * b) AS BIGINT) AS n_b_only,
        CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n_neither
      FROM flags),
    s AS (SELECT *,
        CAST(n_both + n_neither AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
        CAST((n_both + n_a_only) * (n_both + n_b_only)
             + (n_b_only + n_neither) * (n_a_only + n_neither) AS DOUBLE)
          / CAST(n_docs * n_docs AS DOUBLE) AS pe
      FROM agg)
    SELECT n_docs, n_both, n_a_only, n_b_only, n_neither,
           floor(po * 1000000 + 0.5) / 1000000.0 AS observed_agreement,
           floor(pe * 1000000 + 0.5) / 1000000.0 AS expected_agreement,
           floor(((po - pe) / (1.0 - pe)) * 1000000 + 0.5) / 1000000.0 AS kappa
    FROM s
"""

# FULL twin of q_psi_drift_report: identical integer-DIV bins, add-one
# Laplace shares as single divisions, ln on the divided ratio, nano-
# snapped contributions so the TOTAL row is an exact integer sum.
ORACLES_R10["psi_drift_report"] = """
    WITH binned AS (
      SELECT year(o_orderdate) AS yr,
             least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000000, 9) AS bin_id
      FROM orders WHERE year(o_orderdate) IN (1998, 1999)),
    counts AS (SELECT bin_id,
                      CAST(sum(CASE WHEN yr = 1998 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                      CAST(sum(CASE WHEN yr = 1999 THEN 1 ELSE 0 END) AS BIGINT) AS nc
               FROM binned GROUP BY bin_id),
    bins AS (SELECT CAST(range AS BIGINT) AS bin_id FROM range(10)),
    full_b AS (SELECT b.bin_id,
                      CAST(coalesce(nb, 0) AS BIGINT) AS n_base,
                      CAST(coalesce(nc, 0) AS BIGINT) AS n_curr
               FROM bins b LEFT JOIN counts c ON b.bin_id = c.bin_id),
    tot AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb, CAST(sum(n_curr) AS BIGINT) AS tc
            FROM full_b),
    per AS (SELECT bin_id, n_base, n_curr,
                   CAST(floor(((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))
                               - (CAST(n_curr + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE)))
                              * ln((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))
                                   / (CAST(n_curr + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE)))
                              * 1000000000 + 0.5) AS BIGINT) AS nano
            FROM full_b, tot)
    SELECT 'bin_' || bin_id AS bucket, n_base, n_curr,
           CAST(nano AS DOUBLE) / 1000000000.0 AS psi_term
    FROM per
    UNION ALL
    SELECT 'TOTAL', CAST(sum(n_base) AS BIGINT), CAST(sum(n_curr) AS BIGINT),
           CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1000000000.0
    FROM per
"""

# FULL twin of q_acf_daily_revenue: exact HUGEINT sufficient stats per
# lag + global, the identical IEEE tree for x̄ and r_k.
ORACLES_R10["acf_daily_revenue"] = """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(cents AS HUGEINT)) AS s1,
                 sum(CAST(cents AS HUGEINT) * cents) AS s2
          FROM daily),
    ks AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (SELECT ks.lag, d.cents AS x, e.cents AS y
              FROM daily d JOIN ks ON TRUE
              JOIN daily e ON e.day = d.day + CAST(ks.lag AS INTEGER)),
    per AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy
            FROM pairs GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
           floor(((CAST(sxy AS DOUBLE)
                   - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sx + sy AS DOUBLE)
                   + CAST(n_pairs AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / (CAST(s2 AS DOUBLE)
                     - CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
                 * 1000000 + 0.5) / 1000000.0 AS acf
    FROM per, g
"""

# FULL twin of q_binseg_changepoint: same nano-snapped |CUSUM| total
# order, argmax with smallest-day tie-break, identical mean trees.
ORACLES_R10["binseg_changepoint"] = """
    WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
                   FROM events GROUP BY 1),
    ranked AS (SELECT day, x,
                      CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS r,
                      CAST(sum(x) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM daily),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS total FROM daily),
    staged AS (SELECT day, r, cum, n, total,
                      CAST(floor(abs(CAST(cum AS DOUBLE)
                                     - CAST(r AS DOUBLE)
                                       * (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))
                                 * 1000000000 + 0.5) AS BIGINT) AS nano
               FROM ranked, g
               WHERE r < n),
    best AS (SELECT max(nano) AS b FROM staged),
    pick AS (SELECT min(day) AS cday FROM staged, best WHERE nano = b)
    SELECT strftime(s.day, '%Y-%m-%d') AS changepoint_day,
           s.n AS n_days,
           CAST(s.nano AS DOUBLE) / 1000000000.0 AS cusum_stat,
           floor((CAST(s.cum AS DOUBLE) / CAST(s.r AS DOUBLE)) * 1000000 + 0.5)
             / 1000000.0 AS mean_before,
           floor((CAST(s.total - s.cum AS DOUBLE) / CAST(s.n - s.r AS DOUBLE)) * 1000000 + 0.5)
             / 1000000.0 AS mean_after
    FROM staged s, best, pick
    WHERE s.nano = best.b AND s.day = pick.cday
"""

# FULL twin of q_mann_whitney_report: group-by-cent-value average
# ranks (2·R_A kept integer), exact tie term, identical z tree.
ORACLES_R10["mann_whitney_report"] = """
    WITH vals AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
                         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_a
                  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    by_val AS (SELECT v,
                      CAST(sum(is_a) AS BIGINT) AS na,
                      CAST(sum(1 - is_a) AS BIGINT) AS nb,
                      CAST(count(*) AS BIGINT) AS t
               FROM vals GROUP BY v),
    ranked AS (SELECT *, CAST(sum(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM by_val),
    agg AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
                   CAST(sum(nb) AS BIGINT) AS n_b,
                   sum(CAST(na AS HUGEINT) * (2 * (cum - t) + t + 1)) AS twice_ra,
                   sum(CAST(t AS HUGEINT) * t * t - t) AS tie_term
            FROM ranked),
    s AS (SELECT *,
                 (CAST(twice_ra AS DOUBLE)
                  - CAST(CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE)) / 2.0 AS u,
                 CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) AS nanb,
                 CAST(n_a + n_b AS DOUBLE) AS n
          FROM agg)
    SELECT n_a, n_b, u AS u_stat,
           floor(((u - nanb / 2.0)
                  / sqrt(nanb / 12.0
                         * ((n + 1) - CAST(tie_term AS DOUBLE) / (n * (n - 1)))))
                 * 1000000 + 0.5) / 1000000.0 AS z_score,
           floor((1.0 - 2.0 * u / nanb) * 1000000 + 0.5) / 1000000.0 AS rank_biserial
    FROM s
"""

# FULL twin of q_theil_index_by_status: per-row (x/μ)·ln(x/μ) snapped
# to the nano grid BEFORE aggregation (the zipf/perplexity device), so
# the status sum is exact integer arithmetic.
ORACLES_R10["theil_index_by_status"] = """
    WITH cents AS (SELECT o_orderstatus,
                          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                   FROM orders),
    stats AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(c AS HUGEINT)) AS s
              FROM cents GROUP BY 1),
    per AS (SELECT c.o_orderstatus, s.n,
                   CAST(floor((CAST(c.c AS DOUBLE)
                               / (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)))
                              * ln(CAST(c.c AS DOUBLE)
                                   / (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)))
                              * 1000000000 + 0.5) AS BIGINT) AS nano
            FROM cents c JOIN stats s USING (o_orderstatus))
    SELECT o_orderstatus, n AS n_orders,
           floor(((CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1000000000.0)
                  / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS theil_t
    FROM per GROUP BY o_orderstatus, n
"""

# FULL twin of q_markov_stationary: identical transition counts and 8
# unrolled integer power-iteration rounds — per-term floor division
# then exact integer sums (order-free).
_MARKOV_STEP = """
    SELECT t.j AS state, CAST(sum(({v}.v * t.nij) // t.ni) AS BIGINT) AS v
    FROM t JOIN {v} ON t.i = {v}.state GROUP BY t.j
"""
ORACLES_R10["markov_stationary"] = (
    """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
    steps AS (SELECT event_type AS i,
                     lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS j
              FROM e),
    tm AS (SELECT i, j, CAST(count(*) AS BIGINT) AS nij
           FROM steps WHERE j IS NOT NULL GROUP BY i, j),
    rt AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni FROM tm GROUP BY i),
    t AS (SELECT tm.i, tm.j, tm.nij, rt.ni FROM tm JOIN rt USING (i)),
    ns AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n FROM t),
    v0 AS (SELECT DISTINCT i AS state, CAST(1000000000 AS BIGINT) // ns.n AS v
           FROM t, ns),
"""
    + ",\n".join(
        f"    v{k} AS ({_MARKOV_STEP.format(v=f'v{k - 1}')})" for k in range(1, 9)
    )
    + """
    SELECT state AS event_type, CAST(v AS DOUBLE) / 1000000000.0 AS stationary_share
    FROM v8
"""
)

# FULL twin of q_winnowing_fingerprints: identical tokenization
# (_TOKS), 5-gram 60-bit md5 hashes, 4-wide window minima (full
# windows only), per-doc distinct, top-25 total order.
from kickstarter_etl_pipeline_spark.oracles_core import _TOKS  # noqa: E402

ORACLES_R10["winnowing_fingerprints"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pos AS (SELECT doc_id, unnest(range(1, len(t) - 3)) AS i, t
            FROM toks WHERE len(t) >= 8),
    grams AS (SELECT doc_id, i,
                     CAST('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15)
                          AS BIGINT) AS h
              FROM pos),
    wins AS (SELECT doc_id,
                    min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                    count(*) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
             FROM grams),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE cnt = 4)
    SELECT fp AS fingerprint, CAST(count(*) AS BIGINT) AS n_docs
    FROM fps GROUP BY fp
    ORDER BY n_docs DESC, fingerprint
    LIMIT 25
"""

# FULL twin of q_embedding_similarity_histogram: the proven
# list_cosine_similarity ≡ sequential-dot device at 6 dp, then exact
# integer micro-grid binning.
ORACLES_R10["embedding_similarity_histogram"] = """
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

# FULL twin of q_fellegi_sunter_linkage: identical blocking, pattern
# bits, and the SAME precomputed score literals (constants module —
# single definition site, no query-time transcendental either side).
from kickstarter_etl_pipeline_spark.constants import FS_PATTERN_SCORES, WEDGE_DEGREE_CAP

_FS_CASES = " ".join(
    f"WHEN '{p}' THEN {s!r}" for p, s in FS_PATTERN_SCORES.items()
)
ORACLES_R10["fellegi_sunter_linkage"] = f"""
    WITH names AS (SELECT p_name, min(p_brand) AS brand, min(p_type) AS typ,
                          CAST(min(p_size) AS BIGINT) AS sz
                   FROM part GROUP BY p_name),
    blocked AS (SELECT *, string_split(p_name, ' ')[-1] AS block FROM names),
    pairs AS (SELECT
        (CASE WHEN levenshtein(a.p_name, b.p_name) <= 2 THEN '1' ELSE '0' END ||
         CASE WHEN a.brand = b.brand THEN '1' ELSE '0' END ||
         CASE WHEN a.typ = b.typ THEN '1' ELSE '0' END ||
         CASE WHEN abs(a.sz - b.sz) <= 1 THEN '1' ELSE '0' END) AS pattern
      FROM blocked a JOIN blocked b ON a.block = b.block AND a.p_name < b.p_name),
    agg AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n_pairs,
                   CASE pattern {_FS_CASES} END AS score
            FROM pairs GROUP BY pattern)
    SELECT pattern, n_pairs, score,
           CASE WHEN score >= 4.0 THEN 'MATCH'
                WHEN score >= 0.0 THEN 'POSSIBLE'
                ELSE 'NON_MATCH' END AS decision
    FROM agg
"""

# FULL twin of q_transition_entropy: p·ln p nano-snapped per cell
# before the per-state sum.
ORACLES_R10["transition_entropy"] = """
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
    steps AS (SELECT event_type AS i,
                     lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS j
              FROM e),
    tm AS (SELECT i, j, CAST(count(*) AS BIGINT) AS nij
           FROM steps WHERE j IS NOT NULL GROUP BY i, j),
    rt AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni FROM tm GROUP BY i),
    per AS (SELECT tm.i, rt.ni,
                   CAST(floor((CAST(nij AS DOUBLE) / CAST(ni AS DOUBLE))
                              * ln(CAST(nij AS DOUBLE) / CAST(ni AS DOUBLE))
                              * 1000000000 + 0.5) AS BIGINT) AS nano
            FROM tm JOIN rt USING (i))
    SELECT i AS event_type, ni AS n_transitions,
           floor((-(CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1000000000.0))
                 * 1000000 + 0.5) / 1000000.0 AS next_entropy_nats
    FROM per GROUP BY i, ni
"""

# FULL twin of q_mase_seasonal_naive: exact |cent| diffs by calendar
# pairing, identical MAE/ratio trees.
ORACLES_R10["mase_seasonal_naive"] = """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
                   FROM orders GROUP BY 1),
    l1 AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_lag1,
                  sum(CAST(abs(b.cents - a.cents) AS HUGEINT)) AS sa1
           FROM daily a JOIN daily b ON b.day = a.day + 1),
    l7 AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_lag7,
                  sum(CAST(abs(b.cents - a.cents) AS HUGEINT)) AS sa7
           FROM daily a JOIN daily b ON b.day = a.day + 7)
    SELECT n_pairs_lag1, n_pairs_lag7,
           floor((CAST(sa1 AS DOUBLE) / CAST(n_pairs_lag1 AS DOUBLE) / 100.0)
                 * 10000 + 0.5) / 10000.0 AS mae_naive1,
           floor((CAST(sa7 AS DOUBLE) / CAST(n_pairs_lag7 AS DOUBLE) / 100.0)
                 * 10000 + 0.5) / 10000.0 AS mae_naive7,
           floor(((CAST(sa7 AS DOUBLE) / CAST(n_pairs_lag7 AS DOUBLE) / 100.0)
                  / (CAST(sa1 AS DOUBLE) / CAST(n_pairs_lag1 AS DOUBLE) / 100.0))
                 * 1000000 + 0.5) / 1000000.0 AS seasonal_to_naive_ratio
    FROM l1, l7
"""

# FULL twin of q_hurst_exponent: identical block decomposition, exact
# integer prefix sums, nano-snapped demeaned deviations and ln(R/S),
# the shared ln2 literal in the collapsed equal-spacing slope.
ORACLES_R10["hurst_exponent"] = """
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
                   FROM orders GROUP BY 1),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
    ranked AS (SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t FROM daily),
    scaled AS (SELECT sc.s, x, (t - 1) // sc.s AS b, (t - 1) % sc.s + 1 AS i
               FROM ranked, (VALUES (8), (16), (32), (64)) sc(s)),
    bstat AS (SELECT s, b, CAST(count(*) AS BIGINT) AS bn,
                     sum(CAST(x AS HUGEINT)) AS bs,
                     sum(CAST(x AS HUGEINT) * x) AS bs2
              FROM scaled GROUP BY s, b),
    pref AS (SELECT s, b, i,
                    CAST(sum(x) OVER (PARTITION BY s, b ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             FROM scaled),
    dev AS (SELECT p.s, p.b, t.bs, t.bs2,
                   CAST(floor((CAST(p.cum AS DOUBLE)
                               - CAST(p.i AS DOUBLE)
                                 * (CAST(t.bs AS DOUBLE) / CAST(p.s AS DOUBLE)))
                              * 1000000000 + 0.5) AS BIGINT) AS d
            FROM pref p JOIN bstat t ON p.s = t.s AND p.b = t.b AND t.bn = p.s),
    per_block AS (SELECT s, b, bs, bs2, max(d) - min(d) AS r_nano
                  FROM dev GROUP BY s, b, bs, bs2),
    vb AS (SELECT s, r_nano,
                  greatest((CAST(bs2 AS DOUBLE)
                   - CAST(s AS DOUBLE) * (CAST(bs AS DOUBLE) / CAST(s AS DOUBLE))
                     * (CAST(bs AS DOUBLE) / CAST(s AS DOUBLE))) / CAST(s AS DOUBLE),
                   0.0) AS var
           FROM per_block
           WHERE r_nano > 0),
    lrs AS (SELECT s,
                   CAST(floor(ln((CAST(r_nano AS DOUBLE) / 1000000000.0) / sqrt(var))
                              * 1000000000 + 0.5) AS BIGINT) AS l
            FROM vb WHERE sqrt(var) > 0),
    per_scale AS (SELECT s, CAST(count(*) AS BIGINT) AS m, CAST(sum(l) AS BIGINT) AS ls
                  FROM lrs GROUP BY s),
    ys AS (SELECT s, CAST(ls AS DOUBLE) / 1000000000.0 / CAST(m AS DOUBLE) AS y
           FROM per_scale),
    piv AS (SELECT max(CASE WHEN s = 8 THEN y END) AS y8,
                   max(CASE WHEN s = 16 THEN y END) AS y16,
                   max(CASE WHEN s = 32 THEN y END) AS y32,
                   max(CASE WHEN s = 64 THEN y END) AS y64
            FROM ys)
    SELECT n_days,
           floor(y8 * 1000000 + 0.5) / 1000000.0 AS mean_log_rs_8,
           floor(y64 * 1000000 + 0.5) / 1000000.0 AS mean_log_rs_64,
           floor(((-1.5 * y8 - 0.5 * y16 + 0.5 * y32 + 1.5 * y64)
                  / (5.0 * 0.6931471805599453)) * 1000000 + 0.5) / 1000000.0
             AS hurst_exponent
    FROM piv, nd
"""

# FULL twin of q_winsorized_mean_by_status: ceil-rank p05/p95 cuts
# over the (cents, orderkey) total order, exact clamped decimal sum.
ORACLES_R10["winsorized_mean_by_status"] = """
    WITH cents AS (SELECT o_orderstatus, o_orderkey,
                          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                   FROM orders),
    ranked AS (SELECT o_orderstatus, c,
                      CAST(row_number() OVER (PARTITION BY o_orderstatus
                        ORDER BY c, o_orderkey) AS BIGINT) AS rn,
                      CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n
               FROM cents),
    cuts AS (SELECT o_orderstatus, max(n) AS n_orders,
                    max(CASE WHEN rn = (n * 5 + 99) // 100 THEN c END) AS lo,
                    max(CASE WHEN rn = (n * 95 + 99) // 100 THEN c END) AS hi
             FROM ranked GROUP BY o_orderstatus),
    agg AS (SELECT c.o_orderstatus, t.n_orders, t.lo, t.hi,
                   sum(CAST(greatest(least(c.c, t.hi), t.lo) AS HUGEINT)) AS ws
            FROM cents c JOIN cuts t USING (o_orderstatus)
            GROUP BY c.o_orderstatus, t.n_orders, t.lo, t.hi)
    SELECT o_orderstatus, n_orders,
           CAST(lo AS DOUBLE) / 100.0 AS p05_price,
           CAST(hi AS DOUBLE) / 100.0 AS p95_price,
           floor(CAST(ws AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0 * 10000 + 0.5)
             / 10000.0 AS winsorized_mean
    FROM agg
"""

# FULL twin of q_elasticity_by_brand: micro-nat log grids, exact
# HUGEINT OLS moments, zero-variance guard identical on both engines.
ORACLES_R10["elasticity_by_brand"] = """
    WITH pts AS (SELECT p.p_brand,
        CAST(floor(ln(CAST(CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                           AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x6,
        CAST(floor(ln(CAST(l.l_quantity AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y6
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    agg AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
                   sum(CAST(x6 AS HUGEINT)) AS sx, sum(CAST(y6 AS HUGEINT)) AS sy,
                   sum(CAST(x6 AS HUGEINT) * y6) AS sxy,
                   sum(CAST(x6 AS HUGEINT) * x6) AS sxx
            FROM pts GROUP BY p_brand)
    SELECT p_brand, n_lines,
           CASE WHEN CAST(n_lines * sxx - sx * sx AS DOUBLE) <> 0.0
                THEN floor((CAST(n_lines * sxy - sx * sy AS DOUBLE)
                            / CAST(n_lines * sxx - sx * sx AS DOUBLE))
                           * 1000000 + 0.5) / 1000000.0 END AS elasticity_slope
    FROM agg
"""

# FULL twin of q_adamic_adar_links: the occupancy-capped edge CTEs
# (oracles_graph_common), per-neighbor 1/ln(deg) nano-snapped BEFORE
# the pair sum, and the round-11 wedge degree cap — vertices with
# degree > WEDGE_DEGREE_CAP are excluded from the shared-neighbor
# role (the wn CTE), mirroring graph_queries.q_adamic_adar_links.
ORACLES_R10["adamic_adar_links"] = f"""
    WITH {cooccurrence_edge_ctes(600000000, nodes="nodes", edges="edges")},
    adj AS (SELECT u AS a, v AS n FROM edges UNION ALL SELECT v AS a, u AS n FROM edges),
    deg AS (SELECT a, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY a),
    wn AS (SELECT a AS n,
                  CAST(floor(1000000000.0 / ln(CAST(degree AS DOUBLE)) + 0.5) AS BIGINT) AS w
           FROM deg WHERE degree >= 2 AND degree <= {WEDGE_DEGREE_CAP}),
    wedge AS (SELECT x.a AS u, y.a AS v,
                     CAST(count(*) AS BIGINT) AS n_common,
                     CAST(sum(w.w) AS BIGINT) AS score_nano
              FROM adj x JOIN adj y ON x.n = y.n AND x.a < y.a
              JOIN wn w ON w.n = x.n
              GROUP BY 1, 2 HAVING count(*) >= 2),
    nonadj AS (SELECT w.u, w.v, w.n_common, w.score_nano FROM wedge w
               ANTI JOIN edges e ON w.u = e.u AND w.v = e.v)
    SELECT u, v, n_common,
           CAST(score_nano AS DOUBLE) / 1000000000.0 AS adamic_adar_score
    FROM nonadj
    ORDER BY score_nano DESC, u, v
    LIMIT 100
"""

# FULL twin of q_association_rules_topk: directed basket rules,
# identical confidence/lift trees and the snapped-confidence total
# order for the top-50 cut.
ORACLES_R10["association_rules_topk"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (SELECT a.l_partkey AS id_a, b.l_partkey AS id_b,
                     CAST(count(*) AS BIGINT) AS n_ab
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 2),
    freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS f FROM li GROUP BY 1),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS N FROM li),
    scored AS (SELECT id_a, id_b, fa.f AS n_a, fb.f AS n_b, n_ab,
                      floor(CAST(n_ab AS DOUBLE) / CAST(fa.f AS DOUBLE)
                            * 1000000 + 0.5) / 1000000.0 AS confidence,
                      floor(CAST(CAST(n_ab AS HUGEINT) * N AS DOUBLE)
                            / CAST(CAST(fa.f AS HUGEINT) * fb.f AS DOUBLE)
                            * 1000000 + 0.5) / 1000000.0 AS lift
               FROM pairs
               JOIN freq fa ON fa.l_partkey = id_a
               JOIN freq fb ON fb.l_partkey = id_b, n)
    SELECT id_a, id_b, n_a, n_b, n_ab, confidence, lift
    FROM scored
    ORDER BY confidence DESC, id_a, id_b
    LIMIT 50
"""

# FULL twin of q_abc_xyz_matrix: identical integer ABC boundaries on
# the cumulative revenue, identical CV tree micro-snapped before the
# X/Y/Z thresholds, 9-cell rollup.
ORACLES_R10["abc_xyz_matrix"] = """
    WITH li AS (SELECT l_partkey,
                       CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
                       CAST(l_quantity AS BIGINT) AS q,
                       epoch_us(l_shipdate) // 86400000000 // 7 AS wk
                FROM lineitem),
    rev AS (SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS r FROM li GROUP BY 1),
    ranked AS (SELECT l_partkey, r,
                      CAST(sum(r) OVER (ORDER BY r DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM rev),
    total AS (SELECT CAST(sum(r) AS BIGINT) AS tot FROM rev),
    abc AS (SELECT l_partkey, r,
                   CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                        WHEN cum * 20 <= tot * 19 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked, total),
    weekly AS (SELECT l_partkey, wk, CAST(sum(q) AS BIGINT) AS qw
               FROM li GROUP BY 1, 2),
    stats AS (SELECT l_partkey,
                     CAST(count(*) AS BIGINT) AS W,
                     sum(CAST(qw AS HUGEINT)) AS sq,
                     sum(CAST(qw AS HUGEINT) * qw) AS sq2
              FROM weekly GROUP BY 1),
    xyz AS (SELECT l_partkey,
                   CASE WHEN cvm < 500000 THEN 'X'
                        WHEN cvm < 1000000 THEN 'Y'
                        ELSE 'Z' END AS xyz_class
            FROM (SELECT l_partkey,
                         CAST(floor(sqrt(greatest((CAST(sq2 AS DOUBLE)
                                          - CAST(W AS DOUBLE)
                                            * (CAST(sq AS DOUBLE) / CAST(W AS DOUBLE))
                                            * (CAST(sq AS DOUBLE) / CAST(W AS DOUBLE)))
                                         / CAST(W AS DOUBLE), 0.0))
                                    / (CAST(sq AS DOUBLE) / CAST(W AS DOUBLE))
                                    * 1000000 + 0.5) AS BIGINT) AS cvm
                  FROM stats))
    SELECT a.abc_class, x.xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(a.r) AS DOUBLE) / 100.0 AS total_revenue
    FROM abc a JOIN xyz x USING (l_partkey)
    GROUP BY a.abc_class, x.xyz_class
"""
