"""Round-12 DuckDB oracle twins.

Same contract as every other ledger: each entry is the ANSI-SQL twin
of the identically-named ``queries()`` entry, producing IDENTICAL
column names and bit-identical values under the driver normalization
(columns sorted by name, rows sorted, floats repr'd post-rounding).
"""

from __future__ import annotations

from kickstarter_etl_pipeline_spark.oracles_graph_common import OCCUPANCY_CAP

ORACLES_R12: dict[str, str] = {}

# FULL twin of q_cooccurrence_cap_report: identical distinct
# (bucket, user) node set (epoch_us / 1800000000 buckets over error
# events), per-bucket occupancy, and the same integer pair arithmetic
# — a bucket of occupancy n emits (n // cap)·C(cap,2) + C(n % cap, 2)
# pairs under the cap vs C(n,2) unsalted; k·(k−1) // 2 is exact.
_CAP = OCCUPANCY_CAP
_FULL_SUB_PAIRS = _CAP * (_CAP - 1) // 2
ORACLES_R12["cooccurrence_cap_report"] = f"""
    WITH nodes AS (
      SELECT DISTINCT CAST(floor(epoch_us(ts) / 1800000000) AS BIGINT) AS b,
                      user_id
      FROM events WHERE event_type = 'error'),
    pb AS (SELECT b, CAST(count(*) AS BIGINT) AS occ FROM nodes GROUP BY b)
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN occ > {_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS capped_buckets,
           CAST(max(occ) AS BIGINT) AS max_occupancy,
           CAST(sum(occ) AS BIGINT) AS total_nodes,
           CAST(sum((occ // {_CAP}) * {_FULL_SUB_PAIRS}
                    + ((occ % {_CAP}) * (occ % {_CAP} - 1)) // 2) AS BIGINT)
             AS emitted_pairs,
           CAST(sum((occ * (occ - 1)) // 2) AS BIGINT) AS unsalted_pairs
    FROM pb
"""

# FULL twin of q_events_stream_conversions: for each purchase, the
# user's latest preceding click in the same (us, event_id) total order
# the stateful fold processes — last_value(... IGNORE NULLS) over rows
# UNBOUNDED PRECEDING..1 PRECEDING replays the "last-observation
# register" state exactly; the 10-minute window literal must stay in
# lockstep with streaming.stateful.CONVERSION_WINDOW_US (2 h).
ORACLES_R12["events_stream_conversions"] = """
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
               FROM events WHERE event_type IN ('click', 'purchase')),
    reg AS (SELECT user_id, event_type, us,
                   last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS click_us
            FROM e)
    SELECT user_id, CAST(click_us AS BIGINT) AS click_us,
           CAST(us AS BIGINT) AS purchase_us,
           CAST(us - click_us AS BIGINT) AS latency_us
    FROM reg
    WHERE event_type = 'purchase' AND click_us IS NOT NULL
      AND us - click_us <= 7200000000
"""

# FULL twin of q_frame_dedup_report: replays the 64-byte stride / ≤8
# frame chunk schedule on the source text (character slicing ==
# byte slicing on the ASCII-safe fixtures, the media_frame_stats
# convention) and hashes chunks with md5(VARCHAR) — equal to the Spark
# side's hashlib.md5 over the UTF-8 chunk bytes.
ORACLES_R12["frame_dedup_report"] = """
    WITH m AS (SELECT doc_id AS media_id, text,
                      CAST(length(text) AS BIGINT) AS n_bytes
               FROM documents),
    fr AS (SELECT media_id,
                  substring(text, CAST(r.i * 64 + 1 AS BIGINT), 64) AS chunk
           FROM m, unnest(range(0, least(8, greatest(1, n_bytes // 64)))) AS r(i))
    SELECT md5(chunk) AS frame_md5,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT media_id) AS BIGINT) AS n_media,
           CAST(max(length(chunk)) AS BIGINT) AS frame_bytes
    FROM fr GROUP BY md5(chunk)
    HAVING count(*) > 1
    ORDER BY n_occurrences DESC, n_media DESC, frame_md5
    LIMIT 50
"""


# FULL twin of q_holt_linear_forecast: the two-BIGINT Holt state
# (level, trend) that list_reduce's struct lambda could not carry
# (the round-9 blocker) rides a recursive CTE over the per-priority
# row_number spine instead — no lambda anywhere. Pure integer
# micro-dollar arithmetic with truncating division: DuckDB `//`
# truncates toward zero exactly like the Spark side's
# (a − a % 10) / 10 decimal divide, and the subtraction makes the
# quotient exact under either rounding. l₂'s expression is repeated
# inside b₂ (a recursive SELECT cannot reference its own aliases);
# both occurrences are the same integer expression, so the repeat is
# value-identical, mirroring the Spark fold reusing the l2 Column.
ORACLES_R12["holt_linear_forecast"] = """
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000) AS BIGINT)
               AS y
      FROM orders GROUP BY 1, 2),
    ord AS MATERIALIZED (
      SELECT pri, y,
             CAST(row_number() OVER (PARTITION BY pri ORDER BY d) AS BIGINT) AS t
      FROM daily),
    nd AS MATERIALIZED (SELECT pri, max(t) AS n_days FROM ord GROUP BY pri),
    holt AS (
      SELECT pri, t, y AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
      FROM ord WHERE t = 1
      UNION ALL
      SELECT o.pri, o.t,
             (3 * o.y + 7 * (h.l + h.b)) // 10,
             ((3 * o.y + 7 * (h.l + h.b)) // 10 - h.l + 9 * h.b) // 10,
             h.sae + abs(o.y - (h.l + h.b))
      FROM holt h JOIN ord o ON o.pri = h.pri AND o.t = h.t + 1)
    SELECT h.pri AS o_orderpriority,
           nd.n_days,
           floor(CAST(h.l AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS level,
           floor(CAST(h.b AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS trend,
           floor(CAST(h.l + 7 * h.b AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS forecast_7d,
           floor(CAST(h.sae AS DOUBLE) / NULLIF(CAST(nd.n_days - 1 AS DOUBLE), 0)
                 / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS mae_one_step
    FROM holt h JOIN nd ON nd.pri = h.pri AND h.t = nd.n_days
"""


# FULL twin of q_graph_harmonic_centrality: the multi-source BFS
# unrolls exactly like the single-source _bfs_oracle_sql (device 7 —
# MATERIALIZED per-round CTEs, each visited set referenced twice) but
# keyed by (pivot, vertex); the per-pivot anti-membership check is a
# decorrelated NOT EXISTS on (p, id). Pivots are the 8 smallest
# vertices by (md5(id-as-string), id) over the symmetrized edge
# endpoints — the same engine-portable hash order the occupancy cap
# uses. Inverse distances are carried as exact integers (60 // depth,
# 60 = lcm(1..6)); the final division and 6-dp snap are the only
# float ops.
def _harmonic_oracle_sql(pivots: int = 8, rounds: int = 6) -> str:
    from kickstarter_etl_pipeline_spark.oracles_graph_common import (
        cooccurrence_edge_ctes,
    )

    head = f"""
        WITH {cooccurrence_edge_ctes(600000000, nodes="hn", edges="he0", materialized=True)},
        sym AS MATERIALIZED (SELECT u, v FROM he0 UNION SELECT v, u FROM he0),
        piv AS MATERIALIZED (
          SELECT p FROM (SELECT DISTINCT u AS p FROM sym)
          ORDER BY md5(CAST(p AS VARCHAR)), p LIMIT {pivots}),
        v0 AS MATERIALIZED (
          SELECT p, p AS id, CAST(0 AS BIGINT) AS depth FROM piv),
        f0 AS MATERIALIZED (SELECT p, id FROM v0)"""
    steps = []
    for t in range(1, rounds + 1):
        steps.append(
            f""",
        f{t} AS MATERIALIZED (
          SELECT DISTINCT f.p, sym.v AS id
          FROM f{t - 1} f JOIN sym ON sym.u = f.id
          WHERE NOT EXISTS (SELECT 1 FROM v{t - 1} vv
                            WHERE vv.p = f.p AND vv.id = sym.v)),
        v{t} AS MATERIALIZED (
          SELECT p, id, depth FROM v{t - 1}
          UNION ALL SELECT p, id, CAST({t} AS BIGINT) FROM f{t})"""
        )
    tail = f"""
        SELECT id AS user_id,
               CAST(count(*) AS BIGINT) AS n_pivots_reached,
               floor(CAST(sum(60 // depth) AS DOUBLE) / 60.0 * 1000000 + 0.5)
                 / 1000000.0 AS harmonic
        FROM v{rounds} WHERE depth > 0 GROUP BY id
    """
    return head + "".join(steps) + tail


ORACLES_R12["graph_harmonic_centrality"] = _harmonic_oracle_sql()


# FULL twin of q_holt_winters_forecast: the recursive-CTE state spine
# generalized to VECTOR state — level, trend, SAE and the seven
# per-weekday seasonal registers ride as ten BIGINT columns. Every
# occurrence of s_active / l2 below is the same integer expression
# repeated (a recursive SELECT cannot reference its own aliases), so
# the repeats are value-identical to the Spark fold reusing the
# Columns. dow is pure epoch arithmetic ((days-since-1970 + 4) % 7,
# the traffic_seasonality device). Truncating `//` mirrors the Spark
# side's (a − a % k) decimal divide exactly (both toward zero; exact
# either way after the remainder subtraction).
def _holt_winters_oracle_sql() -> str:
    s_active = "CASE " + " ".join(
        f"WHEN o.dow = {k} THEN h.s{k}" for k in range(7)
    ) + " END"
    l2 = f"(3 * (o.y - ({s_active})) + 7 * (h.l + h.b)) // 10"
    b2 = f"(({l2}) - h.l + 9 * h.b) // 10"
    sae2 = f"h.sae + abs(o.y - (h.l + h.b + ({s_active})))"
    seas = ",\n             ".join(
        f"CASE WHEN o.dow = {k} THEN (o.y - ({l2}) + 4 * h.s{k}) // 5 "
        f"ELSE h.s{k} END"
        for k in range(7)
    )
    zeros = ", ".join(f"CAST(0 AS BIGINT) AS s{k}" for k in range(7))
    s_cols = ", ".join(f"s{k}" for k in range(7))
    peak = "greatest(" + ", ".join(f"h.s{k}" for k in range(7)) + ")"
    trough = "least(" + ", ".join(f"h.s{k}" for k in range(7)) + ")"
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 1000000) AS BIGINT)
               AS y
      FROM orders GROUP BY 1, 2),
    ord AS MATERIALIZED (
      SELECT pri, y,
             (CAST(d - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow,
             CAST(row_number() OVER (PARTITION BY pri ORDER BY d) AS BIGINT) AS t
      FROM daily),
    nd AS MATERIALIZED (SELECT pri, max(t) AS n_days FROM ord GROUP BY pri),
    hw AS (
      SELECT pri, t, y AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae,
             {zeros}
      FROM ord WHERE t = 1
      UNION ALL
      SELECT o.pri, o.t,
             {l2},
             {b2},
             {sae2},
             {seas}
      FROM hw h JOIN ord o ON o.pri = h.pri AND o.t = h.t + 1)
    SELECT h.pri AS o_orderpriority,
           nd.n_days,
           floor(CAST(h.l AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS level,
           floor(CAST(h.b AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS trend,
           floor(CAST({peak} AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS season_peak,
           floor(CAST({trough} AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS season_trough,
           floor(CAST(h.sae AS DOUBLE) / NULLIF(CAST(nd.n_days - 1 AS DOUBLE), 0)
                 / 1000000.0 * 1000000 + 0.5) / 1000000.0 AS mae_one_step
    FROM hw h JOIN nd ON nd.pri = h.pri AND h.t = nd.n_days
"""


ORACLES_R12["holt_winters_forecast"] = _holt_winters_oracle_sql()


# FULL twin of q_graph_rotor_walks: one next-hop CTE (row_number over
# (md5("t:c:v"), v) per vertex — identical to the Spark side's min of
# (md5, v) structs, both lowercase-hex ASCII binary order with the
# vertex id as explicit tie-break) and one hop CTE per step, unrolled
# (device 7). The concat key is ':'-joined decimal renderings, the
# same strings Spark's concat_ws produces for BIGINTs.
def _rotor_walks_oracle_sql(steps: int = 4) -> str:
    from kickstarter_etl_pipeline_spark.oracles_graph_common import (
        cooccurrence_edge_ctes,
    )

    head = f"""
        WITH {cooccurrence_edge_ctes(600000000, nodes="rn0", edges="re0", materialized=True)},
        sym AS MATERIALIZED (SELECT u, v FROM re0 UNION SELECT v, u FROM re0),
        w0 AS MATERIALIZED (
          SELECT u AS start, u AS cur FROM (SELECT DISTINCT u FROM sym))"""
    steps_sql = []
    for t in range(1, steps + 1):
        steps_sql.append(
            f""",
        n{t} AS MATERIALIZED (
          SELECT u AS cur, v AS nxt FROM (
            SELECT u, v,
                   row_number() OVER (
                     PARTITION BY u
                     ORDER BY md5('{t}:' || CAST(u AS VARCHAR) || ':'
                                  || CAST(v AS VARCHAR)), v) AS rn
            FROM sym) WHERE rn = 1),
        w{t} AS MATERIALIZED (
          SELECT w.start, n.nxt AS cur
          FROM w{t - 1} w JOIN n{t} n ON n.cur = w.cur)"""
        )
    unions = "\n        UNION ALL ".join(
        f"SELECT start AS start_user_id, CAST({t} AS BIGINT) AS step, "
        f"cur AS user_id FROM w{t}"
        for t in range(0, steps + 1)
    )
    return head + "".join(steps_sql) + "\n        " + unions


ORACLES_R12["graph_rotor_walks"] = _rotor_walks_oracle_sql()


# FULL twin of q_graph_betweenness: the three Brandes passes unroll as
# CTE blocks (device 7) — the shared multi-source BFS (identical to
# the harmonic twin), one forward σ CTE per level (exact BIGINT sums
# over depth-(t−1) predecessors), and one backward δ̂ CTE per level in
# integer nanos: per-term (σv·(10⁹+δ̂w)) // σw then an order-free
# integer sum, LEFT-joined back onto the level's σ frame so
# childless vertices carry δ̂ = 0. Only depth ≥ 1 rows aggregate into
# the output (δ̂(p, p) is excluded, as in Brandes).
def _betweenness_oracle_sql(pivots: int = 8, rounds: int = 6) -> str:
    from kickstarter_etl_pipeline_spark.oracles_graph_common import (
        cooccurrence_edge_ctes,
    )

    head = f"""
        WITH {cooccurrence_edge_ctes(600000000, nodes="bn", edges="be0", materialized=True)},
        sym AS MATERIALIZED (SELECT u, v FROM be0 UNION SELECT v, u FROM be0),
        piv AS MATERIALIZED (
          SELECT p FROM (SELECT DISTINCT u AS p FROM sym)
          ORDER BY md5(CAST(p AS VARCHAR)), p LIMIT {pivots}),
        v0 AS MATERIALIZED (
          SELECT p, p AS id, CAST(0 AS BIGINT) AS depth FROM piv),
        f0 AS MATERIALIZED (SELECT p, id FROM v0)"""
    bfs = []
    for t in range(1, rounds + 1):
        bfs.append(
            f""",
        f{t} AS MATERIALIZED (
          SELECT DISTINCT f.p, sym.v AS id
          FROM f{t - 1} f JOIN sym ON sym.u = f.id
          WHERE NOT EXISTS (SELECT 1 FROM v{t - 1} vv
                            WHERE vv.p = f.p AND vv.id = sym.v)),
        v{t} AS MATERIALIZED (
          SELECT p, id, depth FROM v{t - 1}
          UNION ALL SELECT p, id, CAST({t} AS BIGINT) FROM f{t})"""
        )
    sig = [
        f""",
        s0 AS MATERIALIZED (
          SELECT p, id, CAST(1 AS BIGINT) AS sigma
          FROM v{rounds} WHERE depth = 0)"""
    ]
    for t in range(1, rounds + 1):
        sig.append(
            f""",
        s{t} AS MATERIALIZED (
          SELECT l.p, l.id, CAST(sum(sp.sigma) AS BIGINT) AS sigma
          FROM (SELECT p, id FROM v{rounds} WHERE depth = {t}) l
          JOIN sym e ON e.v = l.id
          JOIN s{t - 1} sp ON sp.p = l.p AND sp.id = e.u
          GROUP BY l.p, l.id)"""
        )
    dl = [
        f""",
        d{rounds} AS MATERIALIZED (
          SELECT p, id, sigma, CAST(0 AS BIGINT) AS dnano FROM s{rounds})"""
    ]
    for t in range(rounds - 1, -1, -1):
        dl.append(
            f""",
        d{t} AS MATERIALIZED (
          SELECT s.p, s.id, s.sigma,
                 COALESCE(x.dn, CAST(0 AS BIGINT)) AS dnano
          FROM s{t} s LEFT JOIN (
            SELECT sv.p, sv.id,
                   CAST(sum((sv.sigma * (1000000000 + dw.dnano)) // dw.sigma)
                        AS BIGINT) AS dn
            FROM s{t} sv
            JOIN sym e ON e.u = sv.id
            JOIN d{t + 1} dw ON dw.p = sv.p AND dw.id = e.v
            GROUP BY sv.p, sv.id) x
          ON x.p = s.p AND x.id = s.id)"""
        )
    unions = "\n          UNION ALL ".join(
        f"SELECT * FROM d{t}" for t in range(1, rounds + 1)
    )
    tail = f"""
        SELECT id AS user_id,
               CAST(sum(sigma) AS BIGINT) AS sigma_total,
               floor(CAST(sum(dnano) AS DOUBLE) / 1000000000.0 * 1000000 + 0.5)
                 / 1000000.0 AS betweenness
        FROM ({unions})
        GROUP BY id
    """
    return head + "".join(bfs) + "".join(sig) + "".join(dl) + tail


ORACLES_R12["graph_betweenness"] = _betweenness_oracle_sql()


# FULL twin of q_coverage_selection_report: the Nemhauser greedy
# trajectory unrolls as one (gain, pick, covered) CTE triple per step
# (device 7) — NOT-EXISTS anti-membership against the covered shingle
# set, ORDER BY gain DESC, doc_id LIMIT 1 for the deterministic
# argmax (identical to the Spark side's max of (gain, −id) structs),
# pure integer counts throughout. The coverage unit is the word
# 5-gram shingle (the decontaminate_overlap construction, verbatim);
# the empty seed CTE is typed explicitly so the chain of unions stays
# VARCHAR.
_TOKS12 = "string_split_regex(lower(trim(text)), '\\s+')"


def _max_coverage_oracle_sql(k: int = 8) -> str:
    head = f"""
        WITH tk AS (SELECT doc_id, {_TOKS12} AS t FROM documents),
        toks AS MATERIALIZED (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 3),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                         t[i+4]))) AS tok
            FROM tk)),
        c0 AS (SELECT CAST(NULL AS VARCHAR) AS tok WHERE 1 = 0)"""
    steps = []
    for t in range(1, k + 1):
        steps.append(
            f""",
        g{t} AS MATERIALIZED (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
          FROM toks tk
          WHERE NOT EXISTS (SELECT 1 FROM c{t - 1} c WHERE c.tok = tk.tok)
          GROUP BY doc_id),
        p{t} AS MATERIALIZED (
          SELECT doc_id, gain FROM g{t} ORDER BY gain DESC, doc_id LIMIT 1),
        c{t} AS MATERIALIZED (
          SELECT tok FROM c{t - 1}
          UNION
          SELECT tk.tok FROM toks tk JOIN p{t} p ON tk.doc_id = p.doc_id)"""
        )
    unions = "\n        UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS step, doc_id, gain AS marginal_gain, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM c{t}) AS covered_total FROM p{t}"
        for t in range(1, k + 1)
    )
    return head + "".join(steps) + "\n        " + unions


ORACLES_R12["coverage_selection_report"] = _max_coverage_oracle_sql()


# FULL twin of q_walk_skipgram_pairs: the rotor-walk table SQL is
# reused VERBATIM as a nested-WITH subquery (the composition mirrors
# the Spark side composing rotor_walks), then one per-start self-join
# with 1 ≤ |Δstep| ≤ 2 and a pair-keyed count — pure integers.
ORACLES_R12["walk_skipgram_pairs"] = f"""
    WITH wt AS MATERIALIZED ({_rotor_walks_oracle_sql()})
    SELECT a.user_id AS center_id, b.user_id AS context_id,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM wt a JOIN wt b
      ON a.start_user_id = b.start_user_id
     AND abs(a.step - b.step) BETWEEN 1 AND 2
    GROUP BY a.user_id, b.user_id
"""


# FULL twin of q_graph_distance_distribution: the harmonic twin's
# multi-source BFS unroll, rolled up per depth with a cumulative
# window over the ≤ rounds+1 row frame; the effective-diameter flag
# is the integer comparison cum·10 ≥ total·9 (no float threshold) and
# the 6-dp share is the only float.
def _distance_distribution_oracle_sql(pivots: int = 8, rounds: int = 6) -> str:
    from kickstarter_etl_pipeline_spark.oracles_graph_common import (
        cooccurrence_edge_ctes,
    )

    head = f"""
        WITH {cooccurrence_edge_ctes(600000000, nodes="dn", edges="de0", materialized=True)},
        sym AS MATERIALIZED (SELECT u, v FROM de0 UNION SELECT v, u FROM de0),
        piv AS MATERIALIZED (
          SELECT p FROM (SELECT DISTINCT u AS p FROM sym)
          ORDER BY md5(CAST(p AS VARCHAR)), p LIMIT {pivots}),
        v0 AS MATERIALIZED (
          SELECT p, p AS id, CAST(0 AS BIGINT) AS depth FROM piv),
        f0 AS MATERIALIZED (SELECT p, id FROM v0)"""
    steps = []
    for t in range(1, rounds + 1):
        steps.append(
            f""",
        f{t} AS MATERIALIZED (
          SELECT DISTINCT f.p, sym.v AS id
          FROM f{t - 1} f JOIN sym ON sym.u = f.id
          WHERE NOT EXISTS (SELECT 1 FROM v{t - 1} vv
                            WHERE vv.p = f.p AND vv.id = sym.v)),
        v{t} AS MATERIALIZED (
          SELECT p, id, depth FROM v{t - 1}
          UNION ALL SELECT p, id, CAST({t} AS BIGINT) FROM f{t})"""
        )
    tail = f""",
        pd AS (SELECT depth, CAST(count(*) AS BIGINT) AS n_pairs
               FROM v{rounds} GROUP BY depth),
        cm AS (SELECT depth, n_pairs,
                      CAST(sum(n_pairs) OVER (ORDER BY depth
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_pairs,
                      (SELECT CAST(sum(n_pairs) AS BIGINT) FROM pd) AS t
               FROM pd)
        SELECT depth, n_pairs, cum_pairs,
               floor(CAST(cum_pairs AS DOUBLE) / CAST(t AS DOUBLE) * 1000000
                     + 0.5) / 1000000.0 AS cum_share,
               cum_pairs * 10 >= t * 9 AS reaches_p90
        FROM cm
    """
    return head + "".join(steps) + tail


ORACLES_R12["graph_distance_distribution"] = _distance_distribution_oracle_sql()


# FULL twin of q_croston_forecast: device-9 recursive CTE with the
# (z, p, dprev) Croston state as BIGINT columns over the per-part
# demand-day row_number spine; the pivot parts are the 5 smallest by
# (md5(key-as-string), key). α = 1/5 exactly; `//` truncation mirrors
# the Spark decimal divide; gaps are integer epoch-day differences.
ORACLES_R12["croston_forecast"] = """
    WITH RECURSIVE piv AS MATERIALIZED (
      SELECT p_partkey FROM part
      ORDER BY md5(CAST(p_partkey AS VARCHAR)), p_partkey LIMIT 5),
    daily AS MATERIALIZED (
      SELECT l_partkey AS k,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(l_quantity AS DECIMAL(15,2)) * 1000000) AS BIGINT)
               AS y
      FROM lineitem JOIN piv ON l_partkey = p_partkey
      GROUP BY 1, 2),
    ord AS MATERIALIZED (
      SELECT k, d, y,
             CAST(row_number() OVER (PARTITION BY k ORDER BY d) AS BIGINT) AS t
      FROM daily),
    nd AS MATERIALIZED (SELECT k, max(t) AS n FROM ord GROUP BY k),
    cr AS (
      SELECT k, t, y AS z, CAST(1000000 AS BIGINT) AS p, d AS dprev
      FROM ord WHERE t = 1
      UNION ALL
      SELECT o.k, o.t,
             (o.y + 4 * h.z) // 5,
             ((o.d - h.dprev) * 1000000 + 4 * h.p) // 5,
             o.d
      FROM cr h JOIN ord o ON o.k = h.k AND o.t = h.t + 1)
    SELECT h.k AS p_partkey,
           nd.n AS n_demand_days,
           floor(CAST(h.z AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS smoothed_demand,
           floor(CAST(h.p AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS smoothed_interval_days,
           floor(CAST(h.z AS DOUBLE) / CAST(h.p AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS demand_rate_per_day
    FROM cr h JOIN nd ON nd.k = h.k AND h.t = nd.n
"""


# FULL twin of q_weekday_seasonal_decomposition: calendar-paired
# centered 7-day windows (complete windows only), detrended values
# carried as the INTEGER 7·x − Σ7, one IEEE division per weekday.
# DATE + BIGINT is not a DuckDB function — the offset is cast to
# INTEGER (the acf_daily_revenue lesson).
ORACLES_R12["weekday_seasonal_decomposition"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    offs AS (
      SELECT d, d + CAST(r.o AS INTEGER) AS nd
      FROM daily, unnest(range(-3, 4)) AS r(o)),
    win AS (
      SELECT offs.d, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n.cents) AS BIGINT) AS s7
      FROM offs JOIN daily n ON n.d = offs.nd
      GROUP BY offs.d HAVING count(*) = 7),
    centered AS (
      SELECT (CAST(w.d - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow,
             7 * daily.cents - w.s7 AS detr7
      FROM win w JOIN daily ON daily.d = w.d)
    SELECT CAST(dow AS INTEGER) AS dow,
           CAST(count(*) AS BIGINT) AS n_windows,
           floor(CAST(sum(detr7) AS DOUBLE) / CAST(count(*) * 700 AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS seasonal_effect
    FROM centered GROUP BY dow
"""


# FULL twin of q_graph_ktruss: one (degree, orient, wedge, triangle,
# support, filter) CTE block per peel round (device 7), with the same
# degree-ordered triangle enumeration as the user_triangle_counts
# twin — tuple comparisons (d, id) mirror the Spark rank structs —
# and per-edge support via the three least/greatest unordered pairs
# of each triangle. Support is recomputed on the final edge set.
def _ktruss_oracle_sql(k: int = 4, rounds: int = 4) -> str:
    from kickstarter_etl_pipeline_spark.oracles_graph_common import (
        cooccurrence_edge_ctes,
    )

    thr = k - 2

    def block(r: int) -> str:
        return f""",
        deg{r} AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT u AS id FROM e{r} UNION ALL SELECT v FROM e{r}) GROUP BY id),
        or{r} AS MATERIALIZED (
          SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
                 CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst,
                 CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS dst_d
          FROM e{r} JOIN deg{r} du ON du.id = u JOIN deg{r} dv ON dv.id = v),
        tr{r} AS MATERIALIZED (
          SELECT w.a, w.b, w.c FROM (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM or{r} e1 JOIN or{r} e2 ON e1.src = e2.src
            WHERE (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)) w
          JOIN or{r} o ON o.src = w.b AND o.dst = w.c),
        sp{r} AS MATERIALIZED (
          SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
            SELECT least(a, b) AS u, greatest(a, b) AS v FROM tr{r}
            UNION ALL SELECT least(a, c), greatest(a, c) FROM tr{r}
            UNION ALL SELECT least(b, c), greatest(b, c) FROM tr{r})
          GROUP BY u, v)"""

    head = f"""
        WITH {cooccurrence_edge_ctes(1800000000, nodes="kn", edges="e0", materialized=True)}"""
    parts = []
    for r in range(rounds):
        parts.append(block(r))
        parts.append(
            f""",
        e{r + 1} AS MATERIALIZED (
          SELECT e.u, e.v FROM e{r} e
          LEFT JOIN sp{r} s ON s.u = e.u AND s.v = e.v
          WHERE COALESCE(s.sup, 0) >= {thr})"""
        )
    parts.append(block(rounds))
    tail = f"""
        SELECT e.u AS user_u, e.v AS user_v,
               COALESCE(s.sup, CAST(0 AS BIGINT)) AS support
        FROM e{rounds} e
        LEFT JOIN sp{rounds} s ON s.u = e.u AND s.v = e.v
    """
    return head + "".join(parts) + tail


ORACLES_R12["graph_ktruss"] = _ktruss_oracle_sql()


# FULL twin of q_graph_ppr: the unrolled personalized-PageRank
# recurrence from the md5-chosen seed — the pagerank grid device
# (1e-9 snap per round absorbs contribution-sum order noise) with
# restart mass 0.15 written as the LITERAL on both engines and the
# seed's zero row unioned in before the round aggregate so the seed
# survives rounds with no incoming mass, exactly as the Spark side
# unions it.
def _ppr_oracle_sql(iterations: int = 8) -> str:
    from kickstarter_etl_pipeline_spark.oracles_graph_common import (
        cooccurrence_edge_ctes,
    )

    rd9 = "floor(({expr}) * 1000000000 + 0.5) / 1000000000.0"
    head = f"""
        WITH {cooccurrence_edge_ctes(1800000000, nodes="pn", edges="pe0", materialized=True)},
        dedges AS MATERIALIZED (
          SELECT u AS src, v AS dst FROM pe0 UNION ALL SELECT v, u FROM pe0),
        deg AS MATERIALIZED (
          SELECT src, CAST(count(*) AS BIGINT) AS d FROM dedges GROUP BY src),
        seed AS MATERIALIZED (
          SELECT src AS id FROM (SELECT DISTINCT src FROM dedges)
          ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 1),
        p0 AS (SELECT id, """ + rd9.format(expr="1.0") + """ AS pr FROM seed)"""
    steps = []
    for k in range(iterations):
        steps.append(
            f""",
        a{k} AS (
          SELECT id, sum(mi) AS mi FROM (
            SELECT dedges.dst AS id, sum(p.pr / deg.d) AS mi
            FROM dedges JOIN p{k} p ON p.id = dedges.src
                        JOIN deg ON deg.src = dedges.src
            GROUP BY dedges.dst
            UNION ALL SELECT id, 0.0 FROM seed)
          GROUP BY id),
        p{k + 1} AS (
          SELECT a.id, """
            + rd9.format(
                expr="CASE WHEN sd.id IS NOT NULL THEN 0.15 ELSE 0.0 END"
                " + 0.85 * a.mi"
            )
            + f""" AS pr
          FROM a{k} a LEFT JOIN seed sd ON sd.id = a.id)"""
        )
    tail = f"""
        SELECT id AS user_id,
               floor((pr * 1000) * 1000000 + 0.5) / 1000000.0 AS ppr_permille
        FROM p{iterations}
    """
    return head + "".join(steps) + tail


ORACLES_R12["graph_ppr"] = _ppr_oracle_sql()


# FULL twin of q_price_index_report: identical (part, year) exact
# cent/centi-unit aggregates, the same per-term-floor integer cross
# terms (`//` vs Spark DIV — all operands non-negative), and one IEEE
# division per index; Fisher's sqrt is irrational (measure-zero tie
# policy, rounding.py).
ORACLES_R12["price_index_report"] = """
    WITH py AS (
      SELECT l_partkey, year(CAST(l_shipdate AS DATE)) AS yr,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS revc,
             CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) * 100 AS BIGINT)
               AS qcu
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) IN (1997, 1998)
      GROUP BY 1, 2),
    both_y AS (
      SELECT a.revc AS r0, a.qcu AS q0, b.revc AS r1, b.qcu AS q1,
             (b.revc * a.qcu * 10000) // b.qcu AS tl,
             (a.revc * b.qcu * 10000) // a.qcu AS tp
      FROM (SELECT * FROM py WHERE yr = 1997) a
      JOIN (SELECT * FROM py WHERE yr = 1998) b USING (l_partkey)),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts_matched,
             CAST(sum(r0) AS BIGINT) AS sr0, CAST(sum(r1) AS BIGINT) AS sr1,
             CAST(sum(tl) AS BIGINT) AS stl, CAST(sum(tp) AS BIGINT) AS stp
      FROM both_y)
    SELECT n_parts_matched,
           floor(CAST(stl AS DOUBLE) / CAST(sr0 * 10000 AS DOUBLE) * 1000000
                 + 0.5) / 1000000.0 AS laspeyres,
           floor(CAST(sr1 * 10000 AS DOUBLE) / CAST(stp AS DOUBLE) * 1000000
                 + 0.5) / 1000000.0 AS paasche,
           floor(sqrt((CAST(stl AS DOUBLE) / CAST(sr0 * 10000 AS DOUBLE))
                      * (CAST(sr1 * 10000 AS DOUBLE) / CAST(stp AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS fisher
    FROM agg
"""


# FULL twin of q_tail_index_report: identical (price DESC, orderkey)
# total order for the top-201 statistics, the nano-nat log-excess
# grid per term, exact integer sum, single divisions. The CASE guard
# mirrors the Spark when(): NULL alpha iff every top value ties the
# threshold.
ORACLES_R12["tail_index_report"] = """
    WITH topv AS (
      SELECT o_totalprice, o_orderkey FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 201),
    r AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM topv),
    thr AS (SELECT o_totalprice AS tp FROM r WHERE rn = 201),
    agg AS (
      SELECT thr.tp,
             CAST(sum(CAST(floor(ln(r.o_totalprice / thr.tp) * 1000000000
                                 + 0.5) AS BIGINT)) AS BIGINT) AS s
      FROM r CROSS JOIN thr WHERE rn <= 200 GROUP BY thr.tp)
    SELECT CAST(200 AS BIGINT) AS k_top,
           tp AS threshold_price,
           floor(CAST(s AS DOUBLE) / 200000000000.0 * 1000000 + 0.5)
             / 1000000.0 AS hill_mean_log_excess,
           CASE WHEN s <> 0 THEN
             floor(200000000000.0 / CAST(s AS DOUBLE) * 1000000 + 0.5)
               / 1000000.0 END AS tail_alpha
    FROM agg
"""


# FULL twin of q_order_backlog_profile: identical +1/−1 sweep —
# per-day delta aggregate, cumulative sum over the day order, spans
# to the next delta day (last span = 1), peak via max + min-day
# tie-break, time-weighted mean as exact integer area / days.
ORACLES_R12["order_backlog_profile"] = """
    WITH closed AS (
      SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS ship
      FROM lineitem GROUP BY l_orderkey),
    spans AS (
      SELECT CAST(o_orderdate AS DATE) AS s, ship
      FROM orders JOIN closed ON o_orderkey = l_orderkey),
    deltas AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS delta FROM (
        SELECT s AS day, 1 AS d FROM spans
        UNION ALL SELECT ship + CAST(1 AS INTEGER), -1 FROM spans)
      GROUP BY day),
    cum AS (
      SELECT day,
             CAST(sum(delta) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open_n,
             CAST(COALESCE(lead(day) OVER (ORDER BY day) - day, 1) AS BIGINT)
               AS span_days
      FROM deltas),
    stats AS (
      SELECT max(open_n) AS mx,
             CAST(sum(open_n * span_days) AS BIGINT) AS area,
             CAST(sum(span_days) AS BIGINT) AS days
      FROM cum)
    SELECT stats.mx AS peak_open_orders,
           strftime(min(cum.day), '%Y-%m-%d') AS peak_day,
           stats.days AS n_profile_days,
           floor(CAST(stats.area AS DOUBLE) / CAST(stats.days AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS mean_open_orders
    FROM cum CROSS JOIN stats
    WHERE cum.open_n = stats.mx
    GROUP BY stats.mx, stats.area, stats.days
"""

# FULL twin of q_mean_excess_report: the funnel-latency percentile
# pick (rank = ceil(q·n) over the (cents, orderkey) total order) per
# threshold, then exact integer excess sums and one IEEE division
# per mean.
ORACLES_R12["mean_excess_report"] = """
    WITH vals AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
             o_orderkey
      FROM orders),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c, o_orderkey) AS rank,
             count(*) OVER () AS n
      FROM vals),
    thr AS (
      SELECT q.label, r.c AS u
      FROM (VALUES ('p90', 9, 10), ('p95', 19, 20), ('p99', 99, 100))
        q(label, num, den)
      JOIN ranked r ON r.rank = (r.n * q.num + q.den - 1) // q.den)
    SELECT thr.label AS quantile,
           CAST(thr.u AS DOUBLE) / 100.0 AS threshold,
           CAST(count(*) AS BIGINT) AS n_exceed,
           floor(CAST(sum(vals.c - thr.u) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 100.0 * 1000000 + 0.5)
             / 1000000.0 AS mean_excess
    FROM vals JOIN thr ON vals.c > thr.u
    GROUP BY thr.label, thr.u
"""


# FULL twin of q_atkinson_index: identical nano-nat log sums, the
# exp output snapped to 1e-6 BEFORE use (temperature_resample
# device), exact cent means, one IEEE tree.
ORACLES_R12["atkinson_index"] = """
    WITH agg AS (
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS sc,
             CAST(sum(CAST(floor(ln(o_totalprice) * 1000000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS sl
      FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus,
           n AS n_orders,
           floor(CAST(sc AS DOUBLE) / CAST(n * 100 AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS mean_price,
           floor((floor(exp(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)
                            / 1000000000.0) * 1000000.0 + 0.5) / 1000000.0)
                 * 1000000 + 0.5) / 1000000.0 AS geomean_price,
           floor((1.0 - (floor(exp(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)
                                   / 1000000000.0) * 1000000.0 + 0.5)
                         / 1000000.0)
                       / (CAST(sc AS DOUBLE) / CAST(n * 100 AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS atkinson_e1
    FROM agg
"""

# FULL twin of q_activity_decile_lift: native ntile(10) over the
# (−n_events, user_id) total order equals ntile_exact by the pinned
# device; the lift is the integer cross-ratio with one division.
ORACLES_R12["activity_decile_lift"] = """
    WITH pu AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS ne,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS resp
      FROM events GROUP BY user_id),
    g AS (SELECT CAST(count(*) AS BIGINT) AS gu,
                 CAST(sum(resp) AS BIGINT) AS gr FROM pu),
    tiled AS (
      SELECT CAST(ntile(10) OVER (ORDER BY -ne, user_id) AS BIGINT) AS decile,
             resp
      FROM pu)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(resp) AS BIGINT) AS n_responders,
           floor(CAST(sum(resp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000.0 AS response_rate,
           floor(CAST(sum(resp) * g.gu AS DOUBLE)
                 / CAST(count(*) * g.gr AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS lift
    FROM tiled CROSS JOIN g
    GROUP BY decile, g.gu, g.gr
"""


# FULL twin of q_pretraining_manifest: the clean_corpus twin REUSED
# verbatim (imported and re-tailed — the composition mirrors the
# Spark side composing the same operator chain), then the md5-hex
# shard key (the shard_balance device) and an 8-group rollup. The
# mean quality rides exact micro-integers: clean_corpus pins quality
# to the 1e-6 grid, so floor(q·10⁶ + 0.5) is lossless.
def _pretraining_manifest_oracle_sql() -> str:
    from kickstarter_etl_pipeline_spark.oracles_core import ORACLES_CORE

    clean = ORACLES_CORE["clean_corpus"]
    old_tail = (
        "SELECT doc_id, lang, quality, n_chars\n"
        "        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    assert old_tail in clean, "clean_corpus twin tail changed — re-sync manifest"
    new_tail = (
        "SELECT doc_id, quality, CAST(len(toks) AS BIGINT) AS nt\n"
        "        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    base = clean.replace(old_tail, new_tail)
    return f"""
    WITH base AS ({base})
    SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 8 AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           floor(CAST(sum(CAST(floor(quality * 1000000 + 0.5) AS BIGINT))
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS mean_quality
    FROM base
    GROUP BY shard
"""


ORACLES_R12["pretraining_manifest"] = _pretraining_manifest_oracle_sql()
