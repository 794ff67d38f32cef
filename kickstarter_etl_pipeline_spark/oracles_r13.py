"""Round-13 DuckDB oracle twins.

Same contract as every other ledger: each entry is the ANSI-SQL twin
of the identically-named ``queries()`` entry, producing IDENTICAL
column names and bit-identical values under the driver normalization
(columns sorted by name, rows sorted, floats repr'd post-rounding).
"""

from __future__ import annotations
from kickstarter_etl_pipeline_spark.constants import BT_ROUNDS
from kickstarter_etl_pipeline_spark.oracles_core import _TOKS

ORACLES_R13: dict[str, str] = {}



# FULL twin of q_curation_pack_manifest — the composed
# clean→decontaminate→pack→temperature manifest. The clean_corpus twin
# is imported VERBATIM as the base CTE (same device as
# pretraining_manifest: only the tail projection changes, asserted so
# a drifting constituent twin fails loudly at import). Decontamination
# is the decontaminate_overlap construction (word 5-grams, eval
# stratum doc_id % 10 = 0) applied as its documented left-anti
# complement; packing is the pack_sequences cumulative window
# (PARTITION BY source ORDER BY doc_id, 128-token bins); the
# temperature share is the source_mixing_weights sqrt formula.
def _curation_pack_oracle_sql() -> str:
    from kickstarter_etl_pipeline_spark.oracles_core import ORACLES_CORE

    clean = ORACLES_CORE["clean_corpus"]
    old_tail = (
        "SELECT doc_id, lang, quality, n_chars\n"
        "        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    assert old_tail in clean, "clean_corpus twin tail changed — re-sync curation pack"
    new_tail = (
        "SELECT doc_id, toks\n"
        "        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    base = clean.replace(old_tail, new_tail)
    return f"""
    WITH base AS ({base}),
    corpus AS (
      SELECT b.doc_id, d.source, b.toks FROM base b
      JOIN documents d USING (doc_id) WHERE b.doc_id % 10 != 0),
    csh AS (SELECT DISTINCT doc_id, s FROM (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                           toks[i+3], toks[i+4]))) AS s
              FROM corpus)),
    bt AS (SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id % 10 = 0),
    bsh AS (SELECT DISTINCT s FROM (
              SELECT unnest(list_transform(range(1, len(t) - 3),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                    t[i+4]))) AS s
              FROM bt)),
    contaminated AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (s)),
    survivors AS (
      SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens
      FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    packed AS (
      SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM survivors),
    persrc AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN floor((cum - 1) / 128)
                            > floor((cum - n_tokens) / 128)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
      FROM packed GROUP BY source),
    rem AS (SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated
            FROM corpus WHERE doc_id IN (SELECT doc_id FROM contaminated)
            GROUP BY source),
    tot AS (SELECT sum(sqrt(total_tokens)) AS tw FROM persrc)
    SELECT p.source, p.n_docs,
           CAST(coalesce(r.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           p.total_tokens,
           CAST(floor((p.total_tokens - 1) / 128) + 1 AS BIGINT) AS n_windows,
           p.n_boundary_docs,
           floor(sqrt(p.total_tokens) / nullif(t.tw, 0) * 1000000 + 0.5)
             / 1000000.0 AS p_sample
    FROM persrc p LEFT JOIN rem r USING (source), tot t
"""


ORACLES_R13["curation_pack_manifest"] = _curation_pack_oracle_sql()


# FULL twin of q_image_decode_stats: the Spark side PARSES deterministic
# P6 PPM payloads byte-by-byte (real decode); this twin re-derives the
# same stats arithmetically from the generating formula — width 16,
# height clamp(len/48, 1, 32), raster = printable-ASCII-sanitized text
# repeated and truncated to 48·h chars. Char==byte holds because the
# sanitizer maps every non-[\x20-\x7E] codepoint to '?', so DuckDB's
# md5(VARCHAR) (UTF-8 bytes) equals hashlib.md5 of the raster bytes and
# ord() equals the byte value — the frame_dedup_report device, made
# unconditional. Channel sums ride list_transform over stepped ranges
# (no unnest fan-out; lists are ≤512 elements).
ORACLES_R13["image_decode_stats"] = """
    WITH m AS (
      SELECT doc_id,
             greatest(1, least(32, CAST(floor(length(t) / 48) AS INT))) AS h,
             t
      FROM (SELECT doc_id,
                   regexp_replace(text, '[^\\x20-\\x7E]', '?', 'g') AS t
            FROM documents)
      WHERE length(t) > 0),
    r AS (
      SELECT doc_id, h,
             substring(repeat(t, CAST(ceil(CAST(48 * h AS DOUBLE)
                                           / length(t)) AS INT)),
                       1, 48 * h) AS ps
      FROM m)
    SELECT doc_id AS media_id,
           CAST(16 AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(list_aggregate(list_transform(range(0, 48 * h, 3),
                i -> ord(substring(ps, CAST(i + 1 AS INT), 1))), 'sum')
                AS BIGINT) AS sum_r,
           CAST(list_aggregate(list_transform(range(1, 48 * h, 3),
                i -> ord(substring(ps, CAST(i + 1 AS INT), 1))), 'sum')
                AS BIGINT) AS sum_g,
           CAST(list_aggregate(list_transform(range(2, 48 * h, 3),
                i -> ord(substring(ps, CAST(i + 1 AS INT), 1))), 'sum')
                AS BIGINT) AS sum_b,
           md5(ps) AS raster_md5
    FROM r
"""


# FULL twin of q_events_tws_user_profile: the three-state
# StatefulProcessor fold under AvailableNow's single batch equals a
# batch aggregate — total events (ValueState), distinct types + modal
# type with ties to the lexically largest type (MapState iterator →
# max of (count, type), mirrored as ORDER BY c DESC, t DESC),
# and the sum of the 3 most recent values by (us, event_id) DESC
# (ListState keep-3). round(x, 4) matches the processor's Python
# round on the half-even grid the fixtures' 2dp values keep exact.
ORACLES_R13["events_tws_user_profile"] = """
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      epoch_us(ts) AS us FROM events),
    tc AS (SELECT user_id, event_type AS t, CAST(count(*) AS BIGINT) AS c
           FROM e GROUP BY 1, 2),
    top AS (SELECT user_id, t, c,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY c DESC, t DESC) AS rk,
                   CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                     AS n_types
            FROM tc),
    r3 AS (SELECT user_id, round(sum(value), 4) AS recent3_sum FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY us DESC, event_id DESC) AS rk
             FROM e) WHERE rk <= 3 GROUP BY user_id),
    tot AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
            FROM e GROUP BY user_id)
    SELECT t.user_id, t.n_events, p.n_types,
           p.t AS top_type, p.c AS top_type_n, r.recent3_sum
    FROM tot t
    JOIN (SELECT * FROM top WHERE rk = 1) p USING (user_id)
    JOIN r3 r USING (user_id)
"""


# FULL twin of q_events_tws_warm_start: initial state = per-user batch
# purchase count, stream adds one per event — so n_total is exactly
# count(*) + count(purchases) and seeded iff the user had a purchase.
ORACLES_R13["events_tws_warm_start"] = """
    SELECT user_id,
           CAST(count(*) +
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_total,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
             AS seeded
    FROM events GROUP BY user_id
"""


# FULL twin of q_preference_bt_strengths: identical contest derivation
# (consecutive-event pairs per user in (us, event_id) order, higher
# value wins, ties/same-type = no contest) and the identical 8 unrolled
# MM rounds on the integer-micro grid — per-term (g·10¹²) // (s_i+s_j),
# (W·10¹²) // D, then the mean-1 normalization (s'·NS·10⁶) // Σs' with
# the same max(1,·) floors. DuckDB // == Spark DIV on non-negative
# operands; every sum is an exact BIGINT sum, so the engines land on
# identical micros.
def _bt_oracle_cte() -> str:
    """The shared Bradley-Terry WITH-block (contest derivation + the
    unrolled integer-micro MM rounds), reused by BOTH preference twins:
    preference_bt_strengths appends its strengths tail here, and
    oracles_r14.preference_dataset_manifest appends the per-pair
    manifest tail — the curation_pack constituent-reuse discipline.
    lagd carries user_id/event_id so the manifest's md5 split key can
    be derived from the same frame."""
    head = """
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      epoch_us(ts) AS us FROM events),
    lagd AS (SELECT user_id, event_id, event_type, value,
                    lag(event_type) OVER w AS pt, lag(value) OVER w AS pv
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    wl AS MATERIALIZED (
      SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS w,
             CASE WHEN value > pv THEN pt ELSE event_type END AS l,
             CAST(count(*) AS BIGINT) AS n
      FROM lagd
      WHERE pt IS NOT NULL AND value <> pv AND event_type <> pt
      GROUP BY 1, 2),
    games AS MATERIALIZED (
      SELECT i, j, CAST(sum(n) AS BIGINT) AS g FROM (
        SELECT w AS i, l AS j, n FROM wl
        UNION ALL SELECT l AS i, w AS j, n FROM wl)
      GROUP BY 1, 2),
    types AS (SELECT DISTINCT i AS t FROM games),
    wins AS MATERIALIZED (
      SELECT t, CAST(coalesce(sum(n), 0) AS BIGINT) AS wi
      FROM types LEFT JOIN wl ON wl.w = t GROUP BY t),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM types),
    s0 AS (SELECT t, CAST(1000000 AS BIGINT) AS s FROM types)"""
    steps = []
    for r in range(1, BT_ROUNDS + 1):
        steps.append(f""",
    d{r} AS MATERIALIZED (
      SELECT g.i AS t,
             CAST(sum((g.g * 1000000000000) // (si.s + sj.s)) AS BIGINT) AS d
      FROM games g
      JOIN s{r - 1} si ON si.t = g.i
      JOIN s{r - 1} sj ON sj.t = g.j
      GROUP BY g.i),
    r{r} AS MATERIALIZED (
      SELECT w.t,
             greatest(CAST(1 AS BIGINT), (w.wi * 1000000000000) // d.d) AS sr
      FROM wins w JOIN d{r} d ON d.t = w.t),
    s{r} AS MATERIALIZED (
      SELECT r.t,
             greatest(CAST(1 AS BIGINT),
                      (r.sr * ns.ns * 1000000)
                        // (SELECT sum(sr) FROM r{r})) AS s
      FROM r{r} r, ns)"""
        )
    return head + "".join(steps)


def _bt_oracle_sql() -> str:
    tail = f"""
    SELECT s.t AS event_type, w.wi AS n_wins,
           (SELECT CAST(sum(g) AS BIGINT) FROM games WHERE i = s.t) AS n_games,
           floor(CAST(s.s AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000.0
             AS strength
    FROM s{BT_ROUNDS} s JOIN wins w ON w.t = s.t"""
    return _bt_oracle_cte() + tail


ORACLES_R13["preference_bt_strengths"] = _bt_oracle_sql()
