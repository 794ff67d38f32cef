"""Round-14 DuckDB oracle twins.

Same contract as every other ledger: each entry is the ANSI-SQL twin
of the identically-named ``queries()`` entry, producing IDENTICAL
column names and bit-identical values under the driver normalization
(columns sorted by name, rows sorted, floats repr'd post-rounding).
"""

from __future__ import annotations

from kickstarter_etl_pipeline_spark.constants import (
    BT_ROUNDS,
    KEEP_PER_MILLE,
    PERCEPTRON_EPOCHS,
)

ORACLES_R14: dict[str, str] = {}


# FULL twin of q_events_tws_restart_totals (streaming/tws_recovery.py):
# the two-phase stop/resume replay folds per-user (count, value-sum)
# across a RocksDB-checkpoint restart, so phase 2 emits — for every
# user with events AFTER the integer-µs midpoint cut — the totals over
# ALL their events. Exactly-once: if half A were re-read on resume the
# counts would inflate; if state were lost they would undercount;
# either fails this hash. `(min+max) // 2` is DuckDB's integer
# division, matching the Python `//` the operator uses on the same
# unix_micros values; round(·, 4) is the shared 2dp-value sum snap
# (the events_tws_sessions precedent).
ORACLES_R14["events_tws_restart_totals"] = """
    WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
    c AS (SELECT (min(us) + max(us)) // 2 AS cut FROM e)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_total,
           round(sum(value), 4) AS sum_value
    FROM e, c
    GROUP BY user_id
    HAVING max(CASE WHEN us > cut THEN 1 ELSE 0 END) = 1
"""


# FULL twin of q_events_tws_ttl_counts: two otherwise-identical
# per-user counters, one with a 500 ms TTLConfig. Between the replay's
# phases (a full query teardown + restart, reliably seconds) the TTL'd
# state expires, so for every user active in half B: n_keep = count
# over BOTH halves (no-TTL state survived the restart), n_ttl = count
# over half B alone (TTL'd state evicted). A broken TTL makes
# n_ttl == n_keep and fails this hash; a broken restart breaks n_keep.
ORACLES_R14["events_tws_ttl_counts"] = """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    c AS (SELECT (min(us) + max(us)) // 2 AS cut FROM e)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_keep,
           CAST(sum(CASE WHEN us > cut THEN 1 ELSE 0 END) AS BIGINT) AS n_ttl
    FROM e, c
    GROUP BY user_id
    HAVING sum(CASE WHEN us > cut THEN 1 ELSE 0 END) > 0
"""

# FULL twin of q_preference_dataset_manifest — the composed preference
# unit. The contest derivation and the 8 unrolled integer-micro MM
# rounds are IMPORTED from oracles_r13._bt_oracle_cte (the same WITH
# block grading preference_bt_strengths), so a drifting constituent
# twin fails both queries loudly; only the tail differs: per directed
# (chosen, rejected) cell, pair counts, the last-two-md5-hex ~80/20
# train/val split on the contest key user_id:event_id, and the
# BIGINT-exact calibration micros (empirical n_pref·10⁶ // n_games vs
# fitted s_w·10⁶ // (s_w + s_l), plus their signed gap).
def _preference_manifest_oracle_sql() -> str:
    from kickstarter_etl_pipeline_spark.oracles_r13 import _bt_oracle_cte

    return _bt_oracle_cte() + f""",
    contests AS (
      SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS w,
             CASE WHEN value > pv THEN pt ELSE event_type END AS l,
             substring(md5(user_id || ':' || event_id), 31, 2) AS h2
      FROM lagd
      WHERE pt IS NOT NULL AND value <> pv AND event_type <> pt),
    cells AS (
      SELECT w, l, CAST(count(*) AS BIGINT) AS n_pref,
             CAST(sum(CASE WHEN h2 < 'cc' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train
      FROM contests GROUP BY 1, 2)
    SELECT c.w AS chosen_type, c.l AS rejected_type,
           c.n_pref, g.g AS n_games, c.n_train,
           c.n_pref - c.n_train AS n_val,
           (c.n_pref * 1000000) // g.g AS empirical_micro,
           CAST((sw.s * 1000000) // (sw.s + sl.s) AS BIGINT) AS bt_micro,
           CAST((c.n_pref * 1000000) // g.g
             - (sw.s * 1000000) // (sw.s + sl.s) AS BIGINT) AS gap_micro,
           floor(CAST(sw.s AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS chosen_strength
    FROM cells c
    JOIN games g ON g.i = c.w AND g.j = c.l
    JOIN s{BT_ROUNDS} sw ON sw.t = c.w
    JOIN s{BT_ROUNDS} sl ON sl.t = c.l"""


ORACLES_R14["preference_dataset_manifest"] = _preference_manifest_oracle_sql()


# FULL twins of the model-based curation family
# (operators/classifier.py): the shared WITH block builds the per-mille
# integer feature frame and unrolls the SAME 8 batch-perceptron epochs
# the Spark fit runs — every term an integer product and an exact
# BIGINT sum, no floats anywhere, so the engines land on identical
# weights (the BT-MM discipline; DuckDB sum(BIGINT) → HUGEINT is cast
# back to BIGINT per the r13 gotcha, and every `//` operand is
# non-negative so // == Spark DIV). The trajectory twin reads the
# epoch snapshots; the manifest twin appends the score+select tail to
# the IDENTICAL CTE chain, so a drifting constituent fails both loudly
# (the curation_pack / preference_manifest reuse discipline).
def _perceptron_cte() -> str:
    head = """
    WITH lowd AS (
      SELECT doc_id, lang, source, n_chars, lower(text) AS low
      FROM documents),
    counted AS (
      SELECT doc_id, lang, source, n_chars,
             greatest(1, length(low)) AS d,
             length(low) - length(regexp_replace(low, '[aeiou]', '', 'g')) AS nv,
             length(low) - length(replace(low, ' ', '')) AS nsp,
             length(low) - length(regexp_replace(low, '[jkqxz]', '', 'g')) AS nr,
             length(low) - length(replace(low, 'e', '')) AS ne
      FROM lowd),
    f AS MATERIALIZED (
      SELECT doc_id, lang, source, n_chars,
             CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
             CAST(1000 AS BIGINT) AS x0,
             CAST((nv * 1000) // d AS BIGINT) AS x1,
             CAST((nsp * 1000) // d AS BIGINT) AS x2,
             CAST((nr * 1000) // d AS BIGINT) AS x3,
             CAST((ne * 1000) // d AS BIGINT) AS x4
      FROM counted),
    w0_ AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                   CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
                   CAST(0 AS BIGINT) AS w4)"""
    steps = []
    for r in range(1, PERCEPTRON_EPOCHS + 1):
        prev = "w0_" if r == 1 else f"w{r - 1}_"
        steps.append(f""",
    m{r} AS (
      SELECT f.*, w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2
                  + w.w3 * f.x3 + w.w4 * f.x4 AS mar
      FROM f, {prev} w),
    u{r} AS (
      SELECT CAST(count(*) AS BIGINT) AS nm,
             CAST(coalesce(sum(y * x0), 0) AS BIGINT) AS d0,
             CAST(coalesce(sum(y * x1), 0) AS BIGINT) AS d1,
             CAST(coalesce(sum(y * x2), 0) AS BIGINT) AS d2,
             CAST(coalesce(sum(y * x3), 0) AS BIGINT) AS d3,
             CAST(coalesce(sum(y * x4), 0) AS BIGINT) AS d4
      FROM m{r} WHERE y * mar <= 0),
    w{r}_ AS MATERIALIZED (
      SELECT u.nm, w.w0 + u.d0 AS w0, w.w1 + u.d1 AS w1,
             w.w2 + u.d2 AS w2, w.w3 + u.d3 AS w3, w.w4 + u.d4 AS w4
      FROM {prev} w, u{r} u)"""
        )
    return head + "".join(steps)


def _perceptron_trajectory_sql() -> str:
    rows = "\n    UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS epoch, nm AS n_mistakes,
           w0 AS w_bias, w1 AS w_vowel, w2 AS w_space,
           w3 AS w_rare, w4 AS w_e FROM w{r}_"""
        for r in range(1, PERCEPTRON_EPOCHS + 1)
    )
    return _perceptron_cte() + "\n    " + rows


def _classifier_manifest_sql() -> str:
    # Percentile-calibrated selection, like the Spark side: global
    # (margin DESC, doc_id) total order, keep rank <= (N*600)//1000.
    return _perceptron_cte() + f""",
    scored AS (
      SELECT f.lang, f.source, f.n_chars,
             row_number() OVER (
               ORDER BY w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2
                        + w.w3 * f.x3 + w.w4 * f.x4 DESC, f.doc_id
             ) AS rk
      FROM f, w{PERCEPTRON_EPOCHS}_ w),
    kept AS (
      SELECT lang, source, n_chars,
             CASE WHEN rk <= ((SELECT CAST(count(*) AS BIGINT) FROM f)
                              * {KEEP_PER_MILLE}) // 1000
                  THEN 1 ELSE 0 END AS keep
      FROM scored)
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars,
           (CAST(sum(keep) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT)
             AS kept_per_mille
    FROM kept GROUP BY lang, source"""


ORACLES_R14["quality_perceptron_trajectory"] = _perceptron_trajectory_sql()
ORACLES_R14["classifier_curation_manifest"] = _classifier_manifest_sql()


# FULL twin of q_documents_stream_classifier_scores (train-offline /
# score-online): the batch replay of the identical fit + scoring —
# the SAME unrolled 8-epoch CTE chain (a drifting constituent fails
# the whole family), margins under the epoch-8 weights, grouped on the
# (lang, source) grid. The streaming side must land on identical
# BIGINT margin sums or the stream-side feature expressions / weight
# hand-off drifted from the batch fit.
def _stream_scores_oracle_sql() -> str:
    return _perceptron_cte() + f""",
    smargins AS (
      SELECT f.lang, f.source,
             w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2
               + w.w3 * f.x3 + w.w4 * f.x4 AS mar
      FROM f, w{PERCEPTRON_EPOCHS}_ w)
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mar) AS BIGINT) AS margin_sum,
           CAST(sum(CASE WHEN mar > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive
    FROM smargins GROUP BY lang, source"""


ORACLES_R14["documents_stream_classifier_scores"] = _stream_scores_oracle_sql()
