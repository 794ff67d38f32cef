"""Late round-14 DuckDB oracle twins (the "r15" ledger label —
the r14 ledger was sealed by the mid-round CERTIFY_r14 artifacts;
these entries are graded by the r14 window).

Same contract as every other ledger: each entry is the ANSI-SQL twin
of the identically-named ``queries()`` entry, producing IDENTICAL
column names and bit-identical values under the driver normalization
(columns sorted by name, rows sorted, floats repr'd post-rounding).
"""

from __future__ import annotations

from kickstarter_etl_pipeline_spark.constants import BPE_ROUNDS

ORACLES_R15: dict[str, str] = {}


# FULL twin of q_bpe_train_merges: the 8 BPE training rounds unrolled
# as a CTE chain. Each round r: p{r} = corpus-frequency-weighted
# adjacent-pair counts over the current symbolization v{r-1};
# b{r} = the 1-row argmax (count DESC, lhs, rhs); v{r} = every word's
# symbol string with the winning merge applied via the SAME
# left-to-right string fold the Spark operator runs (accumulator keeps
# every symbol space-prefixed, so ends_with(acc, ' '||lhs) tests the
# LAST SYMBOL exactly and appending rhs with no space forms the merged
# token; a fresh merge can never re-match lhs because lhs||rhs has no
# internal space — 'a a a' + (a,a) → 'aa a'). m{r} re-derives
# symbols_after from v{r}, so a selection-only replay that skipped the
# application step cannot hash-match. v{r} is MATERIALIZED because it
# feeds both p{r+1} and m{r}'s scalar subquery (device 7).
def _bpe_train_cte() -> str:
    """The shared WITH chain: toks → v0 (word-frequency table, each
    word as a space-joined symbol string, carrying the word itself so
    the tokenized-stats tail can join the corpus back to its
    tokenization) → per round r: p{r}/b{r}/v{r}/m{r}. Both late-r14
    BPE twins append their tails to THIS chain (the _bt_oracle_cte
    reuse discipline: a drifting constituent fails both loudly)."""
    head = """
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents),
    v0 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq
      FROM toks WHERE length(w) >= 2 GROUP BY w)"""
    steps = []
    for r in range(1, BPE_ROUNDS + 1):
        steps.append(f""",
    p{r} AS (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
             CAST(sum(freq) AS BIGINT) AS pair_count
      FROM (SELECT freq, string_split(seq, ' ') AS syms FROM v{r - 1}),
           UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
      GROUP BY 1, 2),
    b{r} AS (SELECT lhs, rhs, pair_count FROM p{r}
             ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
    v{r} AS MATERIALIZED (
      SELECT w, freq,
             ltrim(list_reduce(list_prepend('', string_split(seq, ' ')),
               (acc, s) -> CASE
                 WHEN ends_with(acc, ' ' || b.lhs) AND s = b.rhs
                 THEN acc || b.rhs
                 ELSE acc || ' ' || s END)) AS seq
      FROM v{r - 1}, b{r} b),
    m{r} AS (
      SELECT CAST({r} AS INTEGER) AS merge_rank, lhs, rhs,
             lhs || rhs AS merged, pair_count,
             (SELECT CAST(sum(freq * len(string_split(seq, ' '))) AS BIGINT)
              FROM v{r}) AS symbols_after
      FROM b{r})""")
    return head + "".join(steps)


def _bpe_train_oracle_sql() -> str:
    return (
        _bpe_train_cte()
        + "\n    SELECT * FROM ("
        + " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, BPE_ROUNDS + 1))
        + ") ORDER BY merge_rank"
    )


ORACLES_R15["bpe_train_merges"] = _bpe_train_oracle_sql()


# FULL twin of q_bpe_tokenized_stats — the composed train→apply→
# measure unit. The 8 training rounds are IMPORTED verbatim from
# _bpe_train_cte (the same chain grading bpe_train_merges); the tail
# re-walks the corpus words, joins each instance to its v8
# tokenization, and aggregates the tokenizer-quality grid. The micro
# ratios use `//` on non-negative BIGINTs (== Spark DIV); DuckDB
# sum(BIGINT) → HUGEINT is cast back per the r13 gotcha.
def _bpe_stats_oracle_sql() -> str:
    return _bpe_train_cte() + f""",
    docw AS (
      SELECT lang, source, w FROM (
        SELECT lang, source,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents)
      WHERE length(w) >= 2),
    grid AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(len(string_split(v.seq, ' '))) AS BIGINT) AS bpe_tokens,
             CAST(sum(length(docw.w)) AS BIGINT) AS n_chars
      FROM docw JOIN v{BPE_ROUNDS} v USING (w)
      GROUP BY 1, 2)
    SELECT lang, source, n_words, bpe_tokens, n_chars,
           (bpe_tokens * 1000000) // n_words AS fertility_micro,
           (bpe_tokens * 1000000) // n_chars AS compression_micro
    FROM grid"""


ORACLES_R15["bpe_tokenized_stats"] = _bpe_stats_oracle_sql()


# FULL twin of q_bpe_pack_manifest — the third composed BPE unit.
# The 8 training rounds come verbatim from _bpe_train_cte; the tail
# sizes every document in learned-tokenizer tokens (per-token join to
# v8; sub-2-char words count 1 symbol via the LEFT join coalesce) and
# replays the concat-and-split packing rule (the pack_sequences
# window arithmetic) under those counts.
def _bpe_pack_oracle_sql() -> str:
    return _bpe_train_cte() + f""",
    dw AS (
      SELECT doc_id, source,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
      FROM documents),
    sized AS (
      SELECT doc_id, any_value(source) AS source,
             CAST(sum(coalesce(len(string_split(v.seq, ' ')), 1)) AS BIGINT)
               AS n_bpe_tokens
      FROM dw LEFT JOIN v{BPE_ROUNDS} v USING (w)
      GROUP BY doc_id),
    c AS (
      SELECT *, sum(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM sized)
    SELECT doc_id, source, n_bpe_tokens,
           CAST(floor((cum - n_bpe_tokens) / 128) AS BIGINT) AS bin_id,
           CAST((cum - n_bpe_tokens) % 128 AS BIGINT) AS bin_offset,
           floor((cum - 1) / 128) > floor((cum - n_bpe_tokens) / 128)
             AS spans_boundary
    FROM c"""


ORACLES_R15["bpe_pack_manifest"] = _bpe_pack_oracle_sql()


# FULL twin of q_recursive_cte_ancestor_paths: the IDENTICAL recursive
# SQL (modulo the view name and DuckDB's `//` for DIV) — both engines
# run genuine recursion over the same deterministic 4-ary taxonomy.
ORACLES_R15["recursive_cte_ancestor_paths"] = """
    WITH RECURSIVE nodes AS (
      SELECT CAST(p_partkey AS BIGINT) AS id,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part),
    walk(id, depth, path_cents) AS (
      SELECT id, 0, cents FROM nodes WHERE id = 0
      UNION ALL
      SELECT c.id, w.depth + 1, w.path_cents + c.cents
      FROM walk w
      JOIN nodes c ON c.id >= 1 AND CAST((c.id - 1) // 4 AS BIGINT) = w.id
    )
    SELECT id, depth, path_cents FROM walk
"""


# FULL twin of q_pipe_syntax_pricing: the STANDARD-form SQL the pipe
# dialect must lower to — the grade proves dialect equivalence.
ORACLES_R15["pipe_syntax_pricing"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l_quantity), 4) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price
    FROM lineitem
    WHERE l_quantity >= 10
    GROUP BY 1, 2
    HAVING count(*) > 0
"""


# FULL twin of q_collated_dedup_counts: the normalize-then-distinct
# form the collated path must equal (lower() over the same
# deterministically case-varied text).
ORACLES_R15["collated_dedup_counts"] = """
    WITH keyed AS (
      SELECT lang, doc_id,
             string_split_regex(trim(text), '\\s+')[1] AS k
      FROM documents),
    varied AS (
      SELECT lang,
             CASE WHEN doc_id % 2 = 1 THEN upper(k) ELSE k END AS varied
      FROM keyed)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT varied) AS BIGINT) AS n_binary_distinct,
           CAST(count(DISTINCT lower(varied)) AS BIGINT) AS n_ci_distinct
    FROM varied
    GROUP BY 1
"""


# FULL twin of q_lateral_topn_orders: the IDENTICAL lateral SQL —
# both engines run a genuine correlated LATERAL with ORDER+LIMIT.
ORACLES_R15["lateral_topn_orders"] = """
    SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
    FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_orderpriority = p.o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l
"""


# FULL twin of q_sql_scripting_rollup: the scripting block's session
# variable inlined as a scalar subquery — the cutoff is an
# exactly-stored double (100th highest price), so the strict
# inequality partitions rows identically in both engines.
ORACLES_R15["sql_scripting_rollup"] = """
    WITH c AS (SELECT o_totalprice AS cutoff FROM orders
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 1 OFFSET 99)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_above,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
             AS DOUBLE) AS total_above
    FROM orders, c WHERE o_totalprice > cutoff
    GROUP BY o_orderpriority
"""


# FULL twin of q_events_tws_state_at_rest: the state store after a
# half-A-only run holds exactly the half-A per-user fold, so the twin
# is the batch aggregate below the integer-µs midpoint cut (same cut
# arithmetic / 4dp snap as the restart twin).
ORACLES_R15["events_tws_state_at_rest"] = """
    WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
    c AS (SELECT (min(us) + max(us)) // 2 AS cut FROM e)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_total,
           round(sum(value), 4) AS sum_value
    FROM e, c
    WHERE us <= cut
    GROUP BY user_id
"""


# FULL twin of q_documents_stream_near_dup: the exact even↔odd pair
# scan at threshold 0.8 — the streamed LSH+verify pipeline equals it
# because banding recall ≈ 1 at 0.8 (the minhash_dedup_pairs S-curve
# bound; same jaccard snap and shingle derivation).
ORACLES_R15["documents_stream_near_dup"] = """
    WITH toks AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\\s+') AS t
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id,
                    unnest(list_transform(range(1, len(t) - 1),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
             FROM toks)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS n_common
              FROM sh a JOIN sh b
                ON a.s = b.s AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5)
             / 1000000.0 AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5)
            / 1000000.0 >= 0.8
"""


# FULL twin of q_events_stream_state_split (streaming/state_inspect.py):
# append-mode emission replay — a window row is 'emitted' iff its end
# is at or below the global watermark (ms-truncated max event time −
# 1 h, the events_stream_hourly_daily convention), else it is still
# held in the state store and surfaces through the State Data Source
# as 'open'. Both sides carry the same batch aggregate values, so a
# lost state row, a phantom emission, or a watermark drift each fails
# the hash.
ORACLES_R15["events_stream_state_split"] = """
    WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
    wm AS (SELECT CAST(floor(max(us) / 1000) AS BIGINT) - 3600000 AS wm_ms
           FROM e),
    hourly AS (
      SELECT date_trunc('hour', make_timestamp(us)) AS h, event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 4) AS sum_value
      FROM e GROUP BY 1, 2)
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket_start, event_type,
           n_events, sum_value,
           CASE WHEN epoch_ms(h + INTERVAL 1 HOUR) <= wm_ms
                THEN 'emitted' ELSE 'open' END AS phase
    FROM hourly, wm
"""


# FULL twin of q_events_tws_evolved_totals (streaming/tws_recovery.py):
# the two-phase replay resumes the phase-1 checkpoint with the state
# schema WIDENED (n) → (n, s) under the Avro encoding, so for every
# user with events after the integer-µs midpoint cut: n_total spans
# BOTH halves (the old field must survive evolution), sum_b_value
# spans half B alone (the added field is Avro-defaulted to NULL at
# evolution time). State loss undercounts n_total; a half-A re-read
# inflates both; a non-null default corrupts sum_b_value — each fails
# this hash. Same cut arithmetic / 4dp snap as the restart twin.
ORACLES_R15["events_tws_evolved_totals"] = """
    WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
    c AS (SELECT (min(us) + max(us)) // 2 AS cut FROM e)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_total,
           round(sum(CASE WHEN us > cut THEN value ELSE 0 END), 4)
             AS sum_b_value
    FROM e, c
    GROUP BY user_id
    HAVING max(CASE WHEN us > cut THEN 1 ELSE 0 END) = 1
"""


# FULL twin of q_dpp_join_prune_agg (plans/warehouse_queries.py): the
# hive-partitioned write→read round-trip is values-transparent (the
# partitioned_prune_agg precedent), so the twin is the same dim-join
# aggregate on the plain orders table. year() is BIGINT in DuckDB —
# cast to INTEGER to match Spark's year() INT.
ORACLES_R15["dpp_join_prune_agg"] = """
    WITH dim AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS dim_year,
             CAST(count(*) AS BIGINT) AS n_year
      FROM orders GROUP BY 1 HAVING (dim_year % 2) = 0)
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price,
           max(n_year) AS n_year
    FROM orders JOIN dim ON CAST(year(o_orderdate) AS INTEGER) = dim.dim_year
    GROUP BY 1, 2
"""
