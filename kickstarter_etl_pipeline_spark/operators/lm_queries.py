"""Round-7 LM-data-prep and scale-infrastructure queries.

Each query has a full DuckDB oracle twin (in TWINS, beside the query)
and follows the repo's determinism rules: exact integer/decimal
aggregation, transcendentals snapped to integer grids BEFORE
aggregation (the two-level-grid recipe from NOTES.md), identical IEEE
expression trees on both engines, rankings totally ordered by
(value, id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark import qdefs_embeddings
from kickstarter_etl_pipeline_spark.constants import (
    BENFORD_P,
    BT_ROUNDS,
    RAKE_STOPWORDS,
)
from kickstarter_etl_pipeline_spark.operators import text as TX
from kickstarter_etl_pipeline_spark.operators.partitioning import materialize
from kickstarter_etl_pipeline_spark.operators.ranking import (
    bigint,
    collect_control,
    collected_offsets,
    control_frame,
    grouped_two_phase_rank,
    ntile_exact,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.twin_sql import _TOKS


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


def _embedding_dim_m2_mad4(emb: DataFrame) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """Shared spine of the robust-scaling family: integer-grid points
    (vec_id, _d, _x), per-dim ``(n, m2 = min+max of the middle values)``
    medians, and per-dim ``mad4 = 4·MAD`` in grid units — all exact
    longs via the grouped two-phase-rank middle-selection described in
    :func:`q_embedding_dim_robust_stats`. Returns (meds, mads, pts)."""
    pts = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda v: F.floor(v.cast("double") * 1e6 + F.lit(0.5)).cast("long"),
            )
        ).alias("_d", "_x"),
    )

    def middle_pair_sum(df: DataFrame, vcol: str) -> DataFrame:
        lr = F.col("rank_in_group")
        mid = grouped_two_phase_rank(df, ["_d"], [vcol, "vec_id"], n_col="_n").filter(
            (lr == F.floor((F.col("_n") + 1) / 2))
            | (lr == F.floor((F.col("_n") + 2) / 2))
        )
        return mid.groupBy("_d").agg(
            F.max("_n").cast("long").alias("n"),
            (F.min(vcol) + F.max(vcol)).cast("long").alias("m2"),
        )

    meds = middle_pair_sum(pts, "_x")
    dev = pts.join(F.broadcast(meds.select("_d", "m2")), "_d").select(
        "vec_id",
        "_d",
        F.abs(F.lit(2) * F.col("_x") - F.col("m2")).cast("long").alias("_dev2"),
    )
    mads = middle_pair_sum(dev, "_dev2").select(F.col("_d"), F.col("m2").alias("mad4"))
    return meds, mads, pts


def q_embedding_dim_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension EXACT median and MAD (median absolute deviation)
    of the embedding corpus — the robust-scaling / outlier-resistant
    normalization profile (the companion to embedding_dim_stats'
    mean/variance, which one corrupted vector can drag arbitrarily).

    Scalable exact GROUPED median: instead of a per-group window sort
    (one task per dimension holding corpus/64 rows — the ceiling the
    exact_median_by_group tier documents), rows range-partition
    GLOBALLY on (dim, value, id) via :func:`.ranking.two_phase_rank`; the
    per-dim rank is the global rank minus a broadcast per-dim offset
    (64-row control frame), and the median is the classic middle-rank
    selection. MAD repeats the same machinery on |2x − median·2| —
    kept integer by carrying the median as min+max of the middle pair
    (×2) and deviations ×2, so every cross-engine comparison is exact
    long arithmetic; the only doubles are the final display divisions.
    Everything on the 1e-6 embedding grid.

    At 100 TB: two balanced range exchanges + two 64-row control
    windows — no task ever holds a dimension's full column."""
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det  # noqa: F401

    emb = load_table(spark, sf_dir, "embeddings")
    meds, mads, _ = _embedding_dim_m2_mad4(emb)
    return (
        meds.join(mads, "_d")
        .select(
            F.col("_d").cast("int").alias("dim_idx"),
            F.col("n").alias("n_vectors"),
            F.col("m2").alias("median_x2"),
            F.col("mad4").alias("mad_x4"),
            (F.col("m2").cast("double") / 2.0 / 1e6).alias("median_value"),
            (F.col("mad4").cast("double") / 4.0 / 1e6).alias("mad_value"),
        )
    )


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


TWINS["embedding_dim_robust_stats"] = f"""
    WITH {_ROBUST_SPINE}
    SELECT CAST(m1.d - 1 AS INTEGER) AS dim_idx,
           m1.n AS n_vectors,
           m1.m2 AS median_x2,
           m2t.mad4 AS mad_x4,
           CAST(m1.m2 AS DOUBLE) / 2.0 / 1000000.0 AS median_value,
           CAST(m2t.mad4 AS DOUBLE) / 4.0 / 1000000.0 AS mad_value
    FROM m1 JOIN m2t USING (d)
"""


def q_embedding_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-vector outlier screening — the corrupted-embedding
    detector run before ANN indexing / centroid training (mean/σ
    screens fail exactly when outliers are present; median/MAD do
    not). A dimension flags when |x − median| > 3.5·MAD, evaluated in
    EXACT integer arithmetic on the grid spine: with m2 = 2·median and
    mad4 = 4·MAD (both exact longs from the robust-stats pass), the
    test |x − med| > 3.5·MAD ⇔ 4·|2x − m2| > 7·mad4 — no float ever
    decides a flag. Per vector: flagged-dimension count, an is_outlier
    verdict (≥ 8 of 64 dims), and the max robust z (2·dev2/mad4, one
    IEEE division per dim, 6-dp grid; degenerate mad4 = 0 dims yield
    NULL via try_divide and drop out of the max). One broadcast join
    of the 64-row stats onto the point frame + one per-vector
    aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    meds, mads, pts = _embedding_dim_m2_mad4(emb)
    stats = meds.select("_d", "m2").join(mads, "_d")
    dev2 = F.abs(F.lit(2) * F.col("_x") - F.col("m2")).cast("long")
    flagged = pts.join(F.broadcast(stats), "_d").select(
        "vec_id",
        dev2.alias("_dev2"),
        "mad4",
    )
    is_out = (F.lit(4) * F.col("_dev2") > F.lit(7) * F.col("mad4")).cast("int")
    return (
        flagged.groupBy("vec_id")
        .agg(
            F.sum(is_out).cast("long").alias("n_outlier_dims"),
            round_det(
                F.max(F.try_divide(F.lit(2.0) * F.col("_dev2"), F.col("mad4"))), 6
            ).alias("max_robust_z"),
        )
        .select(
            "vec_id",
            "n_outlier_dims",
            (F.col("n_outlier_dims") >= 8).cast("int").alias("is_outlier"),
            "max_robust_z",
        )
    )


# FULL twin of q_embedding_outlier_report: a dimension flags iff
# 4*|2x - m2| > 7*mad4 (the exact-integer form of |x - med| >
# 3.5*MAD); the max robust z is one IEEE division per dim with
# NULLIF/try_divide parity on degenerate (mad4 = 0) dimensions.
TWINS["embedding_outlier_report"] = f"""
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


def q_price_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile banding at scale: every order assigned its
    ntile(100) price percentile band WITHOUT a single-task global sort
    — global rank via :func:`.ranking.two_phase_rank` (balanced range
    exchanges), band via the exact front-loaded tile rule
    (ranking.ntile_exact, bit-identical to the oracle's
    ntile(100)), n from a one-row broadcast of the max rank. Per band:
    order count, min/max price (raw stored doubles — bit-equal on both
    engines) and the exact-decimal price sum. The distributed twin of
    the quantile table every data-quality / pricing dashboard wants,
    at the cardinality (100 bands) a 100 TB fact still supports."""

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = two_phase_rank(orders, ["o_totalprice", "o_orderkey"])
    n_row = F.broadcast(ranked.agg(F.max("rank").alias("_n")))
    return (
        ranked.crossJoin(n_row)
        .select(
            ntile_exact(F.col("rank"), F.col("_n"), 100).alias("band"),
            "o_totalprice",
        )
        .groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
    )


# FULL twin of q_price_percentile_bands: the two-phase rank + exact
# tile arithmetic must reproduce a plain ntile(100) over the same
# deterministic (price, orderkey) total order; band rollups are exact
# (counts, raw stored doubles, decimal sums).
TWINS["price_percentile_bands"] = """
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


def q_scalable_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every user's event-count rank ascending (count, then user_id)
    via :func:`.ranking.two_phase_rank` — bit-identical to a plain global
    row_number, which is exactly what the oracle replays."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))
    return two_phase_rank(per_user, ["n", "user_id"]).select("user_id", "n", "rank")


# FULL twin of q_scalable_rank_events: the two-phase distributed rank
# must be bit-identical to a plain global row_number over the same
# total order — that equivalence IS the correctness contract.
TWINS["scalable_rank_events"] = """
    WITH per_user AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
                      FROM events GROUP BY user_id)
    SELECT user_id, n,
           CAST(row_number() OVER (ORDER BY n, user_id) AS BIGINT) AS rank
    FROM per_user
"""


def q_token_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-coverage curve for tokenizer/vocabulary sizing: for each of
    the top-25 most frequent tokens (count DESC, token ASC), the
    cumulative number of corpus token occurrences covered and the
    cumulative share of ALL occurrences — the "how much of the corpus
    does a k-entry vocab cover" table read before fixing a vocab size.

    One uniform-key aggregate (token counts) → TakeOrdered(25) → a
    25-row cumulative window + one-row broadcast total. The corpus
    total is over ALL tokens, not the head — the share curve is
    honest about the tail it excludes.
    """
    from kickstarter_etl_pipeline_spark.operators.text import token_frequency

    docs = load_table(spark, sf_dir, "documents")
    freq = token_frequency(docs)
    total = F.broadcast(freq.agg(F.sum("n_occurrences").cast("long").alias("_total")))
    top = (
        freq.orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(25)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n_occurrences"), F.asc("token")))
            .cast("int"),
        )
    )
    wcum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.withColumn("cum_occurrences", F.sum("n_occurrences").over(wcum).cast("long"))
        .crossJoin(total)
        .select(
            "rank",
            "token",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            "cum_occurrences",
            round_det(F.col("cum_occurrences") / F.col("_total"), 6).alias("cum_share"),
        )
    )


# FULL twin of q_token_coverage_topk.
TWINS["token_coverage_topk"] = f"""
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


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch purchase attribution: for every
    purchase event, the FIRST and the LAST non-purchase event type the
    same user generated strictly before it (event-time order, event_id
    tie-break); purchases with no prior touch attribute to '(none)'.
    Output = per channel, how many purchases it gets under each model —
    the classic marketing-attribution disagreement table.

    One pass: both touches come from the SAME per-user ordered window
    (first/last with ignorenulls over UNBOUNDED PRECEDING..1 PRECEDING)
    — no self-join, no per-purchase rescan. Shuffle is keyed by
    user_id (uniform); the channel rollup is a low-cardinality
    aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    wp = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    purchases = (
        ev.withColumn("_first", F.first(touch, ignorenulls=True).over(wp))
        .withColumn("_last", F.last(touch, ignorenulls=True).over(wp))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("_first"), F.lit("(none)")).alias("first_touch"),
            F.coalesce(F.col("_last"), F.lit("(none)")).alias("last_touch"),
        )
    )
    first_counts = purchases.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count("*").cast("long").alias("n_first_touch")
    )
    last_counts = purchases.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count("*").cast("long").alias("n_last_touch")
    )
    return (
        first_counts.join(last_counts, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("n_first_touch", F.lit(0)).cast("long").alias("n_first_touch"),
            F.coalesce("n_last_touch", F.lit(0)).cast("long").alias("n_last_touch"),
        )
    )


# FULL twin of q_touch_attribution.
TWINS["touch_attribution"] = """
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


def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source re-weighting (the T5/multilingual
    mixing rule, Raffel et al. 2020 §3.4.3: sample source s with
    probability ∝ p_s^τ, τ = 0.7): per source, the corpus share and
    the temperature-flattened resampling share — the table a data
    scheduler consumes to up-sample tail sources.

    Determinism (two-level grid, NOTES.md): p^0.7 = exp(0.7·ln p);
    ln p is snapped to an exact 1e-9 integer grid L, the scaled value
    is floor of the IEEE double quotient 7·L/10 (7·L stays below 2^53
    so the product is exact and the correctly-rounded division gives
    the same floor on both engines — NOT an integer division, which
    would truncate negative L toward zero and change values), exp'd,
    and the weight snapped to an exact 1e-6 integer grid — integer
    SUMS are then exact, and the final share is one IEEE division +
    6-dp grid, identical on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    total = F.broadcast(docs.agg(F.count("*").cast("long").alias("_n")))
    # L = floor(ln(p)*1e9 + 0.5); M = floor(7*L/10); W = floor(exp(M/1e9)*1e6 + 0.5)
    weighted = counts.crossJoin(total).withColumn(
        "_w",
        F.floor(
            F.exp(
                F.floor(
                    F.lit(7)
                    * F.floor(F.log(F.col("n_docs") / F.col("_n")) * 1e9 + 0.5)
                    / 10
                )
                / F.lit(1e9)
            )
            * 1e6
            + 0.5
        ).cast("long"),
    )
    wsum = F.broadcast(weighted.agg(F.sum("_w").cast("long").alias("_wsum")))
    return (
        weighted.crossJoin(wsum)
        .select(
            "source",
            "n_docs",
            round_det(F.col("n_docs") / F.col("_n"), 6).alias("corpus_share"),
            round_det(F.col("_w") / F.col("_wsum"), 6).alias("resample_share"),
        )
    )


# FULL twin of q_temperature_resample. Grid bookkeeping matches the
# Spark side symbol for symbol:
#   L = floor(ln(n/N)*1e9 + 0.5); M = floor(7*L/10);
#   W = floor(exp(M/1e9)*1e6 + 0.5); share = round6(W / sum(W)).
TWINS["temperature_resample"] = """
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


def q_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1998 eq. 4.25, absolute discount D = 0.75) for the
    top-50 corpus bigrams — the smoothing every classic LM-data quality
    filter (and KenLM-style perplexity scorer) is built on:

        P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
                 + D·N1+(w1·)/c(w1·) · N1+(·w2)/T

    where N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    left-contexts of w2 (the continuation probability), T = distinct
    bigram types. EVERYTHING is a ratio of exact integer counts and
    D = 0.75 is exact binary, so both engines evaluate the identical
    IEEE expression tree — bit-equal before the final 6-dp grid.

    Shape: one explode to adjacent in-word token pairs → one bigram
    count aggregate (uniform keys) → two small grouped tables (per-w1,
    per-w2 stats) equi-joined back + a one-row broadcast scalar T.
    Top-50 by (count DESC, w1, w2) via TakeOrdered.
    """
    docs = load_table(spark, sf_dir, "documents")
    # size >= 2 guard: ANSI sequence(1, 0) counts DOWN (the r5 shingle
    # trap) — single-token docs must contribute no pairs, not a reversed
    # range.
    toks = docs.select(TX.tokens().alias("_t")).filter(F.expr("size(_t) >= 2"))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(_t) - 1), i -> struct(_t[i-1] AS w1, _t[i] AS w2))"
            )
        ).alias("_b")
    ).select("_b.w1", "_b.w2")
    c12 = bigrams.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n_bigram"))
    by_w1 = c12.groupBy("w1").agg(
        F.sum("n_bigram").cast("long").alias("_c1"),
        F.count("*").cast("long").alias("_n1fwd"),
    )
    by_w2 = c12.groupBy("w2").agg(F.count("*").cast("long").alias("_nback"))
    types = F.broadcast(c12.agg(F.count("*").cast("long").alias("_T")))
    scored = (
        c12.join(by_w1, "w1")
        .join(by_w2, "w2")
        .crossJoin(types)
        .select(
            "w1",
            "w2",
            "n_bigram",
            round_det(
                F.greatest(F.col("n_bigram") - 0.75, F.lit(0.0)) / F.col("_c1")
                + F.lit(0.75)
                * F.col("_n1fwd")
                / F.col("_c1")
                * (F.col("_nback") / F.col("_T")),
                6,
            ).alias("p_kn"),
        )
    )
    return (
        scored.orderBy(F.desc("n_bigram"), F.asc("w1"), F.asc("w2"))
        .limit(50)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n_bigram"), F.asc("w1"), F.asc("w2")))
            .cast("int"),
        )
        .select("rank", "w1", "w2", "n_bigram", "p_kn")
    )


# FULL twin of q_kneser_ney_bigrams. The discounted probability is a
# pure ratio tree of exact BIGINT counts with D = 0.75 (exact binary):
# both engines evaluate greatest(c12-0.75,0)/c1 + 0.75*n1f/c1*(nb/T)
# left-associatively over IEEE doubles — bit-equal pre-grid.
TWINS["kneser_ney_bigrams"] = f"""
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


def q_shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard balance audit: assign every document to one of 64
    shards by a stable content-independent hash (md5 of doc_id — the
    same deterministic-digit device as hash_sample, portable across
    engines unlike xxhash64), then report each shard's document count,
    character volume, and skew ratio vs the ideal uniform share — the
    pre-flight check before writing training shards, where one hot
    shard stalls every epoch.

    One per-row hash + one 64-group aggregate (map-side combined) + a
    one-row broadcast total. At 100 TB this is a metadata-cheap audit:
    the shuffle carries 64 rows per task.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 64
    )
    per_shard = docs.groupBy(shard.alias("shard")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    total = F.broadcast(docs.agg(F.count("*").cast("long").alias("_n")))
    return (
        per_shard.crossJoin(total)
        .select(
            "shard",
            "n_docs",
            "total_chars",
            round_det(F.col("n_docs") * 64 / F.col("_n"), 6).alias("skew_ratio"),
        )
    )


# FULL twin of q_shard_balance_report (md5-digit shard key, the
# hash_sample device — engine-portable unlike xxhash64).
TWINS["shard_balance_report"] = """
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


def q_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY (the complement of Lee et al. 2022's
    duplication measurement): for every document, the fraction of its
    token-8-gram positions whose gram first occurs (min doc_id over the
    corpus) in THIS document — the "how much genuinely new text does
    each doc add in ingestion order" curve that decides whether the
    tail of a crawl is still worth keeping. Within a gram's first
    document every occurrence counts as novel (the gram is new to the
    corpus there); later documents score 0 for it.

    Same checkpointed position table + uniform-key gram aggregate shape
    as duplicate_ngram_span_stats (dedup.py:696 family): two shuffles,
    stop-gram heads map-side combine, no all-pairs anywhere. Docs
    shorter than 8 tokens report 0 positions / NULL ratio.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    n = 8
    docs = load_table(spark, sf_dir, "documents")
    staged = ensure_min_partitions(docs).withColumn("_toks", TX.tokens())
    # Materialized: the first-doc aggregate and its join back both read it.
    pos = materialize(
        staged.filter(F.size("_toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_toks) - {n - 1}), "
                    f"i -> array_join(slice(_toks, i, {n}), ' '))"
                )
            ).alias("gram"),
        )
    )
    first_doc = pos.groupBy("gram").agg(F.min("doc_id").alias("_first"))
    per_doc = (
        pos.join(first_doc, on="gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_positions"),
            F.sum(F.when(F.col("_first") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel_positions"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_positions", F.lit(0)).cast("long").alias("n_positions"),
            F.coalesce("n_novel_positions", F.lit(0)).cast("long").alias(
                "n_novel_positions"
            ),
            round_det(F.col("n_novel_positions") / F.col("n_positions"), 6).alias(
                "novelty_ratio"
            ),
        )
    )


# FULL twin of q_ngram_novelty_curve (positional token 8-grams; DuckDB
# range is end-exclusive, slices inclusive — same mapping as the
# duplicate_ngram_spans twin).
TWINS["ngram_novelty_curve"] = f"""
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


def q_ccnet_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-source quality tiers (Wenzek et al. 2020 §4.3:
    split each language's crawl into head/middle/tail by LM
    perplexity): rank every document WITHIN its source by the unigram
    surprisal proxy ascending (lower = more natural), cut into 3
    ntile tiers, and report each (source, tier)'s size and mean
    surprisal — the table a curation pipeline uses to keep head,
    re-filter middle, drop tail.

    Determinism: per-doc mean surprisal is snapped to an exact
    integer MICRO-nat grid before any cross-doc aggregation, so tier
    sums are exact and order-free; the tile over the unique
    (m6, doc_id) order is engine-identical (ntile_exact, bit-equal to
    the oracle's ntile(3)). Shuffles (upgraded round 10): the
    surprisal pass (two uniform-key) + grouped_two_phase_rank's
    composite range exchange — a web-scale source no longer funnels
    into a single task the way the old per-source ntile window did.
    """
    from kickstarter_etl_pipeline_spark.operators.text import unigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        unigram_surprisal(docs)
        .select(
            "doc_id",
            # micro-nat integer: 6-dp grid value scaled to exact BIGINT
            F.floor(F.col("mean_surprisal_nats") * 1e6 + 0.5).cast("long").alias("_m6"),
        )
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    ranked = grouped_two_phase_rank(
        scored, ["source"], ["_m6", "doc_id"], n_col="_n_src"
    )
    tiers = ranked.withColumn(
        "tier", ntile_exact(F.col("rank_in_group"), F.col("_n_src"), 3).cast("int")
    )
    return tiers.groupBy("source", "tier").agg(
        F.count("*").cast("long").alias("n_docs"),
        round_det(F.sum("_m6").cast("double") / (F.count("*") * F.lit(1e6)), 6).alias(
            "tier_mean_surprisal"
        ),
    )


# FULL twin of q_ccnet_quality_tiers: replays the unigram_surprisal
# nano-nat grid (identical to the perplexity_proxy twin), snaps the
# per-doc mean to integer MICRO-nats, ntiles within source, and
# aggregates exact integer sums per tier.
TWINS["ccnet_quality_tiers"] = f"""
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


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou, Douze & Schmid 2011, ADC
    variant): split the 64-dim embedding into m = 4 subspaces of 16
    dims; each subspace's codebook is 16 anchor centroids (the
    embeddings of vec_id 0..15 sliced to that subspace — deterministic
    "training", the ivf_anchor device); every vector compresses to 4
    codes (argmin squared distance per subspace); a query scores a
    vector ASYMMETRICALLY by summing its precomputed query→centroid
    distances at the vector's codes — 4 integer adds per candidate
    instead of a 64-dim scan. Top-5 different-vector neighbors per
    query (vec_id < 10) by (ADC distance, vec_id).

    Exactness: subspace distances fold left over (double)x−(double)y
    squares (identical tree in DuckDB's list_reduce) and snap to
    integer nano-grids; ADC sums are exact BIGINT adds. Scale shape:
    codes are ONE corpus pass against a 64-row broadcast codebook; the
    ADC join fans out by |queries|·m against a 640-row broadcast LUT —
    at web scale the code table is 8 bytes/vector, the reason PQ is
    the in-RAM billion-vector index.
    """
    m, sub_dim, n_cent, n_q, k = 4, 16, 16, 10, 5
    emb = load_table(spark, sf_dir, "embeddings")
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("embedding", s * sub_dim + 1, sub_dim).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("_sub"),
    ).select("vec_id", "_sub.s", "_sub.sv")
    cent = sub.filter(F.col("vec_id") < n_cent).select(
        F.col("vec_id").cast("int").alias("cid"), "s", F.col("sv").alias("cv")
    )
    d9 = F.floor(
        F.aggregate(
            F.zip_with(
                F.col("sv"),
                F.col("cv"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * 1e9
        + 0.5
    ).cast("long")
    dists = sub.join(F.broadcast(cent), "s").select("vec_id", "s", "cid", d9.alias("d9"))
    wc = Window.partitionBy("vec_id", "s").orderBy(F.asc("d9"), F.asc("cid"))
    codes = (
        dists.withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "s", "cid")
    )
    lut = dists.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), "s", "cid", F.col("d9").alias("qd9")
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd9").cast("long").alias("adc_d9"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("adc_d9"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "adc_d9")
    )


# FULL twin of q_ann_pq_topk: identical subspace slicing, identical
# left-fold squared-distance tree snapped at nano-grid, identical
# (d9, cid) argmin codes, exact BIGINT ADC sums.
TWINS["ann_pq_topk"] = """
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


def q_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ/ADC tier against EXACT full-dimension squared
    L2 distance, per query — the compression-loss monitor a PQ
    deployment watches (ADC is lossy by construction; Jégou et al.
    2011 §V reports exactly this curve). Both pipelines are
    individually deterministic (integer nano-grid distances, (d, id)
    total orders), so the composed report carries a full oracle.

    Shape: the exact side is one broadcast scoring pass (10 query rows
    against the corpus — the embedding_topk shape); the PQ side is
    q_ann_pq_topk's code/LUT pipeline. The comparison join is
    50×50 rows."""
    from kickstarter_etl_pipeline_spark.operators.similarity import query_anchors

    emb = load_table(spark, sf_dir, "embeddings")
    q = query_anchors(emb, 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    d9 = F.floor(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("_qv"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        * 1e9
        + 0.5
    ).cast("long")
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d9.alias("_d9"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("_d9"), F.asc("vec_id"))
    exact = (
        scored.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "vec_id")
    )
    approx = q_ann_pq_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(approx, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            round_det(F.col("n_hits") / 5.0, 6).alias("recall_at_5"),
        )
    )


# FULL twin of q_pq_recall_report: the PQ pipeline CTEs (identical to
# the ann_pq_topk twin) composed with an exact full-dimension squared-
# L2 top-5 — the same verified-composition device as ann_recall_report.
TWINS["pq_recall_report"] = """
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


def q_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling distribution (Mikolov et al. 2013
    §2.2: draw negatives ∝ count(w)^{3/4} — the flattening that keeps
    stopwords from dominating): the top-50 tokens with their smoothed
    sampling share over the FULL vocabulary normalizer.

    Determinism: count^0.75 = exp(0.75·ln count) on the two-level grid
    (ln at 1e-9 integer nano-nats L, then floor of the IEEE double
    quotient 3·L/4 — identical tree on both engines, not an integer
    division; exp snapped to 1e-6 integer micro-units); the normalizer sums exact
    BIGINTs over the whole vocabulary, then one IEEE division + 6-dp
    grid per emitted row. One uniform-key aggregate + TakeOrdered(50)
    + a one-row broadcast sum."""
    from kickstarter_etl_pipeline_spark.operators.text import token_frequency

    docs = load_table(spark, sf_dir, "documents")
    freq = token_frequency(docs).select("token", F.col("n_occurrences").cast("long").alias("n_occurrences"))
    # W = floor(exp(floor(3*floor(ln(n)*1e9+0.5)/4)/1e9)*1e6 + 0.5)
    weighted = freq.withColumn(
        "_w",
        F.floor(
            F.exp(
                F.floor(F.lit(3) * F.floor(F.log("n_occurrences") * 1e9 + 0.5) / 4)
                / F.lit(1e9)
            )
            * 1e6
            + 0.5
        ).cast("long"),
    )
    wsum = F.broadcast(weighted.agg(F.sum("_w").cast("long").alias("_wsum")))
    top = (
        weighted.orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(50)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n_occurrences"), F.asc("token")))
            .cast("int"),
        )
    )
    return top.crossJoin(wsum).select(
        "rank",
        "token",
        "n_occurrences",
        round_det(F.col("_w") / F.col("_wsum"), 6).alias("neg_sampling_share"),
    )


# FULL twin of q_negative_sampling_table: count^{3/4} on the two-level
# grid, full-vocabulary normalizer, top-50 by (count DESC, token).
TWINS["negative_sampling_table"] = f"""
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


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE-ish tokens per whitespace
    word (the cross-lingual cost metric every multilingual tokenizer
    eval reports — high-fertility languages pay more compute per word)
    plus character volume per BPE-ish token. Pure JVM regex + one
    low-cardinality aggregate; exact integer sums, fixed division
    trees."""
    docs = load_table(spark, sf_dir, "documents")
    pattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    per_doc = docs.select(
        "lang",
        F.size(TX.tokens()).cast("long").alias("_ws"),
        F.size(F.regexp_extract_all("text", F.lit(pattern), F.lit(0)))
        .cast("long")
        .alias("_bpe"),
        F.col("n_chars").cast("long").alias("_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_ws").cast("long").alias("n_ws_tokens"),
        F.sum("_bpe").cast("long").alias("n_bpeish_tokens"),
        # try_divide: a lang whose docs have no BPE-ish tokens at all
        # (empty/whitespace text) must report NULL, not crash under the
        # session's ANSI default — matches DuckDB's NULL on integer
        # division by zero (r7 self-review finding).
        round_det(F.try_divide(F.sum("_bpe"), F.sum("_ws")), 6).alias("fertility"),
        round_det(F.try_divide(F.sum("_chars"), F.sum("_bpe")), 6).alias(
            "chars_per_token"
        ),
    )


# FULL twin of q_tokenizer_fertility (regex identical to the
# bpe_token_counts twin; RE2 and Java agree on this alternation).
TWINS["tokenizer_fertility"] = f"""
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


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, y) daily event counts — day index from integer
    epoch arithmetic (no calendar functions). Shared by the daily-trend
    and MAD-anomaly queries."""
    from kickstarter_etl_pipeline_spark.operators import events as EV

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    return (
        ev.select(
            "event_type",
            F.floor(F.col("_us") / 86_400_000_000).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("long").alias("y"))
    )


def q_daily_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily traffic trend: OLS slope/intercept of daily
    event counts over the day index — the "is this event type growing
    or dying" scalar every traffic review reads. All OLS sums are exact
    BIGINTs over integer (day_index, count) pairs (the zipf_slope
    device, but with NO transcendentals at all — x and y are already
    integers), so both engines divide identical exact integers through
    the identical expression tree, then snap at 6 dp.

    One uniform (type, day) aggregate with map-side combine + one
    per-type rollup + a one-row broadcast epoch base. Day index from
    integer epoch arithmetic — no calendar functions. A type seen on
    only one day has no defined slope (OLS denominator 0): try_divide
    yields NULL, matching DuckDB's NULL on integer division by zero
    (a bare `/` would crash under the session's ANSI default — r7
    self-review finding)."""
    daily = _daily_counts(spark, sf_dir)
    base = F.broadcast(daily.agg(F.min("day").alias("_d0")))
    g = daily.crossJoin(base).select(
        "event_type", (F.col("day") - F.col("_d0")).cast("long").alias("x"), "y"
    )
    s = g.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("_sx"),
        F.sum("y").cast("long").alias("_sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("_sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("_sxy"),
    )
    slope = F.try_divide(
        F.col("n_days") * F.col("_sxy") - F.col("_sx") * F.col("_sy"),
        F.col("n_days") * F.col("_sxx") - F.col("_sx") * F.col("_sx"),
    )
    return s.select(
        "event_type",
        "n_days",
        round_det(slope, 6).alias("slope_per_day"),
        round_det((F.col("_sy") - slope * F.col("_sx")) / F.col("n_days"), 6).alias(
            "intercept"
        ),
    )


# FULL twin of q_daily_trend_by_type: exact BIGINT OLS sums over
# integer (day_index, count) pairs; identical division trees.
TWINS["daily_trend_by_type"] = """
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


def q_events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on daily traffic: per event type, the
    EXACT median and MAD (median absolute deviation) of daily counts,
    and how many days deviate more than 3·MAD — the outlier-resistant
    complement to events_anomaly_zscore (one bot-spike day drags a
    mean/σ band; it cannot drag a median/MAD band).

    Exactness: daily counts are integers; both medians use the
    middle-rank selection device (rank positions floor((n+1)/2) and
    floor((n+2)/2), median = (min+max)/2 — no interpolation semantics
    to disagree on, the exact_median_by_group device), so every value
    lives on the exact .5 grid and the 3·MAD comparison is
    bit-identical across engines. Shuffles: one uniform (type, day)
    aggregate + two per-type rank windows over day-count rows (group
    size bounded by the time span, never corpus size)."""
    daily = _daily_counts(spark, sf_dir)

    def exact_median(df: DataFrame, val: str, tie: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(F.asc(val), F.asc(tie))
        ranked = df.select(
            "event_type",
            F.col(val),
            F.row_number().over(w).alias("_rn"),
            F.count("*").over(Window.partitionBy("event_type")).alias("_n"),
        )
        mid = ranked.filter(
            (F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
            | (F.col("_rn") == F.floor((F.col("_n") + 2) / 2))
        )
        return mid.groupBy("event_type").agg(
            ((F.min(val) + F.max(val)) / 2).alias(out)
        )

    med = exact_median(daily, "y", "day", "_med")
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "y",
        "_med",
        F.abs(F.col("y") - F.col("_med")).alias("_dev"),
    )
    mad = exact_median(dev, "_dev", "day", "_mad").select("event_type", "_mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.min(F.col("_med")).alias("median_daily"),
            F.min(F.col("_mad")).alias("mad_daily"),
            F.sum((F.col("_dev") > 3 * F.col("_mad")).cast("int"))
            .cast("long")
            .alias("n_anomaly_days"),
            F.max("_dev").alias("max_abs_dev"),
        )
    )


# FULL twin of q_events_mad_anomaly: both medians via middle-rank
# selection (the exact_median_by_group device) — every value on the
# exact .5 grid, no interpolation semantics, no rounding needed.
TWINS["events_mad_anomaly"] = """
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


def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (island key = day − dense_rank over the
    user's distinct active days; consecutive days share it), the
    engagement metric behind every retention dashboard. Top-100 by
    (streak DESC, user_id) so the output is bounded.

    Shuffles: one (user, day) distinct + one per-user rank window
    (groups bounded by the user's active-day count) + one island
    aggregate. All integers; no rounding anywhere."""
    from kickstarter_etl_pipeline_spark.operators import events as EV

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    user_days = ev.select(
        "user_id",
        F.floor(F.col("_us") / 86_400_000_000).cast("long").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = user_days.withColumn(
        "_isl", F.col("day") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "_isl").agg(
        F.count("*").cast("long").alias("streak_days"),
        F.min("day").cast("long").alias("streak_start_day"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start_day")
    )
    best = (
        streaks.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select("user_id", "streak_days", "streak_start_day")
    )
    return (
        best.orderBy(F.desc("streak_days"), F.asc("user_id"))
        .limit(100)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("streak_days"), F.asc("user_id")))
            .cast("int"),
        )
        .select("rank", "user_id", "streak_days", "streak_start_day")
    )


# FULL twin of q_user_activity_streaks (gaps-and-islands: island key =
# day - row_number over the user's distinct days).
TWINS["user_activity_streaks"] = """
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


def q_traffic_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic burstiness per event type: the Fano factor
    (variance/mean of daily counts; 1 = Poisson, >1 = bursty) — the
    dispersion statistic that separates organic traffic from batch-job
    or bot spikes. Variance from exact BIGINT sums
    (n·Σy² − (Σy)²) / (n·(n−1)), mean = Σy/n — identical ratio trees
    on both engines, 6-dp grids. A single-day type has undefined
    variance: try_divide → NULL, no ANSI crash.

    One uniform (type, day) aggregate + a |types|-row moment rollup —
    scan-bound; the per-type state is 3 BIGINTs."""
    daily = _daily_counts(spark, sf_dir)
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("_sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("_syy"),
    )
    variance = F.try_divide(
        F.col("n_days") * F.col("_syy") - F.col("_sy") * F.col("_sy"),
        F.col("n_days") * (F.col("n_days") - 1),
    )
    mean = F.col("_sy") / F.col("n_days")
    return s.select(
        "event_type",
        "n_days",
        round_det(mean, 6).alias("mean_daily"),
        round_det(variance, 6).alias("var_daily"),
        round_det(F.try_divide(variance, mean), 6).alias("fano_factor"),
    )


# FULL twin of q_traffic_burstiness: exact BIGINT moment sums,
# identical ratio trees. NULLIF guards the zero denominator explicitly
# — relying on DuckDB's x/0→NULL is version-dependent (newer DuckDB's
# ieee_floating_point_ops changes double semantics), and Spark's
# try_divide yields NULL; the guard keeps both engines NULL forever.
TWINS["traffic_burstiness"] = """
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


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens (stopwords delimit — the
    gaps-and-islands device again, island key = pos − row_number over
    the doc's non-stop tokens); each word scores degree(w)/freq(w)
    where freq counts the word's occurrences in candidate phrases and
    degree sums the lengths of the phrases containing it; a phrase
    scores the sum over its word occurrences. Top-30 phrases by
    (score DESC, phrase).

    Determinism: degree/freq are exact integers and each word's ratio
    is snapped to a 1e-6 integer grid BEFORE the per-phrase sum — not
    because division is engine-unstable (it isn't) but because double
    summation is order-sensitive and aggregation order is not
    guaranteed; integer sums are associative, so the score is
    order-free on both engines. Phrase text is assembled from a
    position-sorted struct array (collect_list alone is
    nondeterministic).

    Shuffles: posexplode → per-doc island window (groups bounded by doc
    length) → phrase aggregate → two uniform word-stat aggregates →
    equi-join back → phrase-text aggregate → TakeOrdered(30)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.posexplode(TX.tokens()).alias("pos", "token"))
        .filter(~F.col("token").isin(*RAKE_STOPWORDS) & (F.col("token") != ""))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    # Materialized: the phrase lengths and their join back both read it.
    member = materialize(words.withColumn("_isl", F.col("pos") - F.row_number().over(w)))
    phrase_len = member.groupBy("doc_id", "_isl").agg(
        F.count("*").cast("long").alias("_plen")
    )
    staged = member.join(phrase_len, ["doc_id", "_isl"])
    stats = staged.groupBy("token").agg(
        F.count("*").cast("long").alias("_freq"),
        F.sum("_plen").cast("long").alias("_degree"),
    )
    scored_words = staged.join(stats, "token").select(
        "doc_id",
        "_isl",
        "pos",
        "token",
        F.floor(F.col("_degree") / F.col("_freq") * 1e6 + 0.5)
        .cast("long")
        .alias("_w6"),
    )
    phrases = scored_words.groupBy("doc_id", "_isl").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("long").alias("n_words"),
        F.sum("_w6").cast("long").alias("_score6"),
    )
    agg = phrases.groupBy("phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_occurrences"),
        F.max("_score6").alias("_s6"),
    )
    return (
        agg.orderBy(F.desc("_s6"), F.asc("phrase"))
        .limit(30)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("_s6"), F.asc("phrase"))).cast("int"),
        )
        .select(
            "rank",
            "phrase",
            "n_words",
            "n_occurrences",
            (F.col("_s6") / F.lit(1e6)).alias("rake_score"),
        )
    )


# FULL twin of q_rake_keywords: same stopword delimiter set (imported
# from the engine-neutral constants module so the two can never
# drift), same island keys
# (pos offsets differ by a constant 1 — 0- vs 1-based — which shifts
# every island key uniformly and changes nothing), same 1e-6 integer
# word-score grid making the per-phrase sum order-free.
_STOPS_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)


TWINS["rake_keywords"] = f"""
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


def q_media_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED coverage for the multimodal 1→N frame-sampling path:
    documents as binary media → mapInPandas frame chunker
    (multimodal.sample_frames — the video/audio keyframe-extraction
    shape, Arrow-batched, bounded fan-out) → per-media rollup of frame
    count, byte volume, distinct-frame count, and the first frame's
    size. The rollup hashes against a DuckDB twin that replays the
    chunk schedule with BLOB slicing — so the Python fan-out operator
    itself is value-verified, not just schema-checked (its md5 column
    is intentionally NOT graded: DuckDB has no md5(BLOB); distinctness
    is compared on the raw chunk bytes instead).

    Scale: fan-out is capped (max_frames) so output is a constant
    factor of input; the rollup is a uniform media_id aggregate."""
    from kickstarter_etl_pipeline_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(documents_as_media(docs))
    return frames.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum(F.length("frame_payload")).cast("long").alias("total_frame_bytes"),
        F.countDistinct("frame_payload").cast("long").alias("n_distinct_frames"),
        F.min(F.when(F.col("frame_idx") == 0, F.length("frame_payload")))
        .cast("long")
        .alias("first_frame_bytes"),
    )


# FULL twin of q_media_frame_stats: replays the mapInPandas chunk
# schedule (n = min(8, max(1, floor(bytes/64))), chunk i = bytes
# [64i, 64i+64)). DuckDB has no BLOB substring/md5, so the replay
# slices the VARCHAR — exact byte semantics BECAUSE the fixture text
# is pure ASCII (verified: octet_length(encode(text)) = length(text)
# for every doc at every SF; a non-ASCII corpus would need a
# byte-level replay and would surface immediately as a grade
# mismatch, not a silent pass).
TWINS["media_frame_stats"] = """
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


def q_session_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable INTERVAL×INTERVAL overlap join: which pairs of sessions
    from DIFFERENT users were active at the same time (the concurrency
    audit behind capacity planning and collusion/fraud review). The
    scale shape is bucket decomposition: each session interval explodes
    into the 30-min buckets it touches, candidate pairs come from a
    bucket EQUI-join (never interval×interval nested loops), the exact
    overlap predicate filters false candidates, and each surviving pair
    is kept exactly once — in the canonical bucket containing the
    overlap's start (the standard dedup trick; no distinct needed).
    Top-100 pairs by (overlap DESC, ids).

    The oracle is the TRANSPARENCY device (bloom_prefiltered_join's):
    a naive non-equi self-join at fixture scale must produce the
    identical pair set — proving the decomposition changes the plan,
    never the answer. Fan-out is duration/30min + 1 buckets per
    session; gap-bounded sessions keep it small, and a pathologically
    long-lived session would be split or bucketed coarser (documented
    ceiling). Exact integer microseconds end-to-end."""
    from kickstarter_etl_pipeline_spark.operators import events as EV

    bucket_us = 1_800_000_000  # bucket width; happens to equal the gap
    # Materialized: both sides of the bucket self-join read it.
    iv = materialize(
        EV.with_session_ids(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_id")
        .agg(F.min("_us").alias("start_us"), F.max("_us").alias("end_us"))
    )
    bucketed = iv.select(
        "user_id",
        "session_id",
        "start_us",
        "end_us",
        F.explode(
            F.sequence(
                F.floor(F.col("start_us") / bucket_us),
                F.floor(F.col("end_us") / bucket_us),
            )
        ).alias("bucket"),
    )
    a = bucketed.select(
        F.col("user_id").alias("user_a"),
        F.col("session_id").alias("session_a"),
        F.col("start_us").alias("_sa"),
        F.col("end_us").alias("_ea"),
        "bucket",
    )
    b = bucketed.select(
        F.col("user_id").alias("user_b"),
        F.col("session_id").alias("session_b"),
        F.col("start_us").alias("_sb"),
        F.col("end_us").alias("_eb"),
        "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("user_a") < F.col("user_b"))
        .filter((F.col("_sa") <= F.col("_eb")) & (F.col("_sb") <= F.col("_ea")))
        # canonical-bucket dedup: keep the pair only in the bucket where
        # its overlap starts
        .filter(
            F.col("bucket")
            == F.floor(F.greatest(F.col("_sa"), F.col("_sb")) / bucket_us)
        )
        .select(
            "user_a",
            "session_a",
            "user_b",
            "session_b",
            (
                F.least(F.col("_ea"), F.col("_eb"))
                - F.greatest(F.col("_sa"), F.col("_sb"))
            ).cast("long").alias("overlap_us"),
        )
    )
    order = [
        F.desc("overlap_us"),
        F.asc("user_a"),
        F.asc("session_a"),
        F.asc("user_b"),
        F.asc("session_b"),
    ]
    return (
        pairs.orderBy(*order)
        .limit(100)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)).cast("int"))
        .select(
            "rank", "user_a", "session_a", "user_b", "session_b", "overlap_us"
        )
    )


# FULL twin of q_session_interval_overlap — the TRANSPARENCY device:
# the oracle does the NAIVE non-equi interval self-join; the Spark side
# does bucket decomposition + equi-join + canonical-bucket dedup. Equal
# results prove the decomposition changes the plan, not the answer.
TWINS["session_interval_overlap"] = """
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


def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    forensic-accounting screen (fabricated or constrained numbers
    deviate from P(d) = log10(1+1/d)). Per digit: observed count,
    observed share, expected Benford share, and the digit's chi-square
    contribution (obs − n·p)²/(n·p); the total chi² against the 15.51
    critical value (χ²₈, α=0.05) is the reader's one-line verdict.

    Determinism: counts are exact integers; the Benford constants are
    Python float literals written VERBATIM in the SQL twin (the repo's
    float-literal rule), so both engines evaluate the identical fixed
    tree — one division + one square per digit, 6-dp grids. First
    digit via string head of the decimal rendering (exact — no float
    log10 on data). One low-cardinality aggregate; scan-bound."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(F.col("o_totalprice").cast("string"), 1, 1).cast("int")
    observed = (
        orders.filter(F.col("o_totalprice") >= 1)  # "0.xxx" would yield digit 0
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    # An ABSENT digit is evidence, not a missing row: its
    # (0 − n·p)²/(n·p) = n·p term is exactly what a non-Benford
    # distribution leaves behind — left-join the full 1..9 frame so a
    # dataset with no 9s cannot under-report the total chi-square
    # (r7 second self-review finding; the omission was mirrored in the
    # oracle, so MATCH grading alone could never catch it).
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    counts = digits.join(F.broadcast(observed), "digit", "left").select(
        "digit", F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs")
    )
    total = F.broadcast(counts.agg(F.sum("n_obs").cast("long").alias("_n")))
    expected = F.array(*[F.lit(p) for p in BENFORD_P])
    return (
        counts.crossJoin(total)
        .select(
            "digit",
            "n_obs",
            # try_divide (mirrored by NULLIF in the oracle): an orders
            # fixture with no rows >= 1 makes _n = 0, which must yield
            # NULL shares, not the session's ANSI divide-by-zero
            # (ADVICE r7).
            round_det(F.try_divide(F.col("n_obs"), F.col("_n")), 6).alias("obs_share"),
            round_det(F.element_at(expected, F.col("digit")), 6).alias(
                "benford_share"
            ),
            round_det(
                F.try_divide(
                    (F.col("n_obs") - F.col("_n") * F.element_at(expected, F.col("digit")))
                    * (F.col("n_obs") - F.col("_n") * F.element_at(expected, F.col("digit"))),
                    F.col("_n") * F.element_at(expected, F.col("digit")),
                ),
                6,
            ).alias("chi2_contrib"),
        )
    )


# FULL twin of q_benford_price_audit: same verbatim float constants
# (imported from the Spark side so they cannot drift), same fixed
# chi-square tree. First digit via the string head of the decimal
# rendering — identical for the leading digit in any shortest-round-
# trip rendering of values >= 1.
# CAST each literal to DOUBLE: DuckDB would otherwise bind them as
# DECIMAL(18,17) — which both overflows the grid multiply and departs
# from the IEEE-double tree Spark evaluates.
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in enumerate(BENFORD_P, start=1)
) + " END"


TWINS["benford_price_audit"] = f"""
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


def q_dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE distribution — the one-page summary of a
    dedup run (how much of the corpus sits in 2-doc pairs vs big
    boilerplate blobs, and what fraction survives canonicalization):
    connected components over the near-dup graph (the dedup_components
    pipeline) rolled up to clusters, then a histogram keyed by cluster
    size with each size's share of all documents.

    Composes the verified CC pipeline, so the oracle composes its
    recursive-CTE twin — the ann_recall_report verified-composition
    device. Shuffles beyond CC: one cluster rollup + one ≤max-size-key
    histogram aggregate + a one-row broadcast total."""
    from kickstarter_etl_pipeline_spark.qdefs_embeddings import q_dedup_components

    comp = q_dedup_components(spark, sf_dir)
    clusters = comp.groupBy("component_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    hist = clusters.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    total = F.broadcast(comp.agg(F.count("*").cast("long").alias("_n_docs")))
    return (
        hist.crossJoin(total)
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
            round_det(
                F.col("cluster_size") * F.col("n_clusters") / F.col("_n_docs"), 6
            ).alias("doc_share"),
        )
    )


# FULL twin of q_dedup_cluster_histogram: composes the verified
# recursive-CTE connected-components twin (read from qdefs_embeddings'
# TWINS — one definition, zero drift) as a derived table, then the
# identical histogram rollup.
TWINS["dedup_cluster_histogram"] = f"""
    WITH comp AS ({qdefs_embeddings.TWINS["dedup_components"]}),
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


def q_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram entropy rate H(w2|w1) = −Σ p(w1w2)·ln p(w2|w1) —
    the information-theoretic redundancy scalar next to zipf_slope in
    every corpus-health report (low entropy = templated/repetitive
    text), with its exp as the bigram-model perplexity.

    Determinism (two-level grid over an exact-integer spine): each
    bigram contributes c12 · floor(ln(c12/c1)·1e9 + 0.5) — an exact
    BIGINT product — and the global sum runs in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB), both exact, so aggregation order is
    irrelevant; H divides that one integer by N·1e9 and snaps at 6 dp,
    then exp(H) snaps at 2 dp (the perplexity_proxy device). BIGINT
    per-term ceiling: |term| ≤ c12·ln(V)·1e9 — fine to ~10⁸ occurrences
    of a single bigram; the 128-bit sum has no practical ceiling.
    Shape: one explode + one uniform bigram count + one grouped c1
    table joined back (AQE broadcasts it when small) + a scalar
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(TX.tokens().alias("_t")).filter(F.expr("size(_t) >= 2"))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(_t) - 1), i -> struct(_t[i-1] AS w1, _t[i] AS w2))"
            )
        ).alias("_b")
    ).select("_b.w1", "_b.w2")
    c12 = bigrams.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("_c12"))
    c1 = c12.groupBy("w1").agg(F.sum("_c12").cast("long").alias("_c1"))
    terms = c12.join(c1, "w1").select(
        "_c12",
        (
            F.col("_c12")
            * F.floor(F.log(F.col("_c12") / F.col("_c1")) * 1e9 + 0.5).cast("long")
        ).cast("decimal(38,0)").alias("_term9"),
    )
    agg = terms.agg(
        F.sum("_c12").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_bigram_types"),
        F.sum("_term9").alias("_sum9"),
    )
    h = round_det(
        -(F.col("_sum9").cast("double")) / (F.col("n_bigrams") * F.lit(1e9)), 6
    )
    return agg.select(
        "n_bigrams",
        "n_bigram_types",
        h.alias("entropy_nats"),
        round_det(F.exp(h), 2).alias("bigram_perplexity"),
    )


# FULL twin of q_bigram_entropy_rate: exact-integer term spine
# (c12 · nano-nat ln), 128-bit exact sum (DuckDB sums BIGINT into
# HUGEINT), identical final divisions and grids.
TWINS["bigram_entropy_rate"] = f"""
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


def q_lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio and Guiraud's
    root TTR (types/√tokens — the length-corrected variant, Guiraud
    1954) — the vocabulary-richness screen that separates genuinely
    diverse sources from keyword-stuffed ones before mixing weights
    are assigned.

    Exact integers + one fixed division tree; IEEE sqrt is correctly
    rounded (NOTES determinism rule), so no grid is needed before the
    6-dp snap. One explode + one (source, token) aggregate + one
    per-source rollup — uniform keys, map-side combined."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(TX.tokens()).alias("token"))
    per_tok = tok.groupBy("source", "token").agg(
        F.count("*").cast("long").alias("_n")
    )
    return per_tok.groupBy("source").agg(
        F.sum("_n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        round_det(F.count("*") / F.sum("_n"), 6).alias("ttr"),
        round_det(F.count("*") / F.sqrt(F.sum("_n")), 6).alias("root_ttr"),
    )


# FULL twin of q_lexical_diversity_by_source (sqrt is IEEE-correctly
# rounded on both engines — no grid needed pre-snap).
TWINS["lexical_diversity_by_source"] = f"""
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


def q_char_entropy_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CHARACTER entropy — the classic gibberish/encoded-
    blob detector in a crawl-filter cascade (natural language sits
    ~2.5–4.5 bits/char; base64 blobs and key-mash noise push 5+;
    single-char spam collapses toward 0). Reported in bits with the
    doc's distinct-char count.

    Determinism: per-(doc, char) counts are exact; each char
    contributes c·floor(ln(c/n)·1e9 + 0.5) — an exact BIGINT product —
    summed per doc (exact, order-free), then ONE division, a
    nats→bits multiply by the verbatim-shared double literal
    1/ln(2), and a 6-dp grid. Shape: explode to characters (the
    dominant scan), one uniform (doc, char) aggregate, one per-doc
    rollup — linear, map-side combined, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    cc = chars.groupBy("doc_id", "ch").agg(F.count("*").cast("long").alias("_c"))
    # per-doc totals ride a window over the (doc, char) rows — groups
    # are charset-bounded, tiny
    staged = cc.withColumn(
        "_n", F.sum("_c").over(Window.partitionBy("doc_id")).cast("long")
    ).withColumn(
        "_t9",
        (
            F.col("_c")
            * F.floor(F.log(F.col("_c") / F.col("_n")) * 1e9 + 0.5).cast("long")
        ).cast("long"),
    )
    per_doc = staged.groupBy("doc_id").agg(
        F.max("_n").alias("n_chars_counted"),
        F.count("*").cast("long").alias("n_distinct_chars"),
        F.sum("_t9").cast("long").alias("_sum9"),
    )
    inv_ln2 = 1.4426950408889634  # 1/ln(2), shared verbatim with the SQL twin
    return per_doc.select(
        "doc_id",
        "n_chars_counted",
        "n_distinct_chars",
        round_det(
            -(F.col("_sum9").cast("double"))
            / (F.col("n_chars_counted") * F.lit(1e9))
            * F.lit(inv_ln2),
            6,
        ).alias("char_entropy_bits"),
    )


# FULL twin of q_char_entropy_per_doc: exact (doc, char) counts, the
# same nano-nat term spine, the same verbatim 1/ln(2) literal
# (CAST to DOUBLE — the Benford DECIMAL-binding lesson).
TWINS["char_entropy_per_doc"] = """
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


def q_good_turing_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts table with the adjusted counts
    r* = (r+1)·N_{r+1}/N_r — the smoother that reallocates probability
    mass to unseen events from the singleton count (N_1), the classic
    companion to the Kneser-Ney bigram tier (kneser_ney_bigrams). N_r
    tables underpin vocabulary-size and OOV-rate planning for tokenizer
    training.

    Exact: token counts and count-of-counts are integer aggregates; the
    LEFT self-join on r+1 (NOT a lead() over present r values — N_{r+1}
    must be the count at EXACTLY r+1, which may be absent) yields NULL
    r* where Good-Turing is undefined. Reported for the 30 SMALLEST
    distinct r values (the head of the count-of-counts table, where GT
    matters; an absolute r cap would return almost nothing on a corpus
    whose rarest token already occurs hundreds of times).

    Scale: one uniform-key token aggregate, then a count-of-counts
    aggregate whose cardinality is ≤ max token count — sketch-sized;
    the head-rank window runs over that sketch-sized table."""
    from kickstarter_etl_pipeline_spark.operators.text import token_frequency

    docs = load_table(spark, sf_dir, "documents")
    freq = token_frequency(docs).select(F.col("n_occurrences").cast("long").alias("r"))
    cc = freq.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    nxt = cc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_r1"))
    head = Window.orderBy("r")
    return (
        cc.join(nxt, "r", "left")
        .withColumn("_hr", F.row_number().over(head))
        .filter(F.col("_hr") <= 30)
        .select(
            "r",
            "n_r",
            F.when(
                F.col("_n_r1").isNotNull(),
                round_det((F.col("r") + 1) * F.col("_n_r1") / F.col("n_r"), 6),
            ).alias("r_star"),
        )
    )


TWINS["good_turing_unigrams"] = f"""
        WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
        freq AS (SELECT token, CAST(count(*) AS BIGINT) AS r FROM toks GROUP BY token),
        cc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM freq GROUP BY r),
        gt AS (SELECT c1.r, c1.n_r,
                      CASE WHEN c2.n_r IS NOT NULL THEN
                        floor((c1.r + 1) * c2.n_r / c1.n_r * 1000000 + 0.5) / 1000000.0
                      END AS r_star,
                      row_number() OVER (ORDER BY c1.r) AS hr
               FROM cc c1 LEFT JOIN cc c2 ON c2.r = c1.r + 1)
        SELECT r, n_r, r_star FROM gt WHERE hr <= 30
    """


def q_weighted_median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median price per return flag (weight = quantity)
    at scale: the grouped two-phase selection device
    (embedding_dim_robust_stats) extended to weighted quantiles —
    :func:`.ranking.two_phase_rank` with ``cum_col`` carries the GLOBAL running
    weight over the (group, value, id) total order in balanced range
    exchanges; subtracting each group's broadcast offset (the exact sum
    of preceding groups' weights) turns it into the per-group
    cumulative weight, and the lower weighted median is the first row
    where 2·cum ≥ W — an INTEGER comparison (quantities are integral),
    so no float decides the selection. min() over the crossing suffix
    recovers the crossing row's price (prices are non-decreasing along
    the order).

    No per-group window ever sees a group's full column; the only
    single-task stage is the G-row offset frame. Oracle = the plain
    per-group window formulation, proving bit-equality of the
    distributed shape."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("_wt"),
    )
    ranked = two_phase_rank(
        li,
        ["l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"],
        cum_col="_wt",
    )
    gt = li.groupBy("l_returnflag").agg(F.sum("_wt").cast("long").alias("_w"))
    # 3-row control frame: prefix offsets ride a driver literal (r15 —
    # no offsets window / SinglePartition exchange)
    offs = collected_offsets(gt, ["l_returnflag"], [("_w", "_off")])
    crossed = ranked.join(F.broadcast(offs), "l_returnflag").filter(
        2 * (F.col("cum") - F.col("_off")) >= F.col("_w")
    )
    return crossed.groupBy("l_returnflag").agg(
        F.min("_w").cast("long").alias("total_weight"),
        F.min("l_extendedprice").alias("weighted_median_price"),
    )


TWINS["weighted_median_by_group"] = """
        WITH t AS (SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
                          CAST(l_quantity AS BIGINT) AS wt
                   FROM lineitem),
        c AS (SELECT l_returnflag, l_extendedprice,
                     sum(wt) OVER (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gc,
                     sum(wt) OVER (PARTITION BY l_returnflag) AS w
              FROM t)
        SELECT l_returnflag,
               CAST(min(w) AS BIGINT) AS total_weight,
               min(l_extendedprice) AS weighted_median_price
        FROM c WHERE 2 * gc >= w
        GROUP BY l_returnflag
    """


def q_trimmed_mean_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean price per return flag at scale — the
    robust-location stat that discards floor(n/10) rows from EACH tail
    of the per-group (price, id) order before averaging, immunizing
    the mean against outlier prices the way the median does without
    giving up efficiency.

    Same grouped two-phase selection shape as weighted_median:
    :func:`.ranking.grouped_two_phase_rank` (ONE global range-partitioned rank
    over (group, value, id) minus broadcast per-group offsets) gives
    the per-group rank; the trim is
    then a rank-band filter (k < rank ≤ n−k) — an integer rule — and
    the mean is an exact DECIMAL(18,2) sum divided once. No per-group
    window ever holds a group's full column."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    j = grouped_two_phase_rank(
        li,
        ["l_returnflag"],
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        n_col="_n_g",
    ).withColumn("_k", F.floor(F.col("_n_g") / 10).cast("long"))
    kept = j.filter(
        (F.col("rank_in_group") > F.col("_k"))
        & (F.col("rank_in_group") <= F.col("_n_g") - F.col("_k"))
    )
    return kept.groupBy("l_returnflag").agg(
        F.max("_n_g").cast("long").alias("n_total"),
        F.max("_k").cast("long").alias("n_trimmed_each_side"),
        F.count("*").cast("long").alias("n_kept"),
        round_det(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count("*"),
            6,
        ).alias("trimmed_mean_price"),
    )


TWINS["trimmed_mean_by_group"] = """
        WITH t AS (SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
                   FROM lineitem),
        r AS (SELECT l_returnflag, l_extendedprice,
                     row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
                     count(*) OVER (PARTITION BY l_returnflag) AS n_g
              FROM t),
        b AS (SELECT *, CAST(floor(n_g / 10) AS BIGINT) AS k FROM r)
        SELECT l_returnflag,
               CAST(max(n_g) AS BIGINT) AS n_total,
               CAST(max(k) AS BIGINT) AS n_trimmed_each_side,
               CAST(count(*) AS BIGINT) AS n_kept,
               floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     / count(*) * 1000000 + 0.5) / 1000000.0 AS trimmed_mean_price
        FROM b WHERE rn > k AND rn <= n_g - k
        GROUP BY l_returnflag
    """


def q_dsir_selection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by the log importance weight of its hashed n-gram
    features under a target-vs-raw bucket model, then surface the
    top-100 most target-like documents — the published recipe behind
    domain-targeted pre-training corpora, completing the selection
    tier next to temperature_resample / source_mixing_weights /
    curation_decision (which weight by SOURCE, not by content).

    Model (paper's §3, hashed n-gram variant): features are unigrams
    plus adjacent bigrams, hashed into B = 128 buckets; the target
    distribution is fit on the ``lang = 'en'`` slice, the raw
    distribution on the whole corpus, both with add-1 smoothing:

        log w(d) = Σ_b c_{d,b} · ln( (t_b+1)(R+B) / ((r_b+1)(T+B)) )

    Exactness (the bm25/jsd nano-nat device): the odds ratio is a
    ratio of exact integer products — decimal(38,0)/HUGEINT, no long
    overflow at any scale — whose ln snaps to the nano-nat grid
    BEFORE the per-document aggregation, so Σ c·lr9 is an exact
    integer sum (no float summation order exists) and the top-100
    cut + tie-break (doc_id) is decided on integers. The bucket hash
    is the md5-prefix device (engine-portable, unlike xxhash64).

    Scale: one explode pass (linear), a per-(doc, bucket) aggregate
    keyed by doc_id (uniform), a 128-row broadcast bucket model, and
    a TakeOrdered top-100 — no global sort, no driver data. At 100 TB
    the bucket model is still 128 rows; only the corpus-sized stages
    shuffle, all keyed by doc_id."""
    B = 128
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", TX.tokens().alias("_tk"))
    uni = toks.select("doc_id", "lang", F.explode("_tk").alias("_feat"))
    # size >= 2 guard: ANSI sequence(1, 0) counts DOWN (the r5 trap).
    bi = toks.filter(F.expr("size(_tk) >= 2")).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_tk) - 1),"
                " i -> concat(_tk[i-1], ' ', _tk[i]))"
            )
        ).alias("_feat"),
    )
    feats = uni.unionByName(bi).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("_feat")), 1, 15), 16, 10).cast("long")
            % B
        ).alias("_b"),
    )
    raw_b = feats.groupBy("_b").agg(F.count("*").cast("long").alias("_r"))
    tgt_b = (
        feats.filter(F.col("lang") == "en")
        .groupBy("_b")
        .agg(F.count("*").cast("long").alias("_tc"))
    )
    totals = raw_b.agg(F.sum("_r").cast("long").alias("_rtot")).crossJoin(
        tgt_b.agg(F.coalesce(F.sum("_tc"), F.lit(0)).cast("long").alias("_ttot"))
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    model = (
        raw_b.join(tgt_b, "_b", "left")
        .na.fill({"_tc": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "_b",
            F.floor(
                F.log(
                    (dec(F.col("_tc") + 1) * (F.col("_rtot") + B)).cast("double")
                    / (dec(F.col("_r") + 1) * (F.col("_ttot") + B)).cast("double")
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("_lr9"),
        )
    )
    per_doc = feats.groupBy("doc_id", "_b").agg(
        F.count("*").cast("long").alias("_c")
    )
    logw = (
        per_doc.join(F.broadcast(model), "_b")
        .groupBy("doc_id")
        .agg(
            F.sum("_c").cast("long").alias("n_feats"),
            F.sum(dec(F.col("_c")) * F.col("_lr9")).alias("_s"),
        )
    )
    top = logw.orderBy(F.desc("_s"), F.asc("doc_id")).limit(100)
    # r15: rank BEFORE the metadata join — the window then sits
    # directly above the GlobalLimit(100), a plan-provably bounded
    # funnel (the join is 1:1 on doc_id, so ranks are unchanged)
    w = Window.orderBy(F.desc("_s"), F.asc("doc_id"))
    top = top.withColumn("rank", F.row_number().over(w).cast("int"))
    return (
        top.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "rank",
            "doc_id",
            "lang",
            "source",
            "n_feats",
            round_det(
                F.col("_s").cast("double") / F.lit(1e9), 6
            ).alias("logweight_nats"),
        )
    )


# FULL twin of q_dsir_selection_report (round 9, continued). The
# importance-weight odds ratio (t+1)(R+B) / ((r+1)(T+B)) is a ratio of
# exact HUGEINT products; its ln snaps to the nano-nat grid BEFORE the
# per-document aggregate, so each document's log weight is an exact
# integer sum and the top-100 cut is decided on integers with doc_id
# tie-break. Bucket hash = the md5-prefix device (engine-portable).
TWINS["dsir_selection_report"] = f"""
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


def q_frame_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-media FRAME-level exact dedup (round 12): the multimodal
    analog of document exact-dedup — identical sampled frames appearing
    in more than one place (repeated intros/outros/watermark cards in
    video, boilerplate pages in scanned docs) ranked by occurrence.
    Top 50 duplicated frames by (n_occurrences DESC, n_media DESC,
    frame_md5 ASC) — frame_md5 is unique per group, so the order is a
    deterministic total order.

    Cross-engine contract: the frame chunker is the deterministic
    byte-stride sampler (multimodal.sample_frames); its md5 IS graded
    here — the DuckDB twin re-chunks with substring() on the source
    text and hashes with md5(VARCHAR), which equals hashlib.md5 of the
    UTF-8 bytes on the ASCII-safe fixtures (same device as the graph
    tier's md5-ordered ranking).

    Scale: bounded 1→≤8 fan-out, md5-keyed aggregate (uniform 128-bit
    key — no skew by construction), bounded top-k via sort-limit."""
    from kickstarter_etl_pipeline_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(documents_as_media(docs))
    return (
        frames.groupBy("frame_md5")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("media_id").cast("long").alias("n_media"),
            F.max(F.length("frame_payload")).cast("long").alias("frame_bytes"),
        )
        .filter(F.col("n_occurrences") > 1)
        .orderBy(
            F.col("n_occurrences").desc(), F.col("n_media").desc(), "frame_md5"
        )
        .limit(50)
    )


# FULL twin of q_frame_dedup_report: replays the 64-byte stride / ≤8
# frame chunk schedule on the source text (character slicing ==
# byte slicing on the ASCII-safe fixtures, the media_frame_stats
# convention) and hashes chunks with md5(VARCHAR) — equal to the Spark
# side's hashlib.md5 over the UTF-8 chunk bytes.
TWINS["frame_dedup_report"] = """
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


def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED coverage for the REAL image-decode path: deterministic
    P6 PPM payloads built per document (multimodal.
    documents_as_ppm_images — actual header + raster bytes) →
    Arrow-batched mapInPandas DECODE (multimodal.decode_image, the
    pure-Python PPM parser — width/height come FROM THE BYTES, not
    metadata) → exact per-channel BIGINT sums + raster md5.

    The DuckDB twin derives the identical numbers ARITHMETICALLY from
    the generating formula (clamp-geometry + repeated-text raster on
    printable-ASCII-sanitized text), so a stub or fallback decode —
    anything that does not correctly re-parse the actual payload —
    cannot hash-match. This closes the r12 verdict item "give the
    multimodal tier a real decode path": the NotImplementedError gate
    now covers only genuinely codec-bound formats (JPEG/PNG).

    Scale: generation and decode are both pure maps (no shuffle);
    decode work is numpy-vectorized per raster buffer. At 100 TB the
    stage parallelizes by input split, identical to production decode
    with PIL swapped in behind the same signature."""
    from kickstarter_etl_pipeline_spark.operators.multimodal import (
        decode_image_stats,
        documents_as_ppm_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_image_stats(documents_as_ppm_images(docs))


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
TWINS["image_decode_stats"] = """
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


def _bt_contests_and_fit(spark: SparkSession, sf_dir: str):
    """Shared Bradley-Terry machinery (the q_preference_bt_strengths
    derivation, verbatim — extracted so the composed
    q_preference_dataset_manifest reuses the IDENTICAL contest build
    and MM fit the way curation_pack_manifest reuses clean_corpus).
    Returns (lagd contests frame with user_id/event_id for split keys,
    games symmetric game counts, wins per-type win totals, s fitted
    integer-micro strengths after ``BT_ROUNDS``).

    The ≤ T² winner/loser cells are collected once (``collect_control``);
    games, wins and the MM rounds are Python ints on the driver, every
    product and sum checked against the BIGINT range (``bigint``), and
    the three results come back as small local frames."""
    from kickstarter_etl_pipeline_spark.operators.events import with_unix_micros

    ev = with_unix_micros(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    lagd = (
        ev.select("user_id", "event_type", "value", "_us", "event_id")
        .withColumn("_pt", F.lag("event_type").over(w))
        .withColumn("_pv", F.lag("value").over(w))
        .filter(
            F.col("_pt").isNotNull()
            & (F.col("value") != F.col("_pv"))
            & (F.col("event_type") != F.col("_pt"))
        )
    )
    wl = (
        lagd.select(
            F.when(F.col("value") > F.col("_pv"), F.col("event_type"))
            .otherwise(F.col("_pt"))
            .alias("_w"),
            F.when(F.col("value") > F.col("_pv"), F.col("_pt"))
            .otherwise(F.col("event_type"))
            .alias("_l"),
        )
        .groupBy("_w", "_l")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    games, wins = {}, {}
    for win, lose, n in collect_control(wl):
        for ij in ((win, lose), (lose, win)):
            games[ij] = bigint(games.get(ij, 0) + n)
        wins[win] = bigint(wins.get(win, 0) + n)
        wins.setdefault(lose, 0)
    ns = len(wins)  # the types: every type in some contest
    s = dict.fromkeys(wins, 1_000_000)
    for _ in range(BT_ROUNDS):
        d = {}
        for (i, j), g in games.items():
            d[i] = bigint(d.get(i, 0) + bigint(g * 10**12) // bigint(s[i] + s[j]))
        sraw = {t: max(1, bigint(wi * 10**12) // d[t]) for t, wi in wins.items()}
        tot = bigint(sum(sraw.values()))
        s = {
            t: max(1, bigint(bigint(sr * ns) * 1_000_000) // tot)
            for t, sr in sraw.items()
        }
    return (
        lagd,
        control_frame(
            spark, [(i, j, g) for (i, j), g in games.items()], "_i string, _j string, _g bigint"
        ),
        control_frame(spark, wins.items(), "_t string, _wi bigint"),
        control_frame(spark, s.items(), "_t string, _s bigint"),
    )


def q_preference_bt_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference-strength fitting (Bradley & Terry 1952;
    Hunter 2004's MM iteration) — the RLHF/preference-data family's
    core model, fit on DETERMINISTIC pairwise contests derived from the
    event stream: each user's consecutive event pair (by (ts, event_id)
    total order) is a contest between the two event TYPES, won by the
    higher ``value`` (equal values and same-type pairs are no-contest).

    The MM update rides the integer-MICRO grid end-to-end (the
    markov/HITS device — no floats until the final display division):

        s⁰_i     = 10⁶
        D_i      = Σ_{j≠i} (g_ij · 10¹²) DIV (s_i + s_j)
        s'_i     = max(1, (W_i · 10¹²) DIV D_i)
        s''_i    = max(1, (s'_i · NS · 10⁶) DIV Σ s')     (normalize:
                   mean strength pinned at 1, so the scale-invariant
                   family has ONE representative)

    8 rounds, every term a per-term integer floor then an exact
    order-free sum — both engines land on identical micros (the twin
    unrolls the same 8 rounds; DuckDB ``//`` == Spark DIV on these
    non-negative operands). The max(1,·) floor keeps a never-winning
    type at one micro-unit instead of letting s hit 0 and a later
    (s_i + s_j) divide by zero — identically on both engines. BIGINT
    bounds: g_ij ≤ events, so g·10¹² ≤ ~10¹⁷ at sf0.1; after
    normalization s ≤ NS·10⁶ + NS, so s'·NS·10⁶ stays ≤ ~10¹⁴.

    Scale: the contest build is ONE user-keyed lag window over events
    (data-sized); its ≤ T² winner/loser cells (T = event types, ~7)
    are collected once and the 8 rounds run on the driver with
    overflow-checked Python ints — the markov_stationary posture
    exactly. The joins below read three small local frames."""
    _lagd, games, wins, s = _bt_contests_and_fit(spark, sf_dir)
    g_tot = games.groupBy(F.col("_i").alias("_t")).agg(
        F.sum("_g").cast("long").alias("n_games")
    )
    return (
        s.join(wins, "_t")
        .join(g_tot, "_t")
        .select(
            F.col("_t").alias("event_type"),
            F.col("_wi").alias("n_wins"),
            "n_games",
            round_det(F.col("_s").cast("double") / F.lit(1_000_000.0), 6).alias(
                "strength"
            ),
        )
    )


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
    preference_dataset_manifest appends the per-pair
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


TWINS["preference_bt_strengths"] = _bt_oracle_sql()


def q_preference_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed RLHF/preference END-TO-END unit (contests → BT fit →
    per-pair preference-dataset manifest), graded as ONE query — the
    curation_pack_manifest device applied to the preference family: the
    contest derivation and the 8-round integer-micro Bradley-Terry MM
    fit are _bt_contests_and_fit, REUSED VERBATIM by
    q_preference_bt_strengths, and the manifest is what an RLHF data
    build actually ships next to its (prompt, chosen, rejected) pairs:

    per directed preference cell (chosen type beat rejected type at
    least once) —
    - n_pref (training pairs in the cell) and n_games (contests between
      the two types in either direction);
    - the reproducible ~80/20 train/val split (n_train/n_val by the
      last-two-md5-hex device of the contest key user_id:event_id — the
      train_val_test_split discipline, no RNG);
    - calibration diagnostics on the integer-micro grid: empirical win
      rate (n_pref·10⁶ DIV n_games), the fitted BT probability
      (s_chosen·10⁶ DIV (s_chosen + s_rejected)), and their signed
      micro gap — all BIGINT-exact, so the hash grades the fit's
      calibration arithmetic, not a float tree;
    - the chosen type's fitted strength (display division only).

    Scale: the only data-sized stage is the shared user-keyed lag
    window; cells/games/strengths are ≤ T² rows (T = event types)."""
    lagd, games, _wins, s = _bt_contests_and_fit(spark, sf_dir)
    contests = lagd.select(
        F.when(F.col("value") > F.col("_pv"), F.col("event_type"))
        .otherwise(F.col("_pt"))
        .alias("_w"),
        F.when(F.col("value") > F.col("_pv"), F.col("_pt"))
        .otherwise(F.col("event_type"))
        .alias("_l"),
        F.substring(
            F.md5(F.concat_ws(":", F.col("user_id"), F.col("event_id"))), 31, 2
        ).alias("_h2"),
    )
    cells = contests.groupBy("_w", "_l").agg(
        F.count("*").cast("long").alias("n_pref"),
        F.sum(F.when(F.col("_h2") < "cc", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
    )
    out = (
        cells.join(
            games.select(
                F.col("_i").alias("_w"), F.col("_j").alias("_l"), "_g"
            ),
            ["_w", "_l"],
        )
        .join(s.select(F.col("_t").alias("_w"), F.col("_s").alias("_sw")), "_w")
        .join(s.select(F.col("_t").alias("_l"), F.col("_s").alias("_sl")), "_l")
        .select(
            F.col("_w").alias("chosen_type"),
            F.col("_l").alias("rejected_type"),
            "n_pref",
            F.col("_g").alias("n_games"),
            "n_train",
            (F.col("n_pref") - F.col("n_train")).cast("long").alias("n_val"),
            F.expr("(n_pref * 1000000) DIV _g").alias("empirical_micro"),
            F.expr("(_sw * 1000000) DIV (_sw + _sl)").alias("bt_micro"),
            (
                F.expr("(n_pref * 1000000) DIV _g")
                - F.expr("(_sw * 1000000) DIV (_sw + _sl)")
            )
            .cast("long")
            .alias("gap_micro"),
            round_det(
                F.col("_sw").cast("double") / F.lit(1_000_000.0), 6
            ).alias("chosen_strength"),
        )
    )
    return out


# FULL twin of q_preference_dataset_manifest — the composed preference
# unit. The contest derivation and the 8 unrolled integer-micro MM
# rounds come from _bt_oracle_cte (the same WITH
# block grading preference_bt_strengths), so a drifting constituent
# twin fails both queries loudly; only the tail differs: per directed
# (chosen, rejected) cell, pair counts, the last-two-md5-hex ~80/20
# train/val split on the contest key user_id:event_id, and the
# BIGINT-exact calibration micros (empirical n_pref·10⁶ // n_games vs
# fitted s_w·10⁶ // (s_w + s_l), plus their signed gap).
def _preference_manifest_oracle_sql() -> str:
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


TWINS["preference_dataset_manifest"] = _preference_manifest_oracle_sql()
