"""Round-9 evaluation / monitoring tier: classifier-quality and
distribution-drift reports over the corpus pipeline's own signals.

A training-data pipeline doesn't just COMPUTE quality scores and
blocking candidates — it has to evaluate them: is the quality score a
useful ranker (AUC), is it calibrated (reliability bins), has a
source's score distribution drifted (KS statistic), does the cheap
blocking stage actually find the true near-dup pairs (pairs
completeness / reduction ratio)?  Each report here is built from
already-verified pipeline signals, fully deterministic, and carries a
full DuckDB oracle twin (in TWINS, beside the query), following the
repo's rules: exact integer spines, one fixed IEEE tree per float
output, rankings totally ordered with id tie-breaks.

Scale posture, shared by the score-distribution reports: scores live
on the 1e-6 rounding grid, so the per-score aggregate has GRID-bounded
cardinality (≤ ~2M distinct values, realistically thousands) — the raw
corpus is reduced by one uniform-key aggregate before any window runs,
and every window after that is over the bounded score table, never the
data. That is the ECDF-at-scale recipe: aggregate to the value grid,
then sweep the grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark import qdefs_star_events
from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators import text as TX
from kickstarter_etl_pipeline_spark.operators.ranking import (
    collected_offsets,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.twin_sql import _NORM, _TOKS


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, q) with q = the verified 6-dp quality
    score; null-score docs (no tokens) excluded on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        TX.quality_score().alias("q"),
    ).filter(F.col("q").isNotNull())


def q_quality_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the quality score as a ranker for the
    deterministic label lang = 'en' — the Mann-Whitney U identity with
    midrank tie handling, computed WITHOUT materializing pairs or a
    global sort of the corpus:

    group by score value (uniform 1e-6-grid keys) → per-score positive/
    negative counts → one cumulative sweep of the grid-bounded score
    table. 2·U = Σ_s p_s·(2·cumneg_<s + n_s) is an EXACT integer (ties
    contribute the n_s/2 midrank term without any halves appearing),
    so AUC = 2U / (2·P·N) is one fixed IEEE division both engines
    replay. Gini = 2·AUC − 1 from the ROUNDED AUC.

    Scale: one corpus aggregate + a window over ≤ grid-cardinality
    rows. No pair blow-up (the naive U is P×N comparisons)."""
    per = (
        _scored_docs(spark, sf_dir)
        .select("q", (F.col("lang") == "en").cast("int").alias("pos"))
        .groupBy("q")
        .agg(
            F.sum("pos").cast("long").alias("p"),
            F.sum(1 - F.col("pos")).cast("long").alias("n"),
        )
    )
    # r15 (VERDICT r14 item 7): the cumulative sweep used a global
    # no-partition window — a SinglePartition funnel over the
    # grid-cardinality score table (data-derived, can reach millions of
    # distinct values at scale). two_phase_rank's range-partitioned
    # running sum computes the identical exact-long cumulative; the
    # exclusive prefix is the inclusive cum minus the row's own count.
    cum = two_phase_rank(per, ["q"], cum_col="n").select(
        "p", "n", (F.col("cum") - F.col("n")).cast("long").alias("cneg")
    )
    agg = cum.agg(
        F.sum(F.col("p") * (2 * F.col("cneg") + F.col("n"))).cast("long").alias("u2"),
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
    )
    auc = round_det(
        F.col("u2") / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")), 6
    )
    return agg.select("n_pos", "n_neg", auc.alias("auc")).select(
        "n_pos",
        "n_neg",
        "auc",
        round_det(2 * F.col("auc") - 1, 6).alias("gini"),
    )


# (doc_id, lang, source, q) with q = the 6-dp quality score — the same
# expression the verified quality_scores oracle uses, carried with the
# label/source columns the eval tier needs.
_QUAL = f"""
  SELECT doc_id, lang, source,
         floor((
           (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END)
           * (0.5 + 0.5 * (len(list_distinct(toks)) / nullif(len(toks), 0)))
           - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                   / greatest(length(text), 1) * 5, 0.5)
         ) * 1000000 + 0.5) / 1000000.0 AS q
  FROM (SELECT doc_id, lang, source, text, {_TOKS} AS toks FROM documents)
"""


TWINS["quality_auc_report"] = f"""
        WITH s AS ({_QUAL}),
        f AS (SELECT q, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
              FROM s WHERE q IS NOT NULL),
        per AS (SELECT q, CAST(sum(pos) AS BIGINT) AS p,
                       CAST(sum(1 - pos) AS BIGINT) AS n
                FROM f GROUP BY q),
        cumt AS (SELECT p, n,
                        CAST(coalesce(sum(n) OVER (ORDER BY q
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          AS BIGINT) AS cneg
                 FROM per),
        agg AS (SELECT CAST(sum(p * (2 * cneg + n)) AS BIGINT) AS u2,
                       CAST(sum(p) AS BIGINT) AS n_pos,
                       CAST(sum(n) AS BIGINT) AS n_neg
                FROM cumt),
        a AS (SELECT n_pos, n_neg,
                     floor(u2 / (2.0 * n_pos * n_neg) * 1000000 + 0.5) / 1000000.0 AS auc
              FROM agg)
        SELECT n_pos, n_neg, auc,
               floor((2 * auc - 1) * 1000000 + 0.5) / 1000000.0 AS gini
        FROM a
    """


def q_quality_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the quality score against lang = 'en':
    scores clamp-binned to deciles (floor(q·10) clamped to [−5, 9] —
    the score can go mildly negative via the punctuation penalty), per
    bin the doc count, positive count, positive fraction and mean
    score. The mean is exact: 6-dp scores are integers in micro-units,
    summed as longs, divided once.

    Scale: one corpus aggregate onto ≤ 15 bins."""
    scored = _scored_docs(spark, sf_dir).select(
        F.least(F.greatest(F.floor(F.col("q") * 10), F.lit(-5)), F.lit(9))
        .cast("int")
        .alias("bin"),
        (F.col("lang") == "en").cast("int").alias("pos"),
        F.floor(F.col("q") * 1e6 + F.lit(0.5)).cast("long").alias("q_micro"),
    )
    return scored.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
        round_det(F.sum("pos") / F.count("*"), 6).alias("frac_pos"),
        round_det(F.sum("q_micro") / F.count("*") / F.lit(1e6), 6).alias(
            "mean_quality"
        ),
    )


TWINS["quality_calibration_report"] = f"""
        WITH s AS ({_QUAL}),
        f AS (SELECT CAST(least(greatest(floor(q * 10), -5), 9) AS INTEGER) AS bin,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
                     CAST(floor(q * 1000000.0 + 0.5) AS BIGINT) AS q_micro
              FROM s WHERE q IS NOT NULL)
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               floor(sum(pos) / count(*) * 1000000 + 0.5) / 1000000.0 AS frac_pos,
               floor(sum(q_micro) / count(*) / 1000000.0 * 1000000 + 0.5) / 1000000.0
                 AS mean_quality
        FROM f GROUP BY bin
    """


def q_source_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Kolmogorov-Smirnov drift statistic: for each source,
    D = max_t |ECDF_source(t) − ECDF_rest(t)| of the quality-score
    distribution vs the REST of the corpus — the standard
    distribution-shift monitor for a multi-source ingest pipeline.

    Exact and engine-portable: the sweep runs over the full grid of
    (source × distinct score) points (the max is attained at a data
    score point of EITHER side, so a source's own score points alone
    are insufficient); the comparison is the cross-multiplied INTEGER
    form |cum_s·N_r − cum_r·N_s| in decimal(38,0), so no float ever
    decides the argmax, and ties break toward the smallest score. Only
    the final D/(N_s·N_r) is a float — one division tree.

    Scale: per-source cumulative windows over grid-bounded score
    tables (sources × grid rows total); the corpus is touched by one
    aggregate."""
    scored = _scored_docs(spark, sf_dir)
    per_sq = scored.groupBy("source", "q").agg(F.count("*").cast("long").alias("c"))
    per_q = scored.groupBy("q").agg(F.count("*").cast("long").alias("c_all"))
    totals = scored.groupBy("source").agg(F.count("*").cast("long").alias("n_s"))
    n_total = F.broadcast(scored.agg(F.count("*").cast("long").alias("n_tot")))

    # .limit(1000) is a no-op on data (source is an enumeration-bounded
    # label, ~tens of values) that stamps a plan-provable hard cap on
    # the grid product's broadcast side; the explicit broadcast hint
    # pins the PROVEN side as the build side.
    grid = per_q.select("q").crossJoin(
        F.broadcast(totals.select("source").limit(1000))
    )
    # r15 (VERDICT r14 item 7): both cumulative sweeps move off global/
    # per-source windows onto the range-partitioned two_phase_rank cum
    # device. The global ECDF was a SinglePartition funnel over the
    # grid-cardinality score table; the per-source one put each
    # source's ENTIRE grid on one task (enumeration-bounded keys — the
    # repo's fat-partition window trap). The per-source cumulative is
    # recovered from the GLOBAL (source, q)-ordered running sum minus
    # the source's prefix offset (exact longs; the offsets ride a
    # driver literal — sources are control-sized by the same contract
    # as the limit(1000) cap below).
    cum_all = two_phase_rank(per_q, ["q"], cum_col="c_all").select(
        "q", F.col("cum").cast("long").alias("cum_all")
    )
    base = grid.join(per_sq, ["source", "q"], "left").select(
        "source", "q", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    offs = collected_offsets(totals, ["source"], [("n_s", "_soff")])
    cum = (
        two_phase_rank(base, ["source", "q"], cum_col="c")
        .join(F.broadcast(offs), "source")
        .select(
            "source", "q", (F.col("cum") - F.col("_soff")).cast("long").alias("cum_s"),
            "n_s",
        )
        .join(cum_all, "q")
        .crossJoin(n_total)
    )
    d_num = F.abs(
        F.col("cum_s").cast("decimal(38,0)") * (F.col("n_tot") - F.col("n_s"))
        - (F.col("cum_all") - F.col("cum_s")).cast("decimal(38,0)") * F.col("n_s")
    )
    sweep = cum.select(
        "source", "q", "n_s", "n_tot", d_num.alias("d_num")
    )
    w_pick = Window.partitionBy("source").orderBy(F.desc("d_num"), F.asc("q"))
    best = sweep.select(
        "source", "q", "n_s", "n_tot", "d_num",
        F.row_number().over(w_pick).alias("_rn"),
    ).filter(F.col("_rn") == 1)
    return best.select(
        "source",
        F.col("n_s").alias("n_docs"),
        round_det(
            F.col("d_num").cast("double")
            / (
                F.col("n_s").cast("double")
                * (F.col("n_tot") - F.col("n_s")).cast("double")
            ),
            6,
        ).alias("ks_stat"),
        F.col("q").alias("at_quality"),
    )


TWINS["source_ks_drift"] = f"""
        WITH s AS ({_QUAL}),
        f AS (SELECT source, q FROM s WHERE q IS NOT NULL),
        per_sq AS (SELECT source, q, CAST(count(*) AS BIGINT) AS c
                   FROM f GROUP BY 1, 2),
        per_q AS (SELECT q, CAST(count(*) AS BIGINT) AS c_all FROM f GROUP BY 1),
        totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
                   FROM f GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM f),
        grid AS (SELECT t.source, p.q FROM totals t CROSS JOIN per_q p),
        cum_all AS (SELECT q, CAST(sum(c_all) OVER (ORDER BY q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_all
                    FROM per_q),
        cums AS (SELECT g.source, g.q,
                        CAST(sum(coalesce(ps.c, 0)) OVER (PARTITION BY g.source
                          ORDER BY g.q
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS cum_s
                 FROM grid g
                 LEFT JOIN per_sq ps ON ps.source = g.source AND ps.q = g.q),
        sweep AS (SELECT c.source, c.q, t.n_s, x.n_tot,
                         abs(CAST(c.cum_s AS HUGEINT) * (x.n_tot - t.n_s)
                             - CAST(a.cum_all - c.cum_s AS HUGEINT) * t.n_s)
                           AS d_num
                  FROM cums c
                  JOIN cum_all a USING (q)
                  JOIN totals t USING (source)
                  CROSS JOIN tot x),
        best AS (SELECT *, row_number() OVER (PARTITION BY source
                   ORDER BY d_num DESC, q ASC) AS rn
                 FROM sweep)
        SELECT source, n_s AS n_docs,
               floor(CAST(d_num AS DOUBLE)
                     / (CAST(n_s AS DOUBLE) * CAST(n_tot - n_s AS DOUBLE))
                     * 1000000 + 0.5) / 1000000.0 AS ks_stat,
               q AS at_quality
        FROM best WHERE rn = 1
    """


def q_blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking audit: does the cheap SimHash banding
    stage (the 100-TB-scale candidate generator) actually surface the
    true near-duplicate pairs?  Composes two already-verified
    pipelines — md5-SimHash band candidates and the exact n-gram
    Jaccard ≥ 0.8 truth set — into the two standard blocking metrics:

    - pairs completeness = |candidates ∩ truth| / |truth|  (recall of
      the blocker; the S-curve analog for SimHash banding);
    - reduction ratio = 1 − |candidates| / C(n,2)  (how much of the
      quadratic pair space the blocker prunes).

    All counts are exact longs; the two ratios are single divisions.
    One row out. Scale: both inputs are banded/bucketed pipelines —
    nothing here is all-pairs; C(n,2) is arithmetic, not a join."""
    from kickstarter_etl_pipeline_spark.qdefs_star_events import (
        q_ngram_jaccard_pairs,
        q_simhash_md5_candidates,
    )

    cands = q_simhash_md5_candidates(spark, sf_dir).select("id_a", "id_b")
    truth = q_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    n_docs = F.broadcast(
        load_table(spark, sf_dir, "documents").agg(
            F.count("*").cast("long").alias("n_docs")
        )
    )
    n_cand = F.broadcast(cands.agg(F.count("*").cast("long").alias("n_candidates")))
    n_true = F.broadcast(truth.agg(F.count("*").cast("long").alias("n_true_pairs")))
    n_hit = F.broadcast(
        cands.join(truth, ["id_a", "id_b"]).agg(
            F.count("*").cast("long").alias("n_candidates_true")
        )
    )
    return (
        n_docs.crossJoin(n_cand)
        .crossJoin(n_true)
        .crossJoin(n_hit)
        .select(
            "n_docs",
            (F.col("n_docs") * (F.col("n_docs") - 1) / 2)
            .cast("long")
            .alias("n_possible_pairs"),
            "n_candidates",
            "n_true_pairs",
            "n_candidates_true",
            round_det(
                F.try_divide(F.col("n_candidates_true"), F.col("n_true_pairs")), 6
            ).alias("pairs_completeness"),
            round_det(
                1
                - F.try_divide(
                    F.col("n_candidates"),
                    (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long"),
                ),
                6,
            ).alias("reduction_ratio"),
        )
    )


# FULL twin of q_blocking_quality_report (round 9): the two standard
# entity-resolution blocking metrics, composed from the verified
# md5-SimHash candidate twin and the exact n-gram Jaccard >= 0.8 truth
# twin (both in qdefs_star_events.TWINS). All counts exact;
# C(n,2) is arithmetic (n(n-1) is always even, so /2 is an exact-valued
# double on both engines before the BIGINT cast).
TWINS["blocking_quality_report"] = f"""
    WITH cand AS (SELECT id_a, id_b FROM ({qdefs_star_events.TWINS['simhash_md5_candidates']})),
    truth AS (SELECT id_a, id_b FROM ({qdefs_star_events.TWINS['ngram_jaccard_pairs']})),
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


def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope of daily event volume: the median
    of all pairwise slopes (c_j − c_i)/(d_j − d_i) over day pairs —
    the estimator that shrugs off the outlier days a least-squares
    slope chases. Slopes snap to the 6-dp grid before the median so
    both engines select the identical element; median = exact middle
    selection over (slope, day_i, day_j) total order, averaging the
    two middles on even counts.

    Scale: the pair space is CALENDAR-bounded (days², not data²) —
    365 days is 66k pairs regardless of corpus size; the only
    data-sized stage is the daily count aggregate."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
        .select(
            F.datediff("day", F.lit("1970-01-01").cast("date")).alias("d"), "c"
        )
    )
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        "da",
        "db",
        round_det(
            (F.col("cb") - F.col("ca")) / (F.col("db") - F.col("da")), 6
        ).alias("slope"),
    )
    n_days = F.broadcast(daily.agg(F.count("*").cast("long").alias("n_days")))
    cnt = F.broadcast(pairs.agg(F.count("*").cast("long").alias("n_pairs")))
    w = Window.orderBy("slope", "da", "db")
    mids = (
        pairs.select("slope", F.row_number().over(w).alias("rn"))
        .crossJoin(cnt)
        .filter(
            (F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n_pairs") / 2) + 1)
        )
    )
    med = mids.groupBy("n_pairs").agg(
        round_det(F.sum("slope") / F.count("*"), 6).alias("ts_slope")
    )
    return n_days.crossJoin(med).select("n_days", "n_pairs", "ts_slope")


TWINS["theil_sen_daily_trend"] = """
        WITH daily AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
                              CAST(count(*) AS BIGINT) AS c
                       FROM events GROUP BY 1),
        pairs AS (SELECT a.d AS da, b.d AS db,
                         floor((b.c - a.c) / (b.d - a.d) * 1000000 + 0.5) / 1000000.0
                           AS slope
                  FROM daily a JOIN daily b ON a.d < b.d),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
        np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
        ranked AS (SELECT slope, row_number() OVER (ORDER BY slope, da, db) AS rn
                   FROM pairs),
        mids AS (SELECT r.slope, p.n_pairs
                 FROM ranked r CROSS JOIN np p
                 WHERE r.rn = floor((p.n_pairs + 1) / 2)
                    OR r.rn = floor(p.n_pairs / 2) + 1),
        med AS (SELECT n_pairs,
                       floor(sum(slope) / count(*) * 1000000 + 0.5) / 1000000.0
                         AS ts_slope
                FROM mids GROUP BY n_pairs)
        SELECT n_days, n_pairs, ts_slope FROM nd CROSS JOIN med
    """


def q_rank_correlation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman (midrank) and Pearson correlation between
    document length (n_chars) and the quality score — the "is the
    quality signal just a length proxy?" audit every curation pipeline
    owes itself.

    Both coefficients come out of ONE pass of exact integer aggregates
    via the Pearson-on-X formula r = (nΣXY − ΣXΣY) /
    √((nΣX² − (ΣX)²)(nΣY² − (ΣY)²)):

    - Pearson: X = n_chars, Y = the score in micro-units (longs).
    - Spearman: X, Y = DOUBLED midranks — 2·rank = 2·cum_before + c + 1
      is always an INTEGER (the ·2 clears the tie-average half), and
      the formula is scale-invariant, so doubling changes nothing.
      Midranks come from per-value counts + a cumulative window over
      the value-grid table (grid/charset-bounded, never a corpus
      sort), broadcast-joined back by value — no global row ranking.

    Every aggregate is decimal(38,0)-exact; the single float stage is
    the shared division tree, identical in the SQL twin. Exactness
    bound: nΣXY ≤ 4n⁴ stays inside decimal(38,0) to n ≈ 2·10⁹ rows;
    beyond that, rescale the rank units (the formula is invariant).

    Scale: two value-grid aggregates + one corpus aggregate of six
    sums. Output: one row (n_docs, pearson_r, spearman_rho)."""
    scored = _scored_docs(spark, sf_dir).join(
        load_table(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id"
    )
    base = scored.select(
        F.col("n_chars").cast("long").alias("x"),
        F.floor(F.col("q") * 1e6 + F.lit(0.5)).cast("long").alias("y"),
    )

    def doubled_midranks(col: str) -> DataFrame:
        # r15 (VERDICT r14 item 7): the cumulative-before sweep used a
        # global no-partition window — a SinglePartition funnel over
        # the value-grid table (data-derived at scale). two_phase_rank's
        # range-partitioned running sum gives the identical exact-long
        # cumulative; cum_before = inclusive cum − the row's own count.
        per = base.groupBy(col).agg(F.count("*").cast("long").alias("_c"))
        return two_phase_rank(per, [col], cum_col="_c").select(
            col,
            (
                2 * (F.col("cum") - F.col("_c"))
                + F.col("_c")
                + 1
            ).cast("long").alias(f"_r2{col}"),
        )

    ranked = (
        base.join(F.broadcast(doubled_midranks("x")), "x")
        .join(F.broadcast(doubled_midranks("y")), "y")
    )

    def corr_expr(xc, yc, out):
        n = F.count("*").cast("decimal(38,0)")
        sx = F.sum(F.col(xc).cast("decimal(38,0)"))
        sy = F.sum(F.col(yc).cast("decimal(38,0)"))
        sxy = F.sum(F.col(xc).cast("decimal(38,0)") * F.col(yc))
        sxx = F.sum(F.col(xc).cast("decimal(38,0)") * F.col(xc))
        syy = F.sum(F.col(yc).cast("decimal(38,0)") * F.col(yc))
        num = (n * sxy - sx * sy).cast("double")
        vx = (n * sxx - sx * sx).cast("double")
        vy = (n * syy - sy * sy).cast("double")
        return round_det(num / F.sqrt(vx * vy), 6).alias(out)

    return ranked.agg(
        F.count("*").cast("long").alias("n_docs"),
        corr_expr("x", "y", "pearson_r"),
        corr_expr("_r2x", "_r2y", "spearman_rho"),
    )


TWINS["rank_correlation_report"] = f"""
        WITH s AS ({_QUAL}),
        j AS (SELECT CAST(d.n_chars AS BIGINT) AS x,
                     CAST(floor(s.q * 1000000.0 + 0.5) AS BIGINT) AS y
              FROM s JOIN documents d USING (doc_id) WHERE s.q IS NOT NULL),
        rx AS (SELECT x, CAST(2 * coalesce(sum(c) OVER (ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
                 AS BIGINT) AS r2x
               FROM (SELECT x, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY x)),
        ry AS (SELECT y, CAST(2 * coalesce(sum(c) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
                 AS BIGINT) AS r2y
               FROM (SELECT y, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY y)),
        r AS (SELECT j.x, j.y, rx.r2x, ry.r2y
              FROM j JOIN rx USING (x) JOIN ry USING (y)),
        agg AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                       sum(CAST(x AS HUGEINT)) AS sx,
                       sum(CAST(y AS HUGEINT)) AS sy,
                       sum(CAST(x AS HUGEINT) * y) AS sxy,
                       sum(CAST(x AS HUGEINT) * x) AS sxx,
                       sum(CAST(y AS HUGEINT) * y) AS syy,
                       sum(CAST(r2x AS HUGEINT)) AS srx,
                       sum(CAST(r2y AS HUGEINT)) AS sry,
                       sum(CAST(r2x AS HUGEINT) * r2y) AS srxy,
                       sum(CAST(r2x AS HUGEINT) * r2x) AS srxx,
                       sum(CAST(r2y AS HUGEINT) * r2y) AS sryy
                FROM r)
        SELECT CAST(n AS BIGINT) AS n_docs,
               floor(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE))
                     * 1000000 + 0.5) / 1000000.0 AS pearson_r,
               floor(CAST(n * srxy - srx * sry AS DOUBLE)
                     / sqrt(CAST(n * srxx - srx * srx AS DOUBLE)
                            * CAST(n * sryy - sry * sry AS DOUBLE))
                     * 1000000 + 0.5) / 1000000.0 AS spearman_rho
        FROM agg
    """


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones, k1=1.2, b=0.75):
    top-10 documents for a deterministic query — the 5 corpus-wide
    most-frequent tokens (count DESC, token ASC), so the query is a
    pure function of the data and both engines derive it identically.
    This is the scoring half of a search stack the inverted-index
    operator (inverted_index) only stores.

    Exactness: idf = ln((N − df + 0.5)/(df + 0.5) + 1) snaps to the
    nano-nat grid per term; each (doc, term) partial score is ONE fixed
    IEEE tree — idf⁹ · tf·(k1+1) / (tf + k1·(1−b + b·dl·N/T)) — snapped
    to nano-units as a LONG, so the per-doc sum over matched terms is
    an exact integer aggregate (float summation order never exists; the
    classic BM25-at-scale pitfall). dl/avgdl is expanded to dl·N/T so
    no precomputed float average is carried.

    Scale: tf is the uniform-key explode aggregate; the 5-term query
    rides a broadcast; top-10 is TakeOrdered. Shuffles are keyed by
    (doc, term) and doc — never all-pairs."""
    from kickstarter_etl_pipeline_spark.operators.text import tokens

    k1, b, k = 1.2, 0.75, 10
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("_toks")
    )
    tf = (
        docs.select("doc_id", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dl = docs.select("doc_id", F.size("_toks").cast("long").alias("dl"))
    n_row = F.broadcast(docs.agg(F.count("*").cast("long").alias("_n")))
    t_row = F.broadcast(dl.agg(F.sum("dl").cast("long").alias("_t")))
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    qterms = F.broadcast(
        tf.groupBy("term")
        .agg(F.sum("tf").alias("_cnt"))
        .orderBy(F.desc("_cnt"), F.asc("term"))
        .limit(5)
        .select("term")
        .join(df_tbl, "term")
        .crossJoin(n_row)
        .select(
            "term",
            "df",
            F.floor(
                F.log(
                    (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * 1e9
                + F.lit(0.5)
            ).cast("long")
            .alias("idf9"),
        )
    )
    scored = (
        tf.join(qterms, "term")
        .join(dl, "doc_id")
        .crossJoin(n_row)
        .crossJoin(t_row)
        .select(
            "doc_id",
            F.floor(
                # constants written as the same double literals the SQL
                # twin uses — NOT derived (k1+1.0 at runtime lands one
                # ulp off the 2.2 literal; the mmr lesson). 1−b = 0.25
                # is exact but spelled literally for the same reason.
                (F.col("idf9") / F.lit(1e9))
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * (F.col("dl") * F.col("_n") / F.col("_t"))
                    )
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("_s9"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_matched"),
        F.sum("_s9").cast("long").alias("_sum9"),
    )
    # TakeOrdered first (orderBy+limit → no data-sized single-partition
    # window); the rank window then runs over k rows only.
    top = per_doc.orderBy(F.desc("_sum9"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("_sum9"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "rank",
            "doc_id",
            "n_terms_matched",
            round_det(F.col("_sum9") / F.lit(1e9), 6).alias("bm25_score"),
        )
    )


TWINS["bm25_topk"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t FROM dl),
        dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        q AS (SELECT term FROM (SELECT term, sum(tf) AS cnt FROM tf
                                GROUP BY term ORDER BY cnt DESC, term LIMIT 5)),
        qi AS (SELECT q.term, dfr.df,
                      CAST(floor(ln((n.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
                                 * 1000000000 + 0.5) AS BIGINT) AS idf9
               FROM q JOIN dfr USING (term) CROSS JOIN n),
        sc AS (SELECT tf.doc_id,
                      CAST(floor((qi.idf9 / 1000000000.0)
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * n.n / tt.t)))
                           * 1000000000 + 0.5) AS BIGINT) AS s9
               FROM tf JOIN qi USING (term) JOIN dl USING (doc_id)
               CROSS JOIN n CROSS JOIN tt),
        pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
                      CAST(sum(s9) AS BIGINT) AS sum9
               FROM sc GROUP BY doc_id),
        ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY sum9 DESC, doc_id)
                     AS INTEGER) AS rank
                   FROM pd)
        SELECT rank, doc_id, n_terms_matched,
               floor(sum9 / 1000000000.0 * 1000000 + 0.5) / 1000000.0 AS bm25_score
        FROM ranked WHERE rank <= 10
    """


def q_snm_blocking_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995, the
    multi-pass merge/purge method) audited with the same two metrics
    as q_blocking_quality_report — the OTHER classic candidate
    generator next to SimHash banding: sort the records by a cheap
    blocking key, slide a fixed window of w = 6 over the sort order,
    and emit every in-window pair as a candidate; a second pass with
    an independent key catches pairs the first key separates.

    Keys (pass 1: 16-char prefix of the normalized text; pass 2:
    zero-padded length then 8-char prefix) are pure expressions of the
    row — both engines derive identical sort keys, and the global sort
    order is totally determined by (key, doc_id).

    Scale: the global sort is the two_phase_rank range exchange (no
    single-task window — the r7 scale path); the windowed pairing is
    an EQUI-join on rank+d for d ∈ 1..w−1 (a bounded 5× fan-out on
    dense integer keys), never a range join or all-pairs. The truth
    set and candidate set are both banded pipelines; every metric is
    a ratio of exact longs. One row out."""
    from kickstarter_etl_pipeline_spark.qdefs_star_events import (
        q_ngram_jaccard_pairs,
    )

    W = 6
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", TX.normalized().alias("_norm"), "n_chars"
    )
    keyed = docs.select(
        "doc_id",
        F.substring("_norm", 1, 16).alias("_k1"),
        F.concat(
            F.lpad(F.col("n_chars").cast("string"), 8, "0"),
            F.substring("_norm", 1, 8),
        ).alias("_k2"),
    )

    def _pass(key: str) -> DataFrame:
        ranked = two_phase_rank(keyed.select("doc_id", key), [key, "doc_id"])
        left = ranked.select(F.col("doc_id").alias("_ida"), F.col("rank").alias("_ra"))
        offs = left.select(
            "_ida",
            F.explode(F.array(*[F.lit(d) for d in range(1, W)])).alias("_d"),
            "_ra",
        ).select("_ida", (F.col("_ra") + F.col("_d")).alias("_rb"))
        right = ranked.select(F.col("doc_id").alias("_idb"), F.col("rank").alias("_rb"))
        return offs.join(right, "_rb").select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
        )

    cands = _pass("_k1").unionByName(_pass("_k2")).distinct()
    truth = q_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    n_docs = F.broadcast(
        load_table(spark, sf_dir, "documents").agg(
            F.count("*").cast("long").alias("n_docs")
        )
    )
    n_cand = F.broadcast(cands.agg(F.count("*").cast("long").alias("n_candidates")))
    n_true = F.broadcast(truth.agg(F.count("*").cast("long").alias("n_true_pairs")))
    n_hit = F.broadcast(
        cands.join(truth, ["id_a", "id_b"]).agg(
            F.count("*").cast("long").alias("n_candidates_true")
        )
    )
    return (
        n_docs.crossJoin(n_cand)
        .crossJoin(n_true)
        .crossJoin(n_hit)
        .select(
            "n_docs",
            (F.col("n_docs") * (F.col("n_docs") - 1) / 2)
            .cast("long")
            .alias("n_possible_pairs"),
            "n_candidates",
            "n_true_pairs",
            "n_candidates_true",
            round_det(
                F.col("n_candidates_true")
                / F.nullif(F.col("n_true_pairs"), F.lit(0)),
                6,
            ).alias("pairs_completeness"),
            round_det(
                F.lit(1)
                - F.col("n_candidates")
                / (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long"),
                6,
            ).alias("reduction_ratio"),
        )
    )


# FULL twin of q_snm_blocking_report (round 9, third session):
# sorted-neighborhood blocking (Hernández & Stolfo 1995) — two passes
# of row_number over pure-expression sort keys (doc_id tie-break =
# total order, the two_phase_rank contract), in-window pairs for
# w = 6 via rank-difference 1..5, metrics mirroring the
# blocking_quality_report tree shapes exactly (verified pair).
TWINS["snm_blocking_report"] = f"""
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
    truth AS (SELECT id_a, id_b FROM ({qdefs_star_events.TWINS['ngram_jaccard_pairs']})),
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


def q_rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009, the
    standard score-free ranker combiner, k = 60): fuse the BM25 ranker
    (q_bm25_topk's scoring, here ranked over ALL matching docs) with a
    plain term-frequency ranker for the same deterministic 5-term
    query, and report the top-10 fused documents —

        rrf(d) = Σ_r 1 / (60 + rank_r(d))

    Exactness: both input rankings are total orders (score DESC,
    doc_id), so every rank is a deterministic integer; each reciprocal
    snaps to the nano grid — floor(1e9/(60+rank) + 0.5), identical
    IEEE division of exact integers on both engines — and the fused
    score is an exact two-long sum, so the final cut is decided on
    integers with doc_id tie-break.

    Scale: both full rankings run on two_phase_rank (range exchanges,
    no single-task window — rank-ALL is exactly the regime the scale
    path exists for); the fusion join is doc_id-keyed; top-10 is a
    TakeOrdered. The 5-term query rides a broadcast as in bm25."""
    from kickstarter_etl_pipeline_spark.operators.text import tokens

    RRF_K = 60
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens().alias("_toks")
    )
    tf = (
        docs.select("doc_id", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dl = docs.select("doc_id", F.size("_toks").cast("long").alias("dl"))
    n_row = F.broadcast(docs.agg(F.count("*").cast("long").alias("_n")))
    t_row = F.broadcast(dl.agg(F.sum("dl").cast("long").alias("_t")))
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    qterms = F.broadcast(
        tf.groupBy("term")
        .agg(F.sum("tf").alias("_cnt"))
        .orderBy(F.desc("_cnt"), F.asc("term"))
        .limit(5)
        .select("term")
        .join(df_tbl, "term")
        .crossJoin(n_row)
        .select(
            "term",
            F.floor(
                F.log(
                    (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("idf9"),
        )
    )
    scored = (
        tf.join(qterms, "term")
        .join(dl, "doc_id")
        .crossJoin(n_row)
        .crossJoin(t_row)
        .select(
            "doc_id",
            "tf",
            F.floor(
                (F.col("idf9") / F.lit(1e9))
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * (F.col("dl") * F.col("_n") / F.col("_t"))
                    )
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("_s9"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("_s9").cast("long").alias("_sum9"),
        F.sum("tf").cast("long").alias("_tfsum"),
    )
    ra = two_phase_rank(per_doc, [F.desc("_sum9"), "doc_id"]).select(
        "doc_id", F.col("rank").cast("int").alias("rank_bm25")
    )
    rb = two_phase_rank(per_doc, [F.desc("_tfsum"), "doc_id"]).select(
        "doc_id", F.col("rank").cast("int").alias("rank_tf")
    )
    fused = ra.join(rb, "doc_id").select(
        "doc_id",
        "rank_bm25",
        "rank_tf",
        (
            F.floor(F.lit(1e9) / (F.lit(RRF_K) + F.col("rank_bm25")) + F.lit(0.5))
            + F.floor(F.lit(1e9) / (F.lit(RRF_K) + F.col("rank_tf")) + F.lit(0.5))
        )
        .cast("long")
        .alias("_rrf9"),
    )
    top = fused.orderBy(F.desc("_rrf9"), F.asc("doc_id")).limit(10)
    w = Window.orderBy(F.desc("_rrf9"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "rank_bm25",
        "rank_tf",
        round_det(F.col("_rrf9").cast("double") / F.lit(1e9), 6).alias("rrf_score"),
    )


TWINS["rrf_fusion_topk"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        tt AS (SELECT CAST(sum(dl) AS BIGINT) AS t FROM dl),
        dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        q AS (SELECT term FROM (SELECT term, sum(tf) AS cnt FROM tf
                                GROUP BY term ORDER BY cnt DESC, term LIMIT 5)),
        qi AS (SELECT q.term,
                      CAST(floor(ln((n.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
                                 * 1000000000 + 0.5) AS BIGINT) AS idf9
               FROM q JOIN dfr USING (term) CROSS JOIN n),
        sc AS (SELECT tf.doc_id, tf.tf,
                      CAST(floor((qi.idf9 / 1000000000.0)
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * n.n / tt.t)))
                           * 1000000000 + 0.5) AS BIGINT) AS s9
               FROM tf JOIN qi USING (term) JOIN dl USING (doc_id)
               CROSS JOIN n CROSS JOIN tt),
        pd AS (SELECT doc_id, CAST(sum(s9) AS BIGINT) AS sum9,
                      CAST(sum(tf) AS BIGINT) AS tfsum
               FROM sc GROUP BY doc_id),
        ra AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sum9 DESC, doc_id)
                 AS INTEGER) AS rank_bm25 FROM pd),
        rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY tfsum DESC, doc_id)
                 AS INTEGER) AS rank_tf FROM pd),
        fused AS (SELECT ra.doc_id, rank_bm25, rank_tf,
                         CAST(floor(1000000000.0 / (60 + rank_bm25) + 0.5)
                              + floor(1000000000.0 / (60 + rank_tf) + 0.5)
                              AS BIGINT) AS rrf9
                  FROM ra JOIN rb USING (doc_id)),
        ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY rrf9 DESC, doc_id)
                     AS INTEGER) AS rank
                   FROM fused)
        SELECT rank, doc_id, rank_bm25, rank_tf,
               floor(rrf9 / 1000000000.0 * 1000000 + 0.5) / 1000000.0 AS rrf_score
        FROM ranked WHERE rank <= 10
    """


#: NDCG position weights: w_i = floor(1e9 / log2(i+1) + 0.5) for
#: positions 1..10, HARDCODED on both engines (the derived-constant
#: lesson — computing log2 at runtime on each engine is a cross-libm
#: bet for zero gain; these ten literals ARE the contract).
_NDCG_W9 = [
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
]


def q_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the quality-score ranker against a graded relevance
    label (Järvelin & Kekäläinen 2002) — the standard ranking-quality
    metric completing the eval tier next to AUC (binary ranking),
    calibration, and Spearman. Relevance grades are a fixed band map
    of document length (≥400 chars → 3, ≥250 → 2, ≥120 → 1, else 0 —
    literal thresholds, identical on both engines); gains are the
    standard 2^rel − 1.

    Exactness: DCG@10 = Σ gain_i · w_i with the ten position weights
    hardcoded in nano units (above), so both DCG and ideal DCG are
    exact integer sums; NDCG is one fixed IEEE division of those two
    longs, snapped to 6 dp. The two top-10 cuts are total orders
    ((q DESC, doc_id) and (rel DESC, doc_id)) — no tie ambiguity.

    Scale: two TakeOrdered top-10s over the scored corpus (no global
    sort, no data-sized window — the rank windows run over 10 rows);
    one crossJoin of two one-row aggregates."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = _scored_docs(spark, sf_dir).join(docs, "doc_id")
    rel = (
        F.when(F.col("n_chars") >= 400, 3)
        .when(F.col("n_chars") >= 250, 2)
        .when(F.col("n_chars") >= 120, 1)
        .otherwise(0)
        .cast("int")
    )
    gain = F.element_at(
        F.array(F.lit(0), F.lit(1), F.lit(3), F.lit(7)), rel + 1
    ).cast("long")
    warr = F.array(*[F.lit(w) for w in _NDCG_W9])

    def _dcg9(ordered: DataFrame, order_cols) -> DataFrame:
        top = ordered.orderBy(*order_cols).limit(10)
        w = Window.orderBy(*order_cols)
        pos = F.row_number().over(w)
        return top.select(
            (F.col("_gain") * F.element_at(warr, pos)).alias("_term")
        ).agg(F.sum("_term").cast("long").alias("_dcg9"))

    base = scored.select("doc_id", "q", gain.alias("_gain"))
    dcg = _dcg9(base, [F.desc("q"), F.asc("doc_id")]).select(
        F.col("_dcg9").alias("_d9")
    )
    idcg = _dcg9(base, [F.desc("_gain"), F.asc("doc_id")]).select(
        F.col("_dcg9").alias("_i9")
    )
    n_row = scored.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        n_row.crossJoin(F.broadcast(dcg))
        .crossJoin(F.broadcast(idcg))
        .select(
            "n_docs",
            round_det(F.col("_d9").cast("double") / F.lit(1e9), 6).alias("dcg_at_10"),
            round_det(F.col("_i9").cast("double") / F.lit(1e9), 6).alias("idcg_at_10"),
            round_det(
                F.col("_d9").cast("double") / F.nullif(F.col("_i9"), F.lit(0)), 6
            ).alias("ndcg_at_10"),
        )
    )


TWINS["ndcg_report"] = f"""
        WITH s AS ({_QUAL}),
        base AS (
          SELECT s.doc_id, s.q,
                 CAST(CASE WHEN d.n_chars >= 400 THEN 7
                           WHEN d.n_chars >= 250 THEN 3
                           WHEN d.n_chars >= 120 THEN 1
                           ELSE 0 END AS BIGINT) AS gain
          FROM s JOIN documents d USING (doc_id) WHERE s.q IS NOT NULL),
        w AS (SELECT [1000000000, 630929754, 500000000, 430676558, 386852807,
                      356207187, 333333333, 315464877, 301029996, 289064826] AS ws),
        dtop AS (SELECT gain, row_number() OVER (ORDER BY q DESC, doc_id) AS pos
                 FROM base ORDER BY q DESC, doc_id LIMIT 10),
        itop AS (SELECT gain, row_number() OVER (ORDER BY gain DESC, doc_id) AS pos
                 FROM base ORDER BY gain DESC, doc_id LIMIT 10),
        d9 AS (SELECT CAST(sum(gain * ws[pos]) AS BIGINT) AS d FROM dtop CROSS JOIN w),
        i9 AS (SELECT CAST(sum(gain * ws[pos]) AS BIGINT) AS i FROM itop CROSS JOIN w),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base)
        SELECT n_docs,
               floor(d / 1000000000.0 * 1000000 + 0.5) / 1000000.0 AS dcg_at_10,
               floor(i / 1000000000.0 * 1000000 + 0.5) / 1000000.0 AS idcg_at_10,
               floor(CAST(d AS DOUBLE) / nullif(i, 0) * 1000000 + 0.5) / 1000000.0
                 AS ndcg_at_10
        FROM n CROSS JOIN d9 CROSS JOIN i9
    """


def q_welch_ttest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing mean order value
    between the 1997 and 1998 cohorts — the classical two-sample
    location test completing the stats tier next to the exact AUC
    (Mann-Whitney), the KS drift sweep, and the chi-square
    independence audit.

    Exactness: the sufficient statistics are exact integers — n,
    Σcents, Σcents² per cohort, all decimal(38,0) (cents² sums pass
    2^63 long before sf1, hence the wide decimal / HUGEINT twin) —
    and every downstream value (t statistic, Welch-Satterthwaite df)
    is ONE fixed IEEE tree of +,−,×,÷,sqrt over those integers.
    Correctly-rounded IEEE ops on identical inputs are engine-identical
    with no grid (the kneser-ney ratio-tree device; the only discipline
    is that both engines spell the same association order, which the
    twin mirrors token for token). Means are emitted by the exact
    integer floor-division device (cents·10000 DIV n).

    Scale: one scan, two partial-aggregated groups — the whole test is
    a map-side combine into 2 rows."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    g = (
        orders.select(F.year("o_orderdate").alias("_y"), cents.alias("_c"))
        .filter(F.col("_y").isin(1997, 1998))
        .groupBy("_y")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum(F.col("_c").cast("decimal(38,0)")).alias("_s"),
            F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_c")).alias("_q"),
        )
    )
    a = F.broadcast(
        g.filter(F.col("_y") == 1997).select(
            F.col("_n").alias("n_a"), F.col("_s").alias("_sa"), F.col("_q").alias("_qa")
        )
    )
    b = F.broadcast(
        g.filter(F.col("_y") == 1998).select(
            F.col("_n").alias("n_b"), F.col("_s").alias("_sb"), F.col("_q").alias("_qb")
        )
    )
    j = a.crossJoin(b)
    sa, qa, na = F.col("_sa").cast("double"), F.col("_qa").cast("double"), F.col("n_a")
    sb, qb, nb = F.col("_sb").cast("double"), F.col("_qb").cast("double"), F.col("n_b")
    va = (qa - sa * sa / na) / (na - 1)
    vb = (qb - sb * sb / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (sa / na - sb / nb) / F.sqrt(se2)
    df = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )

    def mean6(s, n):
        s10k = F.col(s) * 10000
        nn = F.col(n)
        return ((s10k - s10k % nn) / nn).cast("long") / F.lit(1e6)

    return j.select(
        F.col("n_a"),
        F.col("n_b"),
        mean6("_sa", "n_a").alias("mean_a"),
        mean6("_sb", "n_b").alias("mean_b"),
        round_det(t, 6).alias("t_stat"),
        round_det(df, 6).alias("welch_df"),
    )


# FULL twin of q_welch_ttest_report: exact integer sufficient stats
# (n, sum cents, sum cents^2 — HUGEINT), then ONE fixed IEEE tree of
# +,-,x,/,sqrt mirrored token for token from the Spark side (correctly
# rounded IEEE ops on identical inputs are engine-identical, no grid).
TWINS["welch_ttest_report"] = """
    WITH g AS (SELECT year(o_orderdate) AS y, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s,
                      sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS HUGEINT)
                          * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS q
               FROM orders WHERE year(o_orderdate) IN (1997, 1998) GROUP BY 1),
    a AS (SELECT n AS n_a, s AS sa, q AS qa FROM g WHERE y = 1997),
    b AS (SELECT n AS n_b, s AS sb, q AS qb FROM g WHERE y = 1998),
    t AS (SELECT n_a, n_b, sa, sb,
                 (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n_a)
                   / (n_a - 1) AS va,
                 (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n_b)
                   / (n_b - 1) AS vb
          FROM a, b)
    SELECT n_a, n_b,
           CAST((sa * 10000) // n_a AS BIGINT) / 1000000.0 AS mean_a,
           CAST((sb * 10000) // n_b AS BIGINT) / 1000000.0 AS mean_b,
           floor((CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)
                 / sqrt(va / n_a + vb / n_b) * 1000000 + 0.5) / 1000000.0 AS t_stat,
           floor(((va / n_a + vb / n_b) * (va / n_a + vb / n_b))
                 / ((va / n_a) * (va / n_a) / (n_a - 1)
                    + (vb / n_b) * (vb / n_b) / (n_b - 1))
                 * 1000000 + 0.5) / 1000000.0 AS welch_df
    FROM t
"""


def q_ols_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend of daily event volume with R² —
    the classical companion to the robust Theil-Sen slope
    (q_theil_sen_daily_trend): same daily-count spine, closed-form
    normal equations instead of pairwise medians.

    Exactness: the sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²;
    x = epoch day, y = count) are exact integers in decimal(38,0) /
    HUGEINT, and slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept and
    R² = cov²/(varx·vary) are ONE fixed IEEE tree over them, mirrored
    token for token (the welch_ttest device — +,−,×,÷ only, no grid).

    Scale: one data-sized daily aggregate, then a single 6-number
    reduce — the whole regression is a map-side combine."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("y"))
        .select(
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            "y",
        )
    )

    def dec(c):
        return F.col(c).cast("decimal(38,0)")

    g = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = cov / varx
    intercept = (sy - cov / varx * sx) / n
    r2 = (cov * cov) / (varx * vary)
    return g.select(
        "n",
        round_det(slope, 6).alias("slope_per_day"),
        round_det(intercept, 6).alias("intercept"),
        round_det(r2, 6).alias("r_squared"),
    )


# FULL twin of q_ols_daily_trend: exact HUGEINT sufficient statistics,
# then the identical IEEE +,-,x,/ tree (the welch_ttest device).
TWINS["ols_daily_trend"] = """
    WITH daily AS (SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
                          CAST(count(*) AS BIGINT) AS y
                   FROM events GROUP BY 1),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM daily)
    SELECT n,
           floor((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 1000000 + 0.5) / 1000000.0 AS slope_per_day,
           floor(((CAST(sy AS DOUBLE)
                   - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * CAST(sx AS DOUBLE)) / n)
                 * 1000000 + 0.5) / 1000000.0 AS intercept,
           floor(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS r_squared
    FROM g
"""


def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average of the event value stream — the
    temporal integral (each value held until the next event, averaged
    over the observed span) that a plain mean gets wrong whenever
    sampling is irregular; the standard financial/IoT aggregate. Users
    with a single event (zero span) are excluded on both engines.

    Exactness: values snap to exact micro-unit longs, durations are
    exact integer microseconds, the numerator Σ v·Δt rides
    decimal(38,0)/HUGEINT, and the average is the exact integer
    floor-division device — no float until the final /1e6 display
    cast.

    Scale: one user-keyed lead() window (per-user groups) + one
    user-keyed aggregate."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events")).select(
        "user_id",
        "event_id",
        "_us",
        F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long").alias("_vm"),
    )
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    seg = ev.select(
        "user_id",
        "_vm",
        "_us",
        (F.lead("_us").over(w) - F.col("_us")).alias("_dur"),
    )
    g = seg.groupBy("user_id").agg(
        (F.count("*")).cast("long").alias("n_events"),
        F.sum(F.col("_vm").cast("decimal(38,0)") * F.col("_dur")).alias("_num"),
        F.sum("_dur").cast("long").alias("_den"),
    )
    den = F.when(F.col("_den") > 0, F.col("_den"))
    twa_micro = ((F.col("_num") - F.col("_num") % den) / den).cast("long")
    return g.filter(F.col("_den") > 0).select(
        "user_id",
        "n_events",
        (twa_micro / F.lit(1e6)).alias("twa_value"),
    )


# FULL twin of q_time_weighted_value: micro-unit values, exact integer
# durations, HUGEINT numerator, exact floor division.
TWINS["time_weighted_value"] = """
    WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                       CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
                FROM events),
    seg AS (SELECT user_id, vm,
                   lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dur
            FROM ev),
    g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CAST(vm AS HUGEINT) * dur) AS HUGEINT) AS num,
                 CAST(sum(dur) AS BIGINT) AS den
          FROM seg GROUP BY user_id)
    SELECT user_id, n_events,
           CAST(num // den AS BIGINT) / 1000000.0 AS twa_value
    FROM g WHERE den > 0
"""


def q_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-touch-type conversion rate with the Wilson 95% score
    interval — the CI that stays inside [0,1] and behaves at small n
    (unlike the Wald interval). A user "converts" for a touch type if
    they emit a purchase at or after their FIRST event of that type.

    Exactness: k and n are exact longs; the Wilson bounds are ONE
    fixed IEEE tree (+,−,×,÷,sqrt — all correctly rounded) over them
    with the z = 1.96 literal hardcoded on both engines (the
    derived-constant lesson: z² is spelled 3.8416, never computed).

    Scale: two user-keyed aggregates, then a 3-row reduce."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    first_touch = (
        ev.filter(F.col("event_type").isin("click", "view", "signup"))
        .groupBy("user_id", "event_type")
        .agg(F.min("_us").alias("_t0"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("_us").alias("_tp_first"))
    )
    # converted iff ANY purchase at/after the first touch: since
    # purchases are a finite set, that's max(purchase ts) >= t0; use
    # the LAST purchase for the existence test.
    last_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max("_us").alias("_tp_last"))
    )
    j = first_touch.join(last_purchase, "user_id", "left")
    per = j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(
            F.when(F.col("_tp_last") >= F.col("_t0"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_converted"),
    )
    k, n = F.col("n_converted"), F.col("n_users")
    z2 = F.lit(3.8416)
    z = F.lit(1.96)
    p = k / n
    center = p + z2 / (2 * n)
    margin = z * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    denom = 1 + z2 / n
    return per.select(
        F.col("event_type").alias("touch_type"),
        "n_users",
        "n_converted",
        round_det(p, 6).alias("p_hat"),
        round_det((center - margin) / denom, 6).alias("wilson_lo"),
        round_det((center + margin) / denom, 6).alias("wilson_hi"),
    )


# FULL twin of q_conversion_wilson_ci: exact k/n, the identical Wilson
# IEEE tree with the hardcoded z = 1.96 / z^2 = 3.8416 literals.
TWINS["conversion_wilson_ci"] = """
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    ft AS (SELECT user_id, event_type, min(us) AS t0 FROM ev
           WHERE event_type IN ('click', 'view', 'signup')
           GROUP BY 1, 2),
    lp AS (SELECT user_id, max(us) AS tp_last FROM ev
           WHERE event_type = 'purchase' GROUP BY 1),
    per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(CASE WHEN tp_last >= t0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_converted
            FROM ft LEFT JOIN lp USING (user_id)
            GROUP BY event_type)
    SELECT event_type AS touch_type, n_users, n_converted,
           floor(n_converted / CAST(n_users AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS p_hat,
           floor(((n_converted / CAST(n_users AS DOUBLE) + 3.8416 / (2 * n_users)
                   - 1.96 * sqrt(n_converted / CAST(n_users AS DOUBLE)
                                 * (1 - n_converted / CAST(n_users AS DOUBLE)) / n_users
                                 + 3.8416 / (4 * n_users * n_users)))
                  / (1 + 3.8416 / n_users)) * 1000000 + 0.5) / 1000000.0 AS wilson_lo,
           floor(((n_converted / CAST(n_users AS DOUBLE) + 3.8416 / (2 * n_users)
                   + 1.96 * sqrt(n_converted / CAST(n_users AS DOUBLE)
                                 * (1 - n_converted / CAST(n_users AS DOUBLE)) / n_users
                                 + 3.8416 / (4 * n_users * n_users)))
                  / (1 + 3.8416 / n_users)) * 1000000 + 0.5) / 1000000.0 AS wilson_hi
    FROM per
"""


def q_fd_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling over the part catalog: for each
    candidate FD (name → size, name → price-cents, brand+type → size)
    report how many left-hand-side groups violate it (more than one
    distinct right-hand value) and the worst multiplicity — the
    classic data-profiling primitive behind key discovery and
    denormalization audits. Pure integer counting; prices compare as
    exact cents.

    Scale: one uniform groupBy per FD (unioned) — countDistinct per
    group, no joins."""
    part = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")

    def fd(label: str, lhs, rhs) -> DataFrame:
        g = part.groupBy(lhs.alias("_l")).agg(
            F.countDistinct(rhs).cast("long").alias("_d")
        )
        return g.agg(
            F.lit(label).alias("fd"),
            F.count("*").cast("long").alias("n_lhs_groups"),
            F.sum((F.col("_d") > 1).cast("long")).cast("long").alias("n_violating"),
            F.max("_d").cast("long").alias("max_distinct_rhs"),
        )
    a = fd("p_name->p_size", F.col("p_name"), F.col("p_size"))
    b = fd("p_name->price_cents", F.col("p_name"), cents)
    c = fd("brand_type->p_size", F.concat_ws("|", "p_brand", "p_type"), F.col("p_size"))
    return a.unionByName(b).unionByName(c)


# FULL twin of q_fd_violation_report: pure integer FD profiling.
TWINS["fd_violation_report"] = """
    WITH a AS (SELECT 'p_name->p_size' AS fd,
                      CAST(count(*) AS BIGINT) AS n_lhs_groups,
                      CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
                      CAST(max(d) AS BIGINT) AS max_distinct_rhs
               FROM (SELECT p_name, count(DISTINCT p_size) AS d FROM part GROUP BY 1)),
    b AS (SELECT 'p_name->price_cents',
                 CAST(count(*) AS BIGINT),
                 CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(max(d) AS BIGINT)
          FROM (SELECT p_name,
                       count(DISTINCT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS d
                FROM part GROUP BY 1)),
    c AS (SELECT 'brand_type->p_size',
                 CAST(count(*) AS BIGINT),
                 CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(max(d) AS BIGINT)
          FROM (SELECT concat_ws('|', p_brand, p_type), count(DISTINCT p_size) AS d
                FROM part GROUP BY 1))
    SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c
"""


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric columns
    (quantity, extendedprice cents, discount basis points) — the
    feature-screening staple, one row per column pair.

    Exactness: every value snaps to an exact integer unit first, the
    per-pair sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are
    decimal(38,0)/HUGEINT sums, and r = cov/√(varx·vary) is one fixed
    IEEE tree mirrored token for token (the welch device).

    Scale: ONE scan computes all three pairs' statistics in a single
    9-sum aggregate; the pair table is assembled from that one row."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = {
        "quantity": F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long"),
        "price_cents": F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"),
        "discount_bp": F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long"),
    }
    base = li.select(*[expr.alias(k) for k, expr in cols.items()])

    def dec(c):
        return F.col(c).cast("decimal(38,0)")

    names = list(cols)
    aggs = [F.count("*").cast("long").alias("n")]
    for c in names:
        aggs.append(F.sum(dec(c)).alias(f"s_{c}"))
        aggs.append(F.sum(dec(c) * F.col(c)).alias(f"q_{c}"))
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            aggs.append(F.sum(dec(a) * F.col(b)).alias(f"x_{a}_{b}"))
    g = base.agg(*aggs)

    pair_rows = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            n = F.col("n")
            sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
            qa, qb = F.col(f"q_{a}").cast("double"), F.col(f"q_{b}").cast("double")
            xab = F.col(f"x_{a}_{b}").cast("double")
            cov = n * xab - sa * sb
            va = n * qa - sa * sa
            vb = n * qb - sb * sb
            pair_rows.append(
                g.select(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("n"),
                    round_det(cov / F.sqrt(va * vb), 6).alias("pearson_r"),
                )
            )
    out = pair_rows[0]
    for p in pair_rows[1:]:
        out = out.unionByName(p)
    return out


# FULL twin of q_correlation_matrix: exact integer sufficient stats in
# one pass, the identical IEEE tree per pair.
TWINS["correlation_matrix"] = """
    WITH base AS (SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty,
                         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pc,
                         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS db
                  FROM lineitem),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(qty) AS HUGEINT) AS s_q, sum(CAST(qty AS HUGEINT) * qty) AS q_q,
                 CAST(sum(pc) AS HUGEINT) AS s_p, sum(CAST(pc AS HUGEINT) * pc) AS q_p,
                 CAST(sum(db) AS HUGEINT) AS s_d, sum(CAST(db AS HUGEINT) * db) AS q_d,
                 sum(CAST(qty AS HUGEINT) * pc) AS x_qp,
                 sum(CAST(qty AS HUGEINT) * db) AS x_qd,
                 sum(CAST(pc AS HUGEINT) * db) AS x_pd
          FROM base)
    SELECT 'quantity' AS col_a, 'price_cents' AS col_b, n,
           floor((n * CAST(x_qp AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_p AS DOUBLE))
                 / sqrt((n * CAST(q_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                        * (n * CAST(q_p AS DOUBLE) - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0 AS pearson_r
    FROM g
    UNION ALL
    SELECT 'quantity', 'discount_bp', n,
           floor((n * CAST(x_qd AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_d AS DOUBLE))
                 / sqrt((n * CAST(q_q AS DOUBLE) - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
                        * (n * CAST(q_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0
    FROM g
    UNION ALL
    SELECT 'price_cents', 'discount_bp', n,
           floor((n * CAST(x_pd AS DOUBLE) - CAST(s_p AS DOUBLE) * CAST(s_d AS DOUBLE))
                 / sqrt((n * CAST(q_p AS DOUBLE) - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE))
                        * (n * CAST(q_d AS DOUBLE) - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000.0
    FROM g
"""


def q_cramers_v_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between order status and priority — the
    normalized effect size on top of the chi-square machinery
    (q_chi2_type_by_dow reports the raw statistic; V answers "how
    strong", bounded [0, 1]).

    Exactness: observed and marginal counts are exact longs; chi² =
    Σ (o·N − r·c)² / (r·c·N) is assembled from HUGEINT/decimal
    products with the per-cell term snapped to the nano grid before
    summation; V = √(χ²/(N·min(r−1, c−1))) is one fixed tree.

    Scale: one cell aggregate (statuses × priorities — tiny), broadcast
    marginals."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count("*").cast("long").alias("_o"))
    rs = F.broadcast(cells.groupBy("s").agg(F.sum("_o").cast("long").alias("_r")))
    cs = F.broadcast(cells.groupBy("p").agg(F.sum("_o").cast("long").alias("_c")))
    tot = F.broadcast(
        cells.agg(
            F.sum("_o").cast("long").alias("_n"),
            F.countDistinct("s").cast("long").alias("_nr"),
            F.countDistinct("p").cast("long").alias("_nc"),
        )
    )
    j = cells.join(rs, "s").join(cs, "p").crossJoin(tot)

    def dec(c):
        return F.col(c).cast("decimal(38,0)")

    # chi-square cell term: (o - e)^2 / e with e = r*c/N, i.e.
    # (o*N - r*c)^2 / (r*c*N) — snapped to the nano grid pre-sum.
    num = (dec("_o") * F.col("_n") - dec("_r") * F.col("_c"))
    term9 = F.floor(
        (num * num).cast("double")
        / (dec("_r") * F.col("_c") * F.col("_n")).cast("double")
        * 1e9
        + F.lit(0.5)
    ).cast("long")
    g = j.agg(
        F.sum(term9).alias("_chi9"),
        F.max("_n").alias("n"),
        F.max(F.least(F.col("_nr") - 1, F.col("_nc") - 1)).alias("_k"),
    )
    chi2 = F.col("_chi9") / F.lit(1e9)
    return g.select(
        "n",
        round_det(chi2, 6).alias("chi_square"),
        round_det(F.sqrt(chi2 / F.col("n") / F.col("_k")), 6).alias("cramers_v"),
    )


# FULL twin of q_cramers_v_status_priority: nano-snapped chi-square
# cell terms from HUGEINT products, one fixed tree for V.
TWINS["cramers_v_status_priority"] = """
    WITH cells AS (SELECT o_orderstatus AS s, o_orderpriority AS p,
                          CAST(count(*) AS BIGINT) AS o
                   FROM orders GROUP BY 1, 2),
    rs AS (SELECT s, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY s),
    cs AS (SELECT p, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY p),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT s) AS BIGINT) AS nr,
                   CAST(count(DISTINCT p) AS BIGINT) AS nc
            FROM cells),
    terms AS (SELECT CAST(floor(
                CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                     * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) AS DOUBLE)
                / CAST(CAST(r AS HUGEINT) * c * n AS DOUBLE)
                * 1000000000 + 0.5) AS BIGINT) AS t9,
                     n, nr, nc
              FROM cells JOIN rs USING (s) JOIN cs USING (p), tot),
    g AS (SELECT CAST(sum(t9) AS BIGINT) AS chi9, max(n) AS n,
                 max(least(nr - 1, nc - 1)) AS k
          FROM terms)
    SELECT n,
           floor(chi9 / 1000000000.0 * 1000000 + 0.5) / 1000000.0 AS chi_square,
           floor(sqrt(chi9 / 1000000000.0 / n / k) * 1000000 + 0.5) / 1000000.0 AS cramers_v
    FROM g
"""
