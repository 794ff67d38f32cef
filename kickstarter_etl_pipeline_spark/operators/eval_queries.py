"""Round-9 evaluation / monitoring tier: classifier-quality and
distribution-drift reports over the corpus pipeline's own signals.

A training-data pipeline doesn't just COMPUTE quality scores and
blocking candidates — it has to evaluate them: is the quality score a
useful ranker (AUC), is it calibrated (reliability bins), has a
source's score distribution drifted (KS statistic), does the cheap
blocking stage actually find the true near-dup pairs (pairs
completeness / reduction ratio)?  Each report here is built from
already-verified pipeline signals, fully deterministic, and carries a
full DuckDB oracle twin (oracles_eval.py), following the repo's rules:
exact integer spines, one fixed IEEE tree per float output, rankings
totally ordered with id tie-breaks.

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

from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators import text as TX
from kickstarter_etl_pipeline_spark.operators.ranking import (
    collected_offsets,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, q) with q = the verified 6-dp quality
    score; null-score docs (no tokens) excluded on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        TX.quality_score("text").alias("q"),
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
    # ledger's fat-partition window trap). The per-source cumulative is
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
        "doc_id", tokens("text").alias("_toks")
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
        "doc_id", TX.normalized("text").alias("_norm"), "n_chars"
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
        "doc_id", tokens("text").alias("_toks")
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
