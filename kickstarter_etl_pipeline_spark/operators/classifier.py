"""Model-based quality filtering: an integer-exact batch perceptron
over per-mille character-class features, and the composed
classifier-curation manifest that scores and selects the corpus with
the fitted weights.

This is the engine's fastText-style *classifier filter* family — the
device real LLM pretraining pipelines use to keep "wiki-like" text
(GPT-3's quality classifier, LLaMA's fastText filter, CCNet's
wiki-LM): fit a cheap linear model on document features, score every
document, keep the positive side. Reference scope: the reference
pipeline (src/etl_pipeline.py) has no trainable operator at all; this
family extends the engine the way dedup/ANN do, per the build brief's
LLM-data-pipeline mandate.

Determinism contract (the BT-MM recipe from
lm_queries._bt_contests_and_fit, applied to a classifier): the whole
fit rides the BIGINT grid — features are per-mille integer counts
(``(count · 1000) DIV len``), the label is ±1, and a batch-perceptron
epoch is

    margin_i = Σ_k w_k · x_ik
    M        = { i : y_i · margin_i ≤ 0 }          (batch update set)
    w'_k     = w_k + Σ_{i ∈ M} y_i · x_ik

— every term an integer product and an order-free exact BIGINT sum,
so 8 unrolled epochs land on identical weights in Spark and DuckDB
(the twin unrolls the same 8 epochs as chained CTEs; no floats exist
anywhere, not even at display time).

Honesty note on the fixture signal: the synthetic ``documents`` corpus
is uniform word soup — ``lang`` is near-independent of the text, so
the en-vs-rest task here trains to roughly chance and the fit is
graded on its EXACT trajectory (mistake counts + weight vectors per
epoch), not on accuracy. Point the same operator at a real corpus and
the features/labels are the only thing that changes. The linearly
separable case (mistakes → 0, weights freeze) is pinned by
tests/test_classifier.py on a crafted frame.

BIGINT bounds at 100 TB: |x_k| ≤ 1000, so one epoch moves |w_k| by at
most n_docs · 1000. At n_docs = 10¹⁰ (a 100 TB corpus), 8 epochs keep
|w_k| ≤ 8·10¹³ and |margin| ≤ 5 · 8·10¹³ · 10³ = 4·10¹⁷ < 2⁶³ — no
wrap. Scale posture: the feature frame is computed once and
checkpointed (one scan of documents); each epoch is ONE map-side-
combinable global aggregate over it (partial sums per partition, a
1-row reduce) plus a broadcast of the 1-row weight frame — no shuffle
of document rows ever, the markov/BT iterate posture exactly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from kickstarter_etl_pipeline_spark.constants import KEEP_PER_MILLE, PERCEPTRON_EPOCHS
from kickstarter_etl_pipeline_spark.operators.partitioning import loop_frame, materialize
from kickstarter_etl_pipeline_spark.operators.ranking import (
    collect_control,
    control_frame,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.streaming.events_stream import run_to_memory


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}

#: (weight column, pretty output name) in fit order; x0 is the bias
#: input pinned at 1000 so the bias moves on the same per-mille scale
#: as the other features.
_WEIGHT_COLS = [
    ("w0", "w_bias"),
    ("w1", "w_vowel"),
    ("w2", "w_space"),
    ("w3", "w_rare"),
    ("w4", "w_e"),
]


def _featurize(docs: DataFrame) -> DataFrame:
    """Pure-expression feature builder over a (doc_id, text, lang,
    source, n_chars) frame — batch AND streaming frames alike (no
    window, no shuffle, no state), so the offline fit and the online
    scorer are guaranteed the IDENTICAL feature definitions.

    Features (per mille of characters, on lower-cased text):
    x0 bias = 1000, x1 vowels [aeiou], x2 spaces, x3 rare letters
    [jkqxz], x4 letter 'e'. Label y = +1 iff lang = 'en' else -1.
    ``DIV`` on non-negative operands == DuckDB ``//`` (the BT rule);
    greatest(1, len) guards empty text.
    """
    counted = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.lower(F.col("text")).alias("_low"),
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.greatest(F.lit(1).cast("long"), F.length("_low").cast("long")).alias("_d"),
        (F.length("_low") - F.length(F.regexp_replace(F.col("_low"), F.lit("[aeiou]"), F.lit(""))))
        .cast("long")
        .alias("_nv"),
        (F.length("_low") - F.length(F.replace(F.col("_low"), F.lit(" "), F.lit(""))))
        .cast("long")
        .alias("_nsp"),
        (F.length("_low") - F.length(F.regexp_replace(F.col("_low"), F.lit("[jkqxz]"), F.lit(""))))
        .cast("long")
        .alias("_nr"),
        (F.length("_low") - F.length(F.replace(F.col("_low"), F.lit("e"), F.lit(""))))
        .cast("long")
        .alias("_ne"),
    )
    return counted.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("long").alias("y"),
        F.lit(1000).cast("long").alias("x0"),
        F.expr("(_nv * 1000) DIV _d").alias("x1"),
        F.expr("(_nsp * 1000) DIV _d").alias("x2"),
        F.expr("(_nr * 1000) DIV _d").alias("x3"),
        F.expr("(_ne * 1000) DIV _d").alias("x4"),
    )


def doc_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch feature frame, checkpointed: ONE scan of documents feeds
    all 8 fit epochs and the scoring pass (see _featurize for the
    feature definitions shared with the streaming scorer)."""
    return materialize(_featurize(load_table(spark, sf_dir, "documents")))


_MARGIN = "w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4"


def perceptron_fit(
    feats: DataFrame, epochs: int = PERCEPTRON_EPOCHS
) -> tuple[DataFrame, list[DataFrame]]:
    """Run ``epochs`` batch-perceptron epochs over the checkpointed
    feature frame. Returns (final 1-row weight frame, per-epoch 1-row
    snapshots carrying epoch/n_mistakes/w0..w4).

    Each epoch: broadcast the 1-row weights, one filter + global
    aggregate over ``feats`` (map-side combined — partial y·x sums per
    partition, 1-row reduce), then a 1-row checkpoint; w⁰ = 0 makes
    every margin 0, so epoch 1's update set is the whole corpus on
    both engines (y·margin ≤ 0 breaks the tie identically).
    """
    spark = feats.sparkSession
    # Materialized: epoch 1's margins and its snapshot both read it.
    w = materialize(
        control_frame(spark, [(0, 0, 0, 0, 0)], "w0 long, w1 long, w2 long, w3 long, w4 long")
    )
    snaps: list[DataFrame] = []
    zero = F.lit(0).cast("long")
    for ep in range(1, epochs + 1):
        margined = feats.crossJoin(F.broadcast(w)).withColumn(
            "_mar", F.expr(_MARGIN)
        )
        upd = margined.filter(F.expr("y * _mar <= 0")).agg(
            F.count("*").cast("long").alias("_nm"),
            *[
                F.sum(F.expr(f"y * x{k}")).cast("long").alias(f"_d{k}")
                for k in range(5)
            ],
        )
        # 1-row × 1-row crossJoin: both sides bounded (the plan prover
        # demotes this shape); checkpoint so the snapshot feeds BOTH
        # the trajectory and the next epoch without re-running the agg.
        snap = loop_frame(
            upd.crossJoin(F.broadcast(w))
            .select(
                F.lit(ep).cast("long").alias("epoch"),
                F.col("_nm").alias("n_mistakes"),
                *[
                    (F.col(f"w{k}") + F.coalesce(F.col(f"_d{k}"), zero))
                    .cast("long")
                    .alias(f"w{k}")
                    for k in range(5)
                ],
            )
        )
        snaps.append(snap)
        w = snap.select("w0", "w1", "w2", "w3", "w4")
    return w, snaps


def q_quality_perceptron_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-epoch batch-perceptron fit trajectory (en-vs-rest on
    per-mille character-class features): one row per epoch with the
    update-set size (mistakes under the PRE-update weights) and the
    post-update weight vector — all BIGINT, graded bit-exact against
    the twin's unrolled CTEs (TWINS, below). 8 rows at any sf."""
    feats = doc_feature_frame(spark, sf_dir)
    _, snaps = perceptron_fit(feats)
    out = reduce(DataFrame.unionByName, snaps)
    return out.select(
        "epoch",
        "n_mistakes",
        *[F.col(raw).alias(pretty) for raw, pretty in _WEIGHT_COLS],
    )


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


TWINS["quality_perceptron_trajectory"] = _perceptron_trajectory_sql()


def q_documents_stream_classifier_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train-OFFLINE / score-ONLINE — the deployment pattern of a
    classifier filter: fit the 8-epoch perceptron in batch
    (perceptron_fit, the same code the graded batch queries run),
    inline the fitted weights as plan literals, and score a
    STRUCTURED-STREAMING file-source stream of the documents table
    with the identical ``_featurize`` expressions; one streaming
    aggregate emits per-(lang, source) doc counts, the exact BIGINT
    margin sum, and the positive-margin count.

    The weight hand-off is a 1-row bounded scalar collect (the markov-
    normalizer pattern) so the stream side stays a pure STATELESS map
    + one aggregation — no stream-side shuffle beyond the agg, no
    state store, bounded output cardinality (the lang×source grid).

    FIXTURE-VERIFICATION TIER ONLY: ``complete`` + ``memory`` sink
    materialize the grid on the driver — fine at any sf (the grid is
    enumeration-bounded), and the oracle is the batch replay of the
    same fit + scoring (TWINS, below)."""
    feats = doc_feature_frame(spark, sf_dir)
    w, _ = perceptron_fit(feats)
    wr = collect_control(w)[0]
    margin_lit = " + ".join(
        f"CAST({int(wr[f'w{k}'])} AS BIGINT) * x{k}" for k in range(5)
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    agg = (
        _featurize(stream)
        .withColumn("_mar", F.expr(margin_lit))
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_mar").cast("long").alias("margin_sum"),
            F.sum(F.expr("CASE WHEN _mar > 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_positive"),
        )
    )
    return run_to_memory(agg, "complete")


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


TWINS["documents_stream_classifier_scores"] = _stream_scores_oracle_sql()


def q_classifier_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed model-based curation unit (the classifier-filter
    analog of curation_pack_manifest): feature-engineer → fit the
    8-epoch perceptron (perceptron_fit, reused VERBATIM by the
    trajectory query) → score every document with the final weights →
    keep the top KEEP_PER_MILLE‰ of the corpus in the (margin DESC,
    doc_id) total order (percentile-calibrated thresholding, the
    production deployment mode of fastText-style filters) →
    per-(lang, source) manifest of what the filter keeps: doc counts,
    kept counts, kept characters, and the exact per-mille keep rate
    ((n_kept·1000) DIV n_docs). ONE graded query spanning train +
    inference + calibrated selection.

    Scale: the global order uses ranking.two_phase_rank (range
    repartition + local rank + P-row broadcast offsets — no
    single-partition window); the keep budget (n_total·600) DIV 1000
    comes from a 1-row broadcast aggregate; lang×source is an
    enumeration-bounded grid (≤ a few hundred cells at any sf).
    """

    feats = doc_feature_frame(spark, sf_dir)
    w, _ = perceptron_fit(feats)
    scored = feats.crossJoin(F.broadcast(w)).withColumn("_mar", F.expr(_MARGIN))
    ranked = two_phase_rank(scored, [F.desc("_mar"), "doc_id"])
    total = ranked.agg(F.count("*").cast("long").alias("_n_total"))
    kept = ranked.crossJoin(F.broadcast(total)).withColumn(
        "_keep",
        (
            F.col("rank")
            <= F.expr(f"(_n_total * {KEEP_PER_MILLE}) DIV 1000")
        ).cast("long"),
    )
    return (
        kept.groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_keep").cast("long").alias("n_kept"),
            F.sum(F.expr("CASE WHEN _keep = 1 THEN n_chars ELSE 0 END"))
            .cast("long")
            .alias("kept_chars"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_kept",
            "kept_chars",
            F.expr("(n_kept * 1000) DIV n_docs").alias("kept_per_mille"),
        )
    )


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


TWINS["classifier_curation_manifest"] = _classifier_manifest_sql()
