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

from kickstarter_etl_pipeline_spark.operators.ranking import two_phase_rank
from kickstarter_etl_pipeline_spark.sources.readers import load_table

#: Fixed epoch count, unrolled identically by the DuckDB twin
#: (oracles_r14._perceptron_cte).
PERCEPTRON_EPOCHS = 8

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
    return _featurize(load_table(spark, sf_dir, "documents")).localCheckpoint(
        eager=True
    )


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
    w = spark.createDataFrame(
        [(0, 0, 0, 0, 0)], "w0 long, w1 long, w2 long, w3 long, w4 long"
    ).localCheckpoint(eager=True)
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
        snap = (
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
            .localCheckpoint(eager=True)
        )
        snaps.append(snap)
        w = snap.select("w0", "w1", "w2", "w3", "w4")
    return w, snaps


def q_quality_perceptron_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-epoch batch-perceptron fit trajectory (en-vs-rest on
    per-mille character-class features): one row per epoch with the
    update-set size (mistakes under the PRE-update weights) and the
    post-update weight vector — all BIGINT, graded bit-exact against
    the twin's unrolled CTEs (oracles_r14). 8 rows at any sf."""
    feats = doc_feature_frame(spark, sf_dir)
    _, snaps = perceptron_fit(feats)
    out = reduce(DataFrame.unionByName, snaps)
    return out.select(
        "epoch",
        "n_mistakes",
        *[F.col(raw).alias(pretty) for raw, pretty in _WEIGHT_COLS],
    )


#: Calibrated keep fraction, in per-mille: the manifest keeps the top
#: 600‰ of documents by classifier score — the way production
#: classifier filters are deployed (score the corpus, then threshold
#: at a target keep RATE, not at raw sign, so the selection stays
#: non-degenerate whatever the score distribution does).
KEEP_PER_MILLE = 600


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
    same fit + scoring (oracles_r14)."""
    import uuid

    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        _checkpoint_dir,
    )

    feats = doc_feature_frame(spark, sf_dir)
    w, _ = perceptron_fit(feats)
    wr = w.collect()[0]  # 1 row, 5 BIGINTs — bounded by construction
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
    name = f"stream_classifier_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _checkpoint_dir("ks_stream_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name)


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
