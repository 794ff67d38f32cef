"""Model-based curation family (operators/classifier.py): the integer
batch perceptron and the percentile-calibrated curation manifest.

The cross-engine hash contract is held by the DuckDB twins
(classifier.TWINS, exercised by test_oracle_parity); these tests pin the
LEARNING semantics (separable data converges, updates are the exact
batch rule) and the plan posture (no CRITICAL advisor finding — the
fit is broadcast-1-row + global aggregates, never a data-sized
shuffle of the corpus).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.classifier import (
    KEEP_PER_MILLE,
    doc_feature_frame,
    perceptron_fit,
    q_classifier_curation_manifest,
    q_quality_perceptron_trajectory,
)


def _toy_feats(spark, rows):
    """rows = (doc_id, y, x1..x4); x0 bias is pinned at 1000 like the
    real feature frame."""
    return spark.createDataFrame(
        [(i, y, 1000, a, b, c, d) for i, (y, a, b, c, d) in enumerate(rows)],
        "doc_id long, y long, x0 long, x1 long, x2 long, x3 long, x4 long",
    ).localCheckpoint(eager=True)


def test_perceptron_converges_on_separable_data(spark):
    """On linearly separable data the batch perceptron must reach a
    zero-mistake epoch and then FREEZE (no update set -> weights
    identical afterwards) — the classic convergence guarantee, and the
    guard that the update rule really is y·margin <= 0 batch addition."""
    rows = [(1, 900, 0, 0, 0), (1, 800, 10, 0, 0), (-1, 10, 900, 0, 0), (-1, 0, 850, 5, 0)]
    feats = _toy_feats(spark, rows)
    _, snaps = perceptron_fit(feats, epochs=8)
    traj = [s.collect()[0] for s in snaps]
    zero_epochs = [t.epoch for t in traj if t.n_mistakes == 0]
    assert zero_epochs, f"never converged: {[(t.epoch, t.n_mistakes) for t in traj]}"
    first = min(zero_epochs)
    frozen = [t for t in traj if t.epoch >= first]
    assert all(t.n_mistakes == 0 for t in frozen)
    ws = {(t.w0, t.w1, t.w2, t.w3, t.w4) for t in frozen}
    assert len(ws) == 1, "weights moved after a zero-mistake epoch"


def test_first_epoch_update_is_exact_batch_sum(spark):
    """w0 = 0 makes every margin 0, so epoch 1's update must equal the
    exact sum of y·x over ALL rows — pinning the tie rule (margin 0 is
    misclassified) and the integer arithmetic."""
    rows = [(1, 7, 3, 2, 1), (-1, 5, 11, 4, 2), (1, 1, 2, 3, 4)]
    feats = _toy_feats(spark, rows)
    _, snaps = perceptron_fit(feats, epochs=1)
    t = snaps[0].collect()[0]
    assert t.n_mistakes == 3
    assert (t.w0, t.w1, t.w2, t.w3, t.w4) == (
        1000,  # (+1 - 1 + 1) * 1000
        7 - 5 + 1,
        3 - 11 + 2,
        2 - 4 + 3,
        1 - 2 + 4,
    )


def test_manifest_keeps_exactly_the_calibrated_fraction(spark, sf_dir):
    """The composed unit must keep exactly (N·KEEP_PER_MILLE) DIV 1000
    documents in total, and per-cell counts must be consistent."""
    out = q_classifier_curation_manifest(spark, sf_dir).collect()
    n_docs = sum(r.n_docs for r in out)
    n_kept = sum(r.n_kept for r in out)
    assert n_kept == (n_docs * KEEP_PER_MILLE) // 1000
    assert all(0 <= r.n_kept <= r.n_docs for r in out)
    assert all(r.kept_per_mille == (r.n_kept * 1000) // r.n_docs for r in out)
    assert all((r.kept_chars == 0) == (r.n_kept == 0) for r in out)


def test_trajectory_shape_and_feature_bounds(spark, sf_dir):
    """8 rows, one per epoch; per-mille features are in [0, 1000] so
    the documented BIGINT headroom argument holds."""
    traj = q_quality_perceptron_trajectory(spark, sf_dir)
    rows = traj.collect()
    assert [r.epoch for r in sorted(rows, key=lambda r: r.epoch)] == list(range(1, 9))
    feats = doc_feature_frame(spark, sf_dir)
    mm = feats.agg(
        *[F.min(f"x{k}").alias(f"lo{k}") for k in range(5)],
        *[F.max(f"x{k}").alias(f"hi{k}") for k in range(5)],
    ).collect()[0]
    for k in range(5):
        assert 0 <= mm[f"lo{k}"] <= mm[f"hi{k}"] <= 1000


def test_stream_scorer_repeatable_and_consistent_with_batch(spark, sf_dir):
    """Train-offline/score-online: the streaming scorer must (a) be
    repeatable within one session (uuid'd memory sink + fresh
    checkpoint — the checkpoint-collision gotcha), and (b) agree with
    a batch replay of the same fit + scoring on every cell."""
    from kickstarter_etl_pipeline_spark.operators.classifier import (
        q_documents_stream_classifier_scores,
    )

    first = {
        (r.lang, r.source): (r.n_docs, r.margin_sum, r.n_positive)
        for r in q_documents_stream_classifier_scores(spark, sf_dir).collect()
    }
    again = {
        (r.lang, r.source): (r.n_docs, r.margin_sum, r.n_positive)
        for r in q_documents_stream_classifier_scores(spark, sf_dir).collect()
    }
    assert first == again and first
    feats = doc_feature_frame(spark, sf_dir)
    w, _ = perceptron_fit(feats)
    wr = w.collect()[0]
    margin = sum(F.col(f"x{k}") * F.lit(int(wr[f"w{k}"])) for k in range(5))
    batch = {
        (r.lang, r.source): (r.n_docs, r.margin_sum, r.n_positive)
        for r in feats.withColumn("_mar", margin)
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_mar").cast("long").alias("margin_sum"),
            F.sum((F.col("_mar") > 0).cast("long")).cast("long").alias("n_positive"),
        )
        .collect()
    }
    assert first == batch


def test_classifier_plans_carry_no_critical(spark, sf_dir):
    """Plan posture: the fit's crossJoins are 1-row broadcasts and the
    manifest's rank is the two-phase range partitioning — the advisor
    must prove every broadcast side bounded (no CRITICAL)."""
    from kickstarter_etl_pipeline_spark.plans.inspect import advise

    for q in (q_quality_perceptron_trajectory, q_classifier_curation_manifest):
        fs = advise(q(spark, sf_dir))
        assert not [f for f in fs if f.startswith("CRITICAL")], (q.__name__, fs)
