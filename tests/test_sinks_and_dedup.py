"""Sinks (idempotent append = INSERT OR IGNORE) and dedup operator units."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.dedup import (
    drop_exact_dupes,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
    with_simhash,
)
from kickstarter_etl_pipeline_spark.sources.sinks import append_ignore_existing

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def test_append_ignore_existing(spark):
    """S4: INSERT OR IGNORE semantics — re-runs add nothing, new keys append."""
    path = os.path.join(SCRATCH, "sink_idem")
    shutil.rmtree(path, ignore_errors=True)
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    assert append_ignore_existing(spark, df, path, ["k"]) == 2
    # Identical re-run: zero appended (idempotent)
    assert append_ignore_existing(spark, df, path, ["k"]) == 0
    # Overlapping batch: only the new key lands
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], ["k", "v"])
    assert append_ignore_existing(spark, df2, path, ["k"]) == 1
    assert spark.read.parquet(path).count() == 3


def test_append_ignore_existing_file_scheme_and_batch_dupes(spark):
    """The existence probe must go through the Hadoop FileSystem (an
    os.path.exists probe answers "missing" for any URI-schemed path and
    would duplicate every re-run); and duplicate keys WITHIN a batch
    must collapse to one surviving row (reference INSERT OR IGNORE is
    per-row first-wins, src/etl_pipeline.py:198)."""
    path = os.path.join(SCRATCH, "sink_idem_uri")
    shutil.rmtree(path, ignore_errors=True)
    uri = "file://" + path
    # In-batch duplicates: key 1 appears twice, only one row may land.
    df = spark.createDataFrame([(1, "a"), (1, "a2"), (2, "b")], ["k", "v"])
    assert append_ignore_existing(spark, df, uri, ["k"]) == 2
    # Re-run via the file: URI — must see the existing data and append 0.
    assert append_ignore_existing(spark, df, uri, ["k"]) == 0
    assert spark.read.parquet(uri).count() == 2


def test_merge_upsert(spark):
    """SCD1 MERGE semantics over plain parquet: matched keys updated,
    new keys inserted, untouched keys carried through unchanged."""
    from kickstarter_etl_pipeline_spark.sources.sinks import merge_upsert

    path = os.path.join(SCRATCH, "merge_upsert")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    assert merge_upsert(spark, base, path, ["k"]) == {"updated": 0, "inserted": 3, "carried": 0}
    changes = spark.createDataFrame([(2, "B2"), (4, "d")], ["k", "v"])
    assert merge_upsert(spark, changes, path, ["k"]) == {"updated": 1, "inserted": 1, "carried": 2}
    final = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert final == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # Idempotent: replaying the same changes rewrites the same state.
    assert merge_upsert(spark, changes, path, ["k"]) == {"updated": 2, "inserted": 0, "carried": 2}
    assert {r["k"]: r["v"] for r in spark.read.parquet(path).collect()} == final


def test_salted_join_rejects_outer(spark):
    """right/full outer would replicate unmatched small-side rows once
    per salt bucket — the operator must refuse, not silently corrupt."""
    import pytest

    from kickstarter_etl_pipeline_spark.operators.joins import salted_join

    large = spark.createDataFrame([(1, "x")], ["k", "v"])
    small = spark.createDataFrame([(1, "y")], ["k", "w"])
    for bad in ("right", "full", "full_outer", "cross"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(large, small, on=["k"], how=bad)
    assert salted_join(large, small, on=["k"], how="left").count() == 1


def test_dedup_storage_released(spark):
    """Storage hygiene across repeated dedup calls: the session
    CacheManager stays EMPTY — dedup/similarity must never
    cache()/persist() DataFrames (those pin entries until an explicit
    unpersist nobody is positioned to issue). Checkpoint blocks are
    reclaimed by the ContextCleaner, which is best-effort from Python
    and not asserted here.
    """
    for _ in range(3):
        minhash_dedup_pairs(_docs(spark)).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
            (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
            (4, "completely different text about spark query engines here"),
            (5, "  The  quick brown fox jumps over the lazy dog today "),  # ws/case dup of 1
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup_normalization(spark):
    kept = sorted(r["doc_id"] for r in drop_exact_dupes(_docs(spark)).collect())
    # 2 and 5 collapse into 1 (normalized); 3 and 4 survive
    assert kept == [1, 3, 4]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_agrees_with_exact_on_high_threshold(spark):
    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(_docs(spark), threshold=0.8).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(_docs(spark)).collect()}
    # LSH verifies with exact Jaccard, so it can only miss candidates,
    # never add false positives; identical texts always collide.
    assert lsh <= exact
    assert (1, 2) in lsh and (1, 5) in lsh


def test_minhash_equals_exact_on_fixture(spark, sf_dir):
    """The oracle contract for the graded minhash_dedup_pairs query:
    exact-verified LSH must equal the exact ≥0.8 pair set on the
    documents fixture (banding recall 1 at this threshold — the r5 seed
    regression collapsed every signature slot to one position-keyed
    hash, and this equality is the guard that catches any repeat)."""
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {tuple(r) for r in ngram_jaccard_pairs(docs, threshold=0.8).select("id_a", "id_b", "jaccard").collect()}
    lsh = {tuple(r) for r in minhash_dedup_pairs(docs).select("id_a", "id_b", "jaccard").collect()}
    assert lsh == exact
    assert len(exact) > 0


def test_simhash_properties(spark):
    sigs = {r["doc_id"]: r["simhash"] for r in with_simhash(_docs(spark)).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical sketch
    ham_near = bin(sigs[1] ^ sigs[3]).count("1")
    ham_far = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space
    cands = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_candidates(_docs(spark)).collect()}
    assert cands.get((1, 2)) == 0


def test_incremental_rollup_equals_full_recompute(spark, sf_dir):
    """Folding the fact in two batches through the stored rollup must
    equal aggregating everything at once (count/sum monoid property)."""
    import pyspark.sql.functions as F2

    from kickstarter_etl_pipeline_spark.sources.readers import load_table
    from kickstarter_etl_pipeline_spark.sources.sinks import incremental_rollup_update

    path = os.path.join(SCRATCH, "rollup_inc")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    b1 = orders.filter(F2.col("o_orderkey") % 2 == 0)
    b2 = orders.filter(F2.col("o_orderkey") % 2 == 1)
    incremental_rollup_update(spark, path, b1, ["o_orderstatus"])
    updated = incremental_rollup_update(spark, path, b2, ["o_orderstatus"])
    got = {
        r["o_orderstatus"]: (r["n_rows"], r["sum_o_totalprice"]) for r in updated.collect()
    }
    full = orders.groupBy("o_orderstatus").agg(
        F2.count(F2.lit(1)).cast("long").alias("n"),
        F2.sum(F2.col("o_totalprice").cast("decimal(28,4)")).alias("s"),
    )
    expected = {r["o_orderstatus"]: (r["n"], r["s"]) for r in full.collect()}
    assert got == expected
    # And the stored rollup on disk equals the returned frame.
    stored = {
        r["o_orderstatus"]: (r["n_rows"], r["sum_o_totalprice"])
        for r in spark.read.parquet(path).collect()
    }
    assert stored == expected


def test_incremental_distinct_rollup_merge_invariant(spark, sf_dir, tmp_path):
    """Sketch folding is a monoid: three batched folds must produce the
    EXACT same estimates as one single-pass sketch (merge-order
    invariance — not just 'close'), and land within 2% of the exact
    distinct count at fixture cardinalities."""
    from pyspark.sql import functions as F

    from kickstarter_etl_pipeline_spark.sources.readers import load_table
    from kickstarter_etl_pipeline_spark.sources.sinks import (
        distinct_rollup_estimates,
        incremental_distinct_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "rollup")
    for i in range(3):
        rollup = incremental_distinct_rollup(
            spark,
            path,
            events.filter(F.col("event_id") % 3 == i),
        )
    folded = {
        r["event_type"]: r["n_distinct_est"]
        for r in distinct_rollup_estimates(rollup).collect()
    }
    one_shot = {
        r["event_type"]: r["n_distinct_est"]
        for r in distinct_rollup_estimates(
            events.groupBy("event_type").agg(
                F.hll_sketch_agg(F.col("user_id").cast("string"), 12).alias("hll_sketch")
            )
        ).collect()
    }
    assert folded == one_shot  # exact merge-order invariance
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(folded[et] - n) <= max(1, 0.02 * n), (et, folded[et], n)


def test_apply_cdc_batch_last_writer_wins(spark, tmp_path):
    """Per-key resolution takes the HIGHEST sequence: U-after-D
    resurrects the row with the new values, D-after-U removes it, and
    in-batch inserts for unseen keys land — all in one apply."""
    from kickstarter_etl_pipeline_spark.sources.sinks import apply_cdc_batch, merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"])
    merge_upsert(spark, base, path, keys=["k"])
    changes = spark.createDataFrame(
        [
            (1, 99.0, 1, "D"),  # delete at seq 1 ...
            (1, 11.0, 2, "U"),  # ... resurrected by the later update
            (2, 21.0, 1, "U"),  # update at seq 1 ...
            (2, 0.0, 2, "D"),   # ... then deleted — delete wins
            (4, 40.0, 1, "I"),  # fresh insert
        ],
        ["k", "v", "seq", "op"],
    )
    apply_cdc_batch(spark, path, changes, keys=["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 11.0, 3: 30.0, 4: 40.0}
