"""Unit tests for corpus-assembly operators (packing, mixing, chunking)
and the left-outer stream-stream join."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.corpus import (
    chunk_documents,
    pack_sequences,
    source_mixing_weights,
)


def _docs(spark):
    rows = [
        (1, "a b c d", "s1"),            # 4 tokens
        (2, "e f g h i j", "s1"),        # 6 tokens
        (3, "k l m", "s1"),              # 3 tokens
        (4, "one two three four five", "s2"),  # 5 tokens
        (5, "x", "s2"),                  # 1 token
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_pack_sequences_offsets_and_boundaries(spark):
    out = {r["doc_id"]: r for r in pack_sequences(_docs(spark), context_tokens=8).collect()}
    # s1 stream: doc1 tokens [0,4), doc2 [4,10), doc3 [10,13) with ctx=8.
    assert (out[1]["bin_id"], out[1]["bin_offset"], out[1]["spans_boundary"]) == (0, 0, False)
    assert (out[2]["bin_id"], out[2]["bin_offset"], out[2]["spans_boundary"]) == (0, 4, True)
    assert (out[3]["bin_id"], out[3]["bin_offset"], out[3]["spans_boundary"]) == (1, 2, False)
    # s2 shard starts its own stream at offset 0.
    assert (out[4]["bin_id"], out[4]["bin_offset"]) == (0, 0)
    assert (out[5]["bin_id"], out[5]["bin_offset"]) == (0, 5)
    assert out[4]["n_tokens"] == 5


def test_source_mixing_sqrt_damping(spark):
    out = {r["source"]: r for r in source_mixing_weights(_docs(spark), token_budget=100).collect()}
    # s1: 13 tokens, s2: 6 tokens.
    assert out["s1"]["n_tokens"] == 13 and out["s2"]["n_tokens"] == 6
    assert math.isclose(out["s1"]["p_uniform"] + out["s2"]["p_uniform"], 1.0, abs_tol=2e-6)
    assert math.isclose(out["s1"]["p_sample"] + out["s2"]["p_sample"], 1.0, abs_tol=2e-6)
    # sqrt damping: the small source gains share vs its uniform share.
    assert out["s2"]["p_sample"] > out["s2"]["p_uniform"]
    assert out["s1"]["p_sample"] < out["s1"]["p_uniform"]
    # epochs = p_sample * budget / tokens.
    # p_sample is rounded to 6 decimals and epochs scales it by budget /
    # tokens, so compare at the amplified tolerance.
    assert math.isclose(
        out["s2"]["expected_epochs"], out["s2"]["p_sample"] * 100 / 6, abs_tol=1e-4
    )


def test_chunk_documents_short_and_strided(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc2 fits in one window: a single full-coverage chunk.
    assert len(by_doc[2]) == 1
    c = by_doc[2][0]
    assert (c["start_tok"], c["chunk_len"], c["first_token"], c["last_token"]) == (0, 2, "a", "b")
    # doc1: n=10, chunk=4, stride=3 → 1 + ceil(6/3) = 3 chunks.
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [(c["start_tok"], c["chunk_len"]) for c in chunks] == [(0, 4), (3, 4), (6, 4)]
    assert chunks[-1]["last_token"] == "t9"
    # Overlap contract: consecutive chunks share chunk-stride tokens.
    assert chunks[0]["last_token"] == "t3" and chunks[1]["first_token"] == "t3"


def test_stream_left_outer_join_null_extension(spark, sf_dir):
    """Left-outer = inner part identical to the inner join, plus
    null-extended purchases strictly older than the global watermark."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        streaming_purchase_click_join,
    )

    outer = streaming_purchase_click_join(spark, sf_dir, how="left_outer").collect()
    inner = streaming_purchase_click_join(spark, sf_dir, how="inner").collect()
    outer_matched = {(r["user_id"], r["purchase_id"], r["click_id"])
                     for r in outer if r["click_id"] is not None}
    inner_set = {(r["user_id"], r["purchase_id"], r["click_id"]) for r in inner}
    assert outer_matched == inner_set
    nulls = [r for r in outer if r["click_id"] is None]
    assert nulls, "no null-extended purchases emitted"
    # A null-extended purchase never also appears matched.
    null_pids = {r["purchase_id"] for r in nulls}
    assert not null_pids & {p for _, p, _ in inner_set}


def test_boilerplate_stats_shared_vs_unique(spark):
    """Trigrams shared by >= min_doc_freq docs count as boilerplate;
    short docs (no trigrams) report NULL ratio, unique docs 0.0."""
    from kickstarter_etl_pipeline_spark.operators.corpus import boilerplate_stats

    shared = "the quick brown fox jumps"
    rows = [(i, f"{shared} suffix{i} word{i} tail{i}") for i in range(1, 4)]
    rows += [(4, "completely different unrelated text here now"), (5, "tiny doc")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in boilerplate_stats(docs, min_doc_freq=3).collect()}
    # The 3 shared-prefix docs each contain the 3 boilerplate trigrams
    # of "the quick brown fox jumps".
    for i in (1, 2, 3):
        assert out[i]["n_boilerplate"] == 3, out[i]
        assert 0 < out[i]["boilerplate_ratio"] < 1
    assert out[4]["n_boilerplate"] == 0 and out[4]["boilerplate_ratio"] == 0.0
    assert out[5]["n_shingles"] == 0 and out[5]["boilerplate_ratio"] is None


def test_containment_vs_jaccard_subset_doc(spark):
    """A short doc fully contained in a long one: containment = 1.0 even
    though Jaccard is low — the operator's reason to exist."""
    from kickstarter_etl_pipeline_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame([(1, short), (2, long_)], "doc_id long, text string")
    cont = containment_pairs(docs, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0]["overlap_coef"] == 1.0
    # directed Broder containments: the SHORT doc is fully contained
    # (c=1.0); the long doc's direction is well below 1.
    row = cont[0]
    short_dir = row["containment_a"] if row["id_a"] == 1 else row["containment_b"]
    long_dir = row["containment_b"] if row["id_a"] == 1 else row["containment_a"]
    assert short_dir == 1.0 and long_dir < 0.5
    assert not ngram_jaccard_pairs(docs, threshold=0.9).collect()


def test_semantic_dedup_keeps_one_per_clique(spark):
    """Identical vectors land in one cell; exactly the lowest id is kept."""
    from kickstarter_etl_pipeline_spark.operators.similarity import semantic_dedup

    base = [1.0, 0.0, 0.5, -0.25]
    far = [-1.0, 0.5, -0.5, 1.0]
    rows = [(i, base) for i in range(5)] + [(10 + i, far) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semantic_dedup(emb, threshold=0.95, n_cells=2).collect()}
    assert len(out) == 8
    kept = sorted(v for v, r in out.items() if r["is_kept"] == 1)
    assert kept == [0, 10], kept
    # Drop counts grow along the id order within each clique.
    assert out[4]["n_near_dups"] == 4 and out[12]["n_near_dups"] == 2


def test_bigram_collocation_lift_is_exact(spark):
    """Counts and lift on a corpus computed by hand: "a b" occurs twice,
    tokens a and b occur 3 times each over 12 tokens / 10 bigrams."""
    from kickstarter_etl_pipeline_spark.operators.text import bigram_collocations

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a x y z b x")], "doc_id long, text string"
    )
    out = {(r["tok_a"], r["tok_b"]): r for r in bigram_collocations(docs).collect()}
    r = out[("a", "b")]
    assert r["n_pair"] == 2 and r["n_a"] == 3 and r["n_b"] == 3
    # lift = (2/10) / ((3/12)*(3/12)) = 0.2 / 0.0625 = 3.2
    assert r["lift"] == 3.2


def test_triangle_counts_hand_graph(spark):
    """K4 minus one edge = 2 triangles sharing an edge; a pendant vertex
    joins none. Exercises the degree-ordered orientation (vertex 9 has
    degree 1, so every edge at 9 orients away from it)."""
    from kickstarter_etl_pipeline_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (1, 9)], "u long, v long"
    )
    out = {r["id"]: r for r in triangle_counts(edges).collect()}
    # triangles: (1,2,3) and (1,2,4)
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_triangles"] == 2 and out[2]["n_triangles"] == 2
    assert out[3]["n_triangles"] == 1 and out[4]["n_triangles"] == 1
    assert out[1]["degree"] == 4 and out[3]["degree"] == 2


def test_pagerank_star_graph(spark):
    """On a star graph the hub out-ranks the leaves; ranks sum to ~1."""
    from kickstarter_etl_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, i) for i in range(1, 6)], "u long, v long")
    out = {r["id"]: r["pr_permille"] for r in pagerank(edges).collect()}
    assert len(out) == 6
    hub, leaves = out[0], [out[i] for i in range(1, 6)]
    assert all(hub > l for l in leaves)
    assert len(set(leaves)) == 1  # symmetry
    assert abs(sum(out.values()) - 1000.0) < 0.01
