"""Corpus-assembly operators: the step between a cleaned document set
and an actual training run — sequence packing into fixed context
windows, temperature-based source mixing, and sliding-window chunking.

All pure Column expressions / window functions (no Python UDFs): every
operator is one shuffle on its shard key and scales linearly with
executors. Tokenization matches operators.text.tokens (whitespace over
lowercased trimmed text) so token counts agree with the rest of the
text stack and with the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kickstarter_etl_pipeline_spark.constants import MAX_COVERAGE_K
from kickstarter_etl_pipeline_spark.operators.partitioning import loop_frame, materialize
from kickstarter_etl_pipeline_spark.operators.ranking import collect_control, control_frame
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.operators.text import tokens


def pack_sequences(df: DataFrame, context_tokens: int = 128) -> DataFrame:
    """Concat-and-split sequence packing: assign each document its
    position in the shard's fixed-size context-window stream.

    Documents are concatenated per shard in deterministic ``doc_id``
    order; window ``bin_id`` is where the document STARTS, at offset
    ``bin_offset``; ``spans_boundary`` marks documents split across a
    window edge (the concat-and-split regime — no padding, bounded
    waste). 100 TB posture: one shuffle on the shard key and a
    sequential in-shard scan — shards are the parallelism unit, so a
    real pipeline shards by (source, file-bucket) to keep each window
    partition bounded; semantics are unchanged because packing never
    crosses a shard.
    """
    n_tok = F.size(tokens())
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = F.sum(n_tok.cast("long")).over(w)
    start = (cum - n_tok).cast("long")
    bin_id = F.floor(start / context_tokens)
    return df.select(
        F.col("doc_id"),
        F.col("source"),
        n_tok.cast("long").alias("n_tokens"),
        bin_id.alias("bin_id"),
        (start % context_tokens).alias("bin_offset"),
        (F.floor((cum - 1) / context_tokens) > bin_id).alias("spans_boundary"),
    )


def source_mixing_weights(df: DataFrame, token_budget: int = 1_000_000) -> DataFrame:
    """Temperature-based source mixing (alpha = 0.5, i.e. sqrt scaling):
    per-source sampling probabilities and the epoch count each source
    sustains under a token budget.

    ``p_uniform`` is the share proportional to raw token counts;
    ``p_sample`` the sqrt-damped share (rare sources up-weighted, the
    standard mitigation against a dominant crawl source); and
    ``expected_epochs`` = p_sample x budget / tokens — how many passes
    over the source the budget implies (>1 means repetition). One
    aggregate plus a broadcast one-row total — scales to any source
    count.
    """
    per_source = df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens()).cast("long")).alias("n_tokens"),
    )
    totals = per_source.agg(
        F.sum("n_tokens").alias("_tot_tokens"),
        F.sum(F.sqrt(F.col("n_tokens"))).alias("_tot_weight"),
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round_det(F.col("n_tokens") / F.col("_tot_tokens"), 6).alias("p_uniform"),
            round_det(F.sqrt(F.col("n_tokens")) / F.col("_tot_weight"), 6).alias("p_sample"),
            round_det(
                F.sqrt(F.col("n_tokens")) / F.col("_tot_weight") * token_budget / F.col("n_tokens"),
                6,
            ).alias("expected_epochs"),
        )
    )


def boilerplate_stats(df: DataFrame, min_doc_freq: int = 5) -> DataFrame:
    """Cross-document boilerplate detection: an n-gram appearing in at
    least ``min_doc_freq`` distinct documents is boilerplate (headers,
    footers, license blurbs, templated spans); each document reports
    how much of it is made of such spans.

    The C4/RefinedWeb-style line-dedup signal, at shingle granularity:
    one explode + uniform-key groupBy for document frequencies, one
    shuffle join back on the shingle, one per-doc aggregate — every
    shuffle keyed by shingle or doc id, no skewed driver state, scales
    linearly. Documents shorter than 3 tokens emit zero shingles
    and a NULL ratio.
    """
    from kickstarter_etl_pipeline_spark.operators.dedup import shingles_from_tokens

    # Materialized: the shingle explode and the totals both read it, and it
    # keeps the shingle expression from being inlined into each consumer.
    staged = materialize(
        df.select(F.col("doc_id"), tokens().alias("_t"))
        .withColumn("_sh", shingles_from_tokens("_t", 3))
    )
    sh = staged.select(F.col("doc_id"), F.explode("_sh").alias("_s"))
    doc_freq = sh.groupBy("_s").agg(F.count("*").alias("_df"))
    boiler = (
        sh.join(doc_freq.filter(F.col("_df") >= min_doc_freq), "_s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_n_boiler"))
    )
    totals = staged.select(F.col("doc_id"), F.size("_sh").cast("long").alias("n_shingles"))
    return (
        totals.join(boiler, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("_n_boiler"), F.lit(0)).cast("long").alias("n_boilerplate"),
            round_det(
                F.try_divide(F.coalesce(F.col("_n_boiler"), F.lit(0)), F.col("n_shingles")), 6
            ).alias("boilerplate_ratio"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking (chunk_tokens window, stride overlap) —
    the RAG/embedding preprocessing shape.

    Chunk count is integer arithmetic (no float ceil, so the DuckDB
    oracle agrees exactly): 1 window when the document fits, else
    1 + ceil_div(n - chunk, stride). Emits per chunk the token span
    plus first/last token as a content witness. explode() fans out
    rows JVM-side; the shingle array is materialized once per doc.
    """
    with_toks = df.select(
        F.col("doc_id"), tokens().alias("_t")
    ).withColumn("_n", F.size("_t").cast("long"))
    n_chunks = F.when(F.col("_n") <= chunk_tokens, F.lit(1).cast("long")).otherwise(
        1 + F.floor((F.col("_n") - chunk_tokens + stride - 1) / stride)
    )
    exploded = with_toks.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1))
    )
    start = (F.col("chunk_id") * stride).cast("long")
    chunk_len = F.least(F.lit(chunk_tokens).cast("long"), F.col("_n") - start)
    return exploded.select(
        F.col("doc_id"),
        F.col("chunk_id"),
        start.alias("start_tok"),
        chunk_len.alias("chunk_len"),
        F.element_at("_t", (start + 1).cast("int")).alias("first_token"),
        F.element_at("_t", (start + chunk_len).cast("int")).alias("last_token"),
    )


def greedy_max_coverage(docs: DataFrame) -> DataFrame:
    """Greedy maximum-coverage document selection (the Nemhauser-
    Wolsey-Fisher 1978 submodular greedy, the (1 − 1/e) classic behind
    coreset / demonstration-set selection): pick ``MAX_COVERAGE_K`` documents one at
    a time, each maximizing the count of vocabulary tokens not yet
    covered by earlier picks (ties broken by smallest doc id — a total
    order, so the whole trajectory is deterministic).

    Output: one row per pick — (step, doc_id, marginal_gain,
    covered_total), all exact integers. SATURATION: once every shingle
    is covered the round's gain table is empty and no further row is
    emitted, so the result may have FEWER than ``MAX_COVERAGE_K`` rows (zero-gain
    picks are meaningless under max-coverage; the DuckDB twin stops at
    the same point, and the pure-Python reference in
    tests/test_r12_ops.py encodes the same stop-at-zero-gain rule).

    Scale: the coverage universe is the DISTINCT (doc, word-5-gram
    shingle) pair set — the decontamination unit (dedup.shingles), a
    universe rich enough to stay submodular-interesting even on a
    tiny-vocabulary corpus (the fixtures have 31 distinct unigrams, so
    unigram coverage saturates at pick 1). Each of the k rounds is one
    shingle-keyed anti-join of the pair set against the ≤k picked docs'
    own pairs plus one doc-keyed count, whose ONE-ROW argmax (max of
    (gain, −id) structs — no global sort) is collected to the driver:
    bounded control data, one row per round, k rounds total. The picked
    ids ship back as a ≤k-int `isin` literal; `covered_total` is the
    exact running sum of the collected gains. The anti-join's probe
    side is the pair set — linear per round.
    """
    from kickstarter_etl_pipeline_spark.operators.dedup import shingle_table

    # shingle_table spreads the scan first (ensure_min_partitions) —
    # a single-row-group fixture file would otherwise tokenize the
    # whole corpus in ONE task (measured 30 s vs 2 s at sf0.1).
    pairs = (
        shingle_table(
            docs.select(F.col("doc_id").cast("long").alias("_doc"), "text"),
            id_col="_doc",
            n=5,
        )
        .select("_doc", F.col("shingle").alias("_tok"))
        .distinct()
    )
    pairs = loop_frame(pairs)
    # r14 restructure (guide §1/§2.4 — the profiled cost was 135 jobs of
    # scheduling, not data): each round is now exactly ONE action — a
    # one-row argmax collect over (pairs minus already-covered tokens).
    # What the old shape paid per round and this one does not:
    #   - the gain-table checkpoint (the argmax is an aggregate over it,
    #     consumed once — no second consumer exists anymore);
    #   - the pick⋈best join + its checkpoint (the argmax row IS the
    #     pick: max(struct(gain, −doc)) carries both fields);
    #   - the covered-set union/distinct checkpoint and the V-sized
    #     doc_toks collect_list table (covered tokens are re-derived
    #     per round as a FILTER of the checkpointed pair set on the ≤k
    #     picked doc ids — bounded control data, shipped as an isin
    #     literal);
    #   - the per-step covered-count aggregate: |covered_t| =
    #     |covered_{t−1}| + gain_t exactly (pairs is distinct, so the
    #     anti-joined count of the pick's rows IS the newly-covered
    #     token count) — the running total is a driver-side sum of
    #     exact longs.
    # Saturation contract unchanged: an empty gain table collects a
    # NULL struct → stop, emitting fewer than k rows. Measured 7.6 →
    # ~2.6 s at sf0.1 with bit-identical output; at 100 TB this also
    # deletes one V-sized shuffle (doc_toks) and k covered-set
    # shuffles per run.
    spark = docs.sparkSession
    picked: list[int] = []
    rows: list[tuple[int, int, int, int]] = []
    covered_total = 0
    for t in range(1, MAX_COVERAGE_K + 1):
        if picked:
            cov = pairs.filter(F.col("_doc").isin(picked)).select("_tok")
            remaining = pairs.join(cov, "_tok", "left_anti")
        else:
            remaining = pairs
        best = collect_control(
            remaining.groupBy("_doc")
            .agg(F.count("*").cast("long").alias("_gain"))
            .agg(
                F.max(
                    F.struct(F.col("_gain").alias("g"), (-F.col("_doc")).alias("nid"))
                ).alias("_b")
            )
        )[0]["_b"]
        if best is None:
            break
        gain, doc = int(best["g"]), -int(best["nid"])
        covered_total += gain
        picked.append(doc)
        rows.append((t, doc, gain, covered_total))
    schema = "step bigint, doc_id bigint, marginal_gain bigint, covered_total bigint"
    return control_frame(spark, rows, schema)
