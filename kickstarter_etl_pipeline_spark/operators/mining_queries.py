"""Round-6 corpus/structure-mining queries: substring-duplication
statistics, Zipf rank-frequency fit, privacy l-diversity, per-source
quality percentile gating, session bounce analytics, graph link
prediction, MinHash estimator calibration, and bloom-prefiltered joins.

Each query has a full DuckDB oracle twin (oracles_mining.py) and
follows the repo's determinism rules: exact integer/decimal
aggregation, transcendentals snapped to fixed grids BEFORE
aggregation, rankings totally ordered by (value, id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators import text as TX
from kickstarter_etl_pipeline_spark.operators.ranking import (
    collected_offsets,
    grouped_two_phase_rank,
    two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table


def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact substring-duplication stats over token
    8-grams (Lee et al. 2022 ExactSubstr measurement, n-gram form):
    fraction of gram positions occurring >1 time in the corpus."""
    from kickstarter_etl_pipeline_spark.operators.dedup import duplicate_ngram_span_stats

    return duplicate_ngram_span_stats(load_table(spark, sf_dir, "documents"), n=8)


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 token frequencies: OLS slope and
    intercept of ln(freq) on ln(rank) — the corpus-health scalar every
    pretraining data audit reports (natural text ≈ −1).

    Determinism: ln(rank) and ln(freq) are snapped to exact integer
    MICRO-nat grids (floor(ln·1e6 + 0.5)), all OLS sums are exact
    BIGINT arithmetic (Σxy ≤ 1000·(7e6·1.6e7) ≈ 1e17 < 2^63), and the
    final slope/intercept divide exact-int-derived doubles — IEEE
    division of identical inputs, then a 6-dp grid. Rank order is the
    total order (count DESC, token ASC). One shuffle (token counts) +
    a 1000-row TakeOrdered.
    """
    from kickstarter_etl_pipeline_spark.operators.text import token_frequency

    docs = load_table(spark, sf_dir, "documents")
    top = (
        token_frequency(docs)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(1000)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
            ),
        )
    )
    g = top.select(
        F.floor(F.log(F.col("rank").cast("double")) * 1e6 + 0.5).cast("long").alias("x6"),
        F.floor(F.log(F.col("n_occurrences").cast("double")) * 1e6 + 0.5)
        .cast("long")
        .alias("y6"),
    )
    sums = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x6").alias("sx"),
        F.sum("y6").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / (n * F.lit(1e6))
    return sums.select(
        F.col("n").alias("n_tokens"),
        round_det(slope, 6).alias("zipf_slope"),
        round_det(intercept, 6).alias("zipf_intercept"),
    )


def q_l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), the companion to
    q_k_anonymity_report: per ``source`` quasi-class, how diverse the
    sensitive attribute (``lang``) is — distinct-l, the l=3 violation
    flag, and the dominant language's share (the homogeneity-attack
    surface). Exact integers + one fixed division tree."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("_n"))
    return cells.groupBy("source").agg(
        F.sum("_n").cast("long").alias("class_size"),
        F.count("*").cast("long").alias("n_langs"),
        F.when(F.count("*") < 3, 1).otherwise(0).cast("int").alias("violates_l3"),
        round_det(F.max("_n") / F.sum("_n"), 6).alias("top_lang_share"),
    )


def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality gate: keep the top 80% of documents by quality
    score WITHIN each source (per-source ranking is the standard
    curation discipline — a global cutoff would empty low-scoring
    sources entirely and skew the mixture). Cutoff is rank-based
    (rank ≤ ceil(0.8·n) over the (quality DESC, doc_id) total order) —
    pure integer arithmetic, no percent_rank n=1 edge cases. Mean kept
    quality aggregates the already-6dp-rounded scores through
    DECIMAL(18,6) so sum order can't perturb the 6-dp output grid.

    Scale (upgraded round 10): per-source ranks ride
    grouped_two_phase_rank (global composite-order range exchange −
    per-source broadcast offsets) — a web-scale source that holds 90%
    of the corpus is split across partitions instead of landing on
    one task, which is exactly the skew profile domain-sourced
    corpora have."""

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", TX.quality_score("text").alias("quality")
    )
    ranked = grouped_two_phase_rank(
        scored, ["source"], [F.desc("quality"), F.asc("doc_id")], n_col="_n"
    ).withColumnRenamed("rank_in_group", "_rk")
    kept = F.col("_rk") <= F.ceil(F.col("_n") * 0.8)
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.min(F.when(kept, F.col("quality"))).alias("min_kept_quality"),
        round_det(
            F.sum(F.when(kept, F.col("quality")).otherwise(F.lit(0.0)).cast("decimal(18,6)"))
            .cast("double")
            / F.sum(F.when(kept, 1).otherwise(0)),
            6,
        ).alias("mean_kept_quality"),
    )


def q_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce-rate analytics per session ENTRY event type: sessionize
    (30-min gap, the events_sessionize construction), take each
    session's first event type ((ts, event_id) total order), and report
    sessions / bounces (single-event sessions) / bounce rate / mean
    depth per entry type. One shuffle on user_id (sessionization), one
    on entry type (rollup)."""
    sess = (
        EV.with_session_ids(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min_by("event_type", F.struct("_us", "event_id")).alias("entry_type"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    return sess.groupBy("entry_type").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("long").alias(
            "n_bounces"
        ),
        round_det(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)) / F.count("*"), 6
        ).alias("bounce_rate"),
        round_det(F.sum("n_events") / F.count("*"), 6).alias("mean_depth"),
    )


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the error co-occurrence
    graph: non-adjacent user pairs sharing ≥2 neighbors, scored by
    neighborhood Jaccard.

    The bucket is 10 minutes (vs the triangle query's 30): wedge
    fan-out is Σ_n deg(n)² — quadratic in bucket occupancy — so the
    bucket width is the knob that keeps the graph sparse as event
    density grows (the cooccurrence_edges scale contract). At sf0.1
    the 30-min graph already tripled this query's runtime; the 10-min
    graph keeps occupancy bounded with identical semantics."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        common_neighbor_link_prediction,
        cooccurrence_edges,
    )

    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    edges = cooccurrence_edges(ev, event_type="error", bucket_seconds=600)
    preds = common_neighbor_link_prediction(edges, min_common=2)
    # top-100 by (score, u, v): the candidate table is corpus-sized at
    # scale (677k pairs at sf0.1) — a TakeOrdered bounds the report
    # without a density-sensitive score floor (which empties as the
    # graph densifies and per-pair jaccard falls)
    w = Window.orderBy(F.desc("jaccard_score"), F.asc("u"), F.asc("v"))
    return (
        preds.orderBy(F.desc("jaccard_score"), F.asc("u"), F.asc("v"))
        .limit(100)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "u", "v", "n_common", "jaccard_score")
    )


def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: md5-permutation 16-slot signature
    agreement vs exact n-gram Jaccard on candidate pairs."""
    from kickstarter_etl_pipeline_spark.operators.dedup import minhash_md5_estimate_vs_exact

    return minhash_md5_estimate_vs_exact(
        load_table(spark, sf_dir, "documents"), num_hashes=16, candidate_threshold=0.3
    )


def q_bloom_prefiltered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fact→dim join: lineitem rows are prefiltered by
    a 65536-bit bitmap built from the selective part subset (one brand)
    before the exact join — the declarative analog of runtime
    bloom-filter injection. False positives die in the exact join, so
    the plain-join oracle verifies transparency. Revenue in DECIMAL."""
    from kickstarter_etl_pipeline_spark.operators.joins import bloom_prefilter

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dim = part.filter(F.col("p_brand") == "Brand#12").select("p_partkey", "p_type")
    prefiltered = bloom_prefilter(lineitem, dim, "l_partkey", "p_partkey")
    return (
        prefiltered.join(
            F.broadcast(dim), prefiltered["l_partkey"] == dim["p_partkey"]
        )
        .groupBy("p_type")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming at-least-once replay collapse via
    dropDuplicatesWithinWatermark; oracle = batch DISTINCT rollup."""
    from kickstarter_etl_pipeline_spark.streaming.events_stream import (
        streaming_dedup_counts,
    )

    return streaming_dedup_counts(spark, sf_dir)


def q_priority_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: per-source
    top-5 documents by the Efraimidis–Spirakis A-Res priority
    ``u^(1/w)`` with weight w = n_chars — long documents are
    proportionally more likely to be drawn, and the draw is a pure
    function of the data (u comes from md5(doc_id), not an RNG), so the
    "sample" is reproducible across engines, runs, and cluster sizes.
    This is the 100 TB way to draw a weighted corpus subsample: one
    per-row expression + a per-group top-k (TakeOrdered, no global
    sort).

    Determinism: rank on ln(u)/w (monotone in u^(1/w)) snapped to an
    exact BIGINT nano-grid; u = (h+1)/16^12 from the first 12 md5 hex
    digits, an IEEE division of exact integers. A ±1 nano flip from
    ln's cross-engine ulp noise only reorders keys that are within
    1e-9 of each other — the 500-doc key spread is ~10 orders wider.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    u = (h + 1) / F.lit(float(16**12))
    # greatest(w, 1): a zero-weight row would put -inf on the key grid;
    # degenerate weights get the minimum positive weight instead
    key9 = F.floor(
        F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)) * 1e9 + 0.5
    ).cast("long")

    # round-10 upgrade: per-source ranks ride grouped_two_phase_rank,
    # so a source holding most of the corpus is range-split across
    # partitions instead of landing on one task.
    return (
        grouped_two_phase_rank(
            docs.select("doc_id", "source", "n_chars", key9.alias("priority_key9")),
            ["source"],
            [F.desc("priority_key9"), F.asc("doc_id")],
        )
        .withColumn("rank", F.col("rank_in_group").cast("int"))
        .filter(F.col("rank") <= 5)
        .select("source", "rank", "doc_id", "n_chars", "priority_key9")
    )


def q_source_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity per source over the language distribution:
    Shannon entropy (nats) and the Simpson concentration index — the
    two standard mixture-health scalars for a pretraining source
    (low entropy / high Simpson = one language dominates).

    Determinism: each entropy term −p·ln(p) is snapped to an exact
    BIGINT nano-nat grid BEFORE summing (p = exact-integer division),
    so sum order is irrelevant; Simpson = Σnᵢ²/n² divides exact
    integers. Two uniform-key aggregates, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("_n"))
    totals = cells.groupBy("source").agg(F.sum("_n").cast("long").alias("_tot"))
    terms = cells.join(totals, "source").select(
        "source",
        "_n",
        "_tot",
        F.floor(
            -(F.col("_n") / F.col("_tot")) * F.log(F.col("_n") / F.col("_tot")) * 1e9
            + 0.5
        )
        .cast("long")
        .alias("_t9"),
    )
    return terms.groupBy("source").agg(
        F.max("_tot").alias("n_docs"),
        F.count("*").cast("long").alias("n_langs"),
        round_det(F.sum("_t9") / F.lit(1e9), 6).alias("shannon_entropy_nats"),
        round_det(
            F.sum(F.col("_n") * F.col("_n")).cast("double")
            / (F.max("_tot") * F.max("_tot")),
            6,
        ).alias("simpson_index"),
    )


def q_events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over daily event counts per type (Page
    1954): the one-sided positive CUSUM s_t = max(0, s_{t-1} + (x_t − μ
    − k)) with slack k = σ/2, reporting the max excursion (the drift
    statistic) and the final value.

    Spark-first trick: the clamped fold needs no fold at all — with
    prefix sums P_t of the increments, s_t = P_t − min(0, min_{j≤t}
    P_j), so the whole thing is two ordered-window passes. Increments
    are snapped to an exact BIGINT nano-grid first, making every
    prefix sum / min / max exact integer arithmetic (μ and σ derive
    from exact integer sums; sqrt is IEEE-correctly-rounded, so both
    engines agree bit-for-bit). One shuffle on event_type."""
    ev = EV.with_unix_micros(load_table(spark, sf_dir, "events"))
    daily = ev.groupBy(
        "event_type",
        F.floor(F.col("_us") / F.lit(86_400_000_000)).cast("long").alias("day"),
    ).agg(F.count("*").cast("long").alias("x"))
    stats = Window.partitionBy("event_type")
    mu = F.sum("x").over(stats).cast("double") / F.count("*").over(stats)
    sigma = F.sqrt(
        F.sum(F.col("x") * F.col("x")).over(stats).cast("double")
        / F.count("*").over(stats)
        - mu * mu
    )
    staged = daily.withColumn(
        "_d9", F.floor((F.col("x") - mu - sigma / 2) * 1e9 + 0.5).cast("long")
    ).withColumn("_mu", mu).withColumn("_sigma", sigma)
    seq = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        staged.withColumn("_p", F.sum("_d9").over(seq))
        .withColumn("_s", F.col("_p") - F.least(F.lit(0).cast("long"), F.min("_p").over(seq)))
    )
    return cum.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        round_det(F.max("_mu"), 6).alias("mean_daily"),
        round_det(F.max("_sigma"), 6).alias("sigma_daily"),
        round_det(F.max("_s") / F.lit(1e9), 6).alias("max_cusum"),
        round_det(F.max_by("_s", "day") / F.lit(1e9), 6).alias("end_cusum"),
    )


def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: MMR greedy re-ranking (λ=0.7, k=5)
    over each query's exact top-20 cosine candidates."""
    from kickstarter_etl_pipeline_spark.operators.similarity import (
        mmr_diversified_topk,
        query_anchors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_diversified_topk(emb, query_anchors(emb, 20), k=5, pool=20)


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer TRAINING (Sennrich et al. 2016):
    corpus-wide adjacent character-pair counts within words — the table
    whose argmax is the first merge rule. Top-50 by (count DESC, pair
    ASC). One explode + one uniform-key count + a TakeOrdered; at 100
    TB the pair key space is tiny (charset²), so the aggregate
    map-side-combines to almost nothing."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(TX.tokens("text")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("n_occurrences"))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        counts.orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(50)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "pair", "n_occurrences")
    )


def _bpe_apply_merge(seq, lhs: str, rhs: str):
    """Left-to-right non-overlapping application of ONE merge rule to a
    space-joined symbol string — the exact `merge_vocab` step of
    Sennrich et al. 2016, as a single JVM-side higher-order fold.

    The accumulator keeps every symbol space-prefixed, so
    ``endswith(acc, ' ' || lhs)`` is true iff the accumulator's LAST
    SYMBOL is exactly ``lhs`` (symbols never contain spaces); merging
    then just appends ``rhs`` with no space. Because the merged token
    ``lhs||rhs`` has no internal space and ``rhs`` is non-empty, a
    freshly-merged tail can never re-match ``lhs`` — i.e. the fold IS
    the left-to-right non-overlapping scan ('a a a' + (a,a) → 'aa a',
    not 'aa aa'). Pinned by test_bpe_apply_merge_semantics."""
    return F.ltrim(
        F.aggregate(
            F.split(seq, " "),
            F.lit(""),
            lambda acc, s: F.when(
                acc.endswith(F.concat(F.lit(" "), F.lit(lhs)))
                & (s == F.lit(rhs)),
                F.concat(acc, F.lit(rhs)),
            ).otherwise(F.concat(acc, F.lit(" "), s)),
        )
    )


def _bpe_fit(spark: SparkSession, sf_dir: str, rounds: int = 8):
    """Shared BPE training loop (Sennrich et al. 2016) — extracted so
    the composed q_bpe_tokenized_stats reuses the IDENTICAL fit the
    way curation_pack_manifest reuses clean_corpus. Returns
    (tokenized vocab frame with columns w/freq/seq after all rounds,
    merges list of (rank, lhs, rhs, merged, pair_count,
    symbols_after)).

    Scale: classic BPE trains on the word-frequency table, not the
    corpus — the only corpus-wide pass is ONE groupBy(word) count
    (Heaps'-law sublinear vocab; ~10⁷ rows at 100 TB). Each round is
    then a bounded-key pair aggregate (map-side-combines to ≲|charset
    ∪ merges|² keys), a 1-row argmax collect (the BT-MM bounded-
    scalar-collect device — the merge literal must parametrize the
    next round's fold), and a narrow per-row map over the vocab.
    localCheckpoint per round truncates the 8-deep fold lineage.

    Determinism: counts are exact BIGINT; the argmax total order is
    (count DESC, lhs ASC, rhs ASC); no floats anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(TX.tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .select(
            "w",
            "freq",
            F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("seq"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    for r in range(1, rounds + 1):
        pairs = vocab.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(seq, ' ')) - 1),"
                    " i -> struct(element_at(split(seq, ' '), i) AS lhs,"
                    " element_at(split(seq, ' '), i + 1) AS rhs))"
                )
            ).alias("p"),
        ).select("freq", "p.lhs", "p.rhs")
        best = (
            pairs.groupBy("lhs", "rhs")
            .agg(F.sum("freq").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best:  # vocabulary fully collapsed (unreachable on fixtures)
            break
        lhs, rhs, cnt = best[0].lhs, best[0].rhs, best[0].pair_count
        vocab = vocab.select(
            "w", "freq", _bpe_apply_merge(F.col("seq"), lhs, rhs).alias("seq")
        ).localCheckpoint(eager=True)
        total = vocab.agg(
            F.sum(F.col("freq") * F.size(F.split("seq", " "))).cast("long").alias("t")
        ).collect()[0].t
        merges.append((r, lhs, rhs, lhs + rhs, cnt, total))
    return vocab, merges


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL iterative BPE tokenizer training (Sennrich et al. 2016),
    8 merge rounds — the step `bpe_merge_candidates` only previews.
    Each round: corpus-frequency-weighted adjacent-pair counts over
    the CURRENT symbolization, argmax by (count DESC, lhs, rhs),
    apply the winning merge left-to-right non-overlapping to every
    word, repeat (loop mechanics + scale posture in _bpe_fit). Output:
    one row per learned merge rule — (merge_rank, lhs, rhs, merged,
    pair_count at selection time, symbols_after = corpus-weighted
    total symbol count AFTER applying the rule). `symbols_after`
    forces the oracle to replay the merge APPLICATIONS exactly, not
    just the selections."""
    _, merges = _bpe_fit(spark, sf_dir, rounds=8)
    return spark.createDataFrame(
        merges,
        "merge_rank int, lhs string, rhs string, merged string,"
        " pair_count bigint, symbols_after bigint",
    )


def q_bpe_tokenized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed train→APPLY→measure BPE unit: fit the 8 merge
    rules (_bpe_fit — the IDENTICAL loop grading bpe_train_merges),
    then tokenize the whole corpus under the learned tokenizer and
    report per-(lang, source) tokenizer-quality metrics: word
    instances, BPE token count, fertility (BPE tokens per word,
    integer micros), and compression (BPE tokens per character,
    integer micros — chars only over the tokenized words, so both
    ratios share a denominator basis).

    Tokenizing the corpus is a broadcast-joinable dictionary lookup:
    the fitted vocab (word → symbol count) is Heaps'-law small, so the
    corpus-sized side never reshuffles — explode words, hash-join to
    the vocab, one map-side-combined aggregate on the enumeration-
    bounded (lang, source) grid. Exact-BIGINT ratios via the micro
    grid (the BT-MM discipline)."""
    vocab, _ = _bpe_fit(spark, sf_dir, rounds=8)
    lut = F.broadcast(
        vocab.select(
            "w", F.size(F.split("seq", " ")).cast("long").alias("n_toks")
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang", "source", F.explode(TX.tokens("text")).alias("w")
    ).filter(F.length("w") >= 2)
    return (
        words.join(lut, "w")
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_toks").cast("long").alias("bpe_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
        )
        .select(
            "lang",
            "source",
            "n_words",
            "bpe_tokens",
            "n_chars",
            F.expr("(bpe_tokens * 1000000) DIV n_words").alias("fertility_micro"),
            F.expr("(bpe_tokens * 1000000) DIV n_chars").alias("compression_micro"),
        )
    )


def q_bpe_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third composed BPE unit — train → tokenize → PACK: fit the
    8 merge rules (_bpe_fit, the IDENTICAL loop grading
    bpe_train_merges), size every document in LEARNED-tokenizer
    tokens (broadcast vocab lookup; sub-2-char words count 1 symbol),
    then run the concat-and-split packing rule (the pack_sequences
    regime — per-source streams, 128-token context windows, no
    padding) under those counts. Real pretraining pipelines pack by
    the production tokenizer's counts, not whitespace — this is that
    pipeline as ONE graded query: (doc, source, BPE token count,
    window id, offset, boundary-span flag) per document.

    Scale: the fit is _bpe_fit's posture; sizing is one broadcast
    hash-join + a map-side-combined per-doc sum; packing is one
    shuffle on the shard key + an in-shard running sum (shards are
    the parallelism unit, as in pack_sequences)."""
    vocab, _ = _bpe_fit(spark, sf_dir, rounds=8)
    lut = F.broadcast(
        vocab.select("w", F.size(F.split("seq", " ")).cast("long").alias("_bt"))
    )
    docs = load_table(spark, sf_dir, "documents")
    sized = (
        docs.select("doc_id", "source", F.explode(TX.tokens("text")).alias("w"))
        .join(lut, "w", "left")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.coalesce("_bt", F.lit(1).cast("long"))).cast("long").alias("n_bpe_tokens"))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = F.sum("n_bpe_tokens").over(w)
    start = (cum - F.col("n_bpe_tokens")).cast("long")
    bin_id = F.floor(start / 128)
    return sized.select(
        "doc_id",
        "source",
        "n_bpe_tokens",
        bin_id.alias("bin_id"),
        (start % 128).alias("bin_offset"),
        (F.floor((cum - 1) / 128) > bin_id).alias("spans_boundary"),
    )


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retriever-training data mining: for each anchor (vec_id < 20),
    the top-3 DIFFERENT-label neighbors by cosine — the classic hard
    negatives that make contrastive training work (high-similarity,
    wrong-label). Same broadcast scoring shape as embedding_topk with a
    label-inequality predicate; rank on the (rounded cosine DESC, id)
    total order."""
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions
    from kickstarter_etl_pipeline_spark.operators.similarity import dot, norm, query_anchors

    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        query_anchors(emb, 20)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("_qlabel"),
            F.col("embedding").alias("_qv"),
        )
        .withColumn("_qn", norm(F.col("_qv")))
    )
    c = (
        ensure_min_partitions(emb)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.col("embedding").alias("_cv"),
        )
        .withColumn("_cn", norm(F.col("_cv")))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("_qlabel"))
        )
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(
                F.try_divide(dot(F.col("_qv"), F.col("_cv")), F.col("_qn") * F.col("_cn")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", "neighbor_id", "neighbor_label", "cosine_sim")
    )


def q_table_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table reconciliation (the Merkle-bucket pattern):
    compare two table versions bucket-by-bucket WITHOUT a global sort —
    per key-hash bucket, row counts, insert/delete/update/unchanged
    class counts, and an order-independent XOR content checksum
    (bit_xor of md5-derived 60-bit row hashes, replayable in any engine
    with md5). At 100 TB this is how replicas are compared: checksums
    first, per-bucket drill-down only where they differ.

    v1 = even-key orders; v2 = v1 with key%8==6 deleted, key%4==0
    repriced (+1000), and odd key%4==1 rows inserted — every diff class
    non-empty by construction."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    v2 = (
        v1.filter(F.col("o_orderkey") % 8 != 6)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 4 == 0, F.col("price") + 1000)
            .otherwise(F.col("price"))
            .cast("decimal(18,2)")
            .alias("price"),
        )
        .unionByName(orders.filter(F.col("o_orderkey") % 4 == 1))
    )
    rh = lambda: F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("o_orderkey").cast("string"), F.col("price").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    a = v1.select(
        (F.col("o_orderkey") % 16).alias("bucket"),
        F.col("o_orderkey").alias("k"),
        F.col("price").alias("p1"),
        rh().alias("h1"),
    )
    b = v2.select(
        (F.col("o_orderkey") % 16).alias("bucket"),
        F.col("o_orderkey").alias("k"),
        F.col("price").alias("p2"),
        rh().alias("h2"),
    )
    joined = a.join(b, on=["bucket", "k"], how="full_outer")
    return joined.groupBy("bucket").agg(
        F.sum(F.when(F.col("p1").isNotNull(), 1).otherwise(0)).cast("long").alias("n_v1"),
        F.sum(F.when(F.col("p2").isNotNull(), 1).otherwise(0)).cast("long").alias("n_v2"),
        F.sum(F.when(F.col("p2").isNull() & F.col("p1").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_deleted"),
        F.sum(F.when(F.col("p1").isNull() & F.col("p2").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_inserted"),
        F.sum(
            F.when(F.col("p1").isNotNull() & F.col("p2").isNotNull() & (F.col("p1") != F.col("p2")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_updated"),
        F.sum(
            F.when(F.col("p1").isNotNull() & F.col("p2").isNotNull() & (F.col("p1") == F.col("p2")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_unchanged"),
        F.expr("bit_xor(h1)").alias("checksum_v1"),
        F.expr("bit_xor(h2)").alias("checksum_v2"),
    )


def q_sketch_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED tolerance contract for the approximate tier: per event
    type, the EXACT distinct-user count and p50 value (both
    SQL-replayable) next to within-tolerance booleans for Spark's
    HLL++ (approx_count_distinct at rsd 2% → checked at ±10%, a 5-σ
    band) and approx_percentile (±5% of the exact p50, ε-floored).

    The raw sketch estimates are engine-specific (why
    approx_aggregates / distinct_users_rollup are rows-only); this
    report grades the part that IS portable — the accuracy CONTRACT.
    The oracle pins the exact columns and asserts both booleans true,
    so a regression that pushes a sketch out of tolerance flips the
    driver grade, not just a pytest."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct_users"),
        # rsd 2% -> the ±10% graded band is 5 sigma: pass probability
        # ~1-6e-7 per group at ANY scale (rsd is scale-free), vs the
        # first draft's ±5% on the default 5% rsd (1 sigma — failed at
        # sf0.1, caught in round-6 self-review).
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx_distinct"),
        F.expr("percentile(value, 0.5)").alias("_exact_p50_raw"),
        F.percentile_approx("value", F.lit(0.5)).alias("_approx_p50"),
    )
    return per_type.select(
        "event_type",
        "exact_distinct_users",
        round_det(F.col("_exact_p50_raw"), 4).alias("exact_p50_value"),
        (
            F.abs(F.col("_approx_distinct") - F.col("exact_distinct_users"))
            / F.col("exact_distinct_users")
            <= 0.10
        )
        .cast("int")
        .alias("distinct_within_10pct"),
        # absolute-epsilon floor keeps an exact-zero p50 from dividing by 0
        (
            F.abs(F.col("_approx_p50") - F.col("_exact_p50_raw"))
            <= F.greatest(F.abs(F.col("_exact_p50_raw")) * 0.05, F.lit(1e-6))
        )
        .cast("int")
        .alias("p50_within_5pct"),
    )


def q_lorenz_curve_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve of event volume over users — the
    CURVE behind the gini_by_status scalar: for each user-decile
    (users ranked by activity ascending), the cumulative share of all
    events. The heavy-user audit every rate-limit / abuse review
    starts from.

    Shape (round-7 rewrite): the rank AND the running event total come
    from the distributed two-phase prefix machinery
    (ranking.two_phase_rank — range split, local rank+cum, P-row
    offset broadcast; no single-partition sort anywhere), then the 10
    decile thresholds floor(N·d/10) equi-join the prefix-sum table on
    ``rank = thr`` — a broadcast hash join of a 10-row build side,
    O(N) total work. The round-6 draft's ``rank <= thr`` non-equi LEFT
    join forced a BroadcastNestedLoopJoin whose broadcast side was the
    DATA-sized ranked table (executor OOM at scale) plus a ~5.5× row
    fan-out; this shape has neither. Since ranks are dense 1..N, the
    cumulative user count at threshold t is t itself — no count(*)
    needed. Exact integers end-to-end."""

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))
    cum = two_phase_rank(per_user, ["n", "user_id"], cum_col="n").select(
        "rank", F.col("cum").alias("_cum_events")
    )
    totals = F.broadcast(
        per_user.agg(
            F.count("*").cast("long").alias("_n_users"),
            F.sum("n").cast("long").alias("_n_events"),
        )
    )
    deciles = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))
    thresholds = deciles.crossJoin(totals).select(
        "decile",
        F.floor(F.col("_n_users") * F.col("decile") / 10).cast("long").alias("_thr"),
        "_n_events",
    )
    # Inner equi-join picks the ≤10 prefix rows at the thresholds; the
    # tiny left join back onto the 10-row threshold frame restores
    # deciles whose threshold is 0 (N < 10 users) with zero rows/events.
    at_thr = cum.join(
        F.broadcast(thresholds.select("decile", "_thr")),
        cum["rank"] == F.col("_thr"),
        "inner",
    ).select("decile", "_cum_events")
    return (
        thresholds.join(F.broadcast(at_thr), "decile", "left")
        .select(
            "decile",
            F.col("_thr").alias("n_users_cum"),
            F.coalesce(F.col("_cum_events"), F.lit(0)).cast("long").alias("n_events_cum"),
            round_det(
                F.coalesce(F.col("_cum_events"), F.lit(0)) / F.col("_n_events"), 6
            ).alias("event_share"),
        )
    )


def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy-hitter estimation, FULLY graded — unlike
    library sketches (approx_count_distinct / datasketches), this CM is
    built from md5-derived hash rows, so the whole sketch is a
    deterministic pure function of the data that ANY engine replays
    bit-for-bit: d=4 rows x w=1024 buckets, row hashes
    h_j(t) = md5_60bit(j || ':' || t) % w, cell = exact SUM of token
    counts colliding there, estimate(t) = min_j cell[j][h_j(t)] — the
    Cormode-Muthukrishnan guarantee (estimate >= truth always;
    overestimate <= eps*N w.h.p.) becomes an exactly-checkable table:
    the top-50 true tokens with true count, CM estimate and the
    overestimate (collision mass), which the oracle reproduces
    exactly.

    Scale shape: token counts (one uniform aggregate) fan out x4 to
    (row, bucket) cells — a 4096-key aggregate — and the estimate join
    is keyed by (row, bucket). Sketch size is CONSTANT in corpus size;
    at 100 TB only the token-count aggregate grows."""
    from kickstarter_etl_pipeline_spark.operators.text import token_frequency

    d_rows, w_buckets = 4, 1024
    docs = load_table(spark, sf_dir, "documents")
    freq = token_frequency(docs).select(
        "token", F.col("n_occurrences").cast("long").alias("n")
    )
    j = F.explode(F.array(*[F.lit(i) for i in range(d_rows)])).alias("j")
    hashed = freq.select("token", "n", j).withColumn(
        "bucket",
        (
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.col("j"), F.col("token"))), 1, 15),
                16,
                10,
            ).cast("long")
            % w_buckets
        ),
    )
    cells = hashed.groupBy("j", "bucket").agg(F.sum("n").alias("_cell"))
    est = (
        hashed.join(cells, ["j", "bucket"])
        .groupBy("token")
        .agg(F.min("_cell").cast("long").alias("cm_estimate"))
    )
    top = (
        freq.orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), F.asc("token")))
            .cast("int"),
        )
    )
    return top.join(est, "token").select(
        "rank",
        "token",
        F.col("n").alias("true_count"),
        "cm_estimate",
        (F.col("cm_estimate") - F.col("n")).cast("long").alias("overestimate"),
    )


def hll_registers(keys: DataFrame, key_col: str, m: int = 256) -> DataFrame:
    """The HLL register table: (reg, _m) with register = low 8 md5 bits
    and _m = max rank over the register's keys. Factored out of
    :func:`q_hll_manual_report` so the merge semantics are testable in
    isolation: a MAX per register is associative/commutative, so the
    table — and hence the estimate — is invariant under input
    partitioning and under merging independently-built sketches
    (union → groupBy max), the property that makes HLL shardable at
    100 TB. ``tests/test_mining_ops.py`` pins both invariances on this
    exact code path.

    ``m`` must be a power of two (register index = low log2(m) hash
    bits); rank runs over the remaining 60 − log2(m) hash bits."""
    shift = m.bit_length() - 1
    if m != (1 << shift):
        raise ValueError(f"m must be a power of two, got {m}")
    max_rank = 60 - shift + 1  # all-zero w ranks one past the top bit
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        keys.select(
            (h % m).alias("reg"),
            # shiftright, NOT h/m: the 60-bit hash exceeds 2^53, so a
            # double division would silently round w
            F.shiftright(h, shift).alias("_w"),
        )
        .withColumn(
            "_rank",
            F.when(F.col("_w") == 0, F.lit(max_rank)).otherwise(
                F.lit(max_rank) - F.length(F.bin(F.col("_w")))
            ),
        )
        .groupBy("reg")
        .agg(F.max("_rank").cast("long").alias("_m"))
    )


def q_hll_manual_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built from scratch on md5 — the deterministic,
    fully-graded sibling of the rows-only library sketch
    (approx_aggregates): with the hash fixed, every stage of HLL is a
    pure function both engines replay exactly. m=256 registers; each
    distinct user's 60-bit md5 splits into (register = low 8 bits,
    w = high 52 bits); register value = max over its users of
    rank = 53 - bitlen(w) (leading zeros + 1, bitlen via the binary
    string length — exact on both engines; w = 0 -> rank 53). The
    harmonic denominator is computed in EXACT integer arithmetic
    (S = sum of 2^(54 - M_r) as BIGINT — at most 256*2^53 < 2^63), so
    no float sum order exists; the estimate
    alpha_256 * m^2 * 2^54 / S is one fixed IEEE tree with alpha
    written as the same double literal on both sides, and the
    small-range linear-counting correction (E <= 2.5m and empty
    registers present -> m * ln(m / V)) snaps ln to the nano-nat grid
    first. Output: one row — true distinct users (exact), the HLL
    estimate, relative error, and the register-occupancy stats.

    Scale shape: one distinct + one 256-group max aggregate; the
    256-row register table is the only state, constant in corpus
    size."""
    m = 256
    alpha = 0.7213 / (1.0 + 1.079 / m)  # 0.7182725932495458, same literal in SQL
    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    regs = hll_registers(users, "user_id", m)
    # exact integer harmonic spine: empty registers contribute 2^54
    folded = regs.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(54 - _m AS INT))"))
        .cast("long")
        .alias("_s_occ"),
        F.count("*").cast("long").alias("_n_occ"),
    )
    truth = users.agg(F.count("*").cast("long").alias("true_distinct"))
    joined = folded.crossJoin(F.broadcast(truth)).select(
        "true_distinct",
        "_n_occ",
        (F.lit(m) - F.col("_n_occ")).cast("long").alias("n_empty_registers"),
        (
            F.col("_s_occ")
            + (F.lit(m) - F.col("_n_occ")) * F.lit(1 << 54).cast("long")
        ).alias("_s"),
    )
    raw_e = F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(1 << 54)) / F.col("_s")
    ln_ratio = (
        F.floor(
            F.log(F.lit(float(m)) / (F.lit(m) - F.col("_n_occ"))) * 1e9 + F.lit(0.5)
        )
        / F.lit(1e9)
    )
    corrected = F.when(
        (raw_e <= F.lit(2.5 * m)) & (F.col("n_empty_registers") > 0),
        F.lit(float(m)) * ln_ratio,
    ).otherwise(raw_e)
    return joined.select(
        "true_distinct",
        round_det(corrected, 6).alias("hll_estimate"),
        round_det(
            (corrected - F.col("true_distinct")) / F.col("true_distinct"), 6
        ).alias("rel_error"),
        F.col("_n_occ").alias("n_occupied_registers"),
        "n_empty_registers",
    )


def q_bloom_fpr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive-rate audit, completing the
    deterministic sketch tier (Count-Min, HLL, Bloom — all md5-derived
    pure functions of the data, all VALUE-graded): the ordering
    customers build an m=65536-bit / k=4 Bloom set; 2000 synthetic
    NON-member keys (max custkey + 1..2000 — guaranteed absent) probe
    it, and a probe is a false positive iff ALL four of its bits are
    set. The measured FP count is exact on both engines; the
    theoretical rate (1 − e^{−kn/m})^k rides the nano-grid exp and the
    same fixed multiply tree, so the comparison the operator exists
    for — measured vs theory — is itself graded.

    Scale shape: the bit set is ≤ m distinct integers regardless of
    member count (constant sketch size); membership is an equi-join of
    (probe, j, bit) against it — at production scale the bitset side
    broadcasts. No driver-side state beyond the max-key scalar."""
    m_bits, k_hashes, n_probes = 65536, 4, 2000
    orders = load_table(spark, sf_dir, "orders")
    members = orders.select(F.col("o_custkey").cast("long").alias("key")).distinct()
    jarr = F.explode(F.array(*[F.lit(i) for i in range(k_hashes)])).alias("j")

    def bloom_bit(key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("j"), key_col.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        )

    bits = (
        members.select("key", jarr)
        .select(bloom_bit(F.col("key")).alias("bit"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    maxk = F.broadcast(members.agg(F.max("key").alias("_maxk")))
    probes = (
        spark.range(1, n_probes + 1)
        .crossJoin(maxk)
        .select((F.col("id") + F.col("_maxk")).alias("key"))
    )
    probe_hits = (
        probes.select("key", jarr)
        .select("key", bloom_bit(F.col("key")).alias("bit"))
        .join(bits, "bit")
        .groupBy("key")
        .agg(F.count("*").alias("_n_set"))
        .filter(F.col("_n_set") == k_hashes)
    )
    n_fp = F.broadcast(probe_hits.agg(F.count("*").cast("long").alias("n_false_positives")))
    n_mem = F.broadcast(members.agg(F.count("*").cast("long").alias("n_members")))
    n_bits_set = F.broadcast(bits.agg(F.count("*").cast("long").alias("n_bits_set")))
    e9 = (
        F.floor(
            F.exp(
                F.lit(-float(k_hashes)) * F.col("n_members") / F.lit(float(m_bits))
            )
            * 1e9
            + F.lit(0.5)
        )
        / F.lit(1e9)
    )
    t = F.lit(1.0) - e9
    theory = t * t * t * t
    return (
        n_mem.crossJoin(n_bits_set)
        .crossJoin(n_fp)
        .select(
            "n_members",
            "n_bits_set",
            F.lit(n_probes).cast("long").alias("n_probes"),
            "n_false_positives",
            round_det(F.col("n_false_positives") / F.lit(float(n_probes)), 6).alias(
                "measured_fp_rate"
            ),
            round_det(theory, 6).alias("theoretical_fp_rate"),
        )
    )


def q_t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    leg of the privacy tier after q_k_anonymity_report and
    q_l_diversity_report: per ``source`` quasi-class, the Earth-Mover's
    Distance between the class's distribution of the ORDINAL sensitive
    attribute (document length band: least(floor(n_chars/64), 9), a
    fixed 10-band grid) and the corpus-wide distribution, plus the
    t = 0.2 violation flag.

    For an ordinal attribute with unit ground distance, 1-D EMD has the
    closed form Σ_j |cum_p_j − cum_q_j| / (m−1) — and with integer
    counts every cumulative difference is the EXACT integer
    cum_a_j·G − cum_g_j·A (A = class size, G = corpus size), so the
    whole audit is integer arithmetic (decimal(38,0)/HUGEINT — no
    overflow at any scale) until one fixed final division. The
    violation flag never touches floats at all:
    5·Σ|D_j| > 9·A·G ⟺ EMD > 1/5, decided by integer
    cross-multiplication. The band grid is FIXED (10 bands, m−1 = 9)
    so both engines sum the same m terms even when top bands are empty
    at small scale.

    Scale: two narrow aggregates (class×band, band), a broadcast
    10-row band spine, per-class cumulative windows over exactly 10
    rows — no data-sized window, no all-pairs anything."""
    docs = load_table(spark, sf_dir, "documents")
    banded = docs.select(
        "source",
        F.least(F.floor(F.col("n_chars") / 64), F.lit(9)).cast("long").alias("band"),
    )
    bands = spark.range(10).select(F.col("id").cast("long").alias("band"))
    srcs = banded.select("source").distinct()
    cls = banded.groupBy("source", "band").agg(F.count("*").cast("long").alias("_a"))
    filled = (
        srcs.crossJoin(F.broadcast(bands))
        .join(cls, ["source", "band"], "left")
        .select(
            "source", "band", F.coalesce("_a", F.lit(0)).cast("long").alias("_a")
        )
    )
    glob = banded.groupBy("band").agg(F.count("*").cast("long").alias("_g"))
    gfilled = bands.join(glob, "band", "left").select(
        "band", F.coalesce("_g", F.lit(0)).cast("long").alias("_g")
    )
    w_cls = (
        Window.partitionBy("source")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = filled.withColumn("_cuma", F.sum("_a").over(w_cls))
    # r15 (VERDICT r14 item 7): the 10-row global band cumulative rides
    # a driver literal (collected_offsets) instead of a no-partition
    # window (SinglePartition exchange)
    gcum = F.broadcast(
        collected_offsets(gfilled, ["band"], [("_g", "_goff")]).withColumn(
            "_cumg", (F.col("_goff") + F.col("_g")).cast("long")
        )
    )
    tot = banded.groupBy("source").agg(
        F.count("*").cast("long").alias("class_size")
    )
    gtot = F.broadcast(banded.agg(F.count("*").cast("long").alias("_gt")))
    d = (
        cum.join(gcum, "band")
        .join(F.broadcast(tot), "source")
        .crossJoin(gtot)
        .select(
            "source",
            "class_size",
            "_gt",
            F.abs(
                F.col("_cuma").cast("decimal(38,0)") * F.col("_gt")
                - F.col("_cumg").cast("decimal(38,0)") * F.col("class_size")
            ).alias("_ad"),
        )
    )
    s = d.groupBy("source", "class_size", "_gt").agg(F.sum("_ad").alias("_sd"))
    return s.select(
        "source",
        "class_size",
        round_det(
            F.col("_sd").cast("double")
            / (F.col("class_size").cast("double") * F.col("_gt") * F.lit(9.0)),
            6,
        ).alias("emd"),
        F.when(
            F.col("_sd") * 5
            > F.col("class_size").cast("decimal(38,0)") * F.col("_gt") * 9,
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("violates_t02"),
    )


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token 5-gram, slide
    a window of 4 consecutive gram hashes, keep each window's MINIMUM
    hash as a fingerprint, and report the top-25 fingerprints shared
    by the most documents — the guaranteed-coverage local sampling
    scheme for substring-level copy detection (round 10).

    Exactness: gram hashes are the 60-bit md5 device
    (dedup.md5_token_hash — engine-portable, unlike xxhash64); the
    window minimum, the per-doc distinct, and the doc counts are pure
    integer/set operations; the top-25 cut orders by
    (n_docs DESC, fingerprint ASC) — a total order.

    Scale: tokenize+shingle is one narrow pass; the sliding window
    partitions BY DOCUMENT ordered by position (per-doc sequential
    work, bounded by doc length — never a global sort); the
    fingerprint count is one uniform-key aggregate; the top-25 is a
    TakeOrdered."""
    from kickstarter_etl_pipeline_spark.operators.dedup import md5_token_hash
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    docs = load_table(spark, sf_dir, "documents")
    staged = ensure_min_partitions(docs).withColumn("_toks", TX.tokens("text"))
    # k=5 token grams; windows of w=4 gram hashes need >= k+w-1 = 8 tokens
    grams = (
        staged.filter(F.size("_toks") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_toks) - 4), "
                    "i -> named_struct('i', i, 'g', array_join(slice(_toks, i, 5), ' ')))"
                )
            ).alias("_s"),
        )
        .select("doc_id", F.col("_s.i").alias("_i"), md5_token_hash(F.col("_s.g")).alias("_h"))
    )
    w4 = Window.partitionBy("doc_id").orderBy("_i").rowsBetween(0, 3)
    wins = grams.select(
        "doc_id",
        F.min("_h").over(w4).alias("_fp"),
        F.count("*").over(w4).alias("_cnt"),
    ).filter(F.col("_cnt") == 4)
    fps = wins.select("doc_id", "_fp").distinct()
    return (
        fps.groupBy(F.col("_fp").alias("fingerprint"))
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("fingerprint"))
        .limit(25)
    )
