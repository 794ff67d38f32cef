"""Corpus-curation query wrappers (quota/sampling/splits, text quality, dedup-adjacent text ops). Moved verbatim from queries.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.operators import events as EV
from kickstarter_etl_pipeline_spark.operators import text as TX
from kickstarter_etl_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from kickstarter_etl_pipeline_spark.operators.dims import build_dim_date
from kickstarter_etl_pipeline_spark.operators.multimodal import documents_as_media, extract_features
from kickstarter_etl_pipeline_spark.operators.partitioning import materialize
from kickstarter_etl_pipeline_spark.operators.ranking import (
    collected_offsets,
    grouped_two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.operators.similarity import brute_force_topk, lsh_topk
from kickstarter_etl_pipeline_spark.operators.transform import fractional_days
from kickstarter_etl_pipeline_spark.plans.star import (
    tpch_dim_category,
    tpch_dim_state,
    tpch_fact,
    tpch_star,
)
from kickstarter_etl_pipeline_spark.session import ensure_runtime_confs
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.streaming.events_stream import streaming_tumbling_counts



def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota: keep (up to) 5 docs per source, chosen
    by md5-hash order with doc_id tie-break — the deterministic
    cap-per-domain dedup-adjacent op (windows over millions of small
    source groups spread evenly; no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 5)
        .select("doc_id", "source", "sample_rank")
    )


def q_length_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel report: documents (and char volume) surviving each
    stage of a progressively stricter quality gate — the standard
    what-did-each-filter-cost accounting for a corpus-cleaning pipeline.
    Four aggregates over one cached scan, unioned."""
    docs = load_table(spark, sf_dir, "documents")
    stages = [
        ("all_documents", F.lit(True)),
        ("min_100_chars", F.col("n_chars") >= 100),
        ("latin_lang", (F.col("n_chars") >= 100) & F.col("lang").isin("en", "de", "es", "fr")),
        (
            "max_500_chars",
            (F.col("n_chars") >= 100)
            & F.col("lang").isin("en", "de", "es", "fr")
            & (F.col("n_chars") <= 500),
        ),
    ]
    parts = [
        docs.filter(cond).agg(
            F.lit(i).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage_name"),
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("chars_sum"),
        )
        for i, (name, cond) in enumerate(stages)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def q_domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report: per (source, lang) document counts,
    char volume, and share of the corpus — the table you read before
    choosing sampling weights. The grand total rides a broadcast scalar;
    the share is one IEEE expression from exact integer counts."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )
    total = docs.agg(F.count("*").alias("_total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "chars_sum",
        round_det(F.col("n_docs") * 100.0 / F.col("_total"), 6).alias("doc_share_pct"),
    )


def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-way corpus split (~80/10/10 by the last two md5
    hex digits of doc_id, compared lexicographically — 'cc' = 204/256,
    'e6' = 230/256) — the reproducible train/val/test assignment: same
    rows per split on every engine, run, and cluster size, no RNG.
    Emitted per-doc so the driver hash proves both the assignment AND
    the disjoint-cover property (every doc appears exactly once)."""
    docs = load_table(spark, sf_dir, "documents")
    tail2 = F.substring(F.md5(F.col("doc_id").cast("string")), 31, 2)
    split = (
        F.when(tail2 < "cc", F.lit("train"))
        .when(tail2 < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", "source", split.alias("split"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source rates (50% for the
    src0-src4 strata, 25% elsewhere) carved by the last md5 hex digit of
    the key — the reproducible way to rebalance source mix in a training
    corpus (same rows on every engine/run/cluster size; the predicate is
    a scan-level filter, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1)
    hot = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    keep = (hot & digit.isin(*"01234567")) | (~hot & digit.isin(*"0123"))
    return docs.filter(keep).select("doc_id", "source", "n_chars")


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling: ~1/4 of orders selected by the last
    hex digit of md5(key) — reproducible across engines/runs/cluster
    sizes, unlike RNG-based sample(). The 100 TB way to carve stable
    eval/holdout splits without a shuffle (the predicate pushes to the
    scan)."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(F.md5(F.col("o_orderkey").cast("string")), 32, 1)
    return orders.filter(digit.isin("0", "1", "2", "3")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing verbatim word
    5-grams with the benchmark stratum (every 10th doc stands in for the
    eval set), with shared-shingle and benchmark-doc counts. The
    left-anti complement of this result is the decontaminated corpus."""
    from kickstarter_etl_pipeline_spark.operators.dedup import benchmark_overlap

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return benchmark_overlap(corpus, bench)


def q_coverage_selection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage selection of 8 documents by marginal
    vocabulary gain (the Nemhauser (1−1/e) submodular greedy — the
    coreset / demonstration-set selection pass of a curation pipeline,
    next to DSIR's importance weights and the source quotas). Each
    step's pick, its marginal gain, and the running covered-vocabulary
    total are exact integers; ties break on smallest doc id, so the
    whole trajectory is deterministic and graded cell-exact."""
    from kickstarter_etl_pipeline_spark.operators.corpus import greedy_max_coverage

    docs = load_table(spark, sf_dir, "documents")
    return greedy_max_coverage(docs)


def q_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by occurrence count (token
    tie-break, so the LIMIT boundary is deterministic) with document
    frequency riding along — the tokenizer-training input table."""
    from kickstarter_etl_pipeline_spark.operators.text import token_frequency

    docs = load_table(spark, sf_dir, "documents")
    return (
        token_frequency(docs)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(100)
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF·IDF (linear rarity weight N/df —
    engine-deterministic; see operators.text.tfidf_top_terms)."""
    from kickstarter_etl_pipeline_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    most-frequent-token share and 1 − unique/total token ratio."""
    from kickstarter_etl_pipeline_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: language filter → quality filter →
    exact dedup → clean corpus manifest. The end-to-end shape a 100 TB
    pretraining-data job runs; each stage is one of the engine's
    operators chained lazily into a single plan."""
    docs = load_table(spark, sf_dir, "documents")
    with_lang = TX.with_lang_id(docs)
    quality = TX.quality_score()
    filtered = with_lang.filter(F.col("lang_pred") == "en").withColumn(
        "quality", quality
    ).filter(F.col("quality") >= 0.5)
    from kickstarter_etl_pipeline_spark.operators.dedup import drop_exact_dupes

    clean = drop_exact_dupes(filtered)
    return clean.select("doc_id", "lang", "quality", F.col("n_chars").alias("n_chars"))


def _salted_pii_text() -> F.Column:
    """Deterministic synthetic PII appended to each document (the corpus
    is word-soup with no natural PII, so the scrub patterns would match
    nothing): an email and a URL derived from (doc_id, source), plus a
    phone number on even doc_ids so the counts vary per document. The
    oracle performs the identical injection in SQL."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did,
        F.lit("@mail-"),
        F.col("source"),
        F.lit(".com or https://"),
        F.col("source"),
        F.lit(".example.org/d/"),
        did,
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(" tel 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the documents corpus (URL → email → phone,
    staged counts) — verified down to the md5 of every scrubbed
    document, so a single missed or extra redaction anywhere flips the
    hash. See operators.text.pii_scrub."""
    from kickstarter_etl_pipeline_spark.operators.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.select("doc_id", _salted_pii_text().alias("text"))
    return pii_scrub(salted)


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit metric: per-document out-of-vocabulary rate against
    the corpus's own top-100 vocabulary (count-then-token tie-break, the
    same deterministic boundary as token_frequency)."""
    from kickstarter_etl_pipeline_spark.operators.text import oov_rate, token_frequency

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        token_frequency(docs)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(100)
        .select("token")
    )
    return oov_rate(docs, vocab)


def q_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality filter: mean unigram surprisal + perplexity
    proxy per document under the corpus's own unigram LM. ln/exp are
    snapped to fixed grids (integer nano-nats per token, 6-dp mean,
    2-dp ppl — see text.unigram_surprisal) so the query carries a FULL
    DuckDB oracle despite the transcendentals."""
    from kickstarter_etl_pipeline_spark.operators.text import unigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return unigram_surprisal(docs)


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (letter runs / digit runs /
    single punctuation) next to whitespace tokens — the pretraining
    token-budget estimator, pure JVM regex, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    pattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    return docs.select(
        "doc_id",
        F.size(TX.tokens()).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(pattern), F.lit(0))).cast("long").alias(
            "n_bpeish_tokens"
        ),
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.fingerprint_md5().alias("fingerprint"),
        TX.rolling_hash("text").alias("rolling_hash"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.with_lang_id(docs).select("doc_id", "lang", "lang_pred")


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score().alias("quality"))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.with_text_stats(load_table(spark, sf_dir, "documents"))


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability (Flesch reading ease on the classic
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) scale) —
    the curriculum/difficulty signal an LM-data pipeline bins training
    text by. Proxies chosen for engine parity: sentences = runs of
    [.!?] (min 1 so fragments count as one sentence), syllables =
    [aeiouy]+ vowel groups of the lowercased text — both RE2/Java-safe
    character classes (the bpe_token_counts discipline). n_words ≥ 1 by
    the tokenizer's contract (empty text → one empty token), sentence
    count is floored at 1, so no division can hit zero; the score is
    one fixed IEEE tree over exact integer counts, 4-dp grid. Pure
    Column expressions, one pass, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(TX.tokens()).cast("long")
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    n_syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
    ).cast("long")
    w_per_s = n_words.cast("double") / n_sentences.cast("double")
    syl_per_w = n_syllables.cast("double") / n_words.cast("double")
    flesch = F.lit(206.835) - F.lit(1.015) * w_per_s - F.lit(84.6) * syl_per_w
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
        round_det(flesch, 4).alias("flesch_score"),
    )


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification tier over set-similarity candidates:
    word-3-gram Jaccard >= 0.5 prunes the pair space (never all-pairs),
    then exact levenshtein runs only on candidates — the same
    candidates-then-verify shape as MinHash→Jaccard, one tier stricter."""
    docs = load_table(spark, sf_dir, "documents")
    cands = ngram_jaccard_pairs(docs, threshold=0.5)
    texts = docs.select("doc_id", "text")
    paired = (
        cands.join(texts.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta")), "id_a")
        .join(texts.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb")), "id_b")
    )
    lev = F.levenshtein("_ta", "_tb")
    max_len = F.greatest(F.length("_ta"), F.length("_tb"))
    return paired.select(
        "id_a",
        "id_b",
        "jaccard",
        lev.cast("long").alias("edit_distance"),
        round_det(1 - lev / max_len, 6).alias("edit_similarity"),
    )


def q_char_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram Jaccard near-dup pairs (tokenization-free)."""
    from kickstarter_etl_pipeline_spark.operators.dedup import char_jaccard_pairs

    return char_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram containment pairs (overlap coefficient ≥ 0.6, both
    directed Broder containments emitted) — catches quote/excerpt
    subset duplication that Jaccard under-scores."""
    from kickstarter_etl_pipeline_spark.operators.dedup import containment_pairs

    return containment_pairs(load_table(spark, sf_dir, "documents"), threshold=0.6)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: md5-anchor cells, drop any
    vector within 0.9 rounded-cosine of a lower-id cell-mate."""
    from kickstarter_etl_pipeline_spark.operators.similarity import semantic_dedup

    return semantic_dedup(load_table(spark, sf_dir, "embeddings"), threshold=0.9, n_cells=16)


def q_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token collocations with engine-deterministic lift."""
    from kickstarter_etl_pipeline_spark.operators.text import bigram_collocations

    return bigram_collocations(load_table(spark, sf_dir, "documents"))


def q_seq_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram for packing planning: docs bucketed by
    token count (width 32), with each bucket's token share and the
    cumulative share in bucket order — the "how much padding would
    max_len=N waste" planning table that pairs with pack_sequences.

    Integer bucket math (n − n % 32); shares are round_det divisions of
    exact longs. The cumulative window runs over the BUCKET table
    (≤ a few hundred rows at any corpus size), not the corpus — fine on
    a single reducer.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.size(TX.tokens()).cast("long").alias("_n"))
    buckets = (
        t.withColumn("bucket_start", (F.col("_n") - F.col("_n") % 32))
        .groupBy("bucket_start")
        .agg(F.count("*").cast("long").alias("n_docs"), F.sum("_n").cast("long").alias("n_tokens"))
    )
    # r15 (VERDICT r14 item 7): the bucket table is control data
    # (≤ a few hundred length buckets at any corpus size) — its prefix
    # sum rides a driver literal (collected_offsets) instead of a
    # no-partition window (SinglePartition exchange)
    off = collected_offsets(buckets, ["bucket_start"], [("n_tokens", "_coff")])
    total = F.broadcast(off.agg(F.sum("n_tokens").alias("_tot")))
    return (
        off.crossJoin(total)
        .withColumn("token_share", round_det(F.col("n_tokens") / F.col("_tot"), 6))
        .withColumn(
            "cum_token_share",
            round_det((F.col("_coff") + F.col("n_tokens")) / F.col("_tot"), 6),
        )
        .select("bucket_start", "n_docs", "n_tokens", "token_share", "cum_token_share")
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index build: per-token posting list (doc_id:tf pairs in
    doc order) + document frequency + collection frequency — the
    classic IR inverted-index construction as one explode + two
    aggregations. The posting list is emitted as a canonical STRING
    ("doc:tf,doc:tf,...") so the cross-engine hash compare is exact
    (array cells stringify differently across engines).

    Scale posture: one shuffle keyed by token for the per-(token, doc)
    tf counts, one keyed by token for the postings roll-up; postings
    of giant stopword-like tokens are the skew risk — production
    engines split posting lists into blocks, which here would be a
    secondary bucket key on floor(doc_id / block)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(TX.tokens()).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    return (
        tf.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("doc_freq"),
            F.sum("tf").cast("long").alias("coll_freq"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                    lambda s: F.concat_ws(":", s.doc_id.cast("string"), s.tf.cast("string")),
                ),
                ",",
            ).alias("postings"),
        )
    )


def q_source_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication report: for every source pair, the
    number of shared word-3-gram shingles and the Jaccard overlap of
    the two sources' shingle sets — the corpus-level "how much does
    source A overlap source B" table that drives source de-weighting
    and contamination triage (same shingle definition as the document
    dedup tier, aggregated to source granularity).

    Distinct (source, shingle) pairs are bounded by vocabulary³, far
    below corpus size; the pair join is keyed by shingle — uniform."""
    from kickstarter_etl_pipeline_spark.operators.dedup import with_shingles
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    docs = load_table(spark, sf_dir, "documents")
    # Materialized: the sizes and both sides of the self-join read it.
    fp = materialize(
        with_shingles(ensure_min_partitions(docs), 3)
        .select("source", F.explode("_sh").alias("fp"))
        .distinct()
    )
    sizes = fp.groupBy("source").agg(F.count("*").cast("long").alias("_n"))
    a = fp.select(F.col("source").alias("source_a"), "fp")
    b = fp.select(F.col("source").alias("source_b"), "fp")
    shared = (
        a.join(b, on="fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("_n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("_n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_shared",
            round_det(
                F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 6
            ).alias("jaccard"),
        )
    )


def q_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 skip-gram (center, context) co-occurrence counts with a
    +/-2 window — the word2vec/GloVe training-pair table."""
    from kickstarter_etl_pipeline_spark.operators.text import skipgram_cooccurrence

    return skipgram_cooccurrence(load_table(spark, sf_dir, "documents"))


def q_curation_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation capstone: one keep/drop decision per document
    with the FIRST failing rule as the reason — the composed pipeline a
    curation run actually executes (char-length gate → repetition gate →
    quality gate), built from the already-oracle'd feature operators.

    Every threshold compares a 6-dp round_det'd ratio, so the rule
    boundaries are engine-stable; the oracle composes the same verified
    CTE bodies and the same CASE cascade.
    """
    from kickstarter_etl_pipeline_spark.operators.text import quality_score, repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    reps = repetition_stats(docs).select("doc_id", "top_token_ratio")
    staged = docs.select(
        "doc_id", "n_chars", quality_score().alias("quality")
    ).join(reps, "doc_id")
    decision = (
        F.when(F.col("n_chars") < 100, "too_short")
        .when(F.col("n_chars") > 10000, "too_long")
        .when(F.col("top_token_ratio") >= 0.2, "high_repetition")
        .when(F.col("quality") < 0.5, "low_quality")
        .otherwise("keep")
    )
    return staged.select(
        "doc_id",
        "n_chars",
        "quality",
        "top_token_ratio",
        decision.alias("decision"),
        (decision == "keep").cast("int").alias("is_kept"),
    )


def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    labeled lang column: (true, predicted) counts with row share — the
    eval table for the lang_id heuristic (systematically honest about
    where the shared synthetic vocabulary confuses it)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        TX.with_lang_id(docs)
        .groupBy(F.col("lang").alias("true_lang"), F.col("lang_pred").alias("pred_lang"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    row_tot = cells.groupBy("true_lang").agg(F.sum("n_docs").alias("_rt"))
    return (
        cells.join(F.broadcast(row_tot), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n_docs",
            round_det(F.col("n_docs") / F.col("_rt"), 6).alias("row_share"),
        )
    )


def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (source, lang) quasi-identifier pair:
    every equivalence class with its size, whether it violates k = 5,
    and the class's share of the corpus — the privacy-release gate that
    decides which cells must be suppressed or generalized before a
    dataset ships. One uniform aggregate + a one-row broadcast total;
    exact integers and one fixed division tree."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("class_size"))
    total = F.broadcast(docs.agg(F.count("*").cast("long").alias("_n")))
    return (
        cells.crossJoin(total)
        .select(
            "source",
            "lang",
            "class_size",
            (F.col("class_size") < 5).cast("int").alias("violates_k5"),
            round_det(F.col("class_size") / F.col("_n"), 6).alias("corpus_share"),
        )
    )


def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law table): distinct-token count
    after each decile of the corpus in doc_id order, with the decile's
    token volume — the how-fast-does-vocab-grow input to tokenizer
    sizing. Computed scale-safely: one pass records each token's FIRST
    document (min doc_id) and each doc's token count; the curve is then
    ten tiny threshold aggregates over those compact tables — never ten
    scans of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens()).alias("token"))
    first_doc = tok.groupBy("token").agg(F.min("doc_id").alias("_first"))
    doc_tokens = tok.groupBy("doc_id").agg(F.count("*").alias("_n"))
    max_id = F.broadcast(docs.agg(F.max("doc_id").alias("_max")))
    deciles = spark.range(1, 11).select((F.col("id") * 10).cast("int").alias("pct"))
    thresholds = deciles.crossJoin(max_id).select(
        "pct", F.floor(F.col("_max") * F.col("pct") / 100).alias("_thr")
    )

    # Round-7 rewrite (de-BNLJ): instead of a `value <= _thr` non-equi
    # LEFT join — whose LEFT-outer BroadcastNestedLoopJoin must
    # broadcast the DATA-sized right side and fans rows out ~5.5× —
    # assign each data row its FIRST covering decile arithmetically:
    #   pct_min(v) = smallest p in {10..100} with floor(max·p/100) >= v
    #             = 10 · ceil(ceil(100·v / max) / 10)      (v, max ints)
    # then aggregate ONCE per bucket (≤10 groups, map-side combine) and
    # take a cumulative sum over the 10-row threshold frame. O(N), one
    # uniform shuffle per side, no data-sized broadcast — survives a
    # billion-token vocabulary.
    def _bucket(val: F.Column) -> F.Column:
        # _max = 0 (single document with doc_id 0): every threshold is 0
        # and the doc belongs to every decile from 10% — the ceil-div
        # would divide by zero under ANSI (r7 self-review finding; the
        # replaced non-equi join handled 0 <= 0 naturally).
        c = F.floor(
            F.try_divide(F.lit(100) * val + F.col("_max") - 1, F.col("_max"))
        )
        return F.when(F.col("_max") == 0, F.lit(10)).otherwise(
            F.greatest(F.lit(10), (F.floor((c + 9) / 10) * 10))
        ).cast("int")

    vocab_b = (
        first_doc.crossJoin(max_id)
        .groupBy(_bucket(F.col("_first")).alias("pct"))
        .agg(F.count("*").cast("long").alias("_nv"))
    )
    volume_b = (
        doc_tokens.crossJoin(max_id)
        .groupBy(_bucket(F.col("doc_id")).alias("pct"))
        .agg(F.sum("_n").cast("long").alias("_nt"))
    )
    # r15 (VERDICT r14 item 7): the 10-row decile frame is control data
    # — its prefix sums ride a driver literal (collected_offsets)
    # instead of a no-partition window (SinglePartition exchange)
    joined = (
        thresholds.join(F.broadcast(vocab_b), "pct", "left")
        .join(F.broadcast(volume_b), "pct", "left")
        .select(
            "pct",
            F.coalesce(F.col("_nt"), F.lit(0)).cast("long").alias("_nt"),
            F.coalesce(F.col("_nv"), F.lit(0)).cast("long").alias("_nv"),
        )
    )
    off = collected_offsets(joined, ["pct"], [("_nt", "_ct"), ("_nv", "_cv")])
    return off.select(
        "pct",
        (F.col("_ct") + F.col("_nt")).cast("long").alias("n_tokens"),
        (F.col("_cv") + F.col("_nv")).cast("long").alias("vocab_size"),
    )


def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (nats) between the unigram
    token distributions of every source pair — the standard symmetric,
    bounded (≤ ln 2) distance behind corpus mixing / domain-shift
    dashboards, complementing the set-overlap view of
    q_source_overlap_report and the score-ECDF view of
    q_source_ks_drift.

    Exactness (the bm25 nano-nat device, extended): for a token shared
    by sources A and B, p/m = 2·c_a·N_b / (c_a·N_b + c_b·N_a) is a
    ratio of exact integers (decimal(38,0) / HUGEINT products — no
    silent long overflow at any scale); its ln snaps to the nano-nat
    grid BEFORE aggregation, so each pair's Σ c_a·ln9 is an exact
    integer sum (float summation order never exists). Tokens exclusive
    to one side contribute exactly p·ln 2 in total, folded in as
    (N_a − shared_mass)·LN2_9 with the hardcoded grid constant
    693147181 = floor(ln(2)·1e9 + 0.5) on BOTH engines. The only float
    stages are the per-token ln (grid-snapped) and one fixed final
    division tree.

    Scale: the pair join is keyed by token (uniform); totals ride a
    broadcast; output is source-pair cardinality (tiny). Per-token
    fan-out is (sources containing it choose 2) — bounded by the
    source taxonomy, which is small by construction."""
    LN2_9 = 693147181  # floor(ln(2)·1e9 + 0.5); same literal in the twin
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(TX.tokens()).alias("token"))
    counts = tok.groupBy("source", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    totals = tok.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = counts.select(
        F.col("source").alias("source_a"), "token", F.col("c").alias("ca")
    )
    b = counts.select(
        F.col("source").alias("source_b"), "token", F.col("c").alias("cb")
    )
    ta = F.broadcast(
        totals.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    )
    tb = F.broadcast(
        totals.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    )
    j = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(ta, "source_a")
        .join(tb, "source_b")
    )

    def dec(name: str):
        return F.col(name).cast("decimal(38,0)")

    den = (dec("ca") * F.col("nb") + dec("cb") * F.col("na")).cast("double")
    ra = (dec("ca") * F.col("nb") * 2).cast("double") / den
    rb = (dec("cb") * F.col("na") * 2).cast("double") / den
    lna9 = F.floor(F.log(ra) * 1e9 + F.lit(0.5)).cast("long")
    lnb9 = F.floor(F.log(rb) * 1e9 + F.lit(0.5)).cast("long")
    g = (
        j.select("source_a", "source_b", "ca", "cb", lna9.alias("_lna9"), lnb9.alias("_lnb9"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_shared_tokens"),
            F.sum(dec("ca") * F.col("_lna9")).alias("_sa"),
            F.sum(dec("cb") * F.col("_lnb9")).alias("_sb"),
            F.sum("ca").cast("long").alias("_ma"),
            F.sum("cb").cast("long").alias("_mb"),
        )
        .join(ta, "source_a")
        .join(tb, "source_b")
    )
    xa = (
        F.col("_sa") + (F.col("na") - F.col("_ma")).cast("decimal(38,0)") * F.lit(LN2_9)
    ).cast("double") / F.col("na").cast("double")
    xb = (
        F.col("_sb") + (F.col("nb") - F.col("_mb")).cast("decimal(38,0)") * F.lit(LN2_9)
    ).cast("double") / F.col("nb").cast("double")
    return g.select(
        "source_a",
        "source_b",
        "n_shared_tokens",
        round_det((xa + xb) * F.lit(0.5) / F.lit(1e9), 6).alias("jsd_nats"),
    )


def q_mutual_information_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mutual-information contribution (nats) between the
    source label and the 10-band document-length grid (the same band
    spine as q_t_closeness_report) — the standard categorical
    dependence measure behind feature-relevance screens; with the
    pairwise-JSD view this completes the corpus dependence dashboard
    (MI asks "does knowing the source tell you the length profile",
    JSD asks "how far apart are two sources' token distributions").

    Exactness (the js_divergence nano-nat device on a one-distribution
    contingency table): each cell's pointwise ratio p(s,b)/(p(s)p(b)) =
    (c·N)/(r·k) is a ratio of exact decimal(38,0)/HUGEINT products; its
    ln snaps to the nano-nat grid BEFORE the per-source aggregate, so
    Σ c·ln9 is an exact integer sum (no float summation order), and the
    only float stages are the per-cell ln (grid-snapped) and one fixed
    final division tree. The DOUBLE casts of the exact products are
    the same documented < 2^53 precision posture as the JSD twin.

    Scale: two uniform groupBy passes over (source, band) cells — the
    cell table is sources×10, control-sized; marginals and the grand
    total ride broadcasts. No data-sized exchange beyond the first
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "source",
        F.least(F.floor(F.col("n_chars") / 64), F.lit(9)).cast("long").alias("band"),
    ).agg(F.count("*").cast("long").alias("_c"))
    rs = cells.groupBy("source").agg(F.sum("_c").cast("long").alias("_r"))
    kb = F.broadcast(cells.groupBy("band").agg(F.sum("_c").cast("long").alias("_k")))
    tot = F.broadcast(cells.agg(F.sum("_c").cast("long").alias("_n")))

    def dec(name: str):
        return F.col(name).cast("decimal(38,0)")

    j = cells.join(F.broadcast(rs), "source").join(kb, "band").crossJoin(tot)
    ratio = (dec("_c") * F.col("_n")).cast("double") / (
        dec("_r") * F.col("_k")
    ).cast("double")
    ln9 = F.floor(F.log(ratio) * 1e9 + F.lit(0.5)).cast("long")
    g = (
        j.select("source", "_c", "_n", ln9.alias("_ln9"))
        .groupBy("source")
        .agg(
            F.sum(dec("_c") * F.col("_ln9")).alias("_s"),
            F.sum("_c").cast("long").alias("n_docs"),
            F.max("_n").alias("_n"),
        )
    )
    return g.select(
        "source",
        "n_docs",
        round_det(
            F.col("_s").cast("double") / F.col("_n") / F.lit(1e9), 6
        ).alias("mi_contrib_nats"),
    )


def q_bleu_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap scoring à la BLEU: every candidate document is
    scored against the n-gram inventory of a deterministic held-out
    "benchmark" slice (doc_id % 97 == 0) with clipped modified n-gram
    precisions (n = 1..4) and a brevity penalty — the GPT-3-style
    contamination scan, graded (a near-copy of a benchmark doc scores
    near 0 in log space; clean docs score very negative or NULL). The
    set-overlap sibling is `decontaminate_overlap`; this adds the
    multiplicity-aware, length-penalized composite.

    Exactness: clipped counts are exact integers (candidate count
    clipped by the benchmark's per-gram MAX count — standard BLEU
    clipping); each ln(matched_n/total_n) snaps to the nano-nat grid;
    the composite is carried in LOG space (exp would be the
    perplexity_proxy rows-only trap): log_bleu = Σln9/4/1e9 +
    min(0, 1 − R/(B·c)) — one fixed IEEE tree over exact integers,
    mirrored token for token in the twin. Any zero precision (every
    doc shorter than 4 tokens included) yields NULL, decided by
    integer comparisons on both engines.

    Scale: gram tables are uniform-keyed aggregates; the benchmark
    inventory joins by (n, gram) — hot grams exist but the benchmark
    side is one row per (n, gram) (a max-reduction), so the join is
    bounded fan-out, not a pair blow-up; R and B ride one-row
    broadcasts."""
    # Materialized: the gram table of every n-gram order reads it.
    docs = materialize(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", TX.tokens().alias("_tk"))
    )

    def grams(n: int):
        if n == 1:
            return F.col("_tk")
        g = F.transform(
            F.sequence(F.lit(1), F.size("_tk") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("_tk"), i + j) for j in range(n)]
            ),
        )
        empty = F.expr("CAST(array() AS ARRAY<STRING>)")
        return F.when(F.size("_tk") >= n, g).otherwise(empty)

    parts = None
    for n in (1, 2, 3, 4):
        p = docs.select(
            "doc_id", F.lit(n).alias("_n"), F.explode(grams(n)).alias("_g")
        )
        parts = p if parts is None else parts.unionByName(p)
    is_bench = F.col("doc_id") % 97 == 0
    bcounts = (
        parts.filter(is_bench)
        .groupBy("_n", "_g", "doc_id")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    refmax = bcounts.groupBy("_n", "_g").agg(F.max("_c").alias("_mx"))
    ccounts = (
        parts.filter(~is_bench)
        .groupBy("doc_id", "_n", "_g")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    clip = ccounts.join(refmax, ["_n", "_g"], "left").select(
        "doc_id",
        "_n",
        "_c",
        F.least(F.col("_c"), F.coalesce("_mx", F.lit(0))).alias("_cl"),
    )
    per = clip.groupBy("doc_id", "_n").agg(
        F.sum("_c").cast("long").alias("_tot"),
        F.sum("_cl").cast("long").alias("_mat"),
    )
    wide = per.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("_n") == n, F.col("_tot"))).alias(f"t{n}")
            for n in (1, 2, 3, 4)
        ],
        *[
            F.max(F.when(F.col("_n") == n, F.col("_mat"))).alias(f"m{n}")
            for n in (1, 2, 3, 4)
        ],
    )
    bscal = F.broadcast(
        load_table(spark, sf_dir, "documents")
        .filter(is_bench)
        .agg(F.count("*").cast("long").alias("_bdocs"))
    )
    rscal = F.broadcast(
        parts.filter(is_bench & (F.col("_n") == 1))
        .agg(F.count("*").cast("long").alias("_rtot"))
    )
    j = wide.crossJoin(bscal).crossJoin(rscal)

    def ln9(m: str, t: str):
        return F.floor(
            F.log(F.col(m) / F.col(t)) * 1e9 + F.lit(0.5)
        ).cast("long")

    all_pos = (
        (F.coalesce("m1", F.lit(0)) > 0)
        & (F.coalesce("m2", F.lit(0)) > 0)
        & (F.coalesce("m3", F.lit(0)) > 0)
        & (F.coalesce("m4", F.lit(0)) > 0)
    )
    s9 = ln9("m1", "t1") + ln9("m2", "t2") + ln9("m3", "t3") + ln9("m4", "t4")
    bp = F.least(
        F.lit(0.0), F.lit(1.0) - F.col("_rtot") / (F.col("_bdocs") * F.col("t1"))
    )
    log_bleu = F.floor(
        (s9 / F.lit(4.0) / F.lit(1e9) + bp) * 1e6 + F.lit(0.5)
    ) / F.lit(1e6)
    return j.select(
        "doc_id",
        F.col("t1").alias("n_tokens"),
        "m1",
        "m2",
        "m3",
        "m4",
        F.when(all_pos, log_bleu).alias("log_bleu"),
    )


def q_phrase_search_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search through a POSITIONAL inverted index — the IR
    primitive BM25/TF rankers can't express (they see bags, not
    adjacency): postings are (token, doc, position); a 3-token phrase
    match is a 3-way self-join on (doc, pos), (doc, pos+1), (doc, pos+2).
    The query phrase is data-derived deterministically (the corpus's
    most frequent 3-gram, ties by gram text) so both engines search for
    the same phrase with no parameter channel.

    Scale: postings build is one explode; the phrase tokens ride a
    one-row broadcast, so each leg of the positional join is a
    broadcast-filtered scan joined on (doc, pos) — uniform keys, and
    each leg is pre-shrunk to a single token's postings list (the
    inverted-index access path, not a corpus scan per leg after
    pushdown). Pure integer counting end to end."""
    # Materialized: the gram count and the postings scan both read it.
    docs = materialize(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", TX.tokens().alias("_tk"))
    )
    g3 = F.transform(
        F.sequence(F.lit(1), F.size("_tk") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("_tk"), i),
            F.element_at(F.col("_tk"), i + 1),
            F.element_at(F.col("_tk"), i + 2),
        ),
    )
    grams = docs.filter(F.size("_tk") >= 3).select(F.explode(g3).alias("_g"))
    top = (
        grams.groupBy("_g")
        .agg(F.count("*").cast("long").alias("_c"))
        .orderBy(F.desc("_c"), F.asc("_g"))
        .limit(1)
        .select(
            F.col("_g").alias("phrase"),
            F.element_at(F.split("_g", " "), 1).alias("_w1"),
            F.element_at(F.split("_g", " "), 2).alias("_w2"),
            F.element_at(F.split("_g", " "), 3).alias("_w3"),
        )
    )
    post = docs.select("doc_id", F.posexplode("_tk").alias("_pos", "_tok"))
    t = F.broadcast(top)
    p1 = post.crossJoin(t).filter(F.col("_tok") == F.col("_w1")).select(
        "doc_id", "_pos", "phrase", "_w2", "_w3"
    )
    p2 = post.select(
        F.col("doc_id").alias("_d2"),
        F.col("_pos").alias("_pos2"),
        F.col("_tok").alias("_tok2"),
    )
    p3 = post.select(
        F.col("doc_id").alias("_d3"),
        F.col("_pos").alias("_pos3"),
        F.col("_tok").alias("_tok3"),
    )
    hits = (
        p1.join(
            p2,
            (F.col("doc_id") == F.col("_d2"))
            & (F.col("_pos2") == F.col("_pos") + 1)
            & (F.col("_tok2") == F.col("_w2")),
        )
        .join(
            p3,
            (F.col("doc_id") == F.col("_d3"))
            & (F.col("_pos3") == F.col("_pos") + 2)
            & (F.col("_tok3") == F.col("_w3")),
        )
    )
    return hits.groupBy("doc_id", "phrase").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )


def q_cohens_kappa_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ agreement between two deterministic document-quality
    raters — the inter-annotator-agreement statistic a labeling
    pipeline reports before trusting a quality signal (round 10).
    Rater A: length-based (n_chars ≥ 300). Rater B: verbosity-based
    (space-split token count ≥ 50). κ = (p_o − p_e) / (1 − p_e) with
    p_o and p_e as single divisions of exact integer cell counts
    (p_e's numerator is the integer sum of marginal products), so the
    whole statistic is one fixed IEEE tree, snapped to 6 dp.

    Scale: one scan, one map-side-combined global aggregate — the
    split-size token count stays JVM-side (no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    flags = docs.select(
        (F.col("n_chars") >= 300).cast("long").alias("_a"),
        (F.size(F.split(F.col("text"), " ", -1)) >= 50).cast("long").alias("_b"),
    )
    agg = flags.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("_a") * F.col("_b"))).cast("long").alias("n_both"),
        F.sum((F.col("_a") * (1 - F.col("_b")))).cast("long").alias("n_a_only"),
        F.sum(((1 - F.col("_a")) * F.col("_b"))).cast("long").alias("n_b_only"),
        F.sum(((1 - F.col("_a")) * (1 - F.col("_b")))).cast("long").alias("n_neither"),
    )
    po = (F.col("n_both") + F.col("n_neither")).cast("double") / F.col("n_docs").cast("double")
    pe_num = (
        (F.col("n_both") + F.col("n_a_only")) * (F.col("n_both") + F.col("n_b_only"))
        + (F.col("n_b_only") + F.col("n_neither")) * (F.col("n_a_only") + F.col("n_neither"))
    ).cast("double")
    pe = pe_num / (F.col("n_docs") * F.col("n_docs")).cast("double")
    kappa = (po - pe) / (F.lit(1.0) - pe)
    return agg.select(
        "n_docs",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        round_det(po, 6).alias("observed_agreement"),
        round_det(pe, 6).alias("expected_agreement"),
        round_det(kappa, 6).alias("kappa"),
    )


def q_token_length_quartiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token-length quartiles under the NEAREST-RANK
    convention — the distributional upgrade of seq_length_histogram's
    fixed-width buckets, and the per-source view every mixing/packing
    decision starts from (sources with long tails pack differently
    than uniform ones) (round 11).

    Exactness: token counts are exact longs over the shared whitespace
    tokenizer; nearest-rank picks (rank == ceil(q·n) in the
    (n_tokens, doc_id) total order) are MEMBERS of the data, so the
    result is engine-deterministic with no interpolation grid.

    Scale: source is enumeration-bounded (~dozens) with corpus-sized
    groups — exactly the grouped_two_phase_rank contract (a per-source
    rank window would funnel each source through ONE task; the
    composite-key range exchange splits every source across
    partitions); the final rollup has one row per source."""
    from kickstarter_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens()).cast("long").alias("_nt")
    )
    ranked = grouped_two_phase_rank(
        docs, ["source"], ["_nt", "doc_id"], n_col="_n"
    ).withColumnRenamed("rank_in_group", "_rn")
    picks = [("p25_tokens", 0.25), ("p50_tokens", 0.50), ("p75_tokens", 0.75)]
    conds = [
        F.max(
            F.when(F.col("_rn") == F.ceil(F.lit(q) * F.col("_n")), F.col("_nt"))
        )
        .cast("long")
        .alias(name)
        for name, q in picks
    ]
    return (
        ranked.groupBy("source")
        .agg(F.max("_n").alias("n_docs"), *conds)
        .select(
            "source",
            "n_docs",
            "p25_tokens",
            "p50_tokens",
            "p75_tokens",
            (F.col("p75_tokens") - F.col("p25_tokens")).cast("long").alias("iqr_tokens"),
        )
    )


def q_pretraining_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation capstone, graded as ONE unit: language
    filter → quality filter → exact dedup (the clean_corpus chain,
    verbatim) → stable md5 shard assignment (the shard_balance device,
    8 shards) → per-shard manifest (docs, token volume, mean quality).
    This is the shape a 100 TB pretraining job actually ships — each
    stage is an existing graded operator, composed lazily into a
    single plan, and the composition itself is hash-graded.

    Exactness: quality already lives on the 1e-6 grid (clean_corpus
    contract), so the per-shard mean rides exact micro-integers with
    ONE final division; token counts are exact lengths.

    Scale: the chain is filters + one dedup aggregate + one 8-group
    rollup — nothing beyond the components' own postures."""
    from kickstarter_etl_pipeline_spark.operators import text as TX
    from kickstarter_etl_pipeline_spark.operators.dedup import drop_exact_dupes
    from kickstarter_etl_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    with_lang = TX.with_lang_id(docs)
    filtered = (
        with_lang.filter(F.col("lang_pred") == "en")
        .withColumn("quality", TX.quality_score())
        .filter(F.col("quality") >= 0.5)
    )
    clean = drop_exact_dupes(filtered)
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 8
    )
    staged = clean.select(
        shard.alias("shard"),
        F.size(tokens()).cast("long").alias("_nt"),
        F.floor(F.col("quality") * 1e6 + F.lit(0.5)).cast("long").alias("_q6"),
    )
    return (
        staged.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("total_tokens"),
            F.sum("_q6").cast("long").alias("_sq"),
        )
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            round_det(
                F.col("_sq").cast("double")
                / F.col("n_docs").cast("double")
                / F.lit(1e6),
                6,
            ).alias("mean_quality"),
        )
    )


def q_curation_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second end-to-end curation capstone, graded as ONE unit:
    language filter → quality gate → exact dedup (the clean_corpus
    chain, verbatim) → benchmark DECONTAMINATION (drop every cleaned
    doc sharing a word 5-gram with the eval stratum — the
    decontaminate_overlap construction, composed as its documented
    left-anti complement) → concat-and-split sequence PACKING
    (pack_sequences, 128-token windows per source) → per-source
    ship manifest with sqrt-TEMPERATURE sampling weights (the
    source_mixing_weights device). Where pretraining_manifest grades
    the clean→shard half of a training-data pipeline, this grades the
    decontaminate→mix→pack half — together they cover the whole
    curation path a 100 TB pretraining job ships.

    Per source: docs packed, docs removed as contaminated, exact token
    volume, 128-token window count, boundary-spanning doc count, and
    the sqrt-damped sampling share (one IEEE sqrt + one division,
    snapped to 6 dp — the source_mixing_weights contract).

    Scale: filters + one dedup aggregate + one shingle-keyed
    decontamination join (shuffle keyed by shingle text, never
    doc×doc) + one per-source packing window + a ~20-group rollup
    with a broadcast one-row total. The cleaned corpus is materialized
    ONCE: three consumers read it (shingles, survivors, removed)
    and without the barrier each re-executed the whole lang→quality→
    dedup chain (measured 9.0 → 5.3 s at sf0.1; at 100 TB a real job
    persists the cleaned corpus to storage at exactly this point).
    """
    from kickstarter_etl_pipeline_spark.operators.corpus import pack_sequences
    from kickstarter_etl_pipeline_spark.operators.dedup import (
        benchmark_overlap,
        drop_exact_dupes,
    )

    docs = load_table(spark, sf_dir, "documents")
    with_lang = TX.with_lang_id(docs)
    filtered = (
        with_lang.filter(F.col("lang_pred") == "en")
        .withColumn("quality", TX.quality_score())
        .filter(F.col("quality") >= 0.5)
    )
    clean = drop_exact_dupes(filtered)
    # Materialized: three consumers read it (see the docstring).
    corpus = materialize(
        clean.filter(F.col("doc_id") % 10 != 0)
        .select("doc_id", "source", "text")
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    contaminated = benchmark_overlap(corpus, bench).select("doc_id")
    survivors = corpus.join(contaminated, "doc_id", "left_anti")
    packed = pack_sequences(survivors, context_tokens=128)
    per_source = (
        packed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.col("spans_boundary").cast("long"))
            .cast("long")
            .alias("n_boundary_docs"),
        )
        # windows are ceil(total_tokens/128) — derived from the SAME
        # cumulative stream packing uses (cum_max == total_tokens)
        .withColumn(
            "n_windows",
            (F.floor((F.col("total_tokens") - 1) / 128) + 1).cast("long"),
        )
    )
    removed = (
        corpus.join(contaminated, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    totals = per_source.agg(
        F.sum(F.sqrt(F.col("total_tokens").cast("double"))).alias("_tw")
    )
    return (
        per_source.join(removed, "source", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            F.coalesce("n_contaminated", F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
            "total_tokens",
            "n_windows",
            "n_boundary_docs",
            round_det(
                F.sqrt(F.col("total_tokens").cast("double"))
                / F.nullif(F.col("_tw"), F.lit(0.0)),
                6,
            ).alias("p_sample"),
        )
    )


def q_collated_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware dedup keys (Spark 4 string collations) — the
    case-insensitive exact-dedup contract without materializing a
    normalized copy of the corpus: per lang, the binary-
    distinct vs UTF8_LCASE-collated-distinct text counts. Case
    variance is SYNTHESIZED deterministically (odd doc_ids upper-
    cased) because the fixture corpus is uniformly lowercase — without
    it the two counts would coincide and the grade could not tell a
    working collation from a no-op; with it, a broken collation
    inflates n_ci_distinct and fails the hash. The dedup key is the
    document's LEADING TOKEN (the fixture's ~30-word vocabulary
    guarantees cross-parity collisions in every cell, so the collated
    count is strictly below the binary one — non-vacuity pinned in
    tests/test_r15_ops.py; full texts never collide per cell at
    fixture SF, which would have made the grade vacuous). The DuckDB
    twin lowers the varied key (the classic normalize-then-distinct),
    so the grade proves the collated path EQUALS normalization
    semantics while the plan shows what collation buys at 100 TB: the
    distinct runs on the collation key directly — no second
    normalized column to materialize and shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    first = F.element_at(F.split(F.trim("text"), r"\s+"), 1)
    varied = docs.select(
        "lang",
        F.when(F.col("doc_id") % 2 == 1, F.upper(first))
        .otherwise(first)
        .alias("varied"),
    )
    return varied.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.expr("count(DISTINCT varied)").cast("long").alias("n_binary_distinct"),
        F.expr("count(DISTINCT varied COLLATE UTF8_LCASE)")
        .cast("long")
        .alias("n_ci_distinct"),
    )


def q_documents_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE near-dup detection as a GRADED surface (the ingest-time
    dedup pattern): odd-id documents STREAM against a static
    MinHash-LSH index of the even-id corpus; every (new, indexed) pair
    with exact Jaccard ≥ 0.8 is emitted from a fully STATELESS
    streaming pipeline — per-band bucket joins, a first-matching-band
    expression instead of a stateful distinct, and per-row exact
    verification via array_intersect (operators/dedup.py
    stream_near_dup_pairs). The twin is the exact even↔odd pair scan
    at the same threshold (banding recall ≈ 1 at 0.8, the
    minhash_dedup_pairs S-curve bound), so a missed candidate, a
    double-counted band, or a drifted verification each fails the
    hash."""
    from kickstarter_etl_pipeline_spark.operators.dedup import stream_near_dup_pairs

    return stream_near_dup_pairs(spark, sf_dir)
