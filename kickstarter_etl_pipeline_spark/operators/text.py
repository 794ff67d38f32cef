"""Text-analysis operators for the documents table — all native expressions.

Language-ID, quality scoring, token counting and fingerprinting for a
training-data pipeline, built from ``pyspark.sql.functions`` only (no
Python UDFs — everything stays in whole-stage codegen and scales linearly
with executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kickstarter_etl_pipeline_spark.operators.rounding import round_det

#: Marker lists live in the engine-neutral constants module (shared
#: with the DuckDB oracle ledgers).
from kickstarter_etl_pipeline_spark.constants import LANG_MARKERS


def let1(bound: Column, body) -> Column:
    """Evaluate ``bound`` ONCE per row and let ``body`` reference it many
    times — the 1-element-array lambda device:
    ``element_at(transform(array(bound), x -> body(x)), 1)``.

    Why it exists (optimization r14, guide §1/§4-adjacent): Catalyst's
    CollapseProject inlines withColumn-staged expressions into every
    downstream reference, so "stage tokens as a column, then build
    shingles from it" re-runs the regex split once per element_at — the
    shingle plan carried 15 copies of split() and the stage burned 57
    core-seconds on 5k docs (measured, plans/r14). A transform lambda
    variable is bound once per row and cannot be inlined, cutting that
    stage 6.5x with a bit-identical expression tree. Same device as
    dedup._shingles_sig_buckets_expr, exposed for every operator.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def normalized(text: Column | str) -> Column:
    """Canonical form for hashing/dedup: trim, collapse whitespace, lowercase."""
    col = F.col(text) if isinstance(text, str) else text
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of the trimmed, lowercased text."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(col)), r"\s+")


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalized(text))


def rolling_hash(text: Column | str, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over the document's characters.

    h = Σ c_i · base^(n−i) mod p, folded left-to-right with a per-step
    modulo so every intermediate stays < 2^35 (no ANSI overflow). Pure
    higher-order expressions — one pass per document, JVM-side.
    """
    col = F.col(text) if isinstance(text, str) else text
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long"))
    folded = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + c) % mod,
    )
    return F.when(F.length(col) == 0, F.lit(0).cast("long")).otherwise(folded)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, tokens, distinct tokens, punctuation &
    stopword ratios — the quality-scoring feature vector.

    Tokens are staged as a column so the regex split runs once per doc,
    not once per downstream reference.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    staged = ensure_min_partitions(df)
    en_stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])

    def _stats(toks: Column) -> Column:
        n_tokens = F.size(toks)
        n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
        n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
        return F.struct(
            F.length(text_col).cast("long").alias("n_chars_calc"),
            n_tokens.cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
            # nullif guards: ANSI mode (Spark 4 default) errors on x/0.
            round_det(n_punct / F.nullif(F.length(text_col), F.lit(0)), 6).alias(
                "punct_ratio"
            ),
            round_det(n_stop / F.nullif(n_tokens, F.lit(0)), 6).alias("stopword_ratio"),
        )

    # r14: token array bound once (let1); the five stats ride ONE struct
    # through inline() — a 1-element Generate — so neither the split nor
    # the struct is re-evaluated per output column (CollapseProject
    # cannot inline through a Generate). Identical rows/schema.
    return staged.select("doc_id", F.inline(F.array(let1(tokens(text_col), _stats))))


def quality_score(text_col: str = "text") -> Column:
    """Composite 0..1 quality heuristic: length band + lexical diversity −
    punctuation noise. Deterministic, expression-only. Token array bound
    once via let1 (r14) — the split no longer re-runs per reference."""

    def _score(toks: Column) -> Column:
        n_tokens = F.size(toks)
        diversity = F.size(F.array_distinct(toks)) / n_tokens
        length_ok = F.when(
            (F.length(text_col) >= 100) & (F.length(text_col) <= 10000), 1.0
        ).otherwise(0.5)
        n_punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
        punct_penalty = F.least(
            n_punct / F.greatest(F.length(text_col), F.lit(1)) * 5, F.lit(0.5)
        )
        return round_det(length_ok * (0.5 + 0.5 * diversity) - punct_penalty, 6)

    return let1(tokens(text_col), _score)


def token_frequency(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide token frequency table — the vocabulary-building pass
    of a training-data pipeline (BPE/unigram tokenizer training starts
    from exactly this table).

    One explode + one hash-aggregate keyed by token: the same
    uniform-key single-shuffle shape as exact dedup, linear in corpus
    size. ``n_docs`` (document frequency) rides along for IDF use.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    tok = (
        ensure_min_partitions(df)
        .withColumn("_toks", tokens(text_col))
        .select(F.col(id_col), F.explode("_toks").alias("token"))
    )
    return tok.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct(id_col).alias("n_docs"),
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-k terms by TF·IDF — the keyword/topic-surface
    extraction pass.

    IDF here is the LINEAR rarity weight N/df rather than log(N/df):
    the ranking is identical for fixed tf (both are monotone in 1/df)
    and tf·N/df is exact-integer arithmetic followed by one IEEE
    division — bit-deterministic across engines, where log() can differ
    in the last ulp and flip a rounding boundary (the determinism rules
    in queries.py). Swap in log for human-facing scores at will.

    Shape: explode → (doc, term) count → term df + corpus N (two
    aggregates, each one shuffle) → rarity join on term (NOT hinted to
    broadcast: a 100 TB corpus's vocabulary can be billions of rows —
    AQE broadcasts it when it is actually small) → per-doc top-k
    window. The per-doc window partitions by doc_id — millions of small
    groups, evenly spread.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    from pyspark.sql import Window

    tok = (
        ensure_min_partitions(df)
        .withColumn("_toks", tokens(text_col))
        .select(F.col(id_col), F.explode("_toks").alias("term"))
    )
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count_distinct(id_col).alias("n_corpus"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", round_det(F.col("tf") * F.col("n_corpus") / F.col("df"), 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "term_rank")
    )


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals (the Gopher-style quality rules):
    most-frequent-token share and 1 − unique/total ratio. High values
    flag boilerplate/spam for the cleaning filter.

    Explode → per-(doc, token) count → per-doc max/sum/count — two
    aggregates on keys that are uniform by construction.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    tok = (
        ensure_min_partitions(df)
        .withColumn("_toks", tokens(text_col))
        .select(F.col(id_col), F.explode("_toks").alias("token"))
    )
    per_token = tok.groupBy(id_col, "token").agg(F.count("*").alias("_tc"))
    return per_token.groupBy(id_col).agg(
        F.sum("_tc").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_unique_tokens"),
        F.max("_tc").cast("long").alias("top_token_count"),
        round_det(F.max("_tc") / F.sum("_tc"), 6).alias("top_token_ratio"),
        round_det(F.lit(1.0) - F.count("*") / F.sum("_tc"), 6).alias("repetition_ratio"),
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: CJK character presence, else stopword argmax
    (ties → alphabetical lang order; all-zero → 'und').

    r14: token array and per-language score vector are each bound ONCE
    via let1. The old formulation embedded every language's
    size(filter(tokens(...))) expression into `greatest` AND into every
    when-branch, so the tokenizer and the marker scans re-ran dozens of
    times per row. Semantics unchanged: scores are non-null ints, so
    array_max == greatest, and the when-chain order (sorted langs) is
    identical.
    """
    langs = sorted(LANG_MARKERS)

    def _score_arr(toks: Column) -> Column:
        def _hits(words: list[str]) -> Column:
            marker_arr = F.array(*[F.lit(w) for w in words])
            return F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))

        return F.array(*[_hits(LANG_MARKERS[lang]) for lang in langs])

    def _pick(sc: Column) -> Column:
        has_cjk = F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", "")) > 0
        best = F.array_max(sc)
        pred = F.when(has_cjk, F.lit("zh")).when(best == 0, F.lit("und"))
        for i, lang in enumerate(langs):
            pred = pred.when(F.element_at(sc, i + 1) == best, F.lit(lang))
        return pred

    return df.withColumn(
        "lang_pred", let1(tokens(text_col), lambda tk: let1(_score_arr(tk), _pick))
    )


#: PII redaction patterns (applied in list order — URL before email so a
#: mailto-style URL can't leave a dangling address; kept to syntax both
#: Java regex (Spark) and RE2 (DuckDB, for the oracle twin) accept: no
#: backreferences, no lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("phone", r"555-[0-9]{4}", "<PHONE>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact URL / email / phone patterns from a text column — the
    PII-scrubbing pass every training corpus runs before tokenization.

    Pure ``regexp_count`` + chained ``regexp_replace`` expressions:
    whole-stage codegen, one pass per pattern per document, no Python.
    Returns per-doc match counts, the scrubbed text's md5 fingerprint,
    and its length — enough to verify the redaction without shipping
    the (scrubbed) text downstream.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    staged = ensure_min_partitions(df)
    scrubbed = F.col(text_col)
    counts = {}
    for name, pattern, repl in PII_PATTERNS:
        counts[name] = F.regexp_count(scrubbed, F.lit(pattern))
        scrubbed = F.regexp_replace(scrubbed, pattern, repl)
    return staged.select(
        id_col,
        *[counts[name].cast("long").alias(f"n_{name}s") for name, _, _ in PII_PATTERNS],
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocabulary frame
    (one ``token`` column) — the tokenizer-fit metric: how much of each
    document a fixed vocab fails to cover.

    Explode → broadcast left join against the (small) vocab → one
    aggregate. The OOV ratio derives from exact integer counts, one IEEE
    division (engine-deterministic).
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    tok = (
        ensure_min_partitions(df)
        .withColumn("_toks", tokens(text_col))
        .select(F.col(id_col), F.explode("_toks").alias("token"))
    )
    marked = tok.join(
        F.broadcast(vocab.select("token").withColumn("_in_vocab", F.lit(1))),
        on="token",
        how="left",
    )
    return marked.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        round_det(
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)) / F.count("*"), 6
        ).alias("oov_ratio"),
    )


def unigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram surprisal (−ln p(token) under the
    corpus's own unigram LM) and its exp — the CCNet-style
    perplexity-proxy quality filter: word-soup scores low, rare-token
    noise scores high.

    Two uniform-key shuffles (token counts, per-doc mean); the LM table
    rides a broadcast.

    Determinism (NOTES.md rule 7, the events_ewma rounded-fold trick):
    ``ln``/``exp`` differ across engines in the last ulp, so every
    transcendental output is snapped to a fixed grid BEFORE any
    aggregation. Per-token surprisal becomes an exact integer in
    nano-nats (``floor(-ln(tf/total)·1e9 + 0.5)``) — tf/total is an
    IEEE division of exact integers, bit-identical everywhere, and a
    1-ulp ``ln`` flip moves the integer by ±1 nano-nat, which the
    6-dp rounding of the per-doc mean absorbs. Sums of integers are
    exact and order-independent, so the shuffle order can't perturb the
    result. ``exp`` is applied to the already-rounded mean and snapped
    at 2 dp. DuckDB replays the identical arithmetic (oracles_ext).
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions
    from kickstarter_etl_pipeline_spark.operators.rounding import round_det

    tok = (
        ensure_min_partitions(df)
        .withColumn("_toks", tokens(text_col))
        .select(F.col(id_col), F.explode("_toks").alias("token"))
    )
    lm = tok.groupBy("token").agg(F.count("*").alias("_tf"))
    total = lm.agg(F.sum("_tf").cast("double").alias("_total"))
    surprisal = lm.crossJoin(F.broadcast(total)).select(
        "token",
        F.floor(-F.log(F.col("_tf") / F.col("_total")) * 1e9 + 0.5)
        .cast("long")
        .alias("_s9"),  # integer nano-nats: exact under sum, any order
    )
    scored = tok.join(F.broadcast(surprisal), on="token")
    mean_nats = round_det(
        F.sum("_s9").cast("double") / (F.count("*") * F.lit(1e9)), 6
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        mean_nats.alias("mean_surprisal_nats"),
        round_det(F.exp(mean_nats), 2).alias("ppl_proxy"),
    )


def bigram_collocations(
    df: DataFrame, top_k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k adjacent-token bigram collocations with lift.

    The classic collocation-extraction pass over a corpus: count every
    adjacent token pair, then score association as
    ``lift = p(ab) / (p(a)·p(b))`` — the exp of PMI, computed WITHOUT
    ln/exp so the value is engine-deterministic (counts are exact
    integers; the division/multiplication tree is fixed and mirrored
    verbatim in the oracle SQL; NOTES.md determinism rule 7 is why PMI
    itself isn't emitted). Top-k is a TakeOrdered (distributed heap, no
    single-reducer global sort) with the unique (count, tok_a, tok_b)
    total order.

    Two uniform-key shuffles (bigram counts, unigram counts); the
    unigram table broadcasts into the bigram side.
    """
    staged = df.withColumn("_toks", tokens(text_col))
    bigrams = (
        staged.filter(F.size("_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_toks) - 1), i -> "
                    "named_struct('tok_a', element_at(_toks, i), "
                    "'tok_b', element_at(_toks, i + 1)))"
                )
            ).alias("_bg")
        )
        .select("_bg.tok_a", "_bg.tok_b")
    )
    pair_counts = bigrams.groupBy("tok_a", "tok_b").agg(F.count("*").alias("n_pair"))
    uni = (
        staged.select(F.explode("_toks").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count("*").alias("_n_tok"))
    )
    totals = F.broadcast(
        pair_counts.agg(F.sum("n_pair").alias("_m"))
        .crossJoin(uni.agg(F.sum("_n_tok").alias("_n")))
    )
    return (
        pair_counts.join(
            F.broadcast(uni.select(F.col("_tok").alias("tok_a"), F.col("_n_tok").alias("n_a"))),
            "tok_a",
        )
        .join(
            F.broadcast(uni.select(F.col("_tok").alias("tok_b"), F.col("_n_tok").alias("n_b"))),
            "tok_b",
        )
        .crossJoin(totals)
        .select(
            "tok_a",
            "tok_b",
            "n_pair",
            "n_a",
            "n_b",
            round_det(
                (F.col("n_pair") / F.col("_m"))
                / ((F.col("n_a") / F.col("_n")) * (F.col("n_b") / F.col("_n"))),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(top_k)
    )


def skipgram_cooccurrence(
    df: DataFrame,
    window: int = 2,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Skip-gram co-occurrence counts — the (center, context) pair table
    that seeds word2vec/GloVe-style embedding training.

    For every token position i, the contexts are positions i±1..i±window
    within the same document. Pairs are DIRECTED (center, context) and
    each ordered pair occurrence counts once, so the table is symmetric
    in aggregate (count(a,b) = count(b,a)) — a cheap invariant check.
    Top-k by (count, center, context) total order via TakeOrdered.

    One explode (bounded fan-out ≤ 2·window per token) and one
    uniform-key shuffle for the counts.
    """
    staged = df.withColumn("_toks", tokens(text_col)).filter(F.size("_toks") >= 2)
    offsets = [o for o in range(-window, window + 1) if o != 0]
    pairs = staged.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(sequence(1, size(_toks)), i -> "
                    f"filter(transform(array({', '.join(str(o) for o in offsets)}), "
                    "o -> CASE WHEN i + o >= 1 AND i + o <= size(_toks) THEN "
                    "named_struct('center', element_at(_toks, i), "
                    "'context', element_at(_toks, i + o)) END), p -> p IS NOT NULL))"
                )
            )
        ).alias("_p")
    ).select("_p.center", "_p.context")
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("n_cooc"))
        .orderBy(F.desc("n_cooc"), F.asc("center"), F.asc("context"))
        .limit(top_k)
    )
