"""Corpus-curation query wrappers (quota/sampling/splits, text quality, dedup-adjacent text ops). Moved verbatim from queries.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kickstarter_etl_pipeline_spark.constants import MAX_COVERAGE_K
from kickstarter_etl_pipeline_spark.operators import text as TX
from kickstarter_etl_pipeline_spark.operators.dedup import ngram_jaccard_pairs
from kickstarter_etl_pipeline_spark.operators.partitioning import materialize
from kickstarter_etl_pipeline_spark.operators.ranking import (
    collected_offsets,
    grouped_two_phase_rank,
)
from kickstarter_etl_pipeline_spark.operators.rounding import round_det
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from kickstarter_etl_pipeline_spark.twin_sql import _NORM, _TOKS, markers


#: DuckDB twin of each query defined here, by query name: SQL that
#: returns the same rows on the same parquet tables. Each entry sits
#: after its ``q_<name>`` function; queries.oracle_sql() collects them.
TWINS: dict[str, str] = {}


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


TWINS["source_quota"] = """
        SELECT doc_id, source, sample_rank
        FROM (
          SELECT doc_id, source,
                 CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS sample_rank
          FROM documents
        )
        WHERE sample_rank <= 5
    """


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


TWINS["length_filter_funnel"] = """
        SELECT 0 AS stage_idx, 'all_documents' AS stage_name, count(*) AS n_docs,
               CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_sum
        FROM documents
        UNION ALL
        SELECT 1, 'min_100_chars', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        FROM documents WHERE n_chars >= 100
        UNION ALL
        SELECT 2, 'latin_lang', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        FROM documents WHERE n_chars >= 100 AND lang IN ('en', 'de', 'es', 'fr')
        UNION ALL
        SELECT 3, 'max_500_chars', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT)
        FROM documents WHERE n_chars >= 100 AND lang IN ('en', 'de', 'es', 'fr') AND n_chars <= 500
    """


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


TWINS["domain_mix_report"] = """
        WITH t AS (SELECT count(*) AS total FROM documents)
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_sum,
               floor(count(*) * 100.0 / (SELECT total FROM t) * 1000000 + 0.5) / 1000000.0 AS doc_share_pct
        FROM documents
        GROUP BY 1, 2
    """


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


TWINS["train_val_test_split"] = """
        SELECT doc_id, source,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 31, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 31, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """


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


TWINS["stratified_sample"] = """
        SELECT doc_id, source, n_chars
        FROM documents
        WHERE (source IN ('src0','src1','src2','src3','src4')
               AND substring(md5(CAST(doc_id AS VARCHAR)), 32, 1)
                   IN ('0','1','2','3','4','5','6','7'))
           OR (source NOT IN ('src0','src1','src2','src3','src4')
               AND substring(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('0','1','2','3'))
    """


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


TWINS["hash_sample"] = """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 32, 1) IN ('0','1','2','3')
    """


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


TWINS["decontaminate_overlap"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, len(t) - 3),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS s
                 FROM toks))
        SELECT c.doc_id,
               count(DISTINCT c.s) AS n_shared_shingles,
               count(DISTINCT b.doc_id) AS n_bench_docs
        FROM (SELECT * FROM sh WHERE doc_id % 10 != 0) c
        JOIN (SELECT * FROM sh WHERE doc_id % 10 = 0) b ON c.s = b.s
        GROUP BY c.doc_id
    """


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


# FULL twin of q_coverage_selection_report: the Nemhauser greedy
# trajectory unrolls as one (gain, pick, covered) CTE triple per step
# (device 7) — NOT-EXISTS anti-membership against the covered shingle
# set, ORDER BY gain DESC, doc_id LIMIT 1 for the deterministic
# argmax (identical to the Spark side's max of (gain, −id) structs),
# pure integer counts throughout. The coverage unit is the word
# 5-gram shingle (the decontaminate_overlap construction, verbatim);
# the empty seed CTE is typed explicitly so the chain of unions stays
# VARCHAR.


def _max_coverage_oracle_sql() -> str:
    head = f"""
        WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        toks AS MATERIALIZED (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 3),
                          i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                         t[i+4]))) AS tok
            FROM tk)),
        c0 AS (SELECT CAST(NULL AS VARCHAR) AS tok WHERE 1 = 0)"""
    steps = []
    for t in range(1, MAX_COVERAGE_K + 1):
        steps.append(
            f""",
        g{t} AS MATERIALIZED (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
          FROM toks tk
          WHERE NOT EXISTS (SELECT 1 FROM c{t - 1} c WHERE c.tok = tk.tok)
          GROUP BY doc_id),
        p{t} AS MATERIALIZED (
          SELECT doc_id, gain FROM g{t} ORDER BY gain DESC, doc_id LIMIT 1),
        c{t} AS MATERIALIZED (
          SELECT tok FROM c{t - 1}
          UNION
          SELECT tk.tok FROM toks tk JOIN p{t} p ON tk.doc_id = p.doc_id)"""
        )
    unions = "\n        UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS step, doc_id, gain AS marginal_gain, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM c{t}) AS covered_total FROM p{t}"
        for t in range(1, MAX_COVERAGE_K + 1)
    )
    return head + "".join(steps) + "\n        " + unions


TWINS["coverage_selection_report"] = _max_coverage_oracle_sql()


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


TWINS["token_frequency"] = f"""
        SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
        ORDER BY n_occurrences DESC, token
        LIMIT 100
    """


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF·IDF (linear rarity weight N/df —
    engine-deterministic; see operators.text.tfidf_top_terms)."""
    from kickstarter_etl_pipeline_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs)


TWINS["tfidf_top_terms"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(DISTINCT doc_id) AS n_corpus FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf AS tf, dfr.df AS df,
                 floor(tf.tf * n.n_corpus / dfr.df * 1000000 + 0.5) / 1000000.0 AS tfidf
          FROM tf JOIN dfr USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, tfidf, term_rank
        FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS term_rank
          FROM scored
        )
        WHERE term_rank <= 3
    """


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    most-frequent-token share and 1 − unique/total token ratio."""
    from kickstarter_etl_pipeline_spark.operators.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


TWINS["repetition_stats"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
        pt AS (SELECT doc_id, token, count(*) AS tc FROM tok GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(tc) AS BIGINT) AS n_tokens,
               count(*) AS n_unique_tokens,
               CAST(max(tc) AS BIGINT) AS top_token_count,
               floor(CAST(max(tc) AS BIGINT) / CAST(sum(tc) AS BIGINT) * 1000000 + 0.5)
                 / 1000000.0 AS top_token_ratio,
               floor((1.0 - count(*) / CAST(sum(tc) AS BIGINT)) * 1000000 + 0.5)
                 / 1000000.0 AS repetition_ratio
        FROM pt
        GROUP BY doc_id
    """


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


TWINS["clean_corpus"] = f"""
        WITH scored AS (
          SELECT doc_id, lang, text, n_chars, toks,
                 len(list_filter(toks, t -> list_contains({markers('de')}, t))) AS s_de,
                 len(list_filter(toks, t -> list_contains({markers('en')}, t))) AS s_en,
                 len(list_filter(toks, t -> list_contains({markers('es')}, t))) AS s_es,
                 len(list_filter(toks, t -> list_contains({markers('fr')}, t))) AS s_fr
          FROM (SELECT doc_id, lang, text, n_chars, {_TOKS} AS toks FROM documents)
        ),
        labeled AS (
          SELECT *,
                 CASE WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 THEN 'zh'
                      WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                      WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                      WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                      WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                      ELSE 'fr' END AS lang_pred,
                 floor((
                   (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END)
                   * (0.5 + 0.5 * (len(list_distinct(toks)) / nullif(len(toks), 0)))
                   - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                           / greatest(length(text), 1) * 5, 0.5)
                 ) * 1000000 + 0.5) / 1000000.0 AS quality
          FROM scored
        ),
        filtered AS (SELECT * FROM labeled WHERE lang_pred = 'en' AND quality >= 0.5),
        keepers AS (SELECT min(doc_id) AS doc_id FROM filtered GROUP BY md5({_NORM}))
        SELECT doc_id, lang, quality, n_chars
        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)
    """


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


TWINS["pii_scrub"] = """
        WITH salted AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail-' || source || '.com or https://'
                      || source || '.example.org/d/' || CAST(doc_id AS VARCHAR)
                      || CASE WHEN doc_id % 2 = 0
                              THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                              ELSE '' END AS t0
          FROM documents),
        staged AS (
          SELECT doc_id, t0,
                 regexp_replace(t0, 'https?://[^\\s]+', '<URL>', 'g') AS t1
          FROM salted),
        staged2 AS (
          SELECT doc_id, t0, t1,
                 regexp_replace(t1, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g') AS t2
          FROM staged)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t0, 'https?://[^\\s]+')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(t1, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t2, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
               md5(regexp_replace(t2, '555-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_md5,
               CAST(length(regexp_replace(t2, '555-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len
        FROM staged2
    """


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


TWINS["oov_rate"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
        vocab AS (SELECT token FROM (
            SELECT token, count(*) AS c FROM tok GROUP BY 1
            ORDER BY c DESC, token LIMIT 100)),
        m AS (SELECT t.doc_id,
                     CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
              FROM tok t LEFT JOIN vocab v USING (token))
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               floor(CAST(sum(oov) AS BIGINT) / count(*) * 1000000 + 0.5) / 1000000.0 AS oov_ratio
        FROM m GROUP BY 1
    """


def q_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality filter: mean unigram surprisal + perplexity
    proxy per document under the corpus's own unigram LM. ln/exp are
    snapped to fixed grids (integer nano-nats per token, 6-dp mean,
    2-dp ppl — see text.unigram_surprisal) so the query carries a FULL
    DuckDB oracle despite the transcendentals."""
    from kickstarter_etl_pipeline_spark.operators.text import unigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return unigram_surprisal(docs)


# FULL twin of q_perplexity_proxy: the rounded-fold determinism trick
# (events_ewma class) applied to the unigram LM. Per-token surprisal is
# snapped to an exact BIGINT nano-nat grid (floor(-ln(tf/total)·1e9 +
# 0.5)) so the per-doc sum is order-independent integer arithmetic; the
# per-doc mean is rounded at 6 dp (absorbing any ±1 nano-nat ulp flip
# of ln), and exp runs on the already-rounded mean, snapped at 2 dp —
# the same expression tree Spark builds in text.unigram_surprisal.
TWINS["perplexity_proxy"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    lm AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM lm),
    s AS (SELECT token, CAST(floor(-ln(tf / tot.total) * 1000000000 + 0.5) AS BIGINT) AS s9
          FROM lm, tot),
    d AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(s.s9) AS BIGINT) AS ssum
          FROM tok t JOIN s USING (token) GROUP BY t.doc_id)
    SELECT doc_id, n_tokens,
           floor(CAST(ssum AS DOUBLE) / (n_tokens * 1000000000.0) * 1000000 + 0.5)
             / 1000000.0 AS mean_surprisal_nats,
           floor(exp(floor(CAST(ssum AS DOUBLE) / (n_tokens * 1000000000.0) * 1000000 + 0.5)
                     / 1000000.0) * 100 + 0.5) / 100.0 AS ppl_proxy
    FROM d
"""


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


TWINS["bpe_token_counts"] = f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish_tokens
        FROM documents
    """


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.fingerprint_md5().alias("fingerprint"),
        TX.rolling_hash("text").alias("rolling_hash"),
    )


TWINS["doc_fingerprints"] = f"""
        SELECT doc_id, md5({_NORM}) AS fingerprint,
               CASE WHEN length(text) = 0 THEN 0 ELSE
                 list_reduce(
                   list_prepend(0::BIGINT,
                     list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
                   (a, b) -> (a * 31 + b) % 1000000007)
               END AS rolling_hash
        FROM documents
    """


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.with_lang_id(docs).select("doc_id", "lang", "lang_pred")


TWINS["lang_id"] = f"""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 len(list_filter(toks, t -> list_contains({markers('de')}, t))) AS s_de,
                 len(list_filter(toks, t -> list_contains({markers('en')}, t))) AS s_en,
                 len(list_filter(toks, t -> list_contains({markers('es')}, t))) AS s_es,
                 len(list_filter(toks, t -> list_contains({markers('fr')}, t))) AS s_fr
          FROM (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents)
        )
        SELECT doc_id, lang,
               CASE WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 THEN 'zh'
                    WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM scored
    """


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score().alias("quality"))


TWINS["quality_scores"] = f"""
        SELECT doc_id,
               floor((
                 (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END)
                 * (0.5 + 0.5 * (len(list_distinct(toks)) / nullif(len(toks), 0)))
                 - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                         / greatest(length(text), 1) * 5, 0.5)
               ) * 1000000 + 0.5) / 1000000.0 AS quality
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.with_text_stats(load_table(spark, sf_dir, "documents"))


TWINS["text_stats"] = f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
               floor(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / nullif(length(text), 0) * 1000000 + 0.5) / 1000000.0 AS punct_ratio,
               floor(len(list_filter(toks, t -> list_contains({markers('en')}, t))) / nullif(len(toks), 0) * 1000000 + 0.5) / 1000000.0 AS stopword_ratio
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """


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


# FULL twin of q_readability_scores: exact integer counts (RE2/Java-
# safe character classes), one fixed IEEE tree — same parse
# 206.835 − (1.015·a) − (84.6·b) left-associated — on a 4-dp grid.
TWINS["readability_scores"] = r"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           floor((206.835
                  - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
                 * 10000 + 0.5) / 10000.0 AS flesch_score
    FROM c
"""


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


TWINS["levenshtein_pairs"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, len(t) - 1),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
                 FROM toks)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        cands AS (
          SELECT id_a, id_b,
                 floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 AS jaccard
          FROM pairs
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 >= 0.5
        )
        SELECT id_a, id_b, jaccard,
               CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
               floor((1 - levenshtein(da.text, db.text)
                          / greatest(length(da.text), length(db.text))) * 1000000 + 0.5) / 1000000.0 AS edit_similarity
        FROM cands
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b
    """


def q_char_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 5-gram Jaccard near-dup pairs (tokenization-free)."""
    from kickstarter_etl_pipeline_spark.operators.dedup import char_jaccard_pairs

    return char_jaccard_pairs(load_table(spark, sf_dir, "documents"))


TWINS["char_jaccard_pairs"] = f"""
        WITH t AS (SELECT doc_id, {_NORM} AS nt FROM documents),
        sh AS (SELECT DISTINCT doc_id, s FROM (
                 SELECT doc_id,
                        unnest(list_transform(range(1, length(nt) - 3),
                               i -> substring(nt, i, 5))) AS s
                 FROM t WHERE length(nt) >= 5)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b, n_common,
               floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5) / 1000000.0 >= 0.8
    """


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram containment pairs (overlap coefficient ≥ 0.6, both
    directed Broder containments emitted) — catches quote/excerpt
    subset duplication that Jaccard under-scores."""
    from kickstarter_etl_pipeline_spark.operators.dedup import containment_pairs

    return containment_pairs(load_table(spark, sf_dir, "documents"), threshold=0.6)


# FULL twin of q_containment_pairs: same word-3-gram shingles as the
# Jaccard oracle; pair selection on the symmetric overlap coefficient
# |∩| / min(|A|, |B|), with both directed Broder containments emitted.
TWINS["containment_pairs"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id,
                    unnest(list_transform(range(1, len(t) - 1),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
             FROM toks)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b, n_common,
           floor(n_common / sa.n * 1000000 + 0.5) / 1000000.0 AS containment_a,
           floor(n_common / sb.n * 1000000 + 0.5) / 1000000.0 AS containment_b,
           floor(n_common / least(sa.n, sb.n) * 1000000 + 0.5) / 1000000.0 AS overlap_coef
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE floor(n_common / least(sa.n, sb.n) * 1000000 + 0.5) / 1000000.0 >= 0.6
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: md5-anchor cells, drop any
    vector within 0.9 rounded-cosine of a lower-id cell-mate."""
    from kickstarter_etl_pipeline_spark.operators.similarity import semantic_dedup

    return semantic_dedup(load_table(spark, sf_dir, "embeddings"), threshold=0.9, n_cells=16)


# FULL twin of q_semantic_dedup (similarity.semantic_dedup): md5-anchor
# Voronoi cells exactly as in the anchor-IVF oracle, then a vector is
# dropped iff a LOWER-id cell-mate has 6-dp-rounded cosine >= 0.9.
TWINS["semantic_dedup"] = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    anchors AS (
      SELECT av, rn - 1 AS ci FROM (
        SELECT CAST(embedding AS DOUBLE[]) AS av,
               row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM embeddings)
      WHERE rn <= 16),
    cass AS (
      SELECT vec_id, e, ci AS cell FROM (
        SELECT v.vec_id, v.e, a.ci,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY CAST(floor(list_reduce(
                                    list_transform(range(1, len(v.e) + 1),
                                      i -> (v.e[i] - a.av[i]) * (v.e[i] - a.av[i])),
                                    (acc, x) -> acc + x) * 1000000000 + 0.5) AS BIGINT),
                                  a.ci) AS rn
        FROM v CROSS JOIN anchors a)
      WHERE rn = 1),
    dups AS (
      SELECT b.vec_id, count(*) AS n_near
      FROM cass a JOIN cass b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.9
      GROUP BY b.vec_id)
    SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
           CAST(coalesce(d.n_near, 0) AS BIGINT) AS n_near_dups,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_kept
    FROM cass c LEFT JOIN dups d ON c.vec_id = d.vec_id
"""


def q_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token collocations with engine-deterministic lift."""
    from kickstarter_etl_pipeline_spark.operators.text import bigram_collocations

    return bigram_collocations(load_table(spark, sf_dir, "documents"))


# FULL twin of q_bigram_collocations: identical count tables and the
# identical division/multiplication tree for lift (no ln/exp — see
# text.bigram_collocations).
TWINS["bigram_collocations"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(t)),
                  i -> {{'a': t[i], 'b': t[i+1]}})) AS p
           FROM toks WHERE len(t) >= 2),
    pairs AS (SELECT p.a AS tok_a, p.b AS tok_b, count(*) AS n_pair
              FROM bg GROUP BY 1, 2),
    uni AS (SELECT tok, count(*) AS n_tok
            FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
    tot AS (SELECT (SELECT sum(n_pair) FROM pairs) AS m,
                   (SELECT sum(n_tok) FROM uni) AS n)
    SELECT tok_a, tok_b, n_pair, ua.n_tok AS n_a, ub.n_tok AS n_b,
           floor((n_pair / m) / ((ua.n_tok / n) * (ub.n_tok / n))
                 * 1000000 + 0.5) / 1000000.0 AS lift
    FROM pairs
    JOIN uni ua ON ua.tok = tok_a
    JOIN uni ub ON ub.tok = tok_b
    CROSS JOIN tot
    ORDER BY n_pair DESC, tok_a, tok_b
    LIMIT 50
"""


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


# FULL twin of q_seq_length_histogram: integer width-32 buckets of the
# per-doc whitespace token count, token share + cumulative share.
TWINS["seq_length_histogram"] = f"""
    WITH t AS (SELECT CAST(len({_TOKS}) AS BIGINT) AS n FROM documents),
    b AS (SELECT n - n % 32 AS bucket_start,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n) AS BIGINT) AS n_tokens
          FROM t GROUP BY 1),
    tot AS (SELECT sum(n_tokens) AS tt FROM b)
    SELECT bucket_start, n_docs, n_tokens,
           floor(n_tokens / tt * 1000000 + 0.5) / 1000000.0 AS token_share,
           floor(sum(n_tokens) OVER (ORDER BY bucket_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / tt * 1000000 + 0.5) / 1000000.0 AS cum_token_share
    FROM b CROSS JOIN tot
"""


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


# FULL twin of q_inverted_index: identical (token, doc) tf table, then
# postings as "doc:tf" in doc order (doc_id is unique per token, so
# Spark's array_sort(struct(doc_id, tf)) == ORDER BY doc_id).
TWINS["inverted_index"] = f"""
    WITH tf AS (
      SELECT token, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
      GROUP BY 1, 2)
    SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
           CAST(sum(tf) AS BIGINT) AS coll_freq,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY token
"""


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


# FULL twin of q_source_overlap_report: distinct (source, word-3-gram
# shingle) pairs, pairwise shared counts, Jaccard of the shingle sets.
TWINS["source_overlap_report"] = f"""
    WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
    fp AS (SELECT DISTINCT source, fp FROM (
             SELECT source,
                    unnest(list_transform(range(1, len(t) - 1),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS fp
             FROM toks)),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY source),
    shared AS (SELECT a.source AS source_a, b.source AS source_b,
                      CAST(count(*) AS BIGINT) AS n_shared
               FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
               GROUP BY 1, 2)
    SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_shared,
           floor(n_shared / (sa.n + sb.n - n_shared) * 1000000 + 0.5) / 1000000.0 AS jaccard
    FROM shared JOIN sizes sa ON sa.source = source_a
                JOIN sizes sb ON sb.source = source_b
"""


def q_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 skip-gram (center, context) co-occurrence counts with a
    +/-2 window — the word2vec/GloVe training-pair table."""
    from kickstarter_etl_pipeline_spark.operators.text import skipgram_cooccurrence

    return skipgram_cooccurrence(load_table(spark, sf_dir, "documents"))


# FULL twin of q_skipgram_cooccurrence: identical ±2-offset directed
# (center, context) pair construction and (count, center, context)
# total order for the top-k boundary.
TWINS["skipgram_cooccurrence"] = f"""
    WITH toks AS (SELECT t FROM (SELECT {_TOKS} AS t FROM documents) WHERE len(t) >= 2),
    pr AS (
      SELECT unnest(flatten(list_transform(range(1, len(t) + 1), i ->
               list_filter(list_transform([-2, -1, 1, 2], o ->
                 CASE WHEN i + o >= 1 AND i + o <= len(t)
                      THEN {{'center': t[i], 'context': t[i + o]}} END),
                 p -> p IS NOT NULL)))) AS p
      FROM toks)
    SELECT p.center AS center, p.context AS context,
           CAST(count(*) AS BIGINT) AS n_cooc
    FROM pr GROUP BY 1, 2
    ORDER BY n_cooc DESC, center, context
    LIMIT 100
"""


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


# FULL twin of q_curation_decision: the verified repetition_stats and
# quality_scores CTE bodies composed, then the identical CASE cascade
# on the 6-dp-rounded features.
TWINS["curation_decision"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    pt AS (SELECT doc_id, token, count(*) AS tc FROM tok GROUP BY 1, 2),
    rep AS (SELECT doc_id,
                   floor(CAST(max(tc) AS BIGINT) / CAST(sum(tc) AS BIGINT)
                         * 1000000 + 0.5) / 1000000.0 AS top_token_ratio
            FROM pt GROUP BY doc_id),
    q AS (SELECT doc_id, n_chars,
                 floor((
                   (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.5 END)
                   * (0.5 + 0.5 * (len(list_distinct(toks)) / nullif(len(toks), 0)))
                   - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                           / greatest(length(text), 1) * 5, 0.5)
                 ) * 1000000 + 0.5) / 1000000.0 AS quality
          FROM (SELECT doc_id, text, n_chars, {_TOKS} AS toks FROM documents)),
    j AS (SELECT q.doc_id, q.n_chars, q.quality, rep.top_token_ratio
          FROM q JOIN rep ON q.doc_id = rep.doc_id),
    d AS (SELECT *,
                 CASE WHEN n_chars < 100 THEN 'too_short'
                      WHEN n_chars > 10000 THEN 'too_long'
                      WHEN top_token_ratio >= 0.2 THEN 'high_repetition'
                      WHEN quality < 0.5 THEN 'low_quality'
                      ELSE 'keep' END AS decision
          FROM j)
    SELECT doc_id, n_chars, quality, top_token_ratio, decision,
           CAST(CASE WHEN decision = 'keep' THEN 1 ELSE 0 END AS INTEGER) AS is_kept
    FROM d
"""


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


# FULL twin of q_lang_confusion_matrix: the verified lang_id CTE body,
# aggregated to (true, pred) cells with row shares.
TWINS["lang_confusion_matrix"] = f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             len(list_filter(toks, t -> list_contains({markers('de')}, t))) AS s_de,
             len(list_filter(toks, t -> list_contains({markers('en')}, t))) AS s_en,
             len(list_filter(toks, t -> list_contains({markers('es')}, t))) AS s_es,
             len(list_filter(toks, t -> list_contains({markers('fr')}, t))) AS s_fr
      FROM (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents)
    ),
    pred AS (
      SELECT lang AS true_lang,
             CASE WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 THEN 'zh'
                  WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM scored),
    cells AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
              FROM pred GROUP BY 1, 2),
    rt AS (SELECT true_lang, sum(n_docs) AS r FROM cells GROUP BY true_lang)
    SELECT cells.true_lang, cells.pred_lang, cells.n_docs,
           floor(cells.n_docs / rt.r * 1000000 + 0.5) / 1000000.0 AS row_share
    FROM cells JOIN rt USING (true_lang)
"""


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


# FULL twin of q_k_anonymity_report.
TWINS["k_anonymity_report"] = """
    WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS class_size
                   FROM documents GROUP BY 1, 2),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT source, lang, class_size,
           CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS INTEGER) AS violates_k5,
           floor(class_size / n.n * 1000000 + 0.5) / 1000000.0 AS corpus_share
    FROM cells, n
"""


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


# FULL twin of q_vocab_growth_curve: token first-doc table + per-doc
# token counts, ten threshold aggregates.
TWINS["vocab_growth_curve"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    fd AS (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token),
    dt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    mx AS (SELECT max(doc_id) AS m FROM documents),
    th AS (SELECT CAST(p * 10 AS INTEGER) AS pct,
                  CAST(floor(mx.m * (p * 10) / 100) AS BIGINT) AS thr
           FROM (SELECT unnest(range(1, 11)) AS p), mx)
    SELECT th.pct,
           CAST(coalesce((SELECT sum(n) FROM dt WHERE dt.doc_id <= th.thr), 0) AS BIGINT) AS n_tokens,
           CAST((SELECT count(*) FROM fd WHERE fd.first_doc <= th.thr) AS BIGINT) AS vocab_size
    FROM th
"""


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


# FULL twin of q_js_divergence_sources (round 9): the bm25 nano-nat
# grid extended to a two-distribution divergence. All products go
# through HUGEINT (decimal(38,0) on the Spark side) so no long
# overflow exists at any scale; per-token ln snaps to the nano-nat
# grid BEFORE the pair aggregate, so Σ c·ln9 is an exact integer sum;
# exclusive-token mass contributes (N − shared)·693147181 with the
# identical hardcoded floor(ln(2)·1e9 + 0.5) literal.
TWINS["js_divergence_sources"] = f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
    counts AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
               FROM tok GROUP BY source, token),
    totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM tok GROUP BY source),
    terms AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb,
             CAST(floor(ln(CAST(CAST(a.c AS HUGEINT) * tb.n * 2 AS DOUBLE)
                           / CAST(CAST(a.c AS HUGEINT) * tb.n
                                  + CAST(b.c AS HUGEINT) * ta.n AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS lna9,
             CAST(floor(ln(CAST(CAST(b.c AS HUGEINT) * ta.n * 2 AS DOUBLE)
                           / CAST(CAST(a.c AS HUGEINT) * tb.n
                                  + CAST(b.c AS HUGEINT) * ta.n AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS lnb9
      FROM counts a
      JOIN counts b ON a.token = b.token AND a.source < b.source
      JOIN totals ta ON ta.source = a.source
      JOIN totals tb ON tb.source = b.source),
    g AS (SELECT source_a, source_b,
                 CAST(count(*) AS BIGINT) AS n_shared_tokens,
                 sum(CAST(ca AS HUGEINT) * lna9) AS sa,
                 sum(CAST(cb AS HUGEINT) * lnb9) AS sb,
                 CAST(sum(ca) AS BIGINT) AS ma,
                 CAST(sum(cb) AS BIGINT) AS mb,
                 max(na) AS na, max(nb) AS nb
          FROM terms GROUP BY source_a, source_b)
    SELECT source_a, source_b, n_shared_tokens,
           floor(((CAST(sa + CAST(na - ma AS HUGEINT) * 693147181 AS DOUBLE)
                     / CAST(na AS DOUBLE)
                   + CAST(sb + CAST(nb - mb AS HUGEINT) * 693147181 AS DOUBLE)
                     / CAST(nb AS DOUBLE))
                  * 0.5 / 1000000000.0) * 1000000 + 0.5) / 1000000.0 AS jsd_nats
    FROM g
"""


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


# FULL twin of q_mutual_information_report (round 9, continued): the
# JSD nano-nat device on the (source x length-band) contingency table —
# per-cell ln((c*N)/(r*k)) snapped to the nano-nat grid BEFORE the
# per-source aggregate; all products HUGEINT; one fixed final division.
TWINS["mutual_information_report"] = """
    WITH d AS (SELECT source, least(floor(n_chars / 64), 9) AS band FROM documents),
    cells AS (SELECT source, band, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
    rs AS (SELECT source, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY source),
    kb AS (SELECT band, CAST(sum(c) AS BIGINT) AS k FROM cells GROUP BY band),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    terms AS (SELECT cells.source, c, n,
                     CAST(floor(ln(CAST(CAST(c AS HUGEINT) * n AS DOUBLE)
                                   / CAST(CAST(r AS HUGEINT) * k AS DOUBLE))
                                * 1000000000 + 0.5) AS BIGINT) AS ln9
              FROM cells JOIN rs USING (source) JOIN kb USING (band), tot),
    g AS (SELECT source,
                 CAST(sum(CAST(c AS HUGEINT) * ln9) AS HUGEINT) AS s,
                 CAST(sum(c) AS BIGINT) AS n_docs,
                 max(n) AS n
          FROM terms GROUP BY source)
    SELECT source, n_docs,
           floor(CAST(s AS DOUBLE) / n / 1000000000.0 * 1000000 + 0.5) / 1000000.0
             AS mi_contrib_nats
    FROM g
"""


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


# FULL twin of q_bleu_overlap_report: same benchmark slice
# (doc_id % 97 = 0), multiplicity n-grams n = 1..4, per-gram MAX
# clipping, nano-nat ln snaps, and the identical final IEEE tree
# (sum9 / 4.0 / 1e9 + least(0, 1 - R/(B*t1))); zero precision -> NULL
# by integer comparison.
TWINS["bleu_overlap_report"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    g AS (
      SELECT doc_id, 1 AS n, unnest(tk) AS gram FROM t
      UNION ALL
      SELECT doc_id, 2, unnest(list_transform(range(1, len(tk)),
             i -> concat_ws(' ', tk[i], tk[i+1]))) FROM t
      UNION ALL
      SELECT doc_id, 3, unnest(list_transform(range(1, len(tk) - 1),
             i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) FROM t
      UNION ALL
      SELECT doc_id, 4, unnest(list_transform(range(1, len(tk) - 2),
             i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3]))) FROM t),
    bcounts AS (SELECT n, gram, doc_id, CAST(count(*) AS BIGINT) AS c
                FROM g WHERE doc_id % 97 = 0 GROUP BY 1, 2, 3),
    refmax AS (SELECT n, gram, max(c) AS mx FROM bcounts GROUP BY 1, 2),
    ccounts AS (SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c
                FROM g WHERE doc_id % 97 <> 0 GROUP BY 1, 2, 3),
    clip AS (SELECT doc_id, n, c, least(c, coalesce(mx, 0)) AS cl
             FROM ccounts LEFT JOIN refmax USING (n, gram)),
    per AS (SELECT doc_id, n, CAST(sum(c) AS BIGINT) AS tot,
                   CAST(sum(cl) AS BIGINT) AS mat
            FROM clip GROUP BY 1, 2),
    wide AS (SELECT doc_id,
                    max(CASE WHEN n = 1 THEN tot END) AS t1,
                    max(CASE WHEN n = 2 THEN tot END) AS t2,
                    max(CASE WHEN n = 3 THEN tot END) AS t3,
                    max(CASE WHEN n = 4 THEN tot END) AS t4,
                    max(CASE WHEN n = 1 THEN mat END) AS m1,
                    max(CASE WHEN n = 2 THEN mat END) AS m2,
                    max(CASE WHEN n = 3 THEN mat END) AS m3,
                    max(CASE WHEN n = 4 THEN mat END) AS m4
             FROM per GROUP BY doc_id),
    bscal AS (SELECT CAST(count(*) AS BIGINT) AS bdocs FROM documents
              WHERE doc_id % 97 = 0),
    rscal AS (SELECT CAST(count(*) AS BIGINT) AS rtot FROM g
              WHERE n = 1 AND doc_id % 97 = 0)
    SELECT doc_id, t1 AS n_tokens, m1, m2, m3, m4,
           CASE WHEN coalesce(m1, 0) > 0 AND coalesce(m2, 0) > 0
                 AND coalesce(m3, 0) > 0 AND coalesce(m4, 0) > 0
                THEN floor(((CAST(floor(ln(m1 / CAST(t1 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
                             + CAST(floor(ln(m2 / CAST(t2 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
                             + CAST(floor(ln(m3 / CAST(t3 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
                             + CAST(floor(ln(m4 / CAST(t4 AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT))
                            / 4.0 / 1000000000.0
                            + least(0.0, 1.0 - rtot / CAST(bdocs * t1 AS DOUBLE)))
                           * 1000000 + 0.5) / 1000000.0
           END AS log_bleu
    FROM wide, bscal, rscal
"""


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


# FULL twin of q_phrase_search_hits: same data-derived phrase (top
# 3-gram, ties by text), positional postings (1-based here, 0-based on
# the Spark side — only OFFSETS enter the join), 3-way positional join.
TWINS["phrase_search_hits"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    grams AS (SELECT unnest(list_transform(range(1, len(tk) - 1),
                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS g
              FROM t WHERE len(tk) >= 3),
    top AS (SELECT g AS phrase,
                   string_split(g, ' ')[1] AS w1,
                   string_split(g, ' ')[2] AS w2,
                   string_split(g, ' ')[3] AS w3
            FROM (SELECT g, count(*) AS c FROM grams GROUP BY g
                  ORDER BY c DESC, g LIMIT 1)),
    p0 AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos, tk FROM t),
    post AS (SELECT doc_id, pos, tk[pos] AS tok FROM p0)
    SELECT p1.doc_id, top.phrase, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM post p1
    JOIN top ON p1.tok = top.w1
    JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1 AND p2.tok = top.w2
    JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2 AND p3.tok = top.w3
    GROUP BY p1.doc_id, top.phrase
"""


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


# FULL twin of q_cohens_kappa_quality: identical rater definitions
# (n_chars grid; single-space split token count), κ from exact cell
# counts with p_e's numerator kept integer.
TWINS["cohens_kappa_quality"] = """
    WITH flags AS (SELECT
        CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
        CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END AS b
      FROM documents),
    agg AS (SELECT
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(a * b) AS BIGINT) AS n_both,
        CAST(sum(a * (1 - b)) AS BIGINT) AS n_a_only,
        CAST(sum((1 - a) * b) AS BIGINT) AS n_b_only,
        CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n_neither
      FROM flags),
    s AS (SELECT *,
        CAST(n_both + n_neither AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
        CAST((n_both + n_a_only) * (n_both + n_b_only)
             + (n_b_only + n_neither) * (n_a_only + n_neither) AS DOUBLE)
          / CAST(n_docs * n_docs AS DOUBLE) AS pe
      FROM agg)
    SELECT n_docs, n_both, n_a_only, n_b_only, n_neither,
           floor(po * 1000000 + 0.5) / 1000000.0 AS observed_agreement,
           floor(pe * 1000000 + 0.5) / 1000000.0 AS expected_agreement,
           floor(((po - pe) / (1.0 - pe)) * 1000000 + 0.5) / 1000000.0 AS kappa
    FROM s
"""


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


# FULL twin of q_token_length_quartiles_by_source: identical
# whitespace tokenization (_TOKS convention), nearest-rank picks
# (rank == ceil(q*n)) over the same (n_tokens, doc_id) per-source
# total order; all outputs exact BIGINTs.
TWINS["token_length_quartiles_by_source"] = """
    WITH t AS (SELECT source, doc_id,
                      CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS nt
               FROM documents),
    ranked AS (
      SELECT source, nt,
             CAST(row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM t)
    SELECT source, max(n) AS n_docs,
           CAST(max(CASE WHEN rn = ceil(0.25 * n) THEN nt END) AS BIGINT) AS p25_tokens,
           CAST(max(CASE WHEN rn = ceil(0.5 * n) THEN nt END) AS BIGINT) AS p50_tokens,
           CAST(max(CASE WHEN rn = ceil(0.75 * n) THEN nt END) AS BIGINT) AS p75_tokens,
           CAST(max(CASE WHEN rn = ceil(0.75 * n) THEN nt END)
                - max(CASE WHEN rn = ceil(0.25 * n) THEN nt END) AS BIGINT) AS iqr_tokens
    FROM ranked GROUP BY source
"""


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


# FULL twin of q_pretraining_manifest: the clean_corpus twin REUSED
# verbatim (read from TWINS and re-tailed — the composition mirrors the
# Spark side composing the same operator chain), then the md5-hex
# shard key (the shard_balance device) and an 8-group rollup. The
# mean quality rides exact micro-integers: clean_corpus pins quality
# to the 1e-6 grid, so floor(q·10⁶ + 0.5) is lossless.
def _pretraining_manifest_oracle_sql() -> str:
    clean = TWINS["clean_corpus"]
    old_tail = (
        "SELECT doc_id, lang, quality, n_chars\n"
        "        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    assert old_tail in clean, "clean_corpus twin tail changed — re-sync manifest"
    new_tail = (
        "SELECT doc_id, quality, CAST(len(toks) AS BIGINT) AS nt\n"
        "        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    base = clean.replace(old_tail, new_tail)
    return f"""
    WITH base AS ({base})
    SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 8 AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           floor(CAST(sum(CAST(floor(quality * 1000000 + 0.5) AS BIGINT))
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
             / 1000000.0 AS mean_quality
    FROM base
    GROUP BY shard
"""


TWINS["pretraining_manifest"] = _pretraining_manifest_oracle_sql()


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


# FULL twin of q_curation_pack_manifest — the composed
# clean→decontaminate→pack→temperature manifest. The clean_corpus twin
# is read VERBATIM from TWINS as the base CTE (same device as
# pretraining_manifest: only the tail projection changes, asserted so
# a drifting constituent twin fails loudly at import). Decontamination
# is the decontaminate_overlap construction (word 5-grams, eval
# stratum doc_id % 10 = 0) applied as its documented left-anti
# complement; packing is the pack_sequences cumulative window
# (PARTITION BY source ORDER BY doc_id, 128-token bins); the
# temperature share is the source_mixing_weights sqrt formula.
def _curation_pack_oracle_sql() -> str:
    clean = TWINS["clean_corpus"]
    old_tail = (
        "SELECT doc_id, lang, quality, n_chars\n"
        "        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    assert old_tail in clean, "clean_corpus twin tail changed — re-sync curation pack"
    new_tail = (
        "SELECT doc_id, toks\n"
        "        FROM filtered WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    base = clean.replace(old_tail, new_tail)
    return f"""
    WITH base AS ({base}),
    corpus AS (
      SELECT b.doc_id, d.source, b.toks FROM base b
      JOIN documents d USING (doc_id) WHERE b.doc_id % 10 != 0),
    csh AS (SELECT DISTINCT doc_id, s FROM (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 3),
                            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                           toks[i+3], toks[i+4]))) AS s
              FROM corpus)),
    bt AS (SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id % 10 = 0),
    bsh AS (SELECT DISTINCT s FROM (
              SELECT unnest(list_transform(range(1, len(t) - 3),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
                                    t[i+4]))) AS s
              FROM bt)),
    contaminated AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (s)),
    survivors AS (
      SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens
      FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    packed AS (
      SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM survivors),
    persrc AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN floor((cum - 1) / 128)
                            > floor((cum - n_tokens) / 128)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
      FROM packed GROUP BY source),
    rem AS (SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated
            FROM corpus WHERE doc_id IN (SELECT doc_id FROM contaminated)
            GROUP BY source),
    tot AS (SELECT sum(sqrt(total_tokens)) AS tw FROM persrc)
    SELECT p.source, p.n_docs,
           CAST(coalesce(r.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           p.total_tokens,
           CAST(floor((p.total_tokens - 1) / 128) + 1 AS BIGINT) AS n_windows,
           p.n_boundary_docs,
           floor(sqrt(p.total_tokens) / nullif(t.tw, 0) * 1000000 + 0.5)
             / 1000000.0 AS p_sample
    FROM persrc p LEFT JOIN rem r USING (source), tot t
"""


TWINS["curation_pack_manifest"] = _curation_pack_oracle_sql()


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


# FULL twin of q_collated_dedup_counts: the normalize-then-distinct
# form the collated path must equal (lower() over the same
# deterministically case-varied text).
TWINS["collated_dedup_counts"] = """
    WITH keyed AS (
      SELECT lang, doc_id,
             string_split_regex(trim(text), '\\s+')[1] AS k
      FROM documents),
    varied AS (
      SELECT lang,
             CASE WHEN doc_id % 2 = 1 THEN upper(k) ELSE k END AS varied
      FROM keyed)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT varied) AS BIGINT) AS n_binary_distinct,
           CAST(count(DISTINCT lower(varied)) AS BIGINT) AS n_ci_distinct
    FROM varied
    GROUP BY 1
"""


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


# FULL twin of q_documents_stream_near_dup: the exact even↔odd pair
# scan at threshold 0.8 — the streamed LSH+verify pipeline equals it
# because banding recall ≈ 1 at 0.8 (the minhash_dedup_pairs S-curve
# bound; same jaccard snap and shingle derivation).
TWINS["documents_stream_near_dup"] = """
    WITH toks AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\\s+') AS t
                  FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id,
                    unnest(list_transform(range(1, len(t) - 1),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
             FROM toks)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS n_common
              FROM sh a JOIN sh b
                ON a.s = b.s AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5)
             / 1000000.0 AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE floor(n_common / (sa.n + sb.n - n_common) * 1000000 + 0.5)
            / 1000000.0 >= 0.8
"""
