"""Unit tests for the round-6 mining operators (query-level oracle
parity is covered by test_oracle_parity's automatic parametrization)."""

from pyspark.sql import functions as F


def test_bloom_prefilter_superset_and_transparency(spark):
    """The prefilter output must contain EVERY true match (no false
    negatives — the correctness half of a bloom filter) and the exact
    join over the prefiltered fact must equal the plain join."""
    from kickstarter_etl_pipeline_spark.operators.joins import bloom_prefilter

    fact = spark.range(0, 5000).select(F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
    keys = spark.range(0, 5000, 13).select(F.col("id").alias("k"))  # every 13th key
    pre = bloom_prefilter(fact, keys, "k", "k", n_bits=4096)
    true_matches = fact.join(keys, "k", "left_semi")
    # no false negatives: every true match survives the prefilter
    assert true_matches.join(pre, "k", "left_anti").count() == 0
    # transparency: exact join after prefilter == plain join
    a = sorted(pre.join(keys, "k").select("k", "v").collect())
    b = sorted(fact.join(keys, "k").select("k", "v").collect())
    assert a == b
    # and it actually prunes (FPR ~ 385/4096 ≈ 9%, far below 100%)
    assert pre.count() < fact.count() * 0.5


def test_bloom_prefilter_preserves_caller_columns(spark):
    """A caller whose fact already carries columns named like the
    prefilter's working columns (`_fh`, `_word_idx`, `_word`) must get
    them back untouched — the round-6 draft withColumn'd directly onto
    those names, silently replacing then DROPPING the caller's data
    (ADVICE r6 finding)."""
    from kickstarter_etl_pipeline_spark.operators.joins import bloom_prefilter

    fact = spark.range(0, 500).select(
        F.col("id").alias("k"),
        F.col("id").alias("_fh"),
        (F.col("id") * 2).alias("_word_idx"),
        (F.col("id") * 3).alias("_word"),
    )
    keys = spark.range(0, 500, 7).select(F.col("id").alias("k"))
    pre = bloom_prefilter(fact, keys, "k", "k", n_bits=4096)
    assert set(pre.columns) == {"k", "_fh", "_word_idx", "_word"}
    row = pre.filter(F.col("k") == 7).collect()[0]
    assert (row["_fh"], row["_word_idx"], row["_word"]) == (7, 14, 21)


def test_duplicate_ngram_spans_edges(spark):
    """Short docs (<n tokens) report 0 positions / NULL ratio; a doc
    repeating another's text has every position duplicated."""
    from kickstarter_etl_pipeline_spark.operators.dedup import duplicate_ngram_span_stats

    base = "a b c d e f g h i j"  # 10 tokens -> 3 positions of 8-grams
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "too short"), (4, "u v w x y z q r s t")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicate_ngram_span_stats(docs).collect()}
    assert out[1]["n_positions"] == 3 and out[1]["n_dup_positions"] == 3
    assert out[1]["dup_ratio"] == 1.0 and out[2]["dup_ratio"] == 1.0
    assert out[3]["n_positions"] == 0 and out[3]["dup_ratio"] is None
    assert out[4]["n_positions"] == 3 and out[4]["n_dup_positions"] == 0


def test_link_prediction_square_graph(spark):
    """On a 4-cycle a-b-c-d-a, the two diagonals (a,c) and (b,d) are the
    only non-adjacent pairs, each with 2 common neighbors and
    Jaccard = 2/(2+2-2) = 1.0."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        common_neighbor_link_prediction,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "u long, v long"
    )
    rows = {(r["u"], r["v"]): r for r in common_neighbor_link_prediction(edges).collect()}
    assert set(rows) == {(1, 3), (2, 4)}
    for r in rows.values():
        assert r["n_common"] == 2 and r["jaccard_score"] == 1.0


def test_minhash_estimate_identical_docs(spark):
    """Identical documents must estimate Jaccard 1.0 with zero error."""
    from kickstarter_etl_pipeline_spark.operators.dedup import (
        minhash_md5_estimate_vs_exact,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    rows = minhash_md5_estimate_vs_exact(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["exact_jaccard"] == 1.0 and r["est_jaccard"] == 1.0 and r["abs_err"] == 0.0


def test_cusum_prefix_sum_equals_clamped_fold(spark):
    """The window formulation s_t = P_t − min(0, min_{j≤t} P_j) must
    equal the literal clamped fold max(0, s_{t-1} + δ_t) — checked in
    exact nano-grid integers against a Python replay."""
    import math

    import __spark_entry__ as ENTRY
    from tests.conftest import SF_SMOKE

    out = {
        r["event_type"]: r
        for r in ENTRY.queries()["events_cusum_drift"](spark, SF_SMOKE).collect()
    }
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    daily: dict = {}
    for r in ev:
        day = (r["ts"].replace(tzinfo=None) - __import__("datetime").datetime(1970, 1, 1)).days
        daily.setdefault(r["event_type"], {}).setdefault(day, 0)
        daily[r["event_type"]][day] += 1
    for et, by_day in daily.items():
        xs = [by_day[d] for d in sorted(by_day)]
        n = len(xs)
        mu = sum(xs) / n
        sigma = math.sqrt(sum(x * x for x in xs) / n - mu * mu)
        s = 0
        mx = 0
        for x in xs:
            d9 = math.floor((x - mu - sigma / 2) * 1e9 + 0.5)
            s = max(0, s + d9)
            mx = max(mx, s)
        r = out[et]
        assert r["n_days"] == n
        assert r["max_cusum"] == math.floor(mx / 1e9 * 1e6 + 0.5) / 1e6
        assert r["end_cusum"] == math.floor(s / 1e9 * 1e6 + 0.5) / 1e6


def test_priority_sample_matches_python_replay(spark):
    """The A-Res top-5 per source must equal a Python replay of the
    md5-priority computation (reproducibility is the operator's point)."""
    import hashlib
    import math

    import __spark_entry__ as ENTRY
    from tests.conftest import SF_SMOKE

    rows = ENTRY.queries()["priority_weighted_sample"](spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    ).collect()
    by_source: dict = {}
    for d in docs:
        h = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:12], 16)
        u = (h + 1) / 16**12
        k9 = math.floor(math.log(u) / d["n_chars"] * 1e9 + 0.5)
        by_source.setdefault(d["source"], []).append((-k9, d["doc_id"]))
    expected = set()
    for src, lst in by_source.items():
        for rank, (_, doc_id) in enumerate(sorted(lst)[:5], start=1):
            expected.add((src, rank, doc_id))
    got = {(r["source"], r["rank"], r["doc_id"]) for r in rows}
    assert got == expected


def test_mmr_prefers_diverse_over_duplicate(spark):
    """With a near-duplicate of the best candidate in the pool, MMR must
    pick the DIVERSE second result where plain top-k would pick the
    duplicate — the operator's reason to exist."""
    from kickstarter_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        mmr_diversified_topk,
    )

    rows = [
        (0, [1.0, 0.0]),        # query
        (100, [0.8, 0.6]),      # best match (rel 0.8)
        (101, [0.8, 0.6]),      # exact duplicate: mmr = .7*.8 - .3*1 = .26
        (102, [0.6, -0.8]),     # diverse (orthogonal to 100): mmr = .7*.6 = .42
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter("vec_id >= 100")
    q = df.filter("vec_id = 0")
    plain = [r["neighbor_id"] for r in brute_force_topk(corpus, q, k=2).orderBy("rank").collect()]
    assert plain == [100, 101]  # top-k happily returns the duplicate
    mmr = [
        r["neighbor_id"]
        for r in mmr_diversified_topk(corpus, q, k=2, pool=3).orderBy("rank").collect()
    ]
    assert mmr == [100, 102]  # MMR penalizes the duplicate, picks diverse


def test_table_diff_report_invariants(spark):
    """Per bucket: v1 = deleted + updated + unchanged, v2 = inserted +
    updated + unchanged; checksums agree exactly on buckets with no
    changes and differ where any row changed."""
    import __spark_entry__ as ENTRY
    from tests.conftest import SF_SMOKE

    rows = ENTRY.queries()["table_diff_report"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_v1"] == r["n_deleted"] + r["n_updated"] + r["n_unchanged"]
        assert r["n_v2"] == r["n_inserted"] + r["n_updated"] + r["n_unchanged"]
        changed = r["n_deleted"] + r["n_inserted"] + r["n_updated"]
        if changed == 0:
            assert r["checksum_v1"] == r["checksum_v2"]
    # the construction guarantees every class is non-empty overall
    assert sum(r["n_deleted"] for r in rows) > 0
    assert sum(r["n_inserted"] for r in rows) > 0
    assert sum(r["n_updated"] for r in rows) > 0
    assert sum(r["n_unchanged"] for r in rows) > 0


def test_bloom_prefilter_type_mismatch_keys(spark):
    """xxhash64 is type-sensitive; the string-cast hashing must keep the
    no-false-negatives guarantee even when key types differ (int fact
    key vs bigint dim key)."""
    from kickstarter_etl_pipeline_spark.operators.joins import bloom_prefilter

    fact = spark.range(0, 2000).selectExpr("cast(id as int) as k")
    keys = spark.range(0, 2000, 13).selectExpr("cast(id as bigint) as k")
    pre = bloom_prefilter(fact, keys, "k", "k", n_bits=4096)
    true_matches = fact.join(keys.selectExpr("cast(k as int) as k"), "k", "left_semi")
    assert true_matches.count() > 0
    assert true_matches.join(pre, "k", "left_anti").count() == 0


def test_link_prediction_tolerates_duplicate_edges(spark):
    """Duplicate and bidirectional edge rows must not inflate degrees or
    common-neighbor counts."""
    from kickstarter_etl_pipeline_spark.operators.graph import (
        common_neighbor_link_prediction,
    )

    clean = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (1, 4)], "u long, v long")
    noisy = clean.unionAll(
        spark.createDataFrame([(2, 1), (1, 2), (3, 2), (4, 3)], "u long, v long")
    )
    a = sorted(map(tuple, common_neighbor_link_prediction(clean).collect()))
    b = sorted(map(tuple, common_neighbor_link_prediction(noisy).collect()))
    assert a == b


def test_countmin_never_underestimates(spark, sf_dir):
    """The Cormode–Muthukrishnan guarantee is one-sided: a Count-Min
    estimate can only overcount (colliding mass adds). Any negative
    overestimate means the sketch construction is broken."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_countmin_heavy_hitters,
    )

    rows = q_countmin_heavy_hitters(spark, sf_dir).collect()
    assert rows
    assert all(r["overestimate"] >= 0 for r in rows), [
        (r["token"], r["overestimate"]) for r in rows if r["overestimate"] < 0
    ][:5]


def test_hll_manual_within_5_sigma(spark, sf_dir):
    """m=256 registers → rsd ≈ 1.04/√256 = 6.5%; grade at 5σ (±32.5%)
    per the sketch-tolerance discipline (NOTES: tolerances in sigma,
    not gut feel). The fixture lands in the linear-counting regime
    where the error is far smaller — the bound is the contract, the
    parity grade pins the exact value."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_hll_manual_report,
    )

    row = q_hll_manual_report(spark, sf_dir).collect()[0]
    assert row["true_distinct"] > 0
    assert abs(row["rel_error"]) <= 0.325, row


def test_hll_registers_partition_and_merge_invariant(spark, sf_dir):
    """The HLL register table must be invariant under (a) input
    repartitioning and (b) sharded build + merge (union of per-shard
    register tables folded with groupBy-max) — the two properties that
    make the sketch sound on a 1000-executor cluster, the analog of the
    DataSketches merge-invariance test (r8 verdict task 7). Exercises
    the exact shipped code path (hll_registers feeds
    q_hll_manual_report)."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import hll_registers
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    base = {(r["reg"], r["_m"]) for r in hll_registers(users).collect()}
    assert base  # non-degenerate fixture

    repart = hll_registers(users.repartition(7)).collect()
    assert {(r["reg"], r["_m"]) for r in repart} == base

    # sharded build: split by a hash unrelated to the register hash,
    # build one register table per shard, merge with groupBy-max
    shard = F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(3))
    shards = [
        hll_registers(users.filter(shard == i)) for i in range(3)
    ]
    merged = shards[0]
    for s in shards[1:]:
        merged = merged.unionByName(s)
    merged = merged.groupBy("reg").agg(F.max("_m").alias("_m"))
    assert {(r["reg"], r["_m"]) for r in merged.collect()} == base


def test_t_closeness_flag_is_exact(spark, sf_dir):
    """The t = 0.2 violation flag is decided by integer
    cross-multiplication, never by the rounded float EMD — so wherever
    the reported EMD is clear of the 0.2 boundary, the two must agree;
    and class sizes must partition the corpus."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_t_closeness_report,
    )

    rows = q_t_closeness_report(spark, sf_dir).collect()
    assert rows
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["class_size"] for r in rows) == n_docs
    for r in rows:
        assert 0.0 <= r["emd"] <= 1.0
        if abs(r["emd"] - 0.2) > 1e-5:
            assert r["violates_t02"] == (1 if r["emd"] > 0.2 else 0), r


def test_bpe_apply_merge_semantics(spark):
    """The single-pass fold must be Sennrich's left-to-right
    NON-OVERLAPPING merge_vocab: 'a a a' + (a,a) -> 'aa a' (a fresh
    merge never re-matches lhs), 'a a a a' -> 'aa aa', a merge rule
    (a,b) must not fire when the next SYMBOL merely starts with b
    ([a, bc]), and lhs must match the whole last symbol ([xa, b])."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import _bpe_apply_merge

    cases = [
        ("a a a", "a", "a", "aa a"),
        ("a a a a", "a", "a", "aa aa"),
        ("a b a b", "a", "b", "ab ab"),
        ("a bc", "a", "b", "a bc"),
        ("xa b", "a", "b", "xa b"),
        ("h e l l o", "l", "l", "h e ll o"),
        ("ab", "a", "b", "ab"),
    ]
    df = spark.createDataFrame(
        [(i, seq) for i, (seq, _, _, _) in enumerate(cases)], "i int, seq string"
    )
    for i, (seq, lhs, rhs, want) in enumerate(cases):
        got = (
            df.filter(F.col("i") == i)
            .select(_bpe_apply_merge(F.col("seq"), lhs, rhs).alias("m"))
            .collect()[0]["m"]
        )
        assert got == want, (seq, lhs, rhs, got, want)


def test_bpe_train_matches_reference_algorithm(spark, sf_dir):
    """Cross-check the distributed trainer against an independent
    pure-Python implementation of Sennrich et al. 2016's get_stats /
    merge_vocab loop (tuple-keyed dicts, no string folds — a genuinely
    different mechanism) on the full sf0.001 corpus: all 8 merge rules,
    their selection-time counts, AND the post-application corpus
    symbol totals must agree exactly."""
    import re
    from collections import Counter

    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_bpe_train_merges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = Counter()
    for r in docs.select("text").collect():
        for w in re.split(r"\s+", r["text"].strip().lower()):
            if len(w) >= 2:
                words[tuple(w)] += 1

    expected = []
    vocab = dict(words)
    for rank in range(1, 9):
        stats = Counter()
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += freq
        if not stats:
            break
        (lhs, rhs), cnt = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        new_vocab = {}
        for syms, freq in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab
        total = sum(len(s) * f for s, f in vocab.items())
        expected.append((rank, lhs, rhs, lhs + rhs, cnt, total))

    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"],
         r["symbols_after"])
        for r in q_bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_bpe_tokenized_stats_consistent_with_training(spark, sf_dir):
    """The composed unit must be internally consistent with the
    trainer it reuses: the grid's total BPE token count equals the
    final merge round's symbols_after (both are the corpus-weighted
    symbol total under all 8 merges), every fertility is >= 1e6
    (a merge never splits a word), and n_chars >= bpe_tokens (a
    symbol is >= 1 char)."""
    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_bpe_tokenized_stats,
        q_bpe_train_merges,
    )

    merges = q_bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    grid = q_bpe_tokenized_stats(spark, sf_dir).collect()
    assert sum(r["bpe_tokens"] for r in grid) == merges[-1]["symbols_after"]
    for r in grid:
        assert r["fertility_micro"] >= 1_000_000
        assert r["n_chars"] >= r["bpe_tokens"]
        assert r["compression_micro"] <= 1_000_000


def test_bpe_pack_consistent_with_family(spark, sf_dir):
    """The pack unit must agree with its siblings: the corpus total of
    learned-tokenizer tokens equals the trainer's final symbols_after
    plus one symbol per sub-2-char token (the fallback the trainer's
    length filter excludes), offsets stay inside the 128-token window,
    and bin ids
    are monotone in doc order within every source."""
    from collections import defaultdict

    from kickstarter_etl_pipeline_spark.operators.mining_queries import (
        q_bpe_pack_manifest,
        q_bpe_train_merges,
    )

    from pyspark.sql import functions as F

    merges = q_bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    rows = q_bpe_pack_manifest(spark, sf_dir).collect()
    short = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"))
        .filter(F.length("w") < 2)
        .count()
    )
    assert (
        sum(r["n_bpe_tokens"] for r in rows)
        == merges[-1]["symbols_after"] + short
    )
    per_source = defaultdict(list)
    for r in rows:
        assert 0 <= r["bin_offset"] < 128
        per_source[r["source"]].append((r["doc_id"], r["bin_id"]))
    for docs in per_source.values():
        docs.sort()
        bins = [b for _, b in docs]
        assert bins == sorted(bins)
