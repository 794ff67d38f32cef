"""Property-based tests (hypothesis): operators vs independent reference
implementations on randomized inputs.

Few examples, large strategy space — each example is a Spark round-trip,
so the budget goes to input diversity, not repetition.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from kickstarter_etl_pipeline_spark.operators.dedup import minhash_dedup_pairs, ngram_jaccard_pairs
from kickstarter_etl_pipeline_spark.operators.dims import dim_from_distinct
from kickstarter_etl_pipeline_spark.operators.joins import asof_join_backward, salted_join
from kickstarter_etl_pipeline_spark.operators.ranking import two_phase_rank
from kickstarter_etl_pipeline_spark.operators.text import rolling_hash

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from kickstarter_etl_pipeline_spark.session import get_spark

        _spark = get_spark("property-tests", master="local[8]")
    return _spark


@SETTINGS
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),          # user/key
            st.integers(0, 10_000),     # ts seconds
            st.sampled_from(["l", "r"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_asof_join_matches_bruteforce(events):
    spark = _get_spark()
    rows = [
        (i, key, ts, side) for i, (key, ts, side) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "sec", "side"]).withColumn(
        "ts", F.timestamp_seconds(F.col("sec"))
    ).withColumn("value", F.col("event_id") * 1.0)
    left = df.filter(F.col("side") == "l")
    right = df.filter(F.col("side") == "r")
    got = {
        (r["user_id"], r["event_id"]): r["asof_right_id"]
        for r in asof_join_backward(
            left, right, on="user_id", left_ts="ts", right_ts="ts",
            right_value_cols=["value"], left_id="event_id", right_id="event_id",
        ).collect()
    }
    # Brute force in Python: latest right with ts <= left ts; tie → max id at that ts
    rights = [(k, t, i) for i, (k, t, s) in enumerate(events) if s == "r"]
    for i, (k, t, s) in enumerate(events):
        if s != "l":
            continue
        candidates = [(rt, ri) for rk, rt, ri in rights if rk == k and rt <= t]
        expected = max(candidates)[1] if candidates else None
        assert got[(k, i)] == expected, (i, k, t, candidates)


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=12,
    )
)
def test_minhash_pairs_subset_of_exact(docs):
    spark = _get_spark()
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df, threshold=0.8).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_dedup_pairs(df, threshold=0.8).collect()}
    assert lsh <= exact
    # identical docs are always caught (every band collides)
    identical = {
        (a, b)
        for a, ta in enumerate(docs)
        for b, tb in enumerate(docs)
        if a < b and ta == tb and len(ta.split()) >= 3
    }
    assert identical <= lsh


@SETTINGS
@given(names=st.sets(st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=20))
def test_dim_keys_dense_and_sorted(names):
    spark = _get_spark()
    df = spark.createDataFrame([(n,) for n in names] * 2, ["state_name"]).repartition(4)
    dim = dim_from_distinct(df, ["state_name"], key_col="state_key").collect()
    by_key = sorted((r["state_key"], r["state_name"]) for r in dim)
    assert [k for k, _ in by_key] == list(range(1, len(names) + 1))
    assert [n for _, n in by_key] == sorted(names)


@SETTINGS
@given(text=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60))
def test_rolling_hash_matches_python(text):
    spark = _get_spark()
    df = spark.createDataFrame([(text,)], ["t"])
    got = df.select(rolling_hash("t").alias("h")).collect()[0]["h"]
    expected = 0
    for ch in text:
        expected = (expected * 31 + ord(ch)) % 1_000_000_007
    assert got == expected


def test_salted_join_equals_plain_join():
    spark = _get_spark()
    # skewed: 90% of rows share one key
    large = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], ["k", "payload"]
    )
    small = spark.createDataFrame([(i, f"v{i}") for i in range(0, 100)], ["k", "v"])
    plain = {tuple(r) for r in large.join(small, on=["k"]).collect()}
    salted = {tuple(r) for r in salted_join(large, small, on=["k"]).collect()}
    assert salted == plain


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(1, 15), st.integers(1, 15)), min_size=0, max_size=25
    )
)
def test_connected_components_match_union_find(edges):
    """Min-label propagation vs a driver-side union-find reference."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components

    spark = _get_spark()
    node_ids = list(range(1, 16))
    parent = {i: i for i in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expected = {i: min(j for j in node_ids if find(j) == find(i)) for i in node_ids}

    nodes = spark.createDataFrame([(i,) for i in node_ids], ["id"])
    edge_df = spark.createDataFrame(edges or [(1, 1)], ["src", "dst"])
    got = {r["id"]: r["component_id"] for r in connected_components(nodes, edge_df).collect()}
    assert got == expected


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(1, 15), st.integers(1, 15)), min_size=0, max_size=25
    )
)
def test_connected_components_star_match_union_find(edges):
    """Large-star/small-star vs the same driver-side union-find reference."""
    from kickstarter_etl_pipeline_spark.operators.dedup import connected_components_star

    spark = _get_spark()
    node_ids = list(range(1, 16))
    parent = {i: i for i in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expected = {i: min(j for j in node_ids if find(j) == find(i)) for i in node_ids}

    nodes = spark.createDataFrame([(i,) for i in node_ids], ["id"])
    edge_df = spark.createDataFrame(edges or [(1, 1)], ["src", "dst"])
    got = {
        r["id"]: r["component_id"]
        for r in connected_components_star(nodes, edge_df).collect()
    }
    assert got == expected


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),       # key
            st.integers(0, 5),       # day offset (duplicates exercise tie-break)
            st.integers(0, 1000),    # id
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda r: r[2],
    )
)
def test_scd2_versions_partition_timeline(rows):
    """SCD2 invariants: per key, versions are dense 1..N in (ts, id)
    order, each version's effective_to equals the next version's
    effective_from, and exactly the last version is current."""
    import datetime

    from kickstarter_etl_pipeline_spark.operators.dims import scd2_history

    spark = _get_spark()
    base = datetime.datetime(2024, 1, 1)
    data = [(k, base + datetime.timedelta(days=d), i) for k, d, i in rows]
    df = spark.createDataFrame(data, ["k", "ts", "id"])
    hist = scd2_history(df, ["k"], [], "ts", "id").collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r["k"], []).append(r)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["version"])
        assert [r["version"] for r in versions] == list(range(1, len(versions) + 1))
        expected_order = sorted(
            (r for r in hist if r["k"] == k), key=lambda r: (r["effective_from"], r["id"])
        )
        assert [r["id"] for r in versions] == [r["id"] for r in expected_order]
        for cur, nxt in zip(versions, versions[1:]):
            assert cur["effective_to"] == nxt["effective_from"]
            assert cur["is_current"] == 0
        assert versions[-1]["effective_to"] is None
        assert versions[-1]["is_current"] == 1


@SETTINGS
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 999),
            st.text(
                alphabet=st.sampled_from(list("abc xyz.09-_%+")), min_size=0, max_size=40
            ),
            st.booleans(),  # append a synthetic email?
            st.booleans(),  # append a synthetic URL?
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
def test_pii_scrub_idempotent_and_counts(docs):
    """Scrubbing is idempotent (the replacement tokens never re-match any
    pattern), and every injected email/URL is counted and removed."""
    from kickstarter_etl_pipeline_spark.operators.text import pii_scrub

    spark = _get_spark()
    rows = []
    for i, base, add_email, add_url in docs:
        t = base
        if add_email:
            t += f" u{i}@host{i}.org"
        if add_url:
            t += f" https://h{i}.example.com/p"
        rows.append((i, t, add_email, add_url))
    df = spark.createDataFrame(
        [(i, t) for i, t, _, _ in rows], ["doc_id", "text"]
    )
    once = pii_scrub(df).collect()
    by_id = {r["doc_id"]: r for r in once}
    for i, t, add_email, add_url in rows:
        r = by_id[i]
        assert r["n_emails"] >= int(add_email)
        assert r["n_urls"] >= int(add_url)
    # Idempotence: scrub(scrub(x)) == scrub(x). Rebuild a frame whose text
    # is the scrubbed text; counts must all be zero and md5s unchanged.
    # We can't read the scrubbed text back (only its md5), so scrub a
    # pre-scrubbed corpus built the same way driver-side.
    import re

    pats = [
        (r"https?://[^\s]+", "<URL>"),
        (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
        (r"555-[0-9]{4}", "<PHONE>"),
    ]
    scrubbed_py = []
    for i, t, _, _ in rows:
        s = t
        for pat, repl in pats:
            s = re.sub(pat, repl, s)
        scrubbed_py.append((i, s))
    df2 = spark.createDataFrame(scrubbed_py, ["doc_id", "text"])
    twice = {r["doc_id"]: r for r in pii_scrub(df2).collect()}
    for i, _ in scrubbed_py:
        assert twice[i]["n_urls"] == 0 and twice[i]["n_emails"] == 0 and twice[i]["n_phones"] == 0
        assert twice[i]["scrubbed_md5"] == by_id[i]["scrubbed_md5"]


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=25,
    )
)
@SETTINGS
def test_triangle_counts_match_brute_force(edges):
    """Degree-ordered triangle counting vs an O(n³) Python reference on
    random graphs of ≤ 10 vertices."""
    from itertools import combinations

    from kickstarter_etl_pipeline_spark.operators.graph import triangle_counts

    spark = _get_spark()
    undirected = {(min(a, b), max(a, b)) for a, b in edges}
    adj = {}
    for a, b in undirected:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for x in (a, b, c):
                expected[x] = expected.get(x, 0) + 1
    df = spark.createDataFrame(sorted(undirected), "u long, v long")
    got = {r["id"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=6,
    )
)
@SETTINGS
def test_containment_matches_set_arithmetic(docs):
    """containment_pairs vs Python set arithmetic over word 3-grams."""
    from kickstarter_etl_pipeline_spark.operators.dedup import containment_pairs

    spark = _get_spark()

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    import math

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    sh = {i: shingles(t) for i, t in enumerate(docs)}
    expected = {}
    for a in sh:
        for b in sh:
            if a < b and sh[a] and sh[b]:
                inter = len(sh[a] & sh[b])
                coef = r6(inter / min(len(sh[a]), len(sh[b])))
                if coef >= 0.5:
                    expected[(a, b)] = (
                        inter,
                        r6(inter / len(sh[a])),
                        r6(inter / len(sh[b])),
                        coef,
                    )
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (
            r["n_common"],
            r["containment_a"],
            r["containment_b"],
            r["overlap_coef"],
        )
        for r in containment_pairs(df, threshold=0.5).collect()
    }
    assert got == expected


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 50),   # unique-ified below
            st.integers(0, 5),    # heavily-tied sort value
        ),
        min_size=1,
        max_size=60,
    )
)
def test_two_phase_rank_matches_row_number(rows):
    """Distributed two-phase rank + prefix sum must be bit-identical to
    the single-window reference on arbitrary (skewed, tied) inputs."""
    from pyspark.sql import Window, functions as F

    spark = _get_spark()
    uniq = {k: v for k, v in rows}.items()  # unique keys (last wins)
    df = spark.createDataFrame([(k, v) for k, v in uniq], "k long, v long")
    got = two_phase_rank(df, ["v", "k"], cum_col="v", n_parts=4)
    w = Window.orderBy(F.asc("v"), F.asc("k"))
    want = df.select(
        "k",
        "v",
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
    )
    assert sorted(map(tuple, got.select("k", "v", "rank", "cum").collect())) == sorted(
        map(tuple, want.collect())
    )


@SETTINGS
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 3),          # user/key
            st.integers(0, 10_000),     # ts seconds
            st.sampled_from(["l", "r"]),
        ),
        min_size=1,
        max_size=40,
    ),
    tol=st.sampled_from([None, 0, 1_000_000, 3_000_000_000]),
)
def test_asof_forward_matches_bruteforce(events, tol):
    from kickstarter_etl_pipeline_spark.operators.joins import asof_join_forward

    spark = _get_spark()
    rows = [
        (i, key, ts, side) for i, (key, ts, side) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "sec", "side"]).withColumn(
        "ts", F.timestamp_seconds(F.col("sec"))
    ).withColumn("value", F.col("event_id") * 1.0)
    left = df.filter(F.col("side") == "l")
    right = df.filter(F.col("side") == "r")
    got = {
        (r["user_id"], r["event_id"]): (r["asof_right_id"], r["gap_us"])
        for r in asof_join_forward(
            left, right, on="user_id", left_ts="ts", right_ts="ts",
            right_value_cols=["value"], left_id="event_id", right_id="event_id",
            tolerance_us=tol,
        ).collect()
    }
    # Brute force: earliest right with ts >= left ts; tie -> MIN id at
    # that ts; dropped when outside the tolerance.
    rights = [(k, t, i) for i, (k, t, s) in enumerate(events) if s == "r"]
    for i, (k, t, s) in enumerate(events):
        if s != "l":
            continue
        candidates = [(rt, ri) for rk, rt, ri in rights if rk == k and rt >= t]
        expected = min(candidates) if candidates else None
        if expected is not None and tol is not None and (expected[0] - t) * 1_000_000 > tol:
            expected = None
        want = (expected[1], (expected[0] - t) * 1_000_000) if expected else (None, None)
        assert got[(k, i)] == want, (i, k, t, tol, candidates)
