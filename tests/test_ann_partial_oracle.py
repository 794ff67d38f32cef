"""Partial DuckDB oracles for the approximate-ANN tier.

`ann_lsh_topk` / `ann_ivf_topk` are approximate by design, so they have
no exact hash-match oracle — but approximation still has checkable
contracts, verified here against DuckDB as an independent arbiter
(not Spark-vs-Spark):

1. Soundness: every emitted (query, neighbor) pair must lie in DuckDB's
   exact brute-force top-2k for that query — ANN may drop true
   neighbors, but anything it DOES emit must be a genuinely close one.
2. Value correctness: the cosine_sim reported for an emitted pair must
   equal DuckDB's exact similarity for that pair (the approximation is
   in candidate pruning only — scoring is exact re-ranking).
3. Recall floor vs DuckDB's exact top-k.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as ENTRY

TOPK_SQL = """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (SELECT query_id, neighbor_id,
                      round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
               FROM q, c WHERE neighbor_id <> query_id),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, cosine_sim FROM ranked WHERE rank <= {k}
"""


@pytest.fixture(scope="module")
def duck_exact(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    top20 = {
        (int(q), int(n)): s for q, n, s in con.sql(TOPK_SQL.format(k=20)).fetchall()
    }
    top10 = {
        (int(q), int(n)): s for q, n, s in con.sql(TOPK_SQL.format(k=10)).fetchall()
    }
    top5 = {(int(q), int(n)) for q, n, _ in con.sql(TOPK_SQL.format(k=5)).fetchall()}
    return top20, top10, top5


@pytest.mark.parametrize(
    "name,recall_floor,sound_window",
    [
        ("ann_lsh_topk", 0.8, 2),
        ("ann_ivf_topk", 0.5, 2),
        # ann_ivf_anchor_topk also carries a FULL hash-match oracle
        # (qdefs_embeddings.TWINS); the invariants here pin it
        # against EXACT brute force besides. Its soundness window is 4k
        # (top-20), not 2k: an UNTRAINED 16-cell index probing 4 cells
        # scans ~1/4 of the corpus, so a rank-5 emission can sit deeper
        # in the exact ranking than k-means cells allow — the price of
        # a replayable, training-free index build.
        ("ann_ivf_anchor_topk", 0.5, 4),
    ],
)
def test_ann_partial_oracle(spark, sf_dir, duck_exact, name, recall_floor, sound_window):
    top20, top10, topk = duck_exact
    sound = top20 if sound_window == 4 else top10
    rows = ENTRY.queries()[name](spark, sf_dir).collect()
    emitted = {(int(r["query_id"]), int(r["neighbor_id"])): r["cosine_sim"] for r in rows}
    assert emitted, f"{name} returned nothing"

    # 1. Soundness: emitted ⊆ exact top-(sound_window · k).
    outside = [p for p in emitted if p not in sound]
    assert not outside, f"{name} emitted non-near neighbors: {outside}"

    # 2. Exact scoring on emitted pairs (bit-equal post-rounding, the
    #    same contract the fully-oracle'd queries carry).
    wrong = {p: (emitted[p], sound[p]) for p in emitted if emitted[p] != sound[p]}
    assert not wrong, f"{name} mis-scored pairs: {wrong}"

    # 3. Recall floor vs exact top-k.
    recall = len(set(emitted) & topk) / len(topk)
    assert recall >= recall_floor, f"{name} recall {recall:.3f} < {recall_floor}"
