"""SQL fragments that DuckDB twins in more than one query module share.

Each query module keeps its own twins in ``TWINS`` beside the queries;
only a fragment that twins of two or more modules splice in, or that
renders a constant the Spark side also reads, lives here.

``_TOKS`` and ``_NORM`` are the twin side of ``operators.text.tokens``
and ``operators.text.normalized``: split the trimmed, lower-cased text
on whitespace runs, and collapse those runs to one space.

The co-occurrence builders replay the graph device's per-bucket
occupancy bound. operators.graph.cooccurrence_nodes applies a hard
per-join-key occupancy bound to the error co-occurrence self-join:
within each time bucket, users are ranked by ``(md5(user_id),
user_id)`` — deterministic and engine-portable — and split into
sub-buckets of at most OCCUPANCY_CAP members; pair joins are keyed by
``(bucket, sub_bucket)``. The builders emit the byte-for-byte DuckDB
replay of that ranking so every graph-tier twin (pagerank, label
propagation, k-core, BFS, spectral, Bellman-Ford, triangles,
clustering coefficients, assortativity, Adamic-Adar, link prediction)
builds the identical edge set at every scale — including above the
cap, where sub-bucketing actually engages.

Determinism notes: DuckDB ``md5(CAST(user_id AS VARCHAR))`` equals
Spark ``F.md5(F.col("user_id").cast("string"))`` (same decimal string
rendering of BIGINT, same lowercase-hex digest, same byte-lexicographic
string order); ``(rank - 1) // cap`` on BIGINT equals Spark's
``floor((row_number - 1) / cap)`` for any rank below 2^53. The md5
hash is injective per bucket (users are distinct), but user_id stays
as an explicit tie-break on both engines anyway.

Query modules import this module, so it imports nothing from the
package but the import-free ``constants``: any other package import
here risks a cycle.
"""

from __future__ import annotations

from kickstarter_etl_pipeline_spark.constants import LANG_MARKERS, OCCUPANCY_CAP

_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"


def markers(lang: str) -> str:
    """``constants.LANG_MARKERS[lang]`` as a DuckDB list literal, the
    twin side of the marker lists ``operators.text`` scores."""
    return "[" + ",".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"


def ranked_cooccurrence_nodes(width_us: int, name: str = "n") -> str:
    """One CTE body: distinct (b, sb, user_id) error-event nodes with
    the hash-ordered sub-bucket column. Splice as
    ``WITH {ranked_cooccurrence_nodes(...)}, edges AS (...)`` and join
    pairs ``ON a.b = c.b AND a.sb = c.sb AND a.user_id < c.user_id``.
    """
    return f"""{name} AS (
      SELECT b, user_id,
             (row_number() OVER (PARTITION BY b
                                 ORDER BY md5(CAST(user_id AS VARCHAR)), user_id)
              - 1) // {OCCUPANCY_CAP} AS sb
      FROM (SELECT DISTINCT CAST(floor(epoch_us(ts) / {width_us}) AS BIGINT) AS b,
                            user_id
            FROM events WHERE event_type = 'error'))"""


def cooccurrence_edge_ctes(
    width_us: int,
    nodes: str = "n",
    edges: str = "edges",
    materialized: bool = False,
) -> str:
    """The full node + distinct-edge CTE pair most graph twins need."""
    mat = " MATERIALIZED" if materialized else ""
    return f"""{ranked_cooccurrence_nodes(width_us, nodes)},
    {edges} AS{mat} (
      SELECT DISTINCT a.user_id AS u, c.user_id AS v
      FROM {nodes} a JOIN {nodes} c
        ON a.b = c.b AND a.sb = c.sb AND a.user_id < c.user_id)"""
