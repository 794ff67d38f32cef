"""Partitioning helpers for CPU-heavy per-row operators.

Small fixture tables arrive as a single parquet file → one input
partition → expression-heavy operators (shingling, hashing, vector
math) run single-threaded regardless of cluster size. These helpers
spread such inputs across the available parallelism. At real scale the
inputs already have many partitions and the helpers are no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame) -> DataFrame:
    """Store ``df``'s rows and return a frame that reads them back: the
    package's one way to materialize an intermediate, and its one
    ``localCheckpoint`` call. Materialize only where a step needs it —
    a frame two consumers read, a loop carry, an optimizer barrier, a
    range partitioning sampled once, or files the same call overwrites
    — and name that rule at the call.

    - Eager, never lazy. A lazy checkpoint materializes mid-job inside
      whichever action first touches it, and its cleanup races
      DAGScheduler accumulator updates: every bench run ended with
      thousands of "attempted to access non-existent accumulator" ERROR
      lines. Checkpointing in its own job up front is race-free.
    - A local checkpoint, never ``cache()``. A cached frame stays pinned
      in the session's CacheManager until an explicit unpersist that
      nobody is positioned to issue (the query registry returns lazy
      frames), so storage accretes across a long-lived session. The
      ContextCleaner releases checkpoint blocks as soon as the frame
      goes out of scope: no bookkeeping, bounded storage.
    - The trade-off: local checkpoint blocks do not survive executor
      loss, so a query that loses one restarts. Whether a reliable
      checkpoint is needed at 100 TB is decided here, for every caller.
    """
    return df.localCheckpoint(eager=True)


def ensure_min_partitions(df: DataFrame, barrier: bool = True) -> DataFrame:
    """Repartition only if the plan currently has fewer partitions.

    With ``barrier=True`` the repartitioned frame is materialized as an
    optimizer barrier: without it, Catalyst pushes downstream
    expression-heavy Projects/Filters below the Exchange
    (e.g. the not-empty filter InferFiltersFromGenerate derives from an
    explode, with the full shingle expression inlined), putting all the
    compute back into the single pre-shuffle partition. Measured on the
    5k-doc fixture: 27.6s single-threaded → 3.9s with the barrier on
    local[32]. The checkpoint stores only the raw repartitioned rows.

    Use ``barrier=False`` when the expensive downstream work is a join
    or aggregation — those can't sink below the exchange, and skipping
    the checkpoint avoids materializing the input.

    On already-parallel input — any real-scale table — this is a no-op.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        out = df.repartition(target)
        return materialize(out) if barrier else out
    return df


# Stored partition count of every loop-carried frame (loop_frame): the
# rank, label, frontier and edge frames carried round to round by
# graph.py's loops, dedup's connected-components loops and
# corpus.greedy_max_coverage. The stage feeding each checkpoint runs at
# this many tasks. These frames are DATA-sized (keyed by vertex, label
# or token), unlike the control-sized IVF/PCA loops.
#
# 8 is the measured fixture optimum: at bench scale, session-width
# rounds were mostly task-scheduling overhead (NOTES.md). On a cluster,
# set it to the carried frame's rows divided by the per-task row
# budget; a billion-vertex graph needs thousands. No result depends on
# it: the loops are integer-exact, or (pagerank, personalized pagerank,
# spectral) snap each round to a 1e-9 grid ~10 orders above the
# sum-order noise. That grid is an engineering margin, so re-grade the
# oracles after changing the width. tests/test_scale_paths.py runs the
# loops at width 3.
LOOP_PARTITIONS = 8


def loop_frame(df: DataFrame) -> DataFrame:
    """Pin an iterative loop-carried frame to ``LOOP_PARTITIONS`` stored
    partitions with a NARROW coalesce, then :func:`materialize` it.

    The pin is per frame, so it touches no session state: scoping a
    small ``spark.sql.shuffle.partitions`` over a loop body would leak
    the tiny width into any query planned concurrently on the shared
    session. It is a ``coalesce``, not a hash ``repartition``:
    partitioning INFO does not survive the checkpoint (the LogicalRDD
    scan reports unknown partitioning, so next-round joins re-exchange
    at session width regardless), so a hash exchange would pay a full
    shuffle per round for nothing but the stored partition COUNT, which
    the coalesce pins for free by merging the preceding stage's
    shuffle-read partitions. Interleaved A/B at sf0.1 across the seven
    graph-loop bench queries: 1.06×–1.83× faster than the hash
    exchange, results cell-identical (r15).

    Coalesce only SHRINKS: a frame already narrower than the constant
    keeps its width. Every call site feeds a post-shuffle frame at
    session width; a narrow frame that needs SPREADING is
    ensure_min_partitions' job, not this helper's. The constant is read
    at call time, so tests can narrow it with ``monkeypatch``.
    """
    return materialize(df.coalesce(LOOP_PARTITIONS))


# State-store partition count of the stateful streaming queries that
# pin it on an isolated_session: every transformWithState query (the
# session tws_sessionize.tws_session builds) and the chained hourly ->
# daily rollup.
# Streaming reads it from spark.sql.shuffle.partitions when the
# checkpoint is created. Like LOOP_PARTITIONS it is DATA-sized: it
# tracks open state keys ((window, event_type) groups, live users), not
# input volume or cores. Each state partition pays a commit per
# micro-batch, so at 32 the rollup's two stateful operators were mostly
# commit overhead (4.2 s -> 1.5 s at sf0.1 going 32 -> 8, byte-identical
# 145 rows), and events_tws_sessions ran 13.46 s cold at 8 against
# 16.39 s at 32 (sf0.1, local[4], min of 3 fresh processes per value,
# identical 95,465 rows). On a cluster, raise it only when the open-key
# count needs it. No emitted row depends on it: every operator is a
# per-key fold.
STATE_PARTITIONS = 8


def isolated_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """Return a child ``SparkSession`` with an ISOLATED SQLConf carrying
    ``confs``, sharing the parent's SparkContext and cached data.

    This is the sanctioned way to run a query under a different
    ``spark.sql.shuffle.partitions`` (or any session conf): Structured
    Streaming pins its state-store partition count from that conf at
    query start and exposes no per-query API, so a right-sized stateful
    query NEEDS a different value than the session default. The retired
    pattern — set/restore on the shared session around a synchronous
    run — was a concurrency trap in miniature: any batch query planned
    on the shared session inside the bracket silently inherited the
    override. ``newSession()`` removes the shared state entirely: the
    child has its own SQLConf and temp-view namespace but shares the
    SparkContext, external catalog, and cached RDDs, so there is no
    second JVM, no second UI, and nothing to restore.

    The conf mutation below targets the FRESH child session only —
    never a session the caller shares — which is why the structural
    tripwire (tests/test_graph_scale.py) whitelists exactly this
    function and nothing else.

    Temp views, memory-sink tables among them, are per-session:
    ``events_stream.run_to_memory`` reads a stream's table back through
    the session the stream was planned on, so a stream planned on the
    child returns through the child.
    """
    child = spark.newSession()
    for key, value in confs.items():
        child.conf.set(key, value)
    return child
