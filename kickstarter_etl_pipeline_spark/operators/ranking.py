"""Range-rank and prefix-offset devices — the distributed form of the
reference's dense surrogate keys (sort the distinct rows, insert them
into an AUTOINCREMENT table: keys 1..N in sort order).

A global ``row_number()`` / running sum / ``ntile`` over a
``Window.orderBy(...)`` funnels every row through one task. The
devices here keep the sort distributed and move only CONTROL data to
the driver:

- :func:`two_phase_rank` — global rank (and optional running sum /
  exclusive running max) from range partitions plus ≤P per-partition
  offsets;
- :func:`grouped_two_phase_rank` — per-group rank for enumeration-
  bounded group keys, from one global rank minus G-row group offsets;
- :func:`collected_offsets` — exclusive prefix sums over a
  control-sized aggregate frame, as a driver-literal frame;
- :func:`ntile_exact` — ``ntile(k)`` recovered arithmetically from a
  global rank and the row count.

Every driver collect goes through :func:`_collect_prefix`, the one
exclusive-prefix fold, which refuses frames above
:data:`CONTROL_ROWS_CAP` rows.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from kickstarter_etl_pipeline_spark.session import default_parallelism

# Control frames collected to the driver: P range partitions (8 by
# default), G groups, deciles, depths. The largest any registry query
# collects at sf0.1 is 64 rows (the per-dimension counts behind
# embedding_dim_robust_stats); 4096 leaves room for n_parts sized to a
# cluster while still refusing a data-sized frame.
CONTROL_ROWS_CAP = 4096


def _collect_prefix(df: DataFrame, key, folds) -> "tuple[list, dict]":
    """Collect the control-sized ``df``, sort its rows by ``key`` and
    fold the exclusive prefix of each ``(field, combine)`` in ``folds``.

    Returns ``(rows, prefix)`` where ``prefix[field][i]`` combines the
    non-NULL ``field`` values of ``rows[:i]`` — NULL on the first row
    and while only NULLs precede, exactly like the oracles'
    ``agg(field) OVER (... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)``
    window frame. The accumulator folds x0, x0+x1, ... (not 0+x0), so
    float edge cases like -0.0 keep the window's bit pattern.

    Raises ``ValueError`` past :data:`CONTROL_ROWS_CAP` rows: a frame
    that large is data, not control, and belongs in a distributed plan.
    """
    rows = df.collect()
    if len(rows) > CONTROL_ROWS_CAP:
        raise ValueError(
            f"control frame has {len(rows)} rows, over CONTROL_ROWS_CAP="
            f"{CONTROL_ROWS_CAP}: a data-sized frame must not be collected "
            "to the driver"
        )
    rows.sort(key=key)
    prefix = {}
    for field, combine in folds:
        acc, out = None, []
        for r in rows:
            out.append(acc)
            v = r[field]
            if v is not None:  # window aggregates skip NULLs
                acc = v if acc is None else combine(acc, v)
        prefix[field] = out
    return rows, prefix


def two_phase_rank(
    df: DataFrame,
    order_cols: list,
    cum_col: str | None = None,
    n_parts: int | None = None,
    max_col: str | None = None,
) -> DataFrame:
    """TWO-PHASE distributed global rank (and optional global prefix
    sum) — the scale path that lifts the single-partition ceiling a
    `Window.orderBy(...)` global rank otherwise hits (SCALE.md,
    Windows): range-partition the rows by the sort key, rank (and
    partially prefix-sum) LOCALLY within each range partition, then add
    per-partition offsets computed from the partition aggregates — a
    P-row bounded collect (control data, one row per range partition)
    shipped back as a pid-indexed literal array. No partition ever
    sees more than its range's rows; the only all-data exchange is the
    range repartition — balanced by the range partitioner, never a
    single task.

    Adds a ``rank`` column (bit-identical to a plain global
    row_number over ``order_cols``), when ``cum_col`` is given a
    ``cum`` column equal to the inclusive running sum of ``cum_col``
    in that order, and when ``max_col`` is given a ``cum_max_excl``
    column equal to the EXCLUSIVE running max of ``max_col`` (NULL on
    the global first row) — the prefix-aggregate family the skyline /
    dominance operators ride. Determinism: the range partitioner's sampled
    boundaries vary run to run, but rank/cum are pure functions of the
    total order (``order_cols`` must be unique per row) — boundaries
    only move rows between partitions, never change the output.

    Over a distinct frame ordered by all its columns, ``rank`` is the
    reference's dense surrogate key, with no single-task stage.

    ``n_parts`` sizes the range split and is a DATA-sized knob, like
    the graph loops' ``loop_partitions``: the default (≤8) is the
    measured fixture optimum — the frames ranked here are usually
    post-aggregation and small, and a wider split only adds task
    dispatch (probed round 10: a partition-count-tracking default
    cost +30-80% on the bench consumers at sf0.1 with identical
    output). On a real cluster pass n_parts ≈ rows / the per-task row
    budget; correctness is partition-count-invariant by the argument
    above (property-tested), so the knob is pure performance.
    """
    n_parts = n_parts or max(2, min(default_parallelism(), 8))
    # Collision-proof working-column names (the bloom_prefilter device,
    # r7 self-review): a caller whose frame already carries `_pid` etc.
    # must get it back untouched. `rank`/`cum` are the documented OUTPUT
    # columns and deliberately replace same-named inputs.
    suffix = "2pr"
    while any(c.endswith(suffix) for c in df.columns):
        suffix += "x"
    pid, lrank, lcum = f"_pid_{suffix}", f"_lrank_{suffix}", f"_lcum_{suffix}"
    cnt, psum = f"_cnt_{suffix}", f"_psum_{suffix}"
    lmax, pmax = f"_lmax_{suffix}", f"_pmax_{suffix}"
    # A str entry means ascending; a Column entry is taken as-is, so
    # callers can rank descending (F.desc("metric")) — the range
    # partitioner and the local window share whatever direction is
    # given, which is all the correctness argument needs.
    order = [F.asc(c) if isinstance(c, str) else c for c in order_cols]
    parts = df.repartitionByRange(n_parts, *order).withColumn(
        pid, F.spark_partition_id()
    )
    wl = Window.partitionBy(pid).orderBy(*order)
    staged = parts.withColumn(lrank, F.row_number().over(wl))
    if cum_col is not None:
        staged = staged.withColumn(
            lcum,
            F.sum(cum_col).over(
                wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    if max_col is not None:
        staged = staged.withColumn(
            lmax,
            F.max(max_col).over(
                wl.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
    # ONE materialization of the range-partitioned, locally-ranked rows.
    # Load-bearing, not an optimization: RangePartitioner SAMPLES its
    # boundaries, so two independent executions of the same
    # repartitionByRange lineage (one for the ranks, one for the
    # offsets) may split rows differently — offsets computed from a
    # second execution could disagree with the _pid each row got in the
    # first. The checkpoint pins a single partitioning that both
    # consumers read.
    local = staged.localCheckpoint(eager=True)
    # P rows of control data: per-partition aggregates -> exclusive
    # prefix offsets, collected once and attached as a dense literal
    # array indexed by _pid — a pure projection, no exchange, no window,
    # no join. The prefixes fold in ascending-pid order, the order an
    # offsets window over the pids accumulates in; `F.get` (not element_at)
    # so an out-of-range pid yields NULL, not an ANSI error (cannot
    # happen — every data row's pid appears in the aggregate — but the
    # expression must not be able to raise).
    aggs = [F.count("*").alias(cnt)]
    folds = [(cnt, operator.add)]
    if cum_col is not None:
        aggs.append(F.sum(cum_col).alias(psum))
        folds.append((psum, operator.add))
    if max_col is not None:
        aggs.append(F.max(max_col).alias(pmax))
        folds.append((pmax, max))
    offsets_df = local.groupBy(pid).agg(*aggs)
    types = {f.name: f.dataType.simpleString() for f in offsets_df.schema.fields}
    rows, prefix = _collect_prefix(offsets_df, lambda r: r[pid], folds)
    n_slots = (rows[-1][pid] + 1) if rows else 1

    def _prefix_array(field):
        """Dense pid-indexed literal array of ``field``'s exclusive
        prefix. Missing pids keep NULL: no data row carries them, so
        the slot is never read."""
        vals = [None] * n_slots
        for r, v in zip(rows, prefix[field]):
            vals[r[pid]] = v
        return F.array(*[F.lit(v).cast(types[field]) for v in vals])

    idx = F.col(pid)
    # coalesce(prefix, 0): the first partition's offset is 0, as in the
    # window form coalesce(sum(...) OVER (...), 0)
    out = local.withColumn(
        "rank",
        (
            F.col(lrank)
            + F.coalesce(F.get(_prefix_array(cnt), idx), F.lit(0))
        ).cast("long"),
    )
    if cum_col is not None:
        out = out.withColumn(
            "cum",
            (
                F.col(lcum)
                + F.coalesce(F.get(_prefix_array(psum), idx), F.lit(0))
            ).cast("long"),
        )
    if max_col is not None:
        # greatest() skips NULLs: first partition has no prefix max, a
        # partition-local first row has no lmax; all-NULL (the global
        # first row) stays NULL — the exclusive-prefix contract.
        out = out.withColumn(
            "cum_max_excl",
            F.greatest(F.col(lmax), F.get(_prefix_array(pmax), idx)),
        )
    return out.drop(pid, lrank, lcum, lmax)


def collected_offsets(
    counts: DataFrame,
    order_cols: "list[str]",
    sums: "list[tuple[str, str]]",
) -> DataFrame:
    """Driver-literal exclusive prefix sums over a CONTROL-SIZED
    aggregate frame: collect ``counts`` (bounded by the caller's
    contract — dims, statuses, depth levels, …), running-sum each
    ``(src, out)`` in ascending ``order_cols`` order (first row 0, the
    ``coalesce(sum() OVER (... ROWS UNBOUNDED PRECEDING TO -1), 0)``
    contract; NULL keys first, like NULLS FIRST), and return the rows +
    long offset columns as a driver-local literal frame — a
    LocalTableScan, where an offsets window would need an Exchange
    SinglePartition + Sort + Window in every consumer plan. Exactness:
    all summed inputs are longs (asserted), so the Python running sum
    is the identical integer the window form computes."""
    for src, _ in sums:
        dt = counts.schema[src].dataType.simpleString()
        if dt != "bigint":
            raise TypeError(
                f"collected_offsets: {src} must be bigint (exact running "
                f"sums), got {dt}"
            )
    rows, prefix = _collect_prefix(
        counts,
        lambda r: tuple((r[c] is not None, r[c]) for c in order_cols),
        [(src, operator.add) for src, _ in sums],
    )
    out_rows = [
        tuple(r) + tuple(prefix[src][i] or 0 for src, _ in sums)
        for i, r in enumerate(rows)
    ]
    schema = T.StructType(
        list(counts.schema.fields)
        + [T.StructField(out, T.LongType(), False) for _, out in sums]
    )
    return counts.sparkSession.createDataFrame(out_rows, schema)


def grouped_two_phase_rank(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    n_col: str = "n_in_group",
) -> DataFrame:
    """Per-group ``row_number`` WITHOUT a per-group fat-partition
    window (round 10): one GLOBAL :func:`two_phase_rank` over the
    composite (group, order) total order, then
    ``rank_in_group = global rank − the group's exclusive offset``,
    where the offsets are a G-row broadcast of per-group counts
    prefix-summed in group order.

    Contract: **group CARDINALITY must be control-sized** (enumeration-
    bounded keys — statuses, priorities, a few dozen sources); each
    group's DATA may be arbitrarily large. This is the mirror image of
    ``Window.partitionBy(group)``: that plan is right for millions of
    SMALL groups (spread evenly, no funnel) and catastrophically wrong
    for a few huge ones (each group = one task); this device is right
    for a few huge groups (the range exchange splits every group
    across partitions) and wrong for millions of tiny ones (the G-row
    offsets would themselves be data-sized — :func:`_collect_prefix`
    refuses them).

    Adds ``rank_in_group`` (1-based within group) and ``n_col`` (the
    group size); ``group_cols`` must be plain column-name strings. A
    NULL group key is a group of its own, as in ``partitionBy``.
    """
    ranked = two_phase_rank(df, [*group_cols, *order_cols])
    # The counts read the rank's checkpointed rows, not a second scan
    # of df. The prefix sums ship back as a driver-literal frame
    # (collected_offsets: UTF-8 byte order == code-point order, so the
    # Python tuple sort reproduces the window's ORDER BY; None sorts
    # first like NULLS FIRST), broadcast-joined null-safely on renamed
    # keys so a NULL group keeps its rows.
    counts = ranked.groupBy(*group_cols).agg(F.count("*").cast("long").alias(n_col))
    keys = [f"_g{i}_g2pr" for i in range(len(group_cols))]
    offsets = collected_offsets(
        counts, list(group_cols), [(n_col, "_goff_g2pr")]
    ).toDF(*keys, n_col, "_goff_g2pr")
    on = [F.col(g).eqNullSafe(F.col(k)) for g, k in zip(group_cols, keys)]
    rest = [c for c in ranked.columns if c not in group_cols and c != "rank"]
    return ranked.join(F.broadcast(offsets), on).select(
        *group_cols,
        *rest,
        n_col,
        (F.col("rank") - F.col("_goff_g2pr")).cast("long").alias("rank_in_group"),
    )


def ntile_exact(rank_col, n_col, k: int):
    """``ntile(k)`` reproduced arithmetically from a global rank and the
    row count: the SQL-standard tile rule gives the FIRST ``n % k``
    buckets ``floor(n/k)+1`` rows and the rest ``floor(n/k)`` — NOT the
    equal-width ``1 + floor(k*(rank-1)/n)`` formula, which spreads the
    remainder across the range (they diverge whenever n % k ∉ {0, k-1};
    e.g. n=6, k=4 puts rank 4 in tile 2 vs tile 3). All operands are
    exact longs below 2^53, so the double divisions inside floor are
    exact; both engines agree bit-for-bit."""
    base = F.floor(n_col / F.lit(k)).cast("long")
    rem = (n_col % F.lit(k)).cast("long")
    cut = (base + F.lit(1)) * rem
    big = F.lit(1) + F.floor((rank_col - F.lit(1)) / (base + F.lit(1)))
    # greatest() guards the n < k corner (base = 0): the branch is never
    # taken there (cut = n bounds every rank), but keeps the unevaluated
    # expression finite.
    small = rem + F.lit(1) + F.floor(
        (rank_col - F.lit(1) - cut) / F.greatest(base, F.lit(1))
    )
    return F.when(rank_col <= cut, big).otherwise(small).cast("int")
