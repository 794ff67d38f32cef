"""Join operators beyond Spark's built-ins: as-of join.

Spark has no native ASOF JOIN. The scalable formulation used here is the
union-merge: tag both sides, sort each key group by (ts, tag, id), and
carry the right side's latest values forward with last(ignorenulls) —
one shuffle on the key, no range-explosion, no per-row Python. This is
the standard big-data as-of pattern (a point-in-time join): cost is the
same as a window function over the unioned stream, O(n log n) per key
group, versus the quadratic blow-up of a naive range θ-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-mitigating equi-join: spread hot keys across salt buckets.

    The large side gets a deterministic per-row salt (hash of the whole
    row — duplicates co-locate, everything else spreads); the small side
    is replicated once per bucket. The join key becomes (key, salt), so
    one hot key's rows land on ``salt_buckets`` reducers instead of one.
    Use when AQE's skew-join split isn't available (e.g. it can't split a
    skewed BUILD side) or when the skew is known up front. Result is
    row-identical to the unsalted join for the supported join types.

    Only inner/left/left_semi/left_anti are supported: right/full outer
    would emit each unmatched small-side row once per salt bucket
    (``salt_buckets``× duplication), so those raise ValueError.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; got {how!r} — the replicated "
            "small side would duplicate unmatched right-side rows under right/full outer"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in large.columns]), F.lit(salt_buckets))
    salted_large = large.withColumn("_salt", salt.cast("int"))
    replicated_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return salted_large.join(replicated_small, on=on + ["_salt"], how=how).drop("_salt")


def asof_join_backward(left: DataFrame, right: DataFrame) -> DataFrame:
    """For each left event, attach the most recent right event of the
    same ``user_id`` with right ``ts`` <= left ``ts`` (backward as-of,
    tie → right wins). Both frames are events-shaped: ``user_id``,
    ``ts``, ``event_id`` and ``value``.

    Output: ``user_id``, ``event_id``, ``left_ts_us`` + ``asof_right_id``,
    ``asof_ts_us`` (exact microseconds of the matched right row) and
    ``asof_value``; null when no prior right row exists.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    tagged_right = right.select(
        F.col("user_id").alias("_key"),
        us.alias("_us"),
        F.lit(0).alias("_tag"),  # right sorts before left at equal ts → <= semantics
        F.col("event_id").cast("long").alias("_rid"),
        F.col("value").alias("_rv_value"),
        F.lit(None).cast("long").alias("_lid"),
    )
    tagged_left = left.select(
        F.col("user_id").alias("_key"),
        us.alias("_us"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast("long").alias("_rid"),
        F.lit(None).cast(dict(right.dtypes)["value"]).alias("_rv_value"),
        F.col("event_id").cast("long").alias("_lid"),
    )
    merged = tagged_right.unionByName(tagged_left)
    w = (
        Window.partitionBy("_key")
        .orderBy("_us", "_tag", F.coalesce("_rid", "_lid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry ONE struct (ts, id, values...) with a single last(ignorenulls)
    # and unpack it, so every asof_* column comes from the SAME right row.
    # Independent per-column carries would desynchronize when a right
    # row's value column is genuinely NULL: last(ignorenulls) on that
    # column would skip back to an OLDER right row's value while
    # asof_right_id points at the newer one (round-8 ADVICE finding).
    # The struct is non-null for every right row even when its value
    # fields are null, so a null value rides with its own row — matching
    # the per-row argmin any SQL twin computes (which emits NULL there).
    right_struct = F.when(
        F.col("_tag") == 0,
        F.struct(
            F.col("_us").alias("ts"),
            F.col("_rid").alias("rid"),
            F.col("_rv_value").alias("value"),
        ),
    )
    carried = merged.select(
        "_key",
        "_us",
        "_tag",
        "_lid",
        F.last(right_struct, ignorenulls=True).over(w).alias("_carry"),
    )
    return carried.filter(F.col("_tag") == 1).select(
        F.col("_key").alias("user_id"),
        F.col("_lid").alias("event_id"),
        F.col("_us").alias("left_ts_us"),
        F.col("_carry.rid").alias("asof_right_id"),
        F.col("_carry.ts").alias("asof_ts_us"),
        F.col("_carry.value").alias("asof_value"),
    )


def asof_join_forward(
    left: DataFrame, right: DataFrame, tolerance_us: int | None = None
) -> DataFrame:
    """For each left event, attach the EARLIEST right event of the same
    ``user_id`` with right ``ts`` >= left ``ts`` (forward as-of, tie →
    right wins; frames shaped as in :func:`asof_join_backward`), nulled
    out when the gap exceeds ``tolerance_us`` — the "next purchase
    within the attribution window" shape, the time-mirror of
    :func:`asof_join_backward` and the same single-shuffle union +
    running-carry device: one window pass per key, never a per-row
    range probe.

    The carry runs over DESCENDING time, so "last non-null seen" is
    the nearest following right row; at equal ts the right row sorts
    before the left (>= semantics) and simultaneous right rows iterate
    id-descending so the carried winner is the SMALLEST id — matching
    the (ts, id) ascending argmin any SQL twin computes.

    Output: ``user_id``, ``event_id``, ``left_ts_us`` +
    ``asof_value``/``asof_right_id``/
    ``asof_ts_us``/``gap_us`` (all null when no following right row
    exists inside the tolerance).
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    tagged_right = right.select(
        F.col("user_id").alias("_key"),
        us.alias("_us"),
        F.lit(0).alias("_tag"),  # right before left at equal ts → >= semantics
        F.col("event_id").cast("long").alias("_rid"),
        F.col("value").alias("_rv_value"),
        F.lit(None).cast("long").alias("_lid"),
    )
    tagged_left = left.select(
        F.col("user_id").alias("_key"),
        us.alias("_us"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast("long").alias("_rid"),
        F.lit(None).cast(dict(right.dtypes)["value"]).alias("_rv_value"),
        F.col("event_id").cast("long").alias("_lid"),
    )
    merged = tagged_right.unionByName(tagged_left)
    w = (
        Window.partitionBy("_key")
        .orderBy(F.desc("_us"), F.asc("_tag"), F.desc(F.coalesce("_rid", "_lid")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Single-struct carry — see asof_join_backward for why independent
    # per-column last(ignorenulls) carries would desynchronize on right
    # rows with NULL value columns (round-8 ADVICE finding).
    right_struct = F.when(
        F.col("_tag") == 0,
        F.struct(
            F.col("_us").alias("ts"),
            F.col("_rid").alias("rid"),
            F.col("_rv_value").alias("value"),
        ),
    )
    carried = merged.select(
        "_key",
        "_us",
        "_tag",
        "_lid",
        F.last(right_struct, ignorenulls=True).over(w).alias("_carry"),
    )
    out = carried.filter(F.col("_tag") == 1).select(
        F.col("_key").alias("user_id"),
        F.col("_lid").alias("event_id"),
        F.col("_us").alias("left_ts_us"),
        F.col("_carry.rid").alias("asof_right_id"),
        F.col("_carry.ts").alias("asof_ts_us"),
        F.col("_carry.value").alias("asof_value"),
    )
    gap = F.col("asof_ts_us") - F.col("left_ts_us")
    if tolerance_us is not None:
        inside = gap <= F.lit(tolerance_us)
        out = out.select(
            "user_id",
            "event_id",
            "left_ts_us",
            F.when(inside, F.col("asof_right_id")).alias("asof_right_id"),
            F.when(inside, F.col("asof_ts_us")).alias("asof_ts_us"),
            F.when(inside, F.col("asof_value")).alias("asof_value"),
        )
        gap = F.col("asof_ts_us") - F.col("left_ts_us")
    return out.withColumn("gap_us", gap)


def bloom_prefilter(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = 65536,
) -> DataFrame:
    """Bloom-style membership prefilter of ``fact`` against the key set
    of ``keys`` — the hand-rolled analog of Spark's runtime bloom-filter
    injection (spark.sql.optimizer.runtime.bloomFilter.*), kept fully
    declarative so the plan is inspectable and works at any threshold.

    Keys are hashed through a STRING cast: xxhash64 is type-sensitive
    in Spark (xxhash64(5::INT) != xxhash64(5::BIGINT)), so hashing the
    raw columns would silently drop every true match when the two
    sides' key types differ — the string rendering is the
    type-insensitive common form (round-6 self-review finding).

    The filter is a bitmap packed into 64-bit words built with ONE
    aggregate over the (small) key side — ``groupBy(word_idx) →
    bit_or(1 << bit_idx)`` — at most ``n_bits/64`` rows, broadcast-
    joined onto the fact by word index, then a bitwise AND test. One
    hash function (xxhash64), so FPR ≈ n_keys/n_bits; false positives
    are REMOVED by the exact join that follows in any caller — the
    prefilter only cuts shuffle volume, never changes results. At 100
    TB this is the pattern for cutting a fact-side shuffle when the
    dim predicate is selective but the dim is too big to broadcast
    whole: the bitmap is O(n_bits) regardless of dim width.
    """
    # Working columns carry a content-derived suffix so a caller whose
    # fact legitimately contains a column named e.g. `_fh` is never
    # silently overwritten then dropped (round-6 ADVICE finding). The
    # suffix is deterministic (no RNG — plans stay stable across runs)
    # and collision-checked against the caller's schema.
    suffix = "6b1f"
    while any(c.endswith(suffix) for c in fact.columns):
        suffix += "x"
    fh, widx, word = f"_fh_{suffix}", f"_word_idx_{suffix}", f"_word_{suffix}"
    bitmap = (
        keys.select(
            F.expr(f"pmod(xxhash64(cast(`{dim_key}` as string)), {n_bits})").alias(fh)
        )
        .select(
            F.expr(f"`{fh}` div 64").alias(widx),
            F.expr(f"shiftleft(1L, cast(`{fh}` % 64 as int))").alias("_bit"),
        )
        .groupBy(widx)
        .agg(F.expr("bit_or(_bit)").alias(word))
    )
    staged = fact.withColumn(
        fh, F.expr(f"pmod(xxhash64(cast(`{fact_key}` as string)), {n_bits})")
    ).withColumn(widx, F.expr(f"`{fh}` div 64"))
    return (
        staged.join(F.broadcast(bitmap), on=widx, how="inner")
        .filter(F.expr(f"(`{word}` & shiftleft(1L, cast(`{fh}` % 64 as int))) != 0"))
        .drop(fh, widx, word)
    )
