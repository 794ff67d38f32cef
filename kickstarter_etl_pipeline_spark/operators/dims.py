"""Dimension builders — distinct + sort + dense surrogate keys.

The reference assigns surrogate keys by sorting the distinct dimension
rows and inserting them into SQLite AUTOINCREMENT tables one by one
(``src/etl_pipeline.py:222-254``) — i.e. dense keys 1..N *in sort order*.
The set-based equivalent is ``row_number()`` over a global sort, which is
deterministic and matches the reference exactly.

Scale note: a global-order window funnels through one partition, which is
correct-by-construction for enumeration dims (statuses, categories:
≤ thousands of rows after the distinct shuffles away the fact volume).
For high-cardinality dims rank the distinct frame with
:func:`~kickstarter_etl_pipeline_spark.operators.ranking.two_phase_rank`,
which keeps the sort distributed (range partitions + per-partition
offsets) and assigns the same dense 1..N keys without a single-reducer
window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def dim_from_distinct(
    df: DataFrame,
    columns: list[str],
    key_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """A2/A3 + O1/O2 + A6: distinct rows, sorted, keyed 1..N.

    Mirrors the reference's drop_duplicates().sort_values() + AUTOINCREMENT
    insert loops (src/etl_pipeline.py:223,241) set-based.
    """
    order_cols = order_cols or columns
    # The single-partition funnel is EXPLICIT: coalesce(1) after the
    # distinct (output is enumeration-sized — see module docstring), and
    # the numbering window partitions on spark_partition_id(), which is
    # constant across that one partition. Same plan shape and cost as a
    # bare orderBy window, but with a partition defined, so WindowExec
    # doesn't emit its move-all-data warning on every execution (a bare
    # orderBy — or any foldable partition key like lit(0) — does).
    # High-cardinality dims use ranking.two_phase_rank instead.
    window = Window.partitionBy(F.spark_partition_id()).orderBy(*order_cols)
    return (
        df.select(*columns)
        .distinct()
        .coalesce(1)
        .withColumn(key_col, F.row_number().over(window).cast("int"))
        .select(key_col, *columns)
    )


def build_dim_date(df: DataFrame, ts_col: str) -> DataFrame:
    """Dim_Date: distinct dates + derived attributes (F4-F9).

    Reference load_dim_date (src/etl_pipeline.py:163-209): date_key is the
    natural YYYYMMDD int (no sequence), full_date a 'YYYY-MM-DD' string.
    is_weekend uses Spark dayofweek ∈ {1=Sun, 7=Sat} — equivalent to the
    reference's pandas weekday()>=5 (src/etl_pipeline.py:186).
    """
    d = F.col("_d")
    return (
        df.select(F.to_date(ts_col).alias("_d"))
        .distinct()
        .select(
            F.date_format(d, "yyyyMMdd").cast("int").alias("date_key"),
            F.date_format(d, "yyyy-MM-dd").alias("full_date"),
            F.year(d).cast("int").alias("year"),
            F.quarter(d).cast("int").alias("quarter"),
            F.month(d).cast("int").alias("month"),
            F.dayofmonth(d).cast("int").alias("day"),
            F.date_format(d, "EEEE").alias("day_of_week"),
            F.when(F.dayofweek(d).isin(1, 7), 1).otherwise(0).cast("int").alias("is_weekend"),
        )
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history: one row per observed
    version of a key, with half-open ``[effective_from, effective_to)``
    validity, a dense version number, and an ``is_current`` flag
    (effective_to is NULL on the open version).

    One window per key group (lead + row_number over the same ordering,
    single shuffle on the key) — millions of small groups spread evenly,
    no global sort. ``id_col`` breaks timestamp ties so versions are
    deterministic.
    """
    w = Window.partitionBy(*key_cols).orderBy("effective_from", id_col)
    return df.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("effective_from"),
        F.col(id_col),
    ).select(
        "*",
        F.lead("effective_from").over(w).alias("effective_to"),
        F.row_number().over(w).cast("int").alias("version"),
    ).withColumn(
        "is_current", F.when(F.col("effective_to").isNull(), 1).otherwise(0).cast("int")
    )


def date_key(ts_col) -> Column:
    """F9: YYYYMMDD int key, computable inline — the derived-key shortcut
    that lets the fact build skip the date-dim join entirely (SURVEY.md J3)."""
    return F.date_format(ts_col, "yyyyMMdd").cast("int")
