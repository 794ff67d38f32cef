"""Transform operators — reference parity, zero Python UDFs.

Re-expresses the reference transform phase (``src/etl_pipeline.py:83-141``)
as composable DataFrame→DataFrame functions built purely from Column
expressions, so every step stays inside whole-stage codegen. The three
semantic traps from SURVEY.md §2.3 are encoded here:

- F2: duration is FRACTIONAL days (seconds/86400), not integer datediff
  (reference ``src/etl_pipeline.py:95``).
- F8: pandas ``weekday()>=5`` ⇔ Sat/Sun, but Spark ``dayofweek`` is
  Sun=1..Sat=7 — so the weekend test is ``isin(1, 7)``
  (reference ``src/etl_pipeline.py:186``).
- F3: success flag via native when/otherwise, not a row lambda
  (reference ``src/etl_pipeline.py:109``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Reference SUCCESS_STATES (src/etl_pipeline.py:108)
SUCCESS_STATES = ["successful"]

#: Final 13-column projection order (reference src/etl_pipeline.py:123-137)
FINAL_COLUMNS = [
    "ID",
    "name",
    "main_category",
    "category",
    "country",
    "backers",
    "pledged_usd",
    "goal_usd",
    "success_flag",
    "state",
    "launched_at",
    "deadline_at",
    "duration_days",
]


def parse_event_times(df: DataFrame) -> DataFrame:
    """F1: string→timestamp for launch/deadline (src/etl_pipeline.py:91-92).

    ``launched`` is 'yyyy-MM-dd HH:mm:ss'; ``deadline`` is 'yyyy-MM-dd'.
    Spark's default parser handles both; formats are not pinned so the
    operator also accepts already-typed timestamp columns.
    """
    return df.withColumn("launched_at", F.to_timestamp("launched")).withColumn(
        "deadline_at", F.to_timestamp("deadline")
    )


def fractional_days(end: Column | str, start: Column | str) -> Column:
    """F2: (end − start) in FRACTIONAL days (src/etl_pipeline.py:95).

    Cast-to-double keeps sub-second precision; ``datediff`` would give
    calendar-day integers and change the result hash.
    """
    end_c = F.col(end) if isinstance(end, str) else end
    start_c = F.col(start) if isinstance(start, str) else start
    # TimestampNTZ doesn't cast to double directly; go through timestamp
    # first (wall-clock identity under the UTC session timezone).
    return (
        end_c.cast("timestamp").cast("double") - start_c.cast("timestamp").cast("double")
    ) / F.lit(86400.0)


def with_duration_days(df: DataFrame) -> DataFrame:
    return df.withColumn("duration_days", fractional_days("deadline_at", "launched_at"))


def rename_monetary(df: DataFrame) -> DataFrame:
    """P2: usd_*_real → *_usd (src/etl_pipeline.py:100-103)."""
    return df.withColumnRenamed("usd_pledged_real", "pledged_usd").withColumnRenamed(
        "usd_goal_real", "goal_usd"
    )


def success_flag() -> Column:
    """F3: 1 iff state ∈ SUCCESS_STATES else 0 (src/etl_pipeline.py:106-110)."""
    return F.when(F.col("state").isin(*SUCCESS_STATES), 1).otherwise(0).cast("int")


def with_success_flag(df: DataFrame) -> DataFrame:
    return df.withColumn("success_flag", success_flag())


def drop_null(df: DataFrame) -> DataFrame:
    """P3: drop rows with a null ``name`` (src/etl_pipeline.py:112-119)."""
    return df.na.drop(subset=["name"])


def project_final(df: DataFrame) -> DataFrame:
    """P1: fixed-order projection (src/etl_pipeline.py:123-138)."""
    return df.select(*FINAL_COLUMNS)


def transform_kickstarter(df: DataFrame) -> DataFrame:
    """Full reference transform phase (src/etl_pipeline.py:83-141).

    parse dates → fractional duration → monetary rename → success flag →
    drop null names → 13-column projection. Lazy: Catalyst prunes the
    unused raw columns all the way down to the scan.
    """
    out = parse_event_times(df)
    out = with_duration_days(out)
    out = rename_monetary(out)
    out = with_success_flag(out)
    out = drop_null(out)
    return project_final(out)


# --- Inspection / data-quality operators (reference §2.8) ---


def state_distribution(df: DataFrame, state: str = "state") -> DataFrame:
    """A1/V3: value_counts() equivalent (src/etl_pipeline.py:78)."""
    return df.groupBy(state).count().orderBy(F.desc("count"), state)


def null_count(df: DataFrame, column: str) -> int:
    """A5: isnull().sum() equivalent (src/etl_pipeline.py:300)."""
    return df.filter(F.col(column).isNull()).count()
