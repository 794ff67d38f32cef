"""Transform operators — reference parity, zero Python UDFs.

Re-expresses the reference transform phase (``src/etl_pipeline.py:83-141``)
as one projection and one filter built purely from Column expressions,
so every step stays inside whole-stage codegen. The three
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


def typed_kickstarter(df: DataFrame) -> DataFrame:
    """The reference transform's typing, as one projection onto
    :data:`FINAL_COLUMNS` (P1, src/etl_pipeline.py:123-138). Every row
    is kept: :func:`transform_kickstarter` filters with :func:`kept`."""
    # F1: string→timestamp (src/etl_pipeline.py:91-92). No format is
    # pinned: the default parser reads launched's 'yyyy-MM-dd HH:mm:ss'
    # and deadline's 'yyyy-MM-dd', and passes timestamp columns through.
    launched_at = F.to_timestamp("launched")
    deadline_at = F.to_timestamp("deadline")
    derived = {
        # P2: usd_*_real → *_usd (src/etl_pipeline.py:100-103)
        "pledged_usd": F.col("usd_pledged_real"),
        "goal_usd": F.col("usd_goal_real"),
        # F3: 1 iff state ∈ SUCCESS_STATES else 0 (src/etl_pipeline.py:106-110)
        "success_flag": F.when(F.col("state").isin(*SUCCESS_STATES), 1).otherwise(0).cast("int"),
        "launched_at": launched_at,
        "deadline_at": deadline_at,
        # F2: fractional days (src/etl_pipeline.py:95)
        "duration_days": fractional_days(deadline_at, launched_at),
    }
    return df.select(*(derived[c].alias(c) if c in derived else c for c in FINAL_COLUMNS))


def kept() -> Column:
    """P3: the rows the transform keeps, those with a non-null ``name``
    (src/etl_pipeline.py:112-119)."""
    return F.col("name").isNotNull()


def transform_kickstarter(df: DataFrame) -> DataFrame:
    """Full reference transform phase (src/etl_pipeline.py:83-141).

    Lazy: Catalyst prunes the unused raw columns all the way down to
    the scan.
    """
    return typed_kickstarter(df).filter(kept())


# --- Inspection / data-quality operators (reference §2.8) ---


def state_distribution(df: DataFrame, state: str = "state") -> DataFrame:
    """A1/V3: value_counts() equivalent (src/etl_pipeline.py:78)."""
    return df.groupBy(state).count().orderBy(F.desc("count"), state)


def null_count(df: DataFrame, column: str) -> int:
    """A5: isnull().sum() equivalent (src/etl_pipeline.py:300)."""
    return df.filter(F.col(column).isNull()).count()
