"""Fact-table assembly — broadcast dimension joins (J1-J3).

The reference keys the fact table with three hand-rolled dict lookups
(``src/etl_pipeline.py:260-262``): ``state_map`` (single-key), ``category_map``
(composite key, probed with a per-row ``apply(axis=1)`` — its slowest line),
and ``date_map``. Those dicts ARE broadcast hash-join build sides; here they
become actual broadcast left joins, so the probe stays inside whole-stage
codegen, nothing is collected to the driver, and the fact side never shuffles.

``.map()``/``.get()`` return NaN on a missed key, so the joins are LEFT OUTER
to preserve reference semantics (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kickstarter_etl_pipeline_spark.operators.dims import date_key


def join_dim(fact: DataFrame, dim: DataFrame, on: list[str] | F.Column) -> DataFrame:
    """Left join a (small) dimension onto a fact, keeping fact partitioning."""
    return fact.join(F.broadcast(dim), on=on, how="left")


def build_fact_campaigns(
    transformed: DataFrame,
    dim_state: DataFrame,
    dim_category: DataFrame,
) -> DataFrame:
    """Reference Fact_Campaigns build (src/etl_pipeline.py:256-269), Spark-first.

    J1 (state, single-key) and J2 (category, composite-key) are broadcast
    left joins; J3 (date) is computed inline from the timestamp (the key is
    derived — no join needed, SURVEY.md §2.5 J3). Output = the 9-column fact
    (src/etl_pipeline.py:265-268).
    """
    with_state = join_dim(
        transformed,
        dim_state.select("state_key", F.col("state_name").alias("state")),
        on=["state"],
    )
    with_cat = join_dim(
        with_state,
        dim_category.select(
            "category_key",
            F.col("main_category_name").alias("main_category"),
            F.col("sub_category_name").alias("category"),
        ),
        on=["main_category", "category"],
    )
    return with_cat.select(
        F.col("ID").alias("campaign_id"),
        "name",
        "backers",
        "pledged_usd",
        "goal_usd",
        "duration_days",
        "state_key",
        "category_key",
        date_key(F.col("launched_at")).alias("launched_date_key"),
    )
