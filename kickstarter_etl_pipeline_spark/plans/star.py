"""Star-schema builds of the reference's transform→load flow
(``src/etl_pipeline.py:285-315``).

- :func:`kickstarter_star` — exact reference semantics over the raw
  Kickstarter schema; ``pipeline.run_pipeline`` loads it.
- :func:`tpch_dim_state`, :func:`tpch_dim_category` and :func:`tpch_fact`
  — the same decomposition over the driver fixture tables (FIXTURES.md
  §B mapping), which the registry's star queries call.

The reference keys its fact with dict lookups (``src/etl_pipeline.py:260-262``).
Those dicts are broadcast hash-join build sides, so here they are
broadcast LEFT joins (a missed ``.map()`` key is NaN, not a dropped
row; SURVEY.md §2.5); the date key is derived inline (J3). Every frame
is lazy: the caller collects it or writes it
(``plans.warehouse.load_warehouse``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from kickstarter_etl_pipeline_spark.operators import transform as X
from kickstarter_etl_pipeline_spark.operators.dims import build_dim_date, date_key, dim_from_distinct


@dataclass
class StarSchema:
    dim_state: DataFrame
    dim_category: DataFrame
    dim_date: DataFrame
    fact: DataFrame


def kickstarter_star(raw: DataFrame) -> StarSchema:
    """Reference pipeline end-to-end (transform + load decomposition)."""
    transformed = X.transform_kickstarter(raw)
    dim_state = dim_from_distinct(
        transformed.select(F.col("state").alias("state_name"), F.col("success_flag").alias("is_successful")),
        ["state_name", "is_successful"],
        key_col="state_key",
        order_cols=["state_name"],
    )
    dim_category = dim_from_distinct(
        transformed.select(
            F.col("main_category").alias("main_category_name"),
            F.col("category").alias("sub_category_name"),
        ),
        ["main_category_name", "sub_category_name"],
        key_col="category_key",
    )
    dim_date = build_dim_date(transformed, "launched_at")
    # J1 (state, single key) and J2 (category, composite key) key the
    # fact; its select is the DDL's column order (src/etl_pipeline.py:256-269),
    # which the warehouse's positional insert relies on
    fact = (
        transformed.join(
            F.broadcast(dim_state.select("state_key", F.col("state_name").alias("state"))),
            ["state"],
            "left",
        )
        .join(
            F.broadcast(
                dim_category.select(
                    "category_key",
                    F.col("main_category_name").alias("main_category"),
                    F.col("sub_category_name").alias("category"),
                )
            ),
            ["main_category", "category"],
            "left",
        )
        .select(
            F.col("ID").alias("campaign_id"), "name", "backers", "pledged_usd", "goal_usd",
            "duration_days", "state_key", "category_key",
            date_key(F.col("launched_at")).alias("launched_date_key"),
        )
    )
    return StarSchema(dim_state, dim_category, dim_date, fact)


def tpch_dim_state(orders: DataFrame) -> DataFrame:
    """State-like dim from o_orderstatus: dense keys in sorted order,
    is_finished flag analogous to the reference's is_successful."""
    return dim_from_distinct(
        orders.select(F.col("o_orderstatus").alias("state_name")),
        ["state_name"],
        key_col="state_key",
    ).withColumn(
        "is_finished", F.when(F.col("state_name") == "F", 1).otherwise(0).cast("int")
    ).select("state_key", "state_name", "is_finished")


def tpch_dim_category(part: DataFrame) -> DataFrame:
    """Composite-key dim from part(p_brand, p_type) — the Dim_Category
    analog (unique (main, sub) pairs, keys dense in (main, sub) order)."""
    return dim_from_distinct(
        part.select(
            F.col("p_brand").alias("main_category_name"),
            F.col("p_type").alias("sub_category_name"),
        ),
        ["main_category_name", "sub_category_name"],
        key_col="category_key",
    )


def tpch_fact(
    lineitem: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    dim_state: DataFrame,
    dim_category: DataFrame,
) -> DataFrame:
    """Fact build over the fixtures: one row per lineitem with surrogate keys.

    lineitem⋈orders and lineitem⋈part both scale linearly with sf, so
    NEITHER carries a broadcast hint: AQE picks broadcast at bench scale
    (both fit under the 64 MB threshold) and falls back to a shuffle
    join on the natural keys (l_orderkey / l_partkey) at 100 TB, where
    a forced hint would OOM the executors. Only the cardinality-bounded
    dims (state: |orderstatus| = 3, category: |brand×type| = 3 750)
    keep explicit hints. Revenue and fractional ship-delay are computed
    inline; the date key is derived (no date-dim join).

    The fact side is column-narrowed FIRST (manual pruning — the
    parallelize barrier below blocks Catalyst's), then spread across
    cores: when every join resolves to broadcast there is no shuffle,
    so otherwise the whole probe+project pipeline would run inside the
    scan stage — single-threaded when the input is one parquet row
    group.
    """
    from kickstarter_etl_pipeline_spark.operators.partitioning import ensure_min_partitions

    li = ensure_min_partitions(
        lineitem.select(
            "l_orderkey", "l_partkey", "l_linenumber",
            "l_extendedprice", "l_discount", "l_shipdate",
        ),
        barrier=False,  # downstream work is joins — can't sink below the exchange
    )
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        )
        .join(
            part.select("p_partkey", "p_brand", "p_type"),
            li.l_partkey == F.col("p_partkey"),
            "left",
        )
        .join(
            F.broadcast(dim_state.select("state_key", F.col("state_name").alias("o_orderstatus"))),
            ["o_orderstatus"],
            "left",
        )
        .join(
            F.broadcast(
                dim_category.select(
                    "category_key",
                    F.col("main_category_name").alias("p_brand"),
                    F.col("sub_category_name").alias("p_type"),
                )
            ),
            ["p_brand", "p_type"],
            "left",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            F.round(X.fractional_days("l_shipdate", "o_orderdate"), 6).alias("ship_delay_days"),
            "state_key",
            "category_key",
            date_key(F.col("o_orderdate")).alias("order_date_key"),
        )
    )

