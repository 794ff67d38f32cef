"""End-to-end star-schema pipelines.

Two variants of the reference's extract→transform→load flow
(``src/etl_pipeline.py:285-315``):

- :func:`kickstarter_star` — exact reference semantics over the raw
  Kickstarter schema (used by the parity tests on synthesized data).
- :func:`tpch_star` — the same star-schema decomposition over the driver
  fixture tables (FIXTURES.md §B mapping): state-dim from
  ``o_orderstatus``, category-dim from ``part(p_brand, p_type)``,
  date-dim from ``o_orderdate``, fact = ``lineitem ⋈ orders ⋈ part``.

Both produce the dims + keyed fact lazily; the caller decides when/where
to materialize (tests collect; ``plans.warehouse.load_warehouse`` writes
the range-clustered warehouse).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from kickstarter_etl_pipeline_spark.operators import transform as X
from kickstarter_etl_pipeline_spark.operators.dims import build_dim_date, date_key, dim_from_distinct
from kickstarter_etl_pipeline_spark.operators.fact import build_fact_campaigns, join_dim
from kickstarter_etl_pipeline_spark.operators.transform import fractional_days


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
    fact = build_fact_campaigns(transformed, dim_state, dim_category)
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
    enriched = (
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
    )
    keyed = join_dim(
        enriched,
        dim_state.select("state_key", F.col("state_name").alias("o_orderstatus")),
        on=["o_orderstatus"],
    )
    keyed = join_dim(
        keyed,
        dim_category.select(
            "category_key",
            F.col("main_category_name").alias("p_brand"),
            F.col("sub_category_name").alias("p_type"),
        ),
        on=["p_brand", "p_type"],
    )
    return keyed.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        F.round(fractional_days("l_shipdate", "o_orderdate"), 6).alias("ship_delay_days"),
        "state_key",
        "category_key",
        date_key(F.col("o_orderdate")).alias("order_date_key"),
    )


def tpch_star(orders: DataFrame, lineitem: DataFrame, part: DataFrame) -> StarSchema:
    dim_state = tpch_dim_state(orders)
    dim_category = tpch_dim_category(part)
    dim_date = build_dim_date(orders, "o_orderdate")
    fact = tpch_fact(lineitem, orders, part, dim_state, dim_category)
    return StarSchema(dim_state, dim_category, dim_date, fact)
