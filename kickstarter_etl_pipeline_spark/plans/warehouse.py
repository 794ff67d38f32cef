"""Warehouse DDL + load: the reference's create_db_schema / load_data
as catalog-managed Spark tables.

The reference executes ``sql/create_tables.sql`` against SQLite
(``src/etl_pipeline.py:146-161``) then bulk-inserts. Spark-first: the
same star schema is declared with ``CREATE TABLE IF NOT EXISTS`` DDL
against the session catalog (parquet-backed managed tables), and the
load is a set-based write. ``IF NOT EXISTS`` maps 1:1; PK/FK/UNIQUE are
not enforced by Spark — they hold by construction (distinct + window
keys upstream, SURVEY.md §1.1).

The fact table is unpartitioned and range-clustered on
``launched_date_key`` (``sources.bucketing.range_clustered``): one file
per write task, each covering a disjoint date range, so the file count
does not grow with the number of launch dates and a date-range read
skips files and row groups from their parquet footer min/max stats.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from kickstarter_etl_pipeline_spark.operators.quality import observe_quality
from kickstarter_etl_pipeline_spark.plans.star import StarSchema
from kickstarter_etl_pipeline_spark.sources.bucketing import range_clustered

#: Star-schema DDL (mirrors reference sql/create_tables.sql:1-43; types
#: per SURVEY.md §1.2 mapping — INTEGER→INT/BIGINT, REAL→DOUBLE, TEXT→STRING).
WAREHOUSE_DDL: dict[str, str] = {
    "dim_state": """
        CREATE TABLE IF NOT EXISTS {db}.dim_state (
            state_key INT NOT NULL,
            state_name STRING NOT NULL,
            is_successful INT NOT NULL
        ) USING parquet
    """,
    "dim_category": """
        CREATE TABLE IF NOT EXISTS {db}.dim_category (
            category_key INT NOT NULL,
            main_category_name STRING NOT NULL,
            sub_category_name STRING NOT NULL
        ) USING parquet
    """,
    "dim_date": """
        CREATE TABLE IF NOT EXISTS {db}.dim_date (
            date_key INT NOT NULL,
            full_date STRING NOT NULL,
            year INT NOT NULL,
            quarter INT NOT NULL,
            month INT NOT NULL,
            day INT NOT NULL,
            day_of_week STRING NOT NULL,
            is_weekend INT NOT NULL
        ) USING parquet
    """,
    "fact_campaigns": """
        CREATE TABLE IF NOT EXISTS {db}.fact_campaigns (
            campaign_id BIGINT NOT NULL,
            name STRING NOT NULL,
            backers BIGINT,
            pledged_usd DOUBLE,
            goal_usd DOUBLE,
            duration_days DOUBLE,
            state_key INT,
            category_key INT,
            launched_date_key INT
        ) USING parquet
    """,
}


def create_warehouse_schema(spark: SparkSession, db: str = "kickstarter_wh") -> None:
    """S2: execute the DDL script statement-by-statement, idempotently."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for ddl in WAREHOUSE_DDL.values():
        spark.sql(ddl.format(db=db))


def load_warehouse(spark: SparkSession, star: StarSchema, db: str = "kickstarter_wh") -> dict[str, int]:
    """Load a built star schema into the warehouse tables (overwrite —
    the reference's fresh-database run).

    The four writes run as concurrent Spark jobs, one pool thread per
    table. They are independent: the fact does not read the written
    dims, it re-derives its keys from the same deterministic
    ``dim_from_distinct`` plans. So each table's planning, commit and
    catalog round trips overlap the others' instead of queueing behind
    them. Each thread runs under ``inheritable_thread_target``, so its
    jobs carry the caller's job group, tags and other local properties.
    Under the default FIFO scheduler the dims, submitted first and a
    few tasks each, take the free slots before the fact's stages fill
    them.

    If a write fails, the other writes still run to the end; then the
    first failure, in table order, re-raises from here. No pool thread
    outlives the call.

    The fact is range-clustered on ``launched_date_key`` into
    ``spark.sql.shuffle.partitions`` files (the session's core-sized
    width, read here). That adds a sampling job for the range bounds
    and one shuffle. At 100 TB the scan cost of a date-range query is
    then set by bytes per file and footer skipping: a file whose
    min/max date bounds miss the range is skipped, and inside a file
    the date sort keeps every row group's bounds tight, so only the
    row groups overlapping the range are read — with no directory per
    date to list or write.

    The returned counts, in table order, are the rows each write job
    wrote, taken from an ``observe_quality`` observation on the written
    frame: no table is re-scanned to count it."""
    create_warehouse_schema(spark, db)
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tables = {
        "dim_state": star.dim_state,
        "dim_category": star.dim_category,
        "dim_date": star.dim_date,
        # observed above the range clustering, so the bounds-sampling
        # job does not count the fact's rows
        "fact_campaigns": range_clustered(star.fact, "launched_date_key", n_files),
    }

    def write(name: str, df: DataFrame) -> int:
        observed, obs = observe_quality(df, [], name)
        observed.write.mode("overwrite").insertInto(f"{db}.{name}", overwrite=True)
        return obs.get["n_rows"]

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        # one wrapper per write: each captures its own copy of the
        # caller's local properties, which the job then mutates (its SQL
        # execution id) without touching another thread's copy
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(write), name, df)
            for name, df in tables.items()
        }
    # leaving the block joined every thread; a failure re-raises here
    return {name: future.result() for name, future in futures.items()}
