"""The full reference pipeline, end-to-end: extract → inspect → transform → load.

Mirrors the reference ``__main__`` flow (``src/etl_pipeline.py:285-315``)
including its logging narrative, against a Spark warehouse instead of
SQLite. The CSV is parsed once, like the reference's one in-memory
frame. The transform's rules live in ``operators.transform`` alone:
the counts and the star both type the stage with
``typed_kickstarter`` and keep rows by ``kept``. The actions, in order:

1. one stage job, which parses the 11 raw columns the load reads into
   a local checkpoint (``partitioning.materialize``); the typing runs
   later, inside each job that reads the stage;
2. one aggregate over the typed stage, behind every logged count;
3. four concurrent warehouse writes (``load_warehouse``), which count
   their own rows; the fact's adds the sampling job that sets its
   range bounds.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, functions as F

from kickstarter_etl_pipeline_spark import schemas
from kickstarter_etl_pipeline_spark.logging_config import configure_logger
from kickstarter_etl_pipeline_spark.operators import transform as X
from kickstarter_etl_pipeline_spark.operators.partitioning import materialize
from kickstarter_etl_pipeline_spark.operators.ranking import collect_control
from kickstarter_etl_pipeline_spark.plans.star import kickstarter_star
from kickstarter_etl_pipeline_spark.plans.warehouse import load_warehouse
from kickstarter_etl_pipeline_spark.sources.readers import read_csv


def inspect_data(df: DataFrame, per_state: list, logger: logging.Logger) -> None:
    """V1/V2/A1: schema + state distribution, logged (reference :66-81);
    ``per_state`` rows carry ``state`` and its count ``n``, in order."""
    logger.info("--- Starting Initial Data Inspection ---")
    logger.info("Schema: %s", df.schema.simpleString())
    for r in per_state:
        logger.info("state %s: %d", r["state"], r["n"])
    logger.info("Initial data inspection completed.")


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    db: str = "kickstarter_wh",
    infer_schema: bool = False,
    logger: logging.Logger | None = None,
) -> dict[str, int] | None:
    """Returns per-table load counts, or None when extraction failed
    (the reference's None contract, src/etl_pipeline.py:289-291).

    The per-state counts reach the driver through
    ``ranking.collect_control``: a CSV with more than
    ``CONTROL_ROWS_CAP`` distinct ``state`` values raises ``ValueError``
    naming the cap."""
    logger = logger or configure_logger()
    logger.info("START OF KICKSTARTER ETL PIPELINE")

    raw = read_csv(spark, csv_path, None if infer_schema else schemas.KICKSTARTER_RAW)
    if raw is None:
        logger.critical("Extraction failed — terminating execution.")
        return None
    # the aggregate and the star's four writes all read the CSV: stage
    # the columns they use once, so it is parsed once
    stage = materialize(raw.drop("currency", "goal", "pledged", "usd pledged"))
    # one pass for every logged count; Catalyst prunes the typing to
    # the three columns the aggregate reads
    typed = X.typed_kickstarter(stage)
    per_state = collect_control(
        typed.groupBy("state").agg(
            F.count("*").alias("n"),
            F.count_if(X.kept()).alias("kept"),
            F.count_if(X.kept() & F.col("pledged_usd").isNull()).alias("null_pledged"),
        )
    )
    per_state.sort(key=lambda r: (-r["n"], r["state"] is not None, r["state"]))
    n_raw = sum(r["n"] for r in per_state)
    logger.info("Extraction completed: %d rows, %d columns", n_raw, len(raw.columns))
    inspect_data(raw, per_state, logger)  # X.state_distribution's order

    n_kept = sum(r["kept"] for r in per_state)
    if n_raw - n_kept:
        logger.warning("Removed %d rows with null 'name' (NOT NULL constraint).", n_raw - n_kept)
    logger.info("Transformation completed: %d rows, %d columns", n_kept, len(typed.columns))
    logger.info("Null values in 'pledged_usd': %d", sum(r["null_pledged"] for r in per_state))

    star = kickstarter_star(stage)
    counts = load_warehouse(spark, star, db=db)
    for table, n in counts.items():
        logger.info("%s loaded with %d records.", table, n)
    logger.info("END OF ETL PIPELINE.")
    return counts
