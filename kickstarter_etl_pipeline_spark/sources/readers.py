"""Source readers: CSV (reference-parity contract) and Parquet fixtures.

The reference extract (``src/etl_pipeline.py:45-64``) reads one CSV with
pandas inference and returns ``None`` + a CRITICAL log on a missing file.
:func:`read_csv` keeps that contract while defaulting to an explicit
schema (inference at 100 TB means a second full scan).

:func:`load_table` is the canonical way to read driver fixture tables; it
normalizes ``events.ts`` to µs-precision wall-clock ``TimestampNTZ``
whatever the on-disk layout (TIMESTAMP(µs) currently; int64 ns in legacy
fixtures), matching DuckDB's reading of the same file.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException

from kickstarter_etl_pipeline_spark.session import ensure_runtime_confs

logger = logging.getLogger("kickstarter_etl_pipeline_spark")


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None,
) -> DataFrame | None:
    """CSV scan with the reference's missing-file contract (S1).

    Header row, UTF-8, the explicit ``schema``; ``None`` infers the
    types, the parity mode matching the reference's pandas inference.
    Returns ``None`` (plus a CRITICAL log) when the path does not exist,
    exactly like reference ``src/etl_pipeline.py:57-60``.
    """
    reader = spark.read.option("header", True).option("encoding", "UTF-8")
    if schema is None:
        reader = reader.option("inferSchema", True)
    else:
        reader = reader.schema(schema)
    try:
        df = reader.csv(path)
        # Force path resolution now so the missing-file contract holds at
        # call time rather than first action.
        df.schema
        return df
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            logger.critical("CRITICAL: file not found at %s", path)
            return None
        raise


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    ensure_runtime_confs(spark)
    return spark.read.parquet(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dataset whose files were written under EVOLVING
    schemas (columns added over time): ``mergeSchema`` unions the file
    footers so old files surface the new columns as NULL. This is the
    append-only schema-evolution contract a long-lived 100 TB table
    needs (mergeSchema costs a footer read per file, so it stays opt-in
    rather than the default reader)."""
    ensure_runtime_confs(spark)
    return spark.read.option("mergeSchema", True).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from an sf directory, normalizing types.

    The physical layout of ``events.ts`` has varied across fixture
    generations, so normalization is footer-type-aware; every layout
    lands on µs-precision wall-clock TimestampNTZ, matching DuckDB's
    reading of the same file:

    - Parquet TIMESTAMP(µs), isAdjustedToUTC=false (current fixtures):
      Spark reads TimestampNTZ natively — no conversion.
    - int64 nanoseconds (legacy layout; surfaces as bigint under
      ``spark.sql.legacy.parquet.nanosAsLong=true``, set by
      ensure_runtime_confs): ns→µs truncation, matching DuckDB.
    - TIMESTAMP with UTC adjustment: cast to NTZ (identical wall clock
      under the UTC session timezone).

    The streaming twin of this guard is
    streaming.events_stream.read_events_raw_stream.
    """
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        elif ts_dtype == "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df
