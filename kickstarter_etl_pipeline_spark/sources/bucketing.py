"""Bucketed tables: co-located joins with zero shuffle.

At 100 TB the lineitem⋈orders join is the one shuffle left in the fact
build. Bucketing both tables by the join key at write time
(`bucketBy` + `sortBy`) makes every subsequent build a zero-exchange
sort-merge join: each bucket pair joins locally. This is the standard
amortize-the-shuffle trade — pay it once at ingest, never per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables; with matching bucket specs Spark
    plans a sort-merge join with NO exchange on either side."""
    keys = [on] if isinstance(on, str) else on
    return spark.table(left_table).join(spark.table(right_table), on=keys, how=how)


def range_clustered(df: DataFrame, cols: str | list[str], num_files: int) -> DataFrame:
    """Range-clustered layout: the data-skipping twin of bucketing.

    ``repartitionByRange`` range-partitions on ``cols`` (sampled global
    bounds) and ``sortWithinPartitions`` orders rows inside each
    partition, so every file written from the result covers a DISJOINT
    value range and its parquet footer min/max stats are tight. Any
    later scan with a predicate on ``cols`` prunes whole files/row
    groups from the footer alone — bucketing pays one shuffle at ingest
    to kill JOIN exchanges, this pays one shuffle at ingest to kill SCAN
    volume. At 100 TB this (or its multi-column Z-order refinement in
    lake formats) is the difference between a date-range query reading
    a day and reading the table. ``num_files`` is explicit because
    without it AQE coalesces a small input to one file and the skipping
    is gone. Disjointness is asserted from real footers in
    tests/test_range_clustering.py and tests/test_warehouse.py.
    """
    keys = [cols] if isinstance(cols, str) else cols
    return df.repartitionByRange(num_files, *keys).sortWithinPartitions(*keys)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cols: str | list[str],
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write :func:`range_clustered` ``df`` as parquet at ``path``."""
    range_clustered(df, cols, num_files).write.mode(mode).parquet(path)
