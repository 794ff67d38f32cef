"""Clustered table layouts: pay one shuffle at ingest, save it per query.

The one layout the engine writes is range clustering
(:func:`range_clustered`): every file covers a disjoint key range, so
footer min/max stats let later range scans skip files. The warehouse
fact is loaded this way (plans/warehouse.py). Spark's ``bucketBy`` is
the join-side analog; no production table uses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def range_clustered(df: DataFrame, col: str, num_files: int) -> DataFrame:
    """Range-clustered layout: the data-skipping twin of bucketing.

    ``repartitionByRange`` range-partitions on ``col`` (sampled global
    bounds) and ``sortWithinPartitions`` orders rows inside each
    partition, so every file written from the result covers a DISJOINT
    value range and its parquet footer min/max stats are tight. Any
    later scan with a predicate on ``col`` prunes whole files/row
    groups from the footer alone — bucketing pays one shuffle at ingest
    to kill JOIN exchanges, this pays one shuffle at ingest to kill SCAN
    volume. At 100 TB this (or its multi-column Z-order refinement in
    lake formats) is the difference between a date-range query reading
    a day and reading the table. ``num_files`` is explicit because
    without it AQE coalesces a small input to one file and the skipping
    is gone. Disjointness is asserted from real footers in
    tests/test_range_clustering.py and tests/test_warehouse.py.
    """
    return df.repartitionByRange(num_files, col).sortWithinPartitions(col)
