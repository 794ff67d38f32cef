"""Range-clustered write layout (sources/bucketing.py:range_clustered).

The oracle-level proof is ``range_clustered_prune_agg`` (the read-back
aggregate must hash-match the original table); these tests pin the
LAYOUT contract the oracle can't see: every output file covers a
disjoint value range with tight parquet footer min/max stats — the
property that lets a 100 TB scan prune files from footers alone.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
from kickstarter_etl_pipeline_spark.sources.bucketing import range_clustered
from kickstarter_etl_pipeline_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def _file_ranges(path: str, column: str):
    ranges = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        idx = meta.schema.names.index(column)
        lo, hi, rows = None, None, 0
        for rg in range(meta.num_row_groups):
            stats = meta.row_group(rg).column(idx).statistics
            assert stats is not None and stats.has_min_max, "footer stats missing"
            lo = stats.min if lo is None else min(lo, stats.min)
            hi = stats.max if hi is None else max(hi, stats.max)
            rows += meta.row_group(rg).num_rows
        if rows:
            ranges.append((lo, hi, rows))
    return ranges


def test_range_clustered_files_are_disjoint_and_complete(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    path = run_scratch_dir("range_unit_")
    range_clustered(
        orders.select("o_orderkey", "o_orderdate", "o_totalprice"),
        "o_orderdate",
        num_files=6,
    ).write.mode("overwrite").parquet(path)
    ranges = sorted(_file_ranges(path, "o_orderdate"))
    assert len(ranges) > 1, "expected multiple range files"
    # Disjoint: each file's max strictly below the next file's min is
    # not guaranteed at range BOUNDARIES (equal keys may straddle via
    # RangePartitioner), but ranges must never interleave: next.min >=
    # current.max.
    for (lo_a, hi_a, _), (lo_b, hi_b, _) in zip(ranges, ranges[1:]):
        assert lo_b >= hi_a, f"overlapping file ranges: ({lo_a},{hi_a}) vs ({lo_b},{hi_b})"
    # Complete: no rows lost in the rewrite.
    assert sum(r[2] for r in ranges) == orders.count()


def test_range_clustered_readback_equals_source(spark):
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    path = run_scratch_dir("range_unit2_")
    range_clustered(orders, "o_orderkey", num_files=4).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.orderBy("o_orderkey").collect() == orders.orderBy("o_orderkey").collect()
