"""Python Data Source API connector (sources/python_datasource.py).

The oracle-level proof is ``jsonl_pyds_roundtrip_agg`` (driver-graded);
these tests pin the connector's mechanical contracts: per-file partition
planning, schema pruning/reorder, and the absent-key→NULL evolution rule.
"""

from __future__ import annotations

import json
import os

import pytest

from kickstarter_etl_pipeline_spark.scratch import run_scratch_dir
from kickstarter_etl_pipeline_spark.sources.python_datasource import (
    JsonLinesDataSource,
    register,
)


@pytest.fixture(scope="module")
def jsonl_dir() -> str:
    path = run_scratch_dir("pyds_unit_")
    rows = [
        {"doc_id": 1, "text": "a\nb", "extra": "ignored"},
        {"doc_id": 2, "text": "c"},
        {"doc_id": 3},  # absent text -> NULL
    ]
    # Three files so the planner must emit three partitions.
    for i, row in enumerate(rows):
        with open(os.path.join(path, f"part-{i}.json"), "w") as f:
            f.write(json.dumps(row) + "\n")
    return path


def test_per_file_partitions_and_rows(spark, jsonl_dir):
    register(spark)
    df = spark.read.format("pyjsonl").schema("doc_id bigint, text string").load(jsonl_dir)
    assert df.rdd.getNumPartitions() == 3
    rows = {r.doc_id: r.text for r in df.collect()}
    # JSON-escaped newline survives; absent key is NULL, extra key pruned.
    assert rows == {1: "a\nb", 2: "c", 3: None}
    assert df.columns == ["doc_id", "text"]


def test_missing_declared_column_is_null(spark, jsonl_dir):
    register(spark)
    df = (
        spark.read.format("pyjsonl")
        .schema("doc_id bigint, nonexistent string")
        .load(jsonl_dir)
    )
    assert [r.nonexistent for r in df.collect()] == [None, None, None]


def test_default_schema_matches_documents_layout(spark, jsonl_dir):
    register(spark)
    df = spark.read.format("pyjsonl").load(jsonl_dir)
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]


def test_source_name():
    assert JsonLinesDataSource.name() == "pyjsonl"


def test_filter_pushdown_matches_post_scan_filtering(spark, jsonl_dir):
    """Pushed comparisons must produce the same rows Spark would get by
    filtering post-scan (soundness), and unsupported filter shapes must
    be handed back to Spark."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, StringContains

    register(spark)
    df = spark.read.format("pyjsonl").schema("doc_id bigint, text string").load(jsonl_dir)
    assert [r.doc_id for r in df.filter("doc_id > 1").collect()] == [2, 3]
    assert [r.doc_id for r in df.filter("doc_id >= 1 AND text = 'c'").collect()] == [2]
    # NULL text rows must be dropped by a pushed comparison, like SQL.
    assert [r.doc_id for r in df.filter("text <= 'c'").collect()] == [1, 2]

    reader = JsonLinesDataSource(
        {"path": jsonl_dir}
    ).reader(spark.read.format("pyjsonl").load(jsonl_dir).schema)
    unsupported = list(
        reader.pushFilters(
            [
                GreaterThan(("doc_id",), 1),
                StringContains(("text",), "a"),       # shape we decline
                EqualTo(("nope",), 1),                # undeclared column
            ]
        )
    )
    assert [type(f).__name__ for f in unsupported] == ["StringContains", "EqualTo"]
    assert reader.pushed == [("doc_id", ">", 1)]


def test_stream_reader_replays_in_micro_batches(spark):
    """pyeventlog must admit exactly `batches` micro-batches (offset
    counter, not one giant batch) and reproduce the batch aggregate."""
    from tests.conftest import SF_SMOKE
    from kickstarter_etl_pipeline_spark.qdefs_star_events import q_pystream_replay_agg
    from kickstarter_etl_pipeline_spark.sources.python_datasource import (
        EventLogStreamReader,
    )

    reader = EventLogStreamReader(
        {"path": f"{SF_SMOKE}/events.parquet", "batches": "4"},
        [("event_id", "bigint"), ("value", "double")],
    )
    assert reader.initialOffset() == {"batch": 0}
    seen = [reader.latestOffset()["batch"] for _ in range(6)]
    assert seen == [1, 2, 3, 4, 4, 4]  # advances once per call, then saturates
    parts = reader.partitions({"batch": 0}, {"batch": 4})
    assert len(parts) == 4
    assert sum(p.hi - p.lo for p in parts) == reader.n_rows

    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("event_type")
        .count()
        .collect()
    )
    streamed = {
        r.event_type: r.n_events for r in q_pystream_replay_agg(spark, SF_SMOKE).collect()
    }
    assert streamed == {r.event_type: r["count"] for r in batch}


def test_writer_roundtrip_and_commit_protocol(spark):
    """Custom writer → custom reader round trip, plus the two-phase
    commit contract: committed output has final names + _SUCCESS, no
    temp files left behind."""
    from tests.conftest import SF_SMOKE
    from kickstarter_etl_pipeline_spark.sources.readers import load_table

    register(spark)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "n_chars")
    out = run_scratch_dir("pyds_write_")
    docs.repartition(3).write.format("pyjsonl").mode("overwrite").save(out)

    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    assert not any(n.startswith("._tmp_") for n in names)
    assert sum(n.startswith("part-") for n in names) == 3

    back = (
        spark.read.format("pyjsonl")
        .schema("doc_id bigint, text string, n_chars bigint")
        .load(out)
    )
    orig = docs.selectExpr(
        "count(*) AS n", "sum(n_chars) AS c", "sum(length(text)) AS t", "min(doc_id) AS lo"
    ).collect()[0]
    echo = back.selectExpr(
        "count(*) AS n", "sum(n_chars) AS c", "sum(length(text)) AS t", "min(doc_id) AS lo"
    ).collect()[0]
    assert orig == echo
