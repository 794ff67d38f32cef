"""Warehouse DDL (S2) + load round-trip, and logging config (S6)."""

from __future__ import annotations

import glob
import logging
import re
import shutil
import threading
import uuid
from datetime import date, timedelta

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row, functions as F

from kickstarter_etl_pipeline_spark import pipeline
from kickstarter_etl_pipeline_spark.logging_config import configure_logger
from kickstarter_etl_pipeline_spark.operators import transform as X
from kickstarter_etl_pipeline_spark.operators.ranking import CONTROL_ROWS_CAP
from kickstarter_etl_pipeline_spark.pipeline import run_pipeline
from kickstarter_etl_pipeline_spark.plans import warehouse as W
from kickstarter_etl_pipeline_spark.plans.star import kickstarter_star
from kickstarter_etl_pipeline_spark.plans.warehouse import create_warehouse_schema, load_warehouse
from tests.test_range_clustering import _file_ranges
from tests.test_transform_kickstarter import raw_rows


@pytest.fixture(autouse=True)
def clean_warehouse(spark):
    """Orphan managed-table dirs from a previous session's in-memory
    catalog block CREATE TABLE (LOCATION_ALREADY_EXISTS) — clear both the
    catalog entry and the filesystem location."""
    spark.sql("DROP DATABASE IF EXISTS wh_test CASCADE")
    warehouse_dir = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    if warehouse_dir:
        shutil.rmtree(f"{warehouse_dir}/wh_test.db", ignore_errors=True)
    yield


def test_warehouse_ddl_idempotent(spark):
    create_warehouse_schema(spark, db="wh_test")
    create_warehouse_schema(spark, db="wh_test")  # IF NOT EXISTS → no error
    tables = {r.tableName for r in spark.sql("SHOW TABLES IN wh_test").collect()}
    assert {"dim_state", "dim_category", "dim_date", "fact_campaigns"} <= tables


def test_warehouse_load_and_query(spark):
    star = kickstarter_star(raw_rows(spark))
    counts = load_warehouse(spark, star, db="wh_test")
    assert counts == {"dim_state": 2, "dim_category": 3, "dim_date": 2, "fact_campaigns": 3}
    # Star join through the catalog (the README.md:77-79 manual check, automated)
    res = spark.sql(
        """
        SELECT s.state_name, count(*) AS n
        FROM wh_test.fact_campaigns f
        JOIN wh_test.dim_state s ON f.state_key = s.state_key
        GROUP BY s.state_name ORDER BY s.state_name
        """
    ).collect()
    assert [(r["state_name"], r["n"]) for r in res] == [("failed", 1), ("successful", 2)]


def _dated_raw_rows(spark, n_rows: int, n_dates: int):
    """``raw_rows``-shaped campaigns spread round-robin over ``n_dates``
    launch dates."""
    start = date(2016, 1, 1)
    rows = []
    for i in range(n_rows):
        launched = start + timedelta(days=i % n_dates)
        rows.append(Row(
            ID=i, name=f"c{i}", category=("Rock", "Indie", "Shorts")[i % 3],
            main_category=("Music", "Music", "Film")[i % 3], currency="USD",
            deadline=str(launched + timedelta(days=30)), goal=100.0 + i,
            launched=f"{launched} 12:00:00", pledged=float(i % 97),
            state=("successful", "failed")[i % 2], backers=i % 7, country="US",
            **{"usd pledged": float(i % 97)}, usd_pledged_real=float(i % 97),
            usd_goal_real=100.0 + i,
        ))
    return spark.createDataFrame(rows)


def _scan_output_rows(df) -> int:
    """Rows the parquet scan of an executed exchange-free plan emitted."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    assert [s.nodeName() for s in scans] == ["Scan parquet spark_catalog.wh_test.fact_campaigns"]
    return scans[0].metrics().apply("numOutputRows").value()


def test_fact_range_clustered_and_footer_pruned(spark):
    """The fact is one file per write task (``spark.sql.shuffle.partitions``
    of them, however many dates), the files' launched_date_key footer
    ranges never interleave, and a narrow date-range read skips files
    from those footers yet returns exactly the star's rows."""
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_dates = max(48, 4 * n_files)  # every range partition gets dates
    star = kickstarter_star(_dated_raw_rows(spark, 10 * n_dates, n_dates))
    counts = load_warehouse(spark, star, db="wh_test")
    assert counts["fact_campaigns"] == 10 * n_dates and counts["dim_date"] == n_dates

    warehouse_dir = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    fact_dir = f"{warehouse_dir}/wh_test.db/fact_campaigns"
    assert len(glob.glob(f"{fact_dir}/part-*.parquet")) == n_files
    ranges = sorted(_file_ranges(fact_dir, "launched_date_key"))
    assert len(ranges) == n_files and sum(r[2] for r in ranges) == counts["fact_campaigns"]
    for (lo_a, hi_a, _), (lo_b, hi_b, _) in zip(ranges, ranges[1:]):
        assert lo_b >= hi_a, f"interleaved file ranges: ({lo_a},{hi_a}) vs ({lo_b},{hi_b})"

    lo, hi = 20160110, 20160114
    in_range = F.col("launched_date_key").between(lo, hi)
    read = spark.table("wh_test.fact_campaigns").filter(in_range)
    got = read.collect()
    want = star.fact.select(*read.columns).filter(in_range).collect()
    assert len(want) == 50 and sorted(got) == sorted(want)
    assert len(want) <= _scan_output_rows(read) < counts["fact_campaigns"]


def test_run_pipeline_end_to_end(spark, tmp_path, caplog):
    """extract → inspect → transform → load on a 4-row CSV: the load
    counts, the logged narrative through the passed logger, and the
    reference's None contract on a missing path."""
    csv_path = str(tmp_path / "ks.csv")
    raw_rows(spark).toPandas().to_csv(csv_path, index=False)
    logger = logging.getLogger("RunPipelineTest")
    caplog.set_level(logging.INFO, logger=logger.name)

    def logged():
        return [
            (r.levelname, r.getMessage()) for r in caplog.records if r.name == logger.name
        ]

    counts = run_pipeline(spark, csv_path, db="wh_test", logger=logger)
    assert counts == {"dim_state": 2, "dim_category": 3, "dim_date": 2, "fact_campaigns": 3}
    lines = logged()
    assert lines[0] == ("INFO", "START OF KICKSTARTER ETL PIPELINE")
    assert lines[-1] == ("INFO", "END OF ETL PIPELINE.")
    for line in (
        ("INFO", "Extraction completed: 4 rows, 15 columns"),
        ("WARNING", "Removed 1 rows with null 'name' (NOT NULL constraint)."),
        ("INFO", "Transformation completed: 3 rows, 13 columns"),
        ("INFO", "Null values in 'pledged_usd': 0"),
        ("INFO", "fact_campaigns loaded with 3 records."),
    ):
        assert line in lines, lines
    # the state lines come from the one counting aggregate, in
    # state_distribution's order
    raw = spark.read.csv(csv_path, header=True)
    assert [m for _, m in lines if m.startswith("state ")] == [
        f"state {r[0]}: {r['count']}" for r in X.state_distribution(raw).collect()
    ]

    caplog.clear()
    assert run_pipeline(spark, str(tmp_path / "missing.csv"), logger=logger) is None
    assert logged()[-1] == ("CRITICAL", "Extraction failed — terminating execution.")


def test_run_pipeline_refuses_data_sized_state_column(spark, tmp_path):
    """The per-state counts are collected through collect_control, so a
    CSV with CONTROL_ROWS_CAP + 1 distinct states raises ValueError
    naming the cap instead of collecting a data-sized frame."""
    one = raw_rows(spark).limit(1).toPandas()
    rows = one.loc[one.index.repeat(CONTROL_ROWS_CAP + 1)].reset_index(drop=True)
    rows["state"] = [f"s{i}" for i in range(CONTROL_ROWS_CAP + 1)]
    csv_path = str(tmp_path / "states.csv")
    rows.to_csv(csv_path, index=False)
    logger = logging.getLogger("RunPipelineCapTest")
    with pytest.raises(ValueError, match=re.escape(f"CONTROL_ROWS_CAP={CONTROL_ROWS_CAP}")):
        run_pipeline(spark, csv_path, db="wh_test", logger=logger)


def _ks_csv(spark, tmp_path) -> str:
    csv_path = str(tmp_path / "ks.csv")
    raw_rows(spark).toPandas().to_csv(csv_path, index=False)
    return csv_path


def test_run_pipeline_parses_the_csv_once(spark, tmp_path, monkeypatch):
    """The star's four frames read the staged CSV: no executed plan of
    theirs scans the file, so the load parses it once, in the stage."""
    stars = []

    def spy(spark, star, db):
        stars.append(star)
        return load_warehouse(spark, star, db=db)

    monkeypatch.setattr(pipeline, "load_warehouse", spy)
    counts = run_pipeline(spark, _ks_csv(spark, tmp_path), db="wh_test", logger=logging.getLogger("ParseOnceTest"))
    assert counts == {"dim_state": 2, "dim_category": 3, "dim_date": 2, "fact_campaigns": 3}
    (star,) = stars
    for name in ("dim_state", "dim_category", "dim_date", "fact"):
        plan = getattr(star, name)._jdf.queryExecution().executedPlan().toString()
        assert "FileScan csv" not in plan, (name, plan)


def test_run_pipeline_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """Every job the load starts, on the caller's thread or a write
    thread, carries the job group the caller set."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, fence = f"load-{uuid.uuid4().hex}", f"fence-{uuid.uuid4().hex}"
    csv_path = _ks_csv(spark, tmp_path)

    def fence_job() -> int:
        """Run one job in the fence group and return its id; job ids are
        sequential, so the load's jobs lie strictly between two fences."""
        sc.setJobGroup(fence, fence)
        sc.parallelize([0], 1).count()
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(tracker.getJobIdsForGroup(fence))

    try:
        before = fence_job()
        sc.setJobGroup(group, group)
        run_pipeline(spark, csv_path, db="wh_test", logger=logging.getLogger("JobGroupTest"))
        after = fence_job()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    load_jobs = set(range(before + 1, after))
    assert len(load_jobs) >= 5  # stage, aggregate and at least one job per write
    assert load_jobs <= set(tracker.getJobIdsForGroup(group))


def test_load_warehouse_failed_write_reraises_after_the_pool_drains(spark, monkeypatch):
    """One write fails (its table is dropped between the DDL and the
    insert): load_warehouse raises that error once the other three
    writes have finished, and leaves no pool thread behind."""
    create = W.create_warehouse_schema

    def create_then_drop(spark, db):
        create(spark, db)
        spark.sql(f"DROP TABLE {db}.dim_date")

    monkeypatch.setattr(W, "create_warehouse_schema", create_then_drop)
    star = kickstarter_star(raw_rows(spark))
    threads = set(threading.enumerate())
    with pytest.raises(AnalysisException, match="dim_date"):
        load_warehouse(spark, star, db="wh_test")
    assert [t for t in threading.enumerate() if t not in threads] == []
    written = {t: spark.table(f"wh_test.{t}").count() for t in ("dim_state", "dim_category", "fact_campaigns")}
    assert written == {"dim_state": 2, "dim_category": 3, "fact_campaigns": 3}


def test_configure_logger_rotating(tmp_path):
    log_file = str(tmp_path / "logs" / "etl.log")
    logger = configure_logger("WhTestLogger.rotating", log_file=log_file)
    try:
        logger.info("hello warehouse")
        logger2 = configure_logger("WhTestLogger.rotating", log_file=log_file)  # idempotent
        assert logger is logger2 and len(logger.handlers) == 2
        for h in logger.handlers:
            h.flush()
        with open(log_file) as fh:
            line = fh.read()
        assert "WhTestLogger.rotating - INFO - hello warehouse" in line
        assert any(
            isinstance(h, logging.handlers.RotatingFileHandler) and h.maxBytes == 5 * 1024 * 1024
            for h in logger.handlers
        )
    finally:
        for h in list(logger.handlers):
            logger.removeHandler(h)
            h.close()


def test_snapshot_crash_safety(spark, tmp_path):
    """A dangling uncommitted v-dir (writer crashed before the pointer
    swap) is invisible: latest stays at the committed version and
    reading the dangling version raises."""
    import pytest as _pytest

    from kickstarter_etl_pipeline_spark.sources.sinks import (
        read_snapshot,
        snapshot_version,
        write_snapshot,
    )

    table = str(tmp_path / "t")
    df = spark.range(10).withColumnRenamed("id", "k")
    assert write_snapshot(spark, df, table) == 1
    assert write_snapshot(spark, df.filter("k < 5"), table) == 2
    # simulate a crash: v=3 data lands but the pointer never swaps
    df.filter("k < 2").write.parquet(table + "/v=3")
    assert snapshot_version(spark, table) == 2
    assert read_snapshot(spark, table).count() == 5
    assert read_snapshot(spark, table, version=1).count() == 10
    with _pytest.raises(ValueError):
        read_snapshot(spark, table, version=3)


def test_snapshot_pointer_loss_recovery(spark, tmp_path):
    """A lost _VERSION pointer (crash inside the swap window) must not
    strand committed snapshots: snapshot_version falls back to the
    highest v=K dir with _SUCCESS, reads resolve, and the next write
    allocates past the recovered version."""
    import os

    from kickstarter_etl_pipeline_spark.sources.sinks import (
        read_snapshot,
        snapshot_version,
        write_snapshot,
    )

    table = str(tmp_path / "t")
    df = spark.range(10).withColumnRenamed("id", "k")
    assert write_snapshot(spark, df, table) == 1
    assert write_snapshot(spark, df.filter("k < 5"), table) == 2
    os.remove(table + "/_VERSION")  # simulate the swap-window crash
    assert snapshot_version(spark, table) == 2
    assert read_snapshot(spark, table).count() == 5
    assert read_snapshot(spark, table, version=1).count() == 10
    # a partially-written v-dir (no _SUCCESS) stays invisible to the scan
    os.makedirs(table + "/v=7")
    assert snapshot_version(spark, table) == 2
    assert write_snapshot(spark, df.filter("k < 2"), table) == 3
    assert read_snapshot(spark, table).count() == 2
