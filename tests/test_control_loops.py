"""Control-sized driver loops: markov_stationary and the Bradley–Terry
fit iterate on collected rows with Python ints, the PCA rounds build
their projection as one SQL expression (the collect_control cap is
pinned in test_scale_paths)."""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as ENTRY
from kickstarter_etl_pipeline_spark.certify import _normalize
from kickstarter_etl_pipeline_spark.operators.ranking import bigint
from kickstarter_etl_pipeline_spark.operators.similarity import _pca_projection

# Every user walks a -> b -> c (a -> c on odd users) and may end in
# "end", a sink state: it only ever appears last, so the mass it
# receives leaves the chain a round later. One NULL event type sits
# mid-stream; it is never a current state on either engine.
_TYPES = [["a", "b", "c", "a", "end"], ["a", "c", "b", "c"], ["b", "a", None, "c", "end"]]


@pytest.fixture(scope="module")
def sink_events(tmp_path_factory):
    rows = []
    t0 = datetime(2024, 1, 1)
    for user in range(30):
        for k, et in enumerate(_TYPES[user % 3]):
            rows.append(
                {
                    "event_id": len(rows),
                    "ts": t0 + timedelta(minutes=user * 60 + k),
                    "user_id": user,
                    "event_type": et,
                    "value": float((user * 7 + k * 13) % 11),
                    "props": "{}",
                }
            )
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    sf = tmp_path_factory.mktemp("sink_events")
    pq.write_table(pa.Table.from_pylist(rows, schema), sf / "events.parquet")
    return str(sf)


@pytest.mark.parametrize(
    "name", ["markov_stationary", "preference_bt_strengths", "preference_dataset_manifest"]
)
def test_driver_loop_matches_oracle_with_sink_state(spark, sink_events, name):
    got = ENTRY.queries()[name](spark, sink_events).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sink_events}/events.parquet'")
    want = con.sql(ENTRY.oracle_sql()[name]).df()
    assert len(got) > 0
    assert _normalize(got) == _normalize(want)
    if name == "markov_stationary":  # the sink keeps only its last round's inflow
        shares = dict(zip(got["event_type"], got["stationary_share"]))
        assert "end" in shares and sum(shares.values()) < 0.999


def test_markov_stationary_job_count_is_bounded(spark, sink_events):
    """Building and collecting markov_stationary runs a handful of
    Spark jobs (the transition-count collect), not one or more per
    power-iteration round (36 when each round was a checkpointed plan)."""
    sc = spark.sparkContext
    group = "markov_stationary_jobs"
    sc.setJobGroup(group, "job-count pin")
    try:
        ENTRY.queries()["markov_stationary"](spark, sink_events).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n_jobs <= 8, n_jobs


def test_bigint_guard_raises_outside_int64():
    """The driver loops' Python ints keep ANSI BIGINT's failure mode."""
    assert bigint(2**63 - 1) == 2**63 - 1
    assert bigint(-(2**63)) == -(2**63)
    for x in (2**63, -(2**63) - 1, 10**12 * 10**12):
        with pytest.raises(ArithmeticError, match="BIGINT overflow"):
            bigint(x)


def _column_projection(w):
    """The projection as it was built before: one F.lit per weight and
    Python lambdas for zip_with/aggregate."""
    w_arr = F.array(*[F.lit(float(x)) for x in w])
    return F.floor(
        F.aggregate(
            F.zip_with("_cv", w_arr, lambda c, ww: c.cast("double") * ww),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(0.5)
    ).cast("long")


@pytest.mark.parametrize("elem", ["float", "double"])
def test_pca_sql_projection_equals_column_projection(spark, elem):
    """The one-call SQL projection parses its DOUBLE literals back to
    the same bits, so every row's _q equals the Column-built one."""
    emb = spark.createDataFrame(
        [(i, [((i * 37 + d * 11) % 101 - 50) / 7.0 for d in range(6)]) for i in range(40)],
        f"vec_id long, embedding array<{elem}>",
    )
    cv = emb.select(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast("long"),
        ).alias("_cv")
    )
    for w in (
        [1e-09, -1e-09, 0.0, 0.999999999, 0.125, -0.3333333333333333],
        [5e-324, -0.0, 1e-09, 1.797e308, 0.0, -0.999999999],
    ):
        got = cv.select(_pca_projection(w).alias("_q")).collect()
        want = cv.select(_column_projection(w).alias("_q")).collect()
        assert got == want
        assert len({r["_q"] for r in got}) > 1


def test_pca_projection_refuses_non_finite_weight():
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="no SQL literal"):
            _pca_projection([0.5, bad])
