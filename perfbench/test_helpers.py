"""Checks of the benchmark's pure helpers.

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import kickstarter_csv  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

RECORDED_LOG = os.path.join(HERE, "testdata", "eventlog.jsonl")


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert stats.tail_percentile([1.0] * 19) is None
    # 20 samples: p50 is the 10th value and 10 lie beyond it.
    assert stats.tail_percentile([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    assert stats.tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert stats.tail_percentile([float(i) for i in range(1, 1001)]) == (99.0, 990.0)
    assert stats.tail_percentile([float(i) for i in range(1, 10_001)]) == (99.9, 9990.0)
    # 99 samples: p90's rank is 90, leaving only 9 beyond it.
    assert stats.tail_percentile([float(i) for i in range(1, 100)])[0] == 50.0


def test_summarize_reports_count_median_and_tail():
    out = stats.summarize({"a": [3.0, 1.0, 2.0]})
    assert out == {"a": {"n": 3, "p50_s": 2.0, "tail": None, "samples_s": [3.0, 1.0, 2.0]}}


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)
    assert stats.union_length([(3.0, 4.0), (0.0, 10.0)]) == pytest.approx(10.0)


def test_parse_recorded_event_log():
    """A log recorded from a local[2] session: group ``a`` ran one
    2-task job; group ``b`` ran a shuffle job (2 + 3 tasks) and then a
    job whose map stage was skipped (3 tasks); one job had no group."""
    with open(RECORDED_LOG) as fh:
        groups = layers.parse_event_log(fh)
    assert set(groups) == {"a", "b", ""}
    a, b = groups["a"], groups["b"]
    assert (a.jobs, a.stages, a.tasks) == (1, 1, 2)
    assert (b.jobs, b.stages, b.tasks) == (2, 3, 8)
    assert b.shuffle_write_bytes > 0 and b.shuffle_read_bytes == b.shuffle_write_bytes * 2
    assert a.shuffle_write_bytes == 0
    assert a.executor_run_s >= 0 and b.executor_cpu_s > 0
    assert len(b.intervals) == 2 and 0 < stats.union_length(b.intervals) <= b.intervals[-1][1] - b.intervals[0][0]


def test_walk_tree_counts_data_files_and_partitions(tmp_path):
    for day in ("k=1", "k=2"):
        (tmp_path / "t" / day).mkdir(parents=True)
        (tmp_path / "t" / day / "part-0.parquet").write_bytes(b"x" * 10)
        (tmp_path / "t" / day / ".part-0.parquet.crc").write_bytes(b"c")
    (tmp_path / "t" / "_SUCCESS").write_bytes(b"")
    assert layers.walk_tree(str(tmp_path)) == {"files": 2, "partitions": 2, "bytes": 20}


def test_generated_csv_meets_golden_invariants():
    data = kickstarter_csv.generate(seed=3)
    assert kickstarter_csv.check_invariants(data) == []
    assert data.frame["launched"].str[:10].nunique() == kickstarter_csv.N_DATES == 3_169


def test_generated_csv_is_seeded_and_scales_down():
    a = kickstarter_csv.generate(seed=5, rows=5_000, dates=200)
    b = kickstarter_csv.generate(seed=5, rows=5_000, dates=200)
    assert a.frame.equals(b.frame)
    assert kickstarter_csv.check_invariants(a, rows=5_000, dates=200) == []
    assert not a.frame.equals(kickstarter_csv.generate(seed=6, rows=5_000, dates=200).frame)

