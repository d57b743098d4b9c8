"""Unit tests for the stream latency attribution and the tail rule.

Run: ``python3 -m pytest perfbench/test_latency.py -q`` (no Spark).
"""

from __future__ import annotations

import pytest

from perfbench.latency import (
    AttributionError,
    attribute_files,
    file_latencies,
    progress_end_time,
    tail_percentile,
)


def test_tail_percentile_hundred_samples_is_p90():
    xs = list(range(1, 101))  # 1..100
    pct, v = tail_percentile(xs)
    assert pct == 90.0
    assert v == 90
    assert sum(1 for x in xs if x > v) == 10


def test_tail_percentile_keeps_ten_beyond_at_other_sizes():
    for n in (11, 37, 250):
        xs = [float(i) for i in range(n)]
        pct, v = tail_percentile(list(reversed(xs)))
        assert sum(1 for x in xs if x > v) == 10
        assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_percentile_small_sample_is_max():
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail_percentile([5.0] * 10) == (100.0, 5.0)


def test_attribute_contiguous_files_to_batches():
    # files of 10, 20, 30, 40 rows; batch 0 reads file 0, an empty
    # batch, batch 2 reads files 1-2, batch 3 reads file 3
    assert attribute_files([10, 20, 30, 40], [10, 0, 50, 40]) == [0, 2, 2, 3]


def test_attribute_unprocessed_files_are_none():
    assert attribute_files([5, 5, 5], [10]) == [0, 0, None]


def test_attribute_rejects_partial_file():
    with pytest.raises(AttributionError):
        attribute_files([10, 10], [15, 5])


def test_file_latencies_from_progress_rows():
    base = "2026-01-01T00:00:00.000Z"
    t0 = progress_end_time(base, 0)
    progress = [
        {"batchId": 1, "numInputRows": 300, "timestamp": "2026-01-01T00:00:02.000Z",
         "durationMs": {"triggerExecution": 1500}},
        {"batchId": 0, "numInputRows": 100, "timestamp": base,
         "durationMs": {"triggerExecution": 1000}},
    ]
    due = [None, t0 + 0.5, t0 + 1.0]
    lat = file_latencies([100, 100, 200], due, progress)
    assert lat[0] is None                      # warm-up file is not timed
    assert lat[1] == pytest.approx(3.5 - 0.5)  # batch 1 ends at t0+3.5
    assert lat[2] == pytest.approx(3.5 - 1.0)
