"""Tests for the benchmark's own arithmetic (``stats.py``).

Run: python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def beyond(samples, value):
    return sum(1 for x in samples if x > value)


@pytest.mark.parametrize("n", [11, 12, 20, 36, 72, 100, 1000])
def test_tail_leaves_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    value, pct = stats.tail(samples)
    assert beyond(samples, value) == stats.TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - stats.TAIL_BEYOND) / n)


def test_tail_is_the_highest_such_percentile():
    # one rank higher would leave only nine samples beyond
    samples = [float(i) for i in range(50)]
    value, _ = stats.tail(samples)
    higher = sorted(samples)[sorted(samples).index(value) + 1]
    assert beyond(samples, higher) == stats.TAIL_BEYOND - 1


def test_tail_ignores_input_order():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert stats.tail(samples) == stats.tail(sorted(samples))
    assert stats.tail(samples) == (1.0, pytest.approx(100 * 2 / 12))


def test_tail_with_too_few_samples_reports_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert stats.tail([float(i) for i in range(10)]) == (9.0, 100.0)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])


def test_throughput_is_ops_per_second():
    assert stats.throughput(72, 14.4) == pytest.approx(5.0)
    assert stats.throughput(0, 3.0) == 0.0


@pytest.mark.parametrize("wall", [0.0, -1.0])
def test_throughput_rejects_non_positive_wall(wall):
    with pytest.raises(ValueError):
        stats.throughput(10, wall)


def run_converge(readings):
    it = iter(readings)
    calls = []
    value = stats.converge(lambda: calls.append(1), lambda: next(it))
    return value, len(calls)


def test_converge_stops_when_two_pairs_agree_within_one_percent():
    # measured shape: a one-round plateau (123.5 -> 122.9), then the drop
    readings = [123.5, 122.9, 98.0, 91.0, 90.6, 90.6, 90.5]
    (value, rounds), collects = run_converge(readings)
    assert (value, rounds, collects) == (90.6, 6, 6)


def test_converge_needs_pairs_plus_one_readings():
    (value, rounds), _ = run_converge([80.0, 80.0, 80.0])
    assert (value, rounds) == (80.0, 3)


def test_converge_does_not_stop_at_one_agreeing_pair():
    # the one-round plateau 253 -> 252 is not enough; the drop after it
    # restarts the count
    (value, rounds), _ = run_converge([253.0, 252.0, 83.1, 82.6, 82.5])
    assert (value, rounds) == (82.5, 5)


def test_converge_boundary_is_inclusive_of_the_larger_reading():
    (value, rounds), _ = run_converge([100.0, 99.0, 99.0])  # exactly 1%, 0%
    assert (value, rounds) == (99.0, 3)
    (value, rounds), _ = run_converge([100.0, 98.9, 98.9, 98.9])  # 1.1%, 0%, 0%
    assert (value, rounds) == (98.9, 4)


def test_converge_raises_when_readings_never_settle():
    calls = []
    readings = iter([100.0, 50.0] * stats.MAX_ROUNDS + [50.0, 50.0, 50.0])
    with pytest.raises(RuntimeError):
        stats.converge(lambda: calls.append(1), lambda: next(readings))
    assert len(calls) == stats.MAX_ROUNDS
