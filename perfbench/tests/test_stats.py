"""Spark-free tests of the benchmark's statistics helpers."""

from __future__ import annotations

import time

import pytest

from perfbench.sparkstats import parse_metric
from perfbench.stats import (
    CpuTimes,
    describe,
    failure_ratio,
    median,
    process_tree_cpu_s,
    stat_fields,
    steal_pct,
    tail_percentile,
    tree_cpu_ticks,
)


def test_median():
    assert median([3.0, 1.0, 2.0, 10.0, 4.0]) == 3.0
    assert median([4.0, 1.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


@pytest.mark.parametrize(
    "n, expected_p",
    [(19, None), (20, 50.0), (99, 50.0), (100, 90.0), (199, 90.0), (200, 95.0),
     (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected_p):
    got = tail_percentile(range(1, n + 1))
    if expected_p is None:
        assert got is None
        return
    p, value, count = got
    assert (p, count) == (expected_p, n)
    # nearest rank: the value has >= p% of samples at or below it and
    # at least ten samples strictly above it
    assert sum(v <= value for v in range(1, n + 1)) >= n * p / 100
    assert sum(v > value for v in range(1, n + 1)) >= 10


def test_describe_states_sample_count():
    d = describe([2.0, 1.0, 3.0])
    assert d == {"median": 2.0, "n": 3}
    d = describe(list(range(100)))
    assert d["n"] == 100 and d["p"] == 90.0 and d["p_value"] == 89.0


PROC_STAT = """cpu  100 5 50 800 10 0 5 30 7 0
cpu0 25 1 12 200 2 0 1 8 2 0
intr 12345
"""


def test_cpu_times_parse_aggregate_line_only():
    t = CpuTimes.parse(PROC_STAT)
    # guest (7) is already inside user and is not added again
    assert t == CpuTimes(total=100 + 5 + 50 + 800 + 10 + 0 + 5 + 30, steal=30)
    with pytest.raises(ValueError):
        CpuTimes.parse("intr 1\n")


def test_steal_window_arithmetic():
    before = CpuTimes(total=1000, steal=10)
    after = CpuTimes(total=1400, steal=30)
    assert steal_pct(before, after) == pytest.approx(5.0)
    assert steal_pct(before, before) == 0.0
    with pytest.raises(ValueError):
        steal_pct(after, before)


def test_stat_fields_reads_ppid_and_cpu_ticks():
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime priority ...
    line = "4242 (java (main)) S 17 4242 17 0 -1 4194560 900 0 3 0 150 25 7 3 20 0 31 0"
    assert stat_fields(line) == (17, 150 + 25 + 7 + 3)


def test_tree_cpu_ticks_sums_root_and_descendants_only():
    stats = {
        10: (1, 5),   # root
        11: (10, 7),  # child
        12: (11, 2),  # grandchild
        13: (1, 100),  # unrelated
    }
    assert tree_cpu_ticks(stats, 10) == 14
    assert tree_cpu_ticks(stats, 11) == 9
    assert tree_cpu_ticks(stats, 99) == 0


def test_process_tree_cpu_counts_this_process():
    before = process_tree_cpu_s()
    deadline = time.process_time() + 0.05
    while time.process_time() < deadline:
        pass
    assert process_tree_cpu_s() - before >= 0.03


def test_failure_ratio_counts_against_attempted():
    assert failure_ratio(0, 12) == 0.0
    assert failure_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        failure_ratio(0, 0)
    with pytest.raises(ValueError):
        failure_ratio(5, 4)


@pytest.mark.parametrize(
    "text, value",
    [
        ("472.0 B", 472.0),
        ("2,901", 2901.0),
        ("12 ms", 0.012),
        ("total (min, med, max (stageId: taskId))\n9.0 s (194 ms, 1.8 s, 2.3 s (stage 26.0: task 66))", 9.0),
        ("total (min, med, max (stageId: taskId))\n70.1 KiB (8.1 KiB, 8.8 KiB, 9.0 KiB (stage 26.0: task 71))", 70.1 * 1024),
        ("1.5 m", 90.0),
    ],
)
def test_parse_spark_sql_metric_strings(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 furlongs")
