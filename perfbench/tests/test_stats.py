"""Unit tests for the benchmark's own statistics (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_median_odd_even_and_unsorted():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4, 1, 3, 2]) == 2.5
    assert stats.median([7]) == 7.0
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_nearest_rank():
    xs = list(range(1, 41))  # 1..40
    assert stats.percentile(xs, 50) == 20
    assert stats.percentile(xs, 75) == 30
    assert stats.percentile(xs, 100) == 40
    assert stats.percentile(reversed(xs), 75) == 30


def test_ten_beyond_rule():
    # at 40 reads, p75 is the highest percentile with ten samples beyond
    assert stats.samples_beyond(40, 75) == 10
    assert stats.samples_beyond(40, 90) == 4
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(39) == 50
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 5.0, 9.0),
        _span(4, 3, 6.0, 7.0),
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    # self times of a tree add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 2.0, 6.0),
        _span(3, 1, 4.0, 8.0),    # overlaps child 2: covered once
        _span(4, 1, 9.0, 12.0),   # sticks out of the parent: clipped
    ]
    assert stats.self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tree_rss_sums_descendants_only():
    table = {
        1: (0, 100),        # init: not ours
        10: (1, 1000),      # the benchmark
        11: (10, 5000),     # JVM
        12: (11, 300),      # python worker daemon
        13: (12, 200),      # forked worker
        20: (1, 7000),      # unrelated process
    }
    assert stats.tree_rss(table, 10) == 1000 + 5000 + 300 + 200
    assert stats.tree_rss(table, 12) == 500
    assert stats.tree_rss(table, 99) == 0  # exited: nothing to count


def test_cpu_fractions():
    before = dict(user=100, nice=0, system=50, idle=800, iowait=10,
                  irq=0, softirq=0, steal=40)
    after = dict(user=400, nice=0, system=150, idle=1000, iowait=10,
                 irq=0, softirq=0, steal=140)
    f = stats.cpu_fractions(before, after)
    assert f["busy_frac"] == pytest.approx(400 / 700)
    assert f["steal_frac"] == pytest.approx(100 / 700)


@pytest.fixture
def fine():
    return pd.DataFrame(
        {
            "run": ["r0", "r0", "r0", "r1", "r1", "r1"],
            "source": ["a", "a", "b", "a", "b", "b"],
            "bucket": [0, 5, 5, 5, 9, 5],
            "n_docs": [1, 2, 3, 4, 5, 6],
            "sum_tok": [10, 20, 30, 40, 50, 60],
        }
    )


def test_expected_route_answer(fine):
    want = stats.expected_route_answer(fine, 5, 9)
    assert want == {
        "a": {"n_docs": 6, "sum_tok": 60},
        "b": {"n_docs": 9, "sum_tok": 90},
    }


def test_expected_route_answer_drops_duplicate_cells(fine):
    dup = pd.concat([fine, fine.iloc[[1]]], ignore_index=True)
    assert stats.expected_route_answer(dup, 5, 9) == \
        stats.expected_route_answer(fine, 5, 9)


def test_route_check_fails_on_wrong_expected_value(fine):
    got = {"a": {"n_docs": 6, "sum_tok": 60}, "b": {"n_docs": 9, "sum_tok": 90}}
    assert stats.route_answer_matches(got, stats.expected_route_answer(fine, 5, 9))
    wrong = {"a": {"n_docs": 6, "sum_tok": 61}, "b": {"n_docs": 9, "sum_tok": 90}}
    assert not stats.route_answer_matches(got, wrong)
    # a missing source fails too
    assert not stats.route_answer_matches(got, {"a": got["a"]})
