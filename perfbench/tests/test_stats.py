import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def beyond(n: int, p: float) -> int:
    return n - math.ceil(n * p / 100.0)


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(1, 400):
        p = stats.tail_percentile(n)
        assert 50 <= p <= 90
        if n >= 20:
            assert beyond(n, p) >= 10, n
            if p < 90:
                assert beyond(n, p + 1) < 10, n


def test_tail_percentile_known_points():
    assert stats.tail_percentile(19) == 50.0  # no percentile qualifies
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(30) == 66.0
    assert stats.tail_percentile(99) == 89.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(10_000) == 90.0


def test_tree_pss_counts_this_process():
    split = stats.tree_pss(os.getpid())
    assert sum(split.values()) > 1 << 20
    assert any(name.startswith("python") or name.startswith("pytest")
               for name in split)


def test_pass_time_sums_per_slot_medians():
    ops = [
        {"slot": "a", "s": 1.0}, {"slot": "b", "s": 2.0},
        {"slot": "a", "s": 9.0}, {"slot": "b", "s": 2.2},  # one slow op
        {"slot": "a", "s": 1.2}, {"slot": "b", "s": 8.0},  # another
    ]
    assert abs(stats.pass_time(ops) - (1.2 + 2.2)) < 1e-12

