import statistics

import pytest

from perfbench.stats import (
    nearest_rank,
    summarize,
    tail_percentile,
)


@pytest.mark.parametrize("n,pct", [
    (8, None),        # not even the median has ten samples above it
    (19, None),
    (20, 50.0),       # rank 10 leaves exactly ten beyond
    (39, 50.0),
    (40, 75.0),       # rank 30 leaves ten
    (72, 75.0),
    (100, 90.0),
    (199, 90.0),      # p95 rank 190 would leave nine
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_percentile_keeps_ten_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        ranks = list(range(1, n + 1))
        assert n - nearest_rank(ranks, pct) >= 10


def test_nearest_rank():
    vals = list(range(1, 101))
    assert nearest_rank(vals, 50.0) == 50
    assert nearest_rank(vals, 90.0) == 90
    assert nearest_rank(vals, 99.9) == 100
    assert nearest_rank([7.0], 50.0) == 7.0


def test_summarize_small_sample_has_no_tail():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail_pct": None, "tail": None}


def test_summarize_tail_value():
    vals = [float(v) for v in range(100, 0, -1)]
    s = summarize(vals)
    assert s["n"] == 100 and s["tail_pct"] == 90.0 and s["tail"] == 90.0
    assert s["p50"] == statistics.median(vals)

