"""Unit tests for the benchmark's arithmetic (perfbench/stats.py).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, []),
        (1, [50.0]),
        (19, [50.0]),
        (20, [50.0]),
        (39, [50.0]),
        (40, [50.0, 75.0]),
        (99, [50.0, 75.0]),
        (100, [50.0, 75.0, 90.0]),
        (200, [50.0, 75.0, 90.0, 95.0]),
        (1000, [50.0, 75.0, 90.0, 95.0, 99.0]),
    ],
)
def test_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.supported_percentiles(n) == expected


def test_p90_is_reported_only_with_ten_samples_above_it():
    assert 90.0 not in stats.supported_percentiles(99)
    vals = list(range(1, 101))
    assert 90.0 in stats.supported_percentiles(len(vals))
    assert sum(v > stats.percentile(vals, 90.0) for v in vals) == 10


def test_nearest_rank_percentile():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(vals, 50.0) == 3.0
    assert stats.percentile(vals, 100.0) == 5.0
    assert stats.percentile(vals, 1.0) == 1.0
    with pytest.raises(ValueError):
        stats.percentile([], 50.0)


def test_per_query_median_then_sum_and_geomean():
    samples = {"fast": [100.0, 90.0, 400.0], "slow": [1000.0, 1100.0, 1050.0]}
    med = stats.per_query_medians(samples)
    assert med == {"fast": 100.0, "slow": 1050.0}
    assert stats.suite_sum(med) == 1150.0
    assert stats.suite_geomean(med) == pytest.approx(math.sqrt(100.0 * 1050.0))


def test_one_slow_pass_of_one_query_does_not_move_the_suite():
    # A rank taken over the pooled samples jumps when one query's
    # outlier crosses another query; each query's own median does not.
    calm = {"a": [100.0, 101.0, 99.0], "b": [300.0, 301.0, 299.0]}
    spiky = {"a": [100.0, 99.0, 900.0], "b": [300.0, 301.0, 299.0]}
    assert stats.suite_sum(stats.per_query_medians(calm)) == stats.suite_sum(
        stats.per_query_medians(spiky)
    )
    pooled = lambda s: statistics.median(v for vals in s.values() for v in vals)  # noqa: E731
    assert pooled(calm) != pooled(spiky)


def test_per_query_best_then_sum_and_geomean():
    samples = {"fast": [100.0, 90.0, 400.0], "slow": [1000.0, 1100.0, 1050.0]}
    best = stats.per_query_best(samples)
    assert best == {"fast": 90.0, "slow": 1000.0}
    assert stats.suite_sum(best) == 1090.0
    assert stats.suite_geomean(best) == pytest.approx(math.sqrt(90.0 * 1000.0))


def test_stolen_passes_do_not_move_the_best():
    # Bursts of stolen CPU slow whole passes; the fastest pass of each
    # query stays put, while a median moves once half the passes are hit.
    calm = {"a": [100.0, 101.0, 99.0, 100.0], "b": [300.0, 301.0, 299.0, 300.0]}
    stolen = {"a": [150.0, 99.0, 160.0, 140.0], "b": [450.0, 299.0, 480.0, 420.0]}
    assert stats.per_query_best(calm) == stats.per_query_best(stolen)
    assert stats.per_query_medians(calm) != stats.per_query_medians(stolen)


def test_a_uniform_slowdown_moves_the_best():
    base = {"a": [100.0, 110.0, 105.0]}
    slower = {"a": [v * 1.2 for v in base["a"]]}
    assert stats.per_query_best(slower)["a"] == pytest.approx(120.0)


def test_query_without_samples_is_an_error():
    with pytest.raises(ValueError):
        stats.per_query_medians({"a": [1.0], "b": []})
    with pytest.raises(ValueError):
        stats.per_query_best({"a": [1.0], "b": []})
    with pytest.raises(ValueError):
        stats.suite_geomean({"a": 0.0})


def test_family_sums_cover_every_family():
    fams = {"dedup_": "operators.dedup_ms", "q_": "plans.analytics_ms",
            "mm_": "operators.multimodal_ms"}
    out = stats.family_sums({"dedup_a": 2.0, "dedup_b": 3.0, "q_x": 1.5}, fams)
    assert out == {"operators.dedup_ms": 5.0, "plans.analytics_ms": 1.5,
                   "operators.multimodal_ms": 0.0}


def test_tick_freshness_pairs_publish_with_return():
    assert stats.tick_freshness([10.0, 12.0], [11.25, 12.5]) == [1250.0, 500.0]
    with pytest.raises(ValueError):
        stats.tick_freshness([1.0], [])
    with pytest.raises(ValueError):
        stats.tick_freshness([2.0], [1.0])


def test_batches_are_attributed_to_the_tick_that_waited_for_them():
    # Batch 3 was the last warm-up batch. Tick 0 ran batch 4, tick 1
    # needed two batches (its files landed across a trigger), tick 2
    # found its data already processed, tick 3 ran batch 7.
    bounds = [3, 4, 6, 6, 7]
    got = stats.batches_per_tick(range(1, 9), bounds)
    assert got == [[4], [5, 6], [], [7]]
    assert stats.batches_per_tick([1, 2], [2]) == []
    with pytest.raises(ValueError):
        stats.batches_per_tick([1], [3, 2])


STATUS = """Name:\tjava
VmPeak:\t 9000000 kB
VmSize:\t 8000000 kB
VmHWM:\t 1234567 kB
VmRSS:\t  900000 kB
"""


def test_vm_hwm_parsing():
    assert stats.vm_hwm_kb(STATUS) == 1234567
    with pytest.raises(ValueError):
        stats.vm_hwm_kb("Name:\tjava\nVmRSS:\t 1 kB\n")
    with pytest.raises(ValueError):
        stats.vm_hwm_kb("VmHWM:\t 12 MB\n")


def test_vm_hwm_of_this_process():
    with open(f"/proc/{os.getpid()}/status") as fh:
        assert stats.vm_hwm_kb(fh.read()) > 0
