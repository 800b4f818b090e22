"""The benchmark's arithmetic: sample rules, per-query aggregation,
tick attribution and the kernel memory read-out.

Pure functions over plain numbers and strings, so the rules that turn
raw timings into reported metrics are unit-tested without Spark
(perfbench/tests/test_stats.py).
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

# A percentile is reported only when at least this many samples lie
# beyond it; below that its value rests on a handful of operations.
MIN_BEYOND = 10
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def supported_percentiles(n: int) -> list[float]:
    """The percentiles of PERCENTILES that ``n`` samples support: those
    with at least MIN_BEYOND samples above them. The median is always
    reported, so it is listed for any ``n >= 1``."""
    out = [p for p in PERCENTILES if n - _rank(p, n) >= MIN_BEYOND]
    if n >= 1 and 50.0 not in out:
        out.insert(0, 50.0)
    return out


def _rank(p: float, n: int) -> int:
    # The epsilon keeps float error (0.9 * 100 = 90.00000000000001)
    # from bumping an exact rank to the next one.
    return max(1, math.ceil(p / 100.0 * n - 1e-9))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def per_query_medians(samples: Mapping[str, Sequence[float]]) -> dict[str, float]:
    """Each query's median across passes. Queries are never pooled:
    a rank taken across different queries moves whenever one query
    crosses another, which is noise, not a change of speed."""
    empty = [name for name, vals in samples.items() if not vals]
    if empty:
        raise ValueError(f"queries without samples: {empty}")
    return {name: statistics.median(vals) for name, vals in samples.items()}


def per_query_best(samples: Mapping[str, Sequence[float]]) -> dict[str, float]:
    """Each query's fastest execution across passes. On a shared host
    the hypervisor steals CPU in bursts, and JIT warm-up goes on for
    several passes; both only ever add time, so the fastest pass is the
    one least disturbed and the figure that repeats between runs. A
    change that slows every execution of a query still raises it."""
    empty = [name for name, vals in samples.items() if not vals]
    if empty:
        raise ValueError(f"queries without samples: {empty}")
    return {name: min(vals) for name, vals in samples.items()}


def suite_sum(medians: Mapping[str, float]) -> float:
    return math.fsum(medians.values())


def suite_geomean(medians: Mapping[str, float]) -> float:
    """Geometric mean of positive per-query medians, so that a gain on
    a sub-second query shows as much as the same ratio on a slow one."""
    vals = list(medians.values())
    if not vals or min(vals) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(math.fsum(math.log(v) for v in vals) / len(vals))


def family_sums(
    medians: Mapping[str, float], families: Mapping[str, str]
) -> dict[str, float]:
    """Sum per-query medians by family. ``families`` maps a query-name
    prefix to a family name; every family appears, with 0.0 when none
    of its queries ran."""
    out = {fam: 0.0 for fam in families.values()}
    for name, value in medians.items():
        for prefix, fam in families.items():
            if name.startswith(prefix):
                out[fam] += value
                break
    return out


def tick_freshness(published: Sequence[float], done: Sequence[float]) -> list[float]:
    """Freshness of each tick in ms: from the moment its files were
    renamed into the watched directories to the return of the
    ``processAllAvailable`` that covered them. Ticks are closed-loop,
    so the i-th publish pairs with the i-th return."""
    if len(published) != len(done):
        raise ValueError("every tick needs a publish and a done time")
    out = []
    for p, d in zip(published, done):
        if d < p:
            raise ValueError(f"tick done at {d} before it was published at {p}")
        out.append((d - p) * 1000.0)
    return out


def batches_per_tick(
    batch_ids: Iterable[int], bounds: Sequence[int]
) -> list[list[int]]:
    """Attribute micro-batches to ticks. ``bounds[0]`` is the id of the
    newest batch before the first tick and ``bounds[i + 1]`` the newest
    once tick i returned, so tick i owns the ids in
    ``(bounds[i], bounds[i + 1]]``. Batches outside every tick
    (warm-up, or after the last tick) are dropped."""
    if any(b < a for a, b in zip(bounds, bounds[1:])):
        raise ValueError("tick boundaries must not decrease")
    out: list[list[int]] = [[] for _ in range(max(0, len(bounds) - 1))]
    for b in sorted(batch_ids):
        for i in range(len(out)):
            if bounds[i] < b <= bounds[i + 1]:
                out[i].append(b)
                break
    return out


def vm_hwm_kb(status_text: str) -> int:
    """Peak resident set (``VmHWM``) in kB from /proc/<pid>/status."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            parts = line.split()
            if len(parts) < 2 or (len(parts) > 2 and parts[2] != "kB"):
                raise ValueError(f"unexpected VmHWM line: {line!r}")
            return int(parts[1])
    raise ValueError("no VmHWM line in process status")
