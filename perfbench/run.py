#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload risk_live --seed 1 --seconds 20 --trace 0

Workloads (see README.md in this directory):
  risk_live    the flagship stream-stream join kept up and fed ticks;
               one operation = one tick, timed by its freshness
  query_suite  a fixed slice of the registered batch queries, each
               fully materialized (noop sink); one operation = one
               query execution

Inputs are generated from --seed inside a per-run scratch directory
under the checkout, which is removed on exit. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Progress
and notes go to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
ENGINE_PKG = "evaluate_human_balance_with_spark_streaming_spark"

# A run must end well inside 180 s; past this the watchdog kills the
# JVM and exits non-zero without a result.
WATCHDOG_S = 170

END_TO_END = {
    "latency_ms": "ms",
    "latency_mean_ms": "ms",
    "setup_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from query_suite import SUITE, FAMILIES, query_metric
    from harness import DURATION_KEYS, STATE_TIME_KEYS

    units = {
        "process.cpu_ms": "ms",
        "process.rss_peak_mb": "MB",
        "session.get_spark_s": "s",
        "sources.input_build_s": "s",
        **{n: "ms" for n in DURATION_KEYS.values()},
        **{n: "ms" for n in STATE_TIME_KEYS.values()},
        "streaming.batches": "count",
        "streaming.input_rows": "count",
        "streaming.output_rows": "count",
        "state.store_instances": "count",
        "state.rows_total": "count",
        "state.memory_bytes": "bytes",
        "plans.build_ms": "ms",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        **{n: "ms" for n in FAMILIES.values()},
        "caching.release_ms": "ms",
        "caching.released": "count",
        **{query_metric(n): "ms" for n in SUITE},
        "traced.latency_ms": "ms",
    }
    return units


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("risk_live", "query_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(CHECKOUT, ENGINE_PKG)):
        print(f"perfbench: engine package {ENGINE_PKG} not found under {CHECKOUT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)

    from harness import Engine, ScratchRoot, kill_family

    scratch = ScratchRoot(CHECKOUT, args.workload)

    def watchdog() -> None:
        print(f"perfbench: run exceeded {WATCHDOG_S}s, killing it", file=sys.stderr)
        kill_family()
        scratch.remove()
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, watchdog)
    timer.daemon = True
    timer.start()
    t_start = time.perf_counter()
    try:
        scratch.export_env(CHECKOUT)
        if args.workload == "risk_live":
            import risk_live as workload
        else:
            import query_suite as workload
        correct, attempted, failed, e2e, layers, notes = workload.run(
            CHECKOUT, scratch, args.seed, args.seconds, bool(args.trace)
        )
    finally:
        try:
            Engine.stop_all()
        finally:
            scratch.remove()
            timer.cancel()

    for line in notes:
        print(f"perfbench: {line}", file=sys.stderr)
    print(f"perfbench: scratch medium {scratch.medium}; run took "
          f"{time.perf_counter() - t_start:.1f}s", file=sys.stderr)
    if args.trace:
        layers["traced.latency_ms"] = e2e["latency_ms"]
        units = per_layer_units()
        values = {n: layers.get(n, 0.0) for n in units}
    else:
        units, values = END_TO_END, e2e
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in units}
    unmeasured = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
    if unmeasured:
        print(f"perfbench: no measurement for {unmeasured}", file=sys.stderr)
        return 1
    for n, m in metrics.items():
        print(f"perfbench: {n} = {m['value']:.4f} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
