"""``query_suite``: registered batch queries, each built through the
registry (as wrapped by ``__spark_entry__.queries()``) and fully
materialized with the ``noop`` sink, in fixed passes.

One operation is one query's build + noop write. The first pass is
warm-up: it collects every result instead (correctness input) and is
counted in ``setup_s``. A fixed number of timed passes follows; each
query's fastest timed execution is then summed and geomean-ed.
Results are checked against the registry's DuckDB oracle after the
timed loop, with the repo's value hash.
"""

from __future__ import annotations

import importlib.util
import math
import os
import statistics
import time

import datagen
import harness
import stats
from harness import Engine, ScratchRoot

# A fixed slice of the registry: one or more queries from every batch
# family (reference parity, dedup, similarity, text, multimodal,
# analytics), led by those the open performance items name. A warm
# pass takes 4-5 s on an idle 4-core box, so a run fits the warm-up
# pass and five timed passes at 20 s.
SUITE = (
    "stedi_flagship_join",
    "dedup_simhash_pairs",
    "ann_bruteforce_topk",
    "text_stats_battery",
    "mm_pandas_features",
    "q_pricing_summary",
    "q_user_sessions_gap",
)

# Query-name prefix -> per-layer family metric.
FAMILIES = {
    "stedi_": "plans.stedi_ms",
    "q_": "plans.analytics_ms",
    "dedup_": "operators.dedup_ms",
    "ann_": "operators.similarity_ms",
    "text_": "operators.text_ms",
    "mm_": "operators.multimodal_ms",
}
INPUT_BUILDS = 3
# Pass times keep falling for several passes (JIT warm-up), so a run
# whose pass count depended on the box's speed would sample a different
# point of that curve each time. The count is fixed by --seconds alone.
NOMINAL_PASS_S = 4.0
MIN_PASSES = 3


def timed_passes(seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / NOMINAL_PASS_S))


def query_metric(name: str) -> str:
    return f"query.{name}_ms"


def _load_checker(checkout: str):
    """scripts/check_correctness.py, for its value hash."""
    path = os.path.join(checkout, "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_mismatches(checkout, data_dir, results, oracles) -> dict[str, str]:
    """Query -> reason, for every collected result the oracle rejects."""
    import duckdb
    import pandas as pd

    from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import TABLES

    checker = _load_checker(checkout)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        bad = {}
        for name, (cols, rows) in results.items():
            if any(isinstance(v, float) and math.isnan(v) for r in rows for v in r):
                bad[name] = "NaN in the Spark result"
                continue
            pdf = con.execute(oracles[name]).df()
            orows = [
                tuple(
                    None if (isinstance(v, float) and math.isnan(v)) or v is pd.NaT else v
                    for v in row
                )
                for row in pdf.itertuples(index=False, name=None)
            ]
            if len(rows) != len(orows):
                bad[name] = f"rows spark={len(rows)} oracle={len(orows)}"
            elif sorted(cols) != sorted(pdf.columns):
                bad[name] = "column names differ"
            elif checker.value_hash(rows, cols) != checker.value_hash(orows, list(pdf.columns)):
                bad[name] = "value hash differs"
        return bad
    finally:
        con.close()


def run(checkout: str, scratch: ScratchRoot, seed: int, seconds: float, trace: bool):
    import __spark_entry__ as entry
    from evaluate_human_balance_with_spark_streaming_spark import caching

    engine = Engine(scratch)
    spark = engine.spark

    # Input build, repeated; the last copy is the one queried.
    builds = []
    for i in range(INPUT_BUILDS):
        t0 = time.perf_counter()
        data_dir = datagen.write_tables(scratch.sub(f"data{i}"), seed)
        builds.append(time.perf_counter() - t0)
    input_build_s = statistics.median(builds)

    queries = entry.queries()
    oracles = entry.oracle_sql()
    missing = [n for n in SUITE if n not in queries or n not in oracles]
    if missing:
        raise SystemExit(f"suite queries missing from the registry: {missing}")

    released = {"n": 0, "ms": 0.0}
    if trace:
        inner = caching.release_managed

        def timed_release(blocking: bool = False) -> int:
            t = time.perf_counter()
            n = inner(blocking)
            released["ms"] += (time.perf_counter() - t) * 1000.0
            released["n"] += n
            return n

        caching.release_managed = timed_release

    # Warm-up: one pass collecting each result for the oracle check.
    # Pass times keep falling for several passes after it; the fastest
    # timed pass of each query is what counts, so the first timed
    # passes carry the rest of the warm-up.
    errors: dict[str, str] = {}
    results = {}
    t0 = time.perf_counter()
    for name in SUITE:
        try:
            df = queries[name](spark, data_dir)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as exc:  # a failed query is a failed operation
            errors[name] = f"warm-up: {type(exc).__name__}: {exc}"[:300]
    warmup_s = time.perf_counter() - t0

    walls = {n: [] for n in SUITE}
    cpus = {n: [] for n in SUITE}
    builds_ms = {n: [] for n in SUITE}
    attempted = failed = 0
    passes = 0
    n_passes = timed_passes(seconds)
    exec_counts = (0, 0, 0)
    release_first = (0, 0.0)
    release_before = dict(released)
    box0 = harness.box_cpu()
    start = time.perf_counter()
    while passes < n_passes:
        for name in SUITE:
            attempted += 1
            if trace:
                spark.sparkContext.setJobGroup(f"pb-{passes}-{name}", name)
            try:
                cpu0 = engine.cpu_s()
                t = time.perf_counter()
                df = queries[name](spark, data_dir)
                tb = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                te = time.perf_counter()
                cpu = (engine.cpu_s() - cpu0) * 1000.0
            except Exception as exc:
                failed += 1
                errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:300])
                continue
            walls[name].append((te - t) * 1000.0)
            cpus[name].append(cpu)
            builds_ms[name].append((tb - t) * 1000.0)
        if trace and passes == 0:
            exec_counts = engine.job_counts(
                j for n in SUITE for j in engine.job_ids(f"pb-0-{n}")
            )
            release_first = (
                released["n"] - release_before["n"], released["ms"] - release_before["ms"]
            )
        passes += 1
        if time.perf_counter() - start > seconds * 3:
            break  # never run away on a slow box
    steal = harness.box_steal_share(box0, harness.box_cpu())
    rss_peak_mb = engine.rss_peak_mb()  # before the check's own work
    caching.release_managed()

    mismatched = _oracle_mismatches(
        checkout, data_dir, {n: r for n, r in results.items() if n not in errors}, oracles
    )
    for name, why in mismatched.items():
        errors[name] = f"oracle: {why}"
    # A query whose result is wrong fails every timed execution of it.
    failed += sum(len(walls[n]) for n in mismatched)

    ok = {n: v for n, v in walls.items() if v and n not in errors}
    # Each query's fastest pass, not its median: JIT warm-up goes on
    # through the timed passes and other tenants of a shared host take
    # CPU in bursts, and both only add time. Per-query medians spread
    # over 24-30% of their median between runs of the same code.
    best = stats.per_query_best(ok) if ok else {}
    medians = stats.per_query_medians(ok) if ok else {}
    e2e = {
        "latency_ms": stats.suite_geomean(best) if best else float("nan"),
        "latency_mean_ms": stats.suite_sum(best) / len(best) if best else float("nan"),
        "setup_s": engine.get_spark_s + input_build_s + warmup_s,
    }
    layers = {}
    if trace:
        layers = {
            "process.cpu_ms": stats.suite_geomean(
                stats.per_query_best({n: cpus[n] for n in ok})
            ) if ok else 0.0,
            "process.rss_peak_mb": rss_peak_mb,
            "session.get_spark_s": engine.get_spark_s,
            "sources.input_build_s": input_build_s,
            "plans.build_ms": stats.suite_sum(
                stats.per_query_best({n: builds_ms[n] for n in ok})
            ) if ok else 0.0,
            "exec.jobs": float(exec_counts[0]),
            "exec.stages": float(exec_counts[1]),
            "exec.tasks": float(exec_counts[2]),
            "caching.released": float(release_first[0]),
            "caching.release_ms": release_first[1],
            **stats.family_sums(best, FAMILIES),
            **{query_metric(n): best.get(n, 0.0) for n in SUITE},
        }
    notes = [
        f"query_suite: {len(SUITE)} queries x {passes} timed passes, "
        f"warm-up {warmup_s:.1f}s, input builds {[round(b, 2) for b in builds]}s, "
        f"box CPU stolen while timed {steal:.1%}",
        f"per-query best ms: { {n: round(v) for n, v in best.items()} }",
        f"per-query median ms: { {n: round(v) for n, v in medians.items()} }",
        f"per-query walls ms: { {n: [round(x) for x in v] for n, v in walls.items()} }",
        f"pass walls s: {[round(sum(w[i] for w in walls.values() if len(w) > i) / 1000, 2) for i in range(passes)]}",
        *(f"FAILED {n}: {why}" for n, why in sorted(errors.items())),
    ]
    correct = not errors
    return correct, attempted, failed, e2e, layers, notes
