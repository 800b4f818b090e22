"""``risk_live``: the production flagship shape of jobs/kafka_join.py,
kept up for the whole run and fed in a closed loop.

File-stream sources (stand-ins for the ``redis-server`` and
``stedi-events`` topics) feed ``plans.stedi.flagship_pipeline`` ->
``serialize_risk_payload`` -> ``streaming.runner.start_query`` with a
``json`` file sink (the stand-in for ``stedi-risk``). Every customer
envelope is published before timing starts. Each tick then publishes
one file of seeded-random risk events and one file of customer
re-saves, each written outside the watched directory and renamed into
it; the tick's freshness runs from the renames to the return of
``processAllAvailable()``. One client, one tick outstanding.

The sink is checked after the loop: as a multiset it must equal the
batch ``flagship_pipeline`` over exactly the published files.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import StringType, StructField, StructType

import datagen
import harness
import stats
from harness import Engine, ScratchRoot

# Customers match the sf0.1 test data (15,000 envelopes); events are
# only a pool the ticks sample from.
SIZES = datagen.Sizes(
    customer=15_000, supplier=1, part=1, orders=1, lineitem=1,
    events=20_000, documents=20, embeddings=10,
)
RISK_PER_TICK = 200
CUSTOMERS_PER_TICK = 5
WARMUP_TICKS = 8
# Counts (batches, rows, jobs, state size) are read over this many
# timed ticks.
COUNTED_TICKS = 10
# State grows every tick, so the tick count is fixed by --seconds
# alone, never by how fast the box runs.
NOMINAL_TICK_S = 1.0


def timed_ticks(seconds: float) -> int:
    return max(COUNTED_TICKS, round(seconds / NOMINAL_TICK_S))
INPUT_BUILDS = 3
TICK_SCHEMA = StructType(
    [StructField("topic", StringType()), StructField("value", StringType())]
)


def _build_wires(spark, data_dir):
    from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import (
        stedi_customers_wire,
        stedi_risk_wire,
    )

    risk = [r[0] for r in stedi_risk_wire(spark, data_dir).collect()]
    cust = [r[0] for r in stedi_customers_wire(spark, data_dir).collect()]
    return risk, cust


CUSTOMER_TOPIC = "redis-server"
RISK_TOPIC = "stedi-events"


class Feed:
    """One watched directory standing in for a source subscribed to both
    topics, as a Kafka source with ``subscribe=redis-server,stedi-events``
    yields rows tagged with their topic. Each tick is one parquet file
    written outside the directory and renamed into it, so a tick's
    customer re-saves and risk events always land in the same
    micro-batch."""

    def __init__(self, scratch: ScratchRoot):
        self.stage = scratch.sub("stage")
        self.dir = scratch.sub("in")
        self.n = 0

    def stage_file(self, cust: list[str], risk: list[str]) -> tuple[str, str]:
        self.n += 1
        name = f"tick-{self.n:05d}.parquet"
        src = os.path.join(self.stage, name)
        pq.write_table(pa.table({
            "topic": [CUSTOMER_TOPIC] * len(cust) + [RISK_TOPIC] * len(risk),
            "value": pa.array(cust + risk, pa.string()),
        }), src)
        return src, os.path.join(self.dir, name)

    @staticmethod
    def publish(move: tuple[str, str]) -> float:
        t = time.perf_counter()
        os.rename(*move)
        return t


def _split_topics(df):
    """(customer envelopes, risk events) as the one-column ``value``
    frames ``flagship_pipeline`` takes."""
    from pyspark.sql import functions as F

    def topic(name):
        return df.filter(F.col("topic") == name).select("value")

    return topic(CUSTOMER_TOPIC), topic(RISK_TOPIC)


def _batch_expected(spark, feed: Feed) -> Counter:
    from evaluate_human_balance_with_spark_streaming_spark.plans.stedi import (
        flagship_pipeline,
        serialize_risk_payload,
    )

    published = spark.read.schema(TICK_SCHEMA).parquet(feed.dir)
    rows = serialize_risk_payload(flagship_pipeline(*_split_topics(published))).collect()
    return Counter(r[0] for r in rows)


def _read_sink(spark, sink_dir: str):
    schema = StructType([StructField("value", StringType())])
    # Reading the sink dir goes through its _spark_metadata log, so
    # only committed files count.
    return spark.read.schema(schema).json(sink_dir)


def run(checkout: str, scratch: ScratchRoot, seed: int, seconds: float, trace: bool):
    from evaluate_human_balance_with_spark_streaming_spark.plans.stedi import (
        flagship_pipeline,
        serialize_risk_payload,
    )
    from evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        stream_parquet_dir,
    )
    from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
        start_query,
    )

    engine = Engine(scratch)
    spark = engine.spark

    builds = []
    for i in range(INPUT_BUILDS):
        t0 = time.perf_counter()
        data_dir = datagen.write_tables(scratch.sub(f"data{i}"), seed, SIZES)
        risk_pool, cust_pool = _build_wires(spark, data_dir)
        builds.append(time.perf_counter() - t0)
    input_build_s = statistics.median(builds)

    t0 = time.perf_counter()
    feed = Feed(scratch)
    tp = time.perf_counter()
    payload = serialize_risk_payload(
        flagship_pipeline(*_split_topics(stream_parquet_dir(spark, feed.dir, TICK_SCHEMA)))
    )
    plan_build_ms = (time.perf_counter() - tp) * 1000.0
    sink_dir = scratch.sub("sink")
    query = start_query(
        payload, "json", checkpoint_location=scratch.sub("checkpoint"),
        options={"path": sink_dir},
    )
    rng = random.Random(seed)

    def tick() -> tuple[float, float, float]:
        """One closed-loop tick: (publish time, done time, CPU ms)."""
        move = feed.stage_file(
            rng.sample(cust_pool, CUSTOMERS_PER_TICK), rng.sample(risk_pool, RISK_PER_TICK)
        )
        cpu0 = engine.cpu_s()
        published = Feed.publish(move)
        query.processAllAvailable()
        done = time.perf_counter()
        return published, done, (engine.cpu_s() - cpu0) * 1000.0

    try:
        Feed.publish(feed.stage_file(cust_pool, []))
        query.processAllAvailable()
        for _ in range(WARMUP_TICKS):
            tick()
        warmup_s = time.perf_counter() - t0

        def last_batch() -> int:
            p = query.lastProgress
            return int(p["batchId"]) if p else -1

        published, done, cpu_ms, bounds = [], [], [], [last_batch()]
        # Stream jobs run under the query's runId as job group.
        jobs_before = set(engine.job_ids(str(query.runId))) if trace else set()
        counted_jobs: set[int] = set()
        # The file sink reports no output count in its progress, so the
        # traced run counts committed sink rows around the counted ticks.
        sink_rows = [_read_sink(spark, sink_dir).count()] if trace else []
        box0 = harness.box_cpu()
        start = time.perf_counter()
        n_ticks = timed_ticks(seconds)
        while len(done) < n_ticks:
            for out, v in zip((published, done, cpu_ms), tick()):
                out.append(v)
            bounds.append(last_batch())
            if trace and len(done) == COUNTED_TICKS:
                counted_jobs = set(engine.job_ids(str(query.runId))) - jobs_before
                sink_rows.append(_read_sink(spark, sink_dir).count())
            if time.perf_counter() - start > seconds * 3:
                break  # never run away on a slow box
        steal = harness.box_steal_share(box0, harness.box_cpu())
        progress = list(query.recentProgress)
    finally:
        query.stop()

    fresh = stats.tick_freshness(published, done)
    rss_peak_mb = engine.rss_peak_mb()  # before the check's own work
    expected = _batch_expected(spark, feed)
    got = Counter(r[0] for r in _read_sink(spark, sink_dir).collect())
    correct = expected == got and sum(got.values()) > 0
    attempted = len(fresh)
    failed = 0 if correct else attempted

    e2e = {
        "latency_ms": statistics.median(fresh),
        "latency_mean_ms": statistics.fmean(fresh),
        "setup_s": engine.get_spark_s + input_build_s + warmup_s,
    }
    layers = {}
    if trace:
        # Idle triggers also report progress, under the last batch's id;
        # only executed batches carry an addBatch time.
        by_id = {}
        for p in map(json.loads, (p.json for p in progress)):
            if "addBatch" in p.get("durationMs", {}):
                by_id.setdefault(int(p["batchId"]), p)
        ticks = [[by_id[b] for b in ids if b in by_id]
                 for ids in stats.batches_per_tick(by_id, bounds)]
        counted = ticks[:COUNTED_TICKS]
        last = counted[-1][-1] if counted and counted[-1] else {}
        jobs, stages, tasks = engine.job_counts(counted_jobs)
        layers = {
            "process.cpu_ms": statistics.median(cpu_ms),
            "process.rss_peak_mb": rss_peak_mb,
            "session.get_spark_s": engine.get_spark_s,
            "sources.input_build_s": input_build_s,
            "plans.build_ms": plan_build_ms,
            **harness.p50_of_tick_sums(ticks),
            "streaming.batches": float(sum(len(t) for t in counted)),
            "streaming.input_rows": float(sum(p.get("numInputRows", 0) for t in counted for p in t)),
            "streaming.output_rows": float(sink_rows[-1] - sink_rows[0]),
            **harness.state_size(last),
            "exec.jobs": float(jobs),
            "exec.stages": float(stages),
            "exec.tasks": float(tasks),
        }
    notes = [
        f"risk_live: {attempted} timed ticks after {WARMUP_TICKS} warm-up ticks, "
        f"warm-up {warmup_s:.1f}s, input builds {[round(b, 2) for b in builds]}s, "
        f"box CPU stolen while timed {steal:.1%}",
        f"tick CPU ms: {[round(c) for c in cpu_ms]}",
        "freshness " + ", ".join(
            f"p{p:g}={stats.percentile(fresh, p):.0f}ms"
            for p in stats.supported_percentiles(len(fresh))
        ) + f" over {len(fresh)} ticks: {[round(f) for f in fresh]}",
    ]
    if not correct:
        notes.append(
            f"FAILED sink check: {sum(got.values())} sink rows vs "
            f"{sum(expected.values())} expected, {len(got - expected)} unexpected, "
            f"{len(expected - got)} missing"
        )
    return correct, attempted, failed, e2e, layers, notes
