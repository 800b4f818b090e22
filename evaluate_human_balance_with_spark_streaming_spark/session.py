"""SparkSession construction tuned for both local test runs and a
large multi-executor cluster.

The reference creates bare sessions (``SparkSession.builder.appName(...)
.getOrCreate()``, reference sparkpykafkajoin.py:56) and leaves every
performance knob at its default. For a 100 TB deployment we want AQE,
Arrow transfer for any pandas interchange, Kryo, a sane shuffle-partition
count, and RocksDB-backed streaming state (bounded memory for the
unbounded stream-stream join state the reference accumulates).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs we also apply defensively to externally-created
# sessions (the correctness driver passes us its own SparkSession).
RUNTIME_CONF = {
    # Deterministic timestamp rendering; matches DuckDB's naive reading
    # of the parquet test tables.
    "spark.sql.session.timeZone": "UTC",
    # AQE re-plans at runtime: coalesces small shuffle partitions and
    # splits skewed join partitions — essential at scale, free locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The synthetic events table stores TIMESTAMP(NANOS) parquet, which
    # Spark cannot represent natively; read as int64 nanos and convert
    # explicitly in sources/testdata.py (micros truncation — all query
    # semantics are ≥ second granularity).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Every streaming checkpoint file (offset and commit logs, file-source
# and file-sink metadata logs, HDFS-backed state-store deltas) is
# written through Hadoop's FileSystem API instead of Spark's default
# FileContext one. On a local ``file:`` checkpoint without the libhadoop
# native library, FileContext's RawLocalFs forks a ``chmod``/``stat``
# shell command for every file it creates or renames: one atomic
# checkpoint write cost ~29 ms and 20 forked processes, against ~6.5 ms
# and 4 through FileSystem, on tmpfs and ext4 alike (a bare ext4 write
# plus rename takes ~0.1 ms; 4-core box, Spark 4.1.2). Both managers write a temp file and rename it onto the
# target only if the target is absent, with the same .crc sidecars, so
# the checkpoint layout and its exactly-once guarantees are unchanged;
# on HDFS the FileSystem rename is atomic and never overwrites.
CHECKPOINT_FILE_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (e.g. one
    handed to us by the test driver).

    The sizing knobs are applied ONLY while the session still carries
    Spark's stock default (review finding: the driver's bare
    getOrCreate() session ran every certification query at 200
    shuffle partitions and a 10 MB broadcast threshold — exactly the
    local overhead get_spark's builder eliminates). A value the owner
    set deliberately (tests at 8, bench at 32, connected_components'
    temporary 4-pin) is never overridden. The checkpoint file manager
    follows the same rule: set only where the owner chose none."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Some confs may be fixed by the session owner; never fail.
            pass
    sizing = {
        "spark.sql.shuffle.partitions": (
            {"200"},
            str(default_parallelism()),
        ),
        "spark.sql.autoBroadcastJoinThreshold": (
            {"10485760", "10485760b", "10MB"},
            str(64 * 1024 * 1024),
        ),
    }
    for key, (stock, tuned) in sizing.items():
        try:
            if spark.conf.get(key) in stock:
                spark.conf.set(key, tuned)
        except Exception:
            pass
    try:
        if spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None) is None:
            spark.conf.set(CHECKPOINT_FILE_MANAGER_KEY, CHECKPOINT_FILE_MANAGER)
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "ehb-spark-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster ``spark.sql.shuffle.partitions`` should be sized to
    ~2-3x total executor cores (and AQE coalesces down); locally we match
    the core count so small tests don't pay 200-partition overhead.
    """
    par = shuffle_partitions or default_parallelism()
    master = os.environ.get("SPARK_MASTER", f"local[{default_parallelism()}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(par))
        .config("spark.default.parallelism", str(par))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Broadcast small dimension tables aggressively (region/nation/
        # customer-sized dims); AQE also converts to broadcast at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Larger scan partitions keep task count sane on wide scans.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        # Streaming state store: RocksDB spills to disk instead of
        # exhausting executor heap — the right choice when the parity
        # join's unbounded state (SURVEY §2.4) actually grows large.
        # But every micro-batch pays a native open/commit/snapshot per
        # store (partitions × stateful-ops × sides): measured 133s vs
        # 36s for the same replay on the in-JVM HDFSBacked provider at
        # test scale, before CHECKPOINT_FILE_MANAGER. The HDFSBacked
        # commit's own cost was not disk I/O but the default manager's
        # shell-outs per delta file: the live flagship's state commit
        # fell from ~375 to ~20 ms per tick without them. On that live
        # join RocksDB, with changelog checkpointing and the one-store
        # join state format, then ran ~12% faster still (CHANGES.md);
        # the bounded replays are not re-measured under it. Default to
        # the JVM provider; flip the env var on a real cluster with big
        # state.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            + (
                "RocksDBStateStoreProvider"
                if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb"
                else "HDFSBackedStateStoreProvider"
            ),
        )
        .config(CHECKPOINT_FILE_MANAGER_KEY, CHECKPOINT_FILE_MANAGER)
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        # STATIC conf: binds ONLY when this process launches the JVM
        # (plain `python ...` / pytest / bench). Under spark-submit the
        # driver JVM already exists and this line is silently ignored —
        # size the driver there with `spark-submit --driver-memory`
        # (the jobs/*.py headers launch that way).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
