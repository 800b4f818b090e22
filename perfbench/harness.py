"""Process-level plumbing shared by the workloads: the run's scratch
root, the Spark session and JVM lifetime, peak memory, and the
per-layer read-outs taken from Spark's public handles.

The engine is driven only through its public functions
(``session.get_spark`` here; the workloads call ``sources``,
``plans``, ``streaming`` and ``caching``).
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import time
from collections.abc import Iterable, Sequence

from stats import vm_hwm_kb

# JVM heap for the driver (local mode runs every task in it). The
# benchmark's inputs are small; a modest heap keeps the box's shared
# memory free for other tenants.
DRIVER_MEMORY = "2g"


def task_slots() -> int:
    """Spark task threads: half the CPUs this process may run on. The
    JVM's JIT and GC threads, the Python UDF workers and this driver
    need the other half. With a task thread on every CPU each stage
    waited for whichever task shared its CPU with them or lost it to
    another tenant: on a 4-CPU box ticks and queries ran 5-25% slower
    with four task threads than with two, and up to 60% slower in runs
    that lost CPU to other tenants."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def medium_of(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (tmpfs, ext4,
    overlay, ...), from /proc/mounts."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) < 3:
                    continue
                mnt = parts[1].replace("\\040", " ")
                inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
                if inside and len(mnt) > len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


class ScratchRoot:
    """The one directory a run writes to: generated inputs, tick files,
    sinks, checkpoints, Spark local dirs and every temp file. Removed
    when the run ends, whether it succeeded or not."""

    def __init__(self, checkout: str, workload: str):
        base = os.path.join(checkout, ".perfbench-scratch")
        self.path = os.path.join(base, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.sub("tmp")
        self.medium = medium_of(self.path)

    def sub(self, *parts: str) -> str:
        d = os.path.join(self.path, *parts)
        os.makedirs(d, exist_ok=True)
        return d

    def export_env(self, checkout: str) -> None:
        """Route every writer the engine and Spark have into the root.
        PYTHONPATH must name the checkout before the JVM starts: Spark's
        Python workers import the engine package by module path, and a
        ``sys.path`` edit in this process does not reach them."""
        import tempfile

        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (checkout, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        os.environ["SPARK_GRAFT_REPLAY_SCRATCH"] = self.sub("replay")
        os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
        os.environ.pop("SPARK_MASTER", None)  # get_spark derives local[n] from the above
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        base = os.path.dirname(self.path)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's root is still there


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks used by it and its reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # Fields after the parenthesised command name, from field 3
        # (state): ppid is field 4; utime, stime, cutime, cstime are
        # fields 14-17.
        f = stat.rsplit(")", 1)[1].split()
        out[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def descendants(pid: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out.extend(found)
        todo.extend(found)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and every
    process below it, reaped children included."""
    table = _proc_table()
    pids = [pid, *descendants(pid, table)]
    return sum(table[p][1] for p in pids if p in table) / _CLK_TCK


def box_cpu() -> tuple[int, int]:
    """(all CPU ticks, steal ticks) of the whole box, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def box_steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the box's CPU time stolen by the hypervisor between two
    ``box_cpu()`` readings."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: Iterable[int], timeout_s: float) -> None:
    """Wait for processes to end; SIGKILL whatever outlives the timeout."""
    pids = list(pids)
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 5:
        time.sleep(0.05)


class Engine:
    """The Spark session the engine builds, plus the JVM it launched."""

    def __init__(self, scratch: ScratchRoot):
        from evaluate_human_balance_with_spark_streaming_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                # hsperfdata would go to /tmp whatever java.io.tmpdir says.
                # JIT at a quarter of the default invocation counts: at
                # the default, query times were still falling in the
                # fifth timed pass, and how far a run got depended on
                # the CPU its compiler threads got. With it, the query
                # slice ran 14% faster and spread 10% instead of 18%
                # between runs of the same code.
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={scratch.tmp} -XX:-UsePerfData"
                    " -XX:CompileThresholdScaling=0.25",
                "spark.sql.warehouse.dir": scratch.sub("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.get_spark_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM and its Python workers."""
        return tree_cpu_s(self.jvm_pid)

    def rss_peak_mb(self) -> float:
        """Peak resident memory of the JVM plus this driver process."""
        total_kb = 0
        for pid in (self.jvm_pid, os.getpid()):
            with open(f"/proc/{pid}/status") as fh:
                total_kb += vm_hwm_kb(fh.read())
        return total_kb / 1024.0

    def job_ids(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def job_counts(self, job_ids: Iterable[int]) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of the given jobs, from the public status
        tracker (it works with the UI disabled)."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return jobs, stages, tasks

    @staticmethod
    def stop_all() -> None:
        """Stop the session and the JVM, then wait for the JVM and every
        process it started (Python workers) to end. Safe to call when no
        session was ever started."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        family = descendants(proc.pid) if proc is not None else []
        session = SparkSession.getActiveSession()
        try:
            if session is not None:
                session.stop()
        finally:
            if proc is not None:
                # The gateway JVM exits when its stdin closes.
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=20)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
                wait_gone(family, timeout_s=10)
            SparkContext._gateway = None
            SparkContext._jvm = None


def kill_family() -> None:
    """Last-resort teardown for the watchdog: SIGKILL the JVM and all
    of its descendants without talking to them."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    family = descendants(proc.pid)
    for pid in [proc.pid, *family]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    wait_gone([proc.pid, *family], timeout_s=5)


# --- per-layer read-outs from StreamingQueryProgress ------------------

# progress["durationMs"] key -> per-layer metric name.
DURATION_KEYS = {
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
    "queryPlanning": "plans.query_planning_ms",
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}
# stateOperators[*] key -> per-layer metric name (time, summed per batch).
STATE_TIME_KEYS = {
    "commitTimeMs": "state.commit_ms",
    "allUpdatesTimeMs": "state.update_ms",
}


def batch_times(progress: dict) -> dict[str, float]:
    """Per-layer times of one micro-batch."""
    dur = progress.get("durationMs", {})
    out = {name: float(dur.get(key, 0)) for key, name in DURATION_KEYS.items()}
    for key, name in STATE_TIME_KEYS.items():
        out[name] = float(
            sum(op.get(key, 0) for op in progress.get("stateOperators", []))
        )
    return out


def state_size(progress: dict) -> dict[str, float]:
    ops = progress.get("stateOperators", [])
    return {
        "state.store_instances": float(sum(op.get("numStateStoreInstances", 0) for op in ops)),
        "state.rows_total": float(sum(op.get("numRowsTotal", 0) for op in ops)),
        "state.memory_bytes": float(sum(op.get("memoryUsedBytes", 0) for op in ops)),
    }


def p50_of_tick_sums(ticks: Sequence[Sequence[dict]]) -> dict[str, float]:
    """Median across ticks of each layer's time summed over the tick's
    micro-batches."""
    names = [*DURATION_KEYS.values(), *STATE_TIME_KEYS.values()]
    per_tick = []
    for batches in ticks:
        sums = dict.fromkeys(names, 0.0)
        for prog in batches:
            for name, v in batch_times(prog).items():
                sums[name] += v
        per_tick.append(sums)
    if not per_tick:
        return dict.fromkeys(names, 0.0)
    return {n: statistics.median(t[n] for t in per_tick) for n in names}
