"""Spark-layer counters and host-noise gauges, read from outside the package.

Counters come from the status tracker (jobs and stage ids of a job group)
and the JVM status store (per-stage task metrics); both work with
``spark.ui.enabled=false``. Two gauges follow ``bench.py``: CPU steal from
/proc/stat and the median wall time of 50 warm single-stage jobs. A third
times the file replace behind every JsonFileBackend write, which on a
shared disk moves the framework ops more than anything in the program.
"""

from __future__ import annotations

import os
import resource
import tempfile
import time

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "skipped_stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "input_bytes",
)


def group_counters(sc, group: str) -> dict[str, float]:
    """Totals over every job run under ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        data = store.lastStageAttempt(sid)
        if data.status().toString() == "SKIPPED":
            out["skipped_stages"] += 1
            continue
        out["stages"] += 1
        out["tasks"] += data.numTasks()
        out["executor_run_s"] += data.executorRunTime() / 1e3
        out["executor_cpu_s"] += data.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        out["input_bytes"] += data.inputBytes()
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the kernel's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def dispatch_ms_per_stage(spark, jobs: int = 50) -> float:
    times = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        spark.range(1000).count()
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[len(times) // 2]


def replace_ms(workdir: str, n: int = 10) -> float:
    """Median latency of replacing an existing 32 KiB file with a new one,
    the step JsonFileBackend pays on every catalog mutation."""
    target = os.path.join(workdir, "replace-gauge.json")
    times = []
    for _ in range(n):
        fd, tmp = tempfile.mkstemp(dir=workdir)
        with os.fdopen(fd, "w") as f:
            f.write("x" * 32768)
        t0 = time.perf_counter()
        os.replace(tmp, target)
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[len(times) // 2]


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
