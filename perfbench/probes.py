"""Measurements the benchmark takes from outside the program.

- Spark cost of one job group, read from the in-process status store
  (works with ``spark.ui.enabled=false``).
- Peak resident memory of this process and every process it started
  (the JVM and its Python workers), read from ``/proc``.
- Python worker start-up, done before timing.
- A host-speed control that runs no package code, and the CPU time the
  hypervisor stole from this host, the main source of run-to-run spread
  on a shared machine.
- A digest of a JSONL export's record lines, with the per-export random
  ``export_id`` masked so equal graphs give equal digests.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import subprocess
import time
from dataclasses import dataclass


# ---------------------------------------------------------------------------
# Spark cost of a job group
# ---------------------------------------------------------------------------

@dataclass
class GroupCost:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0  # executorRunTime summed over tasks
    cpu_s: float = 0.0  # executorCpuTime summed over tasks (JVM task threads)
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0  # bytes spilled to disk


def group_cost(spark, group: str) -> GroupCost:
    """Sum the completed stages of every job tagged ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the status store is filled by the listener bus: drain it first
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    cost = GroupCost(jobs=len(job_ids))
    for sid in sorted(stage_ids):
        data = store.lastStageAttempt(sid)
        if data.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        cost.stages += 1
        cost.tasks += data.numCompleteTasks()
        cost.run_s += data.executorRunTime() / 1e3
        cost.cpu_s += data.executorCpuTime() / 1e9
        cost.gc_s += data.jvmGcTime() / 1e3
        cost.shuffle_write_bytes += data.shuffleWriteBytes()
        cost.shuffle_read_bytes += data.shuffleReadBytes()
        cost.spill_bytes += data.diskBytesSpilled()
    return cost


# ---------------------------------------------------------------------------
# resident memory of the process tree
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of the peak RSS (``VmHWM``) of ``root`` and every live descendant:
    an upper bound on the tree's peak, since the peaks need not coincide."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # exited while walking the tree
    return total


# ---------------------------------------------------------------------------
# host-speed control and environment
# ---------------------------------------------------------------------------

CONTROL_ROWS = 1 << 24


def host_control(spark, reps: int = 2) -> tuple[list[float], int]:
    """Seconds of a data-independent hash reduction over ``spark.range``,
    and its answer (the same on every host)."""
    from pyspark.sql import functions as F

    times, answers = [], set()
    parts = spark.sparkContext.defaultParallelism
    for _ in range(reps + 1):  # the first, untimed, compiles the plan
        t0 = time.perf_counter()
        row = spark.range(0, CONTROL_ROWS, 1, parts).agg(
            F.bit_xor(F.xxhash64("id")).alias("x")
        ).collect()[0]
        times.append(time.perf_counter() - t0)
        answers.add(row["x"])
    del times[0]
    if len(answers) != 1:
        raise RuntimeError(f"host control gave different answers: {answers}")
    return times, answers.pop()


def steal_s() -> float:
    """CPU seconds, summed over all CPUs, the hypervisor gave to other
    guests while this host's CPUs wanted to run (``/proc/stat``)."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def start_python_workers(spark) -> None:
    """Fork one Python worker per core and import pandas and pyarrow in it,
    so worker start-up does not land at random points of the first run."""
    cores = spark.sparkContext.defaultParallelism

    def identity(batches):
        yield from batches

    spark.range(0, cores * 1000, 1, cores).mapInPandas(identity, "id long").count()


def source_digest(root: str) -> str:
    """SHA-256 over the package's source files, for checkouts without git."""
    digest = hashlib.sha256()
    pkg = os.path.join(root, "neo4j_export_tool_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith((".py", ".java")):
                path = os.path.join(dirpath, name)
                digest.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    digest.update(f.read())
    return digest.hexdigest()


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def environment(spark, root: str) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "commit": git_commit(root),
        "source_sha256": source_digest(root),
    }


# ---------------------------------------------------------------------------
# export output
# ---------------------------------------------------------------------------

def export_digest(path: str) -> tuple[str, int]:
    """(SHA-256 of the record lines, record count).  Every line after the
    metadata line, with this export's ``export_id`` masked."""
    digest = hashlib.sha256()
    n = 0
    with open(path, encoding="utf-8") as f:
        meta = json.loads(f.readline())
        export_id = meta["export_metadata"]["export_id"]
        for line in f:
            digest.update(line.replace(export_id, "<export_id>").encode())
            n += 1
    return digest.hexdigest(), n
