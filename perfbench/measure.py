"""Measurements the workloads share: process-tree CPU and memory from
``/proc``, task totals from Spark's status store, percentiles and the
run's environment evidence.

Everything here reads the engine from outside: ``/proc``, the public
``StatusTracker`` and the status store behind Spark's UI/REST API.
"""

from __future__ import annotations

import os
import platform
import subprocess
import time
from dataclasses import dataclass
from pathlib import Path

from bench import _proc_cpu_sample, read_load_evidence

_CLK = os.sysconf("SC_CLK_TCK") or 100


@dataclass
class RunResult:
    """What a workload hands back: end-to-end metrics, per-layer metrics
    (traced runs only), operation counts and the outcome of each check."""

    metrics: dict
    layers: dict
    attempted: int
    failed: int
    checks: dict


def cpu_times() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is CPU time a hypervisor gave to other virtual machines."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def tree_pids() -> list[int]:
    """This process and every live descendant (the Spark JVM and its
    Python workers)."""
    ppid = {p: v[0] for p, v in _proc_cpu_sample().items()}
    me = os.getpid()
    tree = {me}
    grew = True
    while grew:
        grew = False
        for pid, parent in ppid.items():
            if parent in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sorted(tree)


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, including children
    it has already reaped."""
    total = 0
    for pid in tree_pids():
        try:
            raw = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set."""
    total_kb = 0
    for pid in tree_pids():
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def live_mb(spark) -> float:
    """Memory the run holds: the JVM heap still in use after a full
    garbage collection, plus the resident memory of the process tree's
    Python processes (the driver and its workers)."""
    jvm = spark.sparkContext._jvm
    # the first collection lets Spark's ContextCleaner see unreachable
    # shuffles and broadcasts and drop them; the later ones free them
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = heap.getHeapMemoryUsage().getUsed()
    py_kb = 0
    for pid in tree_pids():
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
        if fields.get("Name", "").strip().startswith("python"):
            py_kb += int(fields.get("VmRSS", "0 kB").split()[0])
    return used / 2**20 + py_kb / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def environment() -> dict:
    """What a reader needs to tell a loaded or different box apart."""
    import pyspark

    java = subprocess.run(
        ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else None,
        "python": platform.python_version(),
        "load": read_load_evidence(0.5),
    }


def wait_for_listeners(spark) -> None:
    """Block until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_totals(spark, job_ids: list[int]) -> dict:
    """Summed stage metrics of ``job_ids`` from the status store.

    A stage shared by several jobs is counted once; stages Spark skipped
    (their shuffle output was reused) run no tasks and count as none."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_tasks = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    tot = dict.fromkeys(
        ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
         "shuffle_read_b", "shuffle_write_b", "spill_b"), 0)
    seen: set[int] = set()
    for jid in job_ids:
        tot["jobs"] += 1
        sids = store.job(jid).stageIds()
        for i in range(sids.length()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.stageAttempt(
                    sid, 0, False, no_tasks, False, no_quantiles
                )._1()
            except Exception:  # noqa: BLE001 — evicted or never-run stage
                continue
            if sd.numCompleteTasks() == 0:
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["run_ms"] += sd.executorRunTime()
            tot["cpu_ns"] += sd.executorCpuTime()
            tot["gc_ms"] += sd.jvmGcTime()
            tot["shuffle_read_b"] += sd.shuffleReadBytes()
            tot["shuffle_write_b"] += sd.shuffleWriteBytes()
            tot["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return tot


def exec_metrics(tot: dict, wall_s: float, cores: int, per: float = 1.0) -> dict:
    """The ``exec.*`` per-layer metrics from :func:`job_totals`, each
    divided by ``per`` (passes or batches)."""
    mb = 1024.0 * 1024.0
    cpu_s = tot["cpu_ns"] / 1e9
    return {
        "exec.jobs": tot["jobs"] / per,
        "exec.stages": tot["stages"] / per,
        "exec.tasks": tot["tasks"] / per,
        "exec.task_run_s": tot["run_ms"] / 1000.0 / per,
        "exec.task_cpu_s": cpu_s / per,
        "exec.gc_s": tot["gc_ms"] / 1000.0 / per,
        "exec.cpu_util": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.shuffle_read_mb": tot["shuffle_read_b"] / mb / per,
        "exec.shuffle_write_mb": tot["shuffle_write_b"] / mb / per,
        "exec.spill_mb": tot["spill_b"] / mb / per,
    }
