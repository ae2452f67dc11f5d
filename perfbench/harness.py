"""Environment pinning, session start-up and Spark-side counters.

Everything here is shared by ``run.py`` and the workloads.
``pin_environment`` must run before ``pyspark`` or ``logflow`` is imported:
``logflow.session`` and ``logflow.sources`` read their settings from the
environment, and the driver JVM takes its heap and temp directory at launch.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Driver heap for every benchmark JVM. The library default (16g) is above
#: what small sandboxes have; the workloads' working sets fit in 2 GiB.
DRIVER_MEM_MB = 2048


class InvalidRun(RuntimeError):
    """A run whose numbers must not be reported, such as one where the load
    generator fell behind its schedule."""


def pct(values, q: float) -> float:
    """The ``q``-th percentile (linear interpolation); NaN when empty."""
    import numpy as np

    values = np.asarray(list(values), dtype=np.float64)
    return float(np.percentile(values, q)) if values.size else float("nan")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def phys_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def process_age_s() -> float:
    """Seconds since this process was started by the OS (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of proc(5), counted after "(comm)"
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def reset_peak_rss(pid: int | str = "self") -> None:
    """Restart the peak-RSS mark (VmHWM) of ``pid`` from its current RSS, so
    a later ``peak_rss_mb`` covers only what ran after this call."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def pin_environment(work_dir: str) -> None:
    """Pin cores and heap, and keep every file Spark writes inside ``work_dir``."""
    if phys_mem_mb() < 2 * DRIVER_MEM_MB:
        raise RuntimeError(f"{phys_mem_mb()} MB of memory is too little for a {DRIVER_MEM_MB} MB heap")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["LOGFLOW_DRIVER_MEM"] = f"{DRIVER_MEM_MB}m"
    os.environ.pop("LOGFLOW_MASTER", None)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["LOGFLOW_WAREHOUSE"] = os.path.join(work_dir, "warehouse")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers (pandas UDFs, Python data sources) import logflow too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
    )
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def start_session(work_dir: str):
    """Start the engine session and load the query registry.

    Returns ``(spark, registry, timings)``; ``timings`` holds the two setup
    layers (``session.get_spark_s``, ``queries.load_all_s``) and ``setup_s``,
    the process age at the moment both are ready.
    """
    t0 = time.perf_counter()
    from logflow.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    spark = get_spark(
        app_name="logflow-perfbench",
        # A heap fixed at its pinned size: no resizing decisions that
        # depend on GC timing, so peak RSS repeats between runs.
        extra_conf={"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM_MB}m -Djava.io.tmpdir={tmp}"},
    )
    t1 = time.perf_counter()
    from logflow.queries import load_all

    registry = load_all()
    t2 = time.perf_counter()
    setup_s = process_age_s()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, registry, {
        "setup_s": setup_s,
        "session.get_spark_s": t1 - t0,
        "queries.load_all_s": t2 - t1,
    }


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def heap_live_mb(spark) -> float:
    """Driver heap still in use after a full collection: the data the
    session retains (caches, broadcasts, state), whatever the GC's timing."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def environment(spark) -> dict:
    """What the numbers were measured on."""
    java = subprocess.run(["java", "-version"], capture_output=True, text=True, check=False)
    return {
        "nproc": nproc(),
        "mem_total_mb": phys_mem_mb(),
        "driver_mem_mb": DRIVER_MEM_MB,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": (java.stderr or java.stdout).splitlines()[0] if (java.stderr or java.stdout) else "",
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


class SparkCounters:
    """Cumulative task-level counters read from Spark's own status store.

    ``snapshot()`` returns totals since the session started; subtracting two
    snapshots gives the work done between them. Jobs come from the status
    tracker, the rest from the driver's executor summary (``local[N]`` runs
    every task in the driver).
    """

    FIELDS = (
        "spark.jobs",
        "spark.tasks",
        "spark.tasks_failed",
        "spark.shuffle_write_bytes",
        "spark.input_bytes",
        "spark.executor_run_s",
        "spark.gc_s",
    )

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()

    def snapshot(self) -> dict[str, float]:
        # Task metrics reach the status store through the listener bus;
        # drain it so a snapshot taken right after an action includes it.
        self._bus.waitUntilEmpty()
        totals = dict.fromkeys(self.FIELDS, 0.0)
        totals["spark.jobs"] = float(self._dag.numTotalJobs())
        execs = self._store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            totals["spark.tasks"] += e.totalTasks()
            totals["spark.tasks_failed"] += e.failedTasks()
            totals["spark.shuffle_write_bytes"] += e.totalShuffleWrite()
            totals["spark.input_bytes"] += e.totalInputBytes()
            totals["spark.executor_run_s"] += e.totalDuration() / 1000.0
            totals["spark.gc_s"] += e.totalGCTime() / 1000.0
        return totals

    @staticmethod
    def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
        return {k: after[k] - before[k] for k in before}
