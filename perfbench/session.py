"""Process set-up for one benchmark run: pinned environment, a Spark
session sized for the host, and an orderly shutdown of every child
process the session started.

Everything the run writes (Spark scratch, the JVM's temp files, tables,
change logs) lives under one work directory inside the checkout.
"""

from __future__ import annotations

import os
import signal
import time

#: Environment variables that silently change the engine's production
#: defaults (``config.py`` field factories, ``plans/icelite.py`` writer
#: options) or make it print timing lines; cleared before the engine is
#: imported so every run measures the defaults a user gets.
PINNED_PREFIXES = ("SPARK_GRAFT_",)
PINNED_NAMES = ("IRS_TIMING", "SPARK_LOCAL_DIRS")

#: JVM heap for the driver (local mode: the driver is also the executor).
#: The frozen ``bench.py`` asks for 24g, more than this class of host has.
DRIVER_MEMORY = "2g"


def pin_environment(work_dir: str) -> list[str]:
    """Clear the engine-tuning variables and point every temp directory at
    ``work_dir``. Returns the names that were cleared."""
    cleared = sorted(
        k for k in os.environ
        if k.startswith(PINNED_PREFIXES) or k in PINNED_NAMES
    )
    for k in cleared:
        del os.environ[k]
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    return cleared


def host_cpus() -> int:
    """Task slots: the host's cores, at most 4, so a larger host runs the
    same job shapes."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def build_spark(cpus: int, work_dir: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        )
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.ui.enabled", "false")
        # the traced run reads per-stage metrics from the status store
        # after each top-level operation; keep enough stages that none is
        # evicted before it is read
        .config("spark.ui.retainedStages", "5000")
        .config("spark.ui.retainedJobs", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    live descendant: the JVM and its Python workers. Time the hypervisor
    steals from the VM is not charged, so this cost is steadier than wall
    time on a shared host."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus its JVM child (VmHWM)."""
    kb = _hwm_kb(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then make sure the JVM and every process it
    started (Python workers) have exited before returning."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if jvm is not None:
        try:
            jvm.stdin.close()  # the gateway server exits on stdin EOF
        except OSError:
            pass
        try:
            jvm.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 - escalate below
            jvm.kill()
            jvm.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in procs:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not any(_alive(p) for p in procs):
            return
        deadline = time.monotonic() + timeout_s
