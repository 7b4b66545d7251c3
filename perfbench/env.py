"""Process environment, Spark session sizing, JVM memory and
provenance for one benchmark run."""

from __future__ import annotations

import os
import platform
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_DRIVER_MEM = "2g"


def prepare(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and make the package importable here and in Python workers. Must run
    before the first session starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    paths = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no /tmp/hsperfdata file: the run writes only inside its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def _mem_total_mb() -> float:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return -1.0


def provenance(spark) -> dict:
    """Machine and software stamp printed with every result."""
    import pyspark

    try:
        load = os.getloadavg()
    except OSError:
        load = (-1.0, -1.0, -1.0)
    return {
        "cpus": cpus(),
        "mem_total_mb": round(_mem_total_mb()),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "load_at_start": [round(x, 2) for x in load],
    }


def stage_totals(spark) -> dict[str, float]:
    """Shuffle-write and spill bytes summed over every stage the
    application has run so far (from the status store). Take the
    difference around a piece of work to attribute its bytes."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    every = sc._jvm.java.util.ArrayList()
    stages = jsc.statusStore().stageList(every, False, False, no_quantiles, every)
    totals = {"shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for i in range(stages.size()):
        st = stages.apply(i)
        totals["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        totals["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    return totals


def live_heap_mb(spark) -> float:
    """JVM heap still in use right after a full collection: what the
    state stores, cached tables and plan caches retain."""
    import gc

    gc.collect()  # drop Python handles first, so the JVM objects they pin go too
    jvm = spark._jvm
    for _ in range(2):  # the second pass also collects what the first freed
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def _proc_cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Seconds the hypervisor has kept this machine's vCPUs from
    running since boot, summed over vCPUs (0 on bare metal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def clock() -> float:
    """Steal-corrected seconds: wall time minus the hypervisor steal so
    far divided by the vCPU count. The host of a virtual machine takes
    vCPUs away in bursts of seconds; the difference of two readings
    estimates what the interval would have taken without that (a lower
    bound: stragglers wait longer). On bare metal it is wall time."""
    return time.perf_counter() - steal_s() / (os.cpu_count() or 1)


class CpuClock:
    """CPU seconds used by this process and the Spark JVM's process
    tree (JVM plus Python workers) between ``start`` and ``stop``, and
    the hypervisor steal over the same interval."""

    def __init__(self, spark):
        self.jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def _read(self) -> tuple[float, float]:
        kids, todo, total = _children(), [self.jvm, os.getpid()], 0.0
        seen = set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            total += _proc_cpu_s(pid)
            todo.extend(kids.get(pid, []))
        return total, steal_s()

    def start(self) -> None:
        self._cpu0, self._steal0 = self._read()

    def stop(self) -> tuple[float, float]:
        cpu, steal = self._read()
        return cpu - self._cpu0, steal - self._steal0


def shutdown_spark() -> None:
    """Stop the active session and the JVM this process launched, and
    wait for it (and with it the Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
