"""Host sizing, host state and the benchmark's Spark session.

Everything here is derived from the machine the benchmark runs on: the core
count from the CPU affinity mask, the JVM heap from the cgroup memory
limit or ``MemTotal``.  The session writes its spill, shuffle and
temporary files under the benchmark's own work directory inside the
checkout (never ``/dev/shm``), and ``stop_session`` waits for the JVM to
exit so no process outlives the run.
"""

from __future__ import annotations

import os
import subprocess
import time

GIB = 1 << 30


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_bytes(key: str) -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) * 1024
    raise KeyError(key)


def _cgroup_limit_bytes() -> int | None:
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path, encoding="ascii") as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < (1 << 60):
            return int(raw)
    return None


def heap_gib() -> int:
    """A quarter of the memory this process may use, in whole GiB, 1 to 4.

    It comes from ``MemTotal`` and the cgroup limit, which do not change
    while the host runs, so every run on one host gets the same heap and
    the same garbage-collector behaviour.  The rest is left to the Python
    workers, the page cache and other tenants.
    """
    budget = _meminfo_bytes("MemTotal")
    limit = _cgroup_limit_bytes()
    if limit is not None:
        budget = min(budget, limit)
    return max(1, min(4, budget // (4 * GIB)))


def _cpu_counters() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice.
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def host_state() -> dict:
    with open("/proc/loadavg", encoding="ascii") as f:
        load1 = float(f.read().split()[0])
    total, steal = _cpu_counters()
    return {
        "t": time.time(),
        "load1": load1,
        "mem_available_mb": _meminfo_bytes("MemAvailable") / (1 << 20),
        "_cpu_total": total,
        "_cpu_steal": steal,
    }


def host_report(start: dict, end: dict) -> dict:
    """Load and free memory at both ends of the run, and the share of CPU
    time the hypervisor stole between them."""
    d_total = end["_cpu_total"] - start["_cpu_total"]
    d_steal = end["_cpu_steal"] - start["_cpu_steal"]
    return {
        "load1_start": start["load1"],
        "load1_end": end["load1"],
        "mem_available_mb_start": round(start["mem_available_mb"]),
        "mem_available_mb_end": round(end["mem_available_mb"]),
        "steal_share": d_steal / d_total if d_total else 0.0,
    }


def start_session(root: str, work: str):
    """A ``local[cores]`` session shaped like ``bench.py``'s, but sized to
    this host: no pinned heap, no pre-touch, no ``/dev/shm``.

    Call it before anything else makes temporary files: the gateway, the
    JVM and the Python workers inherit the environment set here.
    """
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local_dir = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Spark prefers this variable over spark.local.dir when it is set.
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    # Python workers import the library from the checkout, wherever the
    # benchmark was started from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )

    from pyspark.sql import SparkSession

    n = cores()
    heap = heap_gib()
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "yirgacheffe-spark-perfbench",
        "spark.driver.memory": f"{heap}g",
        # -XX:-UsePerfData: no hsperfdata file under /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # The shape bench.py gives the engine: twice the cores in shuffle
        # partitions so AQE can coalesce, and 8 MB scan splits so the
        # zstd tile tables give every core at least two scan tasks.
        "spark.sql.shuffle.partitions": str(max(2 * n, 16)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "8388608",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    }
    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"cores": n, "driver_heap_gib": heap, **conf}


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise KeyError("VmHWM")


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM to exit
    (which also ends its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    try:
        # Fails when a signal broke the gateway connection mid-call; the
        # JVM is then stopped below all the same.
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
