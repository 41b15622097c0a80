"""Host facts, the host-fitted Spark session, and process memory.

The session is fitted to the machine from the benchmark process only:
``local[nproc]``, shuffle partitions = nproc, and a driver heap of a
quarter of MemTotal capped at 8 GiB, handed to ``get_spark`` through its
arguments and ``SPARK_GRAFT_DRIVER_MEM``.  The package defaults are left
as they are.
"""

from __future__ import annotations

import gc
import os
import platform
import time

from pyspark import SparkContext


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    return max(1, min(8, mem_total_mb() // 1024 // 4))


def start_session(work: str, event_log: bool):
    """Start the host-fitted session; everything it writes stays under
    ``work``."""
    from newscrawler_spark.session import get_spark

    n = cpus()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_gb()}g"
    extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=extra)


def facts(spark) -> dict:
    return {
        "cpus": cpus(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "mem_total_mb": mem_total_mb(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def settle(spark, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
    """Collect garbage in the JVM and in this process, then wait until the
    JIT compilers have been idle for ``quiet_s`` (at most ``limit_s``), so
    work queued by the previous iteration does not land in the next."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    gc.collect()
    bean = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    deadline = time.monotonic() + limit_s
    last = bean.getTotalCompilationTime()
    while time.monotonic() < deadline:
        time.sleep(quiet_s)
        now = bean.getTotalCompilationTime()
        if now == last:
            return
        last = now


def jvm_pid() -> int:
    """The gateway JVM that runs the driver and launches the Python workers."""
    return SparkContext._gateway.proc.pid


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the per-process peak resident sets (VmHWM)."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    tree = process_tree(jvm_pid())
    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits on EOF
    gw.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for p in tree:
        while _alive(p) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(p):
            os.kill(p, 9)


def _alive(pid: int) -> bool:
    """Running, as opposed to gone or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
