"""Process environment for a benchmark run: the engine session sized to
the machine, and every file the run writes kept under its work
directory. Called before pyspark is imported."""

from __future__ import annotations

import os
import subprocess
import time

MAX_DRIVER_MB = 2048


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of RAM, at most 2 GiB: the engine's 90g default does
    not fit a small machine."""
    return min(MAX_DRIVER_MB, mem_total_mb() // 4)


def configure(work: str) -> None:
    """Export the engine's sizing variables and confine temporary files
    to ``work``. Must run before the first pyspark import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # collect() turns timestamps into naive datetimes in the process's
    # zone; the engine's session zone and the oracle are UTC
    os.environ["TZ"] = "UTC"
    time.tzset()


def spark_conf(work: str) -> dict[str, str]:
    """Session settings that move files into ``work`` and fix the heap
    at its maximum from the start, so that peak memory does not depend
    on when the collector chose to grow the heap."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_mem_mb()}m -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
    }


def stop_session(spark) -> None:
    """Stop ``spark`` and wait for its JVM to exit, also when the JVM
    has already died."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # the JVM is gone after an engine crash
        pass
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def java_version(spark) -> str:
    return str(spark.sparkContext._jvm.System.getProperty("java.version"))


def cpu_probe_ms(rounds: int = 5, n: int = 1_000_000) -> float:
    """Median time of a fixed pure-Python loop. On a shared host the CPU
    runs at different speeds from minute to minute without the guest
    seeing steal; this records the speed around a run, as a diagnostic
    only: no metric depends on it."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i
        times.append(time.perf_counter() - t0)
    return sorted(times)[rounds // 2] * 1000


def steal_jiffies() -> int:
    """Cumulative CPU steal time of the host, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0
