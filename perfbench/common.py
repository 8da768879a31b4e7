"""Session lifecycle, process accounting and small statistics shared by
the workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import time


def start_session(tmp: str, cores: int):
    """One driver at local[cores]; everything Spark writes lands in ``tmp``.

    Returns (spark, seconds) where the time covers the JVM launch and the
    first job, so that JVM warm-up is part of the measured set-up."""
    from web_scraper_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def jvm_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this driver plus its JVM child."""
    kb = _vm_hwm_kb("self")
    proc = jvm_process()
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    """Bytes of the distinct files under ``path`` (a hard-linked inode is
    counted once)."""
    seen, total = set(), 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(root, name))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def force(df) -> None:
    """Execute a plan without collecting it (Spark's noop sink)."""
    df.write.format("noop").mode("overwrite").save()


class Clock:
    """Closed-loop budget over whole operations: the first ``min_ops``
    always run; a next one starts only if, at the mean duration so far, it
    would be at least half done when ``seconds`` of timed work have
    elapsed."""

    def __init__(self, seconds: float, min_ops: int = 1):
        self.seconds = seconds
        self.min_ops = min_ops
        self.timed = 0.0
        self.ops = 0

    def more(self) -> bool:
        return self.ops < self.min_ops or self.timed + self.timed / self.ops / 2 <= self.seconds

    def add(self, dt: float) -> None:
        self.timed += dt
        self.ops += 1
