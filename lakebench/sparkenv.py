"""Session lifetime for one benchmark run: everything the run writes
(Spark scratch, warehouse, JVM temp files, event log) stays under the
run's work directory, and the JVM is waited for on exit."""

from __future__ import annotations

import gc
import os
import subprocess
import tempfile
import time

MAX_CORES = 4


def cores() -> int:
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def confine_tmp(work: str) -> str:
    """Point Python and child processes' temp files into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    return tmp


def start(work: str, n_cores: int, event_log: bool):
    """The engine's own session factory and settings, with every
    scratch path inside ``work``."""
    from skysafe_datalake_spark.session import get_spark

    tmp = confine_tmp(work)
    local = os.path.join(work, "spark-local")
    # The environment variable wins over spark.local.dir; set both.
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # No hsperfdata files: the JVM writes nothing outside ``work``.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="lakebench", master=f"local[{n_cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    return (_hwm_kb(jvm_pid(spark)) + _hwm_kb("self")) / 1024.0


def heap_live_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the run
    leaves retained (caches, status store, broadcast and codegen
    leftovers), independent of when the collector last ran. Python's
    collector runs first, so the gateway drops the JVM objects only
    Python held; the second JVM collection follows Spark's
    ContextCleaner, which frees blocks of frames the first one found
    unreachable."""
    gc.collect()
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(2):
        mx.gc()
        time.sleep(1.0)
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def stop(spark) -> None:
    """Stop the context, then close the gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
