"""Host-sized Spark sessions for the benchmark, and the host shape stamp.

The session is sized from the host it runs on: ``local[nproc]`` task slots
and a driver heap of an eighth of ``MemTotal`` (1-8 GiB), which leaves the
rest to the Python workers and to whatever else shares the host. The heap
is reserved up front (``-Xms`` = ``-Xmx``), so the JVM's resident size does
not wander with heap-growth heuristics from run to run. Every file Spark or
the JVM writes goes under the run's work directory.
"""

from __future__ import annotations

import os
import platform
import sys
import time


def _meminfo_kib(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_mib() -> int:
    return max(1024, min(8192, _meminfo_kib("MemTotal") // 8 // 1024))


def host_shape() -> dict:
    import pyarrow
    import pyspark

    shm = os.statvfs("/dev/shm") if os.path.isdir("/dev/shm") else None
    return {
        "nproc": nproc(),
        "mem_total_mib": _meminfo_kib("MemTotal") // 1024,
        "dev_shm_mib": shm.f_blocks * shm.f_frsize // 2**20 if shm else 0,
        "driver_heap_mib": heap_mib(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def session_conf(work: str, slots: int, event_log_dir: str | None = None) -> dict:
    """The production session settings (those of ``jobs/run_extract.py``)
    plus host sizing and paths kept inside ``work``."""
    conf = {
        "spark.master": f"local[{slots}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_mib()}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap_mib()}m",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.columnarReaderBatchSize": "1024",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _probe(batches):
    # the first mapInPandas job imports the extractor in a fresh worker
    import png_from_pdf_extracter_spark.extractor  # noqa: F401

    yield from batches


def start(conf: dict):
    """Start a session (and its JVM) and run the first mapInPandas job.
    Returns ``(spark, setup_seconds)``."""
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (
        spark.range(1, numPartitions=1)
        .mapInPandas(_probe, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited, so
    the next ``start`` pays the whole set-up again."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=120)


def worker_env(root: str, work: str) -> None:
    """Environment inherited by the JVMs (the launcher's too) and the Python
    workers: the package importable from the checkout, temp files under
    ``work`` and no ``hsperfdata`` file in ``/tmp``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_LOCAL_DIRS", None)
