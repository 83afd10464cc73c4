"""Spark session and working directories for the benchmark.

Everything the benchmark and Spark write goes under ``<root>/.perfbench``:
inputs, Spark's local and temp dirs, event logs and op outputs. The
package under test is imported from ``<root>/datacheck_spark`` only; the
Python workers get the same root on their import path through
``PYTHONPATH``, which the JVM passes on when it forks them.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

#: local[CORES] — the host this benchmark is sized for has 4 cores
CORES = 4
#: -Xms = -Xmx, so heap sizing does not drift between runs
DRIVER_HEAP = "2g"


class MissingProgram(RuntimeError):
    """The checkout holds no ``datacheck_spark`` package to measure."""


def prepare_imports() -> None:
    """Put the checkout's package first on the driver's and the Python
    workers' import path; fail if it is absent or shadowed."""
    if not (ROOT / "datacheck_spark" / "__init__.py").is_file():
        raise MissingProgram(f"no datacheck_spark package under {ROOT}")
    root = str(ROOT)
    if root not in sys.path:
        sys.path.insert(0, root)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([root] + [p for p in paths if p != root])
    import datacheck_spark

    if Path(datacheck_spark.__file__).resolve().parent != ROOT / "datacheck_spark":
        raise MissingProgram(f"datacheck_spark imported from {datacheck_spark.__file__}")


def work_dir(*parts: str) -> Path:
    p = WORK.joinpath(*parts)
    p.mkdir(parents=True, exist_ok=True)
    return p


def spark_session(event_log_dir: Path | None = None):
    """local[4] session with ``bench.get_spark``'s SQL settings, a pinned
    heap, and all scratch space inside the checkout. ``event_log_dir``
    turns on the uncompressed, rolling Spark event log."""
    tmp = work_dir("tmp")
    local = work_dir("spark-local")
    # the JVM and the Python workers it forks inherit these
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("datacheck-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", str(local))
        .config("spark.sql.warehouse.dir", str(work_dir("warehouse")))
    )
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir.as_uri())
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit. The JVM leaves when its
    stdin closes (PySpark's gateway watches it) and takes the Python
    workers' daemon with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
