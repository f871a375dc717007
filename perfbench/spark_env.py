"""The benchmark's own Spark session.

It does not reuse ``scripts/bench_common.build_session``: that config asks
for ``local[32]`` and a 16g driver and sets a key Spark does not define.
Every key set here is a real Spark 4.1.2 key (``test_perfbench`` checks the
``spark.sql.*`` ones against ``SET -v``), and every file Spark writes lands
under the benchmark's work directory.
"""

from __future__ import annotations

import os
import sys

# each Arrow/pandas task keeps a JVM task thread AND a Python worker busy,
# so local[k] uses 2k cores
CORES = max(1, min(2, len(os.sched_getaffinity(0)) // 2))
DRIVER_MEMORY = "2g"
ARROW_BATCH_ROWS = 100_000


def session_conf(work_dir: str, event_log_dir: str | None) -> dict:
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.master": f"local[{CORES}]",
        "spark.app.name": "sketchlib-perfbench",
        "spark.driver.memory": DRIVER_MEMORY,
        # C1 only: a run lives about a minute, too short for C2 to settle,
        # and with C2 the timed operations kept speeding up (up to 2x) for
        # the first ~20 s after warm-up, so runs measured JIT progress.
        # A fixed heap and young generation keep the resident size from
        # following G1's adaptive sizing.
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                          f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEMORY} "
                                          "-Xmn384m"),
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def build_session(work_dir: str, event_log_dir: str | None = None):
    """Start a fresh local session whose scratch files stay in ``work_dir``.

    The checkout root goes on ``PYTHONPATH`` so Python workers import the
    same ``sketchlib`` as the driver."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
    builder = SparkSession.builder
    for k, v in session_conf(work_dir, event_log_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
