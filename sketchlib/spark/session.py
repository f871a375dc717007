"""Tuned SparkSession builder for sketch workloads.

The one session recipe: the jobs in ``sketchlib/jobs/`` and the
product-shaped scale scripts build their session here, so a measurement
runs the config the product ships.  Encodes the settings this repo
measured to matter (BENCH/BASELINE.md):

* ``maxPartitionBytes`` 32 MB — mapInArrow tasks pay a fixed ~0.2 s
  JVM<->Python cost; tasks must carry >= ~300k rows to amortize it, but
  stay small enough to keep all cores busy at bench scale;
* Arrow ``maxRecordsPerBatch`` 200k — fewer, larger IPC batches;
* AQE on — coalesces the sketch-blob shuffle and splits stragglers;
* ``spark.rdd.compress`` on — DISK_ONLY stage boundaries (corpus job)
  store serialized blocks; uncompressed, a text corpus persisted at a
  boundary is ~4-5x its parquet size and can exhaust local disk (measured:
  the 24M-row e2e bench ran out of /tmp without it).  LZ4 block compression
  costs ~nothing against the IO it saves.

``local_cpus`` runs on ``local[N]`` with N shuffle partitions; omit it on
a cluster.  ``extra_conf`` adds keys on top (a script's local-only UI and
driver-memory keys); a script run with plain ``python`` starts its JVM
with them, so ``spark.driver.memory`` sizes the driver heap.

The recipe's keys are defaults: a key the application was launched with —
``spark-submit --conf`` or ``spark-defaults.conf`` — keeps its launch
value, so an operator can retune a job without editing it.

An already-active session is returned unchanged: ``getOrCreate`` would
rewrite its SQL confs in place, so a job called from inside another
application would silently retune the caller's session for every later
query.  A joined job runs under the caller's settings.
"""

from __future__ import annotations

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_RECIPE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
    "spark.sql.execution.arrow.maxRecordsPerBatch": "200000",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.rdd.compress": "true",
}


def build_session(app: str, local_cpus: str | int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    b = SparkSession.builder.appName(app)
    recipe = dict(_RECIPE)
    if local_cpus:
        b = b.master(f"local[{local_cpus}]")
        recipe["spark.sql.shuffle.partitions"] = str(local_cpus)
    # the launch conf: spark-submit hands its --conf and spark-defaults.conf
    # keys to the JVM as spark.* system properties, which SparkConf reads.
    # A JVM started here (plain python) is launched with extra_conf, so a
    # launch-time key such as spark.driver.memory sizes its heap
    extra_conf = extra_conf or {}
    SparkContext._ensure_initialized(
        conf=SparkConf(loadDefaults=False).setAll(extra_conf.items()))
    launch = SparkConf()
    for k, v in recipe.items():
        if not launch.contains(k):
            b = b.config(k, v)
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
