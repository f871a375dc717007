"""The ONE definition of the bench Spark session + warm-up.

bench.py, bench_regressions.py's per-gate child JVMs, and
bench_multijvm.py's worker JVMs all measure "the bench config"; before
this module each carried its own near-copy of the builder block and the
eval-mode warm-up, and the copies had already drifted (12g vs 16g driver
memory, a missing applyInPandas warm-up).  Import from here so an edit
to the config cannot silently diverge an "isolated re-measure" from the
suite it claims to re-measure.
"""

from __future__ import annotations

PARTITION_BYTES = 32 * 1024 * 1024
ARROW_BATCH = 200_000


def build_session(cpus: int | str, app: str = "sketchlib-bench",
                  driver_mem: str = "16g"):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(PARTITION_BYTES))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cpus: int | str, streaming: bool = False) -> None:
    """Touch every eval mode once so JVM/Python-worker startup is not
    billed to whichever query runs first: plain codegen, pandas UDF,
    mapInArrow, applyInPandas, and (optionally) the Structured Streaming
    planner + state store classes (~10 s of one-time classloading)."""
    from pyspark.sql import functions as F

    cpus = int(cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    _identity = F.pandas_udf(lambda s: s, "long")
    (spark.range(cpus * 4).repartition(cpus)
     .select(_identity("id").alias("x")).selectExpr("sum(x)").collect())
    (spark.range(cpus * 4).repartition(cpus)
     .mapInArrow(lambda it: it, "id long").count())
    (spark.range(64).withColumn("g", F.col("id") % 4).groupBy("g")
     .applyInPandas(lambda pdf: pdf, "id long, g long").count())
    if streaming:
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="bench_warm_")
        try:
            spark.range(10).write.parquet(f"{d}/src")
            q = (spark.readStream.schema("id long").parquet(f"{d}/src")
                 .groupBy().count().writeStream
                 .foreachBatch(lambda bdf, _b: bdf.collect())
                 .outputMode("complete")
                 .option("checkpointLocation", f"{d}/ck")
                 .trigger(availableNow=True).start())
            q.awaitTermination(60)
        finally:
            shutil.rmtree(d, ignore_errors=True)
