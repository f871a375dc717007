"""PagesTable interface (Parquet path) and the spark-submit --py-files flow."""

import json
import os
import pathlib
import subprocess

import pytest

from sketchlib.data.pages import generate_pages
from sketchlib.data.tables import PagesTable

REPO = pathlib.Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def table_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pagestable"))
    pdf = generate_pages(3000, seed=7, n_days=3)
    df = spark.createDataFrame(pdf)
    PagesTable(d).write(df, mode="overwrite")
    return d


def test_write_read_roundtrip(spark, table_dir):
    t = PagesTable(table_dir)
    df = t.read(spark)
    assert df.count() == 3000
    assert set(t.days(spark)) == {"2026-01-01", "2026-01-02", "2026-01-03"}


def test_partition_pruning_reaches_scan(spark, table_dir):
    t = PagesTable(table_dir)
    plan = t.read_partition(spark, lang="en")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan


def test_iceberg_prefix_parsing():
    t = PagesTable("iceberg:prod.web.pages")
    assert t.is_iceberg and t.location == "prod.web.pages"
    assert not PagesTable("/data/pages").is_iceberg


def test_spark_submit_pyfiles(table_dir, tmp_path):
    """The actual spark-submit --py-files path the north rule names: package
    sketchlib.zip, submit pages_job from an empty cwd so only the zip
    provides the library."""
    zip_path = str(tmp_path / "sketchlib.zip")
    subprocess.run(["bash", str(REPO / "scripts" / "make_pyfiles.sh"), zip_path],
                   check=True, capture_output=True, cwd=REPO)
    workdir = tmp_path / "empty"
    workdir.mkdir()
    out = tmp_path / "out"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", zip_path,
         str(REPO / "sketchlib" / "jobs" / "pages_job.py"),
         "--input", table_dir, "--checkpoint", str(tmp_path / "ckpt"),
         "--output", str(out), "--query", "distinct-urls"],
        capture_output=True, text=True, timeout=420, env=env, cwd=str(workdir))
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["days"] == 3 and summary["ran"] == 3
    assert os.path.exists(out / "_SUCCESS")


_ICEBERG_JAR = os.environ.get("ICEBERG_JAR", "")

_ICEBERG_CHILD = r"""
import os, sys
from pyspark.sql import SparkSession, functions as F
sys.path.insert(0, {repo!r})
from sketchlib.data.pages import generate_pages
from sketchlib.data.tables import PagesTable, has_iceberg_catalog

warehouse = {warehouse!r}
spark = (SparkSession.builder.master("local[4]")
         .appName("iceberg-integration")
         .config("spark.jars", {jar!r})
         .config("spark.sql.extensions",
                 "org.apache.iceberg.spark.extensions"
                 ".IcebergSparkSessionExtensions")
         .config("spark.sql.catalog.iceberg",
                 "org.apache.iceberg.spark.SparkCatalog")
         .config("spark.sql.catalog.iceberg.type", "hadoop")
         .config("spark.sql.catalog.iceberg.warehouse", warehouse)
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
assert has_iceberg_catalog(spark, "iceberg")
assert not has_iceberg_catalog(spark, "nosuch")

t = PagesTable("iceberg:iceberg.db.pages")
pdf = generate_pages(2000, seed=7, n_days=3)
t.write(spark.createDataFrame(pdf), mode="overwrite")

# read back through the same interface
df = t.read(spark)
assert df.count() == 2000, df.count()
assert set(t.days(spark)) == {{"2026-01-01", "2026-01-02", "2026-01-03"}}

# partition pruning must reach the Iceberg scan (file-level pruning shows
# as a filtered scan in the plan; row counts prove the partition filter)
en = t.read_partition(spark, lang="en")
n_en = en.count()
assert 0 < n_en < 2000
plan = en._jdf.queryExecution().executedPlan().toString()
assert "lang" in plan

# append mode grows the table without replacing it
t.write(spark.createDataFrame(generate_pages(500, seed=8, n_days=1)),
        mode="append")
assert t.read(spark).count() == 2500

# the flagship sketch job runs unchanged over the Iceberg-backed table
from sketchlib.spark.aggregate import distinct_count
res = distinct_count(t.read(spark), "url", ["lang"])
assert res.count() == 10
print("ICEBERG_OK")
spark.stop()
"""


@pytest.mark.skipif(
    not (_ICEBERG_JAR and os.path.isfile(_ICEBERG_JAR)),
    reason="set ICEBERG_JAR=/path/to/iceberg-spark-runtime.jar to run the "
           "Iceberg catalog integration (no Iceberg jar ships in this "
           "sandbox — SURVEY.md §7 Phase 0)")
def test_iceberg_catalog_write_read_roundtrip(tmp_path):
    """End-to-end Iceberg path of PagesTable: catalog detection, partitioned
    writeTo/createOrReplace, append, pruned read, and the flagship
    distinct_count over the catalog table.  Runs in a subprocess so the
    jar-bearing session cannot leak into the shared test session."""
    code = _ICEBERG_CHILD.format(repo=str(REPO), jar=_ICEBERG_JAR,
                                 warehouse=str(tmp_path / "warehouse"))
    import sys
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "ICEBERG_OK" in r.stdout
