"""One Spark session recipe: the product builds its session through
``sketchlib.spark.session.build_session``, which joins an already-active
session without touching its settings."""

import ast
import json
import os
import pathlib
import subprocess
import sys

from sketchlib.spark.session import build_session

REPO = pathlib.Path(__file__).resolve().parents[1]
# files allowed to call SparkSession.builder, each with its reason
ALLOWED = {
    # the one product recipe
    "sketchlib/spark/session.py",
    # the frozen gate-bench session that bench.py imports
    "scripts/bench_common.py",
    # emulates the driver's bare local[8] session: the gates must see
    # exactly the settings the driver gives them
    "scripts/check_entry.py",
}
LEAK_KEYS = ("spark.sql.execution.arrow.maxRecordsPerBatch",
             "spark.sql.files.maxPartitionBytes",
             "spark.sql.shuffle.partitions")


def _builder_uses(path: pathlib.Path) -> list[int]:
    return sorted(node.lineno
                  for node in ast.walk(ast.parse(path.read_text(), str(path)))
                  if isinstance(node, ast.Attribute) and node.attr == "builder"
                  and isinstance(node.value, ast.Name)
                  and node.value.id == "SparkSession")


def test_build_session_leaves_active_session_alone(spark):
    before = {k: spark.conf.get(k, None) for k in LEAK_KEYS}
    assert build_session("joined", local_cpus="2") is spark
    assert {k: spark.conf.get(k, None) for k in LEAK_KEYS} == before


def test_one_session_recipe():
    paths = (sorted((REPO / "sketchlib").rglob("*.py"))
             + sorted((REPO / "scripts").glob("*.py")))
    users = {str(p.relative_to(REPO)): lines for p in paths
             if (lines := _builder_uses(p))}
    assert set(users) == ALLOWED, f"SparkSession.builder users: {users}"


def test_guard_sees_builder_chains(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("s = (SparkSession.builder.master('local[2]')\n"
                   "     .getOrCreate())\n"
                   "b = SparkSession.builder\n"
                   "x = other.builder\n")
    assert _builder_uses(src) == [1, 3]


_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from sketchlib.spark.session import build_session
spark = build_session("conf-probe")
print(json.dumps({{k: spark.conf.get(k) for k in {keys!r}}}))
spark.stop()
"""


def test_launch_conf_wins_over_recipe(tmp_path):
    """A key passed with spark-submit --conf keeps its launch value; a key
    the launch leaves unset reads back the recipe's value."""
    keys = ["spark.sql.files.maxPartitionBytes",
            "spark.sql.execution.arrow.maxRecordsPerBatch"]
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE.format(repo=str(REPO), keys=keys))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        ["spark-submit", "--master", "local[1]",
         "--conf", "spark.sql.files.maxPartitionBytes=134217728", str(probe)],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got == {keys[0]: "134217728", keys[1]: "200000"}


_HEAP_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from sketchlib.spark.session import build_session
spark = build_session("heap-probe", local_cpus=1,
                      extra_conf={{"spark.driver.memory": "2g",
                                  "spark.ui.enabled": "false"}})
print(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
spark.stop()
"""


def test_extra_conf_sizes_the_driver_heap(tmp_path):
    """Run with plain python, build_session starts the JVM itself, with
    extra_conf: spark.driver.memory sizes the heap (Spark's default is 1g)."""
    probe = tmp_path / "probe.py"
    probe.write_text(_HEAP_PROBE.format(repo=str(REPO)))
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT",
                        "PYSPARK_GATEWAY_SECRET", "PYSPARK_SUBMIT_ARGS")}
    r = subprocess.run([sys.executable, str(probe)], capture_output=True,
                       text=True, timeout=300, env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-3000:]
    heap = int(r.stdout.strip().splitlines()[-1])
    assert 1.5 * 2**30 < heap <= 2 * 2**30
