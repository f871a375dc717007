"""One Spark session recipe: the product builds its session through
``sketchlib.spark.session.build_session``, which joins an already-active
session without touching its settings."""

import ast
import pathlib

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
