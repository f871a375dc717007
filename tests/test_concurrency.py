"""``run_concurrently`` is the one way sketchlib overlaps Spark job chains:
results keyed by label, every failed branch named in one error, and branch
jobs carrying the caller's job group.  An AST guard keeps hand-rolled
thread pools from coming back."""

import ast
import pathlib
import threading

import pytest

from sketchlib.spark.concurrency import run_concurrently

ROOT = pathlib.Path(__file__).resolve().parents[1]
HELPER = ROOT / "sketchlib" / "spark" / "concurrency.py"


def test_results_keyed_by_label():
    got = run_concurrently({"b": lambda: 2, "a": lambda: "one",
                            "c": lambda: [3]})
    assert got == {"b": 2, "a": "one", "c": [3]}
    assert list(got) == ["b", "a", "c"]
    assert run_concurrently({}) == {}


def test_every_failed_branch_named_in_one_error():
    done = threading.Event()

    def boom(msg):
        raise ValueError(msg)

    with pytest.raises(RuntimeError) as err:
        run_concurrently({"first": lambda: boom("bad one"),
                          "ok": done.set,
                          "second": lambda: boom("bad two")})
    msg = str(err.value)
    assert "2 of 3 concurrent branch(es) failed" in msg
    assert "first: ValueError: bad one" in msg
    assert "second: ValueError: bad two" in msg
    assert "ok" not in msg.split("failed:", 1)[1]
    # chained to the first failure in branch order
    assert isinstance(err.value.__cause__, ValueError)
    assert str(err.value.__cause__) == "bad one"
    # the succeeding sibling ran to its end
    assert done.is_set()


def test_max_workers_one_runs_in_order_and_finishes_every_branch():
    seen = []

    def branch(label, fail=False):
        seen.append(label)
        if fail:
            raise KeyError(label)
        return label

    with pytest.raises(RuntimeError, match="1 of 3"):
        run_concurrently({"x": lambda: branch("x"),
                          "y": lambda: branch("y", fail=True),
                          "z": lambda: branch("z")}, max_workers=1)
    assert seen == ["x", "y", "z"]


def test_branch_jobs_inherit_callers_job_group(spark):
    from sketchlib.spark.skewdiag import diagnose_skew

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.range(0, 2000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN -1 ELSE id END AS k")
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "skew diagnosis")
    try:
        diagnose_skew(df, "k", k=3)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    in_group = tracker.getJobIdsForGroup("g")
    new_ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert in_group, "diagnose_skew ran no job in the caller's group"
    assert not new_ungrouped, (
        f"{len(new_ungrouped)} branch job(s) left the caller's job group")


def test_branches_get_their_own_local_properties(spark):
    """Each branch starts from its own copy of the caller's properties, so
    what one branch sets (Spark sets the SQL execution id per job) is not
    seen by a sibling or the caller."""
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=60)

    def writer():
        sc.setLocalProperty("sketchlib.test.branch", "writer")
        barrier.wait()
        barrier.wait()
        return sc.getLocalProperty("sketchlib.test.branch")

    def reader():
        barrier.wait()  # the writer has set its property
        seen = sc.getLocalProperty("sketchlib.test.branch")
        barrier.wait()
        return seen

    sc.setLocalProperty("sketchlib.test.branch", None)
    got = run_concurrently({"writer": writer, "reader": reader})
    assert got == {"writer": "writer", "reader": None}
    assert sc.getLocalProperty("sketchlib.test.branch") is None


def _pool_references(path: pathlib.Path) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        name = (node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else node.name if isinstance(node, ast.alias) else None)
        if name == "ThreadPoolExecutor":
            lines.append(getattr(node, "lineno", 0))
    return lines


def test_one_thread_pool_in_the_repo():
    paths = ([ROOT / "__spark_entry__.py"]
             + sorted((ROOT / "sketchlib").rglob("*.py"))
             + sorted((ROOT / "scripts").rglob("*.py")))
    bad = [f"{p.relative_to(ROOT)}:{line}" for p in paths if p != HELPER
           for line in _pool_references(p)]
    assert not bad, ("ThreadPoolExecutor outside run_concurrently: "
                     + ", ".join(bad))
    assert _pool_references(HELPER)


def test_guard_sees_imports_names_and_attributes(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("from concurrent.futures import ThreadPoolExecutor\n"
                   "import concurrent.futures as cf\n"
                   "pool = cf.ThreadPoolExecutor(2)\n"
                   "with ThreadPoolExecutor() as p: pass\n")
    assert len(_pool_references(src)) == 3
