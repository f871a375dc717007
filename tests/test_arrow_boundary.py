"""The sketch code crosses the Python boundary only through Arrow
(``mapInArrow``, ``applyInArrow``, ``F.arrow_udf``): pandas UDFs convert a
null-bearing int64 batch to float64, which changes the hash encoding of
every key in the batch. This guard keeps the pandas twins from coming back
in ``sketchlib/spark/`` and ``sketchlib/streaming/``.

``applyInPandasWithState`` (the streaming state operator) is not guarded:
PySpark has no Arrow twin of it. Its state functions rebuild the element
columns as Arrow arrays and prepare them through ``spec.prepare_arrow``, so
no ``.prepare(`` call — the deleted pandas prepare — may appear anywhere in
``sketchlib/``."""

import ast
import pathlib

SKETCHLIB = pathlib.Path(__file__).resolve().parents[1] / "sketchlib"
BOUNDARY_DIRS = [SKETCHLIB / "spark", SKETCHLIB / "streaming"]
PANDAS_BOUNDARY = {"pandas_udf", "mapInPandas", "applyInPandas"}
# (file name, call name) pairs allowed to stay, each with its reason
ALLOWED: set[tuple[str, str]] = set()


def _calls(path: pathlib.Path, names: set[str]) -> list[tuple[str, int]]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in names:
                found.append((name, node.lineno))
    return found


def _pandas_calls(path: pathlib.Path) -> list[tuple[str, int]]:
    return _calls(path, PANDAS_BOUNDARY)


def test_no_pandas_boundary_in_spark_package():
    paths = sorted(p for d in BOUNDARY_DIRS for p in d.glob("*.py"))
    assert {p.parent.name for p in paths} == {"spark", "streaming"}
    bad = [f"{p.parent.name}/{p.name}:{line} {name}" for p in paths
           for name, line in _pandas_calls(p) if (p.name, name) not in ALLOWED]
    assert not bad, "pandas UDF boundary in sketchlib: " + ", ".join(bad)


def test_no_pandas_prepare_in_sketchlib():
    bad = [f"{p.relative_to(SKETCHLIB)}:{line}"
           for p in sorted(SKETCHLIB.rglob("*.py"))
           for name, line in _calls(p, {"prepare"})]
    assert not bad, "spec.prepare call in sketchlib: " + ", ".join(bad)


def test_guard_sees_decorator_and_method_calls(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("@F.pandas_udf('long')\ndef f(s): return s\n"
                   "df.mapInPandas(g, schema)\n"
                   "df.groupBy('k').applyInPandas(h, schema)\n"
                   "x = pandas_udf(f)\n"
                   "spec.ingest(sk, spec.prepare(pdf, cols))\n")
    assert sorted(n for n, _ in _pandas_calls(src)) == [
        "applyInPandas", "mapInPandas", "pandas_udf", "pandas_udf"]
    assert [n for n, _ in _calls(src, {"prepare"})] == ["prepare"]
