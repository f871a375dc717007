"""The sketch code in ``sketchlib/spark/`` crosses the Python boundary only
through Arrow (``mapInArrow``, ``applyInArrow``, ``F.arrow_udf``): pandas
UDFs convert a null-bearing int64 batch to float64, which changes the hash
encoding of every key in the batch. This guard keeps the pandas twins from
coming back."""

import ast
import pathlib

SPARK_DIR = pathlib.Path(__file__).resolve().parents[1] / "sketchlib" / "spark"
PANDAS_BOUNDARY = {"pandas_udf", "mapInPandas", "applyInPandas"}
# (file name, call name) pairs allowed to stay, each with its reason
ALLOWED: set[tuple[str, str]] = set()


def _pandas_calls(path: pathlib.Path) -> list[tuple[str, int]]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in PANDAS_BOUNDARY:
                found.append((name, node.lineno))
    return found


def test_no_pandas_boundary_in_spark_package():
    paths = sorted(SPARK_DIR.glob("*.py"))
    assert paths
    bad = [f"{p.name}:{line} {name}" for p in paths
           for name, line in _pandas_calls(p) if (p.name, name) not in ALLOWED]
    assert not bad, "pandas UDF boundary in sketchlib/spark: " + ", ".join(bad)


def test_guard_sees_decorator_and_method_calls(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("@F.pandas_udf('long')\ndef f(s): return s\n"
                   "df.mapInPandas(g, schema)\n"
                   "df.groupBy('k').applyInPandas(h, schema)\n"
                   "x = pandas_udf(f)\n")
    assert sorted(n for n, _ in _pandas_calls(src)) == [
        "applyInPandas", "mapInPandas", "pandas_udf", "pandas_udf"]
