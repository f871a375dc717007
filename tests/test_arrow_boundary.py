"""The library crosses the Python boundary only through Arrow
(``mapInArrow``, ``applyInArrow``, ``F.arrow_udf``), everywhere in
``sketchlib/``: pandas UDFs convert a null-bearing int64 batch to float64,
which rounds every value above 2^53 in a passthrough column and changes the
hash encoding of every key in a sketched batch. This guard keeps the pandas
twins from coming back in any module.

``applyInPandasWithState`` (the streaming state operator) is not guarded:
PySpark has no Arrow twin of it. Its state functions rebuild the element
columns as Arrow arrays and prepare them through ``spec.prepare_arrow``, so
no ``.prepare(`` call — the deleted pandas prepare — may appear anywhere in
``sketchlib/``.

Inside the Spark stages the same rounding happens without any pandas UDF,
through a pandas round trip of an Arrow batch. So no ``.to_pandas(`` or
``.from_pandas(`` call, and no ``pd.DataFrame(`` or ``pd.Series(`` call,
may appear under ``sketchlib/spark/``: group keys and values leave as the
input's own Arrow arrays. Accepting a driver-side pandas frame (as
``element_batch`` does) is not a conversion."""

import ast
import pathlib

SKETCHLIB = pathlib.Path(__file__).resolve().parents[1] / "sketchlib"
# the Spark job and streaming packages allow no exception at all
BOUNDARY_DIRS = [SKETCHLIB / "spark", SKETCHLIB / "streaming"]
PANDAS_BOUNDARY = {"pandas_udf", "mapInPandas", "applyInPandas"}
PANDAS_CONVERSION = {"to_pandas", "from_pandas", "pd.DataFrame", "pd.Series"}
# (file name, call name) pairs allowed to stay, each with its reason
ALLOWED = {
    # WARC parsing: the public records_frame(s) returns pandas frames, its
    # columns are typed explicitly (nullable Int32, ISO-8601 timestamps
    # parsed with coerce) and no int64 passes through them
    ("warc.py", "mapInPandas"),
}


def _calls(path: pathlib.Path, names: set[str]) -> list[tuple[str, int]]:
    """Calls whose function name (``x.name(`` or ``name(``) or dotted
    ``module.name`` is in ``names``."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                dotted = f"{f.value.id}.{f.attr}"
                name = dotted if dotted in names else name
            if name in names:
                found.append((name, node.lineno))
    return found


def _pandas_calls(path: pathlib.Path) -> list[tuple[str, int]]:
    return _calls(path, PANDAS_BOUNDARY)


def test_no_pandas_boundary_in_spark_package():
    paths = sorted(p for d in BOUNDARY_DIRS for p in d.glob("*.py"))
    assert {p.parent.name for p in paths} == {"spark", "streaming"}
    bad = [f"{p.parent.name}/{p.name}:{line} {name}" for p in paths
           for name, line in _pandas_calls(p)]
    assert not bad, "pandas UDF boundary in sketchlib: " + ", ".join(bad)


def test_no_pandas_boundary_in_sketchlib():
    paths = sorted(SKETCHLIB.rglob("*.py"))
    assert {"spark", "streaming", "text", "similarity"} <= {
        p.parent.name for p in paths}
    bad = [f"{p.relative_to(SKETCHLIB)}:{line} {name}" for p in paths
           for name, line in _pandas_calls(p) if (p.name, name) not in ALLOWED]
    assert not bad, "pandas UDF boundary in sketchlib: " + ", ".join(bad)


def test_no_pandas_prepare_in_sketchlib():
    bad = [f"{p.relative_to(SKETCHLIB)}:{line}"
           for p in sorted(SKETCHLIB.rglob("*.py"))
           for name, line in _calls(p, {"prepare"})]
    assert not bad, "spec.prepare call in sketchlib: " + ", ".join(bad)


def test_no_pandas_conversion_in_spark_package():
    paths = sorted((SKETCHLIB / "spark").glob("*.py"))
    assert {"aggregate.py", "heavy_hitters.py"} <= {p.name for p in paths}
    bad = [f"spark/{p.name}:{line} {name}" for p in paths
           for name, line in _calls(p, PANDAS_CONVERSION)]
    assert not bad, "pandas conversion in sketchlib/spark: " + ", ".join(bad)


def test_conversion_guard_sees_round_trips(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("keys = d.take(idx).to_pandas()\n"
                   "pa.RecordBatch.from_pandas(pdf, schema=s)\n"
                   "out = pd.DataFrame(rows)\n"
                   "s = pd.Series(counts, index=v)\n"
                   "a = pa.array(pdf[c], from_pandas=False)\n"
                   "def element_batch(pdf: pd.DataFrame): return pdf\n"
                   "frame_type = pd.DataFrame\n")
    assert sorted(n for n, _ in _calls(src, PANDAS_CONVERSION)) == [
        "from_pandas", "pd.DataFrame", "pd.Series", "to_pandas"]


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
