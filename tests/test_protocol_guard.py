"""The spec protocol is declared once, with its defaults, on ``SketchSpec``
and ``HashSpec``, and every call site reads it directly.  A
``getattr(spec, "hash_dedup", False)`` next to that declaration would carry
a second copy of a default, and a ``hasattr`` routing branch would bring
back the per-spec fallback paths.  This guard forbids both, for every
protocol member, anywhere in ``sketchlib/``.

A spec here is ``spec``, ``self.spec`` or a ``ComboSpec`` sub-spec
(``specs[i]``, ``self.specs[i]``, or a loop or comprehension variable over
``specs``).  Attributes outside the protocol are not guarded: the audit's
documented ``hasattr(spec, "rse")`` extension stays."""

import ast
import pathlib

SKETCHLIB = pathlib.Path(__file__).resolve().parents[1] / "sketchlib"
PROTOCOL = {"name", "hash_name", "prehashed", "hash_dedup", "estimate_type",
            "fold_segments", "build_from_hashes", "blob_from_hashes"}


def _is_specs(node) -> bool:
    """``specs`` or ``<x>.specs``: a ComboSpec's sub-spec sequence."""
    return ((isinstance(node, ast.Name) and node.id == "specs")
            or (isinstance(node, ast.Attribute) and node.attr == "specs"))


def _sub_spec_names(tree) -> set[str]:
    """Names a loop or comprehension binds to sub-specs: ``for s in specs``
    and the first target of ``for s, x in zip(specs, ...)``."""
    names = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.For, ast.comprehension)):
            continue
        it, target = node.iter, node.target
        if (isinstance(it, ast.Call) and isinstance(it.func, ast.Name)
                and it.func.id == "zip" and it.args and _is_specs(it.args[0])
                and isinstance(target, ast.Tuple)):
            target = target.elts[0]
        elif not _is_specs(it):
            continue
        if isinstance(target, ast.Name):
            names.add(target.id)
    return names


def _is_spec(node, sub_specs: set[str]) -> bool:
    if isinstance(node, ast.Name):
        return node.id == "spec" or node.id in sub_specs
    if isinstance(node, ast.Attribute):
        return (node.attr == "spec" and isinstance(node.value, ast.Name)
                and node.value.id == "self")
    return isinstance(node, ast.Subscript) and _is_specs(node.value)


def _protocol_probes(path: pathlib.Path) -> list[tuple[str, str, int]]:
    """``(getattr|hasattr, member, line)`` of every probe of a protocol
    member on a spec."""
    tree = ast.parse(path.read_text(), str(path))
    sub_specs = _sub_spec_names(tree)
    found = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id in ("getattr", "hasattr")
                and len(node.args) >= 2 and _is_spec(node.args[0], sub_specs)
                and isinstance(node.args[1], ast.Constant)
                and node.args[1].value in PROTOCOL):
            found.append((node.func.id, node.args[1].value, node.lineno))
    return found


def test_no_protocol_probe_in_sketchlib():
    paths = sorted(SKETCHLIB.rglob("*.py"))
    assert {"aggregate.py", "specs.py", "stream_agg.py", "checkpoint.py",
            "audit.py", "freqdir.py"} <= {p.name for p in paths}
    bad = [f"{p.relative_to(SKETCHLIB)}:{line} {fn}({member!r})"
           for p in paths for fn, member, line in _protocol_probes(p)]
    assert not bad, "spec protocol read through getattr/hasattr: " + ", ".join(bad)


def test_guard_sees_every_spec_form(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "a = getattr(spec, 'hash_dedup', False)\n"
        "b = hasattr(self.spec, 'fold_segments')\n"
        "c = [getattr(s, 'hash_name', None) for s in specs]\n"
        "d = any(getattr(s, 'prehashed', False) for s in self.specs)\n"
        "e = getattr(self.specs[0], 'estimate_type', None)\n"
        "for sub, sk in zip(self.specs, sketches):\n"
        "    f = getattr(sub, 'blob_from_hashes', None)\n"
        "g = getattr(specs[1], 'build_from_hashes')\n"
        "h = getattr(self.spec, 'name', 'sketch')\n"
        # not guarded: non-protocol attributes, non-spec objects
        "i = hasattr(spec, 'rse')\n"
        "j = getattr(sketch, 'count_additions', 0)\n"
        "k = getattr(other, 'name', '')\n"
        "m = getattr(spec, 'p', 14)\n")
    assert sorted((fn, member) for fn, member, _ in _protocol_probes(src)) == [
        ("getattr", "blob_from_hashes"), ("getattr", "build_from_hashes"),
        ("getattr", "estimate_type"), ("getattr", "hash_dedup"),
        ("getattr", "hash_name"), ("getattr", "name"), ("getattr", "prehashed"),
        ("hasattr", "fold_segments")]
