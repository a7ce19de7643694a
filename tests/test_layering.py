"""Package layering: the lower layers (geo, cells, plans, functions,
sources) never import the operators layer — not at module level and not
inside a function."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent / "geomesa_spark"
LOWER = ("geo", "cells", "plans", "functions", "sources")


def _imported_modules(path: pathlib.Path):
    package = ["geomesa_spark", *path.relative_to(ROOT).parent.parts]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[:len(package) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            yield node.lineno, base
            for alias in node.names:  # from geomesa_spark import operators
                yield node.lineno, f"{base}.{alias.name}"


def test_lower_layers_do_not_import_operators():
    bad = set()
    for sub in LOWER:
        for path in sorted((ROOT / sub).rglob("*.py")):
            for lineno, mod in _imported_modules(path):
                if mod == "geomesa_spark.operators" \
                        or mod.startswith("geomesa_spark.operators."):
                    bad.add(f"{path.relative_to(ROOT.parent)}:{lineno}")
    assert not bad, sorted(bad)
