"""Dead-code lint: every top-level def or class in ``handprint_spark/``
is referenced somewhere in the project's code — as a name, an
attribute or an imported name — other than by its own definition."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "handprint_spark"
SCAN_DIRS = ("handprint_spark", "tests", "tools", "perfbench")
SCAN_FILES = ("bench.py", "__spark_entry__.py")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources():
    for d in SCAN_DIRS:
        yield from sorted((ROOT / d).rglob("*.py"))
    for f in SCAN_FILES:
        yield ROOT / f


def _referenced_names() -> set[str]:
    names = set()
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.update(node.name.split("."))
    return names


def test_every_top_level_definition_is_referenced():
    referenced = _referenced_names()
    unreferenced = [
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.parse(path.read_text(), str(path)).body
        if isinstance(node, DEFS) and node.name not in referenced
    ]
    assert not unreferenced, "unreferenced definitions:\n" + "\n".join(unreferenced)
