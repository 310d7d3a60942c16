"""Lint guard: every name a module imports is loaded somewhere in that
module.  An import that nothing reads is dead code, and after a deletion
it is usually the last trace of what was deleted."""

import ast
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
_DIRS = ("search_engine_spark", "jobs", "tools", "tests")


def _unused_imports(path: Path):
    """(line, name) of each imported name the module never loads.  Lines
    marked ``noqa`` and ``from __future__`` imports are exempt."""
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    imported = {}
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if "noqa" in lines[node.lineno - 1]:
            continue
        for alias in node.names:
            if alias.name != "*":
                name = alias.asname or alias.name.split(".")[0]
                imported.setdefault(name, node.lineno)
    loaded = {n.id for n in ast.walk(tree)
              if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
    return [(line, name) for name, line in imported.items()
            if name not in loaded]


def test_no_unused_imports():
    """Package ``__init__.py`` files are exempt: their imports re-export."""
    found = [
        f"{path.relative_to(_REPO)}:{line}: {name}"
        for d in _DIRS
        for path in sorted((_REPO / d).rglob("*.py"))
        if path.name != "__init__.py"
        for line, name in _unused_imports(path)
    ]
    assert found == []
