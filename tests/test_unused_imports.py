"""No module-level import goes unused in the package, the tools or the
tests.

Computed from source: a name a module-level ``import`` binds must be
read somewhere in the file, or be listed in its ``__all__``.  Imports
inside functions are left alone (they are lazy on purpose).
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _module_level_imports(body: list[ast.stmt]):
    """Import statements at module level, including those inside
    module-level ``if``/``try``/``with`` blocks."""
    for node in body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for block in ("body", "orelse", "finalbody"):
                yield from _module_level_imports(getattr(node, block, []))
            for handler in getattr(node, "handlers", []):
                yield from _module_level_imports(handler.body)


def _exported(tree: ast.Module) -> set[str]:
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            names.update(ast.literal_eval(node.value))
    return names


def unused_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    bound: dict[str, int] = {}
    for node in _module_level_imports(tree.body):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        for alias in node.names:
            if alias.name != "*":
                bound[alias.asname or alias.name.split(".")[0]] = node.lineno
    read = {
        n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }
    keep = read | _exported(tree)
    return [f"{line}: {name}" for name, line in sorted(bound.items()) if name not in keep]


def test_no_unused_module_level_imports():
    found = {
        str(path.relative_to(ROOT)): unused
        for top in ("fiveg_spark", "tools", "tests")
        for path in sorted((ROOT / top).rglob("*.py"))
        if (unused := unused_imports(path))
    }
    assert not found, f"unused imports: {found}"


def test_scan_sees_unused_and_exported_names(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "from __future__ import annotations\n"
        "import os, sys\n"
        "import xml.dom\n"
        "from json import dumps as to_json, loads\n"
        "try:\n    import csv\nexcept ImportError:\n    csv = None\n"
        "__all__ = ['loads']\n"
        "def f():\n    import re\n    return sys.argv, xml\n"
    )
    assert unused_imports(src) == ["6: csv", "2: os", "4: to_json"]
