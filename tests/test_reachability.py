"""Every package module is reachable from an entry point.

The import closure is computed from source (no imports are executed)
starting at the driver contract, the bench, the CLI, the tools and
perfbench.  A module only tests import is code nothing ships: delete it
or give it a caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "fiveg_spark"


def _module_files() -> dict[str, Path]:
    """Dotted name → file for the package and every entry point."""
    paths = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for top in (PACKAGE, "tools", "perfbench"):
        paths += (ROOT / top).rglob("*.py")
    out = {}
    for path in paths:
        rel = path.relative_to(ROOT).with_suffix("")
        parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
        out[".".join(parts)] = path
    return out


def _imports(path: Path, name: str, is_pkg: bool) -> set[str]:
    """Every dotted name an ``import`` anywhere in the file may load:
    the module itself, each parent package, and ``from m import x`` as
    both ``m`` and ``m.x`` (x may be a submodule)."""
    package = name if is_pkg else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    with_parents = set()
    for mod in found:
        parts = mod.split(".")
        with_parents.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return with_parents


def reachable_modules() -> set[str]:
    files = _module_files()
    todo = ["__spark_entry__", "bench", f"{PACKAGE}.__main__"]
    todo += [m for m in files if m.split(".")[0] in {"tools", "perfbench"}]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        path = files[mod]
        todo.extend(
            m for m in _imports(path, mod, path.name == "__init__.py") if m in files
        )
    return seen


def test_every_package_module_has_an_entry_point():
    package_modules = {m for m in _module_files() if m.split(".")[0] == PACKAGE}
    unreachable = sorted(package_modules - reachable_modules())
    assert not unreachable, f"only tests reach: {unreachable}"
