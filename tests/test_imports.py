"""Every ``re_shacl_spark`` import in the repository's Python files resolves.

Function-local imports are included: the registry (``kgbench``) and the
scripts import most of their modules inside the function that needs them, so
an import of a deleted module would otherwise fail only when that one row or
branch runs."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SOURCES = [
    *sorted(p for d in ("re_shacl_spark", "scripts", "jobs", "tests", "perfbench")
            for p in (ROOT / d).rglob("*.py")),
    ROOT / "__spark_entry__.py",
]


def _package_imports(path: Path):
    """(lineno, module, name-or-None) for every re_shacl_spark import in path;
    relative imports are resolved against the file's own package."""
    package = ".".join(path.relative_to(ROOT).with_suffix("").parts[:-1])
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                mod = ".".join([*base, mod] if mod else base)
            for a in node.names:
                yield node.lineno, mod, a.name


def _resolves(mod: str, name: str | None) -> bool:
    if importlib.util.find_spec(mod) is None:
        return False
    if name is None or name == "*":
        return True
    module = importlib.import_module(mod)
    if hasattr(module, name):
        return True
    return hasattr(module, "__path__") and importlib.util.find_spec(f"{mod}.{name}") is not None


def test_every_package_import_resolves():
    seen, broken = 0, []
    for path in SOURCES:
        for lineno, mod, name in _package_imports(path):
            if mod.split(".")[0] != "re_shacl_spark":
                continue
            seen += 1
            try:
                ok = _resolves(mod, name)
            except ModuleNotFoundError:
                ok = False
            if not ok:
                where = f"{path.relative_to(ROOT)}:{lineno}"
                broken.append(f"{where}: {mod}" + (f".{name}" if name else ""))
    assert seen > 100, seen  # the walk found the imports at all
    assert not broken, "unresolvable imports:\n" + "\n".join(broken)
