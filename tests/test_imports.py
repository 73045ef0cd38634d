"""Every ``re_shacl_spark`` import in the repository's Python files resolves,
and cutting code leaves no orphans behind.

Function-local imports are included: the registry (``kgbench``) and the
scripts import most of their modules inside the function that needs them, so
an import of a deleted module would otherwise fail only when that one row or
branch runs.  The orphan checks catch the other half of a cut: a helper,
constant or import that only the deleted code used, and a function or class
that only tests and registry rows still load."""

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
    """(lineno, module, name-or-None, bound name) for every import in path;
    relative imports are resolved against the file's own package."""
    package = ".".join(path.relative_to(ROOT).with_suffix("").parts[:-1])
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, None, a.asname or a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                mod = ".".join([*base, mod] if mod else base)
            for a in node.names:
                yield node.lineno, mod, a.name, a.asname or a.name


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
        for lineno, mod, name, _ in _package_imports(path):
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


PACKAGE_MODULES = sorted((ROOT / "re_shacl_spark").rglob("*.py"))


def _loaded_names(tree: ast.AST) -> set[str]:
    """Names read anywhere in tree: bare names and attribute accesses."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
    return out


def _top_level_definitions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.lineno, node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                        yield node.lineno, n.id


# Top-level package functions and classes that no code outside tests/ and the
# kgbench.py registry rows loads, each with the reason it stays and what loads
# it: "rows", else "tests", else None for nothing yet.  The next cut starts
# from this list.
ROW_ONLY_ALLOWED = {
    # the core kg_mentions row explodes detect_mentions' output with it
    "mention_pairs": "rows",
    # the reference's pyshacl-owl arm of the four-arm benchmark (ROADMAP
    # direction 3)
    "fuse_full": "rows",
    # the reference's own benchmarks, LUBM and Shape_30, with their
    # closed-form oracles (workloads/lubm.py and workloads/shape30.py)
    "lubm_violations": "rows",
    "shape30_violations": "rows",
    "oracle_sql": "rows",
    # the north star's per-shape early termination (BASELINE.json)
    "validate_fail_fast": "tests",
    # the reference isomorphism contract the tests compare graphs against
    "graphs_equivalent": "tests",
}


def test_every_package_definition_is_loaded_somewhere():
    loaded = set()
    for path in SOURCES:
        loaded |= _loaded_names(ast.parse(path.read_text(), str(path)))
    orphans = []
    for path in PACKAGE_MODULES:
        for lineno, name in _top_level_definitions(ast.parse(path.read_text(), str(path))):
            if name.startswith("__") or name in loaded:
                continue
            if name in ROW_ONLY_ALLOWED and ROW_ONLY_ALLOWED[name] is None:
                continue
            orphans.append(f"{path.relative_to(ROOT)}:{lineno}: {name}")
    assert not orphans, "defined but never loaded:\n" + "\n".join(orphans)


KGBENCH = ROOT / "re_shacl_spark" / "kgbench.py"
TEST_SOURCES = [p for p in SOURCES if p.relative_to(ROOT).parts[0] == "tests"]


def _is_module(dotted: str) -> bool:
    p = ROOT.joinpath(*dotted.split("."))
    return p.with_suffix(".py").exists() or (p / "__init__.py").exists()


def _module_aliases(path: Path) -> set[str]:
    """Names that path binds to a re_shacl_spark module (``from
    re_shacl_spark.reasoning import checks as CK`` binds ``CK``; ``import
    re_shacl_spark.query`` binds ``re_shacl_spark``)."""
    return {
        bound
        for _, mod, name, bound in _package_imports(path)
        if mod.split(".")[0] == "re_shacl_spark" and (name is None or _is_module(f"{mod}.{name}"))
    }


def _root_name(node: ast.AST) -> str | None:
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _package_loads(path: Path) -> set[str]:
    """Names path loads as bare names, plus attributes it loads through a
    package-module alias: ``query.union`` counts as ``union``, ``df.union``
    does not."""
    aliases = _module_aliases(path)
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            out.add(node.id)
        elif isinstance(node, ast.Attribute) and _root_name(node.value) in aliases:
            out.add(node.attr)
    return out


def test_every_package_function_and_class_is_loaded_by_non_test_code():
    """Every top-level package function or class is loaded by code other
    than tests/ and the kgbench.py registry rows."""
    loaded = set()
    for path in SOURCES:
        if path != KGBENCH and path not in TEST_SOURCES:
            loaded |= _package_loads(path)
    unreached, defined = [], set()
    for path in PACKAGE_MODULES:
        if path == KGBENCH:
            continue  # the registry's rows are loaded through QUERIES
        for node in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            defined.add(node.name)
            if node.name.startswith("__") or node.name in loaded:
                continue
            if node.name not in ROW_ONLY_ALLOWED:
                unreached.append(f"{path.relative_to(ROOT)}:{node.lineno}: {node.name}")
    assert not unreached, (
        "loaded only by kgbench.py rows and tests (or not at all):\n" + "\n".join(unreached)
    )
    row_loads = _package_loads(KGBENCH)
    test_loads = set().union(*map(_package_loads, TEST_SOURCES))
    stale = sorted(
        n for n, by in ROW_ONLY_ALLOWED.items()
        if n not in defined or n in loaded
        or by != ("rows" if n in row_loads else "tests" if n in test_loads else None)
    )
    assert not stale, f"ROW_ONLY_ALLOWED entries gone, loaded by other code, or mislabelled: {stale}"


def test_every_module_import_is_used():
    unused = []
    for path in PACKAGE_MODULES:
        if path.name == "__init__.py":
            continue  # package re-exports
        tree = ast.parse(path.read_text(), str(path))
        loaded = _loaded_names(tree)
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in loaded:
                        unused.append(f"{path.relative_to(ROOT)}:{node.lineno}: {bound}")
    assert not unused, "imported but unused:\n" + "\n".join(unused)
