"""Every ``gtfsrt2lc_spark`` import in the package and the scripts resolves,
and every package module is reached from an entry point.

Many imports are function-local (the lazy ones in ``cli.py`` and
``plans/gtfs.py``), so a stale one would otherwise fail only when its
function is called. Each import statement is read from the AST and checked
against the installed package: the module must exist and every imported
name must be an attribute or a submodule of it. The same import statements,
followed from the CLI, the plans, the streaming and source layers, the
fixtures, the benchmark and the scripts, must reach every package module
but the few listed in ``UNREACHED``, so code that nothing runs cannot grow.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "gtfsrt2lc_spark"
FILES = sorted(
    glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    + glob.glob(os.path.join(REPO, "scripts", "*.py"))
)

# Modules that no entry point imports yet, kept with their tests until they
# are deleted or wired in. The list may only shrink: a listed module that
# becomes reached, or is deleted, fails the test until it is taken off.
UNREACHED = [
    f"{PKG}/functions/multimodal.py",
]

PKG_FILES = [p for p in FILES if p.startswith(os.path.join(REPO, PKG) + os.sep)]
ROOTS = (
    [os.path.join(REPO, PKG, f) for f in ("__init__.py", "__main__.py", "cli.py")]
    + [os.path.join(REPO, PKG, "plans", f"{m}.py") for m in ("kg_pipeline", "manifest", "gtfs")]
    + [
        p
        for d in ("streaming", "sources", "fixtures")
        for p in glob.glob(os.path.join(REPO, PKG, d, "*.py"))
    ]
    + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    + glob.glob(os.path.join(REPO, "scripts", "*.py"))
)


def _package_of(path: str) -> str:
    rel = os.path.relpath(os.path.dirname(path), REPO)
    return rel.replace(os.sep, ".")


def _imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name-or-None) for every package import in ``path``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = _package_of(path).rsplit(".", node.level - 1)[0]
                module = f"{base}.{module}" if module else base
            out += [(node.lineno, module, a.name) for a in node.names]
    return [(ln, m, n) for ln, m, n in out if m == PKG or m.startswith(PKG + ".")]


def _resolves(module: str, name: str | None) -> bool:
    if importlib.util.find_spec(module) is None:
        return False
    if name is None or name == "*":
        return True
    mod = importlib.import_module(module)
    return hasattr(mod, name) or importlib.util.find_spec(f"{module}.{name}") is not None


def test_files_found():
    assert any(p.endswith(os.path.join(PKG, "cli.py")) for p in FILES)
    assert any(os.sep + "scripts" + os.sep in p for p in FILES)


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, REPO))
def test_package_imports_resolve(path):
    dangling = [
        f"{os.path.relpath(path, REPO)}:{ln}: {m}" + (f".{n}" if n else "")
        for ln, m, n in _imports(path)
        if not _resolves(m, n)
    ]
    assert not dangling, dangling


def _module_file(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    return None


def test_every_package_module_is_reached():
    seen: set[str] = set()
    stack = list(ROOTS)
    while stack:
        path = stack.pop()
        if path in seen:
            continue
        seen.add(path)
        for _, module, name in _imports(path):
            # ``from pkg import sub`` may name a submodule, and importing a
            # module runs every enclosing package's __init__ first
            target = f"{module}.{name}" if name and name != "*" else module
            parts = target.split(".")
            for i in range(1, len(parts) + 1):
                found = _module_file(".".join(parts[:i]))
                if found is not None:
                    stack.append(found)
    unreached = sorted(os.path.relpath(p, REPO) for p in PKG_FILES if p not in seen)
    assert unreached == UNREACHED, unreached


def _references(path: str, name: str) -> list[str]:
    """The enclosing function of every use of ``name`` in ``path``
    (``<module>`` outside any function)."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    found = []

    def visit(node: ast.AST, scope: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        if (isinstance(node, ast.Name) and node.id == name) or (
            isinstance(node, ast.Attribute) and node.attr == name
        ) or (isinstance(node, ast.alias) and name in (node.name, node.asname)):
            found.append(scope)
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, "<module>")
    return found


def test_one_store_commit_protocol():
    """Every store commits through ``hadoop_fs.commit_generations``: it is the
    only user of ``write_text_atomic`` in the package, so a store that
    writes its own manifest, a second commit protocol, fails here."""
    users = [
        f"{os.path.relpath(path, REPO)}:{scope}"
        for path in PKG_FILES
        for scope in _references(path, "write_text_atomic")
    ]
    assert users == [f"{PKG}/functions/hadoop_fs.py:commit_generations"], users
