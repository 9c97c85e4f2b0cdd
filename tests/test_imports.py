"""Every ``gtfsrt2lc_spark`` import in the package and the scripts resolves.

Many imports are function-local (the lazy ones in ``cli.py`` and
``plans/gtfs.py``), so a stale one would otherwise fail only when its
function is called. Each import statement is read from the AST and checked
against the installed package: the module must exist and every imported
name must be an attribute or a submodule of it.
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
