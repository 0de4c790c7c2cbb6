"""No dangling imports: every ``infinidb_spark`` submodule imports, every
script compiles, and every ``infinidb_spark`` module named by an import
statement anywhere in the package, the scripts, the tests or the entry
points exists — including imports deferred inside functions, which a plain
module import never executes."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import pkgutil
import py_compile

import pytest

import infinidb_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO, "infinidb_spark")
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
SOURCES = sorted(
    glob.glob(os.path.join(PKG_DIR, "**", "*.py"), recursive=True)
    + SCRIPTS
    + glob.glob(os.path.join(REPO, "tests", "*.py"))
    + [os.path.join(REPO, f) for f in ("__spark_entry__.py", "bench.py")]
)
SUBMODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(infinidb_spark.__path__, "infinidb_spark.")
)
KNOWN = {"infinidb_spark", *SUBMODULES}


@pytest.mark.parametrize("name", SUBMODULES)
def test_submodule_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_compiles(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


def _engine_imports(path: str) -> set[str]:
    """Every ``infinidb_spark...`` name an import statement in ``path``
    refers to: modules, and for ``from X import y`` also ``X.y`` (a
    submodule or an attribute — the caller checks which)."""
    tree = ast.parse(open(path).read(), path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(
                a.name for a in node.names if a.name.startswith("infinidb_spark")
            )
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).startswith("infinidb_spark"):
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


def _resolves(name: str) -> bool:
    """``name`` is a module of the package, or an attribute of one."""
    if name in KNOWN:
        return True
    parent, _, attr = name.rpartition(".")
    return parent in KNOWN and hasattr(importlib.import_module(parent), attr)


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: os.path.relpath(p, REPO))
def test_engine_imports_resolve(path):
    missing = sorted(n for n in _engine_imports(path) if not _resolves(n))
    assert not missing, f"{os.path.relpath(path, REPO)} imports missing {missing}"
