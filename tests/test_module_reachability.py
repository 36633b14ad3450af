"""Every module of the package is reached from outside the test suite.

A module that only its own tests import runs in no query, facade, tool or
request: it is code to keep and no capability to show for it. This test
reads the ``import``/``from`` statements (relative ones resolved) of the
package, ``tools/``, ``bench.py``, ``__spark_entry__.py`` and
``eventlog_bench/*.py`` — never ``tests/`` — and asserts that each
non-``__init__`` package module is imported by one of those files."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "batch_processing_analysis_spark"

# Seeded test inputs: the suite is the only consumer by design.
ALLOWED = {f"{PKG}.fixtures"}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path) -> set[str]:
    """Dotted names a file imports, with ``from pkg import mod`` yielding
    both ``pkg`` and ``pkg.mod`` (the latter may name a module)."""
    me = _module_name(path)
    package = me if path.name == "__init__.py" else me.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module
            if node.level:
                head = package.rsplit(".", node.level - 1)[0]
                base = f"{head}.{base}" if base else head
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    out.discard(me)
    return out


def test_every_package_module_is_imported_outside_tests():
    sources = [*(REPO / PKG).rglob("*.py"), *(REPO / "tools").rglob("*.py"),
               REPO / "bench.py", REPO / "__spark_entry__.py",
               *(REPO / "eventlog_bench").glob("*.py")]
    imported = set().union(*(_imported(p) for p in sources))
    modules = {_module_name(p) for p in (REPO / PKG).rglob("*.py")
               if p.name != "__init__.py"}
    unreached = sorted(modules - imported - ALLOWED)
    assert not unreached, f"imported only by tests (or not at all): {unreached}"
