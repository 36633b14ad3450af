"""Every module, and every top-level definition, of the package is reached
from outside the test suite.

A module or function that only its own tests reach runs in no query,
facade, tool or request: it is code to keep and no capability to show for
it. The roots are ``tools/``, ``bench.py``, ``__spark_entry__.py`` and
``eventlog_bench/*.py`` — never ``tests/``.

- Modules: each non-``__init__`` package module is imported (relative
  imports resolved) by a root or by a package file.
- Definitions: a top-level ``def``/``class`` is live when it is decorated
  (the ``@query`` registry), when package module-level code other than
  its ``import`` statements and ``__all__`` names it, when a root names it,
  or when a live definition names it, to a fixed point. A name is an
  ``ast.Name``, an ``ast.Attribute.attr`` or a name in ``from … import``;
  matching is by name alone, so a mention keeps every definition of that
  name alive."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "batch_processing_analysis_spark"

# Seeded test inputs: the suite is the only consumer by design.
ALLOWED = {f"{PKG}.fixtures"}

ALLOWED_DEFS = {
    # The engine's one request (ROADMAP item 1): the benchmark harness
    # still composes the layers itself until it calls these.
    f"{PKG}.pipeline.analyze",
    f"{PKG}.pipeline.Analysis",
    # The defined result for malformed logs (ROADMAP item 4) calls it.
    f"{PKG}.operators.validation.quarantine_split",
    # The reference's CSV event-log input and output contract
    # (SURVEY S1-S3).
    f"{PKG}.sources.event_log.read_event_log_csv",
    f"{PKG}.sources.event_log.write_event_log_csv",
}

# Dead, and kept only with the 92 tests that check them: one change
# deletes at most a tenth of the suite's tests, so these go next
# (ROADMAP item 5). Add nothing here; only remove.
DEFERRED = {f"{PKG}.operators.png_codec", f"{PKG}.sources.bucketed"}
DEFERRED_DEFS = {
    f"{PKG}.{name}" for name in (
        "operators.graph.pagerank",
        "operators.linalg.pca_whitener",
        "operators.multimodal.decode_audio",
        "operators.ordering.bucket_by_bounds",
        "operators.ordering.quantile_bounds",
        "operators.robots.robots_sitemaps",
        "operators.similarity.kmeans_centroids",
        "operators.sketches.bloom_fpr_micro",
        "operators.sketches.bloom_merge",
        "operators.sketches.cms_merge",
        "operators.sketches.hist_merge",
        "operators.sketches.hll_drift",
        "operators.sketches.hll_estimate",
        "operators.sketches.hll_merge",
        "pipeline.build_training_set",
        "sources.training_sink.load_verified_shards",
        "sources.training_sink.publish_manifest",
        "sources.training_sink.read_training_shards",
        "sources.training_sink.write_training_shards",
        "streaming.corpus_stream.stream_exact_dedup",
        "streaming.corpus_stream.stream_heavy_hitter_summary",
        "streaming.corpus_stream.stream_validate",
    )
}
ALLOWED |= DEFERRED
ALLOWED_DEFS |= DEFERRED_DEFS


def _roots() -> list[Path]:
    return [*(REPO / "tools").rglob("*.py"), REPO / "bench.py",
            REPO / "__spark_entry__.py",
            *(REPO / "eventlog_bench").glob("*.py")]


def _package_files() -> list[Path]:
    return sorted((REPO / PKG).rglob("*.py"))


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


def _names(node: ast.AST) -> set[str]:
    """Every name a subtree mentions: variables, attributes and the names
    it imports with ``from … import``."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_all(stmt: ast.stmt) -> bool:
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AugAssign, ast.AnnAssign)):
        targets = [stmt.target]
    else:
        return False
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _unreached_definitions() -> list[str]:
    """Qualified names of the top-level package definitions that no root,
    decorator, module-level statement or live definition reaches."""
    defs: dict[str, ast.stmt] = {}
    seeds: set[str] = set()
    names: set[str] = set()
    for path in _package_files():
        module = _module_name(path)
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, _DEFS):
                qualified = f"{module}.{stmt.name}"
                defs[qualified] = stmt
                if (stmt.decorator_list or module in ALLOWED
                        or qualified in ALLOWED_DEFS):
                    seeds.add(qualified)
            elif not isinstance(stmt, _IMPORTS) and not _is_all(stmt):
                names |= _names(stmt)
    for path in _roots():
        names |= _names(ast.parse(path.read_text(), str(path)))

    live: set[str] = set()
    frontier = seeds | {q for q in defs if q.rpartition(".")[2] in names}
    while frontier:
        live |= frontier
        names = set().union(*(_names(defs[q]) for q in frontier))
        frontier = {q for q in defs
                    if q not in live and q.rpartition(".")[2] in names}
    return sorted(set(defs) - live)


def test_every_package_module_is_imported_outside_tests():
    sources = [*_package_files(), *_roots()]
    imported = set().union(*(_imported(p) for p in sources))
    modules = {_module_name(p) for p in _package_files()
               if p.name != "__init__.py"}
    unreached = sorted(modules - imported - ALLOWED)
    assert not unreached, f"imported only by tests (or not at all): {unreached}"


def test_every_package_definition_is_reached_outside_tests():
    unreached = _unreached_definitions()
    assert not unreached, (
        f"{len(unreached)} top-level definitions reached only by tests "
        f"(or not at all): {unreached}")
