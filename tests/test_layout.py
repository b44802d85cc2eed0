"""Package layout rules, checked from the source alone (no Spark).

A leading underscore marks a name as its module's own. A second
``sqlengine_spark`` module that imports it depends on internals that
were never offered, so shared code is made public where it lives
(``session.scratch``, ``functions.round12``). Tests are exempt: they
may reach into private names.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "sqlengine_spark"


def private_imports(pkg: Path = PKG) -> list[str]:
    """Every ``from <package module> import _name`` under ``pkg``, as
    ``file:line module._name``."""
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom):
                continue
            internal = node.level > 0 or (node.module or "").split(".")[0] == pkg.name
            for alias in node.names if internal else ():
                name = alias.name
                if name.startswith("_") and not name.endswith("__"):
                    rel = path.relative_to(pkg.parent)
                    found.append(f"{rel}:{node.lineno} {node.module}.{name}")
    return found


def test_no_private_import_across_modules():
    found = private_imports()
    assert not found, "private imports:\n" + "\n".join(found)


def test_operator_modules_named_by_concern():
    """Operator modules are named by what they hold, not by the round
    or batch that added them."""
    names = [p.stem for p in (PKG / "operators").glob("tier_*.py")]
    bad = [n for n in names if any(w in n for w in ("round", "extra", "surfaces"))]
    assert names and not bad, bad


def module_uses(module: str, pkg: Path = PKG) -> list[tuple[str, str, bool]]:
    """Every import of the standard module ``module`` under ``pkg`` and
    every reference to a name ``import module`` bound, as ``(file:line,
    enclosing Class.function, is_import)``."""
    found = []

    def visit(node, scope, bound, rel):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, scope + [child.name], bound, rel)
                continue
            where = (f"{rel}:{getattr(child, 'lineno', 0)}", ".".join(scope))
            if isinstance(child, ast.Import):
                if any(a.name == module for a in child.names):
                    found.append((*where, True))
            elif isinstance(child, ast.ImportFrom) and child.module == module:
                found.append((*where, True))
            elif isinstance(child, ast.Name) and child.id in bound:
                found.append((*where, False))
            visit(child, scope, bound, rel)

    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        bound = {
            a.asname or a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.Import)
            for a in n.names
            if a.name == module
        }
        visit(tree, [], bound, str(path.relative_to(pkg.parent)))
    return found


def test_only_session_imports_atexit():
    """Files an operator stages are removed by session.py's one exit
    hook (``staged``), and per-call stores are emptied by the next call
    (``scratch``); no other module registers its own cleanup."""
    bad = [
        where
        for where, _, _ in module_uses("atexit")
        if not where.startswith("sqlengine_spark/session.py:")
    ]
    assert not bad, bad


def test_temp_dirs_only_in_session_and_stream_harness():
    """Every file an operator writes lives under ``session.SCRATCH``.
    The one exception is FiniteStream's own source and checkpoint dir,
    which must be fresh, local and single-writer (CLAUDE.md pin 11b)."""
    harness = "sqlengine_spark/operators/tier_j_streaming.py:"
    bad = [
        f"{where} {scope}"
        for where, scope, is_import in module_uses("tempfile")
        if not where.startswith("sqlengine_spark/session.py:")
        and not (
            where.startswith(harness)
            and (is_import or scope == "FiniteStream.__enter__")
        )
    ]
    assert not bad, bad


def test_no_persist_or_cache_call():
    """CLAUDE.md pin 11a: a persisted frame dedups by logical plan
    across calls, so a rerun would skip its scan. Comments and
    docstrings that name the calls are not calls."""
    bad = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache")
    ]
    assert not bad, bad


def test_only_finite_stream_drives_streams():
    """CLAUDE.md pin 11b: every finite stream, in the package and in the
    tests, runs through ``tier_j_streaming.FiniteStream``, so nothing
    outside that class touches ``writeStream`` or drains a query with
    ``processAllAvailable()`` or ``awaitTermination()``."""
    harness = "sqlengine_spark/operators/tier_j_streaming.py"
    banned = ("writeStream", "processAllAvailable", "awaitTermination")
    bad = []

    def visit(node, rel):
        for child in ast.iter_child_nodes(node):
            if (
                rel == harness
                and isinstance(child, ast.ClassDef)
                and child.name == "FiniteStream"
            ):
                continue
            if isinstance(child, ast.Attribute) and child.attr in banned:
                bad.append(f"{rel}:{child.lineno} {child.attr}")
            visit(child, rel)

    tests = Path(__file__).resolve().parent
    for root in (PKG, tests):
        for path in sorted(root.rglob("*.py")):
            visit(ast.parse(path.read_text()), str(path.relative_to(root.parent)))
    assert not bad, bad
