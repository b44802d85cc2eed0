"""Package layout rules, checked from the source alone (no Spark).

A leading underscore marks a name as its module's own. A second
``sqlengine_spark`` module that imports it depends on internals that
were never offered, so shared code is made public where it lives
(``session.scratch``, ``functions.round12``). Tests are exempt: they
may reach into private names.
"""

from __future__ import annotations

import ast
import hashlib
import io
import itertools
import tokenize
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


#: Tokens in one window of the duplicated-block scan, and the number of
#: shared windows at which two functions count as holding one block twice.
WINDOW_TOKENS = 40
MAX_SHARED_WINDOWS = 50

_FUNCTIONS = (ast.FunctionDef, ast.AsyncFunctionDef)

_LAYOUT_TOKENS = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _functions(tree: ast.AST) -> list[tuple[int, int, str]]:
    """Every function in ``tree`` as ``(first line, last line,
    Class.function name)``."""
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.ClassDef, *_FUNCTIONS)):
                name = scope + [child.name]
                if isinstance(child, _FUNCTIONS):
                    found.append((child.lineno, child.end_lineno, ".".join(name)))
                visit(child, name)
            else:
                visit(child, scope)

    visit(tree, [])
    return found


def function_windows(path: Path) -> dict[str, set[bytes]]:
    """The hashed ``WINDOW_TOKENS``-token windows of each function in
    ``path``, keyed by the function's name. Comments, layout tokens
    and strings over 60 characters (docstrings, oracle SQL) are
    dropped first, and each window belongs to the innermost function
    that holds all of it."""
    src = path.read_text()
    funcs = _functions(ast.parse(src))
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in _LAYOUT_TOKENS
        and not (t.type == tokenize.STRING and len(t.string) > 60)
    ]
    windows: dict[str, set[bytes]] = {}
    for i in range(len(toks) - WINDOW_TOKENS + 1):
        first, last = toks[i].start[0], toks[i + WINDOW_TOKENS - 1].end[0]
        owners = [f for f in funcs if f[0] <= first and last <= f[1]]
        if owners:
            text = "\0".join(t.string for t in toks[i : i + WINDOW_TOKENS])
            name = max(owners)[2]
            windows.setdefault(name, set()).add(hashlib.sha1(text.encode()).digest())
    return windows


def duplicated_blocks(pkg: Path = PKG) -> dict[tuple[str, str], int]:
    """Every pair of different functions under ``pkg`` that shares at
    least ``MAX_SHARED_WINDOWS`` token windows, with the count, as
    ``{(file::function, file::function): shared}``."""
    owners: dict[bytes, set[str]] = {}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg.parent)
        for name, hashes in function_windows(path).items():
            for h in hashes:
                owners.setdefault(h, set()).add(f"{rel}::{name}")
    shared: dict[tuple[str, str], int] = {}
    for names in owners.values():
        for pair in itertools.combinations(sorted(names), 2):
            shared[pair] = shared.get(pair, 0) + 1
    return {p: n for p, n in shared.items() if n >= MAX_SHARED_WINDOWS}


def test_no_duplicated_operator_blocks():
    """A building block is written once and called: no two functions in
    the package share ``MAX_SHARED_WINDOWS`` or more
    ``WINDOW_TOKENS``-token windows of code. When this fails, move the
    shared code into a helper that takes only what its callers pass
    differently."""
    found = duplicated_blocks()
    assert not found, "\n".join(f"{n} {a} {b}" for (a, b), n in found.items())


def arrow_udfs_without_annotations(pkg: Path = PKG) -> list[str]:
    """Build-notes pin 10: ``arrow_udf`` dispatches on real annotations,
    and ``from __future__ import annotations`` turns them into strings.
    In such a module, every function passed to ``arrow_udf(...)`` needs
    a ``<fn>.__annotations__ = ...`` assignment in the same scope. A
    function decorated with ``@arrow_udf`` is always reported there:
    the decorator reads its annotations before any assignment runs."""
    found = []

    def is_arrow_udf(node) -> bool:
        if isinstance(node, ast.Call):
            node = node.func
        return (isinstance(node, ast.Name) and node.id == "arrow_udf") or (
            isinstance(node, ast.Attribute) and node.attr == "arrow_udf"
        )

    def scope_nodes(scope):
        """The nodes of ``scope`` outside its nested functions."""
        for child in ast.iter_child_nodes(scope):
            yield child
            if not isinstance(child, (*_FUNCTIONS, ast.Lambda)):
                yield from scope_nodes(child)

    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        if not any(
            isinstance(n, ast.ImportFrom)
            and n.module == "__future__"
            and any(a.name == "annotations" for a in n.names)
            for n in tree.body
        ):
            continue
        rel = path.relative_to(pkg.parent)
        scopes = [tree] + [n for n in ast.walk(tree) if isinstance(n, _FUNCTIONS)]
        for scope in scopes:
            nodes = list(scope_nodes(scope))
            annotated = {
                t.value.id
                for n in nodes
                if isinstance(n, ast.Assign)
                for t in n.targets
                if isinstance(t, ast.Attribute)
                and t.attr == "__annotations__"
                and isinstance(t.value, ast.Name)
            }
            for n in nodes:
                if isinstance(n, _FUNCTIONS) and any(
                    is_arrow_udf(d) for d in n.decorator_list
                ):
                    found.append(f"{rel}:{n.lineno} @arrow_udf {n.name}")
                elif (
                    isinstance(n, ast.Call)
                    and is_arrow_udf(n.func)
                    and n.args
                    and isinstance(n.args[0], ast.Name)
                    and n.args[0].id not in annotated
                ):
                    found.append(f"{rel}:{n.lineno} arrow_udf({n.args[0].id})")
    return found


def test_arrow_udf_functions_carry_real_annotations():
    found = arrow_udfs_without_annotations()
    assert not found, found


def duplicated_oracles(pkg: Path = PKG) -> list[list[str]]:
    """Every group of two or more ``oracle=`` string or f-string
    literals in ``@query(...)`` calls under ``pkg`` that are equal once
    whitespace runs are collapsed, each as ``file:line qid`` entries."""
    groups: dict[str, list[str]] = {}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg.parent)
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "query"
            ):
                continue
            for kw in node.keywords:
                lit = kw.value
                literal = isinstance(lit, (ast.Constant, ast.JoinedStr))
                if kw.arg != "oracle" or not literal:
                    continue
                text = lit.value if isinstance(lit, ast.Constant) else ast.unparse(lit)
                qid = ast.unparse(node.args[0]) if node.args else "?"
                groups.setdefault(" ".join(str(text).split()), []).append(
                    f"{rel}:{lit.lineno} {qid}"
                )
    return [g for g in groups.values() if len(g) > 1]


def test_oracle_sql_declared_once():
    """Operators that share one answer (a batch operator and its stream
    twin, two strategies for one contract) share one oracle constant:
    no two ``@query`` oracle literals are equal up to whitespace."""
    found = duplicated_oracles()
    assert not found, "\n".join(", ".join(g) for g in found)
