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
