"""Dead-definition guard: every top-level definition in the package must
be reached from somewhere other than its own body.

A definition counts as reached when its name appears as an ``ast.Name``,
an ``ast.Attribute`` or an imported name in another top-level statement
of the package, or anywhere in ``tests/``, ``bench.py``,
``__spark_entry__.py`` or ``perfbench/``. Docstrings and comments are not
references. ``@register``-decorated query functions are reached through
the registry and dunder names through Python itself, so both are exempt.

The class this pins: a second implementation left beside the one every
caller runs (the word-row clip pipeline that sat next to the fused
array path), which keeps getting its docs and comments maintained while
nothing executes it."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent
_PKG = _ROOT / "asr_training_data_pipeline_spark"
_CALLERS = [
    *sorted((_ROOT / "tests").rglob("*.py")),
    *sorted((_ROOT / "perfbench").rglob("*.py")),
    _ROOT / "bench.py",
    _ROOT / "__spark_entry__.py",
]


def _names_used(node: ast.AST) -> set[str]:
    used: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
    return used


def _is_registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        target = d.func if isinstance(d, ast.Call) else d
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", None)
        if name == "register":
            return True
    return False


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [] if _is_registered(stmt) else [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def test_every_package_definition_is_referenced():
    # (file, top-level statement index) of every definition, and every
    # place each name is used, keyed the same way.
    defs: list[tuple[str, str, int]] = []
    uses: dict[str, set[tuple[str, int]]] = defaultdict(set)
    for f in sorted(_PKG.rglob("*.py")):
        rel = f.relative_to(_ROOT).as_posix()
        for i, stmt in enumerate(ast.parse(f.read_text()).body):
            for name in _defined_names(stmt):
                if not (name.startswith("__") and name.endswith("__")):
                    defs.append((name, rel, i))
            for name in _names_used(stmt):
                uses[name].add((rel, i))
    for f in _CALLERS:
        rel = f.relative_to(_ROOT).as_posix()
        for name in _names_used(ast.parse(f.read_text())):
            uses[name].add((rel, -1))

    dead = sorted(
        f"{rel}:{name}" for name, rel, i in defs if not (uses[name] - {(rel, i)})
    )
    assert not dead, f"top-level definitions nothing references: {dead}"
