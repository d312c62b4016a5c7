"""Guard that keeps `plans/` free of query pairs nothing runs.

Every `q_*` query and `SQL_*` oracle under plans/ must be reachable from a
`REGISTRY*` dict, the only thing tools/check_oracle.py and the tests run.
A pair that no registry entry reaches is dead code that reads as oracle
evidence no check produces. Parses the sources only; needs no Spark.
"""

from __future__ import annotations

import ast
import pathlib

PLANS = pathlib.Path(__file__).resolve().parent.parent / "opentelemetry_collector_contrib_spark" / "plans"

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _targets(node: ast.stmt) -> list[ast.expr]:
    if isinstance(node, ast.Assign):
        return node.targets
    if isinstance(node, ast.AnnAssign):
        return [node.target]
    return []


def _is_registry(target: ast.expr) -> bool:
    # `REGISTRY_X = {...}`, `REGISTRY_X: dict = {...}` or `REGISTRY_X["k"] = (...)`
    if isinstance(target, ast.Subscript):
        target = target.value
    return isinstance(target, ast.Name) and target.id.startswith("REGISTRY")


def _loads(node: ast.AST) -> set[str]:
    names = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
    return names


def unreached_queries(plans_dir: pathlib.Path = PLANS) -> list[str]:
    """Top-level q_*/SQL_* names under plans_dir that no REGISTRY* entry
    reaches, directly or through the helpers and constants it uses."""
    bodies: dict[str, list[ast.AST]] = {}
    where: dict[str, str] = {}
    roots: set[str] = set()
    for path in sorted(plans_dir.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEFS):
                names = [node.name]
            else:
                targets = _targets(node)
                if any(_is_registry(t) for t in targets):
                    roots |= _loads(node.value)
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            for name in names:
                bodies.setdefault(name, []).append(node)
                if name.startswith(("q_", "SQL_")):
                    where[name] = path.name
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in bodies.get(name, []):
            todo.extend(_loads(node) - reached)
    return sorted(f"{where[n]}:{n}" for n in where if n not in reached)


def test_no_orphaned_queries_in_plans():
    assert (PLANS / "queries.py").exists()
    orphans = unreached_queries()
    assert not orphans, f"q_/SQL_ names under plans/ that no REGISTRY entry reaches: {orphans}"


def test_guard_sees_registry_values(tmp_path):
    """The guard itself: an annotated orphan, an orphan used only by another
    orphan, and a pair reached only through a helper are told apart."""
    (tmp_path / "queries.py").write_text(
        "def q_kept(spark, d):\n    return _helper()\n\n"
        "def _helper():\n    return SQL_INNER\n\n"
        "SQL_INNER = 'SELECT 1'\n"
        "SQL_KEPT: str = 'SELECT 2'\n"
        "SQL_ORPHAN: str = 'SELECT 3'\n\n"
        "def q_orphan(spark, d):\n    return q_orphan_callee(spark, d)\n\n"
        "def q_orphan_callee(spark, d):\n    return SQL_ORPHAN\n\n"
        "REGISTRY: dict = {'kept': (q_kept, SQL_KEPT)}\n"
    )
    assert unreached_queries(tmp_path) == [
        "queries.py:SQL_ORPHAN",
        "queries.py:q_orphan",
        "queries.py:q_orphan_callee",
    ]
