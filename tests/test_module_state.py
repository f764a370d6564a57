"""Lint: no module-global diagnostics.

Run-time facts (loop rounds, which path ran, counters) leave a function
through its return value or a profile, never through a module-level dict
or list that code mutates after import: such a global is shared by every
caller on the driver, is overwritten by the next call, and is invisible
to anything but a test that knows its name. ``REGISTRY`` is the one
allowed case — the ``@register`` decorator fills it once per query
definition at import.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cupertino_nvr_spark"
ALLOWED = {"REGISTRY"}
_MUTABLE_CALLS = {"dict", "list", "defaultdict", "OrderedDict", "Counter"}
_MUTATORS = {
    "append", "extend", "insert", "pop", "popitem", "remove", "clear",
    "update", "setdefault", "sort", "reverse",
}


def _is_mutable(value: ast.expr | None) -> bool:
    if isinstance(value, (ast.Dict, ast.List, ast.DictComp, ast.ListComp)):
        return True
    return isinstance(value, ast.Call) and (
        getattr(value.func, "id", None) in _MUTABLE_CALLS
        or getattr(value.func, "attr", None) in _MUTABLE_CALLS
    )


def _module_mutables(tree: ast.Module) -> set[str]:
    names = set()
    for st in tree.body:
        if isinstance(st, ast.Assign) and _is_mutable(st.value):
            names |= {t.id for t in st.targets if isinstance(t, ast.Name)}
        elif (
            isinstance(st, ast.AnnAssign)
            and isinstance(st.target, ast.Name)
            and _is_mutable(st.value)
        ):
            names.add(st.target.id)
    return names


def _ref_name(node: ast.expr) -> str | None:
    """``NAME`` or ``module.NAME`` -> NAME."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _written(node: ast.AST) -> str | None:
    """The container a statement/call inside a function writes to."""
    if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign, ast.Delete)):
        targets = (
            node.targets if isinstance(node, (ast.Assign, ast.Delete))
            else [node.target]
        )
        for t in targets:
            if isinstance(t, ast.Subscript):
                return _ref_name(t.value)
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr in _MUTATORS:
            return _ref_name(node.func.value)
    return None


def _run_time_writes(trees: dict[Path, ast.Module], names: set[str]):
    for path, tree in trees.items():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            for node in ast.walk(fn):
                name = _written(node)
                if name in names:
                    yield f"{path.relative_to(PKG.parent)}:{node.lineno} writes {name}"


def test_no_module_global_state_written_at_run_time():
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    globals_ = set().union(*(_module_mutables(t) for t in trees.values()))
    assert "REGISTRY" in globals_, "lint no longer sees module-level containers"
    offenders = sorted(set(_run_time_writes(trees, globals_ - ALLOWED)))
    assert not offenders, "module-global mutable state written at run time:\n" + (
        "\n".join(offenders)
    )
