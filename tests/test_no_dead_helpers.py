"""Every undecorated top-level function or class in the package has a
caller: a reference from the package, the tests, the tools, the
benchmark or bench.py, outside its own definition.

A helper reached only from other unreferenced helpers counts as
unreferenced too, so deleting a function surfaces the helpers that only
it used. Registry queries carry ``@register`` and are exempt. Pure
``ast``: nothing is imported."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "clinvar_pipeline_spark"
CALLER_DIRS = (PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def unreferenced_definitions() -> list[str]:
    files = [p for d in CALLER_DIRS for p in sorted(d.rglob("*.py"))]
    files.append(ROOT / "bench.py")
    candidates: dict[tuple[Path, str], int] = {}
    refs: list[tuple[tuple[Path, str] | None, str]] = []  # (enclosing def, name)
    for path in files:
        for top in ast.parse(path.read_text(), str(path)).body:
            owner = (path, top.name) if isinstance(top, DEFS) else None
            if owner and PACKAGE in path.parents and not top.decorator_list:
                candidates[owner] = top.lineno
            refs.extend((owner, name) for name in _names(top))
    dead: set[tuple[Path, str]] = set()
    while True:
        users: dict[str, set] = {}
        for owner, name in refs:
            if owner not in dead:
                users.setdefault(name, set()).add(owner)
        now = {d for d in candidates if not users.get(d[1], set()) - {d}}
        if now == dead:
            return sorted(
                f"{p.relative_to(ROOT)}:{candidates[(p, n)]} {n}" for p, n in dead
            )
        dead = now


def test_every_package_helper_has_a_caller():
    dead = unreferenced_definitions()
    assert not dead, "referenced only at their own definition:\n" + "\n".join(dead)
