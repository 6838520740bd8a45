"""Every top-level function or class in the package is reached from the
product: a registry query, the CLI, a tool or the benchmark. A test is
not a caller.

Roots of the walk:

- every ``@register`` registry query;
- module-level statements of package modules (``__main__.py`` calls
  the CLI, dispatch tables, constants); imports count only in an
  ``__init__.py``, where they declare the package surface;
- all of ``tools/``, ``perfbench/`` (its own tests excepted),
  ``bench.py`` and ``__spark_entry__.py``.

A name used by reached code reaches every top-level package definition
of that name, and their bodies are walked in turn. The walk is by name,
not by import resolution, so it over-approximates. A definition the
walk never reaches fails the check unless it lives in an
``*_oracle.py`` module: those hold the references and fixture encoders
that tests compare product code with. Pure ``ast``: nothing is
imported."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "clinvar_pipeline_spark"
CALLER_DIRS = (ROOT / "tools", ROOT / "perfbench")
CALLER_FILES = (ROOT / "bench.py", ROOT / "__spark_entry__.py")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
IMPORTS = (ast.Import, ast.ImportFrom)


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _is_query(top: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in top.decorator_list
    )


def unreached_definitions() -> list[str]:
    callers = [
        p
        for d in CALLER_DIRS
        for p in sorted(d.rglob("*.py"))
        if "tests" not in p.relative_to(d).parts
    ]
    roots: set[str] = set()
    for path in [*callers, *CALLER_FILES]:
        roots.update(_names(ast.parse(path.read_text(), str(path))))

    bodies: dict[str, list[ast.AST]] = {}
    candidates: dict[tuple[Path, str], int] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for top in ast.parse(path.read_text(), str(path)).body:
            if isinstance(top, DEFS):
                bodies.setdefault(top.name, []).append(top)
                if _is_query(top):
                    roots.update(_names(top))
                elif not path.name.endswith("_oracle.py"):
                    candidates[(path, top.name)] = top.lineno
            elif path.name == "__init__.py" or not isinstance(top, IMPORTS):
                roots.update(_names(top))

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for top in bodies.get(name, ()):
                todo.extend(_names(top))
    return sorted(
        f"{p.relative_to(ROOT)}:{line} {n}"
        for (p, n), line in candidates.items()
        if n not in reached
    )


def test_every_package_helper_has_a_caller():
    unreached = unreached_definitions()
    assert not unreached, (
        "reached only from tests (delete it, or move a test reference "
        "into an *_oracle.py module):\n" + "\n".join(unreached)
    )
