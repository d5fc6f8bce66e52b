"""Every engine module is reachable from a program root.

The roots are the surfaces a caller outside the test suite runs: the
driver contract (``__spark_entry__.py``), the bench CLI (``bench.py``) and
the benchmark (``perfbench/*.py``, not its tests). The check walks the
static import closure (every ``import`` statement, including ones inside
functions) without importing anything, so it needs no Spark. A module that
only its own test imports fails it.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "eth_indexer_spark"


def _module_file(name: str) -> str | None:
    """Path of the repo-local module or package ``name``, else None."""
    base = os.path.join(REPO, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    # perfbench's modules import each other by bare name from their own dir.
    path = os.path.join(REPO, "perfbench", name + ".py")
    return path if "." not in name and os.path.isfile(path) else None


def _imported_names(path: str) -> set[str]:
    """Dotted module names ``path`` may import, with every parent package
    (importing ``a.b.c`` runs ``a`` and ``a.b`` too)."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, f"{path}: the scan resolves absolute imports only"
            base = node.module
            names.add(base)
            # ``from pkg import sub`` imports a submodule when one exists.
            names.update(f"{base}.{alias.name}" for alias in node.names)
    out: set[str] = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def reachable_files() -> set[str]:
    roots = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    roots += sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            target = _module_file(name)
            if target is not None and target not in seen:
                todo.append(target)
    return seen


def test_every_engine_module_is_reached_from_a_program_root():
    reached = reachable_files()
    engine = glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
    unreached = sorted(
        os.path.relpath(p, REPO) for p in engine if os.path.abspath(p) not in reached
    )
    assert unreached == [], (
        f"engine modules no program root imports (only tests reach them): {unreached}"
    )
