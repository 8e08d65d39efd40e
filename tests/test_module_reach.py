"""Structural guards on the package's module graph.

* Every package module must be reachable from the public entry points
  (the package ``__init__``, ``registry`` and ``database``) by a static
  import walk, so code that nothing registered, benchmarked or exported
  uses cannot pile up unnoticed. The walk follows ``import`` statements
  anywhere in a module (function-local ones included) and dotted
  ``iot_database_spark.*`` string literals, which is how
  ``registry._ensure_loaded`` names the query modules.
* The registry fails loudly: a query module that cannot be imported
  raises instead of silently dropping its whole query family.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest

PKG = "iot_database_spark"
PKG_DIR = Path(__file__).resolve().parent.parent / PKG
ROOTS = (PKG, f"{PKG}.registry", f"{PKG}.database")

# Reference-faithful APIs that stand alone: nothing in the engine calls
# them, callers import them directly.
STANDALONE = {
    f"{PKG}.files": "the reference's versioned FileManager store",
    f"{PKG}.users": "the reference's users/permissions tables",
    f"{PKG}.functions.sql_functions": "the reference's IotValue "
    "accessors, registered as Spark SQL functions for spark.sql callers",
    f"{PKG}.operators.framestore": "the reference's RTSP full/delta "
    "frame-store codec",
}


def _modules() -> dict[str, Path]:
    out = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = path.relative_to(PKG_DIR.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imports(path: Path, known: dict[str, Path]) -> set[str]:
    """Package modules a module imports, by statement or by string (the
    package uses absolute imports only)."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            found.add(node.module)
            found.update(f"{node.module}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.startswith(f"{PKG}."):
                found.add(node.value)
    # importing a.b.c runs a/__init__ and a/b/__init__ too
    closed = set()
    for mod in found:
        parts = mod.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return closed & known.keys()


def test_every_module_is_reached_from_the_entry_points():
    known = _modules()
    seen, todo = set(), list(ROOTS)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports(known[mod], known) - seen)
    unreached = sorted(known.keys() - seen - STANDALONE.keys())
    assert not unreached, (
        f"modules no entry point imports: {unreached} — delete them, or "
        "list a reference-faithful standalone API in STANDALONE"
    )
    # the allow-list names live modules that really are standalone
    assert STANDALONE.keys() <= known.keys()
    assert not STANDALONE.keys() & seen


def test_registry_raises_on_missing_query_module(monkeypatch):
    from iot_database_spark import registry

    monkeypatch.setattr(registry, "_LOADED", False)
    monkeypatch.setitem(
        sys.modules, f"{PKG}.operators.search_queries", None
    )
    with pytest.raises(ModuleNotFoundError):
        registry.queries()
