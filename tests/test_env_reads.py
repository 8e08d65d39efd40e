"""Structural guard on the package's environment reads.

The engine decides its own tuning (materialization strategy, stream
state backend, broadcast gates, cache sizes) from what it measures: the
Spark master, source bytes, fixed constants. The environment carries
only the deployment settings below, each with the reason it cannot be
derived, so an override knob cannot creep back unnoticed.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG_DIR = Path(__file__).resolve().parent.parent / "iot_database_spark"

ALLOWED = {
    "SPARK_GRAFT_CPUS": "cores the process may use, which a container's "
    "quota can hold below os.cpu_count()",
    "SPARK_GRAFT_DRIVER_MEM": "driver heap, when the host is shared and "
    "half of MemTotal is too much",
    "SPARK_GRAFT_SF_DIR": "where the deployment keeps the input tables",
    "SPARK_GRAFT_DECON_EVAL_PATH": "where the deployment keeps its "
    "held-out eval set",
}


def _is_os(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def env_reads(source: str) -> list[str | None]:
    """Names of the environment variables `source` reads, with None for
    each touch of os.environ/os.getenv whose name is not a string
    literal (a computed name, or the mapping handed on whole)."""
    keys, touches = [], 0
    for node in ast.walk(ast.parse(source)):
        touches += _is_os(node, "environ") or _is_os(node, "getenv")
        if isinstance(node, ast.Call) and node.args and (
            _is_os(node.func, "getenv")
            or isinstance(node.func, ast.Attribute)
            and _is_os(node.func.value, "environ")
        ):
            keys.append(node.args[0])
        elif isinstance(node, ast.Subscript) and _is_os(node.value, "environ"):
            keys.append(node.slice)
    names = [
        k.value for k in keys if isinstance(k, ast.Constant) and isinstance(k.value, str)
    ]
    return names + [None] * (touches - len(names))


def test_env_reads_detector():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.getenv('B', '1')\n"
        "c = os.environ['C']\n"
        "e = os.environ.get(name)\n"
        "f = dict(os.environ)\n"
    )
    assert sorted(env_reads(src), key=str) == ["A", "B", "C", None, None]


def test_package_reads_only_deployment_settings():
    found: dict[str | None, list[str]] = {}
    for path in sorted(PKG_DIR.rglob("*.py")):
        for name in env_reads(path.read_text()):
            found.setdefault(name, []).append(str(path.relative_to(PKG_DIR)))
    extra = {n: where for n, where in found.items() if n not in ALLOWED}
    assert not extra, f"environment reads outside the allowed settings: {extra}"
    # and the list stays current: every allowed setting is still read
    assert set(found) == set(ALLOWED)
