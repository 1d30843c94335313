"""The package reads only deployment settings from the environment.

Behaviour switches belong in code or in ``EngineConfig``, never in an
environment variable read at import or session start: a knob that only
an A/B harness sets outlives its measurement and forks the plan the
tests pin. This test parses every package module and fails on any
``os.environ``/``os.getenv`` read of a name outside the allowlist.
"""

from __future__ import annotations

import ast
from pathlib import Path

import debezium_connector_ibmi_spark

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_MASTER",
    "SPARK_SUBMIT_DEPLOY_MODE",
    "PYTHONPATH",
}


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_names(tree: ast.AST) -> list[str]:
    """Names read via ``os.environ[...]``, ``os.environ.get/setdefault``,
    ``... in os.environ`` and ``os.getenv``; a non-literal name is
    reported as ``<dynamic>``."""

    def lit(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<dynamic>"

    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            names.append(lit(node.slice))
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (
                (_is_environ(f.value) and f.attr in ("get", "setdefault", "pop"))
                or (
                    f.attr == "getenv"
                    and isinstance(f.value, ast.Name)
                    and f.value.id == "os"
                )
            ):
                names.append(lit(node.args[0]) if node.args else "<dynamic>")
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            names.append(lit(node.left))
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            names += [
                f"<from os import {a.name}>"
                for a in node.names
                if a.name in ("environ", "getenv")
            ]
    return names


def test_env_reads_are_deployment_settings_only():
    root = Path(debezium_connector_ibmi_spark.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        for name in _env_names(ast.parse(path.read_text(), str(path))):
            found.setdefault(name, []).append(str(path.relative_to(root)))
    assert found, "parser found no environment reads at all"
    extra = {n: p for n, p in found.items() if n not in ALLOWED}
    assert not extra, f"environment reads outside the allowlist: {extra}"


def test_env_parser_sees_every_read_form():
    src = (
        "import os\n"
        "a = os.environ['A']\n"
        "b = os.environ.get('B', '1')\n"
        "c = os.getenv('C')\n"
        "d = 'D' in os.environ\n"
        "e = os.environ.get(name)\n"
    )
    assert sorted(_env_names(ast.parse(src))) == sorted(
        ["A", "B", "C", "D", "<dynamic>"]
    )
