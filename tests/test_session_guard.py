"""Static guard: ``session.py`` is the only package module that writes
session conf, and no query plan registers a fixed-name temp view (two
builds on one session would share it, and it outlives the build)."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mqtt_message_pump_spark",
)


def _calls():
    for dirpath, _, names in os.walk(PKG):
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                rel = os.path.relpath(path, PKG)
                for node in ast.walk(tree):
                    if isinstance(node, ast.Call) and isinstance(
                        node.func, ast.Attribute
                    ):
                        yield rel, node


def _is_conf(node) -> bool:
    """``x.conf`` or ``x.conf()``"""
    if isinstance(node, ast.Call):
        node = node.func
    return isinstance(node, ast.Attribute) and node.attr == "conf"


def test_only_session_module_writes_conf():
    bad = [
        f"{rel}:{node.lineno}"
        for rel, node in _calls()
        if node.func.attr in ("set", "unset")
        and _is_conf(node.func.value)
        and rel != "session.py"
    ]
    assert not bad, f"session conf written outside session.py: {bad}"


def test_plans_register_no_fixed_name_temp_view():
    bad = [
        f"{rel}:{node.lineno}"
        for rel, node in _calls()
        if rel.startswith("plans" + os.sep)
        and node.func.attr == "createOrReplaceTempView"
        and node.args
        and isinstance(node.args[0], ast.Constant)
    ]
    assert not bad, f"fixed-name temp view in a query plan: {bad}"
