"""The package reads exactly one ``XRDSPARK_*`` environment variable.

``XRDSPARK_TABLE_FORMAT`` is a deployment setting (tables.py). Any other
``XRDSPARK_*`` name in the package source is an environment switch that
selects a second route through the code; such switches are not allowed
to come back. The check is static: it parses every module and flags each
string literal that is exactly an ``XRDSPARK_*`` name (a direct
``os.environ`` key or a constant later used as one), and each f-string
that builds such a name.
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "xrddatapipeline_spark"
ALLOWED = {"XRDSPARK_TABLE_FORMAT"}
NAME = re.compile(r"XRDSPARK_[A-Z0-9_]+")
PREFIX = re.compile(r"XRDSPARK_[A-Z0-9_]*")  # literal head of an f-string


def env_switch_names(source: str) -> list[tuple[int, str]]:
    """(line, name) of every XRDSPARK_* name literal outside ``ALLOWED``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if NAME.fullmatch(node.value) and node.value not in ALLOWED:
                found.append((node.lineno, node.value))
        elif isinstance(node, ast.JoinedStr) and node.values:
            head = node.values[0]
            if (
                isinstance(head, ast.Constant)
                and isinstance(head.value, str)
                and PREFIX.fullmatch(head.value)
            ):
                found.append((node.lineno, head.value + "{...}"))
    return found


def test_detector_flags_env_reads():
    src = (
        'import os\n'
        'A = os.environ.get("XRDSPARK_SOME_SWITCH", "1")\n'
        'B = os.environ["XRDSPARK_OTHER"]\n'
        'C = os.getenv(f"XRDSPARK_{name}")\n'
        'D = os.environ.get("XRDSPARK_TABLE_FORMAT")\n'
        '"""XRDSPARK_IN_PROSE=1 is documentation, not a key."""\n'
    )
    assert [n for _, n in env_switch_names(src)] == [
        "XRDSPARK_SOME_SWITCH", "XRDSPARK_OTHER", "XRDSPARK_{...}",
    ]


def test_package_reads_no_xrdspark_switch_but_table_format():
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}: {name}"
        for path in sorted(PKG.rglob("*.py"))
        for line, name in env_switch_names(path.read_text())
    ]
    assert not offenders, "\n".join(offenders)
