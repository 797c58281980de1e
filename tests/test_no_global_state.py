"""The engine keeps no module-global mutable state: a `global`
statement in a package module is how per-call diagnostics leaked into
process-wide variables that concurrent queries in one session would
overwrite.  Facts about a run belong in its plan or in Spark's status
stores."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "big_data_fknn_spark"


def test_engine_has_no_global_statement():
    paths = sorted(PKG.rglob("*.py"))
    assert paths, PKG
    found = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}: global {', '.join(node.names)}"
        for path in paths
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Global)
    ]
    assert not found, "\n".join(found)
