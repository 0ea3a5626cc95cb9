"""The package holds no module-global mutable state: no function
rebinds a module-level name with a ``global`` statement."""

from __future__ import annotations

import ast
import pathlib

import simdgraphprocessing_spark

PACKAGE = pathlib.Path(simdgraphprocessing_spark.__file__).parent


def test_package_has_no_global_statements():
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}: global {', '.join(node.names)}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Global)
    ]
    assert found == []
