"""Static checks on the test suite itself (no Spark).

A module-level ``def test_x`` defined twice in one file silently shadows the
earlier copy: pytest collects only the last binding, so the first never runs.
No linter with F811 ships with this project, so this test parses every test
module and fails on any such redefinition.
"""

from __future__ import annotations

import ast
import collections
import pathlib

TESTS_DIR = pathlib.Path(__file__).resolve().parent
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def test_no_test_name_defined_twice_in_a_module():
    shadowed = []
    for path in sorted(TESTS_DIR.glob("test_*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        lines = collections.defaultdict(list)
        for node in tree.body:
            if isinstance(node, DEFS) and node.name.startswith(("test_", "Test")):
                lines[node.name].append(node.lineno)
        shadowed += [f"{path.name}::{n} at lines {ls}" for n, ls in lines.items() if len(ls) > 1]
    assert not shadowed, "shadowed test definitions (only the last runs):\n" + "\n".join(shadowed)
