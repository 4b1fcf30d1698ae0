"""Every script in tools/ and bench.py compiles, and none hard-codes its
import root: a literal path passed to sys.path.insert makes a run from
another checkout import (and measure) that path's engine instead."""

from __future__ import annotations

import ast
import py_compile
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]


def _literal_path_inserts(tree: ast.AST) -> list[int]:
    """Line numbers of sys.path.insert calls given a string literal."""
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and ast.unparse(node.func) == "sys.path.insert"
            and any(
                isinstance(a, ast.JoinedStr)
                or (isinstance(a, ast.Constant) and isinstance(a.value, str))
                for a in node.args
            )
        ):
            lines.append(node.lineno)
    return lines


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.relative_to(ROOT).as_posix())
def test_script_compiles_without_literal_sys_path(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"), doraise=True)
    assert _literal_path_inserts(ast.parse(path.read_text())) == []


def test_literal_sys_path_insert_is_caught():
    tree = ast.parse('import sys\nsys.path.insert(0, "/somewhere/repo")\n')
    assert _literal_path_inserts(tree) == [2]
