"""The scripts under ``scripts/`` import, and write into, the checkout
they are run from: an A/B runs one tree's copy beside another's, so a
script that names one fixed checkout measures or rewrites the wrong
tree without a warning."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _literals(node: ast.AST) -> list[str]:
    return [n.value for n in ast.walk(node)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)]


def test_scripts_resolve_the_checkout_from_their_own_file():
    """No ``sys.path.insert`` takes a string literal (derive the root
    from ``__file__``), and no absolute literal names a path inside a
    checkout (an entry of the repo root such as ``PLAN_AUDIT.md`` or
    ``plans``)."""
    entries = set(os.listdir(ROOT))
    bad = []
    for path in sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        name = os.path.basename(path)
        for call in ast.walk(tree):
            if (isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "insert"
                    and ast.unparse(call.func.value) == "sys.path"
                    and any(isinstance(a, ast.Constant)
                            and isinstance(a.value, str)
                            for a in call.args)):
                bad.append(f"{name}:{call.lineno} {ast.unparse(call)}")
        for s in _literals(tree):
            if s.startswith("/") and entries & set(s.split("/")):
                bad.append(f"{name}: {s!r}")
    assert not bad, bad
