"""Guard against dead code: every top-level function and class under
``filda_spark/`` must be referenced by name somewhere else in the repo's
``.py`` files. Registry ops (``@register``) are reached through the
registry, not by name, and are exempt."""

import ast
import collections
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _py_files():
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if not any(part.startswith(".") or part == "__pycache__" for part in rel):
            yield p


def _is_registered(node) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def test_no_unreferenced_top_level_definitions():
    words = collections.Counter()
    for p in _py_files():
        words.update(re.findall(r"\w+", p.read_text()))
    dead = []
    for p in sorted((ROOT / "filda_spark").rglob("*.py")):
        for node in ast.parse(p.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not _is_registered(node)
                and words[node.name] <= 1  # only its own definition
            ):
                dead.append(f"{p.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
