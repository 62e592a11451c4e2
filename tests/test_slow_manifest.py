"""Every line of ``tests/slow_manifest.txt`` names a test that exists.

``conftest.py`` marks a test slow when its node id is listed and silently
ignores a line that matches nothing, so a renamed or deleted test would
leave a dead line behind (and its replacement would run unmarked).
"""

from __future__ import annotations

import ast
import os

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _test_ids(path: str) -> set[str]:
    """``name`` for each module-level test function and ``Class::name``
    for each test method of a module-level test class."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    ids = set()
    for node in tree.body:
        if isinstance(node, funcs) and node.name.startswith("test"):
            ids.add(node.name)
        elif isinstance(node, ast.ClassDef) and node.name.startswith("Test"):
            ids.update(
                f"{node.name}::{sub.name}"
                for sub in node.body
                if isinstance(sub, funcs) and sub.name.startswith("test")
            )
    return ids


def test_every_manifest_entry_names_an_existing_test():
    with open(os.path.join(_TESTS_DIR, "slow_manifest.txt")) as fh:
        entries = [ln.strip() for ln in fh if ln.strip()]
    assert entries
    known: dict[str, set[str]] = {}
    dead = []
    for entry in entries:
        # parametrize suffixes ("test_x[case]") name the same function
        path, _, name = entry.split("[", 1)[0].partition("::")
        if path not in known:
            full = os.path.join(_TESTS_DIR, path)
            known[path] = _test_ids(full) if os.path.isfile(full) else set()
        if name not in known[path]:
            dead.append(entry)
    assert not dead, f"slow_manifest.txt names no such test: {dead}"
