"""Dead-code tripwire: every top-level def or class of the package must
be named somewhere in the repository's ``.py`` files outside its own
``def``/``class`` line (a caller, an import, a test, a registry
entry). Pure source scan; no Spark session."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "genetics_spark_coloc_spark"

# name -> why it stays with no .py reference
ALLOWED_UNREFERENCED = {
    "load_all": "interactive entry point (every bundled table in one "
    "call), documented in the repository's run notes",
}


def _repo_py_files() -> list[Path]:
    """Every .py file outside hidden directories, except this one (its
    allowlist must not count as a reference)."""
    return [
        p
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        and p.resolve() != Path(__file__).resolve()
    ]


def test_no_unreferenced_top_level_defs():
    words: Counter = Counter()
    definitions: Counter = Counter()
    for path in _repo_py_files():
        text = path.read_text(encoding="utf-8")
        words.update(re.findall(r"\w+", text))
        definitions.update(re.findall(r"\b(?:def|class)\s+(\w+)", text))
    top_level = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        top_level += [
            (path.relative_to(REPO).as_posix(), node.name)
            for node in tree.body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
        ]
    names = {name for _, name in top_level}
    assert set(ALLOWED_UNREFERENCED) <= names, "stale allowlist entry"
    dead = sorted(
        f"{module}::{name}"
        for module, name in top_level
        if words[name] == definitions[name] and name not in ALLOWED_UNREFERENCED
    )
    assert not dead, (
        f"top-level defs named by no .py file outside their own def: {dead} "
        "— call them from a step, query or test, or delete them"
    )
