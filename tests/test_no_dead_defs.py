"""No dead helpers: every top-level function or class of the package must be
referenced by name somewhere in the repo's Python outside its own definition
(a call, an import, a docstring or comment naming it for its callers).
Public entry points with no in-repo caller go in ALLOWLIST with a reason."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "bravewebcrawler_spark"
ALLOWLIST: dict[str, str] = {}


def _repo_py_files() -> list[Path]:
    return [
        p for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]


def test_every_package_def_is_referenced():
    words = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
    uses: dict[str, int] = {}
    lines_of: dict[Path, list[str]] = {}
    for p in _repo_py_files():
        lines_of[p] = p.read_text(encoding="utf-8").splitlines()
        for w in words.findall("\n".join(lines_of[p])):
            uses[w] = uses.get(w, 0) + 1
    dead = []
    for p in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse("\n".join(lines_of[p]), str(p)).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            # mentions inside the definition itself (the def line, its own
            # docstring, recursion) do not count
            own = lines_of[p][node.lineno - 1 : node.end_lineno]
            inside = sum(1 for w in words.findall("\n".join(own)) if w == node.name)
            if uses.get(node.name, 0) == inside and node.name not in ALLOWLIST:
                dead.append(f"{p.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "defined but referenced nowhere:\n" + "\n".join(dead)
