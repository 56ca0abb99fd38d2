"""One implementation per operator: no top-level function name is
defined in two modules of the engine package. Two copies of one
operator drift apart (different parameters, different semantics) and
callers silently pick whichever they happen to import. Pure ``ast``
scan — no Spark session."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "team_02_spark"


def test_no_top_level_function_defined_twice():
    where: dict[str, list[str]] = defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                where[node.name].append(str(path.relative_to(PKG)))
    dupes = {name: mods for name, mods in where.items() if len(mods) > 1}
    assert not dupes, f"defined in more than one module: {dupes}"
